package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** `graft.operators.Dedup` (exact, shingle, MinHash, SimHash, winnowing and
  * substring families, the signature store), `SpanDedup`, `PairEval`, and the
  * expressions behind them: WinnowSelect, CommonExtend, MinhashSigs. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"), // exact dup of 1
      (3L, "a b c d x"), // near dup of 1/2 (shingle jaccard 0.5)
      (4L, "z q r s t")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical content, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", Seq("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("incremental dedup flags batch rows whose content exists in the corpus") {
    import spark.implicits._
    val existing = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val batch = Seq((10L, "aa"), (11L, "cc"), (12L, "bb"), (13L, "dd"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, existing, "doc_id", Seq("text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(out.toSeq == Seq((10L, true), (11L, false), (12L, true), (13L, false)))
  }

  test("3-gram shingles") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
      .where(col("id") === 1).collect().map(_.getString(1)).toSet
    assert(sh == Set("a b c", "b c d", "c d e"))
  }

  test("ngram jaccard finds exact (J=1.0) and near (J=0.5) pairs") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0), (1L, 3L, 0.5), (2L, 3L, 0.5)))
  }

  test("ngram jaccard maxDocFreq drops hot shingles from pairing") {
    // 'a b c' and 'b c d' appear in 3 docs; cap 2 removes them so the
    // (1,3) intersection drops to 0 and only the exact pair survives.
    val pairs = Dedup.ngramJaccard(
      docs, "doc_id", "text", 3, threshold = 0.1, maxDocFreq = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("minhash LSH: candidates verified with exact jaccard, exact dups always found") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    // whatever LSH surfaces must be a subset of the exact pairwise result
    val exact = Set((1L, 2L, 1.0), (1L, 3L, 0.5), (2L, 3L, 0.5))
    assert(pairs.toSet.subsetOf(exact))
  }

  test("contamination flags train docs overlapping the benchmark, not unrelated ones") {
    import spark.implicits._
    val train = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // contains bench 1
      (11L, "completely unrelated words about engines and turbines"),
      (12L, "quick brown fox jumps high")) // 2 shared shingles with bench 1
      .toDF("doc_id", "text")
    val bench = Seq((1L, "quick brown fox jumps over")).toDF("doc_id", "text")
    val flagged = Dedup.contamination(train, bench, "doc_id", "text", n = 3, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(flagged.toSeq == Seq((10L, 1L, 3L)))
    // lower threshold also surfaces the partial overlap
    val loose = Dedup.contamination(train, bench, "doc_id", "text", n = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((10L, 1L), (12L, 1L)))
  }

  test("exact dedup keeps NULL keys distinct from empty string and per position") {
    import spark.implicits._
    val rows = Seq(
      (1L, Option("a"), Option.empty[String]),
      (2L, Option.empty[String], Option("a")), // ("a", null) != (null, "a")
      (3L, Option.empty[String], Option.empty[String]),
      (4L, Option(""), Option("")), // (null, null) != ("", "")
      (5L, Option("a"), Option.empty[String]) // dup of 1
    ).toDF("doc_id", "k1", "k2")
    val out = Dedup.exact(rows, "doc_id", Seq("k1", "k2"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("hot-band cap bounds candidates on a corpus of identical docs") {
    import spark.implicits._
    val clones = (1L to 40L).map(i => (i, "a b c d e f g h")).toDF("doc_id", "text")
    // every doc lands in the same bucket for every band: the cap drops the
    // hot buckets, so the candidate join generates zero pairs instead of
    // 40*39/2 per band — the guarded behavior at scale
    val capped = Dedup.minhashLsh(
      clones, "doc_id", "text", 3, threshold = 0.5, maxBandFreq = Some(10))
    assert(capped.count() == 0L)
    val cappedSim = Dedup.simhashPairs(
      clones, "doc_id", "text", maxHamming = 3, maxBlockFreq = Some(10))
    assert(cappedSim.count() == 0L)
    // with the cap off the full quadratic pair set comes back
    val uncapped = Dedup.minhashLsh(
      clones, "doc_id", "text", 3, threshold = 0.5, maxBandFreq = None)
    assert(uncapped.count() == 40L * 39 / 2)
  }

  test("simhash: identical docs at hamming 0; near dups close") {
    val sig = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sig(1L) == sig(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }
}

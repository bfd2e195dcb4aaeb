package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus = {
    import spark.implicits._
    (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
  }

  test("deterministic sample: stable, rate-accurate, nested across rates") {
    import graft.operators.Sampling
    val s5 = Sampling.deterministicSample(corpus, "doc_id", 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s20 = Sampling.deterministicSample(corpus, "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // re-run is identical (pure function of the key)
    val s5again = Sampling.deterministicSample(corpus, "doc_id", 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s5 == s5again)
    // nested: a smaller rate is a strict subset of a larger one
    assert(s5.subsetOf(s20))
    // rate lands near the target (hash uniformity)
    assert(math.abs(s5.size - 100) < 40, s"5% of 2000 gave ${s5.size}")
    assert(math.abs(s20.size - 400) < 80, s"20% of 2000 gave ${s20.size}")
  }


  test("stratified sample caps each stratum, picks the same docs regardless of partitioning") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (0L until 200L).map(i => (i, "x" * (if (i % 2 == 0) 50 else 150))).toDF("doc_id", "text")
    val strata = expr("length(text) div 100").cast("long")
    val a = Sampling.stratifiedSample(docs, "doc_id", strata, perStratum = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(docs.repartition(7), "doc_id", strata, perStratum = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 10)            // 5 from each of the two strata
    assert(a.count(_ % 2 == 0) == 5 && a.count(_ % 2 == 1) == 5)
  }

  test("stratified hash prefilter is exact when every stratum keeps enough rows") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (0L until 500L).map(i => (i, "y" * (i % 3).toInt)).toDF("doc_id", "text")
    val strata = expr("length(text)").cast("long")
    val exact = Sampling.stratifiedSample(docs, "doc_id", strata, perStratum = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // bound 5000 keeps ~half of each ~167-row stratum - far more than 3
    val pre = Sampling.stratifiedSample(docs, "doc_id", strata, perStratum = 3,
      hashPrefilter = Some(5000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pre == exact)
  }

  test("hash split: exhaustive, disjoint, and stable when the corpus grows") {
    import graft.operators.Sampling
    val splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)
    val all = Sampling.hashSplit(corpus, "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all.size == 2000) // exactly one label per row
    val frac = all.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(frac("train") - 1800) < 60, s"train ${frac("train")}")
    // a document's split never changes when more data arrives
    val half = Sampling.hashSplit(corpus.where(col("doc_id") <= 1000), "doc_id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    half.foreach { case (id, s) => assert(all(id) == s, s"doc $id moved split") }
    // fractions must sum to 1 and be non-negative
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(corpus, "doc_id", Seq("a" -> 0.5))
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(corpus, "doc_id", Seq("a" -> 1.1, "b" -> -0.1))
    }
    // equal thirds are legitimate: cumulative bounds avoid the per-split
    // rounding trap (3333+3333+3333 != 10000)
    val thirds = Sampling.hashSplit(
      corpus, "doc_id", Seq("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(thirds.keySet == Set("a", "b", "c"))
    assert(thirds.values.sum == 2000L)
  }

  test("NULL keys: null split label, excluded from samples (consistent, documented)") {
    import graft.operators.Sampling
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    val labeled = Sampling.hashSplit(df, "doc_id", Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => (r.get(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(labeled.count(_._2 != null) == 2)
    assert(labeled.find(_._1 == null).exists(_._2 == null)) // no silent 'test'
    // deterministicSample drops NULL keys for the same reason
    assert(Sampling.deterministicSample(df, "doc_id", 1.0).count() == 2)
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def emb = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.01f)),
      (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k ranks by cosine with id tie-break") {
    val out = Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") === 1, k = 3)
      .orderBy(desc("cos"), asc("neighbor_id")).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 2L))
    assert(out(0)._2 == 1.0)
    assert(math.abs(out(1)._2 - 1.0 / math.sqrt(1.0 + 0.0001)) < 1e-4)
    assert(out(2)._2 == 0.0)
  }

  test("lsh top-k returns a subset of brute-force candidates with identical scores") {
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") === 1, k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(
      emb, "vec_id", "embedding", col("vec_id") === 1, k = 4, bands = 8, bitsPerBand = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, c) => assert(brute(id) == c) }
    // the query collides with itself, so it must be among its own results
    assert(lsh.exists(_._1 == 1L))
  }

  test("bucketed near-dup pairs equal the exact brute-force review list") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val corpus = (1 to 120).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val brute = Similarity.cosineNearDupPairsBrute(corpus, "vec_id", "embedding", top = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val bucketed = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", top = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(bucketed == brute)
  }

  test("hot-bucket cap bounds candidate generation on a degenerate duplicate cluster") {
    import spark.implicits._
    val corpus = (1 to 20).map(i => (i.toLong, Array(0.6f, -0.2f, 0.8f, 0.1f)))
      .toDF("vec_id", "embedding")
    // uncapped: the identical vectors collide in every band -> all C(20,2) pairs
    val uncapped = Similarity.cosineNearDupPairs(
      corpus, "vec_id", "embedding", top = 500, maxBucketFreq = None).count()
    assert(uncapped == 190)
    // capped below the cluster size: every band bucket holds all 20 docs and is
    // dropped BEFORE the self-join, so no candidates materialize — the cluster
    // is dedupClusters/bestRepresentative work, not pairwise enumeration
    val capped = Similarity.cosineNearDupPairs(
      corpus, "vec_id", "embedding", top = 500, maxBucketFreq = Some(5)).count()
    assert(capped == 0)
  }

  test("native band keys agree with the column-expression lshBucket") {
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    val df = Seq((1L, Array(0.3f, -0.7f, 0.2f, 0.9f))).toDF("id", "v")
    val hp = Similarity.hyperplanes(8, 4)
    val fromExpr = df.select(Similarity.lshBucket(col("v"), hp)).head().getLong(0)
    // band 0 of a single-band call covers the same plane indices 0..7
    val fromNative = df.select(
      graft.functions.VectorOps.vectorLshBands(col("v"), 1, 8)).head()
      .getSeq[Long](0).head
    assert(fromNative == fromExpr) // band 0 tag is 0 << 8
  }

  test("hyperplanes are deterministic") {
    assert(Similarity.hyperplanes(4, 8).toSeq.map(_.toSeq) ==
      Similarity.hyperplanes(4, 8).toSeq.map(_.toSeq))
  }

  test("codegen VectorDot is bit-identical to the higher-order-function fold") {
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    val rng = new scala.util.Random(7)
    val df = (1 to 50).map(i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1)))
      .toDF("id", "a", "b")
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("hof"),
      graft.functions.VectorOps.vectorDot(col("a"), col("b")).as("native"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }
}

class ClusteringSpec extends AnyFunSuite {
  import graft.operators.Clustering
  private lazy val spark = TestSpark.spark

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Clustering.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph collapses to one component (multi-round convergence)") {
    // a 9-node path needs several large/small-star rounds; every node must
    // end labeled with the path's minimum
    val edges = (0L until 8L).map(i => (i, i + 1))
    assert(cc(edges) == (0L to 8L).map(_ -> 0L).toMap)
  }

  test("disjoint components get their own min labels; duplicate and reversed edges collapse") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 9L), (20L, 30L), (30L, 20L), (7L, 7L))
    // (7,7) is a self-loop: dropped entirely (singleton, not incident to a real edge)
    assert(cc(edges) ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 30L -> 20L))
  }

  test("random graphs match a driver-side union-find") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(60)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val expected = parent.keys.map(k => k -> {
        val root = find(k)
        parent.keys.filter(find(_) == root).min
      }).toMap
      assert(cc(edges) == expected, s"trial $trial")
    }
  }

  test("dupPagerank: 20 iterations run with internal checkpoints; ranks sum to 1") {
    import spark.implicits._
    val a = "one two three four five six seven eight"
    val b = "three four five six seven eight nine ten"
    val c = "six seven eight nine ten eleven twelve thirteen"
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, a + " nine")).toDF("doc_id", "text")
    val ranks = Clustering.dupPagerank(docs, "doc_id", "text", threshold = 0.3, iterations = 20)
      .collect().map(_.getAs[Double]("rank"))
    assert(ranks.length == 4)
    assert(math.abs(ranks.sum - 1.0) < 1e-9, ranks.toSeq)
  }

  test("dedupClusters assigns transitive near-dup groups a canonical min doc") {
    import spark.implicits._
    // pairwise output: (1,2) J=1.0 and (1,3),(2,3) J=0.5 — one cluster {1,2,3}
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d x"), (4L, "z q r s t")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, threshold = 0.5)
    val out = Clustering.dedupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}

class SearchSpec extends AnyFunSuite {
  import graft.operators.Search
  private lazy val spark = TestSpark.spark

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark spark spark runs fast"),
      (2L, "spark runs on a cluster"),
      (3L, "ducks swim on water today"),
      (4L, "merge spark results quickly now")
    ).toDF("doc_id", "text")
  }

  test("bm25: higher tf ranks higher; non-matching docs score 0 and rank last by id") {
    val out = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark"), k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 3L))
    assert(out(0)._2 > out(1)._2 && out(1)._2 == out(2)._2)
    assert(out(3)._2 == 0.0)
  }

  test("bm25: a rarer term outscores a common one at equal tf") {
    // "merge" appears in 1 doc, "spark" in 3 -> doc 4 gets more from merge
    val out = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "merge"), k = 1)
      .collect().map(_.getLong(0))
    assert(out.head == 4L)
  }

  test("bm25: k truncates deterministically") {
    val out = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark"), k = 2)
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L))
  }
}

class PackingSpec extends AnyFunSuite {
  import graft.operators.Packing
  private lazy val spark = TestSpark.spark

  test("packing: exact prefix sums and pack boundaries on a hand example") {
    import spark.implicits._
    val df = Seq((1L, 400L), (2L, 400L), (3L, 400L), (4L, 900L), (5L, 100L))
      .toDF("doc_id", "n_tokens")
    val out = Packing.packSequences(df, "doc_id", "n_tokens", budget = 1000)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // cum_before: 0, 400, 800, 1200, 2100 -> packs 0,0,0,1,2
    assert(out.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 400L), (3L, 0L, 800L),
      (4L, 1L, 1200L), (5L, 2L, 2100L)))
  }

  test("packing result is independent of the partition count") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = (1L to 500L).map(i => (i, 1L + rng.nextInt(300).toLong))
      .toDF("doc_id", "n_tokens")
    def run(p: Int) = Packing.packSequences(
      df, "doc_id", "n_tokens", budget = 777, numPartitions = Some(p))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    val one = run(1)
    assert(run(7) == one && run(32) == one)
    // exclusive prefix: last cum_before + its tokens = grand total
    assert(one.last._2 >= 0)
  }
}

class LangModelSpec extends AnyFunSuite {
  import graft.operators.LangModel
  private lazy val spark = TestSpark.spark

  test("unigram score: hand-computed log-probs; common-token docs score better") {
    import spark.implicits._
    // corpus: "a" x3, "b" x1 -> p(a)=3/4, p(b)=1/4
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = LangModel.unigramScore(docs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val lnA = math.log(3.0 / 4.0)
    val lnB = math.log(1.0 / 4.0)
    assert(out(0)._2 == 2L && math.abs(out(0)._3 - lnA) < 1e-6)
    assert(math.abs(out(1)._3 - (lnA + lnB) / 2) < 1e-6)
    // the all-common-token doc has lower perplexity
    assert(out(0)._4 < out(1)._4)
    assert(math.abs(out(0)._4 - math.exp(-lnA)) < 1e-5)
  }

  test("unigram score is partitioning-independent (quantized sum)") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val docs = (1L to 100L)
      .map(i => (i, Seq.fill(20)("w" + rng.nextInt(30)).mkString(" ")))
      .toDF("doc_id", "text")
    val a = LangModel.unigramScore(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val b = LangModel.unigramScore(docs.repartition(13), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(a == b)
  }
}

class ChecksSpec extends AnyFunSuite {
  import graft.profiler.{Checks, Constraint}
  private lazy val spark = TestSpark.spark

  test("constraint suite: pass, fail, and unknown statuses") {
    import spark.implicits._
    val metrics = Seq(
      ("*", "Size", 100.0),
      ("a", "Completeness", 0.9)
    ).toDF("instance", "name", "value")
    val out = Checks.evaluate(spark, metrics, Seq(
      Constraint("k1", "*", "Size", ">=", 50.0),
      Constraint("k2", "a", "Completeness", ">=", 0.95),
      Constraint("k3", "a", "Completeness", "<=", 0.95),
      Constraint("k4", "b", "Completeness", ">=", 0.5)))
      .orderBy("check_name").collect()
      .map(r => (r.getString(0), r.getString(6)))
    assert(out.toSeq == Seq(
      ("k1", "pass"), ("k2", "fail"), ("k3", "pass"), ("k4", "unknown")))
  }

  test("constraint suite rejects unsupported operators") {
    import spark.implicits._
    val metrics = Seq(("*", "Size", 1.0)).toDF("instance", "name", "value")
    intercept[IllegalArgumentException] {
      Checks.evaluate(spark, metrics, Seq(Constraint("k", "*", "Size", "==", 1.0)))
    }
  }
}

class DriftSpec extends AnyFunSuite {
  import graft.profiler.Checks
  private lazy val spark = TestSpark.spark

  test("drift: stable, drifting, and incomparable metrics") {
    import spark.implicits._
    val a = Seq(("x", "Mean", 10.0), ("x", "Sum", 0.0), ("y", "Mean", 100.0))
      .toDF("instance", "name", "value")
    val b = Seq(("x", "Mean", 10.2), ("x", "Sum", 5.0), ("y", "Mean", 101.0))
      .toDF("instance", "name", "value")
    val out = Checks.drift(a, b, relTol = 0.05)
      .orderBy("instance", "name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(6)))
    // x.Mean +2% stable, x.Sum baseline 0 incomparable, y.Mean +1% stable
    assert(out.toSeq == Seq(
      ("x", "Mean", "stable"), ("x", "Sum", "incomparable"), ("y", "Mean", "stable")))
    val drifted = Checks.drift(a, b, relTol = 0.01)
      .orderBy("instance", "name").collect().map(_.getString(6))
    assert(drifted.toSeq == Seq("drift", "incomparable", "stable"))
  }
}

class TfidfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("tfidf keywords: corpus-wide terms weigh zero, rare terms rank first") {
    import spark.implicits._
    // "common" in all docs -> idf 0 -> never a keyword; "rare" only in doc 1
    val docs = Seq(
      (1L, "common rare rare other"),
      (2L, "common other thing"),
      (3L, "common thing thing stuff")
    ).toDF("doc_id", "text")
    val out = graft.operators.Search.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq("rare", "other"))
    // doc 3: "thing" (tf=2, df=2) beats "stuff" (tf=1, df=1)? ln(3/1)=1.1 vs 2*ln(3/2)=0.81
    assert(out.filter(_._1 == 3L).map(_._2).toSeq == Seq("stuff", "thing"))
  }
}

class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("nearest centroid: assigns by max cosine with smaller-id tie-break; zero vectors dropped") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f)),   // centroid A (id 0)
      (2L, Array(0f, 1f)),   // centroid B (id 2)
      (5L, Array(2f, 0.1f)), // -> A
      (6L, Array(0.1f, 3f)), // -> B
      (7L, Array(1f, 1f)),   // equidistant -> tie-break to id 0
      (8L, Array(0f, 0f))    // zero norm -> dropped
    ).toDF("vec_id", "embedding")
    val out = Similarity.nearestCentroid(
      vecs, "vec_id", "embedding", col("vec_id").isin(0L, 2L))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 0L), (2L, 2L), (5L, 0L), (6L, 2L), (7L, 0L)))
  }
}

class AsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("as-of: strictly-prior source value per key, null before the first source row") {
    import spark.implicits._
    val e = Seq(
      (1L, 10L, "view", 1.0), (1L, 20L, "buy", 9.0), (1L, 30L, "view", 2.0),
      (1L, 40L, "buy", 9.0), (1L, 30L + 0L, "noise", 0.0),
      (2L, 5L, "buy", 9.0) // no prior view for user 2
    ).toDF("user_id", "ts", "type", "value")
    val out = graft.operators.AsOf.lastPrior(
      e, "user_id", "ts", col("type") === "view", Seq("value" -> "lv"))
      .where(col("type") === "buy")
      .orderBy("user_id", "ts")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(4)) null else r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 1.0), (1L, 2.0), (2L, null)))
  }

  test("as-of: tie-break column pins the order among equal timestamps") {
    import spark.implicits._
    // two views at the SAME timestamp: without a tie-break the window order
    // among them is partition-dependent; with id tie-break the later id wins
    val e = Seq(
      (7L, 1L, 10L, "view", 1.0), (7L, 2L, 10L, "view", 2.0),
      (7L, 3L, 20L, "buy", 9.0)
    ).toDF("user_id", "id", "ts", "type", "value")
    (1 to 3).foreach { p =>
      val out = graft.operators.AsOf.lastPrior(
        e.repartition(p), "user_id", "ts", col("type") === "view",
        Seq("value" -> "lv"), tieBreak = Seq("id"))
        .where(col("type") === "buy").head()
      assert(out.getDouble(5) == 2.0, s"partitions=$p")
    }
  }
}

class CorrelationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("correlation: perfect linear, anti-linear, degenerate, and pairwise-null handling") {
    import spark.implicits._
    val df = Seq(
      (1.0, 2.0, 5.0, Some(1.0)),
      (2.0, 4.0, 5.0, Some(2.0)),
      (3.0, 6.0, 5.0, None),
      (4.0, 8.0, 5.0, Some(0.5))
    ).toDF("x", "y2", "const", "opt")
    val out = graft.profiler.Correlation.matrix(df, Seq("x", "y2", "const", "opt"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(out(("x", "y2")) == ((4L, 1.0)))           // y = 2x exactly
    assert(out(("x", "const"))._2 == null)            // zero variance -> null
    assert(out(("x", "opt"))._1 == 3L)                // pairwise-complete n
    // x vs opt over rows (1,1),(2,2),(4,0.5): corr computable and in [-1,1]
    val c = out(("x", "opt"))._2.asInstanceOf[Double]
    assert(c > -1.0 && c < 1.0)
  }

  test("correlation: out-of-range value nulls the affected pairs, not the job (ANSI guard)") {
    import spark.implicits._
    val df = Seq(
      (1.0, 2.0, 3.0),
      (2.0, 4.0, 1e18), // |z| beyond the 1e15 decimal guard
      (3.0, 6.0, 5.0)
    ).toDF("x", "y", "z")
    val out = graft.profiler.Correlation.matrix(df, Seq("x", "y", "z"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out(("x", "y")) == 1.0)    // unaffected pair still exact
    assert(out(("x", "z")) == null)   // pairs touching z degrade to null
    assert(out(("y", "z")) == null)
  }

  test("correlation is partitioning-independent (decimal-quantized moments)") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val df = (1 to 2000).map(_ => (rng.nextDouble() * 100, rng.nextDouble() * 100))
      .toDF("a", "b")
    val one = graft.profiler.Correlation.matrix(df.coalesce(1), Seq("a", "b"))
      .head().getDouble(3)
    val many = graft.profiler.Correlation.matrix(df.repartition(17), Seq("a", "b"))
      .head().getDouble(3)
    assert(one == many)
  }
}

class NumericHistogramSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("equi-width: exact bucket counts, max closes into last bucket, nulls dropped") {
    import spark.implicits._
    val df = Seq(Some(0.0), Some(2.5), Some(5.0), Some(7.5), Some(10.0), None)
      .toDF("v")
    val out = graft.profiler.NumericHistogram.equiWidth(df, "v", 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // width 2.5: [0,2.5)->1, [2.5,5)->1, [5,7.5)->1, [7.5,10]->2 (10.0 closed in)
    assert(out.toSeq == Seq(
      (0L, 0.0, 2.5, 1L), (1L, 2.5, 5.0, 1L), (2L, 5.0, 7.5, 1L), (3L, 7.5, 10.0, 2L)))
  }

  test("constant column degenerates to one bucket, no ANSI division error") {
    import spark.implicits._
    val df = Seq(5.0, 5.0, 5.0).toDF("v")
    val out = graft.profiler.NumericHistogram.equiWidth(df, "v", 10)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 3L)))
  }
}

class SchemaDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("schema drift: added, removed, retyped, same") {
    import spark.implicits._
    val a = Seq(("x", "int"), ("y", "string"), ("z", "double")).toDF("instance", "type")
    val b = Seq(("x", "bigint"), ("y", "string"), ("w", "boolean")).toDF("instance", "type")
    val out = graft.profiler.Checks.schemaDrift(a, b)
      .orderBy("instance").collect()
      .map(r => (r.getString(0), r.getString(3)))
    assert(out.toSeq == Seq(
      ("w", "added"), ("x", "retyped"), ("y", "same"), ("z", "removed")))
  }
}

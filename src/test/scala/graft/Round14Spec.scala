package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.TestSpark.{sf001Dir, testdata}
import graft.operators.Dedup
import graft.profiler.{ProfilerConfig, Runner, TableCatalog}

/** Round-14 pins: tableParallelism under a wide catalog (VERDICT r13
  * task 8), StateStore.compact crash-safety (ADVICE r13), and the
  * Scratch nonce contract (ADVICE r13). */
class Round14Spec extends SparkSuite {
  /** 64 small in-memory tables — wide-catalog shape without file I/O, so
    * the spec measures orchestration (scheduler round-trips), which is
    * exactly what tableParallelism exists to overlap. */
  private def wideCatalog(s: SparkSession, nTables: Int): TableCatalog =
    new TableCatalog {
      override def name: String = s"synthetic_$nTables"
      override def listTables: Seq[String] =
        (0 until nTables).map(i => f"t$i%03d")
      override def load(table: String): DataFrame = {
        val i = table.stripPrefix("t").toInt
        import s.implicits._
        (1 to 50).map(r => (r.toLong * (i + 1), s"v${(r + i) % 7}"))
          .toDF("x", "s")
      }
    }

  test("profileAllTables: 64-table catalog, parallel ≡ sequential and faster") {
    val cat = wideCatalog(spark, 64)
    val fams = Set("size", "completeness", "mean")
    def run(par: Int): (Seq[String], Double) = {
      val t0 = System.nanoTime()
      val df = Runner.profileAllTables(
        spark, cat, ProfilerConfig(), fams, tableParallelism = par)
      val rows = df.collect().map(_.toString).sorted.toSeq
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    run(1) // warm the profile codepath once, outside both timings
    val (seqRows, seqSec) = run(1)
    val (parRows, parSec) = run(8)
    // identical metric output — parallel submission must not change one row
    assert(parRows == seqRows)
    assert(seqRows.size >= 64 * fams.size)
    info(f"64 tables: sequential $seqSec%.2f s, parallelism=8 $parSec%.2f s " +
      f"(${seqSec / parSec}%.1fx)")
    // wall-clock must actually scale: 8-way submission over 64 independent
    // ~50-row jobs overlaps scheduler+planning latency; anything under a
    // 1.15x win means the lever is broken (typical local[4] win is 3-5x)
    assert(parSec < seqSec / 1.15,
      f"tableParallelism gave no speedup: seq $seqSec%.2f s vs par $parSec%.2f s")
  }

  test("StateStore.compact survives a stale __old leftover and keeps semantics") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_spec")
    val path = s"$dir/store"
    val docs = (1L to 40L).map(i =>
      (i, s"content ${i % 10} shared tail of words")).toDF("id", "text")
    val state = Dedup.dedupState(docs, "id", "text")
    Dedup.StateStore.write(state, path)
    // plant a stale __old (prior crash leftover) with DIFFERENT content —
    // compact must clear it, not resurrect it
    val stale = Dedup.dedupState(
      Seq((999L, "stale")).toDF("id", "text"), "id", "text")
    stale.write.parquet(s"${path}__old")
    val before = Dedup.StateStore.rows(spark, path)
    val n = Dedup.StateStore.compact(spark, path)
    assert(n > 0 && Dedup.StateStore.rows(spark, path).contains(n))
    // swap completed: no temp dirs remain, store readable, count sane
    assert(!new java.io.File(s"${path}__old").exists())
    assert(!new java.io.File(s"${path}__compacting").exists())
    val ids = Dedup.StateStore.read(spark, path)
      .select("id").as[Long].collect().toSet
    assert(!ids.contains(999L), "stale __old content resurrected")
    assert(before.exists(_ >= n), "compaction must not grow the store")
  }

  test("Scratch: per-run nonce paths, dataset-scoped, JVM-stable") {
    val a = Scratch.dir("graft_spec_fam", s"$testdata/sf0.01")
    val b = Scratch.dir("graft_spec_fam", s"$testdata/sf0.1")
    val c = Scratch.dir("graft_spec_fam", s"$testdata/sf0.01")
    assert(a == c, "same family+dataset must reuse the same path in one JVM")
    assert(a != b, "different datasets must not share state")
    assert(a.startsWith("/tmp/graft_spec_fam/p"), a)
    // nonce carries the JVM start time → a recycled PID on a later run
    // cannot collide with this run's artifacts
    assert(a.contains("_t"), a)
  }

  /** VERDICT r13 task 4 prerequisite: the sf10 lane replicates at K=100
    * over dim-64 vectors, past the rotation group's 64 elements — copies
    * i and i+64 must NOT collapse onto identical vectors (they would
    * land cos=1.0 duplicates in every ANN/near-dup workload), and every
    * copy must stay a norm-preserving permutation of the original. */
  test("ScaleGen.replicateK: K > dim wraps with a distinct permutation per copy") {
    val s = spark
    import s.implicits._
    // dim 8, K = 20 → wrap generations w = 0, 1, 2 (strides 1, 3, 5);
    // distinctness comes from the (r, stride) affine pair, asserted
    // pairwise below
    val base = Array.tabulate(8)(j => (j * j + 1).toFloat)
    val vecs = Seq((0L, base)).toDF("vec_id", "embedding")
    val rep = graft.tools.ScaleGen
      .replicateK(vecs, 20, Map("vec_id" -> 1L), rotateVec = Some("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(rep.size == 20)
    // copy 0 is the original
    assert(rep(0L) == base.toVector)
    // every copy is a permutation (same value multiset, norm preserved)
    rep.values.foreach(v => assert(v.sorted == base.toVector.sorted))
    // all 20 copies pairwise distinct — the K > dim guarantee
    assert(rep.values.toSet.size == 20,
      s"copies collapsed: ${rep.toSeq.sortBy(_._1).mkString("; ")}")
  }

  test("c4Rules / c4FilterExecute: line-level keep predicate and page verdict") {
    val s = spark
    import s.implicits._
    val good = "this is a perfectly fine sentence with many words." // kept
    val short = "too short."                                         // < 5 words
    val noPunct = "this line has plenty of words but no terminal mark" // dropped
    val js = "please enable JavaScript to view this page."           // tell
    val docs = Seq(
      (1L, s"$good\n$short\n$noPunct\n$js\n$good\n$good"), // 3 kept, 3 sentences
      (2L, s"$good\n$good\nsome text with lorem ipsum inside.\n$good"),
      (3L, s"$good\nval x = { 1 }\n$good\n$good"),
      (4L, s"$good\n$good")                                 // only 2 sentences
    ).toDF("doc_id", "text")
    val r = graft.operators.CorpusStats.c4Rules(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(2) == 3L)                    // kept_lines
    assert(r(1L).getBoolean(9), "doc 1 must pass")    // keep
    assert(!r(2L).getBoolean(7), "lorem ipsum tell")  // no_lorem = false
    assert(!r(3L).getBoolean(8), "curly-brace tell")  // no_brace = false
    assert(!r(4L).getBoolean(6), "2 sentences < 3")   // ok_sentences
    val ex = graft.operators.CorpusStats
      .c4FilterExecute(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(ex.keySet == Set(1L), s"executor kept ${ex.keySet}")
    // the cleaned text is exactly the kept lines re-joined
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Seq(good, good, good).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(ex(1L).getString(2) == expected)
  }

  test("c4SynthPage: 12-token lines, %3 terminal schedule, %7 boilerplate row") {
    val s = spark
    import s.implicits._
    // doc_id 1: line 0 hits the %7 boilerplate slot, lines 1/2 get the
    // %3 schedule ('?' then '.'); 1 trips none of the %23/%29/%31 tells
    val toks = (1 to 30).map(i => s"w$i").mkString(" ")
    val page = Seq((1L, toks)).toDF("doc_id", "text")
      .select(graft.operators.CorpusStats
        .c4SynthPage(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")).as("p"))
      .head().getString(0)
    val lines = page.split("\n")
    assert(lines.length == 3, lines.mkString("|"))
    assert(lines(0) == "copyright footer all rights reserved worldwide.")
    assert(lines(1) == (13 to 24).map(i => s"w$i").mkString(" ") + "?")
    assert(lines(2) == (25 to 30).map(i => s"w$i").mkString(" ") + ".")
  }

  test("dupLineStats: MassiveText duplicate-line and duplicate-char fractions") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c\na b c\nx\na b c"), // 4 lines, 2 dups, 16 chars, 10 dup
      (2L, "one\ntwo\nthree")          // clean
    ).toDF("doc_id", "text")
    val r = graft.operators.CorpusStats.dupLineStats(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 4L && r(1L).getLong(2) == 2L)
    assert(r(1L).getLong(3) == 16L && r(1L).getLong(4) == 10L)
    assert(r(1L).getDouble(5) == 0.5 && r(1L).getDouble(6) == 0.625)
    assert(!r(1L).getBoolean(7) && !r(1L).getBoolean(8) && !r(1L).getBoolean(9))
    assert(r(2L).getLong(2) == 0L && r(2L).getBoolean(9))
  }

  test("forgettingEvents: flip counts bounded by the trajectory's correctness mass") {
    val s = spark
    import s.implicits._
    val docs = (1 to 60).map { i =>
      val filler =
        if (i % 3 == 0) "the and is of to in it you that was " * 12
        else "zxqj vwpk mntr abcd efgh " * (4 + i % 7)
      (i.toLong, filler.trim + (if (i % 2 == 0) "." else ""))
    }.toDF("doc_id", "text")
    val out = graft.operators.QualityModel
      .forgettingEvents(docs, "doc_id", "text").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (f, n, fin) = (r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(f >= 0L && f <= 5L && n >= 0L && n <= 6L)
      assert(f <= n, "every forgetting event needs a correct step before it")
      if (fin) assert(n >= 1L)
    }
  }

  test("semDedup from persisted index ≡ in-plan (verdicts and executor output)") {
    val s = spark
    import org.apache.spark.sql.functions.col
    val emb = s.read.parquet(s"$sf001Dir/embeddings.parquet")
      .localCheckpoint(true)
    val path = java.nio.file.Files
      .createTempDirectory("graft_semdedup_idx").toString
    graft.operators.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0, path)
    val idx = graft.operators.Similarity.readIvfIndex(s, path)
    def run(i: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]) =
      graft.operators.Similarity.semDedupExecute(
        emb, "vec_id", "embedding", col("vec_id") % 83 === 0,
        threshold = 0.35, index = i)
    val a = run(None)
    val b = run(Some(idx))
    assert(a.exceptAll(b).count() + b.exceptAll(a).count() == 0L,
      "artifact-served semdedup must be bit-identical to in-plan")
  }

  test("el2nSelect: hardest-first total order, scores in [0,1], rank contiguous") {
    val s = spark
    import s.implicits._
    val docs = (1 to 60).map { i =>
      val filler =
        if (i % 3 == 0) "the and is of to in it you that was " * 12
        else "zxqj vwpk mntr abcd efgh " * (4 + i % 7)
      (i.toLong, filler.trim + (if (i % 2 == 0) "." else ""))
    }.toDF("doc_id", "text")
    val out = graft.operators.QualityModel
      .el2nSelect(docs, "doc_id", "text", topK = 10).orderBy("rank").collect()
    assert(out.length == 10)
    val scores = out.map(_.getDouble(1))
    assert(scores.forall(v => v >= 0.0 && v <= 1.0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      s"not hardest-first: ${scores.mkString(",")}")
    assert(out.map(_.getLong(4)).toSeq == (1L to 10L))
  }

  test("round-14 plan audit: C4/dup-line are shuffle-free map-only; EL2N selects via physical top-k") {
    val s = spark
    import s.implicits._
    val docs = (1 to 40)
      .map(i => (i.toLong, ("alpha beta gamma delta epsilon " * (3 + i % 5)).trim))
      .toDF("doc_id", "text")
    // the whole C4/dup-line battery must stay inside the scan projection:
    // no exchange, no join, no explode-shuffle — the 100 TB contract
    for (df <- Seq(
        graft.operators.CorpusStats.c4Rules(docs, "doc_id", "text"),
        graft.operators.CorpusStats.c4FilterExecute(docs, "doc_id", "text"),
        graft.operators.CorpusStats.dupLineStats(docs, "doc_id", "text"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"expected a shuffle-free plan:\n$p")
      assert(!p.contains("Join"), s"expected a join-free plan:\n$p")
    }
    // EL2N selection must be TakeOrderedAndProject (per-partition heaps,
    // k rows per partition cross the network), never a global Sort+Limit
    val el2n = graft.operators.QualityModel
      .el2nSelect(docs, "doc_id", "text", topK = 5)
    val ep = el2n.queryExecution.executedPlan.toString
    assert(ep.contains("TakeOrderedAndProject"), s"\n$ep")
  }

  test("kcenterCoreset: Gonzalez trajectory on a hand-computable configuration") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.999f, 0.045f, 0f, 0f)), // near-duplicate of 1 — never picked
      (3L, Array(0f, 1f, 0f, 0f)),         // orthogonal to the seed
      (4L, Array(0.7f, 0.7f, 0f, 0f))      // between 1 and 3
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .kcenterCoreset(vecs, "vec_id", "embedding", k = 3)
      .orderBy("step").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 3L, 4L))
    assert(out(0).isNullAt(2), "seed has no prior set")
    assert(out(1).getDouble(2) == 0.0,  "3 is orthogonal to the seed")
    assert(math.abs(out(2).getDouble(2) - 0.707107) < 1e-6)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.{guardFires, sf001Dir}

/** Round-9 additions: WindowGuard coverage on the KS distinct-value
  * window, the DOUBLE-rendered join-cardinality estimate, and the
  * KLL-approximate MAD outlier screen. */
class Round9Spec extends SparkSuite {
  test("madOutliersApprox / iqrOutliersApprox: exact on sub-k data (KLL retains everything below k=200)") {
    import spark.implicits._
    // 1..100 plus two far outliers; n=102 < k, so sketch quantiles are
    // true order statistics and CDF lookups are exact counts
    val df = ((1 to 100).map(_.toDouble) ++ Seq(1e6, 1e6)).toDF("x")
    val m = graft.profiler.RobustStats.madOutliersApprox(df, Seq("x")).head()
    assert(m.getDouble(1) == 51.0)                     // median
    assert(m.getDouble(2) == 25.0)                     // MAD
    assert(m.getAs[Long]("n_below") == 0L)
    assert(m.getAs[Long]("n_above") == 2L)             // the two 1e6s
    val i = graft.profiler.RobustStats.iqrOutliersApprox(df, Seq("x")).head()
    assert(i.getDouble(1) == 26.0 && i.getDouble(2) == 77.0)  // q1, q3
    assert(i.getAs[Long]("n_below") == 0L)
    assert(i.getAs[Long]("n_above") == 2L)
    // all-null and all-NaN columns (the sketch skips both): null stats,
    // zero counts (mirrors the exact twins)
    val nulls = Seq.fill(5)(Option.empty[Double]).toDF("x")
    val nans = Seq.fill(50)(Double.NaN).toDF("x")
    for (empty <- Seq(nulls, nans)) {
      val nm = graft.profiler.RobustStats.madOutliersApprox(empty, Seq("x")).head()
      assert(nm.isNullAt(1) && nm.getAs[Long]("n_above") == 0L)
      val ni = graft.profiler.RobustStats.iqrOutliersApprox(empty, Seq("x")).head()
      assert(ni.isNullAt(1) && ni.getAs[Long]("n_below") == 0L)
    }
  }

  test("corpus_card: the one-row summary matches hand-computed facts on a tiny corpus") {
    val dir = sf001Dir
    val card = SparkEntry.queries("corpus_card")(spark, dir).head()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(card.getAs[Long]("n_docs") == docs.count())
    assert(card.getAs[Long]("n_langs") ==
      docs.select("lang").distinct().count())
    // declared-language mode matches a direct rollup
    val top = docs.groupBy("lang").count()
      .orderBy(col("count").desc, col("lang").asc).head()
    assert(card.getAs[String]("top_lang") == top.getString(0))
    assert(card.getAs[Double]("top_lang_share") ==
      math.rint(top.getLong(1).toDouble / docs.count() * 1e6) / 1e6)
    // share/dup-rate/quality are 6-dp doubles in [0, 1]
    for (c <- Seq("top_lang_share", "exact_dup_rate", "mean_quality")) {
      val v = card.getAs[Double](c)
      assert(v >= 0.0 && v <= 1.0, s"$c = $v")
    }
    assert(card.getAs[Double]("p50_tokens") > 0.0)
  }

  test("connected components: driver union-find and alternating-star agree on 25 random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    for (_ <- 1 to 25) {
      val nNodes = 2 + rng.nextInt(40)
      val nEdges = 1 + rng.nextInt(60)
      val edges = Seq.fill(nEdges)(
        (rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b")
        def run(threshold: Long) = graft.operators.Clustering
          .connectedComponents(df, "a", "b", localEdgeThreshold = threshold)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val local = run(1000000L)      // hybrid fast path
        val dist = run(0L)             // forced alternating-star
        assert(local == dist, s"paths disagree on $edges")
        // canonical labels: every component labeled by its min member
        val byComp = local.groupBy(_._2)
        for ((comp, members) <- byComp)
          assert(members.map(_._1).min == comp)
      }
    }
  }

  test("packFFD properties over 200 seeded random file sets") {
    val rng = new scala.util.Random(9)
    for (_ <- 1 to 200) {
      val target = 1L + rng.nextInt(1000)
      val files = Seq.tabulate(rng.nextInt(30)) { i =>
        (f"f$i%03d", 1L + rng.nextInt(1500)) }
      val plan = graft.sources.Compaction.packFFD(files, target)
      // coverage: every file exactly once, sizes preserved
      assert(plan.map(p => p._1 -> p._2).sorted == files.sorted)
      // keep iff >= target; compact bins never overfill
      for (p <- plan) {
        if (p._2 >= target) assert(p._3 == "keep")
        else assert(p._3 == "compact" && p._6 <= target)
      }
      // bin bookkeeping consistent: per bin, members and totals agree
      plan.filter(_._3 == "compact").groupBy(_._4).foreach {
        case (_, members) =>
          assert(members.map(_._5).distinct == Seq(members.size.toLong))
          assert(members.map(_._6).distinct ==
            Seq(members.map(_._2).sum))
      }
      // determinism
      assert(plan == graft.sources.Compaction.packFFD(files, target))
    }
  }

  test("morton key properties: injective and order-compatible over seeded random pairs") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val pairs = Seq.fill(500)((rng.nextInt(65536), rng.nextInt(65536))).distinct
    val keys = pairs.toDF("a", "b")
      .select(graft.functions.ZOrder.morton(col("a"), col("b")).as("m"),
        col("a"), col("b"))
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getLong(0))
    // injective: distinct pairs -> distinct keys
    assert(keys.map(_._2).distinct.length == pairs.length)
    // decodable: de-interleaving the key recovers exactly (a, b)
    // (keys are unsigned 32-bit values carried in a LONG since r10)
    def compact(x: Long): Int = {
      var v = x & 0x55555555L
      v = (v | (v >>> 1)) & 0x33333333L
      v = (v | (v >>> 2)) & 0x0F0F0F0FL
      v = (v | (v >>> 4)) & 0x00FF00FFL
      ((v | (v >>> 8)) & 0x0000FFFFL).toInt
    }
    for (((a, b), m) <- keys) {
      assert(m >= 0L && m <= 0xFFFFFFFFL)
      assert(compact(m) == a && compact(m >>> 1) == b)
    }
    // bucket16 is monotone on a seeded random domain
    val lo, hi0 = rng.nextLong() % 1000000L
    val (l, h) = (math.min(lo, hi0), math.max(lo, hi0) + 1L)
    val xs = Seq.fill(300)(l + (rng.nextLong().abs % (h - l + 1))).sorted
    val bs = xs.toDF("x")
      .select(graft.functions.ZOrder.bucket16(col("x"), l, h).as("v"),
        col("x")).orderBy("x")
      .collect().map(_.getInt(0))
    assert(bs.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    assert(bs.forall(v => v >= 0 && v <= 65535))
  }

  test("Compaction.packFFD: coverage, no overfill, keep-vs-compact split, deterministic FFD shape") {
    val files = Seq(("a", 60L), ("b", 50L), ("c", 40L), ("d", 30L),
      ("huge", 200L))
    val plan = graft.sources.Compaction.packFFD(files, 100L)
    val byFile = plan.map(p => p._1 -> p).toMap
    assert(plan.map(_._1).sorted == files.map(_._1).sorted)   // coverage
    assert(byFile("huge")._3 == "keep" && byFile("huge")._4 == -1L)
    // FFD with target 100: 60→bin0, 50→bin1, 40→bin0 (full), 30→bin1
    assert(byFile("a")._4 == 0L && byFile("c")._4 == 0L)
    assert(byFile("b")._4 == 1L && byFile("d")._4 == 1L)
    assert(byFile("a")._6 == 100L && byFile("b")._6 == 80L)   // bin bytes
    // no bin overfills; identical input → identical plan
    assert(plan.filter(_._3 == "compact").forall(_._6 <= 100L))
    assert(plan == graft.sources.Compaction.packFFD(files, 100L))
    // all-small single bin; all-big all-keep
    assert(graft.sources.Compaction.packFFD(Seq(("x", 1L), ("y", 2L)), 100L)
      .forall(p => p._3 == "compact" && p._4 == 0L))
    assert(graft.sources.Compaction.packFFD(Seq(("x", 100L)), 100L)
      .forall(_._3 == "keep"))
  }

  test("ScaleGen.replicateK: disjoint keys, token-preserving salt, norm-preserving rotation") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta\tgamma delta\nepsilon zeta eta", 40L),
      (1L, "one two three", 13L)).toDF("doc_id", "text", "n_chars")
    val rep = graft.tools.ScaleGen
      .replicateK(docs, 3, Map("doc_id" -> 2L), saltText = Some("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // disjoint key ranges: ids 0,1 / 2,3 / 4,5
    assert(rep.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    def toks(s: String): Seq[String] = s.split("\\s+").toSeq
    // token count preserved per copy, across tabs/newlines too
    assert(toks(rep(2L).getString(1)).size == 7)
    assert(toks(rep(4L).getString(1)).size == 7)
    // every 3rd token carries the copy marker; copy 0 untouched
    assert(toks(rep(2L).getString(1))(2) == "gammac1")
    assert(toks(rep(4L).getString(1))(2) == "gammac2")
    // copy 0 keeps the ORIGINAL text (sf0.1-verified answers remain a
    // subset of the replicated corpus) — compare against the source df,
    // not against itself (ADVICE r9: the old self-compare was a tautology)
    assert(rep(0L).getString(1) ==
      "alpha beta\tgamma delta\nepsilon zeta eta")
    assert(rep(1L).getString(1) == "one two three")
    // zero cross-copy 3-shingle overlap (the scale-lane invariant)
    def shingles(s: String): Set[String] =
      toks(s).sliding(3).map(_.mkString(" ")).toSet
    assert(shingles(rep(0L).getString(1))
      .intersect(shingles(rep(2L).getString(1))).isEmpty)
    assert(shingles(rep(2L).getString(1))
      .intersect(shingles(rep(4L).getString(1))).isEmpty)
    // n_chars recomputed on salted copies
    assert(rep(2L).getLong(2) == rep(2L).getString(1).length.toLong)
    // vector rotation: same multiset of values, different order, norm kept
    val vecs = Seq((0L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val rv = graft.tools.ScaleGen
      .replicateK(vecs, 2, Map("vec_id" -> 1L), rotateVec = Some("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rv(0L) == Seq(1f, 2f, 3f, 4f))
    assert(rv(1L) == Seq(2f, 3f, 4f, 1f))   // left-rotate by 1
  }

  test("ZOrder: bit spreading and Morton interleave match the textbook values") {
    import spark.implicits._
    val df = Seq((0, 0), (3, 0), (0, 3), (0xFFFF, 0xFFFF), (1, 2))
      .toDF("a", "b")
      .select(
        graft.functions.ZOrder.spread16(col("a")).as("sa"),
        graft.functions.ZOrder.morton(col("a"), col("b")).as("m"))
      .collect()
    assert(df(0).getInt(0) == 0 && df(0).getLong(1) == 0L)
    assert(df(1).getInt(0) == 0x5)        // spread(0b11) = 0b0101
    assert(df(1).getLong(1) == 0x5L)      // morton(3, 0)
    assert(df(2).getLong(1) == 0xAL)      // morton(0, 3) = 0b1010
    assert(df(3).getLong(1) == 0xFFFFFFFFL) // full 16+16 bits, UNSIGNED in a long (r10)
    assert(df(4).getLong(1) == 0x9L)      // a=1 -> bit0, b=2 -> bit3
    // bucket16: ends of the domain hit 0 and 65535; nulls/degenerate -> 0
    val b = Seq(Some(10L), Some(20L), None).toDF("x")
      .select(graft.functions.ZOrder.bucket16(col("x"), 10L, 20L).as("v"))
      .collect().map(_.getInt(0))
    assert(b.toSeq == Seq(0, 65535, 0))
  }

  test("ParquetLayout: footer counts match scans, table names resolve for files and part-dirs") {
    val dir = sf001Dir
    val roll = graft.sources.ParquetLayout.tableRollup(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(roll.keySet == Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings"))
    for ((t, r) <- roll) {
      val scanned = spark.read.parquet(s"$dir/$t.parquet").count()
      assert(r.getAs[Long]("n_rows") == scanned,
        s"$t footer rows ${r.getAs[Long]("n_rows")} != scan $scanned")
      assert(r.getAs[Long]("n_row_groups") >= r.getAs[Long]("n_files"))
    }
    // sf0.001 files are all far under the 4 MB small-file bound — the
    // pathology flag must see every one of them
    assert(roll.values.forall(r =>
      r.getAs[Long]("small_files") == r.getAs[Long]("n_files")))
    // part-directory layout (dir/<table>.parquet/part-*.parquet) resolves
    // to the same table name as the single-file layout
    val tmp = java.nio.file.Files.createTempDirectory("graft_layout").toString
    try {
      spark.read.parquet(s"$dir/nation.parquet").repartition(3)
        .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
      val multi = graft.sources.ParquetLayout.tableRollup(spark, tmp).head()
      assert(multi.getString(0) == "nation")
      assert(multi.getAs[Long]("n_files") == 3L)
      assert(multi.getAs[Long]("n_rows") == 25L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("winsorizedStatsApprox: exact bounds on sub-k data, moments from the same decSum pass") {
    import spark.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val rows = graft.profiler.RobustStats
      .winsorizedStatsApprox(df, Seq("x")).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    // n=100 < k=200: sketch quantiles are true order statistics —
    // inclusive rank >= 0.01 selects 1, >= 0.99 selects 99
    assert(rows("WinsorizedLow-0.01") == 1.0)
    assert(rows("WinsorizedHigh-0.99") == 99.0)
    assert(rows("WinsorizedClipped-0.01-0.99") == 1.0)  // only 100 clips
    assert(rows("WinsorizedMean-0.01-0.99") == 50.49)   // (5050-1)/100
    assert(rows.contains("WinsorizedRankEps"))
    // all-null and all-NaN columns contribute no rows (mirrors the exact twin)
    val nulls = Seq.fill(3)(Option.empty[Double]).toDF("x")
    val nans = Seq.fill(50)(Double.NaN).toDF("x")
    for (empty <- Seq(nulls, nans))
      assert(graft.profiler.RobustStats
        .winsorizedStatsApprox(empty, Seq("x")).count() == 0L)
  }

  test("ksDrift: distinct-value window is guarded — oversize input raises, bounded input unchanged") {
    val a = spark.range(200).select((col("id").cast("double") / 7).as("v"))
    val b = spark.range(200).select((col("id").cast("double") / 11).as("v"))
    // ~400 distinct pooled values against a bound of 100: the window
    // stage itself must raise instead of silently single-tasking a
    // data-sized value domain (the E109 sketch form is the scale path)
    assert(guardFires(
      graft.profiler.Checks.ksDrift(a, b, "v", maxValues = 100).collect()))
    // same data under the default bound: guard is a value-neutral no-op
    val r = graft.profiler.Checks.ksDrift(a, a, "v").head()
    assert(r.getAs[Double]("ks_d") == 0.0)
    assert(r.getAs[Long]("n_a") == 200L)
  }
}

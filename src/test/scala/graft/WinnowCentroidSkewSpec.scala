package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.sf001Dir

class WinnowCentroidSkewSpec extends SparkSuite {
  test("winnowing: shared substring of length >= k+w-1 shares a selected fingerprint") {
    import spark.implicits._
    val common = "the quick brown fox jumps over it"   // 33 chars >= 8+4-1
    val df = Seq(
      (1L, s"prefix one $common suffix alpha"),
      (2L, s"totally different lead-in $common and tail"),
      (3L, "no overlap with the others at all here")
    ).toDF("doc_id", "text")
    val fp = graft.operators.Dedup.winnowFingerprints(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty, "guarantee violated: no shared fingerprint")
    // density: ~2/(w+1) of positions, never more than all of them
    assert(fp(1L).size < 45)
  }

  test("winnowing enforces the 2^20-char packing cap with a loud error") {
    import spark.implicits._
    val df = Seq(
      (1L, "x" * 100),
      (2L, "ab" * (1 << 19)) // 2^20 chars: one past the packable maximum
    ).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.operators.Dedup.winnowFingerprints(df, "doc_id", "text").count()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("winnowFingerprints")),
      s"expected the packing-cap error, got: ${messages(ex).mkString(" | ")}")
  }

  test("winnowing is a pure function of the text (partitioning-independent)") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"document number $i with some repeated text " * 3))
      .toDF("doc_id", "text")
    def run(p: Int) = graft.operators.Dedup.winnowFingerprints(
      df.repartition(p), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(7))
  }

  test("centroid update: exact decimal means, independent of partitioning") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.8f, 0.2f)),
      (10L, Seq(0.0f, 1.0f)), (11L, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    def run(p: Int) = graft.operators.Similarity.centroidUpdate(
      df.repartition(p), "vec_id", "embedding", col("vec_id") % 10 === 0)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getDouble(2), r.getLong(3)))).toMap
    val a = run(1)
    // cell 0 holds {0,1,2}: dim-0 mean (1.0f+0.9f+0.8f)/3 rounded to 6 dp
    assert(a((0L, 0))._2 == 3L)
    assert(math.abs(a((0L, 0))._1 - 0.9) < 1e-6)
    assert(a((10L, 1))._2 == 2L)
    assert(run(13) == a) // decimal sums: order/partition-independent
  }

  test("event funnel: strict ordering — out-of-order conversions don't count") {
    import spark.implicits._
    val e = Seq(
      (1L, 10L, "signup"), (1L, 20L, "view"), (1L, 30L, "buy"),   // full path
      (2L, 10L, "signup"), (2L, 30L, "buy"), (2L, 40L, "view"),   // buy BEFORE view
      (3L, 10L, "view"), (3L, 20L, "signup"),                     // view before signup
      (4L, 10L, "buy")                                            // no signup at all
    ).toDF("user_id", "ts_us", "event_type")
    val out = graft.operators.Events.funnel(
      e, "user_id", "ts_us", "event_type", Seq("signup", "view", "buy"))
      .orderBy("stage").collect().map(r => (r.getInt(0), r.getLong(2)))
    // signups: users 1,2,3; strict views after signup: 1,2; buys after that view: 1
    assert(out.toSeq == Seq((1, 3L), (2, 2L), (3, 1L)))
  }

  test("cohort retention: offsets measured from each user's first active day") {
    import spark.implicits._
    val day = 86400000000L
    val e = Seq(
      (1L, 0L), (1L, 2 * day),          // cohort day 0, back on day 2
      (2L, 0L), (2L, day), (2L, day),   // cohort day 0, day 1 twice (distinct)
      (3L, day)                         // cohort day 1
    ).toDF("user_id", "ts_us")
    val out = graft.operators.Events.cohortRetention(e, "user_id", "ts_us", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 0L) -> 1L))
  }

  test("continuous profiling: streamed micro-batch merge equals the direct profile") {
    val li = s"$sf001Dir/lineitem.parquet"
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .where(col("name") =!= "ApproxCountDistinct" &&
        !col("name").startsWith("ApproxQuantiles"))
      .select(col("instance"), col("name"), round(col("value"), 6))
      .collect().map(_.toString).sorted.toSeq
    val streamed = rows(graft.streaming.StreamingProfile
      .continuousIncrementalProfile(spark, li, "l_orderkey", nBatches = 3))
    val direct = rows(graft.profiler.IncrementalProfiler.metrics(
      graft.profiler.IncrementalProfiler.snapshot(spark.read.parquet(li))))
    assert(streamed.nonEmpty && streamed == direct)
  }

  test("histogram drift: PSI near zero for identical snapshots, large for a shift") {
    import spark.implicits._
    val base = (1 to 1000).map(i => (i % 100).toDouble).toDF("x")
    val same = graft.profiler.Checks.histogramDrift(base, base, Seq("x")).head()
    assert(math.abs(same.getDouble(1)) < 1e-9 && !same.getBoolean(2))
    // current snapshot shifted into the top of the combined range
    val shifted = (1 to 1000).map(i => 100.0 + (i % 100)).toDF("x")
    val drift = graft.profiler.Checks.histogramDrift(base, shifted, Seq("x")).head()
    assert(drift.getDouble(1) > 0.2 && drift.getBoolean(2), s"psi = ${drift.getDouble(1)}")
    // decimal-quantized term sum: partitioning-independent
    val a = graft.profiler.Checks.histogramDrift(
      base.repartition(13), shifted.repartition(7), Seq("x")).head().getDouble(1)
    assert(a == drift.getDouble(1))
  }

  test("constraint suggestion: rules fire from metrics, partial-completeness floor") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("a")), (Some(2), Some("b")), (Some(3), None),
      (Some(4), Some("b")), (None, Some("c"))
    ).toDF("k", "s")
    val rows = graft.profiler.Profiler.metrics(
      df, graft.profiler.ProfilerConfig(),
      Set("completeness", "distinctness", "minimum"))
    val out = graft.profiler.Checks.suggestConstraints(
      graft.profiler.Profiler.metricsDF(spark, rows))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // k: 4/5 complete -> floored 0.8 threshold; distinct -> unique; min 1 >= 0
    assert(out(("k", "has_completeness_ge")) == 0.8)
    assert(out(("k", "is_unique")) == 1.0)
    assert(out(("k", "non_negative")) == 0.0)
    assert(!out.contains(("k", "is_complete")))
    // s: 4/5 complete, 'b' repeats -> no uniqueness suggestion
    assert(out(("s", "has_completeness_ge")) == 0.8)
    assert(!out.contains(("s", "is_unique")))
  }

  test("metric anomaly: z-score vs history, last snapshot is current, flag over threshold") {
    import spark.implicits._
    // snapshots 0..3 of a value column; snapshot 3 jumps far outside history
    val df = (Seq.fill(10)((0L, 10.0)) ++ Seq.fill(10)((1L, 11.0)) ++
      Seq.fill(10)((2L, 12.0)) ++ Seq.fill(10)((3L, 500.0)))
      .toDF("snap", "v")
    val out = graft.profiler.Checks.metricAnomaly(
      df, col("snap"),
      Seq(
        "Sum_v" -> sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 6))).cast("double"),
        "Size" -> count(lit(1))))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), if (r.isNullAt(4)) null else r.getDouble(4), r.getBoolean(5))).toMap
    // Size is constant across snapshots: sd = 0 -> null z, not anomalous
    assert(out("Size")._2 == null && !out("Size")._3)
    // Sum jumps from {100, 110, 120} to 5000: |z| >> 3 -> anomaly
    assert(out("Sum_v")._1 == 5000.0)
    assert(out("Sum_v")._3, s"expected anomaly, z = ${out("Sum_v")._2}")
  }

  test("url canonicalization: case, www, default ports, fragments, trailing slash") {
    import spark.implicits._
    import graft.functions.UrlFunctions
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80/Page#frag", "http://example.com/Page", "example.com"),
      ("https://sub.Site.ORG:443/a/b/", "https://sub.site.org/a/b", "site.org"),
      ("https://plain.com/", "https://plain.com", "plain.com"),
      ("ftp://Files.Net", "ftp://files.net", "files.net"),
      ("https://www.x.io:8080/q", "https://x.io:8080/q", "x.io") // non-default port kept
    ).toDF("raw", "want_url", "want_dom")
    val bad = cases.where(
      UrlFunctions.normalizeUrl(col("raw")) =!= col("want_url") ||
        UrlFunctions.domain(col("raw")) =!= col("want_dom"))
      .select(col("raw"), UrlFunctions.normalizeUrl(col("raw")), UrlFunctions.domain(col("raw")))
      .collect()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("cluster representative: best quality wins, min id on ties, one keeper per cluster") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.1), (9L, 0.1))
      .toDF("doc_id", "quality")
    val out = graft.operators.Clustering.bestRepresentative(clusters, scores)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 7L -> true, 9L -> false))
  }

  test("key skew: counts, hottest key with min-key tie-break, frequency buckets") {
    import spark.implicits._
    val df = (Seq.fill(5)(100L) ++ Seq.fill(5)(7L) ++ Seq(1L, 2L, 3L) ++ Seq.fill(12)(9L))
      .toDF("k")
    val r = graft.profiler.Checks.keySkew(df, "k").head()
    assert(r.getLong(0) == 25L)      // n_rows
    assert(r.getLong(1) == 6L)       // n_keys
    assert(r.getString(2) == "9")    // hot_key (string: key-type-independent)
    assert(r.getLong(3) == 12L)      // hot_freq
    assert(r.getLong(4) == 3L)       // freq-1 keys
    assert(r.getLong(5) == 2L)       // 2-9
    assert(r.getLong(6) == 1L)       // 10-99
    assert(r.getLong(7) == 0L)       // 100+
  }
}

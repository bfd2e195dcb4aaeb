package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.profiler._

/** Hand-computed expectations per analyzer, with the null-heavy / empty /
  * constant edge cases that exercise the n-vs-nn denominator semantics
  * (SURVEY.md §7.4.2 — the most likely correctness bug class). */
class ProfilerSpec extends SparkSuite {
  private val cfg = ProfilerConfig(compExp = true)

  private def df(rows: Seq[(java.lang.Double, String)]) = {
    val schema = StructType(Seq(
      StructField("x", DoubleType, nullable = true),
      StructField("s", StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), schema)
  }

  // x = [1.0, null, 3.0, 1.0] ; s = [a, b, a, null]
  private lazy val rows = Profiler.metrics(
    df(Seq((1.0, "a"), (null, "b"), (3.0, "a"), (1.0, null))),
    cfg, Profiler.allFamilies)

  private def metric(inst: String, name: String): Double =
    rows.collectFirst { case MetricRow(_, `inst`, `name`, v) => v }
      .getOrElse(fail(s"missing metric $inst/$name in\n${rows.mkString("\n")}"))

  test("Size counts all rows including nulls") {
    assert(metric("*", "Size") == 4.0)
  }

  test("Completeness = nn/n per column") {
    assert(metric("x", "Completeness") == 0.75)
    assert(metric("s", "Completeness") == 0.75)
  }

  test("Minimum/Maximum/Mean/Sum ignore nulls") {
    assert(metric("x", "Minimum") == 1.0)
    assert(metric("x", "Maximum") == 3.0)
    assert(math.abs(metric("x", "Mean") - 5.0 / 3) < 1e-9)
    assert(metric("x", "Sum") == 5.0)
  }

  test("StandardDeviation is population, not sample") {
    // {1,3,1}: var_pop = E[x^2] - E[x]^2 = 11/3 - 25/9 = 8/9
    assert(math.abs(metric("x", "StandardDeviation") - math.sqrt(8.0 / 9)) < 1e-9)
  }

  test("Distinctness = |V|/nn") {
    assert(math.abs(metric("x", "Distinctness") - 2.0 / 3) < 1e-12)
    assert(math.abs(metric("s", "Distinctness") - 2.0 / 3) < 1e-12)
  }

  test("MaxLength/MinLength over non-null strings") {
    assert(metric("s", "MaxLength") == 1.0)
    assert(metric("s", "MinLength") == 1.0)
  }

  test("frequency family: CountDistinct, Entropy, UniqueValueRatio, Uniqueness") {
    assert(metric("s", "CountDistinct") == 2.0)
    // freq {a:2, b:1}, nn=3: H = ln3 - (2 ln2)/3
    assert(math.abs(metric("s", "Entropy") - (math.log(3) - 2 * math.log(2) / 3)) < 1e-12)
    assert(metric("s", "UniqueValueRatio") == 0.5) // |U|=1, |V|=2
    assert(math.abs(metric("s", "Uniqueness") - 1.0 / 3) < 1e-12) // |U|/nn
  }

  test("Histogram: null bucket, ratio over n (not nn)") {
    assert(metric("s", "Histogram.bins") == 3.0) // a, b, NullValue
    assert(metric("s", "Histogram.abs.a") == 2.0)
    assert(metric("s", "Histogram.ratio.a") == 0.5) // 2/4 — denominator is n
    assert(metric("s", "Histogram.abs.NullValue") == 1.0)
    assert(metric("s", "Histogram.ratio.NullValue") == 0.25)
  }

  test("quantiles: exact percentile at p=1.0 equals Maximum") {
    assert(metric("x", "QuantilesExact-1.0") == 3.0)
    assert(metric("x", "ApproxQuantiles-1.0") == 3.0)
  }

  test("empty table: Size=0, HLL sketches report 0, everything else absent") {
    val m = Profiler.metrics(df(Nil), cfg, Profiler.allFamilies)
    // approx_count_distinct legitimately evaluates to 0 on empty input
    // (an empty HLL sketch has cardinality 0, same as Deequ's analyzer)
    assert(m.toSet == Set(
      MetricRow("Dataset", "*", "Size", 0.0),
      MetricRow("Column", "x", "ApproxCountDistinct", 0.0),
      MetricRow("Column", "s", "ApproxCountDistinct", 0.0)))
  }

  test("all-null column: scan metrics absent, histogram has only the null bucket") {
    val m = Profiler.metrics(
      df(Seq((null, null), (null, null))), cfg, Profiler.allFamilies)
    assert(!m.exists(r => r.instance == "x" && r.name == "Minimum"))
    assert(!m.exists(r => r.instance == "s" && r.name == "CountDistinct"))
    val hist = m.filter(r => r.instance == "s" && r.name.startsWith("Histogram"))
    assert(hist.map(_.name).toSet ==
      Set("Histogram.bins", "Histogram.abs.NullValue", "Histogram.ratio.NullValue"))
    assert(m.collectFirst {
      case MetricRow(_, "s", "Histogram.ratio.NullValue", v) => v
    }.contains(1.0))
  }

  test("constant column: stddev clamps to exactly 0") {
    val m = Profiler.metrics(
      df(Seq((2.0, "k"), (2.0, "k"), (2.0, "k"))), cfg, Set("stddev_pop"))
    assert(m.collectFirst { case MetricRow(_, "x", "StandardDeviation", v) => v }
      .contains(0.0))
  }

  test("castUnsupported: boolean and date render with Spark's cast strings") {
    import spark.implicits._
    val d = Seq(
      (true, java.sql.Date.valueOf("2024-03-01")),
      (false, java.sql.Date.valueOf("2024-03-02"))).toDF("b", "d")
    val m = Profiler.metrics(
      d, cfg.copy(profileUnsupportedTypes = true), Set("min_length", "max_length", "histogram"))
    def get(i: String, n: String) =
      m.collectFirst { case MetricRow(_, `i`, `n`, v) => v }.get
    assert(get("b", "MinLength") == 4.0) // "true"
    assert(get("b", "MaxLength") == 5.0) // "false"
    assert(get("d", "MaxLength") == 10.0) // "2024-03-01"
    assert(m.exists(_.name == "Histogram.abs.2024-03-01"))
    assert(m.exists(_.name == "Histogram.abs.true"))
  }

  test("histogram cap: top-N by (count desc, value asc) tie-break") {
    import spark.implicits._
    // counts: z:3, m:2, a:1, b:1 — cap 3 keeps z, m, and 'a' (tie a<b)
    val d = Seq("z", "z", "z", "m", "m", "a", "b").toDF("s")
    val m = Profiler.metrics(d, cfg.copy(noOfBins = 3), Set("histogram"))
    val abs = m.filter(_.name.startsWith("Histogram.abs."))
    assert(abs.map(_.name).toSet ==
      Set("Histogram.abs.z", "Histogram.abs.m", "Histogram.abs.a"))
    assert(m.collectFirst { case MetricRow(_, _, "Histogram.bins", v) => v }
      .contains(4.0)) // bins counts ALL distinct values, before the cap
  }

  test("schema relation + profile join carries declared types") {
    import spark.implicits._
    val d = Seq((1L, "x")).toDF("id", "name")
    val p = Profiler.profile(spark, d, cfg).collect()
    val types = p.map(r => (r.getString(1), r.getString(4))).toMap
    assert(types("id") == "bigint")
    assert(types("name") == "string")
    assert(p.filter(_.getString(0) == "Dataset").forall(_.isNullAt(4)))
  }

  test("profileRelation: the driver-built relation equals the broadcast-join shape") {
    import java.time.{OffsetDateTime, ZoneOffset}
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val d = df(Seq((1.0, "a"), (null, "b"), (3.0, "a"), (1.0, null)))
    val joined = Profiler.metricsDF(spark, rows)
      .join(broadcast(Profiler.schemaDF(spark, d)), Seq("instance"), "left")
      .select(col("entity"), col("instance"), col("name"), col("value"), col("type"))
    val built = Profiler.profileRelation(spark, rows, d)
    assert(built.schema == joined.schema) // nullability included
    assert(built.collect().toSeq == joined.collect().toSeq) // row order included
    // the sink relation too, run identity columns included: the written
    // (physical) schema, where the string casts are constant-folded
    val run = OffsetDateTime.of(2026, 8, 12, 13, 5, 6, 789, ZoneOffset.UTC)
    val stringCast = joined
      .withColumn("db_name", lit("db"))
      .withColumn("table_name", lit("t"))
      .withColumn("profiler_run_dt", lit("2026-08-12").cast(DateType))
      .withColumn("profiler_run_ts", lit("2026-08-12 13:05:06").cast(TimestampType))
    val enriched = Sinks.enrich(built, "db", "t", run)
    assert(enriched.queryExecution.executedPlan.schema ==
      stringCast.queryExecution.executedPlan.schema)
    assert(enriched.collect().toSeq == stringCast.collect().toSeq)
  }

  test("ScanMetrics.compute: every pass job carries the caller's current tag") {
    val sc = spark.sparkContext
    val key = "graft.test.scan"
    val d = df(Seq((1.0, "a"), (null, "b"), (3.0, "a"), (1.0, null)))
    val slots = ScanMetrics.slots(d.schema, cfg, Profiler.referenceBattery)
    def runTagged(tag: String): Seq[String] = {
      sc.setLocalProperty(key, tag)
      try new JobTags(sc, key).of(ScanMetrics.compute(d, slots))
      finally sc.setLocalProperty(key, null)
    }
    // a thread reused from the first run must not carry its tag into the
    // second
    assert(runTagged("a").forall(_ == "a"))
    val b = runTagged("b")
    assert(b.size > 1 && b.forall(_ == "b"), b)
  }

  test("spreadCheckpoint: nondeterministic input is checkpointed, a parquet read is not") {
    import org.apache.spark.sql.execution.LogicalRDD
    val noisy = spark.range(0, 64, 1, 4).withColumn("r", org.apache.spark.sql.functions.rand(7))
    assert(ScanMetrics.spreadTarget(noisy) == 0) // spread alone would not checkpoint
    val pinned = ScanMetrics.spreadCheckpoint(noisy)
    assert(pinned.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(pinned.collect().toSeq == pinned.collect().toSeq)
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").resolve("t").toString
    spark.range(0, 64, 1, 4).write.parquet(dir)
    val pq = spark.read.parquet(dir)
    assert(ScanMetrics.spreadTarget(pq) == 0)
    assert(ScanMetrics.spreadCheckpoint(pq) eq pq)
  }
}

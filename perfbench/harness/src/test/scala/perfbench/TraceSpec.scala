package perfbench

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, JobSucceeded}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.profiler.{ParquetDirCatalog, Runner}

class TraceSpec extends AnyFunSuite {

  private def frames(lines: String*) = lines.mkString("\n")

  test("call site maps to the innermost mapped engine frame") {
    assert(Layers.ofCallSite(frames(
      "org.apache.spark.sql.Dataset.head(Dataset.scala:3300)",
      "graft.profiler.ScanMetrics$.$anonfun$compute$6(ScanMetrics.scala:322)",
      "scala.concurrent.Future$.$anonfun$apply$1(Future.scala:687)")) === Some("scan"))
    assert(Layers.ofCallSite(frames(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.profiler.FreqMetrics$.batched(FreqMetrics.scala:50)",
      "graft.profiler.Profiler$.metrics(Profiler.scala:120)")) === Some("freq"))
    assert(Layers.ofCallSite(frames(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)",
      "graft.profiler.Sinks$MetricsParquetSink.write(Sinks.scala:70)",
      "graft.profiler.Runner$.profileOne$1(Runner.scala:124)")) === Some("sink"))
    assert(Layers.ofCallSite(frames(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.operators.Dedup$.substringDup(DedupSubstringOps.scala:10)")) === Some("ops"))
    assert(Layers.ofCallSite(frames(
      "at graft.functions.RollingHash$.hashes(RollingHash.scala:3)")) === Some("ops"))
    assert(Layers.ofCallSite(frames(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.profiler.ParquetDirCatalog.load(Catalog.scala:50)")) === Some("catalog"))
  }

  test("unmapped engine frames are skipped; no mapped frame gives None") {
    assert(Layers.ofCallSite(frames(
      "graft.SparkEntryStats.$anonfun$statsQueries$9(SparkEntryStats.scala:260)",
      "graft.profiler.RobustStats$.madOutliers(RobustStats.scala:5)")) === Some("quantiles"))
    assert(Layers.ofCallSite(frames(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "perfbench.Main$.main(Main.scala:1)",
      "graft.SparkEntry$.queries(SparkEntry.scala:63)")) === None)
    assert(Layers.ofCallSite(null) === None)
    assert(Layers.ofCallSite("") === None)
  }

  test("metric-name grammar") {
    Seq("wall_s", "scan.core_util", "ops.substring_dup_chunked.wall_s", "jvm.heap_peak_mb", "a" * 64)
      .foreach(n => assert(Layers.validMetricName(n), n))
    Seq("", ".x", "-x", "wall s", "a/b", "a" * 65, "ops.key:wall")
      .foreach(n => assert(!Layers.validMetricName(n), n))
  }

  test("BENCHMARK.json names follow the grammar and match what the harness reports") {
    val root = Paths.get(sys.props("user.dir")).resolve("../..").normalize()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(root.resolve("BENCHMARK.json")))
    def names(field: String) = json.get(field).elements().asScala.map(_.get("name").asText()).toSeq
    val all = names("workloads") ++ names("end_to_end") ++ names("per_layer")
    all.foreach(n => assert(Layers.validMetricName(n), n))
    assert(all.distinct.size === all.size)
    val reported = Report.perLayer(new Trace, 0L, 1L, 4, new Main.Meters, Nil, Nil, 0L, 0.0).keySet
    // trace.overhead_s compares two passes; run.py adds it
    assert(names("per_layer").toSet === reported + "trace.overhead_s")
  }

  private def jobStart(id: Int, tag: String, time: Long = 0L) = {
    val p = new Properties()
    p.setProperty(Trace.TagKey, tag)
    SparkListenerJobStart(id, time, Nil, p)
  }

  test("drain waits for every started job to end, counted, not slept") {
    val t = new Trace
    t.onJobStart(jobStart(1, "t1"))
    t.drain(10000) { () =>
      new Thread(() => {
        Thread.sleep(200)
        t.onJobEnd(SparkListenerJobEnd(1, 0L, JobSucceeded))
        t.onJobStart(jobStart(2, Trace.SentinelTag))
        t.onJobEnd(SparkListenerJobEnd(2, 0L, JobSucceeded))
      }).start()
    }
    assert(t.traceJobs.map(_.id) === Seq(1))
  }

  test("drain fails after its timeout when a job never ends") {
    val t = new Trace
    t.onJobStart(jobStart(1, "t1"))
    val e = intercept[IllegalStateException] {
      t.drain(300) { () =>
        t.onJobStart(jobStart(2, Trace.SentinelTag))
        t.onJobEnd(SparkListenerJobEnd(2, 0L, JobSucceeded))
      }
    }
    assert(e.getMessage.contains("jobs 1/2 ended"))
  }

  test("layer wall time is the union of its intervals") {
    assert(Trace.unionLength(Seq((20L, 25L), (0L, 10L), (5L, 15L), (30L, 30L), (12L, 14L))) === 20L)
    assert(Trace.unionLength(Nil) === 0L)
  }

  test("stale thread tags are re-attributed by window; overlap stays unattributed") {
    val jobs = Seq(
      Trace.Job(1, Some("a"), "scan", 5L), // tag of a live window
      Trace.Job(2, Some("a"), "scan", 15L), // stale: only b is in flight
      Trace.Job(3, None, "scan", 25L), // b and c in flight
      Trace.Job(4, Some("c"), "sink", 26L))
    val w = Seq(Report.Window("a", 0, 10), Report.Window("b", 11, 30), Report.Window("c", 20, 40))
    assert(Report.attribute(jobs, w) ===
      Map(1 -> Some("a"), 2 -> Some("b"), 3 -> None, 4 -> Some("c")))
  }

  test("a traced Runner run attributes every job to a table and a layer") {
    val dir = Files.createTempDirectory("perfbench-trace")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val data = dir.resolve("db")
      Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, null, 3.5)).toDF("id", "s", "d")
        .coalesce(1).write.parquet(s"$data/t1.parquet")
      Seq((1, true), (2, false)).toDF("k", "flag")
        .coalesce(1).write.parquet(s"$data/t2.parquet")
      val trace = Trace.install(spark)
      val sc = spark.sparkContext
      val out = dir.resolve("out").toString
      val start = System.currentTimeMillis()
      val catalog = new TracedCatalog(new ParquetDirCatalog(spark, data.toString), sc, trace)
      val counts = Runner.run(spark, catalog, Runner.RunnerArgs(
        dbName = data.toString, outPrefix = out, compExp = true), Main.RunDays.head)
      val end = System.currentTimeMillis()
      trace.drain(60000)(Trace.sentinelJob(sc))
      assert(counts.keySet === Set("t1", "t2") && counts.values.forall(_ > 0))
      val metaDone = counts.keys.map(t =>
        t -> Files.getLastModifiedTime(Paths.get(s"${out}_metadata", s"$t.json")).toMillis).toMap
      val windows = Report.tableWindows(trace.spans, Seq(Report.RunnerCall(start, end, metaDone)))
      assert(windows.map(_.tag).toSet === Set("t1", "t2"))
      val jobs = trace.traceJobs
      assert(jobs.nonEmpty)
      val owner = Report.attribute(jobs, windows)
      assert(owner.values.forall(_.isDefined), owner)
      val layers = jobs.map(_.layer).toSet
      assert(layers.contains("scan") && layers.contains("sink"), layers)
      assert(!layers.contains(Layers.Other), layers)
    } finally {
      spark.stop()
    }
  }
}

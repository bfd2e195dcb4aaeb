package graft

import java.nio.file.{Files, Path, Paths}
import java.time.{OffsetDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.TestSpark.sf001Dir
import graft.profiler._

class SinksSpec extends SparkSuite {
  private def tmp(): Path = Files.createTempDirectory("graft-sinks")

  test("toParams splits Dataset vs Column entities with prefixed keys") {
    val rows = Seq(
      MetricRow("Dataset", "*", "Size", 5.0),
      MetricRow("Column", "a", "Completeness", 1.0),
      MetricRow("Column", "a", "Maximum", 9.0),
      MetricRow("Column", "b", "MinLength", 2.0))
    val (t, c) = Sinks.toParams(rows, ProfilerConfig())
    assert(t == Map("DQP__Size" -> "5.0"))
    assert(c("a") == Map("DQP__Completeness" -> "1.0", "DQP__Maximum" -> "9.0"))
    assert(c("b") == Map("DQP__MinLength" -> "2.0"))
  }

  test("metadata upsert: merge table params, reset only prefixed column params") {
    val sink = new Sinks.JsonMetadataSink(tmp().toString)
    sink.upsert("t", "DQP__",
      Map("DQP__Size" -> "1.0", "owner" -> "alice"),
      Map("c" -> Map("DQP__Maximum" -> "3.0", "comment" -> "keep-me")))
    // second run: new metrics; stale DQP__ keys must vanish, others survive
    sink.upsert("t", "DQP__",
      Map("DQP__Size" -> "2.0"),
      Map("c" -> Map("DQP__Minimum" -> "0.5")))
    val meta = sink.read("t")
    assert(meta.tableParams == Map("DQP__Size" -> "2.0", "owner" -> "alice"))
    assert(meta.columnParams("c") == Map("DQP__Minimum" -> "0.5", "comment" -> "keep-me"))
    assert(!meta.columnParams("c").contains("DQP__Maximum"))
  }

  test("documented divergence from Glue: partition-column params ARE stored locally") {
    // The reference cannot attach parameters to partition columns — Glue
    // rejects them (InvalidInputException, Glue.java:89-93) and a metric
    // for one falls to the storage-descriptor "Column Not Found" skip
    // (Glue.java:102-137); only its S3 parquet sink carries
    // partition-column metrics. The local JSON store has no storage-column
    // split, so BY DEFAULT column params persist for every profiled
    // column — a migrating user gains metadata rather than losing any.
    val sink = new Sinks.JsonMetadataSink(tmp().toString)
    sink.upsert("t", "DQP__",
      Map("DQP__Size" -> "1.0"),
      Map("partition_day" -> Map("DQP__Completeness" -> "1.0")))
    assert(sink.read("t").columnParams("partition_day")("DQP__Completeness") == "1.0")
  }

  test("Glue parity mode: declared partition columns are skipped, untouched") {
    // With partitionCols declared, the sink reproduces Glue exactly:
    // incoming params for a partition column are dropped (never written)
    // and an existing entry survives verbatim — no prefix reset, since the
    // reference's reset only runs for found storage-descriptor columns.
    val sink = new Sinks.JsonMetadataSink(tmp().toString)
    // pre-partition-era entry for the column that later becomes a partition
    sink.upsert("t", "DQP__",
      Map("DQP__Size" -> "1.0"),
      Map("day" -> Map("DQP__Completeness" -> "0.9", "comment" -> "keep")))
    sink.upsert("t", "DQP__",
      Map("DQP__Size" -> "2.0"),
      Map(
        "day" -> Map("DQP__Completeness" -> "1.0"),
        "c" -> Map("DQP__Maximum" -> "3.0")),
      partitionCols = Set("day"))
    val meta = sink.read("t")
    assert(meta.tableParams("DQP__Size") == "2.0")
    // partition column: new params dropped, old entry intact (no reset)
    assert(meta.columnParams("day") ==
      Map("DQP__Completeness" -> "0.9", "comment" -> "keep"))
    // ordinary column: written as usual
    assert(meta.columnParams("c") == Map("DQP__Maximum" -> "3.0"))
  }

  test("metadata upsert replaces the file atomically and leaves no temp file") {
    val dir = tmp()
    val sink = new Sinks.JsonMetadataSink(dir.toString)
    sink.upsert("t", "DQP__", Map("DQP__Size" -> "1.0"), Map.empty)
    sink.upsert("t", "DQP__", Map("DQP__Size" -> "2.0"), Map.empty)
    assert(sink.read("t").tableParams == Map("DQP__Size" -> "2.0"))
    assert(RunnerSpec.entries(dir) == Seq("t.json"))
  }

  test("metadata upsert skips entirely when there are no table metrics") {
    val sink = new Sinks.JsonMetadataSink(tmp().toString)
    sink.upsert("t", "DQP__", Map.empty, Map("c" -> Map("DQP__X" -> "1")))
    assert(sink.read("t").columnParams.isEmpty)
  }

  test("enrich adds run identity with 24h timestamps") {
    import spark.implicits._
    val m = Seq(("Column", "a", "Size", 1.0)).toDF("entity", "instance", "name", "value")
    val run = OffsetDateTime.of(2026, 8, 12, 13, 5, 6, 0, ZoneOffset.UTC)
    val row = Sinks.enrich(m, "db", "t", run).head()
    assert(row.getAs[String]("db_name") == "db")
    assert(row.getAs[java.sql.Date]("profiler_run_dt").toString == "2026-08-12")
    // hh (12-hour, the reference's bug) would render 01:05:06
    assert(row.getAs[java.sql.Timestamp]("profiler_run_ts").toString startsWith "2026-08-12 13:05:06")
  }
}

object RunnerSpec {
  def entries(dir: Path): Seq[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally ls.close()
  }
}

class RunnerSpec extends SparkSuite with TimeLimits {
  test("parseArgs: required flags, defaults, unknowns") {
    assert(Runner.parseArgs(Array()).isLeft)
    assert(Runner.parseArgs(Array("--dbName", "x")).isLeft)
    val ok = Runner.parseArgs(Array(
      "--dbName", "/d", "--outPrefix", "/o", "--compExp", "true",
      "--noOfBins", "7", "--region", "eu-west-1"))
    assert(ok == Right(Runner.RunnerArgs(
      dbName = "/d", outPrefix = "/o", compExp = true, noOfBins = 7)))
    assert(Runner.parseArgs(Array("--dbName", "/d", "--outPrefix", "/o", "--bogus", "1")).isLeft)
    // malformed values are usage errors naming the flag and the exception
    // class, not exceptions out of the parser
    val base = Array("--dbName", "/d", "--outPrefix", "/o")
    val badBool = Runner.parseArgs(base ++ Array("--compExp", "yes"))
    assert(badBool.left.exists(m => m.contains("--compExp") &&
      m.contains("IllegalArgumentException")), badBool)
    val badInt = Runner.parseArgs(base ++ Array("--noOfBins", "ten"))
    assert(badInt.left.exists(m => m.contains("--noOfBins") &&
      m.contains("NumberFormatException")), badInt)
    assert(Runner.parseArgs(base ++ Array("--tableParallelism", "")).isLeft)
    for (v <- Seq("0", "-3")) {
      val bad = Runner.parseArgs(base ++ Array("--tableParallelism", v))
      assert(bad.left.exists(m => m.contains("--tableParallelism") && m.contains(v)), bad)
    }
    // values that would silently drop metrics are usage errors too
    for (flag <- Seq("--noOfBins", "--quantiles"); v <- Seq("0", "-1")) {
      val bad = Runner.parseArgs(base ++ Array(flag, v))
      assert(bad.left.exists(_.contains(flag.stripPrefix("--"))), bad)
    }
    assert(Runner.parseArgs(base ++ Array("--noOfBins", "1", "--quantiles", "1")).isRight)
  }

  test("parallel table loop produces the same results and sinks as sequential") {
    val out = Files.createTempDirectory("graft-runner-par").toString
    val catalog = new ParquetDirCatalog(spark, sf001Dir)
    val args = Runner.RunnerArgs(
      dbName = sf001Dir, outPrefix = out, tableParallelism = 4)
    val runDt = OffsetDateTime.of(2026, 8, 12, 0, 0, 0, 0, ZoneOffset.UTC)
    val par = Runner.run(spark, catalog, args, runDt)
    val seqOut = Files.createTempDirectory("graft-runner-seq").toString
    val seq = Runner.run(
      spark, catalog, args.copy(outPrefix = seqOut, tableParallelism = 1), runDt)
    assert(par == seq)
    assert(par.values.forall(_ > 0), s"some tables failed: $par")
    // both sinks produced the same metadata per table
    catalog.listTables.foreach { t =>
      val a = new Sinks.JsonMetadataSink(s"${out}_metadata").read(t)
      val b = new Sinks.JsonMetadataSink(s"${seqOut}_metadata").read(t)
      assert(a == b, s"metadata diverged for $t")
    }
  }

  test("end-to-end: profile a small catalog into partitioned parquet + metadata") {
    val out = Files.createTempDirectory("graft-runner").toString
    val catalog = new ParquetDirCatalog(spark, sf001Dir)
    assert(catalog.listTables.contains("lineitem"))
    val args = Runner.RunnerArgs(
      dbName = sf001Dir, outPrefix = out, compExp = false)
    val results = Runner.run(spark, catalog, args,
      OffsetDateTime.of(2026, 8, 12, 0, 0, 0, 0, ZoneOffset.UTC))
    assert(results.values.forall(_ > 0), s"some tables failed: $results")
    // partitioned layout + readable round trip with partition pruning
    val back = spark.read.parquet(out)
    assert(back.where(back("table_name") === "region").count() > 0)
    // metadata sink wrote prefixed params
    val meta = new Sinks.JsonMetadataSink(s"${out}_metadata").read("region")
    assert(meta.tableParams.keySet.contains("DQP__Size"))
    assert(meta.columnParams.nonEmpty)
  }

  test("a fatal error in one table fails the parallel run instead of hanging it") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-runner-fatal").toString
    val catalog = new TableCatalog {
      def name = "fatal"
      def listTables = Seq("ok", "deep")
      def load(t: String) =
        if (t == "deep") throw new StackOverflowError("deep plan")
        else Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    }
    val args = Runner.RunnerArgs(dbName = "fatal", outPrefix = out, tableParallelism = 2)
    // ThreadSignaler interrupts the test thread, so a hung run fails this
    // test instead of stalling the suite
    val e = failAfter(Span(120, Seconds)) {
      intercept[StackOverflowError](Runner.run(spark, catalog, args))
    }(ThreadSignaler)
    assert(e.getMessage == "deep plan")
    // the table that did publish left a complete file, no temp file
    assert(RunnerSpec.entries(Paths.get(s"${out}_metadata")) == Seq("ok.json"))
  }

  test("a table that throws fails alone, and its line names the exception class") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-runner-fail").toString
    val catalog = new TableCatalog {
      def name = "failing"
      def listTables = Seq("a", "bad", "c")
      def load(t: String) =
        if (t == "bad") throw new UnsupportedOperationException() // null message
        else Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    }
    val args = Runner.RunnerArgs(dbName = "failing", outPrefix = out, tableParallelism = 2)
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val results =
      try Runner.run(spark, catalog, args)
      finally System.setErr(stderr)
    assert(results("bad") == -1)
    assert(results("a") > 0 && results("c") > 0, results)
    assert(RunnerSpec.entries(Paths.get(s"${out}_metadata")) == Seq("a.json", "c.json"))
    val line = err.toString.linesIterator.find(_.contains("table bad failed")).getOrElse("")
    assert(line.contains("java.lang.UnsupportedOperationException"), err.toString)
  }
}

class CatalogFormatsSpec extends SparkSuite {
  test("catalog profiles csv and json tables end-to-end; parquet wins on name clash") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val df = Seq((1L, "x", 2.5), (2L, "y", 3.5), (3L, null.asInstanceOf[String], 4.5))
      .toDF("id", "s", "v")
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(s"$dir/t_csv.csv")
    df.coalesce(1).write.mode("overwrite").json(s"$dir/t_json.json")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/both.parquet")
    df.limit(1).coalesce(1).write.option("header", "true").mode("overwrite").csv(s"$dir/both.csv")
    val cat = new graft.profiler.ParquetDirCatalog(spark, dir)
    assert(cat.listTables == Seq("both", "t_csv", "t_json"))
    // name clash: parquet (3 rows) beats csv (1 row)
    assert(cat.load("both").count() == 3)
    // the profile battery runs unchanged on inferred-schema sources
    for (t <- Seq("t_csv", "t_json")) {
      val rows = graft.profiler.Profiler.metrics(
        cat.load(t), graft.profiler.ProfilerConfig(), Set("size", "completeness"))
      val size = rows.find(_.name == "Size").get.value
      assert(size == 3.0, s"$t size")
      val comp = rows.filter(_.name == "Completeness").map(r => r.instance -> r.value).toMap
      assert(comp("v") == 1.0 && comp("s") == 2.0 / 3.0, s"$t completeness")
    }
    intercept[IllegalArgumentException] { cat.load("missing") }
  }

  test("a missing or non-directory catalog path fails loudly; an empty directory lists no tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    assert(new ParquetDirCatalog(spark, dir).listTables.isEmpty)
    val file = java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "t.parquet")).toString
    for (path <- Seq(s"$dir/typo", file)) {
      val e = intercept[IllegalArgumentException](new ParquetDirCatalog(spark, path).listTables)
      assert(e.getMessage.contains(path), e.getMessage)
    }
  }
}

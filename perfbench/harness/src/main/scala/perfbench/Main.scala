package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.profiler.{ParquetDirCatalog, Runner, TableCatalog}

/** One benchmark pass in a fresh JVM: build the session the way
  * `Runner.main` does, time the workload's calls into the engine's public
  * entry points, and write what the checks and the report need as JSON.
  *
  * Usage: perfbench.Main <workload> <dataDir> <outDir> <resultJson> <cores> <trace 0|1>
  * where workload `setup` only builds the session.
  */
object Main {

  val CurationKeys: Seq[String] = Seq(
    "substring_dup", "substring_dup_chunked", "self_repeat", "self_repeat_chunked",
    "quantiles_exact", "mad_outliers", "data_recipe")

  /** Layer of a curation key's own jobs (the ones the benchmark's collect
    * issues); jobs the engine issues inside the key keep their call-site
    * layer. */
  def keyLayer(key: String): String =
    if (key == "quantiles_exact" || key == "mad_outliers") "quantiles" else "ops"

  /** Run timestamps of the Runner passes: a day-1 publish, a day-2 re-run. */
  val RunDays: Seq[OffsetDateTime] =
    Seq(OffsetDateTime.of(2024, 1, 1, 6, 0, 0, 0, ZoneOffset.UTC),
      OffsetDateTime.of(2024, 1, 2, 6, 0, 0, 0, ZoneOffset.UTC))

  def runnerArgs(workload: String, data: String, out: String, cores: Int): Option[(Runner.RunnerArgs, Int)] = {
    val base = Runner.RunnerArgs(dbName = data, outPrefix = s"$out/metrics")
    workload match {
      case "catalog_sf01" => Some(base -> 1)
      case "wide_catalog" =>
        Some(base.copy(compExp = true, profileUnsupportedTypes = true, tableParallelism = cores) -> 2)
      case _ => None
    }
  }

  /** The session `Runner.main` builds, at `cores` threads. */
  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "1000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** CPU seconds all threads of this JVM have used since it was launched. */
  def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Process-level counters read at both ends of the timed region. */
  final class Meters {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    private def compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    heapPools.foreach(_.resetPeakUsage())
    private val cpu0 = processCpuSeconds
    private val gc0 = gcMs
    private val compiles0 = compiles

    def cpuSeconds: Double = processCpuSeconds - cpu0
    def gcSeconds: Double = (gcMs - gc0) / 1e3
    def codegenCompiles: Long = compiles - compiles0
    def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble / 1024.0 }
      .getOrElse(0.0)

  private def epochSeconds(i: Instant): Double = i.getEpochSecond + i.getNano / 1e9

  def main(argv: Array[String]): Unit = {
    val Array(workload, data, out, resultPath, coresArg, traceArg) = argv
    val cores = coresArg.toInt
    val spark = session(cores, out)
    val ready = epochSeconds(Instant.now())
    val readyCpu = processCpuSeconds
    val sc = spark.sparkContext
    val trace = if (traceArg == "1") Some(Trace.install(spark)) else None
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("workload", workload)
    result.put("ready_epoch_s", ready)
    result.put("ready_cpu_s", readyCpu)
    // a set-up-only pass: JVM start to a ready session, nothing timed
    if (workload == "setup") {
      writeJson(Paths.get(resultPath), result)
      spark.stop()
      return
    }
    try {
      val meters = new Meters
      val regionStart = System.currentTimeMillis()
      val t0 = System.nanoTime()

      // ---- timed region: calls into the engine only ----
      val runs = runnerArgs(workload, data, out, cores).toSeq.flatMap { case (args, passes) =>
        RunDays.take(passes).map { day =>
          val catalog: TableCatalog = {
            val c = new ParquetDirCatalog(spark, data)
            trace.fold[TableCatalog](c)(t => new TracedCatalog(c, sc, t))
          }
          val start = System.currentTimeMillis()
          val counts = Runner.run(spark, catalog, args, day)
          val end = System.currentTimeMillis()
          // metadata files' mtimes mark when each table's upsert finished;
          // read only in traced runs
          val metaDone = trace.fold(Map.empty[String, Long])(_ =>
            counts.keys.map(t => t -> metaMtime(s"${args.outPrefix}_metadata", t)).toMap)
          (day, args, counts, Report.RunnerCall(start, end, metaDone))
        }
      }
      val keys = if (workload != "curation_keys") Nil else CurationKeys.map { key =>
        sc.setLocalProperty(Trace.TagKey, key)
        sc.setLocalProperty(Trace.LayerKey, keyLayer(key))
        val start = System.currentTimeMillis()
        val res =
          try {
            val df = SparkEntry.queries(key)(spark, data)
            Right(df.schema -> df.collect())
          } catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        (Report.Window(key, start, System.currentTimeMillis()), res)
      }
      sc.setLocalProperty(Trace.TagKey, null)
      sc.setLocalProperty(Trace.LayerKey, null)

      val wall = (System.nanoTime() - t0) / 1e9
      val regionEnd = System.currentTimeMillis()
      // ---- end of timed region ----

      result.put("wall_s", wall)
      result.put("cpu_s", meters.cpuSeconds)
      val rss = peakRssMb
      result.put("peak_rss_mb", rss)
      // reduce the trace before the result writes below add jobs of their own
      trace.foreach { t =>
        t.drain(120000)(Trace.sentinelJob(sc))
        result.put("per_layer", Report.perLayer(t, regionStart, regionEnd, cores, meters,
          runs.map(_._4), keys.map(_._1), filesUnder(s"$out/metrics"), rss))
      }

      val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      result.put("runs", runs.map { case (day, args, counts, _) =>
        Map("run_ts" -> day.format(tsFmt), "db_name" -> new ParquetDirCatalog(spark, data).name,
          "metrics_dir" -> args.outPrefix, "metadata_dir" -> s"${args.outPrefix}_metadata",
          "stats_prefix" -> args.statsPrefix,
          "profile_unsupported_types" -> args.profileUnsupportedTypes,
          "tables" -> counts)
      })
      result.put("keys", keys.map { case (window, res) =>
        val key = window.tag
        val dir = s"$out/keys/$key"
        val error = res match {
          case Left(err) => Some(err)
          case Right((schema, rows)) =>
            try {
              spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
                .coalesce(1).write.mode("overwrite").parquet(dir)
              None
            } catch { case NonFatal(e) => Some(s"write failed: ${e.getMessage}") }
        }
        Map("key" -> key, "dir" -> dir,
          "oracle_sql" -> SparkEntry.oracleSql.get(key), "error" -> error)
      })
    } finally {
      writeJson(Paths.get(resultPath), result)
      spark.stop()
    }
  }

  private def metaMtime(dir: String, table: String): Long = {
    val p = Paths.get(dir, s"$table.json")
    if (Files.exists(p)) Files.getLastModifiedTime(p).toMillis else 0L
  }

  private def filesUnder(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.count(p => p.getFileName.toString.endsWith(".parquet")).toLong
      finally walk.close()
    }
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case m: java.util.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case Some(x) => toJava(x)
    case None => null
    case x => x
  }

  def writeJson(path: Path, value: Any): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(path.toFile, toJava(value))
  }
}

package graft.profiler

import java.time.{OffsetDateTime, ZoneOffset}

import org.apache.spark.sql.SparkSession

/** The multi-table orchestration driver — the rebuild of the reference's
  * `main` + per-table loops (Profiler.scala:76-253), minus AWS:
  * enumerate the catalog, profile each table, publish each table's metrics
  * to the partitioned parquet sink and the metadata sink.
  *
  * Differences from the reference, on purpose:
  *   - compute→publish per table instead of compute-all-then-publish-all
  *     (bounds driver memory on wide databases, SURVEY.md §3.1 note);
  *   - immutable [[RunnerArgs]] threaded explicitly instead of mutable
  *     object-level config vars (Profiler.scala:130-137);
  *   - tables profile independently, so a malformed table logs and skips
  *     rather than aborting the run.
  */
object Runner {

  /** CLI surface mirroring the reference flags (CommandLineArgs.scala:21-30;
    * defaults README.md:54-63). `dbName` is a parquet directory here;
    * `outPrefix` replaces `s3BucketPrefix`; `region` has no meaning without
    * AWS and is accepted-and-ignored for drop-in compatibility.
    * `tableParallelism` is new: the reference profiles strictly
    * sequentially (Profiler.scala:172-175), which at a 500-table catalog is
    * wall-clock × tables; >1 profiles that many tables concurrently
    * (Spark schedules jobs from multiple driver threads fine). Default 1
    * for reference parity. */
  final case class RunnerArgs(
      dbName: String = "",
      outPrefix: String = "",
      compExp: Boolean = false,
      statsPrefix: String = "DQP",
      profileUnsupportedTypes: Boolean = false,
      noOfBins: Int = 10,
      quantiles: Int = 10,
      tableParallelism: Int = 1) {
    def cfg: ProfilerConfig = ProfilerConfig(
      compExp, statsPrefix, profileUnsupportedTypes, noOfBins, quantiles)
  }

  /** Hand-rolled `--flag value` parser (no scopt in the environment). A
    * malformed value is a usage error (`Left`), not an exception; the
    * message carries the exception's class, since its message may be null. */
  def parseArgs(args: Array[String]): Either[String, RunnerArgs] = {
    def read[T](flag: String, v: String)(p: String => T): Either[String, T] =
      scala.util.Try(p(v)).toEither.left.map(e => s"bad value for $flag: '$v' ($e)")
    def loop(rest: List[String], acc: RunnerArgs): Either[String, RunnerArgs] =
      rest match {
        case Nil =>
          if (acc.dbName.isEmpty) Left("--dbName is required")
          else if (acc.outPrefix.isEmpty) Left("--outPrefix is required")
          else Right(acc)
        case "--dbName" :: v :: t => loop(t, acc.copy(dbName = v))
        case "--outPrefix" :: v :: t => loop(t, acc.copy(outPrefix = v))
        case "--region" :: _ :: t => loop(t, acc) // accepted, ignored
        case (f @ "--compExp") :: v :: t =>
          read(f, v)(_.toBoolean).flatMap(b => loop(t, acc.copy(compExp = b)))
        case "--statsPrefix" :: v :: t => loop(t, acc.copy(statsPrefix = v))
        case (f @ "--profileUnsupportedTypes") :: v :: t =>
          read(f, v)(_.toBoolean).flatMap(b => loop(t, acc.copy(profileUnsupportedTypes = b)))
        case (f @ "--noOfBins") :: v :: t =>
          read(f, v)(_.toInt).flatMap(n => loop(t, acc.copy(noOfBins = n)))
        case (f @ "--quantiles") :: v :: t =>
          read(f, v)(_.toInt).flatMap(n => loop(t, acc.copy(quantiles = n)))
        case (f @ "--tableParallelism") :: v :: t =>
          read(f, v)(_.toInt).flatMap(n => loop(t, acc.copy(tableParallelism = n)))
        case other :: _ => Left(s"unknown argument: $other")
      }
    loop(args.toList, RunnerArgs())
  }

  /** The reference's main loop as ONE relation (Profiler.scala:166-253,
    * minus the sinks): enumerate the catalog, profile every table with the
    * given metric families, and union the per-table metric relations with
    * `(db_name, table_name)` identity columns — the queryable flagship
    * complement of [[run]]'s publish path. Per-table batteries each reduce
    * their table before the union, so the result stays metadata-sized no
    * matter the catalog's data volume; tables profile as independent jobs
    * exactly like [[run]]'s loop. */
  def profileAllTables(
      spark: SparkSession,
      catalog: TableCatalog,
      cfg: ProfilerConfig,
      fams: Set[String],
      tableParallelism: Int = 4): org.apache.spark.sql.DataFrame = {
    val tables = catalog.listTables
    require(tables.nonEmpty, s"catalog ${catalog.name} has no tables")
    // per-table batteries are independent Spark jobs; results are
    // assembled in listTables order so the union is deterministic
    val per = graft.Par.map(spark, tables, tableParallelism) { t =>
      val rows = Profiler.metrics(catalog.load(t), cfg, fams)
      Profiler.metricsDF(spark, rows)
        .withColumn("db_name", org.apache.spark.sql.functions.lit(catalog.name))
        .withColumn("table_name", org.apache.spark.sql.functions.lit(t))
    }
    per.reduce(_.unionByName(_))
  }

  /** Profile every table of `catalog` and publish (one run timestamp for
    * the whole run, like the reference's run_dt, Profiler.scala:74).
    * Returns (table → metric row count) for observability. */
  def run(
      spark: SparkSession,
      catalog: TableCatalog,
      args: RunnerArgs,
      runDt: OffsetDateTime = OffsetDateTime.now(ZoneOffset.UTC)): Map[String, Int] = {
    val cfg = args.cfg
    val parquetSink = new Sinks.MetricsParquetSink(args.outPrefix)
    // sibling dir, not inside the parquet root — a stray non-parquet
    // directory there breaks Hive-style partition discovery on read
    val metaSink = new Sinks.JsonMetadataSink(s"${args.outPrefix}_metadata")
    def profileOne(table: String): (String, Int) = {
      val n =
        try {
          val df = catalog.load(table)
          val rows = Profiler.metrics(df, cfg, Profiler.referenceBattery)
          val metrics = Profiler.profileRelation(spark, rows, df)
          parquetSink.write(
            Sinks.enrich(metrics, catalog.name, table, runDt), catalog.name, table)
          val (tableParams, columnParams) = Sinks.toParams(rows, cfg)
          metaSink.upsert(table, cfg.statsPrefix + "__", tableParams, columnParams)
          rows.size
        } catch {
          case e: Exception =>
            System.err.println(s"[runner] table $table failed: ${e.getMessage}")
            -1
        }
      table -> n
    }
    // per-table sinks touch disjoint paths, so tables publish concurrently
    graft.Par.map(spark, catalog.listTables, args.tableParallelism)(profileOne).toMap
  }

  def main(argv: Array[String]): Unit =
    parseArgs(argv) match {
      case Left(err) =>
        System.err.println(
          s"error: $err\nusage: Runner --dbName <parquetDir> --outPrefix <outDir> " +
            "[--compExp bool] [--statsPrefix s] [--profileUnsupportedTypes bool] " +
            "[--noOfBins n] [--quantiles n] [--tableParallelism n]")
        sys.exit(2)
      case Right(args) =>
        val spark = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.codegen.maxFields", "1000")
          // TIMESTAMP(NANOS) parquet (events table) is unreadable as a
          // Spark timestamp; as a raw long the column profiles numerically.
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try {
          val results = Runner.run(spark, new ParquetDirCatalog(spark, args.dbName), args)
          results.toSeq.sortBy(_._1).foreach { case (t, n) =>
            println(s"$t: ${if (n < 0) "FAILED" else s"$n metrics"}")
          }
          if (results.valuesIterator.exists(_ < 0)) sys.exit(1)
        } finally spark.stop()
    }
}

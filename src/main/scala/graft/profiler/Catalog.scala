package graft.profiler

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog abstraction (reference R1/R2: Glue `GetTables` +
  * `spark.sqlContext.table`, Glue.java:154-171 / Profiler.scala:188-195,
  * 263). The engine profiles "every table of one database"; what a database
  * IS stays behind this trait so the zero-egress build can use a directory
  * of parquet files while a cluster build would plug in the session
  * catalog. */
trait TableCatalog {
  def name: String
  def listTables: Seq[String]
  def load(table: String): DataFrame
}

/** A directory of data files as a database: `<table>.parquet`,
  * `<table>.csv` (header row, schema inferred) or `<table>.json`
  * (JSON-lines, schema inferred) — the format dispatch the reference
  * delegates to each Glue table's SerDe (Profiler.scala:263 profiles
  * whatever `spark.table` yields; format never reaches the analyzer
  * layer). When a table name exists in several formats, parquet wins
  * (it carries exact types; the text formats infer). */
final class ParquetDirCatalog(spark: SparkSession, dir: String) extends TableCatalog {

  /** extension -> loader, in priority order. */
  private val formats: Seq[(String, String => DataFrame)] = Seq(
    ".parquet" -> (p => spark.read.parquet(p)),
    ".csv" -> (p => spark.read.option("header", "true").option("inferSchema", "true").csv(p)),
    ".json" -> (p => spark.read.json(p)))

  override def name: String =
    dir.split('/').filter(_.nonEmpty).lastOption.getOrElse(dir)

  /** A missing database fails loudly, as Glue `GetTables` does: a typo'd
    * path must not read as an empty catalog. */
  private def files: Seq[String] = {
    val listed = new java.io.File(dir).listFiles()
    if (listed == null)
      throw new IllegalArgumentException(s"catalog directory $dir does not exist or is not a directory")
    listed.iterator.map(_.getName).toSeq
  }

  override def listTables: Seq[String] = {
    val fs = files
    formats.flatMap { case (ext, _) =>
      fs.filter(_.endsWith(ext)).map(_.stripSuffix(ext))
    }.distinct.sorted
  }

  override def load(table: String): DataFrame = {
    val fs = files.toSet
    formats.collectFirst {
      case (ext, loader) if fs.contains(table + ext) => loader(s"$dir/$table$ext")
    }.getOrElse(
      throw new IllegalArgumentException(s"no data file for table '$table' in $dir"))
  }
}

/** The session catalog as a database — the cluster-mode equivalent
  * (reference local path, Profiler.scala:188-195). */
final class SparkSessionCatalog(spark: SparkSession, db: String) extends TableCatalog {
  override def name: String = db
  override def listTables: Seq[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSeq.sorted
  override def load(table: String): DataFrame = spark.table(s"$db.$table")
}

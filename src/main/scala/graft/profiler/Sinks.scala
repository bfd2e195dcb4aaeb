package graft.profiler

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.OffsetDateTime
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Publication side of the engine (reference R8/R12/R13).
  *
  * Two sinks, like the reference:
  *   - [[MetricsParquetSink]]: run-stamped metrics relation appended as
  *     Hive-style path-partitioned parquet
  *     (`db_name=<db>/table_name=<t>/`, Profiler.scala:232-252).
  *   - [[MetadataSink]]: per-table/per-column key-value parameters — the
  *     Glue `Parameters` upsert (Glue.java:38-151) reproduced against a
  *     local JSON store, same merge/reset semantics, no network.
  */
object Sinks {

  /** Metric rows → parameter maps (reference Profiler.scala:203-225):
    * table params from Dataset-entity rows, column params keyed by column
    * name from Column-entity rows; keys are `prefix__MetricName`. Values
    * use the Double's string form, as the reference does. */
  def toParams(
      rows: Seq[MetricRow],
      cfg: ProfilerConfig): (Map[String, String], Map[String, Map[String, String]]) = {
    val table = rows.collect {
      case MetricRow("Dataset", _, name, v) => cfg.prefixedKey(name) -> v.toString
    }.toMap
    val columns = rows
      .collect { case m @ MetricRow("Column", _, _, _) => m }
      .groupBy(_.instance)
      .map { case (c, ms) =>
        c -> ms.map(m => cfg.prefixedKey(m.name) -> m.value.toString).toMap
      }
    (table, columns)
  }

  /** Enrich a metrics relation with run identity before the parquet sink
    * (reference R8, Profiler.scala:234-242): db/table literals plus run
    * date and timestamp columns. `run_ts` is the run's wall clock to the
    * second (24-hour `HH`, a deliberate divergence from the reference's
    * `hh` 12-hour-clock bug, SURVEY.md §1.4.2) read in the session time
    * zone. Typed literals, not string casts, so both columns stay
    * non-nullable whatever plan the metrics relation has. */
  def enrich(
      metrics: DataFrame,
      dbName: String,
      tableName: String,
      runDt: OffsetDateTime): DataFrame =
    metrics
      .withColumn("db_name", lit(dbName))
      .withColumn("table_name", lit(tableName))
      .withColumn("profiler_run_dt", lit(runDt.toLocalDate))
      .withColumn("profiler_run_ts",
        lit(runDt.toLocalDateTime.truncatedTo(ChronoUnit.SECONDS)).cast(TimestampType))

  /** Hive-style path-partitioned append (reference R12,
    * Profiler.scala:244-251): partition values encoded in the path so
    * downstream reads prune, `coalesce(1)` because a profile is tiny — one
    * file per (db, table, run). */
  final class MetricsParquetSink(rootDir: String) {
    def write(enriched: DataFrame, dbName: String, tableName: String): Unit =
      enriched
        .coalesce(1)
        .write.mode("append")
        .parquet(s"$rootDir/db_name=$dbName/table_name=$tableName")
  }

  /** Bucketed-table sink — the co-located-join enabler at scale: two
    * tables bucketed (and sorted) on the same key into the same bucket
    * count join WITHOUT a shuffle or a sort on either side; at 100 TB the
    * exchange this removes is usually the whole query cost. Bucketing only
    * takes effect through the session catalog (`saveAsTable` — plain
    * path-based parquet cannot carry bucket metadata), so callers pass a
    * table name, with an optional explicit path for external tables.
    * Asserted shuffle-free in PlanAuditSpec. */
  object BucketedSink {
    def write(
        df: DataFrame,
        table: String,
        bucketCol: String,
        buckets: Int,
        path: Option[String] = None): Unit = {
      require(buckets > 0, "buckets must be positive")
      val w = df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
      path.fold(w)(p => w.option("path", p)).saveAsTable(table)
    }
  }

  /** Key-value metadata upsert (reference R13, Glue.java:38-151). */
  trait MetadataSink {
    /** Reference semantics: skip entirely when there are no table metrics
      * (Glue.java:46-49); MERGE new table params over existing ones
      * (Glue.java:67-80); per column, DELETE every existing param starting
      * with the stats prefix, then add the new ones — other params survive
      * (Glue.java:101-139).
      *
      * `partitionCols`: Glue cannot carry parameters on partition columns
      * (InvalidInputException, documented Glue.java:89-93), so the
      * reference iterates only the storage-descriptor columns and a metric
      * for a partition column falls to the "Column Not Found" skip
      * (Glue.java:102-137) — its params reach ONLY the parquet sink.
      * Mirrored here: incoming params for a partition column are dropped
      * and any existing entry for it is left untouched (no prefix reset). */
    def upsert(
        table: String,
        prefix: String,
        tableParams: Map[String, String],
        columnParams: Map[String, Map[String, String]],
        partitionCols: Set[String] = Set.empty): Unit
  }

  /** JSON-file-per-table implementation of the Glue upsert for the
    * zero-egress environment. Not a Spark job on purpose: metadata I/O is
    * driver-side in the reference too. */
  final class JsonMetadataSink(dir: String) extends MetadataSink {
    Files.createDirectories(Paths.get(dir))

    private def path(table: String) = Paths.get(dir, s"$table.json")

    override def upsert(
        table: String,
        prefix: String,
        tableParams: Map[String, String],
        columnParams: Map[String, Map[String, String]],
        partitionCols: Set[String]): Unit = {
      if (tableParams.isEmpty) return // Glue.java:46-49
      val existing = read(table)
      val mergedTable = existing.tableParams ++ tableParams // Glue.java:67-80
      // partition columns are not storage-descriptor columns: their params
      // are skipped and existing entries untouched (Glue.java:89-93, 102-137)
      val writable = columnParams -- partitionCols
      val allColumns = existing.columnParams.keySet ++ writable.keySet
      val mergedColumns = allColumns.map { c =>
        if (partitionCols(c)) c -> existing.columnParams.getOrElse(c, Map.empty)
        else {
          val kept = existing.columnParams.getOrElse(c, Map.empty)
            .filterNot { case (k, _) => k.startsWith(prefix) } // Glue.java:101-120
          c -> (kept ++ writable.getOrElse(c, Map.empty))
        }
      }.toMap
      write(table, TableMeta(mergedTable, mergedColumns))
    }

    final case class TableMeta(
        tableParams: Map[String, String],
        columnParams: Map[String, Map[String, String]])

    def read(table: String): TableMeta = {
      val p = path(table)
      if (!Files.exists(p)) TableMeta(Map.empty, Map.empty)
      else parse(Files.readString(p))
    }

    // temp file in the same directory, then one atomic rename: a crash
    // mid-write leaves the previous file intact, never a truncated JSON
    // that every later upsert of the table fails to parse
    private def write(table: String, meta: TableMeta): Unit = {
      val tmp = Paths.get(dir, s".$table.json.${java.util.UUID.randomUUID()}.tmp")
      try {
        Files.writeString(tmp, render(meta))
        Files.move(tmp, path(table),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } finally { Files.deleteIfExists(tmp); () }
    }

    // -- minimal flat JSON (two-level string maps only; keys escaped) --

    private def esc(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    private def renderMap(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
        .mkString("{", ", ", "}")

    private def render(meta: TableMeta): String = {
      val cols = meta.columnParams.toSeq.sortBy(_._1)
        .map { case (c, m) => s"${esc(c)}: ${renderMap(m)}" }
        .mkString("{", ", ", "}")
      s"""{"tableParameters": ${renderMap(meta.tableParams)}, "columns": $cols}"""
    }

    private def parse(json: String): TableMeta = {
      // Parse with Jackson (ships with Spark) — hand-rolling a JSON parser
      // is where the bugs live.
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(json)
      def toMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      val tp = Option(root.get("tableParameters")).map(toMap).getOrElse(Map.empty)
      val cols = Option(root.get("columns")).map { cnode =>
        cnode.properties().asScala.map(e => e.getKey -> toMap(e.getValue)).toMap
      }.getOrElse(Map.empty)
      TableMeta(tp, cols)
    }
  }
}

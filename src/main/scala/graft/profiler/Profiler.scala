package graft.profiler

import org.apache.spark.sql.{DataFrame, Row, SessionBridge, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The profiling engine: composes the scan-shareable pass ([[ScanMetrics]],
  * one wide aggregation) with the per-column frequency passes
  * ([[FreqMetrics]]) and the schema-relation join, mirroring the reference's
  * `computeProfilerStats` (reference Profiler.scala:257-311) Spark-first.
  *
  * Execution shape per table (SURVEY.md §3.2): the scan battery's passes
  * (one Plain aggregation for ALL scan-shareable metrics of ALL columns,
  * plus the Sketch and Distinct passes when requested), and — only when
  * `compExp` — ONE plan stacking every text column into a shared
  * frequency relation ([[FreqMetrics.batched]]: one stack exchange, 4
  * jobs), not Deequ's jobs per column. Metrics materialize on the driver
  * as a tiny LocalRelation, exactly like Deequ's
  * `successMetricsAsDataFrame` (SURVEY.md §4.2 "keep").
  *
  * Execution mode: a table whose plan-size estimate is under 512 KiB runs
  * its battery in a clone of its session with code generation off (see
  * [[metrics]]), where Plain and Sketch share one aggregation: 2 jobs, 3
  * more for Distinct, 2 more when the spread and its checkpoint fire.
  * Larger tables run codegen'd on the caller's session, with Plain and
  * Sketch as separate passes.
  */
object Profiler {

  /** Metric families of the single-pass scan battery, keyed by query key. */
  val scanFamilies: Set[String] = Set(
    "size", "completeness", "minimum", "maximum", "mean", "sum", "stddev_pop",
    "approx_count_distinct", "approx_quantiles", "quantiles_exact",
    "distinctness", "max_length", "min_length")

  /** Families derived from per-column frequency tables (text columns only,
    * gated on `compExp` like the reference's expensive battery). */
  val freqFamilies: Set[String] = Set(
    "count_distinct", "entropy", "unique_value_ratio", "uniqueness", "histogram")

  /** Everything with deterministic, oracle-matchable results. */
  val deterministicFamilies: Set[String] =
    scanFamilies ++ freqFamilies -- Set("approx_count_distinct", "approx_quantiles", "quantiles_exact")

  /** The reference's full battery (Deequ surface): quantiles are the APPROX
    * sketch only — `quantiles_exact` is this engine's oracle twin and runs
    * as its own query, not inside every profile (the exact percentile is a
    * per-column sort, the single most expensive analyzer). */
  val referenceBattery: Set[String] =
    scanFamilies ++ freqFamilies - "quantiles_exact"

  val allFamilies: Set[String] = scanFamilies ++ freqFamilies

  /** boolean/date → string pre-pass (reference
    * `convert_unsupported_types_to_string`, Profiler.scala:368-386). Uses the
    * plain Spark cast so observable values match the reference:
    * `"true"/"false"` and `"yyyy-MM-dd"` (SURVEY.md §1.4.7). One `select`
    * with all casts, not N `withColumn` calls. */
  def castUnsupported(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (ColumnClass.of(f.dataType) == ColumnClass.Castable)
        col(f.name).cast(StringType).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Compute the requested metric families over every applicable column.
    * This is the engine's analytical core; everything returned is exact
    * unless the family is explicitly approximate (N7/N8).
    *
    * The one execution-mode gate: a table under [[InterpretedBelowBytes]]
    * runs the battery interpreted ([[interpretedSession]]), every other
    * table runs it on the caller's session. Small tables are bound by
    * per-table fixed costs, and codegen is most of them: each new table
    * shape pays a Janino compile and the JIT warm-up of every generated
    * class, while interpreted expressions are the same Spark classes for
    * every table, so the JIT warms them once per JVM. Results are the same
    * in both modes (pinned bit-for-bit by ExecutionModeSpec). */
  def metrics(df: DataFrame, cfg: ProfilerConfig, fams: Set[String]): Seq[MetricRow] =
    battery(if (interpreted(df)) interpretedSession(df) else df, cfg, fams)

  /** Plan-size estimate under which [[metrics]] runs interpreted. Measured
    * on a 4-core VM: a catalog of 4–317 KB tables used 30 % less CPU with
    * all of them under it, while codegen off for the sf0.1 tables
    * (2–11 MB) cost about 35 %. On the sf0.1 catalog, 256 KiB, 512 KiB
    * and 1,000,000 B read the same within noise. sf0.01 `lineitem`
    * (1,042,463 B) stays above it. */
  private[graft] val InterpretedBelowBytes: BigInt = BigInt(512L << 10)

  /** Whether [[metrics]] runs `df`'s battery interpreted. The estimate is
    * the optimized plan's `sizeInBytes` (for a file scan, the files'
    * total size; no job runs). */
  private[graft] def interpreted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes < InterpretedBelowBytes

  /** `df` rebound to a clone of its session with whole-stage and
    * expression codegen off. The clone ([[org.apache.spark.sql.SessionBridge]])
    * carries the caller's runtime confs (ANSI mode changes results) and
    * query-execution listeners, so a listener on the caller sees the
    * battery's queries; it shares the SparkContext (so jobs keep the
    * thread's local properties) and the cache manager (so persisted inputs
    * stay hits). The codegen confs are set on the clone only. The frame is
    * rebound through its analyzed plan, so a frame over the caller's temp
    * view still resolves. */
  private[graft] def interpretedSession(df: DataFrame): DataFrame = {
    val child = SessionBridge.cloneSession(df.sparkSession)
    child.conf.set("spark.sql.codegen.wholeStage", "false")
    child.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    new classic.Dataset[Row](child, df.queryExecution.analyzed, df.encoder)
  }

  /** The battery of [[metrics]] on `df0`'s own session, ungated. */
  private[graft] def battery(df0: DataFrame, cfg: ProfilerConfig, fams: Set[String]): Seq[MetricRow] = {
    val df = if (cfg.profileUnsupportedTypes) castUnsupported(df0) else df0
    // quantiles_exact runs as the frequency-CDF battery (ExactQuantiles,
    // r16): same numbers as the percentile-aggregate slot it replaces
    // (bit-parity property-pinned), minus the single-threaded value-map
    // final merge that dominated the key's wall time.
    val quantRows: Seq[MetricRow] =
      if (!fams("quantiles_exact")) Nil
      else {
        val numCols = df.schema.fields.iterator
          .filter(f => ColumnClass.of(f.dataType) == ColumnClass.Numeric)
          .map(_.name).toSeq
        if (numCols.isEmpty) Nil
        else {
          val ps = ScanMetrics.quantilePs(cfg.quantiles)
          // §2.3 projection (r17): only the numeric columns ride the
          // spread exchange
          val res = ExactQuantiles.quantiles(
            ScanMetrics.spread(df.select(numCols.map(
              org.apache.spark.sql.functions.col): _*)),
            numCols.map(c => c -> org.apache.spark.sql.functions.col(c)), ps)
          numCols.flatMap(c => res(c).toSeq.flatMap(vs =>
            ps.zip(vs).map { case (p, v) =>
              MetricRow("Column", c, MetricNames.exactQuantile(p), v)
            }))
        }
      }
    val scanRows = ScanMetrics.compute(
      df, ScanMetrics.slots(df.schema, cfg, fams - "quantiles_exact")) ++
      quantRows
    val wantedFreq = fams.intersect(freqFamilies)
    val textCols = df.schema.fields.iterator
      .filter(f => ColumnClass.of(f.dataType) == ColumnClass.Text).map(_.name).toSeq
    val freqRows =
      if (wantedFreq.isEmpty || !cfg.compExp || textCols.isEmpty) Nil
      else
        // Histogram's ratio denominator is total rows n; reuse the scan
        // pass's Size when present instead of a second count job.
        FreqMetrics.batched(
          df, textCols, wantedFreq, cfg.noOfBins,
          scanRows
            .collectFirst { case MetricRow(_, _, MetricNames.Size, v) => v.toLong }
            .getOrElse(df.count()))
    scanRows ++ freqRows
  }

  /** Materialize metric rows as the metrics-relation DataFrame
    * `(entity, instance, name, value)`. */
  def metricsDF(spark: SparkSession, rows: Seq[MetricRow]): DataFrame =
    spark.createDataFrame(rows)

  /** Schema relation `(instance, type)` — one row per column of the profiled
    * table (reference `getSchemaDF`, Profiler.scala:389-409, rebuilt as a
    * single `createDataFrame` instead of a 2N-deep union tree —
    * SURVEY.md §1.4.6). Types use `catalogString` for parity. */
  def schemaDF(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(
      df.schema.fields.toIndexedSeq.map(f => (f.name, f.dataType.catalogString)))
      .toDF("instance", "type")

  /** The metrics ⟕ schema relation from ALREADY-COMPUTED metric rows — the
    * one join shape (R6, reference Profiler.scala:299-303) shared by
    * [[profile]] and Runner's publish loop, so the sink and the query
    * surface cannot drift. Both sides are already on the driver, so the
    * join is a map lookup and the result one LocalRelation: writing it
    * runs one job, not a broadcast plus the write. Columns `(entity,
    * instance, name, value, type)` in metric-row order; `value` is not
    * null, and the Dataset row (`*`) gets a null type, as in the
    * reference. */
  def profileRelation(
      spark: SparkSession,
      rows: Seq[MetricRow],
      df: DataFrame): DataFrame = {
    val types = df.schema.fields.iterator.map(f => f.name -> f.dataType.catalogString).toMap
    spark.createDataFrame(rows.map(r =>
      (r.entity, r.instance, r.name, r.value, types.get(r.instance).orNull)))
      .toDF("entity", "instance", "name", "value", "type")
  }

  /** Full profile of one table: compute the battery, then [[profileRelation]]. */
  def profile(
      spark: SparkSession,
      df: DataFrame,
      cfg: ProfilerConfig,
      fams: Set[String] = referenceBattery): DataFrame =
    profileRelation(spark, metrics(df, cfg, fams), df)
}

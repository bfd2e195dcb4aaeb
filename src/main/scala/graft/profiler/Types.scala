package graft.profiler

import org.apache.spark.sql.types._

/** One row of the metrics relation — the engine's universal output shape.
  *
  * Mirrors the reference's metrics relation (reference:
  * src/main/scala/awsdataprofiler/DataProfilerForAWSGlueDataCatalog.scala:297
  * `successMetricsAsDataFrame`, consumed at :206-207): `entity` is `"Dataset"`
  * (instance `"*"`) or `"Column"` (instance = column name), `name` is a metric
  * name from the parity table (SURVEY.md §2.A), `value` is Double.
  */
final case class MetricRow(entity: String, instance: String, name: String, value: Double)

/** Metric-name parity constants (SURVEY.md §2.A parity table). These strings
  * appear verbatim in the `name` column and — prefixed with `statsPrefix + "__"`
  * — as metadata parameter keys (reference Profiler.scala:211, 221).
  */
object MetricNames {
  val Size = "Size"
  val Completeness = "Completeness"
  val Maximum = "Maximum"
  val Minimum = "Minimum"
  val Mean = "Mean"
  val Sum = "Sum"
  val StandardDeviation = "StandardDeviation"
  val ApproxCountDistinct = "ApproxCountDistinct"
  val Distinctness = "Distinctness"
  val MaxLength = "MaxLength"
  val MinLength = "MinLength"
  val CountDistinct = "CountDistinct"
  val Entropy = "Entropy"
  val HistogramBins = "Histogram.bins"
  val UniqueValueRatio = "UniqueValueRatio"
  val Uniqueness = "Uniqueness"
  /** Null bucket label used by the Histogram analyzer (Deequ semantics,
    * SURVEY.md §2.A F3). */
  val NullBucket = "NullValue"

  def approxQuantile(p: Double): String = s"ApproxQuantiles-$p"
  def exactQuantile(p: Double): String = s"QuantilesExact-$p"
  def histogramAbs(v: String): String = s"Histogram.abs.$v"
  def histogramRatio(v: String): String = s"Histogram.ratio.$v"
}

/** The engine's core type dispatch (reference Profiler.scala:351-386
  * `isString`/`isNumeric`/`convert_unsupported_types_to_string`), done on
  * `DataType` directly instead of `catalogString` string-matching.
  */
sealed trait ColumnClass
object ColumnClass {
  /** string / varchar / char — text battery (SURVEY.md §2.A T1-T5, F1-F5). */
  case object Text extends ColumnClass
  /** all Spark numeric types — numeric battery (N1-N9). */
  case object Numeric extends ColumnClass
  /** boolean / date — cast to string iff `profileUnsupportedTypes`, then Text. */
  case object Castable extends ColumnClass
  /** timestamp, binary, nested — only table-level Size covers them. */
  case object Skipped extends ColumnClass

  def of(dt: DataType): ColumnClass = dt match {
    case StringType | _: VarcharType | _: CharType => Text
    case _: NumericType => Numeric
    case BooleanType | DateType => Castable
    case _ => Skipped
  }
}

/** Run configuration, mirroring the reference's CLI surface (reference
  * CommandLineArgs.scala:21-30; defaults per README.md:54-63). `region`,
  * `dbName` and the AWS sinks are abstracted behind [[graft.profiler.Catalog]]
  * / [[graft.profiler.Sinks]] for the zero-egress environment.
  */
final case class ProfilerConfig(
    compExp: Boolean = false,
    statsPrefix: String = "DQP",
    profileUnsupportedTypes: Boolean = false,
    noOfBins: Int = 10,
    quantiles: Int = 10) {
  // fewer would silently drop metrics: no Histogram rows at all, or an
  // empty percentile array
  require(noOfBins >= 1, s"noOfBins must be at least 1, got $noOfBins")
  require(quantiles >= 1, s"quantiles must be at least 1, got $quantiles")

  /** Reference appends two underscores once at parse time (Profiler.scala:133). */
  def prefixedKey(metric: String): String = s"${statsPrefix}__$metric"
}

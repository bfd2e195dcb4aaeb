package graft.profiler

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The exact column moments as one mergeable state, shared by the scan
  * battery ([[ScanMetrics]]' Plain pass) and the incremental profiler
  * ([[IncrementalProfiler]], stacked per column and persisted): aggregate
  * a state, derive every metric from it in one place (Deequ's analyzer
  * states, Schelter et al., PVLDB 2018). Fields over a `(v, vd, sq)`
  * triple ([[addends]]): `n` rows, `nn` values, the DECIMAL(38,6) totals
  * `dec_sum`/`dec_sum_sq`, `oor`/`oor_sq` the values outside their exact
  * range, and `mn`/`mx`; every field merges associatively.
  *
  * Determinism (SURVEY.md §7.3/§7.4.3): double summation is not
  * associative, so runs at different partitionings and the sequential
  * DuckDB oracle would disagree in the last ulps. Each addend is quantized
  * to DECIMAL(38,6) first — decimal aggregation is exact and
  * order-independent, and the oracle SQL applies the same quantization.
  * The cast is the Plain pass's floor: `BigDecimal.valueOf(d).setScale(6,
  * HALF_UP)`, a Double.toString round trip per value (~0.5 µs at sf0.1).
  * Splitting the accumulator into integer/fraction parts was measured and
  * rejected: <5% faster and NOT bit-identical, because any re-association
  * changes which decimal string gets rounded.
  */
object ColumnState {
  import MetricNames._

  val Dec: DecimalType = DecimalType(38, 6)

  // Range guards for the exact-decimal path: |x| ≤ 1e19 keeps sums of 10^12
  // rows inside DECIMAL(38,6); |x| ≤ 1e15 keeps squares inside it. Values
  // beyond that (e.g. epoch-nanos columns) would overflow the decimal cast
  // under ANSI mode, so those columns count as out of range (`oor`) and
  // get no exact Sum/Mean/StandardDeviation.
  val SumAbsBound = 1e19
  val SqAbsBound = 1e15

  /** The state-derived metric families, in metric-row order. */
  val families: Seq[String] =
    Seq("completeness", "minimum", "maximum", "mean", "sum", "stddev_pop")

  /** The state fields each family reads. */
  private val needs: Map[String, Set[String]] = {
    val sum = Set("nn", "dec_sum", "oor")
    Map("completeness" -> Set("n", "nn"), "minimum" -> Set("mn"), "maximum" -> Set("mx"),
      "mean" -> sum, "sum" -> sum, "stddev_pop" -> (sum ++ Set("dec_sum_sq", "oor_sq")))
  }

  /** `Seq(v, vd, sq)` of a native numeric column: its double value, its
    * DECIMAL(38,6) sum addend cast from the NATIVE value (exact for any
    * in-range integral or decimal, so bigints beyond 2^53 stay exact;
    * quantizes doubles like the oracle's `CAST(c AS DECIMAL(38,6))`), and
    * the square addend `CAST(double(c) * double(c) AS DECIMAL(38,6))`.
    * An addend is null when its value is out of range (NaN included). */
  def addends(c: Column): Seq[Column] = {
    val v = c.cast(DoubleType)
    Seq(
      v,
      when(abs(v) <= SumAbsBound, c.cast(Dec)),
      when(abs(v) <= SqAbsBound, (v * v).cast(Dec)))
  }

  /** The named state aggregates over `(v, vd, sq)` that `fams` need, in
    * field order; a field no requested family reads is not emitted. A
    * text column asks for Completeness only and passes its own value as
    * `v` (its addends are never read). `try_sum` turns a decimal overflow
    * into a null total instead of an ANSI error. */
  def aggs(v: Column, vd: Column, sq: Column, fams: Set[String]): Seq[Column] = {
    val want = fams.flatMap(f => needs.getOrElse(f, Set.empty[String]))
    Seq(
      "n" -> count(lit(1)),
      "nn" -> count(v),
      "dec_sum" -> try_sum(vd),
      "oor" -> count(when(v.isNotNull && vd.isNull, lit(1))),
      "dec_sum_sq" -> try_sum(sq),
      "oor_sq" -> count(when(v.isNotNull && sq.isNull, lit(1))),
      "mn" -> min(v),
      "mx" -> max(v))
      .collect { case (name, agg) if want(name) => agg.as(name) }
  }

  private def opt[T](r: Row, f: String): Option[T] =
    if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[T](f))

  /** The exactness test: a decimal total is the exact sum iff there were
    * values, none was out of range, and the total did not overflow. */
  private def exactTotal(r: Row, total: String, oor: String): Option[Double] =
    if (r.getAs[Long]("nn") > 0 && r.getAs[Long](oor) == 0)
      opt[java.math.BigDecimal](r, total).map(_.doubleValue)
    else None

  /** One `(metric name, value)` per requested family of [[families]], in
    * that order; the value is None where the state holds no exact one
    * (no rows or values, an out-of-range or overflowed total).
    *
    * This is the arithmetic Spark ran when the metrics were column
    * expressions, moved to the driver: Spark casts a decimal to double
    * with `BigDecimal.doubleValue` and evaluates `pow` with
    * `StrictMath.pow`, so every value is bit-identical. StandardDeviation
    * is the population form sqrt(E[x²] − E[x]²) (Deequ's is population,
    * SURVEY.md §2.A N6), clamped at 0 against cancellation on constant
    * columns. */
  def derive(r: Row, fams: Set[String]): Seq[(String, Option[Double])] = {
    lazy val nn = r.getAs[Long]("nn")
    lazy val sum = exactTotal(r, "dec_sum", "oor")
    lazy val sumSq = exactTotal(r, "dec_sum_sq", "oor_sq")
    families.filter(fams).map {
      case "completeness" =>
        val n = r.getAs[Long]("n")
        Completeness -> (if (n > 0) Some(nn.toDouble / n) else None)
      case "minimum" => Minimum -> opt[Double](r, "mn")
      case "maximum" => Maximum -> opt[Double](r, "mx")
      case "mean" => Mean -> sum.map(_ / nn)
      case "sum" => Sum -> sum
      case "stddev_pop" =>
        StandardDeviation -> (for (s <- sum; q <- sumSq) yield
          math.sqrt(math.max(q / nn - StrictMath.pow(s / nn, 2), 0.0)))
    }
  }
}

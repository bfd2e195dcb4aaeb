package graft.profiler

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The frequency-based metric family (SURVEY.md §2.A: F1-F5), computed from
  * ONE frequency relation `(instance, v, cnt)` shared by every text column
  * ([[FreqMetrics.batched]]) — Deequ's shared frequency table (SURVEY.md
  * §4.2), re-expressed as plain DataFrame aggregations.
  *
  * Denominator semantics are the reference contract (§2.A, §7.4.2): with
  * `nn` = non-null rows, `|V|` = distinct non-null values, `|U|` = values
  * occurring exactly once, and `n` = ALL rows:
  *
  *   - CountDistinct      = |V|
  *   - Entropy            = −Σ (f(v)/nn)·ln(f(v)/nn)
  *   - UniqueValueRatio   = |U| / |V|
  *   - Uniqueness         = |U| / nn
  *   - Histogram ratio    = f(v) / n   (null bucket included, denominator n!)
  */
object FreqMetrics {
  import MetricNames._

  /** All frequency-family metrics for ALL text columns from ONE plan.
    *
    * Instead of Deequ's one-two jobs per column (SURVEY.md §3.2 stage 4 —
    * O(columns) shuffles), the columns are stacked into `(instance, value)`
    * pairs with `stack()` and grouped once: a single hash-partitioned
    * exchange keyed on (column, bucket) carries every column's frequency
    * table. Partial aggregation still collapses hot values map-side, so the
    * shuffle volume is bounded by the total number of distinct
    * (column, value) pairs.
    *
    * The bucket is the value with nulls folded into the `"NullValue"`
    * bucket (merging with any genuine "NullValue" strings, Deequ
    * semantics), and each bucket carries two counts: all of its rows for
    * the Histogram (null-inclusive), and its non-null rows — the frequency
    * of its one distinct non-null value — for the base metrics
    * (null-exclusive). The base metrics (a `groupBy(instance)`) and the
    * histogram (a window per column) are the two branches of one union,
    * collected at once: the stack exchange runs once, read by both
    * branches, and nothing is persisted. That is 4 jobs per table with
    * both branches (the stack exchange, one exchange per branch, the
    * result).
    *
    * @param n total row count for Histogram's ratio denominator (by-name:
    *          only evaluated when the histogram family is requested).
    */
  def batched(
      df: DataFrame,
      cols: Seq[String],
      fams: Set[String],
      noOfBins: Int,
      n: => Long): Seq[MetricRow] = {
    if (cols.isEmpty || fams.isEmpty) return Nil
    val stackArgs: Seq[Column] =
      lit(cols.size) +: cols.flatMap(c => Seq(lit(c), col(c)))
    // no spread() here: the groupBy's own exchange redistributes the same
    // (instance, v) payload the spread would, so pre-spreading doubles the
    // shuffle volume to parallelize a map phase that is just stack+hash —
    // measured slower at every scale point (r3 0.39 s → r4 1.95 s for
    // single-family uniqueness at sf0.1).
    // Both counts sit in ONE struct column: column pruning then keeps the
    // same aggregate under each branch, and the branches share its exchange.
    val freq = df
      .select(stack(stackArgs: _*).as(Seq("instance", "value")))
      .groupBy(col("instance"), coalesce(col("value"), lit(NullBucket)).as("v"))
      .agg(struct(count(lit(1)).as("all"), count(col("value")).as("nn")).as("cnt"))
    val base =
      if ((fams - "histogram").isEmpty) None
      else {
        val f = col("cnt.nn")
        Some(freq.where(f > 0).groupBy("instance").agg(
          count(lit(1)).as("nv"),
          sum(f).as("nn"),
          sum(when(f === 1, 1L).otherwise(0L)).as("nu"),
          sum(f.cast(DoubleType) * log(f.cast(DoubleType))).as("slc")))
      }
    // one window yields both the capped top-N and the pre-cap bin count
    // (count over the unordered partition = all bins)
    val hist =
      if (!fams("histogram")) None
      else {
        val byCol = Window.partitionBy("instance")
        Some(freq.select(
          col("instance"), col("v"), col("cnt.all").as("cnt"),
          row_number().over(byCol.orderBy(col("cnt.all").desc, col("v").asc)).as("rn"),
          count(lit(1)).over(byCol).as("bins"))
          .where(col("rn") <= noOfBins)
          .drop("rn"))
      }
    // a base row has every histogram column null and vice versa
    val rows = (base ++ hist).reduce(_.unionByName(_, allowMissingColumns = true)).collect()
    val (histRows, baseRows) = rows.partition(r => base.isEmpty || r.isNullAt(r.fieldIndex("nv")))
    val b = Seq.newBuilder[MetricRow]
    baseRows.foreach { r =>
      val c = r.getAs[String]("instance")
      val nv = r.getAs[Long]("nv").toDouble
      val nn = r.getAs[Long]("nn").toDouble
      val nu = r.getAs[Long]("nu").toDouble
      val slc = r.getAs[Double]("slc")
      if (fams("count_distinct")) b += MetricRow("Column", c, CountDistinct, nv)
      if (fams("entropy")) b += MetricRow("Column", c, Entropy, math.log(nn) - slc / nn)
      if (fams("unique_value_ratio")) b += MetricRow("Column", c, UniqueValueRatio, nu / nv)
      if (fams("uniqueness")) b += MetricRow("Column", c, Uniqueness, nu / nn)
    }
    if (hist.nonEmpty) {
      val total = n
      histRows.groupBy(_.getAs[String]("instance")).foreach { case (c, rs) =>
        b += MetricRow("Column", c, HistogramBins, rs.head.getAs[Long]("bins").toDouble)
        rs.foreach { r =>
          val v = r.getAs[String]("v")
          val cnt = r.getAs[Long]("cnt")
          b += MetricRow("Column", c, histogramAbs(v), cnt.toDouble)
          b += MetricRow("Column", c, histogramRatio(v), cnt.toDouble / total)
        }
      }
    }
    b.result()
  }
}

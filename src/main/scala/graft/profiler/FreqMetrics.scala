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

  /** All frequency-family metrics for ALL text columns from ONE shuffle.
    *
    * Instead of Deequ's one-two jobs per column (SURVEY.md §3.2 stage 4 —
    * O(columns) shuffles), the columns are stacked into `(instance, v)`
    * pairs with `stack()` and grouped once: a single hash-partitioned
    * exchange keyed on (column, value) carries every column's frequency
    * table. Partial aggregation still collapses hot values map-side, so the
    * shuffle volume is bounded by the total number of distinct
    * (column, value) pairs — at 100 TB this turns ~2·C jobs into 1 + 3
    * small jobs over the persisted (far smaller) frequency relation.
    *
    * The histogram view re-aggregates the frequency relation on the
    * stringified value with nulls folded into the `"NullValue"` bucket
    * (merging with any genuine "NullValue" strings, Deequ semantics), so
    * base metrics (null-exclusive) and Histogram (null-inclusive) share the
    * one shuffle without semantic bleed.
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
    // single-family uniqueness at sf0.1)
    val freq = df
      .select(stack(stackArgs: _*).as(Seq("instance", "v")))
      .groupBy("instance", "v").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val b = Seq.newBuilder[MetricRow]
      if ((fams - "histogram").nonEmpty) {
        val rows = freq.where(col("v").isNotNull).groupBy("instance").agg(
          count(lit(1)).as("nv"),
          sum("cnt").as("nn"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("nu"),
          sum(col("cnt").cast(DoubleType) * log(col("cnt").cast(DoubleType))).as("slc")
        ).collect()
        rows.foreach { r =>
          val c = r.getString(0)
          val nv = r.getLong(1).toDouble
          val nn = r.getLong(2).toDouble
          val nu = r.getLong(3).toDouble
          val slc = r.getDouble(4)
          if (fams("count_distinct")) b += MetricRow("Column", c, CountDistinct, nv)
          if (fams("entropy")) b += MetricRow("Column", c, Entropy, math.log(nn) - slc / nn)
          if (fams("unique_value_ratio")) b += MetricRow("Column", c, UniqueValueRatio, nu / nv)
          if (fams("uniqueness")) b += MetricRow("Column", c, Uniqueness, nu / nn)
        }
      }
      if (fams("histogram")) {
        val total = n
        val hfreq = freq
          .select(
            col("instance"),
            coalesce(col("v").cast(StringType), lit(NullBucket)).as("v"),
            col("cnt"))
          .groupBy("instance", "v").agg(sum("cnt").as("cnt"))
        // one window job yields both the capped top-N and the pre-cap bin
        // count (count over the unordered partition = all bins)
        val byCol = Window.partitionBy("instance")
        val rows = hfreq.select(
          col("instance"), col("v"), col("cnt"),
          row_number().over(byCol.orderBy(col("cnt").desc, col("v").asc)).as("rn"),
          count(lit(1)).over(byCol).as("bins"))
          .where(col("rn") <= noOfBins)
          .collect()
        rows.groupBy(_.getString(0)).foreach { case (c, rs) =>
          b += MetricRow("Column", c, HistogramBins, rs.head.getLong(4).toDouble)
          rs.foreach { r =>
            val v = r.getString(1)
            val cnt = r.getLong(2)
            b += MetricRow("Column", c, histogramAbs(v), cnt.toDouble)
            b += MetricRow("Column", c, histogramRatio(v), cnt.toDouble / total)
          }
        }
      }
      b.result()
    } finally { freq.unpersist(); () }
  }
}

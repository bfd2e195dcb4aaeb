package graft.profiler

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
    * (null-exclusive). The base branch counts each column's values per
    * frequency `f` (a `groupBy(instance, f)`), and the histogram is a
    * window per column. The two are the branches of one union, collected
    * at once: the stack exchange runs once, read by both branches, and
    * nothing is persisted. That is 4 jobs per table with both branches
    * (the stack exchange, one exchange per branch, the result).
    *
    * The base metrics are sums over a column's values, taken on the
    * driver in ascending `f`; the base rows and then the histogram rows
    * come out in `cols` order. Neither depends on the partitioning.
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
    // nf = how many of the column's distinct values occur f times
    val base =
      if ((fams - "histogram").isEmpty) None
      else Some(freq.where(col("cnt.nn") > 0)
        .groupBy(col("instance"), col("cnt.nn").as("f")).agg(count(lit(1)).as("nf")))
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
          .where(col("rn") <= noOfBins))
      }
    // a base row has every histogram column null and vice versa
    val rows = (base ++ hist).reduce(_.unionByName(_, allowMissingColumns = true)).collect()
    val (histRows, baseRows) = rows.partition(r => base.isEmpty || r.isNullAt(r.fieldIndex("nf")))
    val baseBy = baseRows.groupBy(_.getAs[String]("instance"))
    val histBy = histRows.groupBy(_.getAs[String]("instance"))
    val b = Seq.newBuilder[MetricRow]
    for (c <- cols; rs <- baseBy.get(c)) {
      var nv, nn, nu = 0L
      var slc = 0.0 // Σ over values of f·ln f
      rs.map(r => (r.getAs[Long]("f"), r.getAs[Long]("nf"))).sortBy(_._1).foreach {
        case (f, k) =>
          nv += k; nn += f * k
          if (f == 1) nu = k
          slc += k * (f * StrictMath.log(f.toDouble))
      }
      if (fams("count_distinct")) b += MetricRow("Column", c, CountDistinct, nv.toDouble)
      if (fams("entropy")) b += MetricRow("Column", c, Entropy, math.log(nn.toDouble) - slc / nn)
      if (fams("unique_value_ratio")) b += MetricRow("Column", c, UniqueValueRatio, nu.toDouble / nv)
      if (fams("uniqueness")) b += MetricRow("Column", c, Uniqueness, nu.toDouble / nn)
    }
    lazy val total = n
    for (c <- cols; rs <- histBy.get(c)) {
      b += MetricRow("Column", c, HistogramBins, rs.head.getAs[Long]("bins").toDouble)
      rs.sortBy(_.getAs[Int]("rn")).foreach { r =>
        val v = r.getAs[String]("v")
        val cnt = r.getAs[Long]("cnt")
        b += MetricRow("Column", c, histogramAbs(v), cnt.toDouble)
        b += MetricRow("Column", c, histogramRatio(v), cnt.toDouble / total)
      }
    }
    b.result()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.profiler.{ColumnClass, IncrementalProfiler, Profiler, ProfilerConfig}

/** Mergeable incremental profiling: merged partial states must reproduce
  * the whole-table profile exactly (for the exact metrics) regardless of
  * how the data was split or in which order states merge. */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def metricMap(df: org.apache.spark.sql.DataFrame): Map[(String, String), Double] =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap

  test("merge of disjoint splits equals the whole-table snapshot, any merge order") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val whole = metricMap(
      IncrementalProfiler.metrics(IncrementalProfiler.snapshot(li)))
    val parts = (0 until 3).map(i =>
      IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 3 === i)))
    val mergedA = metricMap(
      IncrementalProfiler.metrics(IncrementalProfiler.merge(parts)))
    val mergedB = metricMap(
      IncrementalProfiler.metrics(IncrementalProfiler.merge(parts.reverse)))
    val exact = Set(
      "Completeness", "Mean", "Sum", "StandardDeviation", "Minimum", "Maximum", "Size")
    for ((k @ (_, name), v) <- whole if exact(name)) {
      assert(mergedA(k) == v, s"$k merged != whole")
      assert(mergedB(k) == v, s"$k merge order changed the value")
    }
    // sketch estimates merge too (union semantics): within HLL error of exact
    val exactDistinct = li.select(countDistinct(col("l_orderkey"))).head().getLong(0).toDouble
    val est = mergedA(("l_orderkey", "ApproxCountDistinct"))
    assert(math.abs(est - exactDistinct) / exactDistinct < 0.05,
      s"HLL union estimate $est vs exact $exactDistinct")
  }

  test("merged KLL quantiles track the whole-table exact percentiles") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val parts = (0 until 3).map(i =>
      IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 3 === i)))
    val merged = metricMap(
      IncrementalProfiler.metrics(IncrementalProfiler.merge(parts)))
    val ps = graft.profiler.ScanMetrics.quantilePs(10)
    val exact = li.select(
      percentile(col("l_quantity"), array(ps.map(lit): _*)).as("q")).head()
      .getSeq[Double](0)
    // l_quantity spans 1..50; KLL rank error ~1.65% -> value tolerance ~1
    // on a uniform column, widened for sampling slack
    ps.zip(exact).foreach { case (p, ex) =>
      val est = merged(("l_quantity", s"ApproxQuantiles-$p"))
      assert(math.abs(est - ex) <= 3.0, s"p=$p est=$est exact=$ex")
    }
  }

  test("scan battery and incremental snapshot derive bit-identical exact metrics") {
    import spark.implicits._
    val fams = Set("size", "completeness", "minimum", "maximum", "mean", "sum", "stddev_pop")
    def bits(kv: Seq[((String, String), Double)]): Map[(String, String), Long] =
      kv.map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }.toMap
    /** The (instance, name) pairs only the scan battery emits. */
    def scanOnly(df: org.apache.spark.sql.DataFrame): Set[(String, String)] = {
      val scan = bits(Profiler.metrics(df, ProfilerConfig(), fams)
        .map(m => (m.instance, m.name) -> m.value))
      val inc = bits(IncrementalProfiler.metrics(IncrementalProfiler.snapshot(df))
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
        .filterNot { case ((_, name), _) =>
          name == "ApproxCountDistinct" || name.startsWith("ApproxQuantiles") })
      assert((inc.keySet -- scan.keySet).isEmpty, s"incremental-only: ${inc.keySet -- scan.keySet}")
      for (k <- inc.keySet)
        assert(scan(k) == inc(k), s"$k: scan ${java.lang.Double.longBitsToDouble(scan(k))} " +
          s"vs incremental ${java.lang.Double.longBitsToDouble(inc(k))}")
      scan.keySet -- inc.keySet
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val textCompleteness = li.schema.fields
      .filter(f => ColumnClass.of(f.dataType) == ColumnClass.Text)
      .map(f => (f.name, "Completeness")).toSet
    assert(textCompleteness.nonEmpty)
    assert(scanOnly(li) == textCompleteness)
    // ±0.0 (min/max kept unambiguous), NaN, nulls, an all-null column,
    // 2e16 and a bigint past 2^53 (square out of range), 5e19 (sum out of
    // range): only the scan's double fallbacks of the out-of-range moments
    // and the text column's Completeness are left unmatched
    val odd = Seq[(Option[Double], Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Long], Option[String], Option[Double])](
      (Some(-0.0), Some(-0.0), Some(1.0), Some(2e16), Some(5e19), Some(1L), Some("a"), None),
      (Some(0.0), None, Some(Double.NaN), Some(1.0), Some(1.0),
        Some(4611686018427387903L), None, None),
      (Some(-1.5), Some(-0.0), Some(2.0), None, Some(-3.0), None, Some("bb"), None),
      (Some(2.5), Some(-0.0), None, Some(3.0), Some(2.0), Some(7L), Some("a"), None),
      (None, None, Some(4.0), Some(-2e16), None, Some(-5L), None, None))
      .toDF("z", "negz", "nan", "big", "huge", "k", "s", "none")
    val moments = Set("Mean", "Sum", "StandardDeviation")
    assert(scanOnly(odd) == Set("s" -> "Completeness") ++
      moments.map("nan" -> _) ++ moments.map("huge" -> _) +
      ("big" -> "StandardDeviation") + ("k" -> "StandardDeviation"))
  }
}

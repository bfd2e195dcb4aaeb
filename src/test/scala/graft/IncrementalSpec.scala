package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.{bits, sf001Dir}
import graft.profiler.{ColumnClass, IncrementalProfiler, MetricRow, Profiler, ProfilerConfig}

/** Mergeable incremental profiling: merged partial states must reproduce
  * the whole-table profile exactly (for the exact metrics) regardless of
  * how the data was split or in which order states merge. */
class IncrementalSpec extends SparkSuite {
  private val dir = sf001Dir

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

  test("a KLL state serialized from a DataSketches heap sketch still merges") {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import spark.implicits._
    // snapshots persisted before the built-in KLL aggregate carried the
    // bytes of an updated k = 200 heap sketch
    val older = (1 to 1000).map(_.toDouble)
    val newer = (1001 to 3000).map(_.toDouble)
    val heap = KllDoublesSketch.newHeapInstance(200)
    older.foreach(v => heap.update(v))
    val persisted = IncrementalProfiler.snapshot(older.toDF("x"))
      .withColumn("kll", lit(heap.toByteArray))
    val merged = IncrementalProfiler.merge(
      Seq(persisted, IncrementalProfiler.snapshot(newer.toDF("x"))))
    val sk = KllDoublesSketch.heapify(Memory.wrap(merged.head().getAs[Array[Byte]]("kll")))
    assert(sk.getN == 3000L)
    // values are 1..3000, so a value's exact inclusive rank is value / 3000
    val eps = sk.getNormalizedRankError(false)
    val ps = graft.profiler.ScanMetrics.quantilePs(10)
    val est = metricMap(IncrementalProfiler.metrics(merged))
    ps.foreach { p =>
      val q = est(("x", s"ApproxQuantiles-$p"))
      assert(math.abs(q / 3000 - p) <= eps, s"p=$p est=$q eps=$eps")
    }
  }

  test("scan battery and incremental snapshot derive bit-identical exact metrics") {
    import spark.implicits._
    val fams = Set("size", "completeness", "minimum", "maximum", "mean", "sum", "stddev_pop")
    def keyed(rows: Seq[MetricRow]): Map[(String, String), Long] =
      bits(rows).map { case (_, instance, name, b) => (instance, name) -> b }.toMap
    /** The (instance, name) pairs only the scan battery emits. */
    def scanOnly(df: org.apache.spark.sql.DataFrame): Set[(String, String)] = {
      val scan = keyed(Profiler.metrics(df, ProfilerConfig(), fams))
      val inc = keyed(IncrementalProfiler.metrics(IncrementalProfiler.snapshot(df))
        .collect().toSeq
        .map(r => MetricRow("", r.getString(0), r.getString(1), r.getDouble(2)))
        .filterNot(r => r.name == "ApproxCountDistinct" || r.name.startsWith("ApproxQuantiles")))
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

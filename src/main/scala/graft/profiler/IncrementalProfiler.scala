package graft.profiler

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable incremental profiling (SURVEY.md §4.4 optional extension —
  * the 100 TB operating mode): profile each partition/day/ingest batch
  * independently into a compact mergeable STATE relation, then combine
  * states without ever rescanning the data.
  *
  * State per numeric column:
  * `(instance, n, nn, dec_sum, oor, dec_sum_sq, oor_sq, mn, mx, hll, kll)`
  * — every field merges associatively (sums, min/max, Apache DataSketches
  * HLL union via `hll_union_agg`, DataSketches KLL quantile-sketch merge
  * via `kll_merge_agg_double`). A year of daily 300 GB snapshots merges
  * in milliseconds; the reference (and Deequ 1.0.2) must rescan the table.
  * The state covers the full mergeable half of the scan battery — Size,
  * Completeness, Sum, Mean, StandardDeviation, Minimum, Maximum exactly,
  * ApproxCountDistinct and ApproxQuantiles with bounded error; only the
  * exact-frequency family (CountDistinct/Entropy/Histogram/Uniqueness),
  * which provably needs the full value dictionary, requires a rescan.
  *
  * Metric parity: the exact metrics of a merged state are EXACTLY the
  * whole-table values, because the state is [[ColumnState]]'s
  * (decimal-exact, order- and partition-independent; a column outside the
  * exact range omits its Sum/Mean/StandardDeviation rows instead of
  * reporting a wrong exact value) and any overflow null propagates through
  * merge. The `incremental_profile` oracle asserts it by splitting
  * lineitem in two, merging, and hash-matching the whole-table DuckDB
  * result. ApproxCountDistinct uses the DataSketches estimate (mergeable,
  * unlike HLL++ `approx_count_distinct` buffers).
  */
object IncrementalProfiler {

  /** One pass over the table: numeric columns stacked to
    * `(instance, v, vd, sq)` tuples ([[ColumnState.addends]]), grouped by
    * instance (and segment) — a single shuffle of partial states: the
    * [[ColumnState]] fields plus this path's mergeable sketches. */
  private def snapshotKeyed(df: DataFrame, seg: Option[String]): DataFrame = {
    val cols = df.schema.fields
      .filter(f => ColumnClass.of(f.dataType) == ColumnClass.Numeric)
      .map(_.name).toSeq.filterNot(seg.contains)
    require(cols.nonEmpty, "no numeric columns to profile")
    val stackArgs = lit(cols.size) +: cols.flatMap(c => lit(c) +: ColumnState.addends(col(c)))
    val keys = seg.map(_ => "segment").toSeq :+ "instance"
    val aggs = ColumnState.aggs(col("v"), col("vd"), col("sq"), ColumnState.families.toSet) ++ Seq(
      // DataSketches HLL takes int/long/string/binary only; the string
      // form of a double is injective, so distinct counts are preserved
      hll_sketch_agg(col("v").cast("string")).as("hll"),
      // mergeable KLL quantile sketch (k = 200, ~1.65% rank error) —
      // percentile_approx buffers cannot be persisted across batches;
      // serialized KLL bytes can, and merge with bounded error
      kll_sketch_agg_double(col("v")).as("kll"))
    // single-row-group sources serialize the stack+partial phase — see
    // ScanMetrics.spread; all state fields are order-independent
    ScanMetrics.spread(df)
      .select(col("*"), stack(stackArgs: _*).as(Seq("instance", "v", "vd", "sq")))
      .select(seg.map(s => col(s).cast("string").as("segment")).toSeq ++
        Seq(col("instance"), col("v"), col("vd"), col("sq")): _*)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  def snapshot(df: DataFrame): DataFrame = snapshotKeyed(df, None)

  /** Segmented snapshot (E100): the same mergeable state keyed
    * (segment, instance) — per-tenant / per-event-type / per-day
    * incremental profiling, the E79 segmentation idea applied to the
    * 100 TB never-rescan operating mode. One stacked shuffle exactly like
    * [[snapshot]], just a wider grouping key; every state field merges
    * associatively per segment, so daily segmented states roll up across
    * any partitioning. Null segments profile as their own segment (the
    * E79 contract). */
  def snapshotBy(df: DataFrame, segCol: String): DataFrame = snapshotKeyed(df, Some(segCol))

  /** Combine any number of state relations — associative and commutative,
    * so states can merge across days, partitions or clusters in any order.
    * A snapshot whose decimal total overflowed (`try_sum` → null with
    * nn > 0) poisons the merged total to null rather than being silently
    * skipped by `sum`'s null-ignoring semantics. */
  private def mergeKeyed(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    val aggs = Seq(
      sum(col("n")).as("n"),
      sum(col("nn")).as("nn"),
      count(when(col("dec_sum").isNull && col("nn") > 0, lit(1))).as("sum_bad"),
      try_sum(col("dec_sum")).as("dec_sum_raw"),
      sum(col("oor")).as("oor"),
      count(when(col("dec_sum_sq").isNull && col("nn") > 0, lit(1))).as("sq_bad"),
      try_sum(col("dec_sum_sq")).as("dec_sum_sq_raw"),
      sum(col("oor_sq")).as("oor_sq"),
      min(col("mn")).as("mn"),
      max(col("mx")).as("mx"),
      hll_union_agg(col("hll")).as("hll"),
      kll_merge_agg_double(col("kll")).as("kll"))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keys.map(col) ++ Seq(
        col("n"), col("nn"),
        when(col("sum_bad") === 0, col("dec_sum_raw")).as("dec_sum"),
        col("oor"),
        when(col("sq_bad") === 0, col("dec_sum_sq_raw")).as("dec_sum_sq"),
        col("oor_sq"),
        col("mn"), col("mx"), col("hll"), col("kll")): _*)
  }

  def merge(states: Seq[DataFrame]): DataFrame = mergeKeyed(states, Seq("instance"))

  /** Segmented merge (E100): [[merge]] keyed (segment, instance). */
  def mergeBy(states: Seq[DataFrame]): DataFrame =
    mergeKeyed(states, Seq("segment", "instance"))

  /** `(segment, instance, name, value)` rows of a (possibly merged) state,
    * the segment null when the state is unsegmented, with one Size row
    * (instance `*`) per segment. */
  private def metricsKeyed(
      state: DataFrame, quantiles: Int, segmented: Boolean): DataFrame = {
    import org.apache.datasketches.hll.HllSketch
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val ps = ScanMetrics.quantilePs(quantiles)
    val rows = Seq.newBuilder[(String, String, String, Double)]
    val maxN = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    state.collect().foreach { r =>
      val seg = if (segmented) r.getAs[String]("segment") else null
      val inst = r.getAs[String]("instance")
      def bytes(f: String): Option[Array[Byte]] = Option(r.getAs[Array[Byte]](f))
      maxN(seg) = math.max(maxN.getOrElse(seg, 0L), r.getAs[Long]("n"))
      ColumnState.derive(r, ColumnState.families.toSet).foreach {
        case (name, v) => v.foreach(x => rows += ((seg, inst, name, x)))
      }
      bytes("hll").filter(_.nonEmpty).foreach { b =>
        // same rounding as Spark's hll_sketch_estimate (bigint estimate)
        rows += ((seg, inst, MetricNames.ApproxCountDistinct,
          Math.round(HllSketch.heapify(Memory.wrap(b)).getEstimate).toDouble))
      }
      bytes("kll").map(b => KllDoublesSketch.heapify(Memory.wrap(b)))
        .filterNot(_.isEmpty).foreach { sk =>
          // inclusive ranks, the sketch's default search criterion
          ps.foreach { p =>
            rows += ((seg, inst, MetricNames.approxQuantile(p), sk.getQuantile(p)))
          }
        }
    }
    maxN.foreach { case (seg, n) => rows += ((seg, "*", MetricNames.Size, n.toDouble)) }
    state.sparkSession.createDataFrame(rows.result())
      .toDF("segment", "instance", "name", "value")
  }

  /** Metrics relation `(instance, name, value)` from a (possibly merged)
    * state. Sum/Mean/StandardDeviation appear only when the exact decimal
    * path held end to end (no out-of-range addends, no overflow);
    * ApproxQuantiles come from the merged KLL sketch (error-bounded,
    * declared approximate like ApproxCountDistinct).
    *
    * EAGER on purpose: the state is metadata-sized by construction (one
    * row per profiled column), and deriving the metric relation lazily
    * would make every downstream branch that references it re-execute the
    * whole snapshot aggregation (Spark does not share subplans across
    * union branches — measured as a 3× re-scan). Collecting once and
    * emitting a LocalRelation is the same eager-materialization move the
    * reference stack makes for its metrics (SURVEY.md §4.2), and it lets
    * the sketch decoding run as plain JVM code instead of a UDF. The
    * exact metrics come from [[ColumnState.derive]], the same derivation
    * the scan battery uses. */
  def metrics(state: DataFrame, quantiles: Int = 10): DataFrame =
    metricsKeyed(state, quantiles, segmented = false).drop("segment")

  /** Segmented metrics (E100): [[metrics]] per segment, with a
    * per-segment Size row (instance `*`). The state is one row per
    * (segment, column) — metadata-sized for any bounded segment
    * cardinality, so the eager collect policy carries over; for
    * unbounded segment domains the state RELATION itself is the product
    * (publish it to a sink), not this driver-side metric view. */
  def metricsBy(state: DataFrame, quantiles: Int = 10): DataFrame =
    metricsKeyed(state, quantiles, segmented = true)
}

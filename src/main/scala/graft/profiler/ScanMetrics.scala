package graft.profiler

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Which aggregation pass a slot belongs to. Mixing aggregate classes in
  * one `agg(...)` forces the weakest execution strategy onto all of them
  * (measured ~10x at sf0.1), so the scan battery runs as up to three passes:
  *   - Plain: declarative aggregates + HLL — HashAggregate, the hot pass
  *     holding the decimal-exact sums. Whole-stage codegen'd only when no
  *     `approx_count_distinct` is requested: HLL++ is an
  *     ImperativeAggregate, so with it neither HashAggregate of the pass
  *     is codegen'd (its expressions still are);
  *   - Sketch: percentile sketches (TypedImperativeAggregate) —
  *     ObjectHashAggregate, no codegen, kept away from the Plain pass;
  *   - Distinct: all `count_distinct`s — one Expand + two-phase
  *     HashAggregate, a single shuffle covering every column.
  * A table under `Profiler.InterpretedBelowBytes` runs with codegen off
  * (see [[Profiler.metrics]]). There is then no codegen to protect, so
  * Plain and Sketch share ONE aggregate (the same values, one job pair
  * fewer); Distinct keeps its own pass, whose Expand would multiply the
  * rows every other slot reads. */
sealed trait AggKind
object AggKind {
  case object Plain extends AggKind
  case object Sketch extends AggKind
  case object Distinct extends AggKind
}

/** One slot of the shared single-pass aggregation: an aggregate `Column` plus
  * an extractor turning its result cell into metric rows.
  *
  * All slots of a pass are evaluated in ONE `df.agg(...)` — the reference
  * stack's one real multi-query optimization (Deequ scan-sharing,
  * SURVEY.md §4.2). At 100 TB this is the difference between 1 scan of the
  * data and ~20.
  *
  * `heavy` marks slots whose PER-ROW update cost dominates the pass (the
  * decimal-quantized exact sums: a Double.toString round trip per value) —
  * the signal that parallelizing the partial phase is worth one exchange
  * on a single-row-group source (see [[ScanMetrics.spread]]). */
final case class AggSlot(
    expr: Column,
    extract: Any => Seq[MetricRow],
    kind: AggKind = AggKind.Plain,
    heavy: Boolean = false)

/** Builders for the scan-shareable metric family (SURVEY.md §2.A: D1, N1-N9,
  * T1-T5) — everything computable in a single wide aggregation over the table.
  *
  * Completeness, Minimum, Maximum, Mean, Sum and StandardDeviation come from
  * one [[ColumnState]] per column in the Plain pass (decimal-exact moments,
  * derived on the driver by the same function the incremental profiler
  * uses). A column outside the exact decimal range falls back to the double
  * `sum`/`avg`/`stddev_pop` of the same pass (correct, order-dependent in
  * the last ulps).
  *
  * `Distinctness` uses `count_distinct` in its own Distinct pass: Catalyst
  * rewrites multi-column distinct aggregates into one Expand + two-phase
  * HashAggregate — one shuffle total, versus Deequ's one groupBy job per
  * column.
  */
object ScanMetrics {
  import MetricNames._

  private def num(a: Any): Option[Double] = a match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue)
    case _ => None
  }

  private def colSlot(inst: String, name: String, expr: Column): AggSlot =
    AggSlot(expr, a => num(a).map(v => MetricRow("Column", inst, name, v)).toSeq)

  /** Null (→ no metric row) instead of an ANSI divide-by-zero on empty /
    * all-null inputs. */
  private def safeDiv(n: Column, d: Column): Column = when(d > 0, n / d)

  /** The [[ColumnState]] of one column as a struct slot holding only the
    * fields its requested state families read, plus the double fallback of
    * each requested moment (a field named after its metric); None when no
    * state family is requested. Heavy when it aggregates decimal addends.
    * Catalyst shares identical aggregates across slots, so two state slots
    * of one column cost no extra buffers. */
  private def stateSlot(
      inst: String, v: Column, vd: Column, sq: Column, fams: Set[String]): Option[AggSlot] = {
    val want = fams.intersect(ColumnState.families.toSet)
    val fallbacks = Seq(
      "mean" -> avg(v).as(Mean), "sum" -> sum(v).as(Sum),
      "stddev_pop" -> stddev_pop(v).as(StandardDeviation))
      .collect { case (f, agg) if want(f) => agg }
    // state fields are lower-case, so a metric-named field is a fallback
    def fallback(r: Row, name: String): Option[Double] =
      if (r.schema.fieldNames.contains(name)) num(r.getAs[Any](name)) else None
    if (want.isEmpty) None
    else Some(AggSlot(
      struct(ColumnState.aggs(v, vd, sq, want) ++ fallbacks: _*),
      { case r: Row =>
        ColumnState.derive(r, want).flatMap { case (name, exact) =>
          exact.orElse(fallback(r, name)).map(MetricRow("Column", inst, name, _))
        }
      },
      heavy = fallbacks.nonEmpty))
  }

  def quantilePs(q: Int): Seq[Double] = (1 to q).map(_.toDouble / q)

  private def quantExtract(
      inst: String, ps: Seq[Double], nameOf: Double => String): Any => Seq[MetricRow] = {
    case s: scala.collection.Seq[_] =>
      s.zip(ps).flatMap { case (v, p) =>
        num(v).map(d => MetricRow("Column", inst, nameOf(p), d))
      }.toSeq
    case _ => Nil
  }

  /** Build the aggregation slots for every applicable (column, metric) pair.
    *
    * @param fams metric families to compute, keyed by query key
    *             (SURVEY.md §2 "Query key" column).
    */
  def slots(schema: StructType, cfg: ProfilerConfig, fams: Set[String]): Seq[AggSlot] = {
    val b = Seq.newBuilder[AggSlot]
    if (fams("size"))
      b += AggSlot(
        count(lit(1)).cast(DoubleType),
        a => num(a).map(v => MetricRow("Dataset", "*", Size, v)).toSeq)

    // Completeness is a state slot of its own so that metric rows keep
    // their order (Completeness, ApproxCountDistinct, then the moments)
    val completeness = fams.intersect(Set("completeness"))
    def shared(i: String, c: Column, completenessSlot: Option[AggSlot]): Unit = {
      b ++= completenessSlot
      if (fams("approx_count_distinct"))
        b += colSlot(i, ApproxCountDistinct, approx_count_distinct(c).cast(DoubleType))
      if (fams("distinctness"))
        b += AggSlot(
          safeDiv(count_distinct(c).cast(DoubleType), count(c)),
          a => num(a).map(v => MetricRow("Column", i, Distinctness, v)).toSeq,
          AggKind.Distinct)
    }

    schema.fields.foreach { f =>
      val c = col(f.name)
      val i = f.name
      ColumnClass.of(f.dataType) match {
        case ColumnClass.Numeric =>
          val Seq(v, vd, sq) = ColumnState.addends(c)
          shared(i, c, stateSlot(i, v, vd, sq, completeness))
          b ++= stateSlot(i, v, vd, sq, fams - "completeness")
          if (fams("approx_quantiles")) {
            val ps = quantilePs(cfg.quantiles)
            // accuracy 100 = 1 / Deequ's relativeError 0.01 (SURVEY.md §2.A N8)
            b += AggSlot(
              percentile_approx(c, array(ps.map(lit): _*), lit(100)),
              quantExtract(i, ps, approxQuantile),
              AggKind.Sketch)
          }
          // quantiles_exact is computed by Profiler.metrics via the
          // frequency-CDF battery (ExactQuantiles, r16) — the percentile
          // value-map slot it replaced paid a single-threaded final merge
          // per column chunk.
        case ColumnClass.Text =>
          shared(i, c, stateSlot(i, c, lit(null), lit(null), completeness))
          if (fams("max_length")) b += colSlot(i, MaxLength, max(length(c)).cast(DoubleType))
          if (fams("min_length")) b += colSlot(i, MinLength, min(length(c)).cast(DoubleType))
        case _ => () // Castable handled by Profiler.castUnsupported; Skipped: Size only
      }
    }
    b.result()
  }

  /** Parquet splits at ROW-GROUP boundaries: a table written as one row
    * group scans as ONE task no matter the split config, serializing the
    * partial-aggregation phase (where nearly all of an aggregate battery's
    * work is). When the source arrives with far fewer partitions than
    * cores, spend one cheap shuffle to spread the partials; every metric
    * built on this path is order-independent (decimal-exact sums, counts,
    * min/max, mergeable sketches), so results are unchanged. At real scale
    * inputs have many row groups and this guard never fires.
    *
    * r17 (VERDICT r16 #3): the target is DERIVED, not `cores` —
    * `min(cores, ceil(bytes / 16 KB))`:
    *  - bytes-derived so a truly tiny relation (a staged sub-table, a
    *    handful of rows) no longer fans out to a 32-task floor;
    *  - 16 KB/partition is deliberately small: the spread exists for
    *    expression-heavy scans (regex batteries, decimal quantization,
    *    sketch updates) whose per-byte CPU cost is 100-1000× a plain
    *    scan, so even tens of KB amortize a task. 32 KB was measured
    *    and halved: it gave the 584 KB documents corpus 18 partitions
    *    and the heaviest per-row lane regressed 4× (filter_funnel's
    *    langId+qualityScore funnel 0.66 → 2.9 s) — at 16 KB every
    *    sub-MB CPU-heavy relation keeps the full core fan-out while
    *    genuinely tiny relations (sub-table slices, toy replays) still
    *    collapse to a handful of tasks.
    *  - NOT capped by the session's shuffle-partition setting: a
    *    variant capping at `spark.sql.shuffle.partitions` was measured
    *    and reverted — the streaming replay right-sizes its session for
    *    STATE STORES (1-2 partitions), but its foreachBatch snapshot is
    *    the same CPU-bound wide aggregation as everywhere else, and the
    *    cap serialized it (streaming_incremental_profile 3.8 → 10.5 s). */
  private[graft] val SpreadBytesPerPartition: Long = 16L << 10

  /** The partition count [[spread]] would repartition to, or 0 when
    * spread is a no-op (already-parallel input, or a relation too small
    * to be worth an exchange at all). */
  private[graft] def spreadTarget(df: DataFrame): Int = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    if (parts * 2 >= cores) 0
    else {
      val byBytes = (df.queryExecution.optimizedPlan.stats.sizeInBytes +
        (SpreadBytesPerPartition - 1)) / SpreadBytesPerPartition
      val target = byBytes.min(cores).max(1).toInt
      if (target <= parts) 0 else target
    }
  }

  def spread(df: DataFrame): DataFrame = {
    val t = spreadTarget(df)
    if (t == 0) df else df.repartition(t)
  }

  /** [[spread]] + eager localCheckpoint for multi-pass batteries, the
    * checkpoint GATED on spread actually repartitioning (ADVICE r16):
    * on many-row-group (at-scale) inputs the passes re-read the parquet
    * scan — the right trade at size — instead of paying a full-table
    * MEMORY_AND_DISK materialization the small-input shape was probed
    * on. A nondeterministic input (rand(), uuid(), …) is checkpointed
    * even then: re-reading it would hand every pass a different relation.
    * Callers should project to the needed columns first (§2.3). */
  def spreadCheckpoint(df: DataFrame): DataFrame = {
    val t = spreadTarget(df)
    if (t != 0) df.repartition(t).localCheckpoint(true)
    else if (!df.queryExecution.analyzed.deterministic) df.localCheckpoint(true)
    else df
  }

  /** Evaluate the slots, one `df.agg(...)` per [[AggKind]] pass (see AggKind
    * doc; Plain and Sketch share one when `df`'s session has whole-stage
    * codegen off), and extract the metric rows. The result rows are tiny
    * by construction (one cell per slot), so collecting them to the driver
    * is the correct move at any scale — the aggregation itself has already
    * reduced the 100 TB.
    *
    * The passes are independent, so their jobs are SUBMITTED concurrently
    * (driver threads; Spark schedules jobs from multiple threads fine):
    * one pass's shuffle/sketch phase overlaps another's scan instead of
    * serializing the cluster round trips. Results are assembled in the
    * fixed Plain/Sketch/Distinct order, so output is identical to the
    * sequential evaluation. */
  def compute(df: DataFrame, slots: Seq[AggSlot]): Seq[MetricRow] = {
    // spread() is one full-data exchange — worth it only when the pass has
    // per-row work to parallelize (sketches, distinct's Expand, decimal
    // sums). A cheap codegen'd Plain-only battery (count/min/max) finishes
    // the serial partial phase faster than the shuffle it would buy.
    val needSpread = slots.exists(s => s.kind != AggKind.Plain || s.heavy)
    val plain = slots.filter(_.kind == AggKind.Plain)
    val sketch = slots.filter(_.kind == AggKind.Sketch)
    val codegen = df.sparkSession.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key).toBoolean
    val passes: Seq[Seq[AggSlot]] = (
      (if (codegen) Seq(plain, sketch) else Seq(plain ++ sketch)) ++
        Seq(slots.filter(_.kind == AggKind.Distinct))).filter(_.nonEmpty)
    // localCheckpoint (r16): with several concurrent passes over the same
    // spread exchange, each pass's job re-ran the scan+exchange (probed:
    // two 22 MB exchange-write jobs in profile_lineitem_full) — a shared
    // materialization runs it once and every pass reads the cached blocks.
    // The checkpoint is gated on spread() actually firing (ADVICE r16,
    // see spreadCheckpoint): at-scale inputs keep re-reading the scan
    val multiPass = passes.size > 1
    val src =
      if (needSpread && multiPass) spreadCheckpoint(df)
      else if (needSpread) spread(df)
      else df
    val rows = graft.Par.map(df.sparkSession, passes, passes.size) { group =>
      val aliased = group.zipWithIndex.map { case (s, i) => s.expr.alias(s"m$i") }
      src.agg(aliased.head, aliased.tail: _*).head()
    }
    passes.zip(rows).flatMap { case (group, row) =>
      group.zipWithIndex.flatMap { case (s, i) => s.extract(row.get(i)) }
    }
  }
}

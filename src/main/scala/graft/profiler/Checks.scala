package graft.profiler

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declarative data-quality constraint: compare the metric
  * `(instance, metric)` from a metrics relation against `threshold` with
  * `op` (">=" or "<="). */
final case class Constraint(
    check_name: String,
    instance: String,
    metric: String,
    op: String,
    threshold: Double)

/** Deequ-style constraint verification (Schelter et al., PVLDB 2018 —
  * the library the reference delegates its analyzers to pairs them with a
  * `VerificationSuite` that turns metrics into pass/fail checks; reference
  * Profiler.scala:274-297 computes only the metrics). This closes that
  * loop: a constraint suite is evaluated AGAINST the already-computed
  * metrics relation — no second scan of the data, the verification cost is
  * the size of the metrics relation (metadata-sized), whatever the table
  * size.
  *
  * Status semantics: `pass` / `fail` by comparison; `unknown` when the
  * suite references a metric the profile did not produce (nonexistent
  * column or family not computed) — surfaced rather than silently
  * dropped. */
object Checks {

  /** Profile drift between two metrics relations (yesterday's profile vs
    * today's, or one partition's vs another's): per shared metric the
    * delta, relative change, and a status flag at `relTol`. Values are
    * quantized to 6 places first (the relation's publication precision),
    * so drift is computed on exactly what a monitoring sink would store.
    * Like [[evaluate]], this never rescans the data — it joins two
    * metadata-sized relations. */
  def drift(
      before: DataFrame,
      after: DataFrame,
      relTol: Double = 0.05): DataFrame = {
    val a = before.select(
      col("instance"), col("name"), round(col("value"), 6).as("value_a"))
    val b = after.select(
      col("instance"), col("name"), round(col("value"), 6).as("value_b"))
    val rel = (col("value_b") - col("value_a")) / abs(col("value_a"))
    a.join(b, Seq("instance", "name"))
      .select(
        col("instance"), col("name"), col("value_a"), col("value_b"),
        round(col("value_b") - col("value_a"), 6).as("delta"),
        round(when(abs(col("value_a")) > 0, rel), 6).as("rel_change"),
        when(abs(col("value_a")) === 0, lit("incomparable"))
          .when(abs(rel) > relTol, lit("drift"))
          .otherwise(lit("stable")).as("status"))
  }

  /** Schema drift between two schema relations `(instance, type)` — the
    * structural complement of [[drift]] (a column appearing, vanishing, or
    * changing type is the failure mode parameter-store consumers hit
    * first; reference Glue.java:89-99 documents exactly such a structural
    * quirk). Full outer join on the column name; statuses `added` /
    * `removed` / `retyped` / `same`. Metadata-sized on both sides. */
  def schemaDrift(before: DataFrame, after: DataFrame): DataFrame = {
    val a = before.select(col("instance"), col("type").as("type_a"))
    val b = after.select(col("instance"), col("type").as("type_b"))
    a.join(b, Seq("instance"), "full_outer")
      .select(
        col("instance"), col("type_a"), col("type_b"),
        when(col("type_a").isNull, lit("added"))
          .when(col("type_b").isNull, lit("removed"))
          .when(col("type_a") =!= col("type_b"), lit("retyped"))
          .otherwise(lit("same")).as("status"))
  }

  def evaluate(
      spark: SparkSession,
      metrics: DataFrame,
      suite: Seq[Constraint]): DataFrame = {
    require(suite.nonEmpty, "empty constraint suite")
    require(suite.forall(c => c.op == ">=" || c.op == "<="),
      "op must be >= or <=")
    val suiteDf = spark.createDataFrame(suite)
    suiteDf
      .join(
        broadcast(metrics.select(
          col("instance"), col("name").as("metric"), col("value"))),
        Seq("instance", "metric"), "left")
      .select(
        col("check_name"),
        col("instance"),
        col("metric"),
        col("op"),
        col("threshold"),
        round(col("value"), 6).as("value"),
        when(col("value").isNull, lit("unknown"))
          .when(
            (col("op") === ">=" && col("value") >= col("threshold")) ||
              (col("op") === "<=" && col("value") <= col("threshold")),
            lit("pass"))
          .otherwise(lit("fail")).as("status"))
  }

  /** Histogram drift via the Population Stability Index — the standard
    * ML-monitoring complement of [[metricAnomaly]]'s scalar z-scores: for
    * each column, bin BOTH snapshots on the combined equi-width grid (the
    * [[NumericHistogram]] bucket math) and score the bin-share shift
    * `PSI = Σ (p_a − p_b)·ln(p_a / p_b)` with the conventional
    * interpretation thresholds (> 0.2 ≈ significant shift). Zero shares
    * clamp to `eps` so empty bins don't blow up the log.
    *
    * Determinism: the per-bin PSI terms are double math with a fixed
    * formula, then quantized to DECIMAL(38,12) BEFORE the per-column sum —
    * 10 doubles summed in shuffle order would differ in the last ulps
    * across partitionings; the decimal sum is exact and order-free.
    *
    * Scale shape: one stacked scan per snapshot → combined min/max (one
    * grouped agg, broadcast back) → bucket counts (map-side combined) —
    * everything past the scans is bins×columns-sized. */
  def histogramDrift(
      baseline: org.apache.spark.sql.DataFrame,
      current: org.apache.spark.sql.DataFrame,
      cols: Seq[String],
      bins: Int = 10,
      eps: Double = 1e-6,
      psiThreshold: Double = 0.2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    require(cols.nonEmpty && bins > 0, "need columns and positive bins")
    val Dec = DecimalType(38, 12)
    def side(df: org.apache.spark.sql.DataFrame, tag: String) = {
      val stackArgs = lit(cols.size) +:
        cols.flatMap(c => Seq(lit(c), col(c).cast(DoubleType)))
      ScanMetrics.spread(df)
        .select(stack(stackArgs: _*).as(Seq("instance", "v")))
        .where(NumericHistogram.finite(col("v"))) // NaN would poison max/width
        .withColumn("snap", lit(tag))
    }
    // localCheckpoint (r16): the stacked relation has two inherently
    // sequential consumers (the min/max pass must finish before the
    // bucketing pass can run) — materialize the scan+stack once instead
    // of once per pass
    val st = side(baseline, "a").unionByName(side(current, "b"))
      .localCheckpoint(true)
    val mm = st.groupBy("instance").agg(min("v").as("mn"), max("v").as("mx"))
    val bucketed = st.join(broadcast(mm), Seq("instance"))
      .select(
        col("instance"), col("snap"),
        // same bucket math as equiWidth — shared builder, cannot drift
        NumericHistogram.bucketExpr(col("v"), col("mn"), col("mx"), bins).as("bucket"))
    val counts = bucketed.groupBy("instance", "snap", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // bins-sized; feeds the grid AND the totals
    // per-side totals fold out of the bucket counts (every finite row
    // lands in exactly one bucket — bucketExpr is null-free), so the
    // former third full pass over the stacked relation is pure algebra
    // over the bins-sized counts relation
    val tots = counts.groupBy("instance").agg(
      coalesce(sum(when(col("snap") === "a", col("cnt"))), lit(0L)).as("tot_a"),
      coalesce(sum(when(col("snap") === "b", col("cnt"))), lit(0L)).as("tot_b"))
    val spark = baseline.sparkSession
    val grid = mm.select("instance")
      .crossJoin(broadcast(spark.range(bins).toDF("bucket")))
    def cc(tag: String) = counts.where(col("snap") === tag)
      .select(col("instance"), col("bucket"), col("cnt").as(s"cnt_$tag"))
    val shares = grid
      .join(cc("a"), Seq("instance", "bucket"), "left")
      .join(cc("b"), Seq("instance", "bucket"), "left")
      .join(broadcast(tots), Seq("instance"))
      .select(
        col("instance"),
        // tot can be 0 when a column has values in only ONE snapshot (the
        // instance enters the grid via the populated side) — a bare
        // division would be an ANSI DIVIDE_BY_ZERO; an empty side's share
        // is 0, which the eps clamp then floors like any empty bin
        greatest(
          when(col("tot_a") > 0,
            coalesce(col("cnt_a"), lit(0L)).cast(DoubleType) / col("tot_a").cast(DoubleType))
            .otherwise(lit(0.0)),
          lit(eps)).as("pa"),
        greatest(
          when(col("tot_b") > 0,
            coalesce(col("cnt_b"), lit(0L)).cast(DoubleType) / col("tot_b").cast(DoubleType))
            .otherwise(lit(0.0)),
          lit(eps)).as("pb"))
    shares
      .select(
        col("instance"),
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 12)
          .cast(Dec).as("term"))
      .groupBy("instance")
      .agg(round(sum(col("term")).cast(DoubleType), 6).as("psi"))
      .select(col("instance"), col("psi"), (col("psi") > psiThreshold).as("drifted"))
  }

  /** Constraint suggestion — Deequ's signature "profile first, then let
    * the profile propose the checks" workflow: derive candidate
    * constraints from the metrics relation (never from a second data
    * scan). Rules: full completeness → `is_complete`; partial →
    * `has_completeness_ge` floored to 2 dp (a threshold the CURRENT data
    * already clears); distinctness 1 → `is_unique`; non-negative minimum →
    * `non_negative`. Deterministic: every rule runs on 6-dp-rounded
    * metric values, so suggestions are reproducible across engines. */
  def suggestConstraints(metrics: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val p = metrics.groupBy("instance").agg(
      round(max(when(col("name") === MetricNames.Completeness, col("value"))), 6).as("comp"),
      round(max(when(col("name") === MetricNames.Distinctness, col("value"))), 6).as("dist"),
      round(max(when(col("name") === MetricNames.Minimum, col("value"))), 6).as("mn"))
    val sugg = array(
      when(col("comp") === 1.0,
        struct(lit("is_complete").as("rule"), lit(1.0).as("threshold"))),
      when(col("comp") > 0.0 && col("comp") < 1.0,
        struct(lit("has_completeness_ge").as("rule"),
          (floor(col("comp") * 100) / 100).as("threshold"))),
      when(col("dist") === 1.0,
        struct(lit("is_unique").as("rule"), lit(1.0).as("threshold"))),
      when(col("mn") >= 0.0,
        struct(lit("non_negative").as("rule"), lit(0.0).as("threshold"))))
    p.select(
      col("instance"),
      explode(filter(sugg, s => s.isNotNull)).as("s"))
      .select(
        col("instance"), col("s.rule").as("rule"),
        round(col("s.threshold"), 6).as("threshold"))
  }

  /** Metric anomaly detection — the Deequ-family capability the reference's
    * battery stops short of: score the CURRENT snapshot's metric against
    * the history of prior snapshots (z-score against the historical mean
    * and population stddev) and flag |z| above a threshold. This is how a
    * production profiler turns "the metric moved" into "the metric moved
    * ABNORMALLY" without hand-set per-metric thresholds.
    *
    * All snapshots' metrics come from ONE grouped scan (the snapshot key is
    * a column expression); the z assembly runs driver-side on the
    * snapshot-count-sized relation with a FIXED double operation order
    * (left-fold sums, (v−h)·(v−h) squares) mirrored by the oracle. Metric
    * columns must be engine-exact (decimal-quantized sums / counts). The
    * LAST snapshot (highest key) is "current"; the rest are history. */
  def metricAnomaly(
      df: org.apache.spark.sql.DataFrame,
      snapshotKey: org.apache.spark.sql.Column,
      metrics: Seq[(String, org.apache.spark.sql.Column)],
      zThreshold: Double = 3.0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    require(metrics.nonEmpty, "at least one metric required")
    val aliased = metrics.map { case (n, c) => c.cast("double").as(n) }
    val rows = df.groupBy(snapshotKey.cast("long").as("snapshot"))
      .agg(aliased.head, aliased.tail: _*)
      .orderBy("snapshot")
      .collect()
    require(rows.length >= 2, "need at least two snapshots")
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val out = metrics.zipWithIndex.map { case ((name, _), i) =>
      // a metric can be null for a snapshot (e.g. an aggregate over an
      // all-null column) — getDouble would NPE on the primitive unbox, so
      // holes become None: missing history values are skipped, a missing
      // current value yields null z / not-anomalous instead of crashing
      // every other metric
      val vals = rows.map(r =>
        if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1)))
      val hist = vals.init.flatten
      val cur = vals.last
      val h = if (hist.nonEmpty) Some(hist.sum / hist.length) else None
      val sd = h.map(m => math.sqrt(hist.map(v => (v - m) * (v - m)).sum / hist.length))
      val z: Any = (cur, h, sd) match {
        case (Some(c), Some(m), Some(s)) if s > 0 => round6((c - m) / s)
        case _ => null
      }
      val anomaly = z != null && math.abs(z.asInstanceOf[Double]) > zThreshold
      org.apache.spark.sql.Row(
        name,
        cur.map(round6).orNull,
        h.map(round6).orNull,
        sd.map(round6).orNull,
        z, anomaly)
    }
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("current", DoubleType, nullable = true),
        StructField("hist_mean", DoubleType, nullable = true),
        StructField("hist_stddev", DoubleType, nullable = true),
        StructField("z", DoubleType, nullable = true),
        StructField("is_anomaly", BooleanType, nullable = false))))
  }

  /** Join-key skew profile — the pre-join diagnostic that decides whether a
    * key needs salting / AQE skew handling at scale: row and key counts,
    * the hottest key (smallest key on frequency ties) with its frequency,
    * and a coarse key-frequency histogram (1 / 2–9 / 10–99 / 100+).
    *
    * Scale shape: one map-side-combined count aggregate keyed on the join
    * key, then ONE single-row reduction over the (n_keys-sized) frequency
    * relation — the hottest key comes from a `min(struct(-cnt, key))`
    * argmax in the same pass, no second scan and no global sort. */
  def keySkew(df: org.apache.spark.sql.DataFrame, keyCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // group on the RAW key: a cast("long") would throw under ANSI for
    // string/uuid keys (the common join-key case) and silently merge
    // distinct fractional keys (7.2 and 7.9 -> 7). Frequency ties break on
    // the key's native ordering; hot_key reports as string for a
    // key-type-independent output schema.
    val c = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("cnt"))
    c.agg(
      sum("cnt").as("n_rows"),
      count(lit(1)).as("n_keys"),
      min(struct((-col("cnt")).as("nc"), col("k"))).as("best"),
      count(when(col("cnt") === 1, lit(1))).as("keys_f1"),
      count(when(col("cnt").between(2, 9), lit(1))).as("keys_f2_9"),
      count(when(col("cnt").between(10, 99), lit(1))).as("keys_f10_99"),
      count(when(col("cnt") >= 100, lit(1))).as("keys_f100p"))
      .select(
        col("n_rows"), col("n_keys"),
        col("best.k").cast("string").as("hot_key"),
        (-col("best.nc")).as("hot_freq"),
        col("keys_f1"), col("keys_f2_9"), col("keys_f10_99"), col("keys_f100p"))
  }

  /** Exact two-sample Kolmogorov-Smirnov drift (E98) — the
    * distribution-shape complement of E58's binned PSI: D = max over the
    * pooled distinct values of |ECDF_a − ECDF_b|, sensitive to ANY
    * distributional change, with no binning choices to tune (the PSI
    * grid can hide a shift that lands inside one bin). The max of a
    * two-sample KS always occurs at a data point, so evaluating at the
    * pooled distinct values is exact, not an approximation.
    *
    * Scale shape: each side collapses map-side to (value, count); one
    * value-keyed shuffle merges them; the cumulative sums run as a
    * window over the DISTINCT-VALUE relation — for a genuinely
    * high-cardinality column at 100 TB that global-order window is the
    * bottleneck, and the documented scale path is the two-phase
    * range-partitioned prefix sum (the E29 Packing machinery) over the
    * same relation; the algebra is unchanged. Counts stay integer to
    * the final double division; D is rounded for display only. */
  def ksDrift(
      before: org.apache.spark.sql.DataFrame,
      after: org.apache.spark.sql.DataFrame,
      valueCol: String,
      maxValues: Long = graft.operators.WindowGuard.MaxWindowCells)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    def side(df: org.apache.spark.sql.DataFrame, tag: Int) = df
      .select(col(valueCol).cast(DoubleType).as("v"))
      .where(col("v").isNotNull)
      .select(col("v"), lit(tag).as("side"))
    val m = side(before, 0).unionAll(side(after, 1))
      .groupBy("v")
      .agg(
        count(when(col("side") === 0, 1)).as("ca"),
        count(when(col("side") === 1, 1)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the cumulative window's input is the DISTINCT-VALUE relation —
    // bounded for the categorical/rounded columns this exact form is
    // for, but a continuous column at scale would silently single-task
    // it; ENFORCED (WindowGuard): beyond the bound, use ksDriftApprox
    // (E109), whose sketches never materialize the value domain
    val nv = count(lit(1)).over(Window.partitionBy())
    m.withColumn("cca",
        graft.operators.WindowGuard.guarded(sum("ca").over(w), nv,
          maxValues, "Checks.ksDrift"))
      .withColumn("ccb", sum("cb").over(w))
      .withColumn("na", sum("ca").over(Window.partitionBy()))
      .withColumn("nb", sum("cb").over(Window.partitionBy()))
      .agg(
        max("na").cast("long").as("n_a"),
        max("nb").cast("long").as("n_b"),
        count(lit(1)).as("n_values"),
        round(max(abs(
          col("cca").cast(DoubleType) / col("na").cast(DoubleType) -
            col("ccb").cast(DoubleType) / col("nb").cast(DoubleType))), 6)
          .as("ks_d"))
  }

  /** Mann-Whitney U two-sample drift test (E250) — Mann & Whitney '47:
    * the rank-sum complement of [[ksDrift]] on the drift-test shelf
    * (exact KS E98 / KLL KS E109 / PSI E60 / chi-square E99): KS reads
    * the largest CDF gap, U reads a stochastic-dominance SHIFT — more
    * sensitive to a median drift, insensitive to shape-only change, no
    * binning to tune. Ties get average ranks (the E103 Spearman
    * convention); the normal approximation carries the standard tie
    * correction `σ² = n_a·n_b/12·((N+1) − Σ(t³−t)/(N(N−1)))`.
    *
    * Determinism: the rank sum runs as INTEGER algebra — twice the
    * average rank of a tie group starting at position r with t members
    * is `2r + t − 1`, so `2·R_a = Σ_v ca·(2·cum − t + 1)` over the
    * distinct-value relation, summed as DECIMAL(38,0) (exact at any
    * scale); only the final U/z projection touches doubles, in one
    * fixed-order expression both engines evaluate identically.
    *
    * Scale shape: same as the exact KS — map-side (value, count)
    * collapse, one value-keyed shuffle, a cumulative window over the
    * DISTINCT-VALUE relation (WindowGuard-enforced domain bound; a
    * continuous column at 100 TB takes the two-phase prefix-sum path
    * or the sketched E109 form). */
  def mannWhitneyDrift(
      before: org.apache.spark.sql.DataFrame,
      after: org.apache.spark.sql.DataFrame,
      valueCol: String,
      maxValues: Long = graft.operators.WindowGuard.MaxWindowCells)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    def side(df: org.apache.spark.sql.DataFrame, tag: Int) = df
      .select(col(valueCol).cast(DoubleType).as("v"))
      .where(col("v").isNotNull)
      .select(col("v"), lit(tag).as("side"))
    val m = side(before, 0).unionAll(side(after, 1))
      .groupBy("v")
      .agg(
        count(when(col("side") === 0, 1)).as("ca"),
        count(when(col("side") === 1, 1)).as("cb"))
    val wcum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nv = count(lit(1)).over(Window.partitionBy())
    val s = m
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("cum",
        graft.operators.WindowGuard.guarded(sum("t").over(wcum), nv,
          maxValues, "Checks.mannWhitneyDrift"))
      .agg(
        sum("ca").cast("long").as("n_a"),
        sum("cb").cast("long").as("n_b"),
        sum((col("ca") * (lit(2) * col("cum") - col("t") + 1))
          .cast("decimal(38,0)")).as("r1x2"),
        sum((col("t") * col("t") * col("t") - col("t"))
          .cast("decimal(38,0)")).as("ties"))
    val na = col("n_a").cast(DoubleType)
    val nb = col("n_b").cast(DoubleType)
    val n = na + nb
    val uu = (col("r1x2").cast(DoubleType) - na * (na + lit(1.0))) / lit(2.0)
    val mu = na * nb / lit(2.0)
    val tieterm = col("ties").cast(DoubleType) / (n * (n - lit(1.0)))
    val sigma2 = na * nb * ((n + lit(1.0)) - tieterm) / lit(12.0)
    val z = round((uu - mu) / sqrt(sigma2), 6)
    s.select(
      col("n_a"), col("n_b"),
      round(uu, 6).as("u"), z.as("z"),
      (abs(z) > 1.96).as("drift"))
  }

  /** Approximate two-sample KS drift via mergeable KLL sketches (E109) —
    * the 100 TB execution of [[ksDrift]]'s documented scale path made
    * concrete: E98's exact form pays a value-keyed shuffle of the pooled
    * DISTINCT values plus a global-order cumulative window; this form
    * pays ONE union scan with a map-side-mergeable KLL aggregate per
    * side — the shuffle carries exactly two k-bounded sketches, no
    * global sort exists at any scale. D̂ = max over the union of both
    * sketches' retained points of |rank_a(v) − rank_b(v)| (inclusive
    * ranks). Both estimated CDFs are step functions changing only at
    * retained points, so that max is EXACT over the estimated CDFs; the
    * only error is the sketches' normalized rank error (reported as
    * `rank_eps` = ε_a + ε_b at 99% confidence), giving
    * |D̂ − D| ≤ rank_eps. KLL compaction is randomized, so D̂ is not
    * bit-deterministic → no hash oracle; the `ks_drift_audit` query pins
    * |D̂ − D| against the exact E98 twin with 3× slack instead.
    *
    * The two collected rows are sketch bytes + a count — the R14
    * post-aggregation metadata-sized collect, never data. */
  def ksDriftApprox(
      before: org.apache.spark.sql.DataFrame,
      after: org.apache.spark.sql.DataFrame,
      valueCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    val spark = before.sparkSession
    def side(df: org.apache.spark.sql.DataFrame, tag: Int) = df
      .select(col(valueCol).cast(DoubleType).as("v"))
      .where(col("v").isNotNull)
      .select(col("v"), lit(tag).as("side"))
    val rows = side(before, 0).unionAll(side(after, 1))
      .groupBy("side")
      .agg(
        kll_sketch_agg_double(col("v")).as("kll"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getAs[Array[Byte]]("kll"), r.getLong(2))))
      .toMap
    import spark.implicits._
    // the sketch skips NaN: an all-NaN side is as empty as a missing one
    def sk(tag: Int): Option[(KllDoublesSketch, Long)] = rows.get(tag).map {
      case (bytes, n) => (KllDoublesSketch.heapify(Memory.wrap(bytes)), n)
    }.filterNot(_._1.isEmpty)
    (sk(0), sk(1)) match {
      case (Some((sa, na)), Some((sb, nb))) =>
        val cand = (sa.getSortedView.getQuantiles ++ sb.getSortedView.getQuantiles)
          .distinct.sorted
        val inc = QuantileSearchCriteria.INCLUSIVE
        val d = cand.map(v => math.abs(sa.getRank(v, inc) - sb.getRank(v, inc))).max
        val eps = sa.getNormalizedRankError(false) + sb.getNormalizedRankError(false)
        Seq((na, nb, cand.length.toLong,
          math.rint(d * 1e6) / 1e6, math.rint(eps * 1e6) / 1e6))
          .toDF("n_a", "n_b", "n_candidates", "ks_d_approx", "rank_eps")
      case _ =>
        // one or both sides without a non-NaN value: no distribution to
        // compare (n still counts every non-null value, NaN included)
        Seq((rows.get(0).map(_._2).getOrElse(0L),
          rows.get(1).map(_._2).getOrElse(0L), 0L))
          .toDF("n_a", "n_b", "n_candidates")
          .withColumn("ks_d_approx", lit(null).cast(DoubleType))
          .withColumn("rank_eps", lit(null).cast(DoubleType))
    }
  }

  /** Pattern-match compliance (E85) — the Deequ PatternMatch analyzer
    * (the format-validation workhorse: id/phone/code columns checked
    * against an expected regex). For each named spec (check, column,
    * regex): the column's non-null count, how many values match
    * (unanchored search, both engines' regex-search semantics — anchor
    * with ^$ for full-match), and the compliance ratio over non-null
    * values.
    *
    * ONE map-side-combined global aggregation carrying two codegen'd
    * conditional-count slots per spec (the E81 shape — any number of
    * checks costs one scan, no shuffle of row data); the unpivot to one
    * row per spec runs over the single aggregate row. An all-null column
    * yields a null ratio rather than NaN. */
  def patternMatch(
      df: org.apache.spark.sql.DataFrame,
      specs: Seq[(String, String, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    require(specs.nonEmpty, "need at least one pattern spec")
    val slots = specs.zipWithIndex.flatMap { case ((_, c, re), i) =>
      Seq(
        count(col(c)).as(s"nv_$i"),
        count(when(col(c).rlike(re), 1)).as(s"nm_$i"))
    }
    val g = df.agg(slots.head, slots.tail: _*)
    val stackArgs = lit(specs.size) +: specs.zipWithIndex.flatMap {
      case ((name, c, re), i) =>
        Seq(lit(name), lit(c), lit(re), col(s"nv_$i"), col(s"nm_$i"))
    }
    g.select(stack(stackArgs: _*)
        .as(Seq("check_name", "instance", "pattern", "n_values", "n_matched")))
      .select(
        col("check_name"), col("instance"), col("pattern"),
        col("n_values"), col("n_matched"),
        when(col("n_values") === 0, lit(null).cast(DoubleType))
          .otherwise(round(col("n_matched").cast(DoubleType) /
            col("n_values").cast(DoubleType), 6)).as("match_ratio"))
  }

  /** Segmented completeness (E79) — Deequ's whole-table Completeness
    * (N1) broken out per segment: a column that is 99.9% complete
    * overall but 0% complete for one `event_type` / region / tenant is
    * the classic upstream-pipeline breakage whole-table profiling
    * averages away.
    *
    * ONE map-side-combined groupBy(segment) computes every column's
    * non-null count (codegen'd conditional-count slots, the E48 funnel
    * shape — no per-column scans); the unpivot to
    * (segment, instance, n_rows, n_null, completeness) runs over the
    * segment-sized aggregate, not the data. Null segment values form
    * their own segment (both engines' GROUP BY semantics). */
  def segmentedCompleteness(
      df: org.apache.spark.sql.DataFrame, segCol: String,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.map(c => count(col(c)).as(s"nn_$c"))
    val g = df.groupBy(col(segCol).cast("string").as("segment"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = lit(cols.size) +:
      cols.flatMap(c => Seq(lit(c), col(s"nn_$c")))
    g.select(col("segment"), col("n_rows"),
        stack(stackArgs: _*).as(Seq("instance", "nn")))
      .select(
        col("segment"), col("instance"), col("n_rows"),
        (col("n_rows") - col("nn")).as("n_null"),
        round(col("nn").cast(DoubleType) * lit(1.0) /
          col("n_rows").cast(DoubleType), 6).as("completeness"))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ordered-sequence event analytics — the two classic product-analytics
  * operators a query engine is expected to answer over an event stream
  * table: conversion funnels with STRICT time ordering (stage k counts
  * only users whose stage-k event happened after their stage-(k−1)
  * event — a plain per-type distinct count would overcount wildly) and
  * cohort retention matrices.
  *
  * Scale shape: both reduce the event table to per-user scalars in ONE
  * shuffle of the events table — the funnel groups each user's
  * stage-typed events and walks them in-task ([[funnelReached]]), the
  * retention matrix distinct-counts compact `(user, cohort, offset)`
  * triples. Events are never self-joined and never rescanned per stage.
  */
object Events {

  import org.apache.spark.sql.Column

  /** Epoch-microseconds view of an event-time column, dispatching on the
    * column's ACTUAL read type so parquet writer drift (INT64 raw nanos vs
    * TIMESTAMP(MICROS, NTZ) vs TIMESTAMP(MILLIS)) can never silently break
    * event-time ingestion again (round-6 regression: every events query
    * assumed a nanos long while the testdata had moved to micros NTZ):
    *
    *   - `LongType` — a raw INT64 epoch column (e.g. TIMESTAMP(NANOS) read
    *     under `spark.sql.legacy.parquet.nanosAsLong`): `div 1000` floors
    *     nanos→micros exactly like DuckDB's ns→µs conversion;
    *   - `TimestampType` / `TimestampNTZType` — `unix_micros` of the
    *     timestamp; NTZ values are interpreted in the session's pinned UTC
    *     zone, matching DuckDB's `epoch_us(ts)` on naive timestamps.
    *
    * Works on batch AND streaming frames (pure column expression; the
    * dispatch reads only the schema). */
  def tsMicros(df: DataFrame, tsCol: String): Column =
    df.schema(tsCol).dataType match {
      case LongType => expr(s"`$tsCol` div 1000")
      case TimestampType | TimestampNTZType =>
        unix_micros(col(tsCol).cast(TimestampType))
      case dt => throw new IllegalArgumentException(
        s"tsMicros: unsupported event-time type $dt for column $tsCol " +
          "(expected INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** Deepest funnel stage each user reaches under STRICT time ordering:
    * stage 1 = any `stages(0)` event; stage k = a `stages(k-1)` event
    * strictly after the stage-(k−1) anchor, where each stage's anchor is
    * its earliest qualifying event. Returns `(u, reached)` for users
    * reaching at least stage 1.
    *
    * ONE shuffle of the events table: events matching any stage type are
    * grouped per user, time-sorted in-task, and walked once — the greedy
    * earliest-anchor walk is exactly the iterated per-stage
    * `min(ts) where ts > prev_anchor` (taking the earliest valid anchor at
    * each stage never excludes a later stage the iterated form would
    * reach). Replaces the k-scan driver loop that read the events table
    * once per stage. The per-user event array holds only events whose type
    * is a funnel stage — bounded by a user's own funnel activity, not the
    * corpus.
    *
    * `maxEventsPerUser` is the skew guard for adversarial users (bots with
    * 10⁸ stage-typed events would otherwise build a 10⁸-element in-task
    * array): when set, a windowed rank keeps only each user's EARLIEST n
    * stage events BEFORE the per-user aggregation buffer is built (a
    * post-hoc slice would not bound the collect_list buffer itself — the
    * window sort spills, the buffer cannot). Costs one extra exchange,
    * which is why it is off by default (also oracle parity). Depths are
    * exact for every user within the cap; a capped user's depth is a
    * lower bound (anchors never move earlier by dropping late events). */
  def funnelReached(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String],
      maxEventsPerUser: Option[Int] = None): DataFrame = {
    require(stages.nonEmpty, "at least one stage required")
    val stagesArr = array(stages.map(lit): _*)
    val NullTs = Long.MaxValue
    // order-preserving long view of the event time: timestamps keep
    // microsecond precision (a plain long cast would truncate to seconds
    // and break strict ordering inside one second); numerics/longs pass
    // through unchanged
    val tsLong = events.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case _: TimestampNTZType => unix_micros(col(tsCol).cast(TimestampType))
      case _ => col(tsCol).cast("long")
    }
    val typed = events
      .where(col(typeCol).isin(stages: _*))
      .select(
        col(userCol).as("u"),
        // null ts → Long.MaxValue: sorts last, may take a STAGE-1 anchor
        // (the SQL per-stage form counts a null-MIN group at stage 1) and
        // blocks every later stage — at stages ≥ 2 the SQL form's
        // `ts > prev` is NULL for a null ts, so the walk must never
        // consume the sentinel past stage 1 (enforced in the lambda)
        struct(coalesce(tsLong, lit(NullTs)).as("t"), col(typeCol).as("ty")).as("e"))
    val capped = maxEventsPerUser.fold(typed) { n =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("e.t").asc, col("e.ty").asc)
      typed.withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= n).drop("_rn")
    }
    val perUser = capped
      .groupBy("u")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
    perUser.select(
      col("u"),
      aggregate(
        col("evs"),
        struct(lit(0).as("s"), lit(Long.MinValue).as("t")),
        // `get` (0-based) is null past the last stage, so a completed
        // funnel's condition goes null → event ignored — no ANSI OOB error
        (acc, e) => when(
          get(stagesArr, acc("s")) === e("ty") && e("t") > acc("t") &&
            (acc("s") === 0 || e("t") =!= lit(NullTs)),
          struct((acc("s") + 1).as("s"), e("t").as("t"))).otherwise(acc),
        acc => acc("s")).as("reached"))
      .where(col("reached") >= 1)
  }

  /** [[funnelReached]] with the per-stage anchor TIMES kept: returns
    * `(u, anchors)` where `anchors(k)` is the stage-(k+1) anchor in
    * microseconds (array length = depth reached). Same single shuffle and
    * greedy walk; the accumulator additionally appends each accepted
    * anchor. The stage-1 null-ts sentinel can appear only at index 0 and
    * blocks all later stages, so any index ≥ 1 anchor — and its
    * predecessor — is a real time (the E48 sentinel contract). */
  def funnelAnchors(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "at least one stage required")
    val stagesArr = array(stages.map(lit): _*)
    val NullTs = Long.MaxValue
    val tsLong = events.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case _: TimestampNTZType => unix_micros(col(tsCol).cast(TimestampType))
      case _ => col(tsCol).cast("long")
    }
    val typed = events
      .where(col(typeCol).isin(stages: _*))
      .select(
        col(userCol).as("u"),
        struct(coalesce(tsLong, lit(NullTs)).as("t"), col(typeCol).as("ty")).as("e"))
    typed.groupBy("u")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .select(
        col("u"),
        aggregate(
          col("evs"),
          struct(lit(0).as("s"), lit(Long.MinValue).as("t"),
            array().cast("array<bigint>").as("a")),
          (acc, e) => when(
            get(stagesArr, acc("s")) === e("ty") && e("t") > acc("t") &&
              (acc("s") === 0 || e("t") =!= lit(NullTs)),
            struct((acc("s") + 1).as("s"), e("t").as("t"),
              concat(acc("a"), array(e("t"))).as("a"))).otherwise(acc),
          acc => acc("a")).as("anchors"))
      .where(size(col("anchors")) >= 1)
  }

  /** Funnel time-to-convert (E102) — per stage transition, how many users
    * converted and the exact p50/p90 latency in seconds: the
    * product-analytics number next to E48's depth counts. ONE events
    * shuffle ([[funnelAnchors]]), then per-transition deltas explode from
    * the per-user anchor array (≤ |stages|−1 rows per user) into a
    * |transitions|-group exact-percentile aggregation (the N8-twin
    * contract).
    *
    * SPOT-VERIFIER ONLY (the spearman_corr discipline): the
    * `sort_array(collect_list)` below buffers EVERY converter's delta
    * for a transition inside ONE aggregation buffer — at 100 TB the
    * declared scale row is [[timeToConvertApprox]] (grouped KLL
    * sketches, k-bounded state per group), pinned by
    * `time_to_convert_audit`'s 3ε rank bounds. */
  def timeToConvert(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "need at least two stages for a transition")
    val spark = events.sparkSession
    import spark.implicits._
    val deltas = convertDeltas(events, userCol, tsCol, typeCol, stages)
    // nearest-rank (discrete) quantiles — an ACTUAL delta, not an
    // interpolation: interpolated quantiles of messy doubles differ in
    // the last ulp across engines (Spark (1−g)a+gb vs a+g(b−a)) and flip
    // the 6-dp display rounding; picking element ceil(p·n) is
    // bit-identical everywhere. The per-transition sorted array is
    // bounded by converter count; at adversarial scale use the grouped
    // KLL battery (E19/E82) instead.
    def disc(p: Double) = round(element_at(col("ds"),
      ceil(lit(p) * col("n_users")).cast("int")), 6)
    val agg = deltas.groupBy("i").agg(
      count(lit(1)).as("n_users"),
      sort_array(collect_list(col("delta_s"))).as("ds"))
      .select(col("i"), col("n_users"),
        disc(0.5).as("p50_s"), disc(0.9).as("p90_s"))
    val lookup = stages.sliding(2).zipWithIndex
      .map { case (Seq(a, b), i) => (i, s"$a->$b") }.toSeq
      .toDF("i", "transition")
    broadcast(lookup).join(agg, Seq("i"), "left")
      .select(col("transition"),
        // a transition nobody completed is 0 converters (the oracle's
        // COUNT over an empty set), not an absent row
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        col("p50_s"), col("p90_s"))
  }

  /** The per-transition conversion-delta relation both E102 faces
    * aggregate: ONE events shuffle ([[funnelAnchors]]), then deltas
    * explode from the per-user anchor array (≤ |stages|−1 rows per
    * user). Columns: `(i, delta_s)` with `i` the 0-based transition
    * index. */
  private[graft] def convertDeltas(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String]): DataFrame =
    funnelAnchors(events, userCol, tsCol, typeCol, stages)
      .select(explode(expr(
        "transform(slice(anchors, 2, size(anchors) - 1), " +
          "(x, i) -> struct(i AS i, x - element_at(anchors, i + 1) AS d))"))
        .as("e"))
      .select(col("e.i").as("i"),
        (col("e.d").cast("double") / lit(1000000.0)).as("delta_s"))

  /** KLL-approximate time-to-convert — [[timeToConvert]]'s 100 TB
    * execution: the exact form's `sort_array(collect_list)` per-group
    * delta buffer (∝ converters in ONE task) becomes a grouped KLL
    * sketch aggregation with k-bounded state, and p50/p90 are CDF reads
    * off each transition's sketch via the distributed
    * `kll_sketch_get_quantile_double` scalar — the relation never leaves
    * the executors un-reduced and no group buffers more than sketch bytes.
    * Reported quantiles are TRUE delta values at rank p ± ε
    * (`rank_eps`, 99% confidence). Randomized compaction → no hash
    * oracle; `time_to_convert_audit` pins counts by equality and
    * quantiles by 3ε rank intervals. Schema = exact form + rank_eps. */
  def timeToConvertApprox(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "need at least two stages for a transition")
    val spark = events.sparkSession
    import spark.implicits._
    // rank error of the built-in's default k = 200
    val eps = math.rint(org.apache.datasketches.kll.KllSketch
      .getNormalizedRankError(200, false) * 1e6) / 1e6
    val deltas = convertDeltas(events, userCol, tsCol, typeCol, stages)
    val agg = deltas.groupBy("i").agg(
      count(lit(1)).as("n_users"),
      kll_sketch_agg_double(col("delta_s")).as("sk"))
      .select(col("i"), col("n_users"),
        kll_sketch_get_quantile_double(col("sk"), array(lit(0.5), lit(0.9))).as("q"))
      .select(col("i"), col("n_users"),
        round(element_at(col("q"), 1), 6).as("p50_s"),
        round(element_at(col("q"), 2), 6).as("p90_s"))
    val lookup = stages.sliding(2).zipWithIndex
      .map { case (Seq(a, b), i) => (i, s"$a->$b") }.toSeq
      .toDF("i", "transition")
    broadcast(lookup).join(agg, Seq("i"), "left")
      .select(col("transition"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        col("p50_s"), col("p90_s"),
        when(col("n_users").isNotNull, lit(eps)).as("rank_eps"))
  }

  /** Strict-order funnel counts: stage k's `n_users` = users reaching at
    * least stage k ([[funnelReached]] — one events-table shuffle; this
    * wrapper reduces the per-user relation to ≤ |stages| rows and builds
    * the report driver-side). Returns `(stage, event_type, n_users)`. */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String]): DataFrame = {
    val byDepth = funnelReached(events, userCol, tsCol, typeCol, stages)
      .groupBy("reached").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = stages.zipWithIndex.map { case (st, i) =>
      Row(i + 1, st, (i + 1 to stages.size).map(j => byDepth.getOrElse(j, 0L)).sum)
    }
    events.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("stage", IntegerType, nullable = false),
        StructField("event_type", StringType, nullable = false),
        StructField("n_users", LongType, nullable = false))))
  }

  /** Cohort retention: cohort = the user's first active day (epoch days
    * from the microsecond timestamp), cell (cohort_day, day_offset) =
    * distinct users of that cohort active `offset` days later. Returns
    * `(cohort_day, day_offset, n_users)` for offsets `0..maxOffset`. */
  def cohortRetention(
      events: DataFrame,
      userCol: String,
      tsUsCol: String,
      maxOffset: Int): DataFrame = {
    require(maxOffset >= 0, "maxOffset must be non-negative")
    val ev = events.select(
      col(userCol).as("u"),
      expr(s"$tsUsCol div 86400000000").as("day"))
    // per-user table — unbounded at scale, so no broadcast hint; both
    // sides shuffle on `u` (the groupBy's partitioning is reused)
    val cohort = ev.groupBy("u").agg(min(col("day")).as("cohort_day"))
    ev.join(cohort, Seq("u"))
      .select(col("u"), col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .where(col("day_offset") <= maxOffset)
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Freshness decay weights (E216) — the recency-weighted sampling
    * plan a continuously-refreshed corpus trains under: per event day,
    * the volume, its age against the newest day in the relation, the
    * exponential decay weight `ROUND(e^(−age/τ), 6)` and the effective
    * (weighted) volume — "yesterday counts fully, last quarter at a
    * third". τ (`halfLifeDays`, an e-folding time) is a literal in the
    * plan; EXP parity is the repo's LN/EXP contract, ages are integer
    * day differences, so the relation carries a FULL hash oracle. One
    * map-side-combined day rollup + a broadcast 1-row max — no window,
    * no driver collect. */
  def freshnessWeights(
      events: DataFrame, tsCol: String,
      halfLifeDays: Double = 30.0): DataFrame = {
    require(halfLifeDays > 0, "need a positive decay constant")
    val days = events
      .where(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val newest = days.agg(max(col("day")).as("newest"))
    days.crossJoin(broadcast(newest))
      .select(
        // ISO string: a DATE column round-trips differently through
        // parquet readers (date vs midnight timestamp) — string is the
        // engine-neutral daily-key convention
        col("day").cast("string").as("day"), col("n_events"),
        datediff(col("newest"), col("day")).cast("long").as("age_days"))
      .select(col("day"), col("n_events"), col("age_days"),
        round(exp(-col("age_days").cast("double") / lit(halfLifeDays)), 6)
          .as("weight"))
      .select(col("day"), col("n_events"), col("age_days"), col("weight"),
        round(col("n_events").cast("double") * col("weight"), 6)
          .as("effective_n"))
  }

  /** Per-day event profile (E95) — the monitoring table a pipeline owner
    * watches: for each UTC day, event volume, exact distinct active
    * users, value completeness and the decimal-exact mean. This is the
    * batch time-bucketed face of the profiling battery (the streaming
    * face is E12's windowed profile): ONE map-side-combined
    * groupBy(day) — the distinct-user slot rewrites to the standard
    * two-phase Expand aggregation, still a single logical pass, no
    * per-day jobs. Mean follows the decSum contract (DECIMAL(38,6)
    * addends — partition-order independent); a day with no non-null
    * values yields a null mean, not NaN. */
  def dailyProfile(
      events: DataFrame, tsUsCol: String, userCol: String,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    // day as 'yyyy-MM-dd' STRING: a DATE column round-trips differently
    // through arrow/pandas on the two engines (date32 vs datetime64),
    // and the string form is what a monitoring sink keys on anyway
    events
      .groupBy(date_format(timestamp_micros(col(tsUsCol)), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col(userCol)).as("n_users"),
        count(col(valueCol)).as("n_value"),
        round(sum(col(valueCol).cast(dec)).cast("double") /
          count(col(valueCol)), 6).as("mean_value"))
  }

  /** Gap-based batch sessionization (E108) — the batch face of the
    * streaming session operator (E13 keeps OPEN sessions as state; this
    * closes every session in one pass over history): a user's events,
    * time-ordered, split into sessions wherever the inter-event gap
    * exceeds `gapUs`. Returns one row per session: `(user, session_idx,
    * start_us, end_us, duration_us, n_events, n_types)` with
    * `session_idx` 1-based per user in time order.
    *
    * ONE shuffle of the events table, keyed by user: `lag` (previous
    * event time) and the running new-session-flag sum share a single
    * `(user, (ts, tie))` window spec, so Catalyst plans them as one
    * Window operator over one exchange+sort. The per-session reduce that
    * follows is a standard partial-agg groupBy of the SAME relation —
    * map-side combine collapses it to session-count rows before its
    * exchange, so the second shuffle carries sessions, not events.
    *
    * Scale shape: the window sort is per-user-partition and spills; a
    * bot user with 10⁸ events costs a spilled sort, never an in-memory
    * buffer (nothing here collects a user's events into an array).
    * Ordering is total — `tieCol` (a unique event id) breaks timestamp
    * collisions — so session boundaries are deterministic under any
    * partitioning. All arithmetic is integer microseconds end to end;
    * no doubles, no timezone: boundaries depend only on deltas. */
  def sessionize(
      events: DataFrame, userCol: String, tsUsCol: String, tieCol: String,
      typeCol: String, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsUsCol).asc_nulls_first, col(tieCol).asc_nulls_first)
    events
      .select(col(userCol), col(tsUsCol), col(tieCol), col(typeCol))
      .withColumn("prev_us", lag(col(tsUsCol), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col(tsUsCol) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        min(col(tsUsCol)).as("start_us"),
        max(col(tsUsCol)).as("end_us"),
        (max(col(tsUsCol)) - min(col(tsUsCol))).as("duration_us"),
        count(lit(1)).as("n_events"),
        countDistinct(col(typeCol)).as("n_types"))
  }

  /** Rolling trailing-window volume monitor (E115) — the time-series
    * face of the monitoring suite (E95 gives per-day points; E12 the
    * streaming windows; this the TREND): per UTC day, event volume plus
    * the trailing `windowDays`-day total/mean and the volume-vs-trend
    * ratio that alerting thresholds on. The frame is RANGE over the
    * integer day number, not ROWS — a gap (outage day with zero events)
    * must SHRINK the trailing window, not silently stretch it to older
    * days; `days_in_window` makes partial windows (series start, gaps)
    * visible to the consumer.
    *
    * Scale shape: events collapse map-side to the per-day rollup in ONE
    * groupBy(day) pass; the RANGE window runs over the DAY-sized
    * relation (three orders smaller than the data — a global-order
    * window there is free, never the 100 TB bottleneck). Ratio is
    * n·days/total in fixed-order double, rounded for display. */
  def rollingDailyVolume(
      events: DataFrame, tsUsCol: String, windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowDays >= 1, "windowDays must be >= 1")
    val usPerDay = 86400000000L
    // integer DIV, not double `/`: near a midnight boundary the rounded
    // double quotient could land the event on the wrong day
    val daily = events
      .groupBy(expr(s"$tsUsCol DIV $usPerDay").as("day_num"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy("day_num")
      .rangeBetween(-(windowDays - 1).toLong, Window.currentRow)
    daily
      .withColumn("window_events", sum("n_events").over(w))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .select(
        date_format(timestamp_micros(col("day_num") * usPerDay), "yyyy-MM-dd")
          .as("day"),
        col("n_events"), col("window_events"), col("days_in_window"),
        round(col("n_events").cast(DoubleType) *
          col("days_in_window").cast(DoubleType) /
          col("window_events").cast(DoubleType), 6).as("vs_trend"))
  }

  /** Daily-volume autocorrelation (E116) — does the event series repeat
    * itself: Pearson correlation of per-day volume against its own
    * CALENDAR-shifted copies (lag 1 = day-over-day persistence, lag 7 =
    * weekly seasonality — the two alerting baselines E115's trailing
    * mean can't distinguish). Alignment is a self-join on
    * `day_num = day_num + k` over the day rollup, NOT a ROWS-frame lag:
    * with outage gaps, "previous row" silently means "previous PRESENT
    * day" and the lag-1 series quietly compares across a gap; days
    * whose shifted partner is absent contribute null (excluded per pair
    * by the corr contract).
    *
    * Scale shape: one map-side-combined groupBy(day) collapses events
    * to the day rollup; the self-joins and the moment pass run over the
    * DAY-sized relation (broadcast-sized at any corpus scale). Rides
    * the proven E37 decimal-quantized moment algebra verbatim. */
  def volumeAutocorr(
      events: DataFrame, tsUsCol: String, lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be >= 1")
    val usPerDay = 86400000000L
    val daily = events
      .groupBy(expr(s"$tsUsCol DIV $usPerDay").as("day_num"))
      .agg(count(lit(1)).as("n_events"))
    val base = daily.select(col("day_num"), col("n_events").cast("double").as("v"))
    val aligned = lags.foldLeft(base) { (acc, k) =>
      acc.join(
        daily.select((col("day_num") + k).as("dn"),
          col("n_events").cast("double").as(s"v_lag$k")),
        col("day_num") === col("dn"), "left").drop("dn")
    }
    graft.profiler.Correlation.matrix(
      aligned, "v" +: lags.map(k => s"v_lag$k"))
  }

  /** Per-state transition entropy (E111) — how predictable is the NEXT
    * event given the current one: for each observed state, the Shannon
    * entropy of its next-event-type distribution over per-user
    * consecutive pairs (the first-order-Markov face of the association
    * suite — E105's Theil's U relates two COLUMNS; this relates a
    * sequence to its own future). h_next = 0 means the state is fully
    * deterministic (e.g. 'error' always followed by 'retry'); ln(k)
    * means it tells you nothing.
    *
    * Same one-shuffle shape as [[sessionize]]: lag over the total
    * `(user, (ts, tie))` order builds the (prev, cur) pairs map-side
    * after one user-keyed exchange+sort; the cells relation that
    * follows is state², map-side combined — the shuffle after the
    * window carries distinct transition cells, never events. Entropy
    * follows the proven F2/E105 contract: c·ln(c) terms quantized
    * ROUND(·,12)→DECIMAL(38,12) so the sum is partition-order
    * independent, h = ln(n) − Σterm/n rounded at 6 for display. */
  def transitionEntropy(
      events: DataFrame, userCol: String, tsUsCol: String, tieCol: String,
      typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec12 = DataTypes.createDecimalType(38, 12)
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsUsCol).asc_nulls_first, col(tieCol).asc_nulls_first)
    val term = round(
      col("c").cast(DoubleType) * log(col("c").cast(DoubleType)), 12)
      .cast(dec12)
    events
      .select(col(userCol), col(tsUsCol), col(tieCol), col(typeCol))
      .withColumn("prev_type", lag(col(typeCol), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol).as("cur"))
      .agg(count(lit(1)).as("c"))
      .groupBy("prev_type")
      .agg(
        sum("c").cast(LongType).as("n_transitions"),
        count(lit(1)).as("n_next"),
        sum(term).as("tsum"))
      .select(
        col("prev_type"), col("n_transitions"), col("n_next"),
        round(log(col("n_transitions").cast(DoubleType)) -
          col("tsum").cast(DoubleType) / col("n_transitions").cast(DoubleType),
          6).as("h_next"))
  }

  /** Timestamp-column profile (E118) — the profiling battery face for
    * event-time columns the reference's battery class-Skips (SURVEY
    * §1.2: timestamps are not Text/Numeric, so the 17-analyzer battery
    * never touches them; this is the extension that covers what it
    * skips): completeness, min/max, cardinality and calendar span of a
    * timestamp column in ONE scan, robust to parquet writer drift via
    * [[tsMicros]] (INT64-nanos / TIMESTAMP_MICROS-NTZ / MILLIS all land
    * on the same epoch-micros algebra — the round-6 regression class
    * can't reach this operator).
    *
    * Scale shape: a single wide `agg()` over the one projected column;
    * the two `countDistinct`s share one Expand — no second scan, no
    * driver round-trips. Day boundaries are integer `DIV`, day labels
    * rendered only on the final single row. */
  def tsProfile(events: DataFrame, tsCol: String): DataFrame = {
    val usPerDay = 86400000000L
    events
      .select(tsMicros(events, tsCol).as("ts_us"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("ts_us")).as("n_present"),
        min(col("ts_us")).as("min_us"),
        max(col("ts_us")).as("max_us"),
        countDistinct(col("ts_us")).as("n_distinct"),
        countDistinct(expr(s"ts_us DIV $usPerDay")).as("n_days"))
      .select(
        col("n_rows"), col("n_present"),
        round(col("n_present").cast(DoubleType) /
          col("n_rows").cast(DoubleType), 6).as("completeness"),
        col("min_us"), col("max_us"), col("n_distinct"), col("n_days"),
        (expr(s"max_us DIV $usPerDay") - expr(s"min_us DIV $usPerDay") + 1L)
          .as("span_days"),
        date_format(timestamp_micros(col("min_us")), "yyyy-MM-dd").as("min_day"),
        date_format(timestamp_micros(col("max_us")), "yyyy-MM-dd").as("max_day"))
  }

  /** Inter-arrival-time profile (E119) — the distribution of per-user
    * gaps between consecutive events: the bot/retry-storm fingerprint
    * (machine traffic shows sub-second modes and near-zero variance;
    * organic traffic is heavy-tailed) and the empirical input for
    * choosing a sessionization gap (E108's `gapUs` should sit in the
    * antimode between the two). Returns ONE row of global gap stats:
    * counts, min/max, decimal-exact mean seconds, and exact
    * interpolated quartiles/p95 (the proven percentile ↔ QUANTILE_CONT
    * contract).
    *
    * Scale shape: the SAME single user-keyed exchange+sort as
    * [[sessionize]] builds gaps map-side via `lag`; what shuffles after
    * the window is the final all-reduce of a dozen aggregate buffers.
    * SPOT-VERIFIER ONLY (the spearman_corr discipline): the exact
    * `percentile` materializes the full gap value set in the final
    * merge — at 100 TB the declared scale row is
    * [[interarrivalStatsApprox]] (KLL sketch, identical schema plus
    * `rank_eps`), pinned by `interarrival_stats_audit`'s 3ε rank
    * bounds. */
  def interarrivalStats(
      events: DataFrame, userCol: String, tsUsCol: String,
      tieCol: String): DataFrame = {
    val gaps = gapRelation(events, userCol, tsUsCol, tieCol)
    def secs(c: Column): Column =
      round(c / lit(1000000.0d), 6)
    gaps
      .agg(
        count(lit(1)).as("n_gaps"),
        countDistinct(col(userCol)).as("n_users"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("sum_gap_us"),
        percentile(col("gap_us").cast(DoubleType),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("q"))
      .select(
        col("n_gaps"), col("n_users"), col("min_gap_us"), col("max_gap_us"),
        // integer total -> ONE double division chain (mirrored verbatim
        // by the oracle): sum/n, then us->s, then the display rounding
        round(col("sum_gap_us").cast(DoubleType) /
          col("n_gaps").cast(DoubleType) / lit(1000000.0d), 6)
          .as("mean_gap_s"),
        secs(element_at(col("q"), 1)).as("p25_s"),
        secs(element_at(col("q"), 2)).as("p50_s"),
        secs(element_at(col("q"), 3)).as("p75_s"),
        secs(element_at(col("q"), 4)).as("p95_s"))
  }

  /** The per-user consecutive-gap relation both E119 faces aggregate:
    * one user-keyed exchange+sort (the [[sessionize]] shuffle), gaps
    * built map-side via `lag`, first-event rows (null gap) dropped.
    * Columns: `(userCol, gap_us)`. */
  private[graft] def gapRelation(
      events: DataFrame, userCol: String, tsUsCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsUsCol).asc_nulls_first, col(tieCol).asc_nulls_first)
    events
      .select(col(userCol), col(tsUsCol), col(tieCol))
      .withColumn("gap_us", col(tsUsCol) - lag(col(tsUsCol), 1).over(w))
      .where(col("gap_us").isNotNull)
      .select(col(userCol), col("gap_us"))
  }

  /** KLL-approximate inter-arrival profile — [[interarrivalStats]]'s
    * 100 TB execution (the E114 `mad_outliers_approx` pattern applied
    * to the event family): the scalar stats (counts, min/max, exact
    * mean) are cheap mergeable aggregate buffers either way; only the
    * quartiles forced the exact form's full-value-set `percentile`
    * merge. This form sketches the gap distribution in the SAME single
    * wide aggregation (k-bounded KLL bytes on the wire, the R14
    * metadata-sized collect) and reads p25/p50/p75/p95 off the sketch
    * CDF. Each reported quantile is a TRUE gap value whose rank is
    * within the sketch's normalized rank error ε of the target
    * (reported as `rank_eps`, 99% confidence). KLL compaction is
    * randomized → no hash oracle; `interarrival_stats_audit` pins every
    * number against an exact one-pass recount (scalars by equality,
    * quantiles by 3ε rank intervals). Schema = exact form + rank_eps. */
  def interarrivalStatsApprox(
      events: DataFrame, userCol: String, tsUsCol: String,
      tieCol: String): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    val spark = events.sparkSession
    import spark.implicits._
    val gaps = gapRelation(events, userCol, tsUsCol, tieCol)
    val row = gaps.agg(
      count(lit(1)).as("n_gaps"),
      countDistinct(col(userCol)).as("n_users"),
      min(col("gap_us")).as("min_gap_us"),
      max(col("gap_us")).as("max_gap_us"),
      sum(col("gap_us")).as("sum_gap_us"),
      kll_sketch_agg_double(col("gap_us").cast(DoubleType)).as("sk")).head()
    val nGaps = row.getAs[Long]("n_gaps")
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    if (nGaps == 0L) {
      Seq((0L, 0L, Option.empty[Long], Option.empty[Long],
        Option.empty[Double], Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Double], Option.empty[Double]))
        .toDF("n_gaps", "n_users", "min_gap_us", "max_gap_us", "mean_gap_s",
          "p25_s", "p50_s", "p75_s", "p95_s", "rank_eps")
    } else {
      val sk = KllDoublesSketch.heapify(
        Memory.wrap(row.getAs[Array[Byte]]("sk")))
      def q(p: Double): Double =
        r6(sk.getQuantile(p, QuantileSearchCriteria.INCLUSIVE) / 1e6)
      Seq((nGaps, row.getAs[Long]("n_users"),
        Option(row.getAs[Long]("min_gap_us")),
        Option(row.getAs[Long]("max_gap_us")),
        Option(r6(row.getAs[Long]("sum_gap_us").toDouble / nGaps / 1e6)),
        Option(q(0.25)), Option(q(0.5)), Option(q(0.75)), Option(q(0.95)),
        Option(r6(sk.getNormalizedRankError(false)))))
        .toDF("n_gaps", "n_users", "min_gap_us", "max_gap_us", "mean_gap_s",
          "p25_s", "p50_s", "p75_s", "p95_s", "rank_eps")
    }
  }

  /** Hour-of-week activity profile (E120) — the seasonality rollup the
    * daily suite can't see (E95 aggregates per DAY; weekly rhythm needs
    * day-of-week × hour-of-day cells): events and distinct users per
    * (dow, hour) cell — the classic traffic heatmap, and the calendar
    * prior behind E116's lag-7 autocorrelation. Weekday is pure integer
    * epoch algebra — `(day_num + 4) mod 7` with 0 = Sunday (1970-01-01
    * was a Thursday) — identical on any engine, no timezone, no locale.
    *
    * Scale shape: ONE map-side-combined groupBy over ≤168 cells; the
    * distinct-user count is the only real shuffle and carries
    * `(cell, user)` keys. */
  def hourlyActivity(
      events: DataFrame, tsUsCol: String, userCol: String): DataFrame = {
    val usPerDay = 86400000000L
    val usPerHour = 3600000000L
    events
      .groupBy(
        ((expr(s"$tsUsCol DIV $usPerDay") + 4) % 7).as("dow"),
        (expr(s"$tsUsCol DIV $usPerHour") % 24).as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col(userCol)).as("n_users"))
  }

  /** CUSUM change-point screen over daily volume (E121) — the
    * level-shift detector the trend suite lacks (E115 flags days vs
    * their OWN trailing window; a permanent regime change re-normalizes
    * into the trailing mean within `windowDays` and goes quiet — CUSUM
    * accumulates deviation from the GLOBAL mean, so a level shift shows
    * as a sustained ramp and the change-point as the |cusum| extremum):
    * per day, volume, cumulative deviation sum, and a flag on the
    * extremum day (Page 1954's classic, in its retrospective form).
    *
    * Scale shape: events collapse map-side to the DAY rollup in one
    * pass; the global-order running sum and the extremum broadcast run
    * over the day-sized relation (free at any corpus scale, as E115).
    * Deviations are quantized ROUND(·,6)→DECIMAL(38,6) BEFORE the
    * running sum, so every prefix is exact and partition-order
    * independent, and the extremum comparison is decimal-exact (a
    * double running sum would make `is_changepoint` flap between
    * engines). */
  def volumeCusum(events: DataFrame, tsUsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val usPerDay = 86400000000L
    val dec6 = DataTypes.createDecimalType(38, 6)
    val daily = events
      .groupBy(expr(s"$tsUsCol DIV $usPerDay").as("day_num"))
      .agg(count(lit(1)).as("n_events"))
    // totals and the |cusum| extremum as WINDOWS over the day rollup —
    // separate aggregate+crossJoin branches would re-derive `daily` from
    // fresh scans of the events table (3 scans where one suffices); every
    // window here runs over the day-sized relation (E115's argument)
    val whole = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = daily
      .withColumn("tot", sum(col("n_events")).over(whole))
      .withColumn("nd", count(lit(1)).over(whole))
      .withColumn("dev",
        round(col("n_events").cast(DoubleType) -
          col("tot").cast(DoubleType) / col("nd").cast(DoubleType), 6)
          .cast(dec6))
      .withColumn("cusum",
        sum(col("dev")).over(Window.orderBy(col("day_num"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("peak", max(abs(col("cusum"))).over(whole))
    cum
      .select(
        date_format(timestamp_micros(col("day_num") * usPerDay), "yyyy-MM-dd")
          .as("day"),
        col("n_events"),
        round(col("cusum").cast(DoubleType), 6).as("cusum"),
        (abs(col("cusum")) === col("peak")).cast("int").as("is_changepoint"))
  }

  /** Session-level rollup (E126) — the one-row report over [[sessionize]]'s
    * output a monitoring dashboard keys on: session counts, bounce rate
    * inputs (single-event sessions), decimal-exact mean depth/duration and
    * exact duration quantiles. Runs entirely over the SESSION-sized
    * relation — the event table is touched only by the sessionize pass
    * itself.
    *
    * SPOT-VERIFIER ONLY (the spearman_corr discipline): the session
    * relation is ∝ users, and the exact `percentile` materializes every
    * session duration in the final merge — at 100 TB the declared scale
    * row is [[sessionStatsApprox]], pinned by `session_stats_audit`. */
  def sessionStats(sessions: DataFrame, userCol: String): DataFrame = {
    def secs(c: Column): Column = round(c / lit(1000000.0d), 6)
    sessions
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col(userCol)).as("n_users"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L))
          .as("n_single_event"),
        sum(col("n_events")).as("tot_events"),
        sum(col("duration_us")).as("tot_duration_us"),
        percentile(col("duration_us").cast(DoubleType),
          array(lit(0.5), lit(0.9))).as("q"))
      .select(
        col("n_sessions"), col("n_users"), col("n_single_event"),
        round(col("tot_events").cast(DoubleType) /
          col("n_sessions").cast(DoubleType), 6).as("mean_events"),
        round(col("tot_duration_us").cast(DoubleType) /
          col("n_sessions").cast(DoubleType) / lit(1000000.0d), 6)
          .as("mean_duration_s"),
        secs(element_at(col("q"), 1)).as("p50_duration_s"),
        secs(element_at(col("q"), 2)).as("p90_duration_s"))
  }

  /** KLL-approximate session rollup — [[sessionStats]]'s 100 TB
    * execution: scalar stats stay exact mergeable buffers; the duration
    * quantiles come off a KLL sketch built in the SAME single wide
    * aggregation over the session relation. Reported p50/p90 are true
    * session durations at rank 0.5/0.9 ± ε (`rank_eps`, 99%
    * confidence). Randomized compaction → no hash oracle;
    * `session_stats_audit` pins scalars by equality and quantiles by 3ε
    * rank intervals. Schema = exact form + rank_eps. */
  def sessionStatsApprox(sessions: DataFrame, userCol: String): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    val spark = sessions.sparkSession
    import spark.implicits._
    val row = sessions.agg(
      count(lit(1)).as("n_sessions"),
      countDistinct(col(userCol)).as("n_users"),
      sum(when(col("n_events") === 1L, 1L).otherwise(0L))
        .as("n_single_event"),
      sum(col("n_events")).as("tot_events"),
      sum(col("duration_us")).as("tot_duration_us"),
      kll_sketch_agg_double(col("duration_us").cast(DoubleType)).as("sk")).head()
    val n = row.getAs[Long]("n_sessions")
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    if (n == 0L) {
      Seq((0L, 0L, 0L, Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Double], Option.empty[Double]))
        .toDF("n_sessions", "n_users", "n_single_event", "mean_events",
          "mean_duration_s", "p50_duration_s", "p90_duration_s", "rank_eps")
    } else {
      val sk = KllDoublesSketch.heapify(
        Memory.wrap(row.getAs[Array[Byte]]("sk")))
      def q(p: Double): Double =
        r6(sk.getQuantile(p, QuantileSearchCriteria.INCLUSIVE) / 1e6)
      Seq((n, row.getAs[Long]("n_users"), row.getAs[Long]("n_single_event"),
        Option(r6(row.getAs[Long]("tot_events").toDouble / n)),
        Option(r6(row.getAs[Long]("tot_duration_us").toDouble / n / 1e6)),
        Option(q(0.5)), Option(q(0.9)),
        Option(r6(sk.getNormalizedRankError(false)))))
        .toDF("n_sessions", "n_users", "n_single_event", "mean_events",
          "mean_duration_s", "p50_duration_s", "p90_duration_s", "rank_eps")
    }
  }

  /** JSON payload key inventory (E137) — schema discovery for the
    * semi-structured column every event table drags along: per top-level
    * key, how many rows carry it and the share of rows — the first
    * question ("what's actually IN props?") before any `get_json_object`
    * extraction is written, and the drift monitor for producers adding/
    * dropping fields. Malformed JSON rows surface as the '<invalid>'
    * sentinel instead of vanishing.
    *
    * Scale shape: one explode of per-row key ARRAYS (bounded by each
    * row's own key count) collapsing map-side to ≤distinct-keys cells;
    * the row total broadcasts back for the share. */
  def jsonKeyProfile(events: DataFrame, jsonCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // internal sentinels carry a NUL prefix no real JSON key produced by
    // a sane producer carries, and — unlike the printable '<row>' marker
    // this replaced — cannot collide with a genuine top-level key named
    // '<row>'/'<invalid>' (a collision both swallowed the real key and
    // inflated n_rows for every other key); the invalid marker is mapped
    // to its printable form only at output, where a genuine '<invalid>'
    // key would surface as a SEPARATE row rather than silently merging
    val RowMark = "\u0000row"
    val InvalidMark = "\u0000invalid"
    // a row sentinel element rides along in every row's key array, so
    // the row total falls out of the SAME explode+aggregate pass (a
    // separate count(*) would be a second scan of the table); it is
    // filtered from the output after the window total reads it
    val keys = concat(
      array(lit(RowMark)),
      when(col(jsonCol).isNull, array())
        .otherwise(coalesce(json_object_keys(col(jsonCol)),
          array(lit(InvalidMark)))))
    events
      .select(explode(keys).as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n_present"))
      .withColumn("n_rows",
        max(when(col("key") === RowMark, col("n_present"))).over(
          Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(col("key") =!= RowMark)
      .select(
        when(col("key") === InvalidMark, lit("<invalid>"))
          .otherwise(col("key")).as("key"),
        col("n_present"), col("n_rows"),
        round(col("n_present").cast(DoubleType) /
          col("n_rows").cast(DoubleType), 6).as("share"))
  }

  /** Per-type daily burst screen (E127) — which event TYPE went abnormal
    * on which day: per (event_type, day) volume z-scored against that
    * type's OWN across-days distribution (the global monitors E95/E115/
    * E121 can't see a 100× error-rate burst hiding inside a flat total).
    * z is null when a type's daily volume never varies (σ = 0 — the
    * degenerate case left visible, the E114 0-MAD convention).
    *
    * Scale shape: events collapse map-side to the (type × day) rollup in
    * ONE pass; the per-type moment pass and the join back run over that
    * metadata-sized relation. Per-day counts and their squares are exact
    * BIGINTs, so mean/σ reduce to identical fixed-order double algebra
    * on any engine — no decimal machinery needed. */
  def typeBurst(
      events: DataFrame, tsUsCol: String, typeCol: String,
      zFlag: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val usPerDay = 86400000000L
    val daily = events
      .groupBy(col(typeCol).as("event_type"),
        expr(s"$tsUsCol DIV $usPerDay").as("day_num"))
      .agg(count(lit(1)).as("n_events"))
    // per-type moments as WINDOWS over the day rollup, not a second
    // aggregation of it: the events table is scanned ONCE (a separate
    // moments groupBy would re-derive `daily` from a second 100 TB scan);
    // the windows run over the metadata-sized type×day relation
    val wt = Window.partitionBy(col("event_type"))
    val moments = daily
      .withColumn("nd", count(lit(1)).over(wt))
      .withColumn("s1", sum(col("n_events")).over(wt))
      .withColumn("s2", sum(col("n_events") * col("n_events")).over(wt))
    val mean = col("s1").cast(DoubleType) / col("nd").cast(DoubleType)
    val varPop = col("s2").cast(DoubleType) / col("nd").cast(DoubleType) -
      mean * mean
    moments
      .select(
        col("event_type"),
        date_format(timestamp_micros(col("day_num") * usPerDay), "yyyy-MM-dd")
          .as("day"),
        col("n_events"),
        round(mean, 6).as("mean_daily"),
        when(varPop > 0d,
          round((col("n_events").cast(DoubleType) - mean) / sqrt(varPop), 6))
          .as("z"),
        when(varPop > 0d,
          (abs((col("n_events").cast(DoubleType) - mean) / sqrt(varPop))
            >= zFlag).cast("int")).otherwise(lit(0)).as("is_burst"))
  }

  /** User-activity histogram (E132) — the power-user/long-tail shape of
    * an event corpus: users bucketed by floor(log2(events)) with user and
    * event totals per bucket (the engagement-distribution report behind
    * bot screens and per-user sampling caps — a bucket holding 0.1% of
    * users but 40% of events IS the skew E48's funnel cap guards
    * against). The bucket is pure integer algebra — the bit length of
    * the count, `length(bin(n)) − 1` — identical on any engine; no
    * floating log near power-of-two boundaries.
    *
    * Scale shape: one user-keyed reduce of the event table, then a
    * ≤64-cell map-side-combined histogram; the user total broadcasts
    * back for the share column. */
  def userActivityHistogram(
      events: DataFrame, userCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .groupBy(col(userCol).as("u"))
      .agg(count(lit(1)).as("n"))
    // the user total is a window over the ≤64-cell HISTOGRAM (buckets
    // partition users, so Σ n_users = total) — a separate aggregate of
    // perUser would re-run the user-keyed reduce from a second scan
    perUser
      .groupBy((length(bin(col("n"))) - 1).cast(LongType).as("bucket"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n")).as("n_events"),
        min(col("n")).as("min_events"),
        max(col("n")).as("max_events"))
      .withColumn("n_users_total", sum(col("n_users")).over(
        Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(
        col("bucket"), col("n_users"), col("n_events"),
        col("min_events"), col("max_events"),
        round(col("n_users").cast(DoubleType) /
          col("n_users_total").cast(DoubleType), 6).as("users_share"))
  }

  /** Session-scoped association rules (E122) — market-basket lift over
    * event types: for every ordered type pair (a → b), the number of
    * users whose history contains both, support, confidence and lift
    * (the "users who did X also did Y" surface behind feature-adoption
    * and recommendation analyses; lift > 1 = genuinely associated,
    * ≈ 1 = independent co-occurrence).
    *
    * Scale shape: the event table collapses FIRST to the distinct
    * `(user, type)` relation (one exchange of compact keys — the only
    * shuffle that sees data volume); the pair self-join is keyed on
    * `user` with fan-out ≤ (types-per-user)², bounded by the type
    * vocabulary, never by a user's event count; marginals and the user
    * total are broadcast back. The ratio algebra is fixed-order double,
    * rounded at 6 — c·n / (c_a·c_b) with each factor cast once. */
  def assocRules(
      events: DataFrame, userCol: String, typeCol: String,
      minUsers: Long = 1L): DataFrame = {
    // the basket relation feeds THREE consumers (user total, marginals,
    // pair join × 2) — materialize it once so the events table is
    // scanned and distinct-reduced once, not four times (localCheckpoint
    // also truncates the lineage, the Clustering.scala precedent)
    val ut = events
      .select(col(userCol).as("u"), col(typeCol).as("t"))
      .where(col("t").isNotNull)
      .distinct()
      .localCheckpoint(true)
    val nUsers = ut.agg(countDistinct(col("u")).as("n"))
    val marg = ut.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val pairs = ut.as("a")
      .join(ut.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("x"), col("b.t").as("y"))
      .agg(count(lit(1)).as("n_both"))
    val directed = pairs
      .select(col("x").as("antecedent"), col("y").as("consequent"),
        col("n_both"))
      .unionAll(pairs.select(col("y").as("antecedent"),
        col("x").as("consequent"), col("n_both")))
    directed
      .join(broadcast(marg.select(col("t").as("antecedent"),
        col("c").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(marg.select(col("t").as("consequent"),
        col("c").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(nUsers))
      .where(col("n_both") >= minUsers)
      .select(
        col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"),
        round(col("n_both").cast(DoubleType) /
          col("n").cast(DoubleType), 6).as("support"),
        round(col("n_both").cast(DoubleType) /
          col("n_ante").cast(DoubleType), 6).as("confidence"),
        round(col("n_both").cast(DoubleType) * col("n").cast(DoubleType) /
          (col("n_ante").cast(DoubleType) * col("n_cons").cast(DoubleType)),
          6).as("lift"))
  }

  /** SCD Type-2 dimension history build (E243) — Kimball's
    * slowly-changing-dimension pattern: collapse a per-key change log
    * into versioned validity intervals. Consecutive observations of the
    * SAME tracked value merge into one interval; each value CHANGE
    * opens a new version with `valid_from` = its first observation,
    * `valid_to` = the next version's `valid_from` (NULL on the open
    * current version, `is_current` = true). The missing data-eng
    * sibling of E87 snapshot-diff: diff reconciles two snapshots,
    * SCD2 materializes the full history a warehouse dimension serves
    * as-of joins (E36) from.
    *
    * Spark-first shape: two windows over the SAME (key, ts, id)
    * partitioning — a lag to mark change rows, a lead over the
    * change-row subset to close intervals — so the whole build is ONE
    * shuffle on the dimension key (Catalyst reuses the exchange across
    * the windows); linear in log rows, no self-join against the
    * history. Ordering ties on equal timestamps break by `ordCol`
    * (unique event id), keeping the version chain deterministic.
    *
    * Cites reference scope: the reference profiles static tables only
    * (Profiler.scala:166-253) — no temporal versioning; extension per
    * SURVEY §2.E. */
  def scd2History(
      log: DataFrame,
      keyCol: String,
      tsCol: String,
      ordCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = Window.partitionBy(keyCol).orderBy(col(tsCol), col(ordCol))
    val changed = log
      .select(col(keyCol), col(tsCol), col(ordCol), col(valueCol))
      .withColumn("prev_value", lag(col(valueCol), 1).over(obs))
      .where(col("prev_value").isNull ||
        !(col("prev_value") <=> col(valueCol)))
    val ver = Window.partitionBy(keyCol).orderBy(col(tsCol), col(ordCol))
    changed
      .withColumn("version", row_number().over(ver).cast("long"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(ver))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col("version"), col(valueCol),
        col("valid_from"), col("valid_to"), col("is_current"))
  }
}

package graft.profiler

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataTypes, DoubleType, StringType}

/** Winsorized (quantile-clipped) robust statistics (E70).
  *
  * Web-scale numeric metadata (token counts, byte sizes, scores) is
  * heavy-tailed enough that a handful of outliers dominate plain
  * mean/stddev; curation thresholds derived from them drift run to run.
  * The standard robust alternative clips every value into the exact
  * [p_lo, p_hi] quantile envelope before the moments — bounds, clipped
  * mean, clipped population stddev, and how many values were clipped.
  *
  * Two global aggregation passes over one shared spread() exchange
  * (computed once, reused as a skipped stage): (1) the exact-percentile
  * bounds pass, column-chunked into concurrent jobs so the sketch
  * aggregates' single-threaded final merges overlap (the ScanMetrics
  * Sketch-pass recipe; the 2·C doubles come to the driver —
  * metadata-sized, R14 policy); (2) one wide clipped-moment pass with
  * the bounds inlined as literals.
  * Moments use the decSum contract (addends quantized to DECIMAL(38,6))
  * so the result is partition-order independent and hash-matches the
  * DuckDB twin built from the same QUANTILE_CONT + LEAST/GREATEST
  * algebra.
  */
object RobustStats {

  private val Dec = DataTypes.createDecimalType(38, 6)
  private val Dec12 = DataTypes.createDecimalType(38, 12)

  private def decSum(c: Column): Column =
    sum(c.cast(Dec)).cast(DoubleType)

  /** (instance, name, value) triples per numeric column:
    * WinsorizedLow-p, WinsorizedHigh-p, WinsorizedMean-lo-hi,
    * WinsorizedStdDev-lo-hi, WinsorizedClipped-lo-hi. Columns whose
    * percentile is null (all-null column) contribute no rows. */
  def winsorizedStats(
      df: DataFrame, cols: Seq[String],
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(cols.nonEmpty, "winsorizedStats needs at least one column")
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val spark = df.sparkSession
    import spark.implicits._

    // Exact bounds via the frequency-CDF battery (ExactQuantiles, r16):
    // bit-identical to the percentile aggregate it replaces, without the
    // per-chunk single-threaded value-map merges. localCheckpoint: the
    // battery makes two passes (bounds, moments) — the spread projection
    // is materialized once and both read the cached blocks (guide §5:
    // reuse × recompute cost; this exact lane's inputs are value-domain
    // bounded by contract, the KLL twin is the uncached 100 TB path).
    // projection BEFORE the exchange (guide §2.3, r17): only the
    // profiled columns ride the spread shuffle and the checkpoint;
    // checkpoint gated on spread firing (ADVICE r16, spreadCheckpoint)
    val src = ScanMetrics.spreadCheckpoint(df.select(cols.map(col): _*))
    val q = ExactQuantiles.quantiles(
      src, cols.map(c => c -> col(c)), Seq(pLo, pHi))
    val bounds: Seq[(String, (Double, Double))] =
      cols.flatMap(c => q(c).map(vs => c -> (vs(0), vs(1))))

    val momentAggs: Seq[Column] = bounds.flatMap { case (c, (lo, hi)) =>
      val x = col(c).cast(DoubleType)
      // explicit null branch: Spark's greatest/least SKIP null arguments,
      // so greatest(null, lo) would silently turn null values into lo
      val clip = when(x.isNull, lit(null).cast(DoubleType))
        .otherwise(least(greatest(x, lit(lo)), lit(hi)))
      Seq(
        decSum(clip).as(s"${c}__sum"),
        decSum(clip * clip).as(s"${c}__sumsq"),
        count(x).as(s"${c}__n"),
        count(when(x < lit(lo) || x > lit(hi), lit(1))).as(s"${c}__clipped"))
    }
    val m = src.agg(momentAggs.head, momentAggs.tail: _*).head()

    val lof = pLo.toString
    val hif = pHi.toString
    val rows = bounds.flatMap { case (c, (lo, hi)) =>
      val sumV = m.getAs[Double](s"${c}__sum")
      val sumSq = m.getAs[Double](s"${c}__sumsq")
      val n = m.getAs[Long](s"${c}__n")
      val clipped = m.getAs[Long](s"${c}__clipped")
      if (n == 0) Nil
      else {
        val mean = sumV / n
        val variance = math.max(sumSq / n - mean * mean, 0.0)
        Seq(
          (c, s"WinsorizedLow-$lof", lo),
          (c, s"WinsorizedHigh-$hif", hi),
          (c, s"WinsorizedMean-$lof-$hif", mean),
          (c, s"WinsorizedStdDev-$lof-$hif", math.sqrt(variance)),
          (c, s"WinsorizedClipped-$lof-$hif", clipped.toDouble))
      }
    }
    rows.toDF("instance", "name", "value")
      .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
  }

  /** KLL-approximate winsorized statistics — [[winsorizedStats]]'s
    * 100 TB execution, completing the robust battery's sketch lane
    * (E70 here, E96 [[iqrOutliersApprox]], E114 [[madOutliersApprox]]).
    * The exact form's first pass is a per-column exact-percentile
    * TypedImperativeAggregate whose state is the column's VALUE SET —
    * the thing that stops scaling first. Here pass 1 is a mergeable
    * k-bounded KLL sketch per column (quantile bounds from the sketch);
    * pass 2 is UNCHANGED — the same decSum clipped-moment aggregation
    * with the bounds inlined as literals, so given the bounds the
    * moments are exact, deterministic and order-independent. The ONLY
    * approximation is where the clip bounds land (ε in rank space,
    * reported per column as a `WinsorizedRankEps` row);
    * `winsorized_stats_audit` pins both bounds' exact rank intervals.
    * Randomized compaction → rows-only key. Output schema mirrors
    * [[winsorizedStats]] (+ the RankEps row per column). */
  def winsorizedStatsApprox(
      df: DataFrame, cols: Seq[String],
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(cols.nonEmpty, "winsorizedStatsApprox needs at least one column")
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    val spark = df.sparkSession
    import spark.implicits._
    val src = ScanMetrics.spread(df.select(cols.map(col): _*)) // §2.3 projection (r17)
    val skAggs = cols.map(c => kll_sketch_agg_double(col(c).cast(DoubleType)).as(s"k_$c"))
    val skRow = src.agg(skAggs.head, skAggs.tail: _*).head()
    val inc = QuantileSearchCriteria.INCLUSIVE
    // the sketch skips NaN as well as null: an all-NaN column has no
    // bounds, exactly like an all-null one
    val bounds: Seq[(String, (Double, Double, Double))] = cols.flatMap { c =>
      val sk = KllDoublesSketch.heapify(Memory.wrap(skRow.getAs[Array[Byte]](s"k_$c")))
      if (sk.isEmpty) None
      else {
        val q = sk.getQuantiles(Array(pLo, pHi), inc)
        Some(c -> ((q(0), q(1), sk.getNormalizedRankError(false))))
      }
    }
    if (bounds.isEmpty)
      return Seq.empty[(String, String, Double)]
        .toDF("instance", "name", "value")
    val momentAggs: Seq[Column] = bounds.flatMap { case (c, (lo, hi, _)) =>
      val x = col(c).cast(DoubleType)
      val clip = when(x.isNull, lit(null).cast(DoubleType))
        .otherwise(least(greatest(x, lit(lo)), lit(hi)))
      Seq(
        decSum(clip).as(s"${c}__sum"),
        decSum(clip * clip).as(s"${c}__sumsq"),
        count(x).as(s"${c}__n"),
        count(when(x < lit(lo) || x > lit(hi), lit(1))).as(s"${c}__clipped"))
    }
    val m = src.agg(momentAggs.head, momentAggs.tail: _*).head()
    val lof = pLo.toString
    val hif = pHi.toString
    val rows = bounds.flatMap { case (c, (lo, hi, eps)) =>
      val n = m.getAs[Long](s"${c}__n")
      if (n == 0) Nil
      else {
        val mean = m.getAs[Double](s"${c}__sum") / n
        val variance = math.max(
          m.getAs[Double](s"${c}__sumsq") / n - mean * mean, 0.0)
        Seq(
          (c, s"WinsorizedLow-$lof", lo),
          (c, s"WinsorizedHigh-$hif", hi),
          (c, s"WinsorizedMean-$lof-$hif", mean),
          (c, s"WinsorizedStdDev-$lof-$hif", math.sqrt(variance)),
          (c, s"WinsorizedClipped-$lof-$hif",
            m.getAs[Long](s"${c}__clipped").toDouble),
          (c, "WinsorizedRankEps", eps))
      }
    }
    rows.toDF("instance", "name", "value")
      .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
  }

  /** IQR outlier counts (E96) — Tukey's fences, the standard
    * box-plot outlier rule data-quality suites threshold on: per numeric
    * column, the exact 6-dp-quantized quartiles, the
    * `[q1 − 1.5·IQR, q3 + 1.5·IQR]` envelope and how many non-null
    * values fall below / above it. Complements E70: winsorizing asks
    * "what do the stats look like without the tail"; this asks "how big
    * IS the tail".
    *
    * Same two-pass shape as [[winsorizedStats]]: one exact-quartile pass
    * (shared spread() exchange, column-chunked concurrent jobs), then ONE
    * wide conditional-count pass with the fences inlined as literals.
    * Fence arithmetic is fixed-order double (`q1 − 1.5·(q3 − q1)`),
    * mirrored verbatim by the oracle; all-null columns yield null fences
    * and zero counts. */
  def iqrOutliers(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "iqrOutliers needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    // localCheckpoint: two passes (quartiles, fence counts) share the
    // materialized spread projection (see winsorizedStats note)
    val src = ScanMetrics.spreadCheckpoint(df.select(cols.map(col): _*)) // §2.3 projection + gated checkpoint (r17)
    // frequency-CDF exact quartiles (ExactQuantiles, r16) — bit-identical
    // to the percentile aggregate (and so to DuckDB QUANTILE_CONT, the
    // proven E70 contract); rounding is display-only
    val q = ExactQuantiles.quantiles(
      src, cols.map(c => c -> col(c)), Seq(0.25, 0.75))
    val fences: Seq[(String, Option[(Double, Double, Double, Double)])] =
      cols.map { c =>
        c -> q(c).map { a =>
          val (q1, q3) = (a(0), a(1))
          (q1, q3, q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
        }
      }
    val countAggs = fences.flatMap {
      case (c, Some((_, _, lo, hi))) => Seq(
        count(when(col(c) < lo, 1)).as(s"b_$c"),
        count(when(col(c) > hi, 1)).as(s"a_$c"))
      case (c, None) => Seq(
        lit(0L).as(s"b_$c"), lit(0L).as(s"a_$c"))
    }
    val counts = src.agg(countAggs.head, countAggs.tail: _*).head()
    fences.map {
      case (c, Some((q1, q3, lo, hi))) =>
        (c, Option(q1), Option(q3), Option(lo), Option(hi),
          counts.getAs[Long](s"b_$c"), counts.getAs[Long](s"a_$c"))
      case (c, None) =>
        (c, Option.empty[Double], Option.empty[Double], Option.empty[Double],
          Option.empty[Double], 0L, 0L)
    }.toDF("instance", "q1", "q3", "fence_lo", "fence_hi",
      "n_below", "n_above")
      .select(col("instance"),
        round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"),
        round(col("fence_lo"), 6).as("fence_lo"),
        round(col("fence_hi"), 6).as("fence_hi"),
        col("n_below"), col("n_above"))
  }

  /** KLL-approximate Tukey fences — [[iqrOutliers]]'s 100 TB execution.
    * Unlike MAD there is NO dependent second quantile (the fences are
    * pure arithmetic on q1/q3), so the whole screen collapses to ONE
    * mergeable sketch scan: quartiles come out of each column's KLL
    * sketch, and the below/above-fence tail counts are CDF rank lookups
    * on the SAME sketch — the exact form's two extra passes (chunked
    * percentile jobs + the wide conditional-count pass) both disappear.
    * Wire traffic is k-bounded sketch bytes; error is ε in rank space
    * per reported number (`rank_eps`, 99% confidence). Randomized
    * compaction → rows-only; `iqr_outliers_audit` pins the bounds
    * against exact counts at the approx fences. Schema mirrors
    * [[iqrOutliers]] (+ rank_eps). */
  def iqrOutliersApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "iqrOutliersApprox needs at least one column")
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = cols.flatMap { c => Seq(
      kll_sketch_agg_double(col(c).cast(DoubleType)).as(s"k_$c"),
      count(col(c)).as(s"n_$c")) }
    val row = ScanMetrics.spread(df.select(cols.map(col): _*))
      .agg(aggs.head, aggs.tail: _*).head()
    val inc = QuantileSearchCriteria.INCLUSIVE
    val exc = QuantileSearchCriteria.EXCLUSIVE
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    cols.map { c =>
      val n = row.getAs[Long](s"n_$c")
      val sk = KllDoublesSketch.heapify(Memory.wrap(row.getAs[Array[Byte]](s"k_$c")))
      // empty sketch: all null or all NaN (the sketch skips both)
      if (sk.isEmpty)
        (c, Option.empty[Double], Option.empty[Double],
          Option.empty[Double], Option.empty[Double], 0L, 0L,
          Option.empty[Double])
      else {
        val q = sk.getQuantiles(Array(0.25, 0.75), inc)
        val (q1, q3) = (q(0), q(1))
        val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
        val nBelow = math.round(n * sk.getRank(lo, exc))
        val nAbove = n - math.round(n * sk.getRank(hi, inc))
        (c, Option(r6(q1)), Option(r6(q3)), Option(r6(lo)), Option(r6(hi)),
          nBelow, nAbove, Option(r6(sk.getNormalizedRankError(false))))
      }
    }.toDF("instance", "q1", "q3", "fence_lo", "fence_hi",
      "n_below", "n_above", "rank_eps")
  }

  /** MAD robust outlier screen (E114) — the third member of the robust
    * suite: E70 winsorizes the tail away, E96's Tukey fences derive from
    * quartiles, this derives them from the median absolute deviation —
    * the 50%-breakdown scale estimator, unmoved even when the tail IS
    * half the data (where the IQR itself starts stretching). Fences are
    * median ± 3·MAD; a 0 MAD (≥50% identical values) degenerates to
    * "anything off the median is an outlier" — the documented MAD
    * pathology, left visible rather than patched.
    *
    * THREE passes over the shared spread() exchange (MAD's second
    * quantile depends on the first's result, so two quantile passes are
    * inherent): exact medians (column-chunked concurrent percentile
    * jobs, the E70 shape), exact medians of |x − med| with the med
    * inlined as a literal, then ONE wide conditional-count pass with
    * the fences inlined. Fixed-order double fence arithmetic mirrored
    * verbatim by the oracle; all-null columns yield null fences and
    * zero counts. */
  def madOutliers(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "madOutliers needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    // localCheckpoint: THREE passes (medians, deviation medians, fence
    // counts) share the materialized spread projection (winsorizedStats
    // note) — the probed before-shape paid the scan+exchange thrice
    val src = ScanMetrics.spreadCheckpoint(df.select(cols.map(col): _*)) // §2.3 projection + gated checkpoint (r17)
    // frequency-CDF exact medians (ExactQuantiles, r16): one battery per
    // round instead of per-chunk percentile value-map merges; MAD's
    // second quantile still depends on the first, so two rounds remain
    def chunkedQuantiles(exprs: Seq[(String, Column)]): Map[String, Option[Double]] =
      ExactQuantiles.quantiles(src, exprs, Seq(0.5))
        .map { case (k, v) => k -> v.map(_.head) }
    val med = chunkedQuantiles(cols.map(c => c -> col(c).cast(DoubleType)))
    val madCols = cols.flatMap(c => med(c).map(m =>
      c -> abs(col(c).cast(DoubleType) - lit(m))))
    val mad =
      if (madCols.isEmpty) Map.empty[String, Option[Double]]
      else chunkedQuantiles(madCols)
    val fences: Seq[(String, Option[(Double, Double, Double, Double)])] =
      cols.map { c =>
        c -> (for { m <- med(c); d <- mad.get(c).flatten } yield
          (m, d, m - 3.0 * d, m + 3.0 * d))
      }
    val countAggs = fences.flatMap {
      case (c, Some((_, _, lo, hi))) => Seq(
        count(when(col(c).cast(DoubleType) < lo, 1)).as(s"b_$c"),
        count(when(col(c).cast(DoubleType) > hi, 1)).as(s"a_$c"))
      case (c, None) => Seq(
        lit(0L).as(s"b_$c"), lit(0L).as(s"a_$c"))
    }
    val counts = src.agg(countAggs.head, countAggs.tail: _*).head()
    fences.map {
      case (c, Some((m, d, lo, hi))) =>
        (c, Option(m), Option(d), Option(lo), Option(hi),
          counts.getAs[Long](s"b_$c"), counts.getAs[Long](s"a_$c"))
      case (c, None) =>
        (c, Option.empty[Double], Option.empty[Double], Option.empty[Double],
          Option.empty[Double], 0L, 0L)
    }.toDF("instance", "median", "mad", "fence_lo", "fence_hi",
      "n_below", "n_above")
      .select(col("instance"),
        round(col("median"), 6).as("median"), round(col("mad"), 6).as("mad"),
        round(col("fence_lo"), 6).as("fence_lo"),
        round(col("fence_hi"), 6).as("fence_hi"),
        col("n_below"), col("n_above"))
  }

  /** KLL-approximate MAD outlier screen — [[madOutliers]]'s 100 TB
    * execution (the E98→E109 precedent applied to the last exact-only
    * robust-stats battery): the exact form pays THREE full passes
    * (median, MAD, fence counts), each a percentile aggregation whose
    * final merge materializes per-column value sets. This form pays
    * TWO map-side-mergeable sketch scans and NO third pass at all:
    *
    *  1. one scan sketching each column's values (KLL) + non-null n;
    *  2. one scan sketching |x − m̂| with the sketch-median m̂ inlined
    *     (MAD's second quantile inherently depends on the first — the
    *     same two-round structure the exact form has, minus a pass);
    *  3. the outlier tails come FROM THE PASS-1 SKETCH as rank queries
    *     (n·rank(lo⁻), n·(1 − rank(hi))) — counting below/above a known
    *     fence is exactly the CDF lookup a quantile sketch answers, so
    *     the exact form's whole third scan disappears.
    *
    * Everything on the wire is k-bounded sketch bytes; the collect is
    * the R14 metadata-sized kind. Error: each reported number is off by
    * at most the sketch's normalized rank error ε (reported as
    * `rank_eps`, 99% confidence) in RANK space — medians/MADs are true
    * values at rank 0.5 ± ε, tail counts are within ε·n. KLL compaction
    * is randomized → no hash oracle; `mad_outliers_audit` pins every
    * bound against the exact twin. Schema mirrors [[madOutliers]]
    * (+ rank_eps); all-null and all-NaN columns yield null stats and
    * zero counts. */
  def madOutliersApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "madOutliersApprox needs at least one column")
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    val spark = df.sparkSession
    import spark.implicits._
    val src = ScanMetrics.spread(df.select(cols.map(col): _*)) // §2.3 projection (r17)
    def sketchPass(exprs: Seq[(String, Column)]): Map[String, (KllDoublesSketch, Long)] = {
      val aggs = exprs.flatMap { case (name, e) => Seq(
        kll_sketch_agg_double(e).as(s"k_$name"),
        count(e).as(s"n_$name")) }
      val row = src.agg(aggs.head, aggs.tail: _*).head()
      exprs.map { case (name, _) =>
        name -> ((
          KllDoublesSketch.heapify(
            Memory.wrap(row.getAs[Array[Byte]](s"k_$name"))),
          row.getAs[Long](s"n_$name"))) }.toMap
    }
    val inc = QuantileSearchCriteria.INCLUSIVE
    val exc = QuantileSearchCriteria.EXCLUSIVE
    val xs = sketchPass(cols.map(c => c -> col(c).cast(DoubleType)))
    // an empty sketch (all null or all NaN) has no median
    val med: Map[String, Option[Double]] = cols.map { c =>
      val (sk, _) = xs(c)
      c -> (if (sk.isEmpty) None else Some(sk.getQuantile(0.5, inc)))
    }.toMap
    val devCols = cols.flatMap(c => med(c).map(m =>
      c -> abs(col(c).cast(DoubleType) - lit(m))))
    val devs =
      if (devCols.isEmpty) Map.empty[String, (KllDoublesSketch, Long)]
      else sketchPass(devCols)
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    cols.map { c =>
      val (sk, n) = xs(c)
      (med(c), devs.get(c)) match {
        case (Some(m), Some((dsk, _))) =>
          val mad = dsk.getQuantile(0.5, inc)
          val (lo, hi) = (m - 3.0 * mad, m + 3.0 * mad)
          // tail counts as CDF lookups on the pass-1 sketch: EXCLUSIVE
          // rank = P(x < lo), INCLUSIVE rank = P(x <= hi)
          val nBelow = math.round(n * sk.getRank(lo, exc))
          val nAbove = n - math.round(n * sk.getRank(hi, inc))
          (c, Option(r6(m)), Option(r6(mad)), Option(r6(lo)), Option(r6(hi)),
            nBelow, nAbove, Option(r6(sk.getNormalizedRankError(false))))
        case _ =>
          (c, Option.empty[Double], Option.empty[Double],
            Option.empty[Double], Option.empty[Double], 0L, 0L,
            Option.empty[Double])
      }
    }.toDF("instance", "median", "mad", "fence_lo", "fence_hi",
      "n_below", "n_above", "rank_eps")
  }

  /** Benford first-significant-digit test (E97) — the classic
    * fabricated/synthetic-numbers screen: naturally-occurring magnitudes
    * spread across orders of magnitude follow P(d) = log10(1 + 1/d);
    * uniform or hand-entered data does not. Reports, per digit 1-9, the
    * observed count/share vs the Benford expectation, plus the
    * chi-square statistic repeated on each row (window sum over 9 rows).
    *
    * Determinism: the first significant digit is extracted from the
    * DECIMAL(38,6) string rendering (both engines print decimals with
    * fixed scale), NOT via log10/floor — `log10(1000)` is a last-ulp
    * coin-flip between 2.999… and 3.0 across libm implementations and
    * would misdigit every power of ten. Values rounding to 0 at 6 dp
    * (and nulls) are excluded; digits absent from the data still
    * contribute their (0 − e)² term via the literal 1-9 spine. Chi-square
    * terms are ROUND(·,12) → DECIMAL(38,12) summed (the decSum
    * contract).
    *
    * ONE map-side-combined 9-group aggregation over a codegen'd
    * scan — the window runs over 9 rows. */
  def benfordTest(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val digit = regexp_extract(
      col(valueCol).cast(Dec).cast(StringType), "[1-9]", 0)
    val counts = df
      .select(digit.as("d"))
      .where(col("d") =!= "")
      .groupBy(col("d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val spine = (1 to 9).toDF("digit")
    val joined = spine.join(counts, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val n = sum("n_obs").over(Window.partitionBy())
    val expShare = log(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)) /
      log(lit(10.0))
    val obsShare = col("n_obs").cast(DoubleType) / col("n").cast(DoubleType)
    val term = (obsShare - col("exp_share")) * (obsShare - col("exp_share")) /
      col("exp_share") * col("n").cast(DoubleType)
    joined
      .withColumn("n", n)
      .withColumn("exp_share", expShare)
      .withColumn("chi2", sum(round(term, 12).cast(Dec12))
        .over(Window.partitionBy()).cast(DoubleType))
      .select(col("digit"), col("n_obs"),
        round(obsShare, 6).as("obs_share"),
        round(col("exp_share"), 6).as("exp_share"),
        round(col("chi2"), 6).as("chi2"))
  }

  /** Per-group exact quantiles (E82) — the per-domain length/quality
    * percentile table (p50/p95 doc length per source, score quartiles per
    * language) that whole-table quantiles (N8) and per-domain MEANS (E74)
    * both miss: curation cutoffs are set per source, and a domain whose
    * p99 length is 100× its p50 needs different chunking than a uniform
    * one.
    *
    * ONE groupBy(group) pass: Spark's exact `percentile` aggregate
    * (interpolating, the N8-twin contract already hash-proven against
    * DuckDB's QUANTILE_CONT) carries a per-group value buffer, so memory
    * is bounded by per-group DISTINCT values — right for metadata-sized
    * value domains (lengths, scores). At 100 TB with adversarial group
    * counts the documented scale path is the same battery over KLL
    * sketches (`kll_sketch_agg_double`, E19) — approximate per-group
    * quantiles, this exact pass as the spot-verifier. Null group values
    * form their own group; null values are ignored by both engines'
    * quantile aggregates. */
  def groupedQuantiles(
      df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "percentiles must be in [0, 1]")
    val aggs = count(col(valueCol)).as("n") +: ps.map(p =>
      round(percentile(col(valueCol), lit(p)), 6)
        .as(s"p${(p * 100).round}"))
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[groupedQuantiles]]' 100 TB mode (E82, r8) — the documented scale
    * path made a declared operator: per-group KLL sketches
    * (`kll_sketch_agg_double`, the E19 mergeable state) instead of exact
    * per-group value buffers, so per-group memory is the fixed ~3 KB
    * sketch regardless of group size or value cardinality, and the
    * estimates are extracted WHERE THE GROUP ROWS SIT by the
    * `kll_sketch_get_quantile_double` scalar (no driver collect —
    * adversarial group counts never funnel through one node; an
    * all-null group reports n 0 and null quantiles). One groupBy pass,
    * identical output schema to the exact twin; values are approximate
    * (KLL ~1.65% rank error) → no hash oracle, `grouped_quantiles_audit`
    * pins the per-group rank bound against the data and the group/count
    * parity against the exact twin. */
  def groupedQuantilesApprox(
      df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "percentiles must be in [0, 1]")
    df.groupBy(col(groupCol))
      .agg(
        count(col(valueCol)).as("n"),
        kll_sketch_agg_double(col(valueCol).cast(DoubleType)).as("_sk"))
      // an empty sketch (all-null group) has no quantiles: null, not an error
      .withColumn("_qs", when(kll_sketch_get_n_double(col("_sk")) > 0,
        kll_sketch_get_quantile_double(col("_sk"), lit(ps.toArray))))
      .select(col(groupCol) +: col("n") +: ps.zipWithIndex.map {
        case (p, i) =>
          round(element_at(col("_qs"), i + 1), 6).as(s"p${(p * 100).round}")
      }: _*)
  }
}

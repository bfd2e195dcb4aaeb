package graft.profiler

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pairwise Pearson correlation across numeric columns — the Correlation
  * analyzer of the Deequ family the reference's battery stops short of
  * (reference Profiler.scala:333-348 ends at StandardDeviation).
  * Pairwise-complete semantics: each pair's moments sum over exactly the
  * rows where BOTH columns are present.
  *
  * The naive formulation needs 6·C(k,2) quantized decimal sums — at 8
  * columns that is 168 per-row double→decimal casts, and the cast is the
  * engine's measured cost floor (~0.5µs each, ScanMetrics.decSum notes):
  * 31s at sf0.1. Because DECIMAL arithmetic is EXACT, the moments can be
  * reassociated without breaking the determinism contract (doubles could
  * not be): per-COLUMN sums Σx, Σx² are computed ONCE (16 casts/row), the
  * cross-products Σxy once per pair (28 casts/row), and the pairwise-
  * complete per-column sums are recovered driver-side by exact BigDecimal
  * subtraction of null-correction sums (Σ_{a,b complete} a = Σ_{a present}
  * a − Σ_{a present, b null} a) whose casts only execute on rows that
  * actually have nulls. Same exact decimals, ~4x less per-row work — and
  * the oracle keeps the direct pairwise form, since the two computations
  * are equal BY VALUE, not just approximately.
  *
  * Aggregation slots are split into ≤42-slot passes (a single huge
  * aggregate exceeds the whole-stage-codegen method limit and falls back
  * to interpreted evaluation, another ~3x) submitted concurrently from
  * driver threads (the scan battery's pattern). The 1-row pass results
  * are assembled into the C(k,2)-row output driver-side — post-aggregation
  * only, never row data.
  *
  * The correlation itself is assembled in double with a fixed operation
  * order mirrored verbatim by the oracle, including Spark's HALF_UP
  * 6-place rounding. Degenerate pairs (zero variance, empty overlap)
  * yield null, guarded BEFORE the sqrt (DuckDB raises on sqrt of a
  * negative). */
object Correlation {

  private val Dec = DecimalType(38, 6)
  private val SlotsPerPass = 42

  // |x| ≤ 1e15 keeps x, x² and cross-products a·b inside DECIMAL(38,6)
  // (products ≤ 1e30 < 1e32) under ANSI mode — the ScanMetrics guard
  // pattern. Values beyond the bound (or a try_sum overflow of the total)
  // null out every pair involving that column rather than killing the job.
  private val CorrAbsBound = 1e15

  def matrix(dfIn: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    // single-row-group sources serialize the partial phase — see
    // ScanMetrics.spread; decimal moments are order-independent
    val df = ScanMetrics.spread(dfIn)
    val pairs = for {
      i <- cols.indices
      j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    def xd(c: String) = col(c).cast(DoubleType)
    def ok(c: String) = abs(xd(c)) <= CorrAbsBound

    // slot name -> aggregate expression (order defines pass packing)
    val perCol: Seq[(String, Column)] = cols.flatMap { c =>
      Seq(
        s"S_$c" -> try_sum(when(ok(c), col(c).cast(Dec))),
        s"Q_$c" -> try_sum(when(ok(c), (xd(c) * xd(c)).cast(Dec))),
        s"O_$c" -> count(when(col(c).isNotNull && !ok(c), lit(1))))
    }
    val perPair: Seq[(String, Column)] = pairs.zipWithIndex.flatMap { case ((a, b), k) =>
      val m = col(a).isNotNull && col(b).isNotNull
      def corrOf(v: String, partner: String, sq: Boolean) = {
        val cond = col(v).isNotNull && col(partner).isNull && ok(v)
        if (sq) try_sum(when(cond, (xd(v) * xd(v)).cast(Dec)))
        else try_sum(when(cond, col(v).cast(Dec)))
      }
      Seq(
        s"n_$k" -> count(when(m, lit(1))),
        s"P_$k" -> try_sum(when(m && ok(a) && ok(b), (xd(a) * xd(b)).cast(Dec))),
        s"CVa_$k" -> corrOf(a, b, sq = false),
        s"CQa_$k" -> corrOf(a, b, sq = true),
        s"CVb_$k" -> corrOf(b, a, sq = false),
        s"CQb_$k" -> corrOf(b, a, sq = true))
    }

    val passes = (perCol ++ perPair).toIndexedSeq.grouped(SlotsPerPass).toSeq
    val v: Map[String, Any] = graft.Par.map(df.sparkSession, passes, passes.size) { g =>
      val row = df.agg(
        g.head._2.alias(g.head._1),
        g.tail.map { case (nm, e) => e.alias(nm) }: _*).head()
      g.indices.map(i => g(i)._1 -> row.get(i)).toMap
    }.reduce(_ ++ _)

    def dec(name: String): Option[JBigDecimal] =
      Option(v(name)).map(_.asInstanceOf[JBigDecimal])
    def decOrZero(name: String): JBigDecimal =
      dec(name).getOrElse(JBigDecimal.ZERO)
    def round6(x: Double): Double =
      JBigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

    val out = pairs.zipWithIndex.map { case ((a, b), k) =>
      val n = v(s"n_$k").asInstanceOf[Long]
      val oor = v(s"O_$a").asInstanceOf[Long] + v(s"O_$b").asInstanceOf[Long]
      val moments = if (oor > 0) None else for {
        sa <- dec(s"S_$a"); qa <- dec(s"Q_$a")
        sb <- dec(s"S_$b"); qb <- dec(s"Q_$b")
        p <- dec(s"P_$k")
      } yield (
        sa.subtract(decOrZero(s"CVa_$k")).doubleValue(),
        qa.subtract(decOrZero(s"CQa_$k")).doubleValue(),
        sb.subtract(decOrZero(s"CVb_$k")).doubleValue(),
        qb.subtract(decOrZero(s"CQb_$k")).doubleValue(),
        p.doubleValue())
      val corr: Any = moments match {
        case Some((sx, sxx, sy, syy, sxy)) if n > 0 =>
          val nD = n.toDouble
          val num = nD * sxy - sx * sy
          val g = (nD * sxx - sx * sx) * (nD * syy - sy * sy)
          if (g > 0) round6(num / math.sqrt(g)) else null
        case _ => null
      }
      Row(a, b, n, corr)
    }
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      StructType(Seq(
        StructField("col_a", StringType, nullable = false),
        StructField("col_b", StringType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("corr", DoubleType, nullable = true))))
  }

  /** Co-missingness correlation (E104) — Pearson over NULL indicators:
    * which columns go missing TOGETHER. Segmented completeness (E79)
    * finds where nulls cluster by segment; this finds the cross-column
    * structure (one upstream extractor failing takes its whole column
    * group with it — the co-missing block is the fingerprint of which
    * one). Indicators are 0/1 doubles, so the exact-decimal moment
    * machinery of [[matrix]] applies verbatim (a column with no nulls —
    * or all nulls — has zero variance and correlates as null, the
    * matrix degenerate-pair rule). One wide pass, same chunked
    * concurrent jobs. */
  def nullCorrelation(dfIn: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val indicators = dfIn.select(cols.map(c =>
      col(c).isNull.cast(DoubleType).as(c)): _*)
    matrix(indicators, cols)
  }

  /** Spearman rank correlation (E103) — the monotone-association member
    * that completes the dependence suite (Pearson E37 sees linear only;
    * MI E80 and χ² E99 see categorical): Pearson over average-tie ranks,
    * so a perfect nonlinear monotone relation scores exactly ±1. Ranks
    * are min-rank + (tie-count − 1)/2 — always an integer or half, so
    * the DECIMAL(38,6) moment quantization of [[matrix]] is EXACT and
    * the whole pipeline stays on the proven columnCorr algebra.
    *
    * Scale note: the ranking runs as a global-order window (one
    * partition) per pair — the honest cost of exact ranks; at 100 TB the
    * documented path is approximate ranks from the KLL CDF (E19), this
    * exact pass as spot-verifier. ENFORCED (r10, VERDICT r9 task 5):
    * the rank window is [[graft.operators.WindowGuard]]-guarded at
    * `maxRows` — past the bound the query dies loudly naming
    * [[spearmanApprox]] as the scale path, instead of silently sorting
    * the whole relation in one task. */
  def spearman(
      dfIn: DataFrame, pairs: Seq[(String, String)],
      maxRows: Long = graft.operators.WindowGuard.MaxWindowCells): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pairs.nonEmpty, "need at least one column pair")
    // per-pair computations are independent ([[matrix]] collects eagerly):
    // pair 2's rank-window job back-fills cores while pair 1's
    // single-task sort runs. Two in flight (ADVICE r16): each pair's rank
    // window is a single-partition global sort, so a wide pair list must
    // not stack every pair's full-column sort in executor memory at once.
    // Results are assembled in the caller's pair order.
    graft.Par.map(dfIn.sparkSession, pairs, 2) { case (a, b) =>
      val complete = dfIn
        .where(col(a).isNotNull && col(b).isNotNull)
        .select(col(a).cast(DoubleType).as("va"), col(b).cast(DoubleType).as("vb"))
      // the guard's cell count comes from an unordered global frame —
      // same single-partition exchange the rank window already forces,
      // so enforcement adds no pass and no shuffle
      val nRows = count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      def avgRank(vc: String) =
        graft.operators.WindowGuard.guarded(
          rank().over(Window.orderBy(col(vc))).cast("long"),
          nRows, maxRows, "Correlation.spearman").cast(DoubleType) +
          (count(lit(1)).over(Window.partitionBy(col(vc))) - lit(1))
            .cast(DoubleType) / lit(2.0)
      val ranked = complete.select(avgRank("va").as("ra"), avgRank("vb").as("rb"))
      matrix(ranked, Seq("ra", "rb"))
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          col("n"), col("corr").as("spearman"))
    }.reduce(_ unionByName _)
  }

  /** KLL-approximate Spearman (E103's 100 TB mode, r8) — the scale path
    * the exact [[spearman]] documents: exact ranks need a global-order
    * window (one task sorts the whole column); here ranks come from each
    * column's KLL sketch CDF instead, so the whole computation is two
    * shuffle-free full scans regardless of data size:
    *
    *   1. ONE wide aggregation builds a pairwise-complete KLL sketch per
    *      pair side (`k` controls nothing here — sketch accuracy is the
    *      KLL default, the same sketch E19 ships);
    *   2. driver-side (metadata-sized: sketch bytes), each sketch is cut
    *      into `k` interior quantile splits at probabilities i/(k+1) —
    *      equal splits under a heavy tie mass are KEPT, they encode it;
    *   3. ONE wide aggregation computes per-pair double Pearson moments
    *      over per-row mid-rank CDF lookups ([[graft.functions.SortedCdf]]
    *      — codegen'd binary search, no sort, no window, no shuffle).
    *
    * Rank error is sketch ε + grid resolution 1/k; with k = 1024 the
    * observed |ρ̂ − ρ| on the audit pairs is ≲ 0.01. Approximate by
    * design → no DuckDB oracle; `spearman_audit` pins the bound against
    * the exact twin on a correlated AND an independent pair. Output
    * matches [[spearman]]: `(col_a, col_b, n, spearman)`. */
  def spearmanApprox(
      dfIn: DataFrame,
      pairs: Seq[(String, String)],
      k: Int = 1024): DataFrame = {
    require(pairs.nonEmpty, "need at least one column pair")
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val spark = dfIn.sparkSession
    import spark.implicits._
    graft.functions.SortedCdfOps.register(spark)
    val df = ScanMetrics.spread(dfIn)

    def completeCase(a: String, b: String)(c: Column): Column =
      when(col(a).isNotNull && col(b).isNotNull, c)

    // pass 1: pairwise-complete sketches, all pairs in one aggregation
    val sketchAggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(
        kll_sketch_agg_double(completeCase(a, b)(col(a).cast(DoubleType))).as(s"ska_$i"),
        kll_sketch_agg_double(completeCase(a, b)(col(b).cast(DoubleType))).as(s"skb_$i"))
    }
    val sketchRow = df.agg(sketchAggs.head, sketchAggs.tail: _*).head()
    val ps = (1 to k).map(i => i.toDouble / (k + 1))
    def splitsOf(bytes: Array[Byte]): Option[Seq[Double]] = {
      val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
      if (sk.isEmpty) None else Some(ps.map(p => sk.getQuantile(p)))
    }

    // pass 2: per-pair double Pearson moments over mid-rank lookups
    val momentAggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      (splitsOf(sketchRow.getAs[Array[Byte]](s"ska_$i")),
        splitsOf(sketchRow.getAs[Array[Byte]](s"skb_$i"))) match {
        case (Some(sa), Some(sb)) =>
          val cc = completeCase(a, b) _
          val ra = cc(call_function("graft_sorted_cdf",
            col(a).cast(DoubleType), lit(sa.toArray)))
          val rb = cc(call_function("graft_sorted_cdf",
            col(b).cast(DoubleType), lit(sb.toArray)))
          Seq(
            count(cc(lit(1))).as(s"n_$i"),
            sum(ra).as(s"sx_$i"), sum(rb).as(s"sy_$i"),
            sum(ra * rb).as(s"sxy_$i"),
            sum(ra * ra).as(s"sxx_$i"), sum(rb * rb).as(s"syy_$i"))
        case _ => // a side with no complete rows: n is all that's needed
          Seq(count(completeCase(a, b)(lit(1))).as(s"n_$i"))
      }
    }
    val m = df.agg(momentAggs.head, momentAggs.tail: _*).head()

    val out = pairs.zipWithIndex.map { case ((a, b), i) =>
      val n = m.getAs[Long](s"n_$i")
      val rho: Option[Double] =
        if (n == 0L || m.schema.fieldNames.forall(_ != s"sx_$i")) None
        else {
          val nd = n.toDouble
          val (sx, sy) = (m.getAs[Double](s"sx_$i"), m.getAs[Double](s"sy_$i"))
          val cov = nd * m.getAs[Double](s"sxy_$i") - sx * sy
          val vx = nd * m.getAs[Double](s"sxx_$i") - sx * sx
          val vy = nd * m.getAs[Double](s"syy_$i") - sy * sy
          val g = vx * vy
          if (g > 0) Some(BigDecimal(cov / math.sqrt(g))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          else None
        }
      (a, b, n, rho)
    }
    out.toDF("col_a", "col_b", "n", "spearman")
      .select(col("col_a"), col("col_b"), col("n"),
        col("spearman").cast(DoubleType).as("spearman"))
  }
}

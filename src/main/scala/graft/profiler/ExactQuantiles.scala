package graft.profiler

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Distributed exact multi-quantile battery — the frequency-CDF execution
  * of Spark's `percentile` aggregate (r16 optimization, guide §1.2/§2.5).
  *
  * The built-in exact `percentile` is a TypedImperativeAggregate whose
  * state is a per-partition VALUE→COUNT map: every partial serializes its
  * whole map onto the shuffle wire and ONE thread deserializes, merges and
  * sorts all of them in the final merge. Probed at sf0.1 that single task
  * is 2-26 s per column chunk — the dominant cost of `quantiles_exact`,
  * `winsorized_stats`, `iqr_outliers` and `mad_outliers` — and at scale it
  * is a straight driver-shaped bottleneck (all distinct values of every
  * column through one JVM thread).
  *
  * Here the same numbers come from relational algebra, parallel and
  * skew-free end to end:
  *
  *   1. ONE codegen'd pass explodes the requested expressions to
  *      `(column-idx, value)` and hash-aggregates to per-value frequencies
  *      (map-side combined: the shuffle carries DISTINCT values per
  *      partition, never rows); the frequency relation is
  *      `localCheckpoint`ed — every later step reads the cached blocks;
  *   2. per-column totals `n` come to the driver (C longs), which fixes
  *      the target ranks `floor/ceil(p·(n−1))` as literals;
  *   3. the CDF is one cumulative-sum window over the cached frequency
  *      relation, KEYED by column index (never Exchange SinglePartition):
  *      per-column work is bounded by that column's DISTINCT count — the
  *      same quantity the value-map aggregate held in every partial —
  *      with columns in parallel instead of serialized through one merge
  *      thread (a fully balanced two-phase range-chunk cumsum was built
  *      and measured SLOWER at sf0.1: its 3 extra jobs of scheduling
  *      floor cost more than the skew it removed; revisit only if a
  *      single column's distinct set ever dominates a real profile);
  *   4. the two values bracketing each target rank fall out of one tiny
  *      keyed aggregation (`min(when(cum−cnt ≤ k < cum))`), ≤ 2·|ps|
  *      doubles per column to the driver;
  *   5. the driver interpolates with the EXACT arithmetic of
  *      `Percentile.getPercentile`: `position = p·(n−1)`;
  *      `(higher−position)·lower + (position−lower)·higher`, the same
  *      IEEE operations in the same order — results are bit-identical to
  *      the built-in aggregate (property-pinned by OptimizationR16Spec).
  *
  * Scale note: every stage is bounded by DISTINCT values per range chunk,
  * never by rows or by one column's value set; the only driver state is
  * per-chunk totals and the bracketing values. The approximate KLL twins
  * remain the declared 100 TB lanes; this is their exact oracle-twin made
  * parallel.
  */
object ExactQuantiles {

  /** Exact quantiles at `ps` for every named expression (cast to double),
    * over one shared scan. Returns, per input name, None when the column
    * has no non-null values, otherwise the `percentile`-identical values
    * in `ps` order. */
  def quantiles(
      src: DataFrame,
      exprs: Seq[(String, Column)],
      ps: Seq[Double]): Map[String, Option[Seq[Double]]] = {
    require(exprs.nonEmpty, "ExactQuantiles needs at least one expression")
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentages must be in [0, 1]")
    val arr = array(exprs.map(_._2.cast(DoubleType)): _*)
    // ±0.0 (ADVICE r16): groupBy normalizes -0.0 to 0.0, but the
    // Percentile aggregate's value map keys them SEPARATELY and its
    // Double.compare ordering sorts -0.0 first — a rank landing on that
    // boundary must return -0.0 where the aggregate does. Carry the sign
    // as a second group key (captured BEFORE the normalizing exchange),
    // restore it after the merge, and break the v-tie in the CDF window
    // explicitly (SQL double ordering treats -0.0 = 0.0 as equal). NaN
    // needs no key: both engines collapse all NaNs to one canonical value
    // and sort it last. Bit-parity incl. ±0.0/NaN is property-pinned.
    val freq = src
      .select(posexplode(arr).as(Seq("idx", "v")))
      .where(col("v").isNotNull)
      .withColumn("neg0", // ANSI forbids 1.0/v; string sign only on v==0
        when(col("v") === 0.0,
          col("v").cast(org.apache.spark.sql.types.StringType)
            .startsWith("-")).otherwise(lit(false)))
      .groupBy("idx", "v", "neg0")
      .agg(count(lit(1)).as("cnt"))
      .select(col("idx"),
        when(col("neg0"), lit(-0.0)).otherwise(col("v")).as("v"),
        col("neg0"), col("cnt"))
      .localCheckpoint(true)

    // Balanced CDF (r17, VERDICT r16 #3/#4): the former cumulative-sum
    // window was keyed by column index ALONE, so one fat column's whole
    // distinct set sorted in ONE task (probed 1.1 s per quantile round
    // at sf0.1, and a straight scale-killer on a real profile — the r16
    // "revisit if a single column's distinct set ever dominates" note
    // fired). Each column is now split into ~shuffle-partition-count
    // chunks, CONTIGUOUS IN VALUE ORDER, by a codegen'd binary search
    // against approximate distinct-value quantile boundaries
    // (graft_sorted_cdf — boundary placement affects only balance,
    // never results). One driver round-trip of per-(column, chunk)
    // counts (≤ columns·chunks longs) turns every target rank into
    // (owning chunk, rank within chunk); the bracket values then come
    // from a window over ONLY the owning chunks' rows, balanced by
    // construction. (The r16 note rejected a 3-extra-jobs range-
    // partitioned variant; this shape folds the totals into the
    // boundary job — net +1 small job over the skewed window.)
    graft.functions.SortedCdfOps.register(src.sparkSession)
    val nChunks = math.max(1, scala.util.Try(src.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(src.sparkSession.sparkContext.defaultParallelism))
    val grid = (1 until nChunks).map(_.toDouble / nChunks)
    val totRows = freq.groupBy("idx").agg(
      sum("cnt").as("n"),
      // accuracy 100: boundary placement affects only chunk balance,
      // never results — ±1% rank error on a chunk edge is noise. NaN
      // stays out of the boundaries: it is pinned to the last chunk
      // below, and an interior NaN split would break chunk monotonicity
      (if (grid.isEmpty) first(lit(Array.empty[Double]))
       else percentile_approx(when(!isnan(col("v")), col("v")),
         lit(grid.toArray), lit(100))).as("bounds"))
      .collect()
    val nMap: Map[Int, Long] = totRows
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (nMap.isEmpty) return exprs.map { case (name, _) => name -> None }.toMap
    val boundsMap: Map[Int, Array[Double]] = totRows.map(r =>
      r.getInt(0) -> Option(r.getSeq[Double](2))
        .map(_.toArray).getOrElse(Array.empty[Double])).toMap

    // chunk id: monotone in v (floor of a monotone mid-rank), identical
    // for -0.0/0.0 (the binary search compares primitively), so chunks
    // are value-contiguous and the -0.0 tie stays inside one chunk.
    // NaN sorts LAST in the engine's double order, but every comparison
    // against it is false in the binary search — pin it to the last
    // chunk explicitly so chunk id stays monotone in the SORT order.
    val chunkOf: Column = boundsMap.foldLeft(lit(0)) {
      case (acc, (j, bounds)) =>
        if (bounds.isEmpty) acc
        else when(col("idx") === j,
          when(isnan(col("v")), lit(bounds.length)).otherwise(
            floor(call_function("graft_sorted_cdf", col("v"),
              lit(bounds)) * (bounds.length + 1)).cast("int")))
          .otherwise(acc)
    }
    val withChunk = freq.select(
      col("idx"), col("v"), col("neg0"), col("cnt"), chunkOf.as("ck"))

    // per-(column, chunk) counts -> driver: prefix sums fix each target
    // rank's owning chunk and its 0-based rank within that chunk
    val chunkCounts: Map[Int, Seq[(Int, Long, Long)]] = withChunk
      .groupBy("idx", "ck").agg(sum("cnt").as("cn")).collect()
      .groupBy(_.getInt(0))
      .map { case (j, rs) =>
        val sorted = rs.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
        var acc = 0L
        j -> sorted.map { case (ck, cn) =>
          val off = acc; acc += cn; (ck, off, cn)
        }.toSeq
      }
    // (owning chunk, local rank) of 0-based global rank k; (-1, -1) when
    // the column has no values (never matches any row)
    def ownerOf(j: Int, k: Long): (Int, Long) =
      chunkCounts.get(j).flatMap(_.find(c => k >= c._2 && k < c._2 + c._3))
        .map { case (ck, off, _) => (ck, k - off) }.getOrElse((-1, -1L))

    val ranks: Seq[(Int, Seq[(Int, Long, Int, Long)])] =
      exprs.indices.map { j =>
        j -> ps.map { pct =>
          nMap.get(j).fold((-1, -1L, -1, -1L)) { n =>
            val position = pct * (n - 1)
            val (loCk, loK) = ownerOf(j, position.floor.toLong)
            val (hiCk, hiK) = ownerOf(j, position.ceil.toLong)
            (loCk, loK, hiCk, hiK)
          }
        }
      }
    // only owning chunks' rows ride the bracket window/aggregation.
    // ONE flat boolean-lookup predicate with a SINGLE `ck` reference:
    // the filter gets pushed below the chunk-id projection by
    // substituting ck's definition into every occurrence, so an OR of
    // 2·|ps| equality terms re-evaluated the binary-search CASE 2·|ps|
    // times per row (probed: a 2.1 s map stage at the decile grid).
    def ckArr(f: ((Int, Long, Int, Long)) => Int, i: Int): Column =
      array(ranks.map { case (_, rs) => lit(f(rs(i))) }: _*)
    def kArr(f: ((Int, Long, Int, Long)) => Long, i: Int): Column =
      array(ranks.map { case (_, rs) => lit(f(rs(i))) }: _*)
    val ownerFlat: Array[Boolean] = {
      val a = new Array[Boolean](exprs.size * nChunks)
      ranks.foreach { case (j, rs) =>
        rs.foreach { case (loCk, _, hiCk, _) =>
          if (loCk >= 0) a(j * nChunks + loCk) = true
          if (hiCk >= 0) a(j * nChunks + hiCk) = true
        }
      }
      a
    }
    val ownerPred = element_at(
      lit(ownerFlat), col("idx") * nChunks + col("ck") + 1)
    val wCum = Window.partitionBy("idx", "ck")
      .orderBy(col("v").asc, col("neg0").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = withChunk.where(ownerPred).select(
      col("idx"), col("ck"), col("v"), col("cnt"),
      sum("cnt").over(wCum).as("cum"))

    // one bracketing (lo, hi) value pair per requested percentage: the
    // distinct value whose LOCAL tie-interval [cum−cnt, cum) covers the
    // target's within-chunk rank, in the target's owning chunk —
    // exactly one row matches, so min() selects it. Chunk ids and local
    // ranks are per-column literals indexed by idx.
    val brackets = ps.zipWithIndex.flatMap { case (_, i) =>
      val loCk = element_at(ckArr(_._1, i), col("idx") + 1)
      val loK = element_at(kArr(_._2, i), col("idx") + 1)
      val hiCk = element_at(ckArr(_._3, i), col("idx") + 1)
      val hiK = element_at(kArr(_._4, i), col("idx") + 1)
      Seq(
        min(when(col("ck") === loCk &&
          col("cum") - col("cnt") <= loK && col("cum") > loK, col("v")))
          .as(s"lo_$i"),
        min(when(col("ck") === hiCk &&
          col("cum") - col("cnt") <= hiK && col("cum") > hiK, col("v")))
          .as(s"hi_$i"))
    }
    val rows = cdf.groupBy("idx")
      .agg(brackets.head, brackets.tail: _*)
      .collect()
      .map(r => r.getAs[Int]("idx") -> r).toMap

    exprs.zipWithIndex.map { case ((name, _), idx) =>
      name -> nMap.get(idx).map(n => interpolate(name, n, ps,
        rows.getOrElse(idx, throw new MissingQuantileBracket(
          s"ExactQuantiles: column '$name' (n=$n) has no bracket row"))))
    }.toMap
  }

  /** `Percentile.getPercentile`'s arithmetic, verbatim, over one column's
    * bracket row (`lo_i`/`hi_i` per percentage). A null bracket, like a
    * missing bracket row in [[quantiles]], means no CDF row covered the
    * target rank — a bookkeeping bug upstream — and raises
    * [[MissingQuantileBracket]] instead of unboxing null to 0.0. */
  private[graft] def interpolate(
      name: String, n: Long, ps: Seq[Double], r: Row): Seq[Double] = {
    def bracket(field: String, pct: Double): Double = {
      val i = r.fieldIndex(field)
      if (r.isNullAt(i)) throw new MissingQuantileBracket(
        s"ExactQuantiles: column '$name' (n=$n) has no $field bracket " +
          s"value for p=$pct — no CDF row covered the target rank")
      r.getDouble(i)
    }
    ps.zipWithIndex.map { case (pct, i) =>
      val position = pct * (n - 1)
      val lower = position.floor.toLong
      val higher = position.ceil.toLong
      val lowerKey = bracket(s"lo_$i", pct)
      if (higher == lower) lowerKey
      else {
        val higherKey = bracket(s"hi_$i", pct)
        if (higherKey == lowerKey) lowerKey
        else (higher - position) * lowerKey +
          (position - lower) * higherKey
      }
    }
  }
}

/** The exact-quantile invariant "exactly one CDF row brackets each target
  * rank" failed: a wrong quantile would follow, so the battery stops. */
final class MissingQuantileBracket(msg: String)
    extends IllegalStateException(msg)

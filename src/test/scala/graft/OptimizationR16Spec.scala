package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 OPTIMIZATION pins — every pin asserts an optimized path is
  * bit-identical to the expression chain it replaced (the optimization
  * round's contract: results must not change).
  *
  *  - [[graft.functions.MinhashSigs]] ≡ 32 × array_min(transform(sh,
  *    xxhash64(lit(i), sh))) — the interpreted-lambda shape it replaced;
  *  - [[graft.functions.MinhashSigsTokens]] ≡ the full r15 chain
  *    (shingle transform/array_join → array_distinct → per-component
  *    array_min(transform(xxhash64))), including the <n-tokens → NULL
  *    and empty-shingle-set semantics;
  *  - [[graft.streaming.StreamingProfile.adaptiveStatePartitions]] —
  *    input-derived, no local-core constant: tiny inputs collapse to one
  *    state store, 100 TB derives partitions past any core count. */
class OptimizationR16Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "a b", // fewer than 3 tokens -> null signature
    "", // empty -> no tokens
    "one two three", // exactly one shingle
    "Vérité café naïve — unicode bytes exercise the hash",
    "dup dup dup dup dup") // heavy duplicate shingles

  test("MinhashSigs ≡ per-component array_min(transform(xxhash64)) on the same arrays") {
    graft.functions.MinhashSigs.register(spark)
    val k = 8
    val df = texts.toDF("text")
      .select(array_distinct(when(
        size(split(col("text"), "\\s+")) >= 2,
        transform(
          sequence(lit(0), size(split(col("text"), "\\s+")) - 2),
          i => array_join(slice(split(col("text"), "\\s+"), i + lit(1), lit(2)), " ")))
        .otherwise(array())).as("sh"))
      .localCheckpoint(true)
    val oldCols = (0 until k).map(i =>
      when(size(col("sh")) > 0,
        array_min(transform(col("sh"), s => xxhash64(lit(i), s)))).as(s"o$i"))
    val newCols = (0 until k).map(i =>
      element_at(call_function("minhash_sigs", col("sh"), lit(k)), i + 1)
        .as(s"n$i"))
    val rows = df.select(oldCols ++ newCols: _*).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (0 until k).foreach { i =>
        assert(r.isNullAt(i) == r.isNullAt(k + i), s"null mismatch at h$i: $r")
        if (!r.isNullAt(i))
          assert(r.getLong(i) == r.getLong(k + i), s"value mismatch at h$i: $r")
      }
    }
  }

  test("MinhashSigsTokens ≡ the full r15 shingle+signature chain (incl. <n tokens -> NULL)") {
    graft.functions.MinhashSigs.register(spark)
    val (n, k) = (3, 8)
    val df = texts.toDF("text")
      .select(graft.functions.TextFunctions.wsTokens(lower(col("text")))
        .as("toks"))
      .localCheckpoint(true)
    val grams = when(
      size(col("toks")) >= n,
      transform(
        sequence(lit(0), size(col("toks")) - n),
        i => array_join(slice(col("toks"), i + lit(1), lit(n)), " "))
    ).otherwise(array())
    val oldCols = (0 until k).map(i =>
      when(size(array_distinct(grams)) > 0,
        array_min(transform(array_distinct(grams), s => xxhash64(lit(i), s))))
        .as(s"o$i"))
    val newCols = (0 until k).map(i =>
      element_at(
        call_function("minhash_sigs_tokens", col("toks"), lit(n), lit(k)),
        i + 1).as(s"n$i"))
    val rows = df.select(oldCols ++ newCols: _*).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (0 until k).foreach { i =>
        assert(r.isNullAt(i) == r.isNullAt(k + i), s"null mismatch at h$i: $r")
        if (!r.isNullAt(i))
          assert(r.getLong(i) == r.getLong(k + i), s"value mismatch at h$i: $r")
      }
    }
  }

  test("adaptiveStatePartitions derives from input bytes, not a core-count constant") {
    val f = graft.streaming.StreamingProfile.adaptiveStatePartitions _
    assert(f(0L, 32L << 20) == 1) // empty input -> one store
    assert(f(2L << 20, 32L << 20) == 1) // sf0.1 events (~2 MB) -> one store
    assert(f((32L << 20) + 1, 32L << 20) == 2) // just past one unit
    // 100 TB derives ~3.3M partitions — far past any cluster's cores, so
    // the production path is bounded by the cluster, never by this knob
    assert(f(100L * (1L << 40), 32L << 20) > 3000000)
  }

  test("ExactQuantiles ≡ the percentile aggregate, bit-for-bit, over seeded random frames") {
    val rng = new scala.util.Random(1016)
    // percentage grids covering the callers: the profiler's deciles,
    // winsorize bounds, quartiles, the single median, plus edges 0/1
    val grids = Seq(
      (1 to 10).map(_ / 10.0),
      Seq(0.01, 0.99), Seq(0.25, 0.75), Seq(0.5), Seq(0.0, 1.0, 0.37))
    // exotic doubles (ADVICE r16): -0.0 vs 0.0 (groupBy normalizes, the
    // aggregate's value map does not) and NaN (sorts last in both) —
    // compared via Double.compare, which distinguishes -0.0 from 0.0 and
    // treats NaN == NaN, i.e. exactly the bit semantics being pinned
    // (Seq == uses primitive ==: NaN≠NaN and -0.0==0.0, both wrong here)
    val specials = Array(-0.0, 0.0, Double.NaN)
    def bitEq(x: Option[Seq[Double]], y: Option[Seq[Double]]): Boolean =
      (x, y) match {
        case (Some(a), Some(b)) => a.size == b.size &&
          a.zip(b).forall { case (u, v) => java.lang.Double.compare(u, v) == 0 }
        case (None, None) => true
        case _ => false
      }
    for (trial <- 1 to 8) {
      val n = 1 + rng.nextInt(40)
      // heavy-tie 2-dp grid values + nulls + an all-null column + a
      // NaN-heavy column (most ranks, and the approximate chunk
      // boundaries' input, dominated by NaN) — the regimes where
      // interpolation, tie handling and chunk ordering can diverge
      val data = Seq.fill(n)((
        if (rng.nextDouble() < 0.25) null
        else if (rng.nextDouble() < 0.2)
          Double.box(specials(rng.nextInt(specials.length)))
        else Double.box(math.rint(rng.nextDouble() * 400 - 200) / 100.0),
        if (rng.nextDouble() < 0.3) null
        else if (rng.nextDouble() < 0.15) Double.box(-0.0)
        else Double.box(rng.nextInt(4).toDouble),
        null: java.lang.Double,
        if (rng.nextDouble() < 0.7) Double.box(Double.NaN)
        else Double.box(rng.nextInt(6) - 3.0)))
      val df = data.toDF("x", "y", "z", "u").localCheckpoint(true)
      val ps = grids(trial % grids.size)
      val cols = Seq("x", "y", "z", "u")
      val res = graft.profiler.ExactQuantiles.quantiles(
        df, cols.map(c => c -> col(c)), ps)
      val exp = df.agg(
        percentile(col("x"), array(ps.map(lit): _*)).as("x"),
        cols.tail.map(c => percentile(col(c), array(ps.map(lit): _*)).as(c)): _*)
        .head()
      for (c <- cols) {
        val e = if (exp.isNullAt(exp.fieldIndex(c))) None
          else Some(exp.getSeq[Double](exp.fieldIndex(c)).toSeq)
        assert(bitEq(res(c), e), s"trial $trial col $c ps $ps: ${res(c)} vs $e")
      }
    }
    // deterministic ±0.0 boundary: ranks landing on, inside and around the
    // -0.0/0.0 tie must return the aggregate's exact bits (-0.0 where it
    // says -0.0). 0.0 at p=0.75 interpolates -0.0·0.25 + 0.0·0.75 = 0.0.
    val boundary = Seq(-1.0, -0.0, -0.0, 0.0, 0.0, 2.0)
      .map(Double.box).toDF("x").localCheckpoint(true)
    val ps = Seq(0.0, 0.2, 0.4, 0.6, 0.75, 1.0)
    val res = graft.profiler.ExactQuantiles.quantiles(
      boundary, Seq("x" -> col("x")), ps)
    val exp = boundary
      .agg(percentile(col("x"), array(ps.map(lit): _*)).as("x")).head()
    assert(bitEq(res("x"), Some(exp.getSeq[Double](0).toSeq)),
      s"boundary: ${res("x")} vs ${exp.getSeq[Double](0).toSeq}")
  }

  test("ExactQuantiles: a missing bracket value fails loudly instead of reading 0.0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("lo_0", "hi_0", "lo_1", "hi_1")
      .map(StructField(_, DoubleType, nullable = true)))
    def row(vs: java.lang.Double*): Row =
      new GenericRowWithSchema(vs.toArray[Any], schema)
    val ps = Seq(0.5, 0.25)
    // n = 5: p=0.5 lands on rank 2 (lo only), p=0.25 on rank 1 (lo only)
    assert(graft.profiler.ExactQuantiles.interpolate(
      "c", 5L, ps, row(2.0, 2.0, 1.0, 1.0)) == Seq(2.0, 1.0))
    val e = intercept[graft.profiler.MissingQuantileBracket] {
      graft.profiler.ExactQuantiles.interpolate(
        "c", 5L, ps, row(2.0, 2.0, null, 1.0))
    }
    assert(e.getMessage.contains("'c'") && e.getMessage.contains("lo_1"),
      e.getMessage)
    // n = 4, p = 0.5: position 1.5 interpolates, so the hi bracket is read
    intercept[graft.profiler.MissingQuantileBracket] {
      graft.profiler.ExactQuantiles.interpolate(
        "c", 4L, Seq(0.5), row(1.0, null, null, null))
    }
  }
}

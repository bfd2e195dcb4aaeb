package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.guardFires
import graft.functions.SortedCdfOps
import graft.profiler.Correlation

/** Round-8 specs: SortedCdf mid-rank lookup, KLL-approximate Spearman
  * (E103 scale mode), the array-intersection MinHash verify stage, and
  * the qualityWeightedSample domain clamp. */
class Round8Spec extends SparkSuite {
  test("SortedCdfOps.midrank: bounds, interior buckets, tie runs") {
    val splits = Array(1.0, 2.0, 2.0, 2.0, 3.0) // K = 5 → denominator 12
    // below all splits: (0 + 0) / 12
    assert(SortedCdfOps.midrank(0.5, splits) == 0.0)
    // above all splits: (5 + 5) / 12
    assert(SortedCdfOps.midrank(9.0, splits) == 10.0 / 12.0)
    // between 1.0 and the 2.0-run: lower = upper = 1
    assert(SortedCdfOps.midrank(1.5, splits) == 2.0 / 12.0)
    // ON the 3-split tie run: lower 1, upper 4 → midpoint of the span
    assert(SortedCdfOps.midrank(2.0, splits) == 5.0 / 12.0)
    // exact match of a unique split: lower 0, upper 1
    assert(SortedCdfOps.midrank(1.0, splits) == 1.0 / 12.0)
  }

  test("spearmanApprox: monotone ±1, matches exact within bound on ties") {
    import spark.implicits._
    // strictly monotone pair (ρ = 1), anti-monotone (ρ = −1), and a
    // tie-heavy discrete pair compared against the exact twin
    val rows = (1 to 2000).map { i =>
      (i.toDouble, math.log(i.toDouble), -i.toDouble,
        (i % 7).toDouble, ((i * 3) % 5).toDouble)
    }
    val df = rows.toDF("x", "lx", "nx", "t7", "t5")
    val pairs = Seq(("x", "lx"), ("x", "nx"), ("t7", "t5"))
    val ap = Correlation.spearmanApprox(df, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ex = Correlation.spearman(df, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(math.abs(ap(("x", "lx")).getDouble(3) - 1.0) <= 0.01)
    assert(math.abs(ap(("x", "nx")).getDouble(3) - (-1.0)) <= 0.01)
    for (p <- pairs) {
      assert(ap(p).getLong(2) == ex(p).getLong(2))
      assert(math.abs(ap(p).getDouble(3) - ex(p).getDouble(3)) <= 0.02)
    }
  }

  test("spearmanApprox: null pairs excluded; empty overlap yields null rho") {
    import spark.implicits._
    val df = Seq[(Option[Double], Option[Double])](
      (Some(1.0), None), (None, Some(2.0)), (Some(3.0), None))
      .toDF("a", "b")
    val r = Correlation.spearmanApprox(df, Seq(("a", "b"))).head()
    assert(r.getLong(2) == 0L && r.isNullAt(3))
  }

  test("minhashLsh array verify: equals exact jaccard on its pairs") {
    import spark.implicits._
    // near-dup pair (1 token changed), exact dup pair, unrelated doc
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different text about spark query engines at scale")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = graft.operators.Dedup
      .ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.contains((1L, 3L)) && got((1L, 3L)) == 1.0)
    // every LSH pair carries the EXACT jaccard of the exact twin
    for ((k, j) <- got) assert(exact(k) == j)
  }

  test("WindowGuard: oversize window input kills the query loudly, values unchanged below bound") {
    import spark.implicits._
    // 200 distinct scores against a bound of 100: the histogram window
    // stage itself must raise (no silent single-task data window)
    val many = spark.range(200).select(
      col("id").as("doc_id"), (col("id").cast("double") / 1000).as("score"))
    assert(guardFires(graft.operators.Ranking
      .scorePercentile(many, "doc_id", "score", maxCells = 100).collect()))
    // same relation under the bound: untouched values, guard is a no-op
    assert(graft.operators.Ranking
      .scorePercentile(many, "doc_id", "score").count() == 200)
    // gini: 50 groups against a bound of 10
    val docs = spark.range(50).select(
      col("id").cast("string").as("g"), lit("a b c").as("text"))
    assert(guardFires(graft.operators.CorpusStats
      .giniConcentration(docs, "g", "text", maxGroups = 10).collect()))
    assert(graft.operators.CorpusStats
      .giniConcentration(docs, "g", "text").head()
      .getAs[Long]("n_groups") == 50)
  }

  test("qualityWeightedSample: out-of-domain scores clamp, not wrap") {
    import spark.implicits._
    val df = Seq(
      (1L, 1.7), (2L, 1.7), (3L, 1.7),   // > 1 → keep-always
      (4L, -0.3), (5L, -0.3),            // < 0 → drop-always
      (6L, Double.NaN)                   // NaN → drop
    ).toDF("doc_id", "score")
    val kept = graft.operators.Sampling
      .qualityWeightedSample(df, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSuite {
  private def emb = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.01f)),
      (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k ranks by cosine with id tie-break") {
    val out = Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") === 1, k = 3)
      .orderBy(desc("cos"), asc("neighbor_id")).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 2L))
    assert(out(0)._2 == 1.0)
    assert(math.abs(out(1)._2 - 1.0 / math.sqrt(1.0 + 0.0001)) < 1e-4)
    assert(out(2)._2 == 0.0)
  }

  test("lsh top-k returns a subset of brute-force candidates with identical scores") {
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") === 1, k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(
      emb, "vec_id", "embedding", col("vec_id") === 1, k = 4, bands = 8, bitsPerBand = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, c) => assert(brute(id) == c) }
    // the query collides with itself, so it must be among its own results
    assert(lsh.exists(_._1 == 1L))
  }

  test("bucketed near-dup pairs equal the exact brute-force review list") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val corpus = (1 to 120).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val brute = Similarity.cosineNearDupPairsBrute(corpus, "vec_id", "embedding", top = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val bucketed = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", top = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(bucketed == brute)
  }

  test("hot-bucket cap bounds candidate generation on a degenerate duplicate cluster") {
    import spark.implicits._
    val corpus = (1 to 20).map(i => (i.toLong, Array(0.6f, -0.2f, 0.8f, 0.1f)))
      .toDF("vec_id", "embedding")
    // uncapped: the identical vectors collide in every band -> all C(20,2) pairs
    val uncapped = Similarity.cosineNearDupPairs(
      corpus, "vec_id", "embedding", top = 500, maxBucketFreq = None).count()
    assert(uncapped == 190)
    // capped below the cluster size: every band bucket holds all 20 docs and is
    // dropped BEFORE the self-join, so no candidates materialize — the cluster
    // is dedupClusters/bestRepresentative work, not pairwise enumeration
    val capped = Similarity.cosineNearDupPairs(
      corpus, "vec_id", "embedding", top = 500, maxBucketFreq = Some(5)).count()
    assert(capped == 0)
  }

  test("native band keys agree with the column-expression lshBucket") {
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    val df = Seq((1L, Array(0.3f, -0.7f, 0.2f, 0.9f))).toDF("id", "v")
    val hp = Similarity.hyperplanes(8, 4)
    val fromExpr = df.select(Similarity.lshBucket(col("v"), hp)).head().getLong(0)
    // band 0 of a single-band call covers the same plane indices 0..7
    val fromNative = df.select(
      graft.functions.VectorOps.vectorLshBands(col("v"), 1, 8)).head()
      .getSeq[Long](0).head
    assert(fromNative == fromExpr) // band 0 tag is 0 << 8
  }

  test("hyperplanes are deterministic") {
    assert(Similarity.hyperplanes(4, 8).toSeq.map(_.toSeq) ==
      Similarity.hyperplanes(4, 8).toSeq.map(_.toSeq))
  }

  test("codegen VectorDot is bit-identical to the higher-order-function fold") {
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    val rng = new scala.util.Random(7)
    val df = (1 to 50).map(i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1)))
      .toDF("id", "a", "b")
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("hof"),
      graft.functions.VectorOps.vectorDot(col("a"), col("b")).as("native"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }
}

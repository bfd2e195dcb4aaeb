package graft

import org.apache.spark.sql.functions._

import graft.operators.{Quantize, Similarity}

/** Vector indexes: IVF top-k (`Similarity.ivfTopK`) and `graft.operators.Quantize`. */
class IvfQuantizeSpec extends SparkSuite {
  private def emb = {
    import spark.implicits._
    // three tight clusters around orthogonal axes + ids; centroids = %5==0
    val rng = new scala.util.Random(7)
    (0L until 60L).map { i =>
      val axis = (i % 3).toInt
      val base = Array.fill(8)(0.0f)
      base(axis) = 1.0f
      val v = base.map(x => x + (rng.nextFloat() - 0.5f) * 0.1f)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("IVF results are true cosines and match exact top-k when every cell is probed") {
    val queryPred = col("vec_id") % 20 === 0
    val centroidPred = col("vec_id") % 5 === 0   // 12 cells
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", queryPred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // nprobe = #cells => candidate set is the whole corpus => exact equality
    val full = Similarity.ivfTopK(
      emb, "vec_id", "embedding", centroidPred, queryPred, nprobe = 12, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == exact)
    // nprobe = 2: every returned pair carries the true exact cosine
    val ivf = Similarity.ivfTopK(
      emb, "vec_id", "embedding", centroidPred, queryPred, nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ivf.nonEmpty)
    ivf.foreach { case (pair, cos) =>
      assert(exact.get(pair).forall(_ == cos), s"$pair scored differently")
    }
  }

  test("int8 quantization: codes bounded, reconstruction error bounded by scale/2") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),   // zero vector -> null scale/mse
      (3L, Seq(-2.0f, 2.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Quantize.int8Scalar(df, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    val r1 = out(0)
    assert(r1.getInt(1) == 4)
    assert(r1.getInt(4) >= -127 && r1.getInt(5) <= 127)
    // max|x| maps to exactly ±127
    assert(math.abs(r1.getInt(5)) == 127 || math.abs(r1.getInt(4)) == 127)
    // quantization error per dim ≤ scale/2 => mse ≤ (scale/2)^2
    val scale1 = r1.getDouble(2)
    assert(r1.getDouble(6) <= (scale1 / 2) * (scale1 / 2) + 1e-9)
    val r2 = out(1)
    assert(r2.isNullAt(2) && r2.isNullAt(6))
  }
}

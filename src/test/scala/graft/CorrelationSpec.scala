package graft

import graft.functions.SortedCdfOps

/** `graft.profiler.Correlation`, with the sorted-CDF midrank
  * (`SortedCdfOps`) behind approximate Spearman. */
class CorrelationSpec extends SparkSuite {
  test("correlation: perfect linear, anti-linear, degenerate, and pairwise-null handling") {
    import spark.implicits._
    val df = Seq(
      (1.0, 2.0, 5.0, Some(1.0)),
      (2.0, 4.0, 5.0, Some(2.0)),
      (3.0, 6.0, 5.0, None),
      (4.0, 8.0, 5.0, Some(0.5))
    ).toDF("x", "y2", "const", "opt")
    val out = graft.profiler.Correlation.matrix(df, Seq("x", "y2", "const", "opt"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(out(("x", "y2")) == ((4L, 1.0)))           // y = 2x exactly
    assert(out(("x", "const"))._2 == null)            // zero variance -> null
    assert(out(("x", "opt"))._1 == 3L)                // pairwise-complete n
    // x vs opt over rows (1,1),(2,2),(4,0.5): corr computable and in [-1,1]
    val c = out(("x", "opt"))._2.asInstanceOf[Double]
    assert(c > -1.0 && c < 1.0)
  }

  test("correlation: out-of-range value nulls the affected pairs, not the job (ANSI guard)") {
    import spark.implicits._
    val df = Seq(
      (1.0, 2.0, 3.0),
      (2.0, 4.0, 1e18), // |z| beyond the 1e15 decimal guard
      (3.0, 6.0, 5.0)
    ).toDF("x", "y", "z")
    val out = graft.profiler.Correlation.matrix(df, Seq("x", "y", "z"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out(("x", "y")) == 1.0)    // unaffected pair still exact
    assert(out(("x", "z")) == null)   // pairs touching z degrade to null
    assert(out(("y", "z")) == null)
  }

  test("correlation is partitioning-independent (decimal-quantized moments)") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val df = (1 to 2000).map(_ => (rng.nextDouble() * 100, rng.nextDouble() * 100))
      .toDF("a", "b")
    val one = graft.profiler.Correlation.matrix(df.coalesce(1), Seq("a", "b"))
      .head().getDouble(3)
    val many = graft.profiler.Correlation.matrix(df.repartition(17), Seq("a", "b"))
      .head().getDouble(3)
    assert(one == many)
  }
}

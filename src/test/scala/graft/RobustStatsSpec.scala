package graft

import graft.profiler.RobustStats

/** The KLL scale modes of [[graft.profiler.RobustStats]]. */
class RobustStatsSpec extends SparkSuite {

  test("groupedQuantilesApprox: an all-null group reports n 0 and null quantiles") {
    import spark.implicits._
    val df = ((1 to 100).map(i => ("a", Option(i.toDouble))) ++
      Seq.fill(5)(("b", Option.empty[Double]))).toDF("g", "v")
    val out = RobustStats.groupedQuantilesApprox(df, "g", "v", Seq(0.5, 0.9))
      .collect().map(r => r.getString(0) -> r).toMap
    // n = 100 < k = 200: the sketch keeps every value, so inclusive
    // quantiles are the true order statistics
    assert(out("a").getAs[Long]("n") == 100L)
    assert(out("a").getAs[Double]("p50") == 50.0 && out("a").getAs[Double]("p90") == 90.0)
    assert(out("b").getAs[Long]("n") == 0L)
    assert(out("b").isNullAt(2) && out("b").isNullAt(3))
  }
}

package graft

import org.apache.spark.sql.functions._

class ChecksSpec extends SparkSuite {
  import graft.profiler.{Checks, Constraint}

  test("constraint suite: pass, fail, and unknown statuses") {
    import spark.implicits._
    val metrics = Seq(
      ("*", "Size", 100.0),
      ("a", "Completeness", 0.9)
    ).toDF("instance", "name", "value")
    val out = Checks.evaluate(spark, metrics, Seq(
      Constraint("k1", "*", "Size", ">=", 50.0),
      Constraint("k2", "a", "Completeness", ">=", 0.95),
      Constraint("k3", "a", "Completeness", "<=", 0.95),
      Constraint("k4", "b", "Completeness", ">=", 0.5)))
      .orderBy("check_name").collect()
      .map(r => (r.getString(0), r.getString(6)))
    assert(out.toSeq == Seq(
      ("k1", "pass"), ("k2", "fail"), ("k3", "pass"), ("k4", "unknown")))
  }

  test("constraint suite rejects unsupported operators") {
    import spark.implicits._
    val metrics = Seq(("*", "Size", 1.0)).toDF("instance", "name", "value")
    intercept[IllegalArgumentException] {
      Checks.evaluate(spark, metrics, Seq(Constraint("k", "*", "Size", "==", 1.0)))
    }
  }
}

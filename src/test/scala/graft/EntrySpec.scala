package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.sf001Dir

/** The driver contract itself: entry smoke (rows > 0 at sf0.001), every
  * declared query runs at sf0.001, and every oracle key has a query. */
class EntrySpec extends SparkSuite {
  test("entry returns a non-empty flagship profile") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every declared query executes and returns rows at sf0.001") {
    val dir = sf001Dir
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        if (fn(spark, dir).count() > 0) None else Some(s"$name: 0 rows")
      } catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

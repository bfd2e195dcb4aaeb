package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (per-suite sessions cost
  * ~5s each in JVM warmup). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
}

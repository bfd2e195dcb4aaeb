package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory. `getOrCreate` would hand a second
  * `Sessions.local` call the shared session, so the confs are read off
  * `TestSpark.spark` and the env parse is called directly. */
class SessionsSpec extends AnyFunSuite {

  test("TestSpark.spark carries the factory's confs at 4 threads") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(Seq("shuffle.partitions", "session.timeZone", "codegen.maxFields",
      "legacy.parquet.nanosAsLong").map(k => spark.conf.get(s"spark.sql.$k")) ==
      Seq("4", "UTC", "1000", "true"))
  }

  test("SPARK_GRAFT_CPUS: unset is every processor; a malformed value fails naming the variable") {
    assert(Sessions.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Sessions.parseCpus(Some(" 8 ")) == 8)
    for (bad <- Seq("", "four", "4.5", "0", "-2")) {
      val e = intercept[IllegalArgumentException](Sessions.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}

package graft

/** Scale plumbing: bucketed sink tables and the skew-salted join. */
class ScaleInfraSpec extends SparkSuite {
  test("bucketed tables join without a shuffle on either side") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt_").toString
    val a = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "va")
    val b = (1L to 500L).map(i => (i % 50, -i)).toDF("k", "vb")
    graft.profiler.Sinks.BucketedSink.write(a, "bkt_a", "k", 8, Some(s"$dir/a"))
    graft.profiler.Sinks.BucketedSink.write(b, "bkt_b", "k", 8, Some(s"$dir/b"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == 1000L * 10) // 50 keys x 20 x 10 matches
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("salted join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // one hot key (90% of rows) + a tail
    val skewed = ((1L to 900L).map(i => (7L, i)) ++ (901L to 1000L).map(i => (i % 13, i)))
      .toDF("k", "id")
    val dims = (0L to 12L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = skewed.join(dims, "k")
      .select("k", "id", "attr").collect().map(_.toString).sorted
    val salted = graft.operators.Skew.saltedJoin(skewed, dims, "k", "id", salts = 8)
      .select("k", "id", "attr").collect().map(_.toString).sorted
    assert(salted.toSeq == plain.toSeq)
  }
}

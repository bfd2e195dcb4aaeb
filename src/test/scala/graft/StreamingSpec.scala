package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.sf001Dir
import graft.streaming.{SessionEvent, StreamingProfile}

class StreamingSpec extends SparkSuite {
  test("sessionize splits on >30min gaps per user") {
    import spark.implicits._
    val min = 60L * 1000000L
    val events = Seq(
      SessionEvent(1L, 0L), SessionEvent(1L, 10 * min), SessionEvent(1L, 20 * min),
      SessionEvent(1L, 60 * min), // 40min gap -> new session
      SessionEvent(2L, 5 * min)
    ).toDS()
    val out = StreamingProfile.sessionize(events, gapMinutes = 30)
      .collect().map(s => (s.user_id, s.session_start_us, s.n_events)).sorted
    assert(out.toSeq == Seq((1L, 0L, 3L), (1L, 60 * min, 1L), (2L, 5 * min, 1L)))
  }

  test("sessionize is arrival-order independent and holds O(sessions) state on hot keys") {
    import spark.implicits._
    val min = 60L * 1000000L
    val rng = new scala.util.Random(3)
    // hot key: 5000 dense events (all one session — one map entry while
    // streaming through), plus scattered singleton sessions, delivered in
    // shuffled order; interval-merge must equal the sorted gap scan
    val dense = (0 until 5000).map(i => SessionEvent(9L, i * 1000L))
    val sparse = (0 until 50).map(i => SessionEvent(9L, (1000 + i * 100) * min))
    val events = rng.shuffle(dense ++ sparse)
    val out = StreamingProfile.sessionize(events.toDS(), gapMinutes = 30)
      .collect().map(s => (s.session_start_us, s.n_events)).sorted
    val expected = ((0L, 5000L) +: (0 until 50).map(i => ((1000 + i * 100) * min, 1L))).sorted
    assert(out.toSeq == expected)
    // duplicate timestamps all count
    val dup = StreamingProfile.sessionize(
      Seq(SessionEvent(1L, 5L), SessionEvent(1L, 5L), SessionEvent(1L, 5L)).toDS(), 30)
      .collect()
    assert(dup.map(s => (s.session_start_us, s.n_events)).toSeq == Seq((5L, 3L)))
  }

  test("property: interval-merge sessionize equals the sorted gap scan on random inputs") {
    import spark.implicits._
    // reference implementation: sort all timestamps, split on gaps
    def reference(ts: Seq[Long], gapUs: Long): Seq[(Long, Long)] = {
      val sorted = ts.sorted
      val out = Seq.newBuilder[(Long, Long)]
      var start = 0
      for (i <- 1 to sorted.length)
        if (i == sorted.length || sorted(i) - sorted(i - 1) > gapUs) {
          out += ((sorted(start), (i - start).toLong))
          start = i
        }
      out.result()
    }
    val rng = new scala.util.Random(17)
    val gapUs = 30L * 60 * 1000000
    for (_ <- 1 to 5) {
      // clustered + uniform + duplicate timestamps across a few users
      val events = (1L to 4L).flatMap { uid =>
        val n = 1 + rng.nextInt(60)
        (0 until n).map { _ =>
          val base = rng.nextInt(5) * 10L * gapUs
          SessionEvent(uid, base + (rng.nextLong() % (3 * gapUs)).abs)
        }
      }
      val got = StreamingProfile.sessionize(rng.shuffle(events).toDS(), 30)
        .collect().map(s => (s.user_id, s.session_start_us, s.n_events)).sorted.toSeq
      val want = events.groupBy(_.user_id).toSeq.flatMap { case (uid, es) =>
        reference(es.map(_.ts_us), gapUs).map { case (st, n) => (uid, st, n) }
      }.sorted
      assert(got == want)
    }
  }

  test("streaming windowed profile equals the batch aggregation (stream/batch parity)") {
    val path = s"$sf001Dir/events.parquet"
    val streamed = StreamingProfile.replayParquet(
      spark, path,
      df => StreamingProfile.windowedProfileExact(
        df.withColumn("ts",
          timestamp_micros(graft.operators.Events.tsMicros(df, "ts")))),
      "complete")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val raw = spark.read.parquet(path)
    val batch = raw
      .withColumn("ts", timestamp_micros(graft.operators.Events.tsMicros(raw, "ts")))
      .groupBy(date_trunc("hour", col("ts")).cast("string").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("w", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }
}

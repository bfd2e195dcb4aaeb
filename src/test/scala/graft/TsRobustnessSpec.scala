package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Events

/** Round-6 regression class: the driver's testdata silently moved `events.ts`
  * from INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * and every event-time query crashed at analysis. [[Events.tsMicros]]
  * dispatches on the ACTUAL read type; this spec pins that all three parquet
  * encodings a writer might emit produce identical epoch-microseconds, so
  * this class of testdata drift can never silently recur. */
class TsRobustnessSpec extends SparkSuite {
  test("tsMicros: identical epoch-micros from INT64-nanos, TIMESTAMP_MICROS-NTZ, TIMESTAMP_MILLIS") {
    import spark.implicits._
    // ms-aligned instants so every encoding represents them exactly
    val micros = Seq(0L, 1000000L, 1700000000123000L, 4102444800000000L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ts").toString
    val base = micros.toDF("us")

    // 1. raw INT64 epoch-nanos (what TIMESTAMP(NANOS) reads as under
    //    spark.sql.legacy.parquet.nanosAsLong)
    base.select((col("us") * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/nanos")
    // 2. TIMESTAMP(MICROS, isAdjustedToUTC=false) -> Spark TIMESTAMP_NTZ
    //    (the current events.parquet encoding)
    base.select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/ntz")
    // 3. TIMESTAMP(MILLIS, isAdjustedToUTC=true) -> Spark TimestampType
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try base.select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/millis")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")

    def readMicros(path: String, expected: DataType): Seq[Long] = {
      val df = spark.read.parquet(path)
      assert(df.schema("ts").dataType == expected,
        s"$path read as ${df.schema("ts").dataType}, expected $expected")
      df.select(Events.tsMicros(df, "ts").as("us"))
        .collect().map(_.getLong(0)).toSeq.sorted
    }

    val want = micros.sorted
    assert(readMicros(s"$tmp/nanos", LongType) == want)
    assert(readMicros(s"$tmp/ntz", TimestampNTZType) == want)
    assert(readMicros(s"$tmp/millis", TimestampType) == want)
  }

  test("tsMicros: unsupported event-time type fails loudly, not at runtime") {
    import spark.implicits._
    val df = Seq("2024-01-01").toDF("ts")
    val e = intercept[IllegalArgumentException](Events.tsMicros(df, "ts"))
    assert(e.getMessage.contains("unsupported event-time type"))
  }
}

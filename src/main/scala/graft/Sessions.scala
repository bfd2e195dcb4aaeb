package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. `Runner`, `Verify`, `Bench`, `ScaleGen`
  * and the shared test session all build their session here, so their
  * confs cannot drift apart. */
object Sessions {

  /** Thread count of the mains: `SPARK_GRAFT_CPUS`, read once per JVM. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A `SPARK_GRAFT_CPUS` value as a thread count. Unset means every
    * processor of the machine; anything but a positive integer fails. */
  def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** The session on `local[cpus]`. */
  def local(cpus: Int): SparkSession = create(s"local[$cpus]", cpus)

  /** The session on `master`, with one shuffle partition per thread.
    *  - `codegen.maxFields` 1000: the wide single-pass profile aggregate
    *    has more than 100 buffer fields, and above the default of 100
    *    whole-stage codegen silently falls back to interpreted operators.
    *  - `nanosAsLong`: a TIMESTAMP(NANOS) parquet column is unreadable as
    *    a Spark timestamp, so without it one such column fails the whole
    *    table's read; as a raw long it profiles numerically. */
  def create(master: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "1000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

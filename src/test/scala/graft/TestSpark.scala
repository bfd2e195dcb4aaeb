package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.profiler.MetricRow

/** A suite on the shared session, which it sees as `spark`. */
trait SparkSuite extends AnyFunSuite {
  protected lazy val spark: SparkSession = TestSpark.spark
}

/** One shared local session for the whole test run (per-suite sessions cost
  * ~5s each in JVM warmup), and the fixtures several suites share. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  /** The generated fixture datasets, one directory per scale factor
    * (TESTDATA.md). */
  val testdata = "/root/testdata"
  val sf001Dir = s"$testdata/sf0.001"

  /** One sf0.001 table, e.g. `sf001("lineitem")`. */
  def sf001(table: String): DataFrame = spark.read.parquet(s"$sf001Dir/$table.parquet")

  /** The sf0.001 embeddings as an eagerly checkpointed relation. */
  def sfEmb: DataFrame = sf001("embeddings").localCheckpoint(true)

  /** Metric rows with each value as its raw IEEE-754 bits: equality is
    * bit-for-bit, so -0.0 differs from 0.0 and NaN payloads count. */
  def bits(rows: Seq[MetricRow]): Seq[(String, String, String, Long)] =
    rows.map(r => (r.entity, r.instance, r.name, java.lang.Double.doubleToRawLongBits(r.value)))

  /** True when `f` throws with a "metadata-sized" message anywhere in its
    * cause chain: a [[graft.operators.WindowGuard]] bound fired. */
  def guardFires(f: => Unit): Boolean = try { f; false } catch {
    case t: Throwable =>
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(e =>
        Option(e.getMessage).exists(_.contains("metadata-sized")))
  }

  def sha256hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** `n` deterministic documents: every third one stopword-heavy, the
    * rest letter soup, even ids ending in a period. */
  def fuzzDocs(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (1 to n).map { i =>
      val filler =
        if (i % 3 == 0) "the and is of to in it you that was " * 12
        else "zxqj vwpk mntr abcd efgh " * (4 + i % 7)
      (i.toLong, filler.trim + (if (i % 2 == 0) "." else ""))
    }.toDF("doc_id", "text")
  }
}

/** Records the local property `key` of every job Spark starts. */
final class JobTags(sc: SparkContext, key: String) extends SparkListener {
  private val seen = mutable.ArrayBuffer.empty[String]

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    seen += Option(js.properties).map(_.getProperty(key)).orNull
    notifyAll()
  }

  /** Runs `body` and returns the `key` property of every job it started.
    * A sentinel job on this thread brackets each side: listener events
    * arrive in start order, so once the closing sentinel is seen, so are
    * all of the body's jobs. */
  def of(body: => Unit): Seq[String] = {
    sc.addSparkListener(this)
    try {
      val from = drain()
      body
      val to = drain()
      synchronized(seen.slice(from + 1, to).toSeq)
    } finally sc.removeSparkListener(this)
  }

  private def drain(): Int = {
    val mark = s"sentinel-${java.util.UUID.randomUUID()}"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, mark)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(key, prev)
    val deadline = System.currentTimeMillis() + 30000
    synchronized {
      while (!seen.contains(mark)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(s"no job start event for $mark")
        wait(left)
      }
      seen.indexOf(mark)
    }
  }
}

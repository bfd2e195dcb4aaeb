package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.profiler._
import graft.profiler.MetricNames._

/** The batched (stack-based, one-shuffle) frequency path and the
  * per-column reference path must agree exactly — they implement the same
  * §2.A semantics and must not drift apart. The per-column path lives here:
  * it is the reference `batched` is checked against, not engine code. */
class FreqConsistencySpec extends SparkSuite {
  /** Per-column frequency table `(v, cnt)` over non-null values. */
  private def freqTable(df: DataFrame, c: String): DataFrame =
    df.select(col(c).as("v")).where(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))

  /** CountDistinct, Entropy, UniqueValueRatio and Uniqueness from the
    * column's frequency-of-frequencies `(f, number of values occurring f
    * times)`, summed in ascending `f` like `batched`, with the entropy
    * rewrite H = ln(nn) − (Σ cnt·ln cnt) / nn that `batched` and the
    * oracle SQL use. */
  private def perColumn(df: DataFrame, c: String, fams: Set[String]): Seq[MetricRow] = {
    val byF = freqTable(df, c).groupBy("cnt").agg(count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    if (byF.isEmpty) Nil // column has no non-null values
    else {
      val nv = byF.map(_._2).sum.toDouble
      val nn = byF.map { case (f, k) => f * k }.sum.toDouble
      val nu = byF.collectFirst { case (1L, k) => k }.getOrElse(0L).toDouble
      val slc = byF.foldLeft(0.0) { case (acc, (f, k)) =>
        acc + k * (f * StrictMath.log(f.toDouble)) }
      val b = Seq.newBuilder[MetricRow]
      if (fams("count_distinct")) b += MetricRow("Column", c, CountDistinct, nv)
      if (fams("entropy")) b += MetricRow("Column", c, Entropy, math.log(nn) - slc / nn)
      if (fams("unique_value_ratio")) b += MetricRow("Column", c, UniqueValueRatio, nu / nv)
      if (fams("uniqueness")) b += MetricRow("Column", c, Uniqueness, nu / nn)
      b.result()
    }
  }

  /** Histogram (F3) of one column: null-inclusive, values stringified with
    * the plain Spark cast, nulls bucketed as `"NullValue"`, ratio
    * denominator `n` (all rows), detail bins capped at `noOfBins` with the
    * `(count DESC, value ASC)` tie-break. */
  private def histogram(df: DataFrame, c: String, noOfBins: Int, n: Long): Seq[MetricRow] = {
    val f = df.select(coalesce(col(c).cast(StringType), lit(NullBucket)).as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val bins = f.count()
      val top = f.orderBy(col("cnt").desc, col("v").asc).limit(noOfBins).collect()
      MetricRow("Column", c, HistogramBins, bins.toDouble) +:
        top.toSeq.flatMap { r =>
          val v = r.getString(0)
          val cnt = r.getLong(1)
          Seq(
            MetricRow("Column", c, histogramAbs(v), cnt.toDouble),
            MetricRow("Column", c, histogramRatio(v), cnt.toDouble / n))
        }
    } finally { f.unpersist(); () }
  }

  /** `batched` over every column of `df` against the per-column reference;
    * returns the batched rows. */
  private def assertConsistent(df: DataFrame, noOfBins: Int): Seq[MetricRow] = {
    val cols = df.columns.toSeq
    val n = df.count()
    val fams = Profiler.freqFamilies
    val batched = FreqMetrics.batched(df, cols, fams, noOfBins, n)
    val perCol = cols.flatMap { c =>
      perColumn(df, c, fams) ++ histogram(df, c, noOfBins, n)
    }
    assert(batched.size == perCol.size && batched.toSet == perCol.toSet,
      s"batched:\n${batched.sortBy(r => (r.instance, r.name)).mkString("\n")}\n" +
        s"perCol:\n${perCol.sortBy(r => (r.instance, r.name)).mkString("\n")}")
    batched
  }

  test("batched == per-column on a null-heavy mixed frame") {
    import spark.implicits._
    val df = Seq(
      ("a", "x"), ("a", null), ("b", "x"), (null, "y"),
      ("a", "x"), ("c", null), (null, null), ("NullValue", "y"))
      .toDF("s1", "s2")
    val batched = assertConsistent(df, noOfBins = 10)
    // the genuine "NullValue" string and real nulls merge into one bucket
    val nvAbs = batched.collect {
      case MetricRow(_, "s1", "Histogram.abs.NullValue", v) => v
    }
    assert(nvAbs == Seq(3.0)) // 2 nulls + 1 literal "NullValue"
  }

  test("batched == per-column: a merged null bucket over the bin cap, all-null and null-free columns") {
    import spark.implicits._
    // `merged`: nulls (2) and the literal "NullValue" (2) each lose to "a"
    // and "b" (3 each) but together lead them, with 5 distinct buckets
    // over a cap of 2; `none` is all null; `full` has no null
    val merged = Seq.fill(3)("a") ++ Seq.fill(3)("b") ++ Seq(null, null) ++
      Seq.fill(2)("NullValue") ++ Seq("c", "d")
    val df = merged.zipWithIndex.map { case (v, i) =>
      (v, null: String, if (i % 3 == 0) "x" else s"y$i")
    }.toDF("merged", "none", "full")
    val batched = assertConsistent(df, noOfBins = 2)
    val mergedBins = batched.filter(r => r.instance == "merged" && r.name.startsWith("Histogram"))
    assert(mergedBins.map(r => r.name -> r.value).toSet == Set(
      HistogramBins -> 5.0,
      histogramAbs(NullBucket) -> 4.0, histogramRatio(NullBucket) -> 4.0 / 12,
      histogramAbs("a") -> 3.0, histogramRatio("a") -> 3.0 / 12))
    // an all-null column has a histogram and no base metric
    assert(batched.filter(_.instance == "none").map(r => r.name -> r.value).toSet == Set(
      HistogramBins -> 1.0, histogramAbs(NullBucket) -> 12.0, histogramRatio(NullBucket) -> 1.0))
  }

  test("batched: identical rows in identical order at 1 and 4 partitions") {
    // eight columns with skewed, many-valued frequencies: a partition-order
    // sum of cnt·ln cnt moves Entropy in its last digits, and hash order
    // reorders the columns
    val data = (0 until 3000).map { i =>
      Row.fromSeq((0 until 8).map(j => s"v${(i * (j + 3)) % (97 + 31 * j) % (i % 53 + 1)}"))
    }
    val schema = StructType((0 until 8).map(j => StructField(s"c$j", StringType)))
    def run(partitions: Int): Seq[MetricRow] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val df = s.createDataFrame(s.sparkContext.parallelize(data, partitions), schema)
      FreqMetrics.batched(df, df.columns.toSeq, Profiler.freqFamilies, 5, data.size)
    }
    val one = run(1)
    assert(one.map(_.instance).distinct.size == 8)
    assert(run(4) == one)
  }
}

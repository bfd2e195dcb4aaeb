package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

class SamplingSpec extends SparkSuite {
  private def corpus = {
    import spark.implicits._
    (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
  }

  test("deterministic sample: stable, rate-accurate, nested across rates") {
    import graft.operators.Sampling
    val s5 = Sampling.deterministicSample(corpus, "doc_id", 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s20 = Sampling.deterministicSample(corpus, "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // re-run is identical (pure function of the key)
    val s5again = Sampling.deterministicSample(corpus, "doc_id", 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s5 == s5again)
    // nested: a smaller rate is a strict subset of a larger one
    assert(s5.subsetOf(s20))
    // rate lands near the target (hash uniformity)
    assert(math.abs(s5.size - 100) < 40, s"5% of 2000 gave ${s5.size}")
    assert(math.abs(s20.size - 400) < 80, s"20% of 2000 gave ${s20.size}")
  }

  test("stratified sample caps each stratum, picks the same docs regardless of partitioning") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (0L until 200L).map(i => (i, "x" * (if (i % 2 == 0) 50 else 150))).toDF("doc_id", "text")
    val strata = expr("length(text) div 100").cast("long")
    val a = Sampling.stratifiedSample(docs, "doc_id", strata, perStratum = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(docs.repartition(7), "doc_id", strata, perStratum = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 10)            // 5 from each of the two strata
    assert(a.count(_ % 2 == 0) == 5 && a.count(_ % 2 == 1) == 5)
  }

  test("stratified hash prefilter is exact when every stratum keeps enough rows") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (0L until 500L).map(i => (i, "y" * (i % 3).toInt)).toDF("doc_id", "text")
    val strata = expr("length(text)").cast("long")
    val exact = Sampling.stratifiedSample(docs, "doc_id", strata, perStratum = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // bound 5000 keeps ~half of each ~167-row stratum - far more than 3
    val pre = Sampling.stratifiedSample(docs, "doc_id", strata, perStratum = 3,
      hashPrefilter = Some(5000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pre == exact)
  }

  test("hash split: exhaustive, disjoint, and stable when the corpus grows") {
    import graft.operators.Sampling
    val splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)
    val all = Sampling.hashSplit(corpus, "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all.size == 2000) // exactly one label per row
    val frac = all.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(frac("train") - 1800) < 60, s"train ${frac("train")}")
    // a document's split never changes when more data arrives
    val half = Sampling.hashSplit(corpus.where(col("doc_id") <= 1000), "doc_id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    half.foreach { case (id, s) => assert(all(id) == s, s"doc $id moved split") }
    // fractions must sum to 1 and be non-negative
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(corpus, "doc_id", Seq("a" -> 0.5))
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(corpus, "doc_id", Seq("a" -> 1.1, "b" -> -0.1))
    }
    // equal thirds are legitimate: cumulative bounds avoid the per-split
    // rounding trap (3333+3333+3333 != 10000)
    val thirds = Sampling.hashSplit(
      corpus, "doc_id", Seq("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(thirds.keySet == Set("a", "b", "c"))
    assert(thirds.values.sum == 2000L)
  }

  test("NULL keys: null split label, excluded from samples (consistent, documented)") {
    import graft.operators.Sampling
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    val labeled = Sampling.hashSplit(df, "doc_id", Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => (r.get(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(labeled.count(_._2 != null) == 2)
    assert(labeled.find(_._1 == null).exists(_._2 == null)) // no silent 'test'
    // deterministicSample drops NULL keys for the same reason
    assert(Sampling.deterministicSample(df, "doc_id", 1.0).count() == 2)
  }
}

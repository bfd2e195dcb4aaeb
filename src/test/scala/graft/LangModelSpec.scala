package graft

class LangModelSpec extends SparkSuite {
  import graft.operators.LangModel

  test("unigram score: hand-computed log-probs; common-token docs score better") {
    import spark.implicits._
    // corpus: "a" x3, "b" x1 -> p(a)=3/4, p(b)=1/4
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = LangModel.unigramScore(docs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val lnA = math.log(3.0 / 4.0)
    val lnB = math.log(1.0 / 4.0)
    assert(out(0)._2 == 2L && math.abs(out(0)._3 - lnA) < 1e-6)
    assert(math.abs(out(1)._3 - (lnA + lnB) / 2) < 1e-6)
    // the all-common-token doc has lower perplexity
    assert(out(0)._4 < out(1)._4)
    assert(math.abs(out(0)._4 - math.exp(-lnA)) < 1e-5)
  }

  test("unigram score is partitioning-independent (quantized sum)") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val docs = (1L to 100L)
      .map(i => (i, Seq.fill(20)("w" + rng.nextInt(30)).mkString(" ")))
      .toDF("doc_id", "text")
    val a = LangModel.unigramScore(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val b = LangModel.unigramScore(docs.repartition(13), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(a == b)
  }
}

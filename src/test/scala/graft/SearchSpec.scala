package graft

import org.apache.spark.sql.functions._

class SearchSpec extends SparkSuite {
  import graft.operators.Search

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark spark spark runs fast"),
      (2L, "spark runs on a cluster"),
      (3L, "ducks swim on water today"),
      (4L, "merge spark results quickly now")
    ).toDF("doc_id", "text")
  }

  test("bm25: higher tf ranks higher; non-matching docs score 0 and rank last by id") {
    val out = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark"), k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 3L))
    assert(out(0)._2 > out(1)._2 && out(1)._2 == out(2)._2)
    assert(out(3)._2 == 0.0)
  }

  test("bm25: a rarer term outscores a common one at equal tf") {
    // "merge" appears in 1 doc, "spark" in 3 -> doc 4 gets more from merge
    val out = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "merge"), k = 1)
      .collect().map(_.getLong(0))
    assert(out.head == 4L)
  }

  test("bm25: k truncates deterministically") {
    val out = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark"), k = 2)
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Funnel, Packing, Sampling}

class BudgetFunnelShuffleSpec extends SparkSuite {
  test("budget selection keeps the best-score prefix within the token budget") {
    import spark.implicits._
    val df = Seq(
      (1L, 100L, 0.9), (2L, 200L, 0.8), (3L, 300L, 0.7),
      (4L, 100L, 0.95), (5L, 999L, 0.6), (6L, 50L, null.asInstanceOf[Any])
    ).map { case (id, t, s) => (id, t, Option(s).map(_.asInstanceOf[Double])) }
      .toDF("doc_id", "n_tokens", "score")
    // score order: 4 (cum 100) -> 1 (cum 200) -> 2 (cum 400) -> 3 (cum 700,
    // over budget) -> 5; null-score doc 6 excluded entirely
    val out = Packing.selectUnderBudget(df, "doc_id", "n_tokens", "score", budget = 650L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 200L), (2L, 400L), (4L, 100L)))
  }

  test("budget selection is independent of the partition count") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = (1L to 500L).map(i => (i, 10L + rng.nextInt(90), rng.nextInt(100) / 100.0))
      .toDF("doc_id", "n_tokens", "score")
    def run(p: Int) = Packing.selectUnderBudget(
      df, "doc_id", "n_tokens", "score", budget = 5000L, numPartitions = Some(p))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val p1 = run(1)
    assert(p1.nonEmpty && run(7) == p1 && run(32) == p1)
  }

  test("tokenize ids: vocab rank order, OOV = 0, order-stable fingerprint, empty docs") {
    import spark.implicits._
    // freq: a=4, b=3, c=1 -> ids a=1, b=2; vocabSize=2 makes c OOV
    val df = Seq((1L, "a b a b"), (2L, "a a c b"), (3L, "")).toDF("doc_id", "text")
    val out = TextFunctions.tokenizeIds(df, "doc_id", "text", vocabSize = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: ids 1,2,1,2 sum 6 oov 0; doc2: 1,1,0,2 sum 4 oov 1; doc3 empty
    assert(out.toSeq == Seq((1L, 4L, 0L, 6L), (2L, 4L, 1L, 4L), (3L, 0L, 0L, 0L)))
    // fingerprint is a pure function of the sequence (partitioning-independent)
    val a = TextFunctions.tokenizeIds(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val b = TextFunctions.tokenizeIds(df.repartition(7), "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(a == b)
  }

  test("bigram top-k counts adjacent pairs with (freq DESC, bigram ASC) tie-break") {
    import spark.implicits._
    val df = Seq("a b a b c", "a b", "x").toDF("text")
    val out = TextFunctions.bigramTopK(df, "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("filter funnel: cumulative stages, monotone survivors, one row per stage") {
    import spark.implicits._
    val df = Seq(
      (1L, "good doc with enough tokens"),
      (2L, ""),
      (3L, "short")
    ).toDF("doc_id", "text")
    val out = Funnel.filterFunnel(df, Seq(
      "has_text" -> (length(col("text")) > 0),
      "min_3_tokens" -> (TextFunctions.wsTokenCount(col("text")) >= 3)))
      .orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((0, "total", 3L), (1, "has_text", 2L), (2, "min_3_tokens", 1L)))
    // monotone non-increasing by construction
    assert(out.map(_._3).sliding(2).forall(w => w(0) >= w(1)))
  }

  test("shuffle shards: dense 1..n positions per shard, stable across partitionings") {
    import spark.implicits._
    val df = (1L to 300L).toDF("doc_id")
    val a = Sampling.shuffleShards(df, "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    // positions within a shard are exactly 1..size
    a.values.groupBy(_._1).foreach { case (_, rows) =>
      val ps = rows.map(_._2).toSeq.sorted
      assert(ps == (1L to ps.size))
    }
    // pure function of the key: repartitioned input, same assignment
    val b = Sampling.shuffleShards(df.repartition(13), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(a == b)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class PackingSpec extends SparkSuite {
  import graft.operators.Packing

  test("packing: exact prefix sums and pack boundaries on a hand example") {
    import spark.implicits._
    val df = Seq((1L, 400L), (2L, 400L), (3L, 400L), (4L, 900L), (5L, 100L))
      .toDF("doc_id", "n_tokens")
    val out = Packing.packSequences(df, "doc_id", "n_tokens", budget = 1000)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // cum_before: 0, 400, 800, 1200, 2100 -> packs 0,0,0,1,2
    assert(out.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 400L), (3L, 0L, 800L),
      (4L, 1L, 1200L), (5L, 2L, 2100L)))
  }

  test("packing result is independent of the partition count") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = (1L to 500L).map(i => (i, 1L + rng.nextInt(300).toLong))
      .toDF("doc_id", "n_tokens")
    def run(p: Int) = Packing.packSequences(
      df, "doc_id", "n_tokens", budget = 777, numPartitions = Some(p))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    val one = run(1)
    assert(run(7) == one && run(32) == one)
    // exclusive prefix: last cum_before + its tokens = grand total
    assert(one.last._2 >= 0)
  }
}

class DriftSpec extends SparkSuite {
  import graft.profiler.Checks

  test("drift: stable, drifting, and incomparable metrics") {
    import spark.implicits._
    val a = Seq(("x", "Mean", 10.0), ("x", "Sum", 0.0), ("y", "Mean", 100.0))
      .toDF("instance", "name", "value")
    val b = Seq(("x", "Mean", 10.2), ("x", "Sum", 5.0), ("y", "Mean", 101.0))
      .toDF("instance", "name", "value")
    val out = Checks.drift(a, b, relTol = 0.05)
      .orderBy("instance", "name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(6)))
    // x.Mean +2% stable, x.Sum baseline 0 incomparable, y.Mean +1% stable
    assert(out.toSeq == Seq(
      ("x", "Mean", "stable"), ("x", "Sum", "incomparable"), ("y", "Mean", "stable")))
    val drifted = Checks.drift(a, b, relTol = 0.01)
      .orderBy("instance", "name").collect().map(_.getString(6))
    assert(drifted.toSeq == Seq("drift", "incomparable", "stable"))
  }
}

class TfidfSpec extends SparkSuite {
  test("tfidf keywords: corpus-wide terms weigh zero, rare terms rank first") {
    import spark.implicits._
    // "common" in all docs -> idf 0 -> never a keyword; "rare" only in doc 1
    val docs = Seq(
      (1L, "common rare rare other"),
      (2L, "common other thing"),
      (3L, "common thing thing stuff")
    ).toDF("doc_id", "text")
    val out = graft.operators.Search.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq("rare", "other"))
    // doc 3: "thing" (tf=2, df=2) beats "stuff" (tf=1, df=1)? ln(3/1)=1.1 vs 2*ln(3/2)=0.81
    assert(out.filter(_._1 == 3L).map(_._2).toSeq == Seq("stuff", "thing"))
  }
}

class NearestCentroidSpec extends SparkSuite {
  test("nearest centroid: assigns by max cosine with smaller-id tie-break; zero vectors dropped") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f)),   // centroid A (id 0)
      (2L, Array(0f, 1f)),   // centroid B (id 2)
      (5L, Array(2f, 0.1f)), // -> A
      (6L, Array(0.1f, 3f)), // -> B
      (7L, Array(1f, 1f)),   // equidistant -> tie-break to id 0
      (8L, Array(0f, 0f))    // zero norm -> dropped
    ).toDF("vec_id", "embedding")
    val out = Similarity.nearestCentroid(
      vecs, "vec_id", "embedding", col("vec_id").isin(0L, 2L))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 0L), (2L, 2L), (5L, 0L), (6L, 2L), (7L, 0L)))
  }
}

class AsOfSpec extends SparkSuite {
  test("as-of: strictly-prior source value per key, null before the first source row") {
    import spark.implicits._
    val e = Seq(
      (1L, 10L, "view", 1.0), (1L, 20L, "buy", 9.0), (1L, 30L, "view", 2.0),
      (1L, 40L, "buy", 9.0), (1L, 30L + 0L, "noise", 0.0),
      (2L, 5L, "buy", 9.0) // no prior view for user 2
    ).toDF("user_id", "ts", "type", "value")
    val out = graft.operators.AsOf.lastPrior(
      e, "user_id", "ts", col("type") === "view", Seq("value" -> "lv"))
      .where(col("type") === "buy")
      .orderBy("user_id", "ts")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(4)) null else r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 1.0), (1L, 2.0), (2L, null)))
  }

  test("as-of: tie-break column pins the order among equal timestamps") {
    import spark.implicits._
    // two views at the SAME timestamp: without a tie-break the window order
    // among them is partition-dependent; with id tie-break the later id wins
    val e = Seq(
      (7L, 1L, 10L, "view", 1.0), (7L, 2L, 10L, "view", 2.0),
      (7L, 3L, 20L, "buy", 9.0)
    ).toDF("user_id", "id", "ts", "type", "value")
    (1 to 3).foreach { p =>
      val out = graft.operators.AsOf.lastPrior(
        e.repartition(p), "user_id", "ts", col("type") === "view",
        Seq("value" -> "lv"), tieBreak = Seq("id"))
        .where(col("type") === "buy").head()
      assert(out.getDouble(5) == 2.0, s"partitions=$p")
    }
  }
}

class NumericHistogramSpec extends SparkSuite {
  test("equi-width: exact bucket counts, max closes into last bucket, nulls dropped") {
    import spark.implicits._
    val df = Seq(Some(0.0), Some(2.5), Some(5.0), Some(7.5), Some(10.0), None)
      .toDF("v")
    val out = graft.profiler.NumericHistogram.equiWidth(df, "v", 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // width 2.5: [0,2.5)->1, [2.5,5)->1, [5,7.5)->1, [7.5,10]->2 (10.0 closed in)
    assert(out.toSeq == Seq(
      (0L, 0.0, 2.5, 1L), (1L, 2.5, 5.0, 1L), (2L, 5.0, 7.5, 1L), (3L, 7.5, 10.0, 2L)))
  }

  test("constant column degenerates to one bucket, no ANSI division error") {
    import spark.implicits._
    val df = Seq(5.0, 5.0, 5.0).toDF("v")
    val out = graft.profiler.NumericHistogram.equiWidth(df, "v", 10)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 3L)))
  }
}

class SchemaDriftSpec extends SparkSuite {
  test("schema drift: added, removed, retyped, same") {
    import spark.implicits._
    val a = Seq(("x", "int"), ("y", "string"), ("z", "double")).toDF("instance", "type")
    val b = Seq(("x", "bigint"), ("y", "string"), ("w", "boolean")).toDF("instance", "type")
    val out = graft.profiler.Checks.schemaDrift(a, b)
      .orderBy("instance").collect()
      .map(r => (r.getString(0), r.getString(3)))
    assert(out.toSeq == Seq(
      ("w", "added"), ("x", "retyped"), ("y", "same"), ("z", "removed")))
  }
}

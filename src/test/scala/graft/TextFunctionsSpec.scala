package graft

import org.apache.spark.sql.functions._

import graft.functions.{RollingHash, TextFunctions}

class TextFunctionsSpec extends SparkSuite {
  private def one(c: org.apache.spark.sql.Column, text: String): Any = {
    import spark.implicits._
    Seq(text).toDF("text").select(c).head().get(0)
  }

  test("whitespace token count drops empties from leading/trailing/double spaces") {
    assert(one(TextFunctions.wsTokenCount(col("text")), " a  b c ") == 3L)
    assert(one(TextFunctions.wsTokenCount(col("text")), "") == 0L)
  }

  test("bpe-ish token count: letter runs, digit runs, single symbols") {
    // "ab 12 cd!" -> ab, 12, cd, !
    assert(one(TextFunctions.bpeishTokenCount(col("text")), "ab 12 cd!") == 4L)
    assert(one(TextFunctions.bpeishTokenCount(col("text")), "a1b") == 3L)
  }

  test("language id votes stopwords, tie-break alphabetical") {
    assert(one(TextFunctions.langId(col("text")), "the cat and the hat") == "en")
    assert(one(TextFunctions.langId(col("text")), "le chat et la table les") == "fr")
    // zero hits everywhere: every score equals the max, 'de' wins the order
    assert(one(TextFunctions.langId(col("text")), "xyzzy plugh") == "de")
  }

  test("quality score stays in [0,1] and rewards stopword-bearing prose") {
    val q1 = one(TextFunctions.qualityScore(col("text")),
      "the quick brown fox jumps over the lazy dog and runs").asInstanceOf[Double]
    assert(q1 > 0.0 && q1 <= 1.0)
  }

  test("empty and whitespace-only documents yield null ratios, no ANSI crash") {
    // ANSI mode is on by default in Spark 4: these would DIVIDE_BY_ZERO
    // without the when() guards in qualityScore
    assert(one(TextFunctions.qualityScore(col("text")), "") == null)
    assert(one(TextFunctions.qualityScore(col("text")), "   ") == null)
    val q = one(TextFunctions.qualityScore(col("text")), "the dog").asInstanceOf[Double]
    assert(q > 0.0 && q <= 1.0)
  }

  test("vocab top-k ranks by frequency with alphabetical tie-break, no global sort") {
    import spark.implicits._
    val docs = Seq((1L, "b a a c B"), (2L, "a c d")).toDF("doc_id", "text")
    val top = TextFunctions.vocabTopK(docs, "text", 3)
    val rows = top.collect().map(r => (r.getString(0), r.getLong(1)))
    // a:3, b:2 (lowercased), c:2, d:1 -> tie between b and c broken by name
    assert(rows.toSeq == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
    // top-k must plan as a heap (TakeOrdered), never a full sort
    val p = top.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heap plan:\n$p")
  }

  test("rolling hash: known folds and codegen/interpreted agreement") {
    RollingHash.register(spark)
    import spark.implicits._
    val out = Seq("ab", "", "hello world").toDF("text")
      .select(expr("rolling_hash(text)")).collect().map(_.getLong(0))
    assert(out(0) == 97L * 31 + 98) // == 3105, matches the DuckDB fold
    assert(out(1) == 0L)
    // cross-check generated code against the interpreted path
    import org.apache.spark.unsafe.types.UTF8String
    assert(out(2) == RollingHash.hash(UTF8String.fromString("hello world")))
  }
}

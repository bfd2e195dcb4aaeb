package graft

import org.apache.spark.sql.functions._

import graft.functions.NfcNormalize

class NormalizeSpec extends SparkSuite {
  test("NFC composes combining sequences; pipeline collapses case and whitespace") {
    import spark.implicits._
    NfcNormalize.register(spark)
    val df = Seq(
      ("Café", "Café"),          // decomposed vs precomposed
      ("NAÏVE", "NAÏVE"),
      ("plain ascii", "plain ascii")
    ).toDF("a", "b")
    // NFC(a) == b (already-NFC strings pass through unchanged)
    assert(df.where(NfcNormalize.nfc(col("a")) =!= col("b")).count() == 0)
    // full pipeline: lowercase + single-space + trimmed
    val out = Seq("  MiXeD\t\tCase  é ").toDF("t")
      .select(NfcNormalize.normalizeText(col("t"))).head().getString(0)
    assert(out == "mixed case é")
    // idempotent
    val again = Seq(out).toDF("t")
      .select(NfcNormalize.normalizeText(col("t"))).head().getString(0)
    assert(again == out)
  }
}

package graft

import graft.TestSpark.sf001Dir

/** The driver-visible invariant audits (round 6) must be all-true at every
  * scale — here the sf0.001 corpus; the driver re-checks them against
  * their all-true VALUES oracles at sf0.01. */
class AuditSpec extends SparkSuite {
  private val dir = sf001Dir

  private val audits = Seq(
    "approx_error_audit", "minhash_audit", "simhash_audit", "ann_lsh_audit",
    "kll_rank_audit", "sink_roundtrip_audit", "bucket_join_audit",
    "salted_join_audit")

  audits.foreach { name =>
    test(s"$name holds on sf0.001") {
      val out = SparkEntry.queries(name)(spark, dir).collect()
      assert(out.nonEmpty, s"$name returned no rows")
      val boolIdx = out.head.schema.fields.zipWithIndex.collect {
        case (f, i) if f.dataType == org.apache.spark.sql.types.BooleanType => i
      }
      assert(boolIdx.nonEmpty, s"$name emitted no boolean columns")
      val bad = out.filter(r => boolIdx.exists(i => r.isNullAt(i) || !r.getBoolean(i)))
      assert(bad.isEmpty, s"$name false rows: ${bad.take(5).mkString("; ")}")
    }
  }
}

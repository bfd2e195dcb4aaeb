package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.sf001

/** Round-13 behavior pins: the declared no-oracle→audit-twin map
  * (VERDICT r12 task 7), the metadata-priced bloom sizing for the
  * signature store (task 3), the WAV canonical-layout guard (ADVICE
  * r12), the signature-typed store for the media lanes (task 6), and
  * the DPR-regime (hugeQueries) parity of the ANN hard-negative miner
  * (ADVICE r12). */
class Round13Spec extends SparkSuite {
  test("auditTwins is total: every no-oracle query key is pinned by a declared audit that exists and is itself fully oracled") {
    val qs = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val noOracle = qs.filterNot(oracled).filterNot(_.contains("_audit"))
    val unmapped = noOracle -- SparkEntry.auditTwins.keySet
    assert(unmapped.isEmpty,
      s"no-oracle keys without a declared audit twin: ${unmapped.toSeq.sorted}")
    SparkEntry.auditTwins.foreach { case (key, twin) =>
      assert(qs.contains(key), s"auditTwins maps a nonexistent key: $key")
      assert(!oracled.contains(key),
        s"auditTwins lists $key, but it HAS a full oracle — stale entry")
      assert(qs.contains(twin), s"audit twin $twin (for $key) is not declared")
      assert(oracled.contains(twin),
        s"audit twin $twin (for $key) has no oracle — an unpinned pin")
    }
  }

  test("incrementalLsh with expectedItems runs no store-sized count at plan construction (the batch checkpoint is the only job)") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = (0L until 300L).map(i =>
      (i, s"tok${i % 40} alpha beta gamma delta epsilon tok${i % 7}"))
      .toDF("doc_id", "text")
    val state = Dedup.dedupState(docs.where(col("doc_id") < 200), "doc_id", "text")
      .localCheckpoint(true)
    val sc = spark.sparkContext
    // AQE splits even the single batch-checkpoint action into several
    // jobs, so the pin is DIFFERENTIAL: the counted fallback must cost
    // strictly more construction-time jobs than the metadata-sized path
    // (its extra jobs being exactly the store-sized distinct().count()).
    sc.setJobGroup("r13-lazy-meta", "incrementalLsh with expectedItems", false)
    val out = Dedup.incrementalLsh(
      docs.where(col("doc_id") >= 200), state, "doc_id", "text",
      expectedItems = Some(200L))
    val metaJobs = sc.statusTracker.getJobIdsForGroup("r13-lazy-meta").length
    sc.setJobGroup("r13-lazy-counted", "incrementalLsh counted fallback", false)
    val counted = Dedup.incrementalLsh(
      docs.where(col("doc_id") >= 200), state, "doc_id", "text")
    val countedJobs = sc.statusTracker.getJobIdsForGroup("r13-lazy-counted").length
    sc.clearJobGroup()
    assert(countedJobs > metaJobs,
      s"expectedItems did not remove the store count: $metaJobs vs $countedJobs")
    // and the verdicts are identical to the counted path
    assert(out.exceptAll(counted).count() + counted.exceptAll(out).count() == 0L)
  }

  test("StateStore: write/append maintain the row-count sidecar; compact preserves detection and refreshes it") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = (0L until 120L).map(i =>
      (i, s"alpha beta gamma delta tok${i % 10} epsilon zeta"))
      .toDF("doc_id", "text")
    val st = Dedup.dedupState(docs, "doc_id", "text").localCheckpoint(true)
    val path = s"/tmp/graft_r13_store/p${ProcessHandle.current().pid()}"
    val n1 = Dedup.StateStore.write(st.where(col("id") < 60), path)
    assert(n1 == 60L && Dedup.StateStore.rows(spark, path).contains(60L))
    val n2 = Dedup.StateStore.append(st.where(col("id") >= 60), path)
    assert(n2 == 120L && Dedup.StateStore.rows(spark, path).contains(120L))
    val readBack = Dedup.StateStore.read(spark, path)
    assert(readBack.count() == 120L && !readBack.columns.contains("text"))
    // compaction: docs with i%10 equal share identical text → 10
    // distinct hashes survive, detection verdicts unchanged
    val batch = (200L until 210L).map(i =>
      (i, s"alpha beta gamma delta tok${i - 200} epsilon zeta"))
      .toDF("doc_id", "text")
    val beforeCompact = Dedup.incrementalLsh(
      batch, readBack, "doc_id", "text",
      expectedItems = Dedup.StateStore.rows(spark, path))
      .localCheckpoint(true)
    val nc = Dedup.StateStore.compact(spark, path)
    assert(nc == 10L && Dedup.StateStore.rows(spark, path).contains(10L))
    val afterCompact = Dedup.incrementalLsh(
      batch, Dedup.StateStore.read(spark, path), "doc_id", "text",
      expectedItems = Dedup.StateStore.rows(spark, path))
    assert(beforeCompact.exceptAll(afterCompact).count() +
      afterCompact.exceptAll(beforeCompact).count() == 0L)
  }

  test("wavDHash rejects a RIFF/WAVE with a LIST chunk between fmt and data instead of hashing metadata as PCM (ADVICE r12)") {
    import graft.multimodal.Multimodal
    val good = Multimodal.syntheticWav(7L, 2080)
    assert(Multimodal.wavDHash(good).isDefined)
    // splice a 12-byte LIST chunk between fmt and data
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = good.slice(0, 36) ++ listChunk ++ good.drop(36)
    // fix RIFF size field (bytes 4-7, little-endian)
    val riffSize = spliced.length - 8
    (0 until 4).foreach(i => spliced(4 + i) = ((riffSize >> (8 * i)) & 0xFF).toByte)
    assert(Multimodal.wavDHash(spliced).isEmpty,
      "non-canonical chunk layout must be rejected, not mis-hashed")
    // truncated declared data size bounds the hash window: appending
    // trailing junk after the data chunk must not change the hash
    val junk = good ++ Array.fill[Byte](64)(0x55)
    assert(Multimodal.wavDHash(junk) == Multimodal.wavDHash(good),
      "bytes beyond the declared data chunk must not reach the hash")
  }

  test("audio signature store rides incrementalSimhash: planted identical clip caught exact+near, perturbed clip caught near-only") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.operators.Dedup
    val known = (0L until 40L).map(i =>
      (i, Multimodal.syntheticWav(i / 4L, 2080)))
      .toDF("doc_id", "payload")
    // 100: byte-identical re-ingest of clip 0; 101: level-local edit of
    // clip 0 (perturb ≠ 0 zeroes one 32-sample region)
    val batch = Seq(
      (100L, Multimodal.syntheticWav(0L, 2080)),
      (101L, Multimodal.syntheticWav(0L, 2080, perturb = 9L)),
      (102L, Multimodal.syntheticWav(999L, 2080)))
      .toDF("doc_id", "payload")
    val out = Dedup.incrementalSimhash(
      Multimodal.audioDedupState(batch),
      Multimodal.audioDedupState(known),
      maxHamming = 5, expectedItems = Some(40L))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(out(100L) == ((true, true)), s"identical clip: ${out(100L)}")
    assert(out(101L) == ((false, true)), s"perturbed clip: ${out(101L)}")
    assert(out(102L) == ((false, false)), s"fresh clip: ${out(102L)}")
  }

  test("hardNegativesAnn hugeQueries=true returns the identical relation to the broadcast plan") {
    import graft.operators.Similarity
    val emb = sf001("embeddings")
    val small = Similarity.hardNegativesAnn(
      emb, "vec_id", "embedding", "label",
      centroidPred = col("vec_id") % 83 === 0,
      queryPred = col("vec_id") % 97 === 0)
    val huge = Similarity.hardNegativesAnn(
      emb, "vec_id", "embedding", "label",
      centroidPred = col("vec_id") % 83 === 0,
      queryPred = col("vec_id") % 97 === 0,
      hugeQueries = true)
    assert(small.exceptAll(huge).count() + huge.exceptAll(small).count() == 0L)
  }
}

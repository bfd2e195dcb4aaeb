package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.functions.{RollingHash, TextFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Sampling, Similarity}
import graft.profiler.{IncrementalProfiler, Profiler, ProfilerConfig}
import graft.streaming.{SessionEvent, StreamingProfile}

/** SparkEntry — Dedup lane of the driver-contract `queries` map (split
  * from the former 4.3k-line monolith, VERDICT r13 task 5). Self-typed
  * to the aggregator so entries use the shared helpers (lineitem,
  * documents, metricQuery, cfg, ...) unqualified. */
private[graft] trait SparkEntryDedup { this: SparkEntry.type =>

  protected def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.B relational pipeline operators
    "dedup_column_names" -> ((s, dir) =>
      lineitem(s, dir)
        .select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus")),
    // ===== training-data-pipeline extensions =====
    // deduplication (documents table)
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(documents(s, dir), "doc_id", Seq("text")).orderBy("doc_id")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // near-dup detector evaluation harness (E253): plant an easy
    // (tail-append) and a hard (40-char truncation) variant set with
    // known truth pairs, run the E2 detector over the union corpus,
    // score P/R/F1 under the planted-probe protocol (predictions
    // restricted to pairs touching the probe ids)
    "dedup_eval" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val easy = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(" planted near duplicate tail")).as("text"))
      val hard = docs.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 600000L).as("doc_id"),
          substring(col("text"), 1, 40).as("text"))
      val corpus = docs.unionByName(easy).unionByName(hard)
      val pred = Dedup.ngramJaccard(corpus, "doc_id", "text",
          n = 3, threshold = 0.5)
        .where(col("id_b") >= 500000L)
        .select("id_a", "id_b")
      val truth = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 500000L).as("id_b"))
        .unionByName(docs.where(col("doc_id") % 7 === 3)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 600000L).as("id_b")))
      graft.operators.PairEval.pairConfusion(pred, truth)
    }),
    // r8: the five shingle-family reports (E2/E128/E129/E135/E147) off
    // ONE staged shingle relation — tokenize once, not five times; each
    // family reduced to (n_rows, quantized score sum), hash-checked
    // against the five standalone DuckDB twins
    "dedup_family_rollup" -> ((s, dir) =>
      Dedup.shingleFamilyRollup(
        documents(s, dir), "doc_id", "text", n = 3,
        jaccardThreshold = 0.5, containThreshold = 0.5, minJaccard = 0.1)),
    // blocklist removal: sources whose hash bucket < 3000 are "blocked";
    // Bloom prefilter routes the clean bulk around the exact anti-join
    "blocklist_filter" -> ((s, dir) => {
      val docs = documents(s, dir)
      val bl = docs.select(col("source")).distinct()
        .where(Sampling.hashBucket(col("source"), "blocklist") < 3000)
      graft.operators.Blocklist.filterOut(docs, "source", bl, "source")
        .select("doc_id", "source").orderBy("doc_id")
    }),
    // paragraph-level dedup: strip 5-word spans repeating >= 2 times
    // corpus-wide, reassemble survivors in order (map-only after the
    // one span-frequency shuffle)
    "paragraph_dedup" -> ((s, dir) =>
      graft.operators.SpanDedup.dropHotSpans(
        documents(s, dir), "doc_id", "text", spanWords = 5, minFreqToDrop = 2)
        .orderBy("doc_id")),
    // cross-snapshot dedup: the newest 20% of docs checked against the
    // existing 80% by content hash — the daily-ingest dedup mode
    "dedup_incremental" -> ((s, dir) => {
      val docs = documents(s, dir)
      val cut = 400L // sf-independent ratio not needed: fixed id cut, both engines agree
      Dedup.incrementalExact(
        docs.where(col("doc_id") >= cut),
        docs.where(col("doc_id") < cut),
        "doc_id", Seq("text"))
        .orderBy("doc_id")
    }),
    // E205: cross-batch NEAR-dup dedup against the PERSISTED signature
    // store — batch = doc_id >= 400, store = dedupState(doc_id < 400);
    // exact stage bloom-prefiltered, near stage banded vs stored
    // signatures, signature-estimated Jaccard (no payload rescan by
    // construction: the state relation carries no text column).
    // Band hashes are xxhash64 → rows-only in the gate; the audit twin
    // pins merge-equals-whole, exact parity and planted capture.
    "dedup_incremental_lsh" -> ((s, dir) => {
      val docs = documents(s, dir)
      val cut = 400L
      val state = Dedup.dedupState(
        docs.where(col("doc_id") < cut), "doc_id", "text")
      Dedup.incrementalLsh(
        docs.where(col("doc_id") >= cut), state, "doc_id", "text")
        .orderBy("id")
    }),
    // E205 audit: (a) state built in two sub-batches then unioned is
    // row-identical to the one-pass state (the minhash_merge_audit
    // mergeability, at store granularity); (b) detection against the
    // merged store equals detection against the one-pass store;
    // (c) dup_exact agrees with incrementalExact on every batch doc;
    // (d) planted byte-identical cross-batch copies are caught by BOTH
    // stages with est_jaccard = 1.0.
    "dedup_incremental_lsh_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir).select("doc_id", "text")
      val cut = 400L
      val known = docs.where(col("doc_id") < cut)
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      // plant: 20 store docs re-ingested verbatim under new batch ids
      // (deterministic pick; ≥5 tokens so each has a minhash signature)
      val planted = known
        .where(col("doc_id") % 20 === 0 &&
          size(split(col("text"), "\\s+")) >= 5)
        .orderBy("doc_id").limit(20)
        .select((col("doc_id") + lit(off)).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val batch = docs.where(col("doc_id") >= cut).unionByName(planted)
      val oneShot = Dedup.dedupState(known, "doc_id", "text")
        .localCheckpoint(true)
      val merged = Dedup
        .dedupState(known.where(col("doc_id") % 2 === 0), "doc_id", "text")
        .unionByName(Dedup.dedupState(
          known.where(col("doc_id") % 2 === 1), "doc_id", "text"))
        .localCheckpoint(true)
      val stateMergeEq =
        merged.exceptAll(oneShot).count() + oneShot.exceptAll(merged).count() == 0L
      val outMerged = Dedup.incrementalLsh(batch, merged, "doc_id", "text")
        .localCheckpoint(true)
      val outOne = Dedup.incrementalLsh(batch, oneShot, "doc_id", "text")
      val detInvariant =
        outMerged.exceptAll(outOne).count() + outOne.exceptAll(outMerged).count() == 0L
      val exactRef = Dedup.incrementalExact(batch, known, "doc_id", Seq("text"))
        .select(col("doc_id").as("id"), col("dup").as("ref_dup"))
      val exactParity = outMerged.join(exactRef, Seq("id"), "full_outer")
        .where(col("dup_exact").isNull || col("ref_dup").isNull ||
          col("dup_exact") =!= col("ref_dup")).count() == 0L
      val nPlanted = planted.count()
      val plantedCaught = outMerged
        .where(col("id") >= off && col("dup_exact") && col("near_dup") &&
          col("est_jaccard") === 1.0)
        .count() == nPlanted
      Seq(
        ("detection_state_invariant", detInvariant),
        ("exact_parity_with_incremental_exact", exactParity),
        ("planted_cross_dups_caught", plantedCaught),
        ("state_merge_equals_whole", stateMergeEq))
        .toDF("property", "ok").orderBy("property")
    }),
    // cluster assignment: pair relation -> connected components with the
    // smallest doc id as canonical representative (alternating-star CC)
    "dedup_clusters" -> ((s, dir) =>
      graft.operators.Clustering.dedupClusters(
        Dedup.ngramJaccard(documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5))
        .orderBy("doc_id")),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // LSH recall curve (E203): per Jaccard band, how many exact pairs
    // the banded sketch stage caught — what the (bands, rows) geometry
    // DELIVERS vs its 1-(1-s^r)^b promise. Band hashes engine-specific
    // -> rows-only; the audit pins subset, J=1 capture, band partition
    "lsh_recall_curve" -> ((s, dir) =>
      Dedup.lshRecallCurve(documents(s, dir), "doc_id", "text")
        .orderBy("band")),
    "lsh_recall_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir)
      val curve = Dedup.lshRecallCurve(docs, "doc_id", "text").persist()
      val lsh = Dedup.minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.5)
      try {
        val subsetBad = curve.where(col("n_caught") > col("n_exact")).count()
        val perfBad = curve.where(col("band") === 10L &&
          col("n_caught") =!= col("n_exact")).count()
        val caught = curve.agg(coalesce(sum(col("n_caught")), lit(0L)))
          .head().getLong(0)
        val nLsh = lsh.count()
        Seq(
          ("caught_subset_per_band", subsetBad == 0L),
          ("perfect_band_fully_caught", perfBad == 0L),
          ("total_caught_equals_lsh_pairs", caught == nLsh))
          .toDF("property", "ok").orderBy("property")
      } finally { curve.unpersist(); () }
    }),
    // dedup survival curve (E202): per threshold 0.1..0.9 the exact
    // pair count, drop-rule removals and survivors — the threshold-
    // picking artifact, one pair relation instead of nine re-runs
    "dedup_survival" -> ((s, dir) =>
      Dedup.dedupSurvival(documents(s, dir), "doc_id", "text")
        .orderBy("threshold")),
    // MinHash cluster relation (E195): connected components over the
    // LSH-banded VERIFIED pair graph — the production cluster-then-
    // keep-one shape at 100 TB (hybrid driver union-find under the
    // counted threshold). Band hashes are engine-specific -> rows-only;
    // the audit pins refinement of the exact components
    "minhash_clusters" -> ((s, dir) =>
      graft.operators.Clustering.dedupClusters(
        Dedup.minhashLsh(documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5))
        .orderBy("doc_id")),
    // E195 audit: min-id labels, each LSH cluster inside ONE exact
    // cluster (verified pairs are a subset of the exact relation),
    // keep-one yield bounded by the exact graph's
    "minhash_clusters_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir)
      val lsh = graft.operators.Clustering.dedupClusters(
        Dedup.minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.5))
        .persist()
      val exact = graft.operators.Clustering.dedupClusters(
        Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5))
        .persist()
      try {
        val joined = lsh.withColumnRenamed("cluster_id", "cl")
          .join(exact.withColumnRenamed("cluster_id", "ce"),
            Seq("doc_id"), "left")
        val orphan = joined.where(col("ce").isNull).count()
        val refine = joined.groupBy("cl")
          .agg(countDistinct(col("ce")).as("k"))
          .where(col("k") =!= 1L).count()
        val labelBad = lsh.groupBy("cluster_id")
          .agg(min(col("doc_id")).as("m"))
          .where(col("m") =!= col("cluster_id")).count()
        val yLsh = lsh.count() - lsh.select("cluster_id").distinct().count()
        val yEx = exact.count() - exact.select("cluster_id").distinct().count()
        Seq(
          ("cluster_label_is_min_id", labelBad == 0L),
          ("clusters_refine_exact", refine == 0L && orphan == 0L),
          ("yield_at_most_exact", yLsh <= yEx))
          .toDF("property", "ok").orderBy("property")
      } finally { lsh.unpersist(); exact.unpersist(); () }
    }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(documents(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")),
    // benchmark decontamination: every 50th doc plays the eval set; train
    // docs sharing >= 3 word-3-gram shingles with any eval doc are flagged
    "contamination" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.contamination(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3, minShared = 3)
        .orderBy("train_id", "bench_id")
    }),
    // dedup-threshold sensitivity sweep (E135): pair counts per J band
    "jaccard_histogram" -> ((s, dir) =>
      Dedup.jaccardHistogram(
        documents(s, dir), "doc_id", "text", n = 3, minJaccard = 0.1)
        .orderBy("bucket")),
    // normalized near-exact dedup (E138): C4-style formatting-invariant
    "dedup_normalized" -> ((s, dir) =>
      Dedup.normalizedExact(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // near-dup graph degree histogram (E147): the hub diagnostic that
    // sets the maxDocFreq/maxBandFreq caps
    "dup_graph_degrees" -> ((s, dir) =>
      Dedup.dupGraphDegrees(documents(s, dir), "doc_id", "text")
        .orderBy("degree")),
    // MinHash merge-associativity audit (E150): per-batch signatures
    // least()-merge into the whole-set signature — incremental dedup
    // without revisiting earlier batches
    "minhash_merge_audit" -> ((s, dir) =>
      Dedup.minhashMergeAudit(documents(s, dir), "doc_id", "text")),
    // Bloom pre-filter soundness audit (E149): the shuffle-free semi-join
    // accelerator — membership on content hashes, train side vs all docs
    "bloom_membership_audit" -> ((s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      graft.profiler.Integrity.bloomMembershipAudit(
        docs.where(col("doc_id") % 50 =!= 0), "h",
        docs, "h",
        expectedItems = 100000L, fpp = 0.01)
    }),
    // dedup-yield cluster-size histogram (E124) over the E2/E24 clusters
    "dedup_yield" -> ((s, dir) => {
      val docs = documents(s, dir)
      graft.operators.Clustering.dedupYield(
        graft.operators.Clustering.dedupClusters(
          Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)),
        docs)
        .orderBy("cluster_size")
    }),
    // per-eval-doc dirty-fraction report (E93): what share of each eval
    // item's n-grams exists anywhere in train
    "contamination_ratio" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.contaminationRatio(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    "dedup_embedding_cosine" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(embeddings(s, dir), "vec_id", "embedding")),
    // SemDeDup (E158): cluster-scoped semantic dedup — per-vector
    // KEEP/REMOVE verdict, the member closer to its centroid removed
    // from every within-cluster duplicate pair (cos >= 0.35)
    "semdedup" -> ((s, dir) =>
      Similarity.semDedup(
        embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % 83 === 0, threshold = 0.35)
        .orderBy("vec_id")),
    // SemDeDup EXECUTOR (E186): the action half — removed vectors
    // dropped via ids-only broadcast anti join, kept corpus returns
    // with n_dims + 6-dp norm; fully hash-oracled (the verdict is
    // deterministic, unlike the sketch-based E185)
    // Scale note (r14 sf10 lane): THIS KEY's centroid predicate derives
    // the quantizer size from a fixed modulus, so #cents ∝ corpus and
    // the assignment stage is O(N·cents·D) = quadratic BY KEY
    // CONSTRUCTION (the kmeans_train/ivf_topk pattern, VERDICT r13 #3).
    // SPARK_GRAFT_SEMDEDUP_MOD lets the scale lane hold the quantizer
    // fixed (~24 cells at any sf) and measure the linear operator
    // regime. Verify never sets it — the hash oracle runs default %83.
    "semdedup_execute" -> ((s, dir) => {
      val mod = sys.env.get("SPARK_GRAFT_SEMDEDUP_MOD")
        .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
        .getOrElse(83)
      Similarity.semDedupExecute(
        embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % mod === 0, threshold = 0.35)
        .orderBy("vec_id")
    }),
    // DEFLATE density quality proxy (codegen expression; ordinal contract,
    // invariant-tested — no cross-engine oracle, SURVEY §2.E E72)
    "compression_ratio" -> ((s, dir) => {
      graft.functions.Compress.register(s)
      documents(s, dir).select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        expr("deflate_len(text)").cast("long").as("deflate_bytes"),
        round(
          when(octet_length(col("text")) > 0,
            expr("deflate_len(text)").cast("double") / octet_length(col("text")))
            .otherwise(lit(null)), 6).as("ratio"))
        .orderBy("doc_id")
    }),
    // PageRank over the near-dup graph (E173): 8 damped iterations,
    // 12-dp decimal contribution sums - graph centrality as the
    // template-center signal; full hash oracle (chained CTE replay)
    "dup_pagerank" -> ((s, dir) =>
      graft.operators.Clustering.dupPagerank(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // n-gram-Jaccard dedup EXECUTOR (E181): the E2 action — drop every
    // doc with a smaller-id neighbor at J >= 0.5 (per-pair larger-id
    // rule; cluster minima always survive), kept corpus sha256-pinned
    "jaccard_dedup_execute" -> ((s, dir) =>
      Dedup.jaccardDedupExecute(
        documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("doc_id")),
    // MinHash-LSH dedup EXECUTOR (E185): E181's 100 TB sibling — the
    // same drop rule over the LSH-candidate VERIFIED pair relation
    // (sound: verified pairs are a subset of the exact relation); band
    // hashes are engine-specific -> rows-only, the audit pins soundness
    "minhash_dedup_execute" -> ((s, dir) =>
      Dedup.minhashDedupExecute(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // E185 audit: removals sound vs the exact relation, kept+removed
    // partitions the corpus, identical docs (J=1, identical signatures)
    // deterministically caught
    "minhash_dedup_execute_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir)
      val mh = Dedup.minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .persist()
      val exact = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .persist()
      try {
        val removedMh = mh.select(col("id_b")).distinct()
        val exactRemoved = exact.select(col("id_b")).distinct()
        val unsound = removedMh
          .join(exactRemoved, Seq("id_b"), "left_anti").count()
        val kept = Dedup.minhashDedupExecute(docs, "doc_id", "text")
        val total = docs.count()
        val nk = kept.count()
        val nr = removedMh.count()
        val overlap = kept.select(col("doc_id").as("id_b"))
          .join(removedMh, Seq("id_b")).count()
        val missedPerfect = exact.where(col("jaccard") === 1.0)
          .join(mh.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
          .count()
        Seq(
          ("identical_pairs_always_caught", missedPerfect == 0L),
          ("kept_plus_removed_partitions_corpus",
            nk + nr == total && overlap == 0L),
          ("removed_subset_of_exact", unsound == 0L))
          .toDF("property", "ok").orderBy("property")
      } finally { mh.unpersist(); exact.unpersist(); () }
    }),
    // E220: signature-store compaction — re-ingested identical content
    // collapses to its minimum-id row (batch 2 re-ingests every 5th
    // batch-1 doc under a new id, so the store really holds copies).
    // FULL hash oracle over (id, content_hash, n_copies).
    "dedup_state_compact" -> ((s, dir) => {
      val docs = documents(s, dir).select("doc_id", "text")
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val b1 = docs.where(col("doc_id") < 400)
      val b2 = docs.where(col("doc_id") >= 400)
        .unionByName(b1.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + lit(off)).as("doc_id"), col("text")))
      val store = Dedup.dedupState(b1, "doc_id", "text")
        .unionByName(Dedup.dedupState(b2, "doc_id", "text"))
      Dedup.compactState(store)
        .select("id", "content_hash", "n_copies")
        .orderBy("id")
    }),
    // E220 audit: compaction is lossless for detection — the batch's
    // dup_exact/near_dup verdicts against the compacted store equal the
    // verdicts against the full store (match ids may legitimately move
    // to the surviving representative); one row per distinct content;
    // absorbed-copy mass preserved.
    "dedup_state_compact_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir).select("doc_id", "text")
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val known = docs.where(col("doc_id") < 300)
        .unionByName(docs.where(col("doc_id") < 300 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + lit(off)).as("doc_id"), col("text")))
      val batch = docs.where(col("doc_id") >= 300 && col("doc_id") < 500)
      val store = Dedup.dedupState(known, "doc_id", "text")
        .localCheckpoint(true)
      val compacted = Dedup.compactState(store).drop("n_copies")
        .localCheckpoint(true)
      def flags(st: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalLsh(batch, st, "doc_id", "text")
          .select("id", "dup_exact", "near_dup")
      val a = flags(store); val b = flags(compacted)
      val detectionInvariant =
        a.exceptAll(b).count() + b.exceptAll(a).count() == 0L
      val onePerContent = compacted.count() ==
        store.select("content_hash").distinct().count()
      val massPreserved = Dedup.compactState(store)
        .agg(sum(col("n_copies"))).head().getLong(0) == store.count()
      Seq(
        ("copy_mass_preserved", massPreserved),
        ("detection_flags_invariant", detectionInvariant),
        ("one_row_per_distinct_content", onePerContent))
        .toDF("property", "ok").orderBy("property")
    }),
    // E215: minhash-estimate calibration over the banded candidates —
    // per estimate decile, mean est vs mean EXACT Jaccard and the error
    // spread; the trust readout behind every store-only dedup verdict.
    // Band hashes engine-specific → rows-only; audit pins pair mass and
    // exact-value parity with the n-gram Jaccard relation.
    "minhash_calibration" -> ((s, dir) =>
      Dedup.minhashCalibration(
        documents(s, dir), "doc_id", "text")
        .orderBy("est_band")),
    "minhash_calibration_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir)
      val pairs = Dedup.calibrationPairs(
        docs, "doc_id", "text", 3, 32, 8, Some(10000))
        .localCheckpoint(true)
      val inRange = pairs.where(
        col("est") < 0.0 || col("est") > 1.0 ||
          col("exact") < 0.0 || col("exact") > 1.0).count() == 0L
      // pair-level exact values must equal the shared-shingle Jaccard
      // relation wherever the pair shares a shingle — and be 0 where it
      // does not (a band collision without overlap)
      val jacc = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3,
        threshold = 0.000001)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
      val joined = pairs.join(jacc, Seq("id_a", "id_b"), "left")
      val exactParity = joined.where(
        (col("j").isNotNull && col("exact") =!= col("j")) ||
          (col("j").isNull && col("exact") =!= 0.0)).count() == 0L
      val rollupMass = Dedup.minhashCalibration(docs, "doc_id", "text")
        .agg(sum(col("n_pairs"))).head().getLong(0) == pairs.count()
      Seq(
        ("est_exact_in_unit_range", inRange),
        ("exact_matches_ngram_jaccard", exactParity),
        ("rollup_preserves_pair_mass", rollupMass))
        .toDF("property", "ok").orderBy("property")
    }),
    // E216: freshness decay weights per event day (tau = 30 days) — the
    // recency-weighted sampling plan; EXP parity, integer ages.
    "freshness_weights" -> ((s, dir) =>
      graft.operators.Events.freshnessWeights(
        s.read.parquet(s"$dir/events.parquet"), "ts")
        .orderBy("day")),
    // E217: near-dup pair EXPLAIN — top-20 pairs by Jaccard with the 5
    // lexicographically-smallest shared shingles as evidence.
    "dup_pair_explain" -> ((s, dir) =>
      Dedup.dupPairExplain(documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    // E218: duplicate-arrival rate per ingest batch (batch = doc_id div
    // 50; the E214 planted-boilerplate corpus so the rate is non-zero).
    "dedup_rate_by_batch" -> ((s, dir) =>
      Dedup.dedupRateByBatch(
        documents(s, dir)
          .withColumn("text",
            when(col("doc_id") % 7 === 0,
              concat(lit("shared boilerplate "),
                (col("doc_id") % 3).cast("string")))
              .otherwise(col("text")))
          .withColumn("ingest_batch", expr("doc_id div 50")),
        "doc_id", "text", batchCol = "ingest_batch")
        .orderBy("batch")),
    // E214: cross-source duplication matrix — distinct shared contents,
    // per-source totals and content-set Jaccard per source pair. Every
    // 7th doc is remapped to one of 3 canonical boilerplates (the
    // pii_scan input-construction precedent: the synthetic corpus has
    // no natural cross-source byte-dups, so the overlap the matrix
    // measures is planted identically in both engines).
    "cross_dedup_matrix" -> ((s, dir) =>
      Dedup.crossDedupMatrix(
        documents(s, dir).withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(lit("shared boilerplate "),
              (col("doc_id") % 3).cast("string")))
            .otherwise(col("text"))),
        "text", "source")
        .orderBy("source_a", "source_b")),
    // winnowing (k=8, w=4): selected (pos, hash) fingerprints per document
    "winnow_fingerprint" -> ((s, dir) =>
      Dedup.winnowFingerprints(documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "pos")),
    // MOSS-style near-dup pairs over shared winnowing fingerprints (E73):
    // local-match detector complementing MinHash's global resemblance
    "winnow_near_dup" -> ((s, dir) =>
      Dedup.winnowNearDup(documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    // exact-substring duplicate spans (E156): pairs sharing a verbatim
    // run >= 30 chars, with the maximal span's offsets — winnowing
    // anchors + codegen'd maximal extension; fully hash-oracled (DuckDB
    // mirrors the extension as a zip-based longest-common-prefix)
    "substring_dup" -> ((s, dir) =>
      Dedup.substringDup(documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    // E156's per-document readout: fraction of each touched document's
    // chars inside >= 30-char cross-document verbatim runs (interval
    // union via doc-partitioned gap-and-islands — never double-counted)
    "substring_dup_coverage" -> ((s, dir) =>
      Dedup.substringDupCoverage(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // intra-document longest repeated substring (E162): exact char-level
    // self-repetition — the within-document half of substring dedup
    "self_repeat" -> ((s, dir) =>
      Dedup.selfRepeat(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // intra-doc repetition-removal EXECUTOR (E188): every >=20-char
    // repeated run keeps its earliest occurrence, the later span cut by
    // the shared broadcast interval kernel; cleaned text sha256-pinned
    "self_repeat_execute" -> ((s, dir) =>
      Dedup.selfRepeatExecute(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // the chunking front-end is the substring family's only path, so
    // these keys are the same calls as substring_dup / self_repeat; they
    // stay as names the benchmark and the oracle map use. Every
    // sf0.01 doc is one chunk; the >2^20-char path is spec-driven
    // (Round11Spec).
    "substring_dup_chunked" -> ((s, dir) =>
      Dedup.substringDup(documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    "self_repeat_chunked" -> ((s, dir) =>
      Dedup.selfRepeat(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // span-level train/eval decontamination (E161): verbatim runs leaking
    // from the corpus into a pseudo held-out slice (doc_id % 101 == 0)
    "substring_contamination" -> ((s, dir) => {
      val d = documents(s, dir)
      Dedup.substringContamination(
        d.where(col("doc_id") % 101 =!= 0),
        d.where(col("doc_id") % 101 === 0),
        "doc_id", "text")
        .orderBy("corpus_id", "eval_id")
    }),
    // decontamination EXECUTOR (E169): the cut action for E161 — leaked
    // spans removed from the corpus side, cleaned text pinned by sha256
    // (full hash oracle over the rebuilt strings; payloads never shuffle)
    "decontam_execute" -> ((s, dir) => {
      val d = documents(s, dir)
      Dedup.decontamExecute(
        d.where(col("doc_id") % 101 =!= 0),
        d.where(col("doc_id") % 101 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    // exact-substring self-dedup EXECUTOR (E170): Lee et al.'s ExactSubstr
    // action — every cross-doc verbatim run >=30 chars keeps its lowest-id
    // occurrence, all others cut; full corpus returned, sha256-pinned
    "substring_dup_execute" -> ((s, dir) =>
      Dedup.substringDupExecute(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // approximate cross-table key overlap (E163): three HLLs in ONE
    // aggregation over a tagged union + inclusion-exclusion — the
    // no-join, sketch-mergeable scale path to referential containment.
    // HLL values are engine-specific -> rows-only; the audit pins them.
    "approx_overlap" -> ((s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      graft.profiler.Integrity.approxOverlap(
        ord, "o_custkey", cust, "c_custkey",
        "orders.o_custkey~customer.c_custkey")
    }),
    // E163 audit: every HLL estimate within the standard-error bound
    // (0.15 = 3x the default 5% rsd) of its exact twin; the derived
    // overlap within the summed bound; containments consistent
    "approx_overlap_audit" -> ((s, dir) => {
      import s.implicits._
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val est = graft.profiler.Integrity.approxOverlap(
        ord, "o_custkey", cust, "c_custkey", "r").head()
      val ka = ord.select(col("o_custkey").cast("string").as("k"))
        .where(col("k").isNotNull)
      val kb = cust.select(col("c_custkey").cast("string").as("k"))
        .where(col("k").isNotNull)
      val exact = ka.withColumn("s", lit("a"))
        .unionByName(kb.withColumn("s", lit("b")))
        .agg(
          countDistinct(col("k")).as("u"),
          countDistinct(when(col("s") === "a", col("k"))).as("na"),
          countDistinct(when(col("s") === "b", col("k"))).as("nb"))
        .head()
      val (u, na, nb) = (exact.getLong(0), exact.getLong(1), exact.getLong(2))
      val overlap = na + nb - u
      def within(e: Long, x: Long) = math.abs(e - x) <= 0.15 * x
      Seq(
        ("n_a_within_bound", within(est.getLong(1), na)),
        ("n_b_within_bound", within(est.getLong(2), nb)),
        ("n_union_within_bound", within(est.getLong(3), u)),
        ("overlap_within_summed_bound",
          math.abs(est.getLong(4) - overlap) <= 0.15 * (na + nb + u).toDouble),
        ("containments_consistent", {
          val ca = est.getAs[java.lang.Double]("containment_a")
          val cb = est.getAs[java.lang.Double]("containment_b")
          ca != null && cb != null && ca >= 0 && ca <= 1.5 && cb >= 0 && cb <= 1.5 &&
            math.abs(ca * est.getLong(1) - est.getLong(4)) <= 1 + 1e-6 * est.getLong(4) &&
            math.abs(cb * est.getLong(2) - est.getLong(4)) <= 1 + 1e-6 * est.getLong(4)
        }))
        .toDF("property", "ok").orderBy("property")
    }),
    // E163 persisted-state path (r11): per-table HLL key-sketch states
    // written to parquet, read back, and the overlap answered from the
    // two sketch ROWS — zero table rescans. Rows-only (HLL values are
    // engine-specific); the audit pins bit-equality with the direct
    // computation and split-merge losslessness.
    "approx_overlap_states" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_overlap_states_").toString
      graft.profiler.Integrity.keySketchState(
        s.read.parquet(s"$dir/orders.parquet"), "o_custkey", "orders")
        .write.mode("overwrite").parquet(s"$root/orders_state")
      graft.profiler.Integrity.keySketchState(
        s.read.parquet(s"$dir/customer.parquet"), "c_custkey", "customer")
        .write.mode("overwrite").parquet(s"$root/customer_state")
      graft.profiler.Integrity.approxOverlapFromStates(
        s.read.parquet(s"$root/orders_state"),
        s.read.parquet(s"$root/customer_state"),
        "orders.o_custkey~customer.c_custkey")
    }),
    "approx_overlap_states_audit" -> ((s, dir) => {
      import s.implicits._
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val root = java.nio.file.Files
        .createTempDirectory("graft_overlap_states_audit_").toString
      graft.profiler.Integrity.keySketchState(ord, "o_custkey", "orders")
        .write.mode("overwrite").parquet(s"$root/a")
      graft.profiler.Integrity.keySketchState(cust, "c_custkey", "customer")
        .write.mode("overwrite").parquet(s"$root/b")
      val persisted = graft.profiler.Integrity.approxOverlapFromStates(
        s.read.parquet(s"$root/a"), s.read.parquet(s"$root/b"), "r")
        .head()
      // direct path: same sketch computation, no persistence round-trip
      val direct = graft.profiler.Integrity.approxOverlapFromStates(
        graft.profiler.Integrity.keySketchState(ord, "o_custkey", "orders"),
        graft.profiler.Integrity.keySketchState(cust, "c_custkey", "customer"),
        "r").head()
      // split-merge losslessness: sketch each half of orders separately,
      // union the persisted halves, and the estimate must equal the
      // whole-table sketch's (HLL registers are max-merged — exact)
      graft.profiler.Integrity.keySketchState(
        ord.where(col("o_orderkey") % 2 === 0), "o_custkey", "orders_even")
        .write.mode("overwrite").parquet(s"$root/h0")
      graft.profiler.Integrity.keySketchState(
        ord.where(col("o_orderkey") % 2 =!= 0), "o_custkey", "orders_odd")
        .write.mode("overwrite").parquet(s"$root/h1")
      val merged = s.read.parquet(s"$root/h0")
        .unionByName(s.read.parquet(s"$root/h1"))
        .agg(hll_union_agg(col("hll")).as("hll"))
        .select(hll_sketch_estimate(col("hll")).as("est"))
        .head().getLong(0)
      val whole = s.read.parquet(s"$root/a")
        .select(hll_sketch_estimate(col("hll")).as("est"))
        .head().getLong(0)
      Seq(
        ("estimates_match_rescan",
          (1 to 4).forall(i => persisted.getLong(i) == direct.getLong(i)) &&
            persisted.getAs[java.lang.Double]("containment_a") ==
              direct.getAs[java.lang.Double]("containment_a") &&
            persisted.getAs[java.lang.Double]("containment_b") ==
              direct.getAs[java.lang.Double]("containment_b")),
        ("split_merge_lossless", merged == whole),
        ("overlap_nonnegative", persisted.getLong(4) >= 0L))
        .toDF("property", "ok").orderBy("property")
    }),
    // near-dup cluster representative by QUALITY (not min-id): keep the
    // best copy, discard the worse ones
    "dedup_cluster_best" -> ((s, dir) => {
      val docs = documents(s, dir)
      graft.operators.Clustering.bestRepresentative(
        graft.operators.Clustering.dedupClusters(
          Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)),
        docs.select(
          col("doc_id"),
          round(TextFunctions.qualityScore(col("text")), 6).as("quality")))
        .orderBy("doc_id")
    }),
    "minhash_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir)
      val mh = Dedup.minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .persist()
      try {
        val ex = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
        val extra = mh.join(ex, Seq("id_a", "id_b", "jaccard"), "left_anti").count()
        val bad = mh.where(col("jaccard") < 0.5 || col("id_a") >= col("id_b")).count()
        Seq(
          ("pairs_subset_of_exact", extra == 0L),
          ("threshold_and_ordering", bad == 0L))
          .toDF("property", "ok").orderBy("property")
      } finally { mh.unpersist(); () }
    }),
    // E4: the pigeonhole banding is exact over signatures — blocks =
    // maxHamming+1 guarantees recall 1 AND the exact hamming filter
    // guarantees precision 1, so banded pairs must EQUAL the brute-force
    // all-pairs relation over the same signatures.
    "simhash_audit" -> ((s, dir) => {
      import s.implicits._
      val sig = Dedup.simhash(documents(s, dir), "doc_id", "text").persist()
      try {
        sig.count() // materialize once; both derivations below reuse the cache
        val pairs = Dedup.simhashPairsFromSignatures(sig, maxHamming = 3)
          .select("id_a", "id_b", "hamming")
        val brute = sig.alias("x").crossJoin(sig.alias("y"))
          .where(col("x.id") < col("y.id"))
          .select(
            col("x.id").as("id_a"), col("y.id").as("id_b"),
            bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
          .where(col("hamming") <= 3)
        val diff = pairs.exceptAll(brute).count() + brute.exceptAll(pairs).count()
        Seq(("pairs_equal_bruteforce", diff == 0L)).toDF("property", "ok")
      } finally { sig.unpersist(); () }
    }),
    // E72: zlib output lengths are implementation-defined (hence no value
    // oracle), but three invariants are guaranteed: lengths stay within
    // the deflate worst-case bound, re-evaluating is bit-identical, and
    // doubling a text adds at most a back-reference's worth of bytes
    // (the LZ77 window property the quality signal rests on).
    "deflate_audit" -> ((s, dir) => {
      import s.implicits._
      graft.functions.Compress.register(s)
      val docs = documents(s, dir).where(col("text").isNotNull)
      val d1 = docs.select(
        col("doc_id"), expr("deflate_len(text)").as("a"),
        octet_length(col("text")).cast("long").as("n"))
      val d2 = docs.select(col("doc_id"), expr("deflate_len(text)").as("b"))
      val boundsBad = d1.where(
        col("a") < 1 || col("a") > col("n") + col("n") / 100 + 64).count()
      val detBad = d1.join(d2, Seq("doc_id"))
        .where(col("a") =!= col("b")).count()
      val lzBad = docs.where(octet_length(col("text")).between(1, 32768))
        .select(expr("deflate_len(text)").as("single"),
          expr("deflate_len(concat(text, text))").as("doubled"))
        .where(col("doubled") > col("single") + 64).count()
      Seq(
        ("bounds_hold", boundsBad == 0L),
        ("deterministic", detBad == 0L),
        ("doubling_compresses", lzBad == 0L))
        .toDF("property", "ok").orderBy("property")
    })
  )
}

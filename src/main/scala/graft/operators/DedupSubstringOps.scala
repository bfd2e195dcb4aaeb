package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup — exact-substring spans: cross-document duplicates, train/eval
  * contamination and intra-document repeats, with their executors and
  * the coverage readout (split from the former 2.5k-line
  * operators/Dedup.scala, VERDICT r13 task 5). All three span relations
  * come from ONE chunked pipeline, [[spanCore]]: documents split into
  * k−1-overlap character chunks ([[charChunks]]), winnowing anchors,
  * one keyed window for overlap dedup and the occurrence cap, a capped
  * self-join, per-chunk-pair text joins, `common_extend`, and offsets
  * remapped to GLOBAL document coordinates — so every member accepts
  * documents of any length. The three callers differ only in the
  * candidate key, which sites face each other, and the pair predicate.
  * Self-typed to the aggregator so families compose freely; scale
  * contracts live on each member's scaladoc. */
private[graft] trait DedupSubstringOps { this: Dedup.type =>

  /** Exact-substring duplicate spans (E156) — the dedup family the
    * suffix-array literature calls exact substring deduplication (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL '22): find pairs of documents sharing a VERBATIM run of at least
    * `minLen` characters and report the maximal such span. Where
    * [[winnowNearDup]] scores whole-document resemblance from shared
    * fingerprints, this returns the overlap itself — start offsets and
    * length — the unit a curation pipeline actually cuts.
    *
    * Not a distributed suffix array: the same detection guarantee comes
    * from winnowing anchors at a join's cost. By the winnowing theorem
    * (Schleimer et al., SIGMOD '03), any common substring of length
    * ≥ w+k−1 contains a full window of k-grams in both documents, and the
    * window's minimum-hash k-gram is selected in BOTH (the packed
    * position tie-break changes which occurrence is kept, never which
    * hash value wins a window) — so every qualifying overlap surfaces as
    * an equi-join hit on a shared anchor hash, and maximal extension
    * around the anchor ([[graft.functions.CommonExtend]], codegen'd)
    * recovers the span's full extent. Detection is EXHAUSTIVE above
    * w+k−1 chars, modulo anchors suppressed by the boilerplate cap.
    *
    * Hash collisions (31-adic mod 2³¹−1) cannot fabricate spans: the
    * extension kernel re-checks the anchor verbatim and returns −1 on
    * mismatch.
    *
    * Per pair, ONE maximal span is reported — lexicographic max of
    * `(len, start_a, start_b)` — plus `n_spans`, the count of DISTINCT
    * maximal spans of length ≥ k the pair shares (a width signal:
    * templated pairs share many short runs, plagiarized pairs one long
    * one). Note the floor is k, not w+k−1: spans of length k..w+k−2
    * are counted whenever winnowing happened to anchor them — only
    * DETECTION above w+k−1 is guaranteed-exhaustive (ADVICE r10: the
    * two engines count identically either way; this doc states the
    * implemented floor).
    *
    * Scale shape: anchors are the winnowing fingerprints (≈2/(w+1) of
    * positions); the ABSOLUTE occurrence cap `maxOccFreq` (default
    * [[DefaultHotFingerprintCap]]) drops boilerplate anchors BEFORE the
    * join, bounding candidates at #hashes·cap² — linear in corpus size
    * (the r10 winnow doctrine); the optional pre-flight guard computes
    * the exact candidate count and refuses a blow-up loudly. Texts ship
    * once per candidate CHUNK PAIR (two equi-joins on chunk id), so
    * payload movement is candidate-bounded, not corpus-bounded.
    *
    * Cites reference scope: dedup is absent from awsdataprofiler
    * (Profiler.scala:166-253 profiles only) — extension per SURVEY §2.E. */
  def substringDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minLen: Int = 30,
      maxOccFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame = {
    require(minLen >= w + k - 1,
      s"substringDup: minLen=$minLen below the winnowing detection " +
        s"guarantee w+k-1=${w + k - 1}; shorter overlaps are not " +
        "exhaustively found — lower k/w instead")
    substringDupSpans(df, idCol, textCol, k, w, maxOccFreq, maxCandidatePairs)
      .groupBy("id_a", "id_b")
      .agg(
        // the REPORTED span is the LONGEST (ties → largest start_a, then
        // start_b): lexicographic struct max
        max(struct(col("len"), col("start_a"), col("start_b"))).as("best"),
        count(lit(1)).as("n_spans"))
      .select(
        col("id_a"), col("id_b"),
        col("best.len").as("overlap_len"),
        col("best.start_a").as("start_a"),
        col("best.start_b").as("start_b"),
        col("n_spans"))
      .where(col("overlap_len") >= minLen)
  }

  /** The full DISTINCT maximal-span relation behind [[substringDup]]:
    * `(id_a, id_b, start_a, start_b, len)` — every maximal common
    * substring found through a surviving winnowing anchor, of ANY length
    * (callers filter; detection is exhaustive from w+k−1 up). Shared by
    * [[substringDup]] (per-pair longest) and [[substringDupCoverage]]
    * (per-document interval union). */
  def substringDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      maxOccFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame =
    // the occurrence cap is ABSOLUTE and per hash: a k-gram window
    // appearing more than maxOccFreq times across the corpus is
    // boilerplate (license headers, templates) — and occurrence (not
    // document) frequency is what bounds the candidate join
    spanCore(Seq(df), idCol, textCol, k, w, Seq("hash"),
      col("doc_a") < col("doc_b"), maxOccFreq, maxCandidatePairs,
      "substringDup")
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        col("start_a"), col("start_b"), col("len"))

  /** Cross-table exact-substring contamination (E161) — the span-level
    * train/eval decontamination pass (the application Lee et al. and the
    * GPT-3 appendix dedup actually run): find every (corpus doc, eval
    * doc) pair sharing a verbatim run ≥ `minLen` chars and report the
    * maximal span with offsets on BOTH sides. Where E23/E93 score
    * document-level n-gram containment, this returns the leaked span
    * itself — what a decontamination pipeline cuts or drops.
    *
    * Same machinery and guarantees as [[substringDup]] (winnowing
    * anchors, verbatim re-check, maximal extension, absolute occurrence
    * cap + pre-flight guard), but the candidate join is corpus-side ×
    * eval-side — never corpus × corpus, so candidate volume is
    * Σ_h fC(h)·fB(h) ≤ cap·Σ fB — linear in the (small) eval set for a
    * fixed cap, the right asymmetry for a 100 TB corpus against a
    * benchmark suite. The occurrence cap counts BOTH sides together:
    * boilerplate is boilerplate wherever it appears.
    *
    * Returns `(corpus_id, eval_id, overlap_len, start_corpus,
    * start_eval, n_spans)`. */
  def substringContamination(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minLen: Int = 30,
      maxOccFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame = {
    require(minLen >= w + k - 1,
      s"substringContamination: minLen=$minLen below the winnowing " +
        s"detection guarantee w+k-1=${w + k - 1}")
    substringContaminationSpans(
      corpus, eval, idCol, textCol, k, w, maxOccFreq, maxCandidatePairs)
      .groupBy("corpus_id", "eval_id")
      .agg(
        max(struct(col("len"), col("start_corpus"), col("start_eval")))
          .as("best"),
        count(lit(1)).as("n_spans"))
      .select(
        col("corpus_id"), col("eval_id"),
        col("best.len").as("overlap_len"),
        col("best.start_corpus").as("start_corpus"),
        col("best.start_eval").as("start_eval"),
        col("n_spans"))
      .where(col("overlap_len") >= minLen)
  }

  /** The full DISTINCT maximal-span relation behind
    * [[substringContamination]]: `(corpus_id, eval_id, start_corpus,
    * start_eval, len)` — every maximal cross-side verbatim run found
    * through a surviving winnowing anchor, of ANY length (callers filter;
    * detection is exhaustive from w+k−1 up). Shared by
    * [[substringContamination]] (per-pair longest readout) and
    * [[decontamExecute]] (the cut action). */
  def substringContaminationSpans(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      maxOccFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame =
    // corpus and eval sites share one tagged union: the occurrence cap
    // counts both sides together, the pair join is corpus × eval only
    spanCore(Seq(corpus, eval), idCol, textCol, k, w, Seq("hash"),
      lit(true), maxOccFreq, maxCandidatePairs, "substringContamination")
      .select(col("doc_a").as("corpus_id"), col("doc_b").as("eval_id"),
        col("start_a").as("start_corpus"), col("start_b").as("start_eval"),
        col("len"))

  /** Interval-cut kernel shared by the decontamination and self-dedup
    * EXECUTORS: given per-document 1-based char intervals `(id, s, e)`
    * (half-open `[s, e)`), merge them by the gap-and-islands pattern and
    * rebuild each document's text with the merged islands removed.
    *
    * Scale shape: the interval relation is metadata-sized (flagged docs
    * only) — it is merged with two windows over `(id)` partitions, rolled
    * up to ONE sorted island array per flagged doc, and broadcast back
    * onto the corpus, so the document payloads never shuffle; the cut
    * itself is a per-row fold (`aggregate` over the island array)
    * appending the complement segments. Unflagged docs pass through
    * untouched with `n_cut_spans = 0`.
    *
    * Returns `(idCol, orig_len, clean_len, n_cut_spans, clean_sha)` for
    * EVERY input document — `clean_sha` the first 16 hex chars of
    * sha256 of the rebuilt text (the full-hash-oracle handle; the text
    * itself stays out of the result on purpose). */
  private[graft] def cutIntervals(
      docs: DataFrame, idCol: String, textCol: String,
      ivals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("id").orderBy(col("s"), col("e"))
    val islands = ivals
      .withColumn("pmax",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("g",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "g")
      .agg(min(col("s")).as("s0"), max(col("e")).as("e1"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s0"), col("e1")))).as("iv"))
    val joined = docs
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .join(broadcast(islands), Seq("id"), "left")
    // fold the sorted islands: append the complement segment before each
    // island, carry the cursor past it, then append the tail
    val clean = when(col("iv").isNull, col("t")).otherwise(
      aggregate(
        col("iv"),
        struct(lit(1L).as("p"), lit("").as("acc")),
        (acc, x) => struct(
          x.getField("e1").cast("long").as("p"),
          concat(acc.getField("acc"),
            col("t").substr(acc.getField("p").cast("int"),
              (x.getField("s0") - acc.getField("p")).cast("int"))).as("acc")),
        acc => concat(acc.getField("acc"),
          col("t").substr(acc.getField("p").cast("int"),
            (length(col("t")) + lit(1L) - acc.getField("p")).cast("int")))))
    joined.select(
      col("id").as(idCol),
      length(col("t")).cast("long").as("orig_len"),
      length(clean).cast("long").as("clean_len"),
      coalesce(size(col("iv")).cast("long"), lit(0L)).as("n_cut_spans"),
      substring(sha2(clean, 256), 1, 16).as("clean_sha"))
  }

  /** Span-level decontamination EXECUTOR (E169) — the ACTION for
    * [[substringContamination]]'s detection (what Lee et al. §5 and the
    * GPT-3 appendix actually do to a leaked span: cut it from the
    * training corpus, keeping the rest of the document): every corpus
    * interval covered by a ≥ `minLen`-char verbatim run shared with the
    * eval side is removed, overlapping leaks merged first, and the
    * cleaned corpus is returned as `(id, orig_len, clean_len,
    * n_cut_spans, clean_sha)` — one row per CORPUS document, untouched
    * docs included with `n_cut_spans = 0`.
    *
    * Same detection guarantees as [[substringContamination]] (winnowing
    * anchors, verbatim re-check, maximal extension, absolute occurrence
    * cap, pre-flight guard, corpus×eval asymmetry); the cut side is the
    * broadcast-islands fold of [[cutIntervals]], so corpus payloads
    * never shuffle — the right shape for 100 TB against a benchmark
    * suite. */
  def decontamExecute(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minLen: Int = 30,
      maxOccFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame = {
    require(minLen >= w + k - 1,
      s"decontamExecute: minLen=$minLen below the winnowing detection " +
        s"guarantee w+k-1=${w + k - 1}")
    val spans = substringContaminationSpans(
      corpus, eval, idCol, textCol, k, w, maxOccFreq, maxCandidatePairs)
      .where(col("len") >= minLen)
    val ivals = spans.select(
      col("corpus_id").as("id"), col("start_corpus").as("s"),
      (col("start_corpus") + col("len")).as("e")).distinct()
    cutIntervals(corpus, idCol, textCol, ivals)
  }

  /** Exact-substring self-dedup EXECUTOR (E170) — the corpus-side ACTION
    * for [[substringDup]] (Lee et al.'s ExactSubstr deduplication: of
    * every verbatim run ≥ `minLen` chars appearing in two documents,
    * keep ONE occurrence and cut the other): for each cross-document
    * span the occurrence in the LARGER doc id is cut and the smaller
    * id's kept — a deterministic keep-first rule, so a duplicated
    * passage survives exactly in its lowest-id carrier. Overlapping cut
    * intervals merge before cutting. Returns the [[cutIntervals]]
    * relation over ALL documents.
    *
    * Chains resolve per-pair: a doc can keep a span against a larger id
    * while losing it against a smaller one — the cut set is the union,
    * which preserves the at-least-one-occurrence invariant globally
    * (the minimum id of every span's carrier set is never cut). */
  def substringDupExecute(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minLen: Int = 30,
      maxOccFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame = {
    require(minLen >= w + k - 1,
      s"substringDupExecute: minLen=$minLen below the winnowing " +
        s"detection guarantee w+k-1=${w + k - 1}")
    val spans = substringDupSpans(
      df, idCol, textCol, k, w, maxOccFreq, maxCandidatePairs)
      .where(col("len") >= minLen)
    val ivals = spans.select(
      col("id_b").as("id"), col("start_b").as("s"),
      (col("start_b") + col("len")).as("e")).distinct()
    cutIntervals(df, idCol, textCol, ivals)
  }

  /** Intra-document longest repeated substring (E162) — the WITHIN-
    * document half of exact-substring dedup (Lee et al. dedupe inside
    * documents too; Gopher's repetition filters are the token-level
    * proxy this sharpens to exact characters): for every document with a
    * verbatim run occurring at least twice, the longest such run and the
    * 1-based starts of the two occurrences the maximal extension was
    * found at. Detection is exhaustive from w+k−1 chars up (winnowing:
    * both occurrences select the same window-min hash), and occurrences
    * MAY overlap (tandem repeats report the classic overlapping-LRS
    * answer — "aaaa…" repeats itself at offset 1).
    *
    * Candidate pairs are positions of the SAME fingerprint hash within
    * the SAME document; `maxSiteFreq` caps sites per (doc, hash) — a
    * pathological `abababab…` page otherwise quadratic in its own
    * length — and the pre-flight guard refuses a blow-up loudly.
    * The extension kernel is the shared [[graft.functions.CommonExtend]]
    * (both sides the same text, different anchors).
    *
    * Returns `(doc_id, repeat_len, start_1, start_2, n_repeat_spans)`
    * for documents whose longest repeat ≥ `minLen`; `n_repeat_spans`
    * counts distinct maximal repeated spans of any length. */
  def selfRepeat(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minLen: Int = 20,
      maxSiteFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame = {
    require(minLen >= w + k - 1,
      s"selfRepeat: minLen=$minLen below the winnowing detection " +
        s"guarantee w+k-1=${w + k - 1}")
    selfRepeatSpans(df, idCol, textCol, k, w, maxSiteFreq,
      maxCandidatePairs)
      .groupBy("id")
      .agg(
        max(struct(col("len"), col("s1"), col("s2"))).as("best"),
        count(lit(1)).as("n_repeat_spans"))
      .select(
        col("id").as(idCol),
        col("best.len").as("repeat_len"),
        col("best.s1").as("start_1"),
        col("best.s2").as("start_2"),
        col("n_repeat_spans"))
      .where(col("repeat_len") >= minLen)
  }

  /** Maximal intra-document repeated spans — [[selfRepeat]]'s underlying
    * relation `(id, s1, s2, len)` (1-based starts of both occurrences,
    * s1 < s2, every verified maximal extension ≥ k chars), exposed so
    * the executor can cut on it. Same anchors, site cap, pre-flight
    * guard and [[graft.functions.CommonExtend]] kernel. */
  def selfRepeatSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      maxSiteFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame =
    // the two sites may sit in different chunks of the same document —
    // `common_extend` takes two texts, each side extends on its own chunk
    spanCore(Seq(df), idCol, textCol, k, w, Seq("doc", "hash"),
      col("gpos_a") < col("gpos_b"), maxSiteFreq, maxCandidatePairs,
      "selfRepeat")
      .select(col("doc_a").as("id"), col("start_a").as("s1"),
        col("start_b").as("s2"), col("len"))

  /** Intra-document repetition-removal EXECUTOR (E188) — the action half
    * of [[selfRepeat]], and [[substringDupExecute]]'s WITHIN-document
    * sibling (the executor family's last detection lane): every maximal
    * repeated run ≥ `minLen` chars keeps its EARLIEST occurrence and the
    * later occurrence's span `[s2, s2+len)` is cut; overlapping cuts
    * merge by the shared gap-and-islands kernel ([[cutIntervals]]), so
    * a tandem repeat (`abcabcabc…`) collapses toward its first period in
    * ONE deterministic pass. One pass is the contract — cutting can
    * expose new adjacencies; re-running converges and each pass is
    * hash-oracled, the loop is the caller's policy (the E39 incremental
    * shape).
    *
    * Scale shape: detection work is [[selfRepeatSpans]]'s — per-(doc,
    * hash) site cap + pre-flight guard keep candidate pairs linear in
    * corpus size; the cut map is one sorted island array per FLAGGED doc
    * broadcast back onto the corpus, document payloads never shuffle
    * (the E169/E170 kernel contract).
    *
    * Cites reference scope: curation actions are absent from
    * awsdataprofiler (Profiler.scala:166-253 profiles only) — extension
    * per SURVEY §2.E. */
  def selfRepeatExecute(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minLen: Int = 20,
      maxSiteFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame = {
    require(minLen >= w + k - 1,
      s"selfRepeatExecute: minLen=$minLen below the winnowing " +
        s"detection guarantee w+k-1=${w + k - 1}")
    val spans = selfRepeatSpans(
      df, idCol, textCol, k, w, maxSiteFreq, maxCandidatePairs)
      .where(col("len") >= minLen)
    val ivals = spans.select(
      col("id"), col("s2").as("s"),
      (col("s2") + col("len")).as("e")).distinct()
    cutIntervals(df, idCol, textCol, ivals)
  }

  /** Per-document duplicated-character coverage (E156's corpus-level
    * readout, the statistic the suffix-array dedup paper reports): for
    * every document touched by at least one cross-document verbatim run
    * ≥ `minLen` chars, the fraction of its characters lying inside such
    * runs — `covered_chars / n_chars` after UNIONING the document's span
    * intervals (overlapping spans from different partners must not
    * double-count a character).
    *
    * Interval union is the gap-and-islands pattern (the sessionize
    * contract): per document, order intervals by (start, end), an
    * interval opens a new island when it starts strictly after the
    * running max end; island length = max end − min start. The window is
    * DOC-PARTITIONED (a document's span count — never a global order).
    *
    * Returns `(doc_id, n_islands, covered_chars, dup_char_fraction)`,
    * documents with zero qualifying spans omitted (join back to the
    * corpus for the zero-filled view). */
  def substringDupCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minLen: Int = 30,
      maxOccFreq: Int = DefaultHotFingerprintCap,
      maxCandidatePairs: Option[Long] = Some(2000000000L)): DataFrame = {
    require(minLen >= w + k - 1,
      s"substringDupCoverage: minLen=$minLen below the winnowing " +
        s"detection guarantee w+k-1=${w + k - 1}")
    import org.apache.spark.sql.expressions.Window
    val spans = substringDupSpans(
      df, idCol, textCol, k, w, maxOccFreq, maxCandidatePairs)
      .where(col("len") >= minLen)
    val ivals = spans
      .select(col("id_a").as("id"), col("start_a").as("s"),
        (col("start_a") + col("len")).as("e"))
      .unionByName(spans.select(col("id_b").as("id"), col("start_b").as("s"),
        (col("start_b") + col("len")).as("e")))
      .distinct()
    val byDoc = Window.partitionBy("id").orderBy(col("s"), col("e"))
    val flagged = ivals
      .withColumn("pmax",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("g",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val islands = flagged.groupBy("id", "g")
      .agg(min(col("s")).as("s0"), max(col("e")).as("e1"))
    islands.groupBy("id")
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("e1") - col("s0")).as("covered_chars"))
      .join(
        df.select(col(idCol).as("id"),
          length(col(textCol)).cast("long").as("_n")),
        Seq("id"))
      .select(
        col("id").as(idCol),
        col("n_islands"),
        col("covered_chars"),
        round(col("covered_chars").cast("double") / col("_n"), 6)
          .as("dup_char_fraction"))
  }

  /** Chunk width of the span pipeline: 2²⁰−1, the longest text
    * [[winnowFingerprints]]' position packing admits. Every document
    * that fits is ONE chunk — extension never truncates inside it —
    * and only longer documents split. */
  private val ChunkChars: Int =
    (graft.functions.WinnowSelect.PosBase - 1).toInt

  /** Overlapping character chunks (r11, VERDICT r10 task 6 — the
    * front-end that lets the substring family accept ANY document
    * length): each document splits into [[ChunkChars]]-char windows with
    * k−1 chars of overlap, so every k-gram of the original lies wholly
    * inside at least one chunk and no winnowing anchor is lost. Columns:
    * `(id, ci, t)`; chunk `ci` starts at 0-based global char offset
    * `ci·(ChunkChars−k+1)` (local 1-based position p ⇒ global 1-based
    * position p + that offset). Pure per-row explode+substring — no
    * shuffle. */
  private[graft] def charChunks(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1 && 4 * k < ChunkChars,
      s"charChunks: k=$k outside [1, ${(ChunkChars - 1) / 4}]")
    val stride = ChunkChars - (k - 1)
    val n = coalesce(length(col(textCol)), lit(0))
    val lastIdx = when(n > ChunkChars,
      ceil((n - ChunkChars).cast("double") / stride).cast("int"))
      .otherwise(lit(0))
    df.select(col(idCol).as("id"), col(textCol).as("txt"),
      explode(when(n > 0, sequence(lit(0), lastIdx)).otherwise(
        array().cast("array<int>"))).as("ci"))
      .select(
        col("id"), col("ci").cast("long").as("ci"),
        expr(s"substring(txt, ci * $stride + 1, $ChunkChars)").as("t"))
  }

  /** The one exact-substring span pipeline behind [[substringDupSpans]],
    * [[substringContaminationSpans]] and [[selfRepeatSpans]]. Returns the
    * DISTINCT maximal spans `(doc_a, doc_b, start_a, start_b, len)` in
    * 1-based GLOBAL document coordinates.
    *
    *  - `inputs`: one frame pairs its sites all × all; two frames
    *    (corpus, eval) are tagged `side` 0/1 in one union and pair side 0
    *    × side 1 only, so corpus × corpus pairs are never generated;
    *  - `key`: the candidate key — `hash`, or `(doc, hash)` for
    *    intra-document pairs. The occurrence cap `maxOcc` counts sites
    *    per key (both sides together), and the pre-flight guard refuses
    *    more than `maxCandidatePairs` Σ f(f−1)/2 (one frame) or Σ fA·fB
    *    (two frames) candidates per key;
    *  - `pairPred`: the pair predicate over the `_a`/`_b` site columns
    *    (`side`, `doc`, `hash`, `gpos`, `ci`, `pos`).
    *
    * ONE key-partitioned window exchange (r17) carries the overlap dedup
    * and the cap: sorted by (side, doc, gpos, ci, pos), the first row of
    * each (side, doc, gpos) tie-group is the chunk-overlap
    * representative, the count of those firsts is the occurrence count,
    * and sites of keys seen once are dropped early (they pair with
    * nothing and add 0 to the estimate). Pairs come from a codegen'd
    * self-join over the FILTERED sites (an interpreted in-array
    * comprehension was measured and rejected: AQE coalesces the tiny
    * exchange and the lambdas serialize in one task); then ONE row per
    * chunk pair rides the text joins — chunk texts never ride the
    * candidate relation (guide §8: move heavy bytes once, decide on
    * metadata). A verbatim run longer than a chunk surfaces as
    * up-to-chunk-sized pieces, far above any `minLen`. */
  private def spanCore(
      inputs: Seq[DataFrame],
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      key: Seq[String],
      pairPred: Column,
      maxOcc: Int,
      maxCandidatePairs: Option[Long],
      caller: String): DataFrame = {
    val cross = inputs.size == 2
    graft.functions.CommonExtend.register(inputs.head.sparkSession)
    val P = graft.functions.WinnowSelect.PosBase
    val stride = (ChunkChars - (k - 1)).toLong
    val chunks = inputs.zipWithIndex
      .map { case (df, side) =>
        charChunks(df, idCol, textCol, k).withColumn("side", lit(side)) }
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    // anchor sites with GLOBAL positions: map-only, gpos = pos + ci·stride
    val raw = winnowFingerprints(
      chunks.select(struct(col("side"), col("id"), col("ci")).as("cid"),
        col("t")), "cid", "t", k, w)
      .select(col("id.side").as("side"), col("id.id").as("doc"),
        col("hash"), (col("pos") + col("id.ci") * stride).as("gpos"),
        col("id.ci").as("ci"), col("pos"))
    val wd = Window.partitionBy(key.map(col): _*)
      .orderBy("side", "doc", "gpos", "ci", "pos")
    val wAll = wd.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    def sameAsPrev(c: String): Column = lag(col(c), 1).over(wd) <=> col(c)
    val sites = raw
      .withColumn("fst",
        !(sameAsPrev("side") && sameAsPrev("doc") && sameAsPrev("gpos")))
      .withColumn("occ",
        sum(when(col("fst"), 1L).otherwise(0L)).over(wAll))
      .where(col("fst") && col("occ") >= 2L && col("occ") <= maxOcc)
      .select("side", "doc", "hash", "gpos", "ci", "pos")
      .localCheckpoint(true)
    maxCandidatePairs.foreach { bound =>
      val fa = col("fa"); val f = col("f")
      val est = sites.groupBy(key.map(col): _*)
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("fa"),
          count(lit(1)).as("f"))
        .agg(coalesce(sum(
          if (cross) fa * (f - fa) else f * (f - 1L) / lit(2L)),
          lit(0L)).cast("long"))
        .head().getLong(0)
      require(est <= bound,
        s"$caller pre-flight: $est anchor candidate pairs under " +
          s"occurrence cap $maxOcc exceed maxCandidatePairs=$bound — " +
          "refusing the quadratic join; lower the cap or raise " +
          "maxCandidatePairs deliberately")
    }
    def suffixed(df: DataFrame, sfx: String): DataFrame =
      df.select(df.columns.map(c => col(c).as(c + sfx)): _*)
    val (left, right) =
      if (cross) (sites.where(col("side") === 0), sites.where(col("side") === 1))
      else (sites, sites)
    val pairs = suffixed(left, "_a").join(suffixed(right, "_b"),
      key.map(c => col(c + "_a") === col(c + "_b")).reduce(_ && _) &&
        pairPred)
    val texts = chunks.select(col("side"), col("id").as("doc"), col("ci"),
      col("t"))
    pairs
      .groupBy("side_a", "doc_a", "ci_a", "side_b", "doc_b", "ci_b")
      .agg(collect_list(struct(col("pos_a"), col("pos_b"))).as("ps"))
      .join(suffixed(texts, "_a"), Seq("side_a", "doc_a", "ci_a"))
      .join(suffixed(texts, "_b"), Seq("side_b", "doc_b", "ci_b"))
      .select(col("doc_a"), col("doc_b"), col("ci_a"), col("ci_b"),
        col("t_a"), col("t_b"), explode(col("ps")).as("p"))
      .select(
        col("doc_a"), col("doc_b"), col("ci_a"), col("ci_b"),
        call_function("common_extend",
          col("t_a"), col("p.pos_a"), col("t_b"), col("p.pos_b"), lit(k))
          .as("enc"))
      .where(col("enc") >= 0L)
      .select(
        col("doc_a"), col("doc_b"),
        (expr(s"enc div ${P * P}") + col("ci_a") * stride)
          .cast("long").as("start_a"),
        (pmod(expr(s"enc div $P"), lit(P)) + col("ci_b") * stride)
          .cast("long").as("start_b"),
        pmod(col("enc"), lit(P)).cast("long").as("len"))
      .distinct() // many anchors inside one span encode the SAME span
  }
}

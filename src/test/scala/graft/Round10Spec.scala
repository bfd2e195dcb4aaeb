package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.sf001

/** Round-10 additions (VERDICT r9 tasks + ADVICE): the absolute
  * hot-fingerprint cap and pre-flight candidate guard on winnowNearDup,
  * the WindowGuard-enforced exact Spearman, ParquetLayout's relative-dir
  * handling and footer-parallelism knob. */
class Round10Spec extends SparkSuite {
  test("winnowNearDup: absolute cap drops corpus-wide boilerplate fingerprints regardless of corpus fraction") {
    import spark.implicits._
    // 20 docs sharing one long verbatim boilerplate sentence (every doc —
    // 100% document frequency) plus per-doc unique text; two docs (0, 1)
    // additionally share a long unique passage
    val boiler = "this boilerplate license header is identical everywhere"
    val shared = "the two documents also share this exact long passage verbatim"
    val docs = (0 until 20).map { i =>
      // unique fillers share no 8-char k-gram across docs (each token
      // embeds the doc id), so docs >= 2 overlap ONLY on the boilerplate
      val extra = if (i <= 1) shared else s"u$i$i a$i$i b$i$i c$i$i d$i$i e$i$i f$i$i"
      (i.toLong, s"$boiler $extra")
    }.toDF("doc_id", "text")
    // absolute cap 10 < 20 docs: the boilerplate fingerprints are dropped
    // even though a 50%-relative cap would keep them; docs 0/1 still pair
    // on the shared passage
    val pairs = graft.operators.Dedup
      .winnowNearDup(docs, "doc_id", "text", threshold = 0.3,
        maxHashFreq = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    // no pair should exist purely from boilerplate (docs >= 2 share ONLY
    // the capped boilerplate)
    assert(pairs.forall { case (a, b) => a <= 1 && b <= 1 })
  }

  test("winnowNearDup: pre-flight candidate guard fails loudly instead of running the quadratic join") {
    import spark.implicits._
    val docs = (0 until 12).map(i =>
      (i.toLong, "every document carries this same long shared passage of text"))
      .toDF("doc_id", "text")
    // all 12 docs share all fingerprints (df=12 <= cap 128): candidates =
    // nf * 12*11/2, far above a bound of 3
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.winnowNearDup(
        docs, "doc_id", "text", maxCandidatePairs = Some(3L))
    }
    assert(e.getMessage.contains("pre-flight"))
    assert(e.getMessage.contains("maxCandidatePairs"))
    // the same corpus under the default bound runs fine
    assert(graft.operators.Dedup.winnowNearDup(docs, "doc_id", "text")
      .count() == 12L * 11 / 2)
  }

  test("winnowNearDup prefix filter is lossless: matches brute-force Jaccard over seeded random corpora") {
    import spark.implicits._
    val rng = new scala.util.Random(73)
    // template-heavy corpora (the regime that makes prefixes non-trivial):
    // docs are built from a small shared phrase pool plus unique tails
    val pool = Seq.fill(12)(Seq.fill(20)(('a' + rng.nextInt(26)).toChar).mkString)
    for (round <- 1 to 3) {
      val docs = (0 until 24).map { i =>
        val phrases = Seq.fill(2 + rng.nextInt(3))(pool(rng.nextInt(pool.size)))
        val tail = Seq.fill(10 + rng.nextInt(30))(('a' + rng.nextInt(26)).toChar).mkString
        (i.toLong, (phrases :+ tail).mkString(" "))
      }.toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .winnowNearDup(docs, "doc_id", "text", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // brute force over the SAME capped fingerprint sets
      val fpRows = graft.operators.Dedup
        .winnowFingerprints(docs, "doc_id", "text")
        .select(col("id"), col("hash")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val dfCount = fpRows.groupBy(_._2).view.mapValues(_.size).toMap
      val sets = fpRows.filter(p => dfCount(p._2) <= 32)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys; if a < b
        c = (sets(a) & sets(b)).size
        if c > 0
        j = math.rint(c.toDouble / (sets(a).size + sets(b).size - c) * 1e6) / 1e6
        if j >= 0.3
      } yield (a, b) -> j).toMap
      assert(got == expect, s"round $round: $got vs $expect")
    }
  }

  test("spearman: exact mode is WindowGuard-enforced past maxRows; values unchanged below the bound") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toDouble, i * i.toDouble)).toDF("x", "y")
    // below the bound: a perfect monotone pair ranks to exactly 1.0
    val ok = graft.profiler.Correlation
      .spearman(df, Seq(("x", "y")), maxRows = 1000L).head()
    assert(ok.getDouble(3) == 1.0)
    // past the bound: the guard kills the query with the scale-path message
    val fired = try {
      graft.profiler.Correlation
        .spearman(df, Seq(("x", "y")), maxRows = 10L).collect()
      false
    } catch {
      case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(e =>
          Option(e.getMessage).exists(_.contains("metadata-sized")))
    }
    assert(fired)
  }

  test("WinnowSelect expression: parity with the brute-force selection over random strings") {
    // independent reference: hash every k-gram, pack, slice windows, min,
    // distinct — the exact semantics the interpreted pipeline had
    def brute(s: String, k: Int, w: Int): Set[Long] = {
      if (s.length < k) return Set.empty
      val keys = (1 to s.length - k + 1).map { i =>
        var h = 0L
        s.substring(i - 1, i - 1 + k).foreach(c => h = (h * 31 + c) % 2147483647L)
        h * 1048576L + (1048575L - i)
      }
      (1 to math.max(keys.length - w + 1, 1))
        .map(j => keys.slice(j - 1, j - 1 + w).min).toSet
    }
    val rng = new scala.util.Random(42)
    def randStr(n: Int): String =
      Seq.fill(n)((' ' + rng.nextInt(90)).toChar).mkString
    for (_ <- 1 to 200) {
      val s = randStr(rng.nextInt(60))
      for ((k, w) <- Seq((8, 4), (3, 2), (5, 9), (1, 1))) {
        val got = graft.functions.WinnowSelect
          .select(org.apache.spark.unsafe.types.UTF8String.fromString(s), k, w)
          .toLongArray().toSet
        assert(got == brute(s, k, w),
          s"mismatch for '$s' k=$k w=$w: $got vs ${brute(s, k, w)}")
      }
    }
    // oversize document trips the packing-cap check
    val big = org.apache.spark.unsafe.types.UTF8String
      .fromString("x" * (1 << 20))
    val e = intercept[IllegalArgumentException] {
      graft.functions.WinnowSelect.select(big, 8, 4)
    }
    assert(e.getMessage.contains("packing cap"))
    // null text flows to zero fingerprint rows through the DataFrame path
    import spark.implicits._
    val withNull = Seq((1L, "some document text here"), (2L, null))
      .toDF("doc_id", "text")
    val rows = graft.operators.Dedup
      .winnowFingerprints(withNull, "doc_id", "text")
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.toMap.keySet == Set(1L))
  }

  test("ZOrderLayout.pruneReport: z-order reads fewer row groups than linear for identical results") {
    val li = sf001("lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val rep = graft.sources.ZOrderLayout
      .pruneReport(spark, li, "l_partkey", "l_suppkey",
        cacheKey = "spec0.001")
      .collect().map(r => r.getString(0) -> r).toMap
    val lin = rep("linear"); val z = rep("zorder")
    info(s"linear:  ${lin.getLong(2)}/${lin.getLong(1)} candidate groups, " +
      s"${lin.getLong(3)} rows")
    info(s"zorder:  ${z.getLong(2)}/${z.getLong(1)} candidate groups, " +
      s"${z.getLong(3)} rows")
    assert(lin.getLong(3) == z.getLong(3) && lin.getLong(3) > 0L)
    assert(z.getLong(2) < lin.getLong(2))
    assert(z.getLong(2) * 2 <= z.getLong(1))
  }

  test("ZOrder.mortonN: bit-exact vs the 2-dim magic-mask ladder; 3-dim interleave positions") {
    import spark.implicits._
    import graft.functions.ZOrder
    val df = Seq.tabulate(1000)(i =>
      (i * 37 % 65536, i * 101 % 65536)).toDF("a", "b")
    val mismatches = df.where(
      ZOrder.morton(col("a"), col("b")).cast("long") =!=
        ZOrder.mortonN(Seq(col("a"), col("b")), 16)).count()
    assert(mismatches == 0)
    def key3(a: Int, b: Int, c: Int): Long =
      Seq((a, b, c)).toDF("a", "b", "c")
        .select(ZOrder.mortonN(Seq(col("a"), col("b"), col("c")), 16))
        .head().getLong(0)
    // all-max buckets fill the 48-bit key exactly
    assert(key3(65535, 65535, 65535) == (1L << 48) - 1)
    // dimension j's bit i lands at bit i*3 + j
    assert(key3(1, 0, 0) == 1L)
    assert(key3(0, 1, 0) == 2L)
    assert(key3(0, 0, 1) == 4L)
    assert(key3(2, 0, 0) == 8L)
    // 4 dims drop to 15 bits so the key stays clear of the sign bit
    assert(ZOrder.bitsFor(3) == 16 && ZOrder.bitsFor(4) == 15)
  }

  test("Compaction.executeCompaction: bins merge to one file each, rows preserved, source untouched") {
    import spark.implicits._
    val staged = "target/r10_compact_src"
    val out = "target/r10_compact_out"
    val src = (1 to 5000).map(i => (i.toLong, s"row $i payload"))
      .toDF("id", "payload")
    src.repartition(10).write.mode("overwrite").parquet(s"$staged/t.parquet")
    try {
      val before = graft.sources.ParquetLayout.fileStats(spark, staged)
        .collect().map(_.toString).sorted.toSeq
      val rep = graft.sources.Compaction
        .executeCompaction(spark, staged, out, targetBytes = 1L << 20)
        .collect()
      assert(rep.nonEmpty)
      assert(rep.forall(_.getAs[Long]("n_output_files") == 1L))
      assert(rep.forall(r =>
        r.getAs[Long]("input_rows") == r.getAs[Long]("output_rows")))
      assert(rep.map(_.getAs[Long]("output_rows")).sum == 5000L)
      val after = graft.sources.ParquetLayout.fileStats(spark, staged)
        .collect().map(_.toString).sorted.toSeq
      assert(before == after)
      // the merged output itself reads back identically to the source
      val merged = spark.read.parquet(s"$out/t").drop("bin")
      assert(merged.count() == 5000L)
      assert(merged.exceptAll(src).isEmpty && src.exceptAll(merged).isEmpty)
    } finally {
      Seq(staged, out).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      ()
    }
  }

  test("ScaleGen char-salt mode: no 8-char k-gram survives across copies") {
    import spark.implicits._
    val text = "alpha beta\tgamma delta\nepsilon zeta eta theta iota kappa"
    val docs = Seq((0L, text, text.length.toLong))
      .toDF("doc_id", "text", "n_chars")
    val rep = graft.tools.ScaleGen
      .replicateK(docs, 3, Map("doc_id" -> 1L),
        saltText = Some("text"), saltMode = "char")
      .collect().map(r => r.getLong(0) -> r).toMap
    def grams(s: String): Set[String] = s.sliding(8).toSet
    // copy 0 keeps the original text
    assert(rep(0L).getString(1) == text)
    // the content-varying invariant: zero shared 8-grams, copy-vs-copy
    // AND copy-vs-original — the winnowing fingerprint lane measures the
    // engine, not replication (VERDICT r9 task 2)
    assert(grams(rep(0L).getString(1))
      .intersect(grams(rep(1L).getString(1))).isEmpty)
    assert(grams(rep(1L).getString(1))
      .intersect(grams(rep(2L).getString(1))).isEmpty)
    assert(grams(rep(0L).getString(1))
      .intersect(grams(rep(2L).getString(1))).isEmpty)
    // n_chars tracks the salted length
    assert(rep(1L).getLong(2) == rep(1L).getString(1).length.toLong)
  }

  test("ParquetLayout: relative dir yields real table names, footerParallelism bounds the read fan-out") {
    import spark.implicits._
    val rel = "target/r10_layout_rel"
    (1 to 100).toDF("v").repartition(5)
      .write.mode("overwrite").parquet(s"$rel/tbl.parquet")
    try {
      val stats = graft.sources.ParquetLayout.fileStats(spark, rel)
      // ADVICE r9: a relative dir used to extract table '' for every file
      assert(stats.select("table").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("tbl"))
      assert(stats.agg(sum("n_rows")).head().getLong(0) == 100L)
      // the fan-out knob is honored: 5 files at parallelism 2 -> 2 tasks
      val parts = graft.sources.ParquetLayout
        .fileStats(spark, rel, footerParallelism = 2)
        .rdd.getNumPartitions
      assert(parts == 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rel))
      ()
    }
  }

  test("substringDup: planted verbatim overlap is recovered with exact offsets and maximal length") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    def noise(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val shared = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TWELVE TIMES" // 56 chars
    val pre0 = noise(37); val pre1 = noise(81)
    // 0 and 1 share exactly `shared` (the random flanks mismatch at both
    // edges with probability 1 - 26^-1 per side; the uppercase alphabet is
    // disjoint from the lowercase noise, so edges CANNOT extend); 2 is pure noise
    val docs = Seq(
      (0L, pre0 + shared + noise(40)),
      (1L, pre1 + shared + noise(25)),
      (2L, noise(150))).toDF("doc_id", "text")
    val rows = graft.operators.Dedup
      .substringDup(docs, "doc_id", "text", minLen = 30)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == (0L, 1L))
    assert(r.getAs[Long]("overlap_len") == shared.length.toLong)
    assert(r.getAs[Long]("start_a") == pre0.length + 1L) // 1-based
    assert(r.getAs[Long]("start_b") == pre1.length + 1L)
  }

  test("substringDup: detection is exhaustive above w+k-1 and the guards fire") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    def noise(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    // minLen below the winnowing guarantee is refused
    val tiny = Seq((0L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.substringDup(tiny, "doc_id", "text", minLen = 5)
    }
    assert(e.getMessage.contains("w+k-1"))
    // pre-flight guard: a corpus of identical docs under a tiny bound
    val same = (0 until 10).map(i => (i.toLong, "all ten documents are this same sentence"))
      .toDF("doc_id", "text")
    val g = intercept[IllegalArgumentException] {
      graft.operators.Dedup.substringDup(
        same, "doc_id", "text", maxCandidatePairs = Some(2L))
    }
    assert(g.getMessage.contains("pre-flight"))
    // exhaustive: EVERY planted overlap of length >= 30 across 6 pairs is
    // found (winnowing theorem: any >= w+k-1 = 11 char match shares an
    // anchor), and pure-noise pairs produce nothing
    val spans = (0 until 6).map(i => noise(30 + i * 7))
    val docs = spans.zipWithIndex.flatMap { case (s, i) =>
      Seq((i * 2L, noise(20 + i) + s + noise(30)),
        (i * 2L + 1, noise(50 - i) + s + noise(15 + i)))
    }.toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .substringDup(docs, "doc_id", "text", minLen = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("overlap_len")).toMap
    val expect = spans.zipWithIndex.map { case (s, i) =>
      (i * 2L, i * 2L + 1) -> s.length.toLong
    }.toMap
    assert(got.keySet == expect.keySet)
    // maximality reports AT LEAST the planted span (a random flank char
    // can coincidentally extend it — never shrink it)
    expect.foreach { case (pair, len) => assert(got(pair) >= len) }
  }

  test("dsirWeights: target-like docs score above raw-like docs; feature count and empty-doc contracts hold") {
    import spark.implicits._
    // target docs speak "alpha beta", raw-only docs speak "gamma delta";
    // two probe docs mix them at opposite ratios
    val docs = (
      (0 until 8).map(i => (i.toLong, "alpha beta alpha beta alpha", true)) ++
      (8 until 16).map(i => (i.toLong, "gamma delta gamma delta gamma", false)) ++
      Seq(
        (16L, "alpha beta alpha beta gamma", false), // target-leaning probe
        (17L, "gamma delta gamma delta alpha", false), // raw-leaning probe
        (18L, "", false), // zero features
        (19L, "solo", false)) // 1 token, 0 bigrams
      ).toDF("doc_id", "text", "is_t")
    val w = graft.operators.Sampling
      .dsirWeights(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // n_feats = tokens + bigrams = 2n - 1
    assert(w(0L)._1 == 9L)
    assert(w(18L)._1 == 0L && w(18L)._2 == 0.0)
    assert(w(19L)._1 == 1L)
    // the target-leaning probe outscores the raw-leaning one, and both sit
    // between the pure-target and pure-raw scores
    assert(w(16L)._2 > w(17L)._2)
    assert(w(0L)._2 > w(16L)._2 && w(17L)._2 > w(8L)._2)
  }

  test("substringDupCoverage: overlapping spans from different partners union without double-counting") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def noise(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    def block(n: Int) = Seq.fill(n)(('A' + rng.nextInt(26)).toChar).mkString
    // A carries S1+S2+S3 contiguously; B shares S1+S2, C shares S2+S3.
    // Disjoint alphabets (uppercase blocks vs lowercase noise) pin the
    // extension boundaries exactly.
    val s1 = block(34); val s2 = block(31); val s3 = block(37)
    val docs = Seq(
      (0L, noise(21) + s1 + s2 + s3 + noise(18)), // A
      (1L, noise(40) + s1 + s2 + noise(33)), // B
      (2L, noise(11) + s2 + s3 + noise(52))) // C
      .toDF("doc_id", "text")
    val cov = graft.operators.Dedup
      .substringDupCoverage(docs, "doc_id", "text", minLen = 30)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val total = (s1 + s2 + s3).length.toLong
    // A: the two spans overlap on S2 — ONE island covering S1S2S3 exactly
    assert(cov(0L) == ((1L, total, math.rint(total.toDouble / (21 + total + 18) * 1e6) / 1e6)))
    assert(cov(1L)._2 == (s1 + s2).length.toLong)
    assert(cov(2L)._2 == (s2 + s3).length.toLong)
  }

  test("dsirSelect: returns k rows ranked by descending key, weights consistent with dsirWeights") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      val t = if (i % 3 == 0) "alpha beta alpha beta" else "gamma delta epsilon zeta"
      (i.toLong, t, i % 3 == 0)
    }.toDF("doc_id", "text", "is_t")
    val sel = graft.operators.Sampling
      .dsirSelect(docs, "doc_id", "text", col("is_t"), k = 7)
      .collect()
    assert(sel.length == 7)
    val keys = sel.map(_.getDouble(2))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    val w = graft.operators.Sampling
      .dsirWeights(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    sel.foreach(r => assert(r.getDouble(1) == w(r.getLong(0))))
  }

  test("semDedup: a duplicate clique collapses to its farthest-from-centroid member; clusters are scoped") {
    import spark.implicits._
    // centroids: c0 = (1,0) [id 0], c1 = (0,1) [id 100]. Cluster 0 holds a
    // duplicate clique (the centroid vector itself + three near-identical
    // members) with centroid-cosines ordered 0 > 1 > 2 > 3; cluster 1
    // holds a near-centroid member (pairs with its own centroid vector)
    // and a dissimilar one that pairs with nothing.
    val vecs = Seq(
      (0L, Array(1f, 0f)),
      (100L, Array(0f, 1f)),
      (1L, Array(1f, 0.10f)),
      (2L, Array(1f, 0.12f)),
      (3L, Array(1f, 0.14f)),
      (4L, Array(0.10f, 1f)),
      (5L, Array(0.9f, 1f))) // assigned c1 (cos .74 vs .67); below τ with all
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .semDedup(vecs, "vec_id", "embedding",
        col("vec_id").isin(0L, 100L), threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out.size == 7)
    // clique {0,1,2,3}: the farthest-from-centroid member survives, every
    // closer member loses at least one pair and is removed
    assert(out(0L)._1 == 0L && out(0L)._2) // the centroid vector: closest of all — removed
    assert(out(1L)._2 && out(2L)._2)
    assert(!out(3L)._2) // farthest of the clique — kept
    // cluster 1: {100, 4} pair (cos .995) — the centroid vector is closer
    // to itself, so IT is removed and 4 kept; 5 pairs with nothing
    assert(out(100L)._2)
    assert(!out(4L)._2 && out(4L)._1 == 100L)
    assert(out(5L)._1 == 100L && !out(5L)._2)
  }

  test("bpeMerges: greedy non-overlapping merges, frequency-weighted best pair, early stop") {
    import spark.implicits._
    // words: aaaa x2, b x1. Step 1: pair (a,a) has weight 2 words x 3
    // adjacencies = 6 -> merge; greedy scan leaves [aa, aa] (never
    // [a, aa, a]). Step 2: (aa, aa) weight 2. Then no pairs remain:
    // asking for 5 merges returns 2 rows.
    val docs = Seq((0L, "aaaa aaaa b"), (1L, "aaaa b")).toDF("doc_id", "text")
    // aaaa appears 3x total, b 2x: step1 (a,a) = 3 words * 3 pairs... no:
    // pair count per word = #adjacent (a,a) sites = 3, weighted by word
    // frequency 3 -> 9
    val got = graft.operators.BpeInduction.bpeMerges(docs, "text", nMerges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "a", "aa", 9L),
      (2L, "aa", "aa", "aaaa", 3L)))
    // encode under the learned table: aaaa -> [aaaa] (1 token), b -> [b]
    val enc = graft.operators.BpeInduction
      .bpeEncode(docs, "doc_id", "text", nMerges = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(enc(0L) == ((3L, 3L, 3.0))) // "aaaa aaaa b": 9 chars / 3 tokens
    assert(enc(1L) == ((2L, 2L, 2.5))) // "aaaa b": 5 chars / 2 tokens
  }

  test("substringContamination: leaked eval passages surface with both-side offsets; corpus-corpus pairs never do") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def noise(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val leak = "EVAL ANSWER FORTY TWO IS THE LEAKED PASSAGE HERE" // 48 chars
    val pre = noise(29)
    // corpus docs 0/1 share a long run with each other — must NOT appear
    // (cross-table only); corpus doc 2 contains the eval passage
    val shared = noise(44)
    val corpus = Seq(
      (0L, noise(10) + shared + noise(20)),
      (1L, noise(33) + shared + noise(8)),
      (2L, pre + leak + noise(31))).toDF("doc_id", "text")
    val eval = Seq((100L, noise(17) + leak + noise(12))).toDF("doc_id", "text")
    val rows = graft.operators.Dedup
      .substringContamination(corpus, eval, "doc_id", "text", minLen = 30)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 2L && r.getLong(1) == 100L)
    assert(r.getAs[Long]("overlap_len") == leak.length.toLong)
    assert(r.getAs[Long]("start_corpus") == pre.length + 1L)
    assert(r.getAs[Long]("start_eval") == 18L)
  }

  test("selfRepeat: planted internal repeat found exactly; tandem repeats obey the overlap identity") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    def noise(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val rpt = Seq.fill(25)(('A' + rng.nextInt(26)).toChar).mkString
    val n1 = noise(14); val n2 = noise(40)
    val docs = Seq(
      (0L, n1 + rpt + n2 + rpt + noise(9)), // the repeat, twice
      (1L, noise(120)), // no repeat
      (2L, "AB" * 20)) // tandem: overlapping occurrences ARE allowed
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .selfRepeat(docs, "doc_id", "text", minLen = 20)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.contains(0L) && !out.contains(1L))
    assert(out(0L) == ((rpt.length.toLong, n1.length + 1L,
      n1.length + rpt.length + n2.length + 1L)))
    // tandem "ABAB…": a repeat at offset d has length 40 - d (overlapping
    // self-alignment), so len + (start_2 - start_1) == 40 exactly
    val (len2, s1, s2) = out(2L)
    assert(len2 >= 30 && len2 + (s2 - s1) == 40L)
  }

  test("approxOverlap: inclusion-exclusion estimates track a known overlap; the plan is join-free") {
    import spark.implicits._
    val a = (1 to 400).map(i => Tuple1(i.toLong)).toDF("ka")
    val b = (201 to 600).map(i => Tuple1(i.toLong)).toDF("kb")
    val df = graft.profiler.Integrity.approxOverlap(a, "ka", b, "kb", "a~b")
    val r = df.head()
    def close(est: Long, exact: Long) = math.abs(est - exact) <= 0.15 * exact
    assert(close(r.getLong(1), 400) && close(r.getLong(2), 400))
    assert(close(r.getLong(3), 600)) // union
    assert(math.abs(r.getLong(4) - 200) <= 0.15 * 1400) // overlap, summed bound
    // no join anywhere: one aggregation over the tagged union
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"expected a join-free plan:\n$p")
    assert(p.contains("Union"), s"\n$p")
  }

  test("CommonExtend kernel: parity with a brute-force maximal extension over seeded random strings") {
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(97)
    val k = 4
    def brute(a: String, i0: Int, b: String, j0: Int): Long = {
      if (a.substring(i0, i0 + k) != b.substring(j0, j0 + k)) return -1L
      var l = 0
      while (i0 - l > 0 && j0 - l > 0 && a(i0 - l - 1) == b(j0 - l - 1)) l += 1
      var r = k
      while (i0 + r < a.length && j0 + r < b.length && a(i0 + r) == b(j0 + r)) r += 1
      ((i0 - l + 1).toLong << 40) | ((j0 - l + 1).toLong << 20) | (l + r).toLong
    }
    for (round <- 1 to 300) {
      // tiny alphabet so anchors match AND extensions terminate early
      val a = Seq.fill(12 + rng.nextInt(30))(('a' + rng.nextInt(3)).toChar).mkString
      val b = Seq.fill(12 + rng.nextInt(30))(('a' + rng.nextInt(3)).toChar).mkString
      val i0 = rng.nextInt(a.length - k + 1)
      val j0 = rng.nextInt(b.length - k + 1)
      val got = graft.functions.CommonExtend.extend(
        UTF8String.fromString(a), i0 + 1L, UTF8String.fromString(b), j0 + 1L, k)
      val want = brute(a, i0, b, j0)
      assert(got == want, s"round $round: a=$a i0=$i0 b=$b j0=$j0: $got vs $want")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-12 behavior pins: the ADVICE r11 fixes (PQ dim guard, KN
  * continuation-consistent denominator, recall@k short-list cap, MMR
  * pool guard + checkpointed greedy state, dedup_survival rollup
  * shape) and the round's new operators. */
class Round12Spec extends SparkSuite {
  test("productQuantize: non-divisible and sub-m dims fail loudly instead of dropping trailing dims") {
    import spark.implicits._
    import graft.operators.Quantize
    val bad = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(4.0f, 5.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Quantize.productQuantize(bad, "vec_id", "embedding",
        col("vec_id") === 1L, m = 2)
    }
    assert(e1.getMessage.contains("not divisible"))
    val e2 = intercept[IllegalArgumentException] {
      Quantize.productQuantize(bad, "vec_id", "embedding",
        col("vec_id") === 1L, m = 8)
    }
    assert(e2.getMessage.contains("not divisible"))
  }

  test("kneserNeyScore: document-final bigram occurrences no longer leak probability mass (continuation-consistent denominator)") {
    import spark.implicits._
    import graft.operators.LangModel
    // doc 2 is exactly "a b": bigram (a,b) count = 2, but the context
    // (a,b) has trigram mass 1 (only "a b c" in doc 1). The old raw-c12
    // denominator divided by 2; the Chen-Goodman form divides by the
    // trigram mass 1. Hand replay (D = 0.75, bt = 3 bigram types):
    //   abc: p1 = 1/3, p2 = (0.25 + 0.75/3)/1 = 0.5,
    //        p3 = (0.25 + 0.75*0.5)/1 = 0.625   (old: /2 = 0.3125)
    //   xab: symmetric -> 0.625
    val docs = Seq((1L, "x a b c"), (2L, "a b")).toDF("doc_id", "text")
    val out = LangModel.kneserNeyScore(docs, "doc_id", "text").collect()
    assert(out.length == 1 && out(0).getAs[Long]("id") == 1L)
    assert(out(0).getAs[Long]("n_trigrams") == 2L)
    val lp = BigDecimal(math.log(0.625))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val avg = BigDecimal((lp * 2).toDouble / 2.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getAs[Double]("avg_logprob") == avg)
  }

  test("recallCurve: a query whose exact list is shorter than k can reach recall 1.0") {
    import spark.implicits._
    import graft.operators.Search
    // exact has only 2 items; a perfect approximate run must score 1.0
    // at every k, including k = 3 > |exact| (old code gave 2/3)
    val exact = Seq((1L, "a", 0.9), (1L, "b", 0.8))
      .toDF("query_id", "item", "score")
    val sys = Seq((1L, "a", 0.9), (1L, "b", 0.8), (1L, "z", 0.1))
      .toDF("query_id", "item", "score")
    val out = Search.recallCurve(
      sys, exact, "query_id", "item", "score", kMax = 3)
      .orderBy("k").collect()
    assert(out.map(_.getAs[Double]("mean_recall")).toSeq == Seq(1.0, 1.0, 1.0))
    assert(out.map(_.getAs[Double]("min_recall")).toSeq == Seq(1.0, 1.0, 1.0))
  }

  test("mmrDiversify: pool larger than maxPoolPerQuery fails loudly") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = (1L to 30L).map(i => (i, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val pool = (1L to 30L).map(i => (1L, i, 0.5))
      .toDF("query_id", "neighbor_id", "cos")
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrDiversify(
        pool, emb, "query_id", "neighbor_id", "cos", "vec_id", "embedding",
        lambda = 0.7, k = 3, maxPoolPerQuery = 10)
    }
    assert(e.getMessage.contains("maxPoolPerQuery"))
  }

  test("dedupSurvival: band rollup agrees with a brute-force per-threshold replay") {
    import spark.implicits._
    import graft.operators.Dedup
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota KAPPA!"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, near),
      (4L, "one two three four five six seven"),
      (5L, "one two three four five six seven"),
      (6L, "totally unrelated content over here"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSurvival(docs, "doc_id", "text")
      .orderBy("threshold").collect()
    assert(out.length == 9)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3,
      threshold = 0.1).collect()
    for (r <- out) {
      val t = r.getAs[Double]("threshold")
      val hit = pairs.filter(_.getAs[Double]("jaccard") >= t)
      assert(r.getAs[Long]("n_pairs") == hit.length.toLong,
        s"n_pairs at t=$t")
      assert(r.getAs[Long]("n_removed") ==
        hit.map(_.getAs[Long]("id_b")).distinct.length.toLong,
        s"n_removed at t=$t")
      assert(r.getAs[Long]("n_survivors") ==
        6L - hit.map(_.getAs[Long]("id_b")).distinct.length)
    }
    // monotone: pair and removal counts never increase with t
    val np = out.map(_.getAs[Long]("n_pairs"))
    assert(np.zip(np.tail).forall { case (a, b) => a >= b })
  }

  test("hardNegativesAnn: label cut before the heap; unprobed cells are invisible; probing all cells recovers the brute result") {
    import spark.implicits._
    import graft.operators.Similarity
    // two cells: centroid 100 = (1,0), centroid 200 = (0,1)
    val emb = Seq(
      (100L, Array(1.0f, 0.0f), 0),  // centroid A, SAME label as query
      (200L, Array(0.0f, 1.0f), 1),  // centroid B, cross-label
      (97L, Array(1.0f, 0.05f), 0),  // the query (97 % 97 == 0)
      (1L, Array(0.95f, 0.1f), 1),   // cell A, cross-label -> negative
      (2L, Array(0.9f, 0.2f), 0),    // cell A, same label -> cut
      (3L, Array(0.05f, 1.0f), 1))   // cell B, cross-label
      .toDF("vec_id", "embedding", "label")
    def run(nprobe: Int) = Similarity.hardNegativesAnn(
      emb, "vec_id", "embedding", "label",
      centroidPred = col("vec_id") % 100 === 0 && col("vec_id") > 0,
      queryPred = col("vec_id") === 97, nprobe = nprobe, k = 10)
      .orderBy(col("cos").desc, col("neighbor_id"))
      .collect()
    val one = run(1)
    // nprobe=1 probes only cell A: the cross-label vector in cell B is
    // invisible (that is what makes it ANN), and the same-label cell-A
    // vectors never reach the heap
    assert(one.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L))
    assert(one.forall(_.getAs[Int]("neighbor_label") != 0))
    // nprobe=2 probes both cells: now equals the brute-force result
    val two = run(2)
    val brute = Similarity.hardNegatives(
      emb, "vec_id", "embedding", "label", col("vec_id") === 97, k = 10)
      .orderBy(col("cos").desc, col("neighbor_id"))
      .collect()
    assert(two.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSeq ==
      brute.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSeq)
  }

  test("incrementalLsh: exact copy flagged by both stages at est 1.0; near variant by the near stage; novel and short docs pass") {
    import spark.implicits._
    import graft.operators.Dedup
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val state = Dedup.dedupState(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text")
      .localCheckpoint(true)
    val batch = Seq(
      (10L, a),                                          // exact copy of 1
      (11L, b + " thirteen"),                            // near variant of 2
      (12L, "totally novel content nothing shared here at all with anyone"),
      (13L, "tiny doc"))                                 // < 3 tokens: no signature
      .toDF("doc_id", "text")
    val out = Dedup.incrementalLsh(batch, state, "doc_id", "text",
      threshold = 0.5).orderBy("id").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(10L, 11L, 12L, 13L))
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(10L).getAs[Boolean]("dup_exact"))
    assert(byId(10L).getAs[Boolean]("near_dup"))
    assert(byId(10L).getAs[Long]("match_id") == 1L)
    assert(byId(10L).getAs[Double]("est_jaccard") == 1.0)
    assert(!byId(11L).getAs[Boolean]("dup_exact"))
    assert(byId(11L).getAs[Boolean]("near_dup"))
    assert(byId(11L).getAs[Long]("match_id") == 2L)
    assert(byId(11L).getAs[Double]("est_jaccard") >= 0.5)
    assert(!byId(12L).getAs[Boolean]("dup_exact") &&
      !byId(12L).getAs[Boolean]("near_dup"))
    assert(!byId(13L).getAs[Boolean]("dup_exact") &&
      !byId(13L).getAs[Boolean]("near_dup"))
    // the state relation is payload-free by construction — the executor
    // cannot rescan earlier batches even by accident
    assert(!state.columns.contains("text"))
  }

  test("bmpDHash: deterministic, orientation-aware, perturbation-local; imageNearDup pairs identical and near-identical images only") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // determinism + self-consistency
    val a = Multimodal.syntheticBmp(7L, 16, 16)
    assert(Multimodal.bmpDHash(a) == Multimodal.bmpDHash(
      Multimodal.syntheticBmp(7L, 16, 16)))
    // a one-pixel perturbation stays within a few bits; a different seed
    // lands ~32 bits away
    val near = Multimodal.syntheticBmp(7L, 16, 16, perturb = 99L)
    val far = Multimodal.syntheticBmp(8L, 16, 16)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val (ha, hn, hf) = (Multimodal.bmpDHash(a).get,
      Multimodal.bmpDHash(near).get, Multimodal.bmpDHash(far).get)
    assert(ham(ha, hn) <= 4, s"near variant drifted ${ham(ha, hn)} bits")
    assert(ham(ha, hf) > 5, s"unrelated image too close: ${ham(ha, hf)}")
    // top-down BMP (negative height) hashes like its bottom-up twin
    val td = a.clone()
    // rewrite height field to -16 and reverse pixel rows
    def p32(buf: Array[Byte], off: Int, v: Int): Unit = (0 to 3).foreach(i =>
      buf(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    p32(td, 22, -16)
    val rowSize = ((16 * 3 + 3) / 4) * 4
    (0 until 16).foreach { r =>
      System.arraycopy(a, 54 + (16 - 1 - r) * rowSize, td, 54 + r * rowSize, rowSize)
    }
    assert(Multimodal.bmpDHash(td).contains(ha))
    // non-images and truncated payloads drop out
    assert(Multimodal.bmpDHash("BM not an image".getBytes).isEmpty)
    assert(Multimodal.bmpDHash(a.take(60)).isEmpty)
    // end-to-end pairing: identical (1,2), near (3), unrelated (4)
    val bin = Seq(
      (1L, Multimodal.syntheticBmp(1L, 16, 16)),
      (2L, Multimodal.syntheticBmp(1L, 16, 16)),
      (3L, Multimodal.syntheticBmp(1L, 16, 16, perturb = 42L)),
      (4L, Multimodal.syntheticBmp(999L, 16, 16)),
      (5L, "just text".getBytes))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDup(bin, maxHamming = 5)
      .orderBy("id_a", "id_b").collect()
    assert(pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head.getAs[Int]("hamming") == 0)
  }

  test("wavDHash + audioNearDup: envelope hash pairs identical and perturbed clips, not unrelated ones; imageDedupExecute keeps the minimum id") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val a = Multimodal.syntheticWav(3L)
    assert(Multimodal.wavDHash(a) == Multimodal.wavDHash(Multimodal.syntheticWav(3L)))
    val near = Multimodal.syntheticWav(3L, perturb = 7L)
    val far = Multimodal.syntheticWav(4L)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val (ha, hn, hf) = (Multimodal.wavDHash(a).get,
      Multimodal.wavDHash(near).get, Multimodal.wavDHash(far).get)
    assert(ham(ha, hn) <= 4, s"perturbed clip drifted ${ham(ha, hn)} bits")
    assert(ham(ha, hf) > 5, s"unrelated clip too close: ${ham(ha, hf)}")
    assert(Multimodal.wavDHash("RIFFxxxxWAVEfmt not audio".getBytes).isEmpty)
    assert(Multimodal.wavDHash(a.take(45)).isEmpty)
    val bin = Seq(
      (1L, Multimodal.syntheticWav(1L)),
      (2L, Multimodal.syntheticWav(1L)),
      (3L, Multimodal.syntheticWav(1L, perturb = 9L)),
      (4L, Multimodal.syntheticWav(77L)))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.audioNearDup(bin, maxHamming = 5)
      .orderBy("id_a", "id_b").collect()
    assert(pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // executor: the image trio keeps exactly its minimum id
    val ibin = Seq(
      (5L, Multimodal.syntheticBmp(1L, 16, 16)),
      (6L, Multimodal.syntheticBmp(1L, 16, 16)),
      (7L, Multimodal.syntheticBmp(1L, 16, 16, perturb = 3L)),
      (8L, Multimodal.syntheticBmp(50L, 16, 16)))
      .toDF("doc_id", "payload")
    val kept = Multimodal.imageDedupExecute(ibin, maxHamming = 5)
      .orderBy("doc_id").collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(5L, 8L))
    assert(kept.forall(_.getAs[String]("fingerprint").length == 16))
    // audio executor: identical/near trio keeps min id, unrelated kept
    val keptA = Multimodal.audioDedupExecute(bin, maxHamming = 5)
      .orderBy("doc_id").collect()
    assert(keptA.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 4L))
  }

  test("kmeansTrain: iteration 1 assigns like nearestCentroid; centroids move to cluster means; the curve tightens") {
    import spark.implicits._
    import graft.operators.Similarity
    // two tight direction-clusters in 2D; init centroids are one member
    // of each (ids 100, 200)
    val emb = Seq(
      (100L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.95f, 0.05f)),
      (200L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val initPred = col("vec_id") >= 100L
    val out = Similarity.kmeansTrain(emb, "vec_id", "embedding", initPred,
      iters = 3)
      .orderBy("iter", "centroid_id").collect()
    // 3 iters x 2 centroids, counts stable at 3 apiece
    assert(out.length == 6)
    assert(out.forall(_.getAs[Long]("n_members") == 3L))
    // iteration-1 members match the fixed-centroid assignment operator
    val nc = Similarity.nearestCentroid(emb, "vec_id", "embedding", initPred)
    val byCell = nc.groupBy("centroid_id").count().orderBy("centroid_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byCell == Seq((100L, 3L), (200L, 3L)))
    // moving the centroid to the cluster mean cannot loosen the cluster:
    // mean cosine is non-decreasing for each centroid across iterations
    Seq(100L, 200L).foreach { c =>
      val curve = out.filter(_.getAs[Long]("centroid_id") == c)
        .map(_.getAs[Double]("mean_cos"))
      assert(curve.zip(curve.tail).forall { case (x, y) => y >= x },
        s"curve for $c: ${curve.toSeq}")
    }
  }

  test("temperatureMix: alpha=0.3 upweights the tail; weights normalize; hand-computed scores") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = ((1 to 90).map(i => (i.toLong, "en")) ++
      (91 to 100).map(i => (i.toLong, "fr")))
      .toDF("doc_id", "lang")
    val out = Sampling.temperatureMix(docs, "lang", alpha = 0.3,
      targetTotal = 1000L)
      .orderBy("domain").collect()
    def q6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val se = q6(math.exp(0.3 * math.log(90.0)))
    val sf = q6(math.exp(0.3 * math.log(10.0)))
    val z = BigDecimal(se) + BigDecimal(sf)
    assert(out(0).getAs[String]("domain") == "en")
    assert(out(0).getAs[Double]("weight") == q6(se / z.toDouble))
    assert(out(1).getAs[Double]("weight") == q6(sf / z.toDouble))
    // tail boosted above proportional, head below
    assert(out(1).getAs[Double]("boost") > 1.0 &&
      out(0).getAs[Double]("boost") < 1.0)
    assert(out.map(_.getAs[Long]("target_n")).sum <= 1000L)
  }

  test("curriculumEpochs: best-first cumulative token order, id tie-break within a score, integer epoch cuts") {
    import spark.implicits._
    import graft.operators.Ranking
    val d = Seq(
      (1L, 0.9, 10L), (2L, 0.9, 20L), // same score: id order
      (3L, 0.5, 30L),
      (4L, Double.NaN, 99L))          // unscored: excluded
      .toDF("doc_id", "q", "toks")
    val out = Ranking.curriculumEpochs(d, "doc_id", "q", "toks",
      epochTokens = 25L)
      .orderBy("id").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("cum_before")).toSeq == Seq(0L, 10L, 30L))
    assert(out.map(_.getAs[Long]("epoch")).toSeq == Seq(0L, 0L, 1L))
  }

  test("streamingStateDedup: a real streaming replay flags exact copies and near variants against the frozen store") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.StreamingProfile
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val state = Dedup.dedupState(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text")
      .localCheckpoint(true)
    val dir = new java.io.File("target/tmp/r12stream")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    Seq((10L, a), (11L, b + " thirteen"), (12L, "nothing shared with anyone here at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.getPath)
    val out = StreamingProfile.replayParquet(
      spark, dir.getPath + "/*.parquet",
      df => StreamingProfile.streamingStateDedup(
        df.withColumn("_evt", timestamp_seconds(col("doc_id"))),
        state, "doc_id", "text", "_evt"),
      "append")
      .orderBy("id", "kind").collect()
    val kinds = out.map(r => (r.getAs[Long]("id"), r.getAs[String]("kind"))).toSeq
    assert(kinds == Seq((10L, "exact"), (10L, "near"), (11L, "near")))
    val near10 = out.find(r => r.getAs[Long]("id") == 10L &&
      r.getAs[String]("kind") == "near").get
    assert(near10.getAs[Long]("match_id") == 1L &&
      near10.getAs[Double]("est_jaccard") == 1.0)
  }

  test("embeddingOutliers: the far member of a tight cluster is flagged; singleton clusters never are") {
    import spark.implicits._
    import graft.operators.Similarity
    // cluster around (1,0): 15 tight members + one far. The outlier
    // inflates its own cluster sigma, and with population stddev the
    // largest reachable |z| among n points is (n-1)/sqrt(n) — so n must
    // be ~11+ for a z < -3 flag to be possible at all (n=16 here).
    val tight = (1L to 14L).map(i =>
      (i, Array(1.0f, (if (i % 2 == 0) 1 else -1) * 0.01f * (i % 3).toFloat)))
    val emb = ((100L, Array(1.0f, 0.0f)) +: tight :+
      ((5001L, Array(0.75f, 0.66f))) :+ // cos ~0.75 to (1,0): far
      ((200L, Array(0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingOutliers(
      emb, "vec_id", "embedding", col("vec_id") % 100 === 0)
      .orderBy("vec_id").collect()
    val flagged = out.filter(_.getAs[Boolean]("is_outlier"))
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(flagged == Seq(5001L), s"flagged=$flagged")
    // the singleton cluster (vector 200 alone): sigma undefined, z null
    val lone = out.find(_.getAs[Long]("vec_id") == 200L).get
    assert(lone.isNullAt(lone.fieldIndex("z")))
    assert(!lone.getAs[Boolean]("is_outlier"))
  }

  test("crossDedupMatrix: shared distinct contents per source pair with content-set jaccard") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "shared one", "a"), (2L, "shared two", "a"), (3L, "only a", "a"),
      (4L, "shared one", "b"), (5L, "shared two", "b"),
      (6L, "shared one", "c"), (7L, "only c", "c"),
      (8L, "shared one", "a")) // within-source dup: distinct (h, g) collapses it
      .toDF("doc_id", "text", "source")
    val out = Dedup.crossDedupMatrix(docs, "text", "source")
      .orderBy("source_a", "source_b").collect()
    val m = out.map(r => ((r.getAs[String]("source_a"), r.getAs[String]("source_b")),
      (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_shared")))).toMap
    assert(m(("a", "b")) == ((3L, 2L, 2L)))
    assert(m(("a", "c")) == ((3L, 2L, 1L)))
    assert(m(("b", "c")) == ((2L, 2L, 1L)))
    val ab = out.find(r => r.getAs[String]("source_a") == "a" &&
      r.getAs[String]("source_b") == "b").get
    assert(ab.getAs[Double]("content_jaccard") ==
      BigDecimal(2.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("minhashCalibration: identical docs land in band 10 with zero error; rollup preserves pair mass") {
    import spark.implicits._
    import graft.operators.Dedup
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, dup), (2L, dup),
      (3L, "one two three four five six seven eight nine"),
      (4L, "one two three four five six seven eight TEN"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs, "doc_id", "text")
      .orderBy("est_band").collect()
    val top = out.find(_.getAs[Long]("est_band") == 10L).get
    assert(top.getAs[Double]("mean_est") == 1.0)
    assert(top.getAs[Double]("mean_exact") == 1.0)
    assert(top.getAs[Double]("max_abs_err") == 0.0)
    val mass = out.map(_.getAs[Long]("n_pairs")).sum
    val pairs = Dedup.calibrationPairs(
      docs, "doc_id", "text", 3, 32, 8, Some(10000)).count()
    assert(mass == pairs)
  }

  test("freshnessWeights: newest day weighs 1.0, ages decay on the e-folding curve") {
    import spark.implicits._
    import graft.operators.Events
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-10 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-10 11:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-03-01 09:00:00")))
      .toDF("event_id", "ts")
    val out = Events.freshnessWeights(ev, "ts", halfLifeDays = 30.0)
      .orderBy("day").collect()
    def q6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.length == 2)
    assert(out(1).getAs[Long]("age_days") == 0L)
    assert(out(1).getAs[Double]("weight") == 1.0)
    assert(out(1).getAs[Double]("effective_n") == 2.0)
    assert(out(0).getAs[Long]("age_days") == 9L)
    assert(out(0).getAs[Double]("weight") == q6(math.exp(-9.0 / 30.0)))
  }

  test("dupPairExplain: evidence string holds the smallest shared shingles; dedupRateByBatch counts first-occurrence-wins dups") {
    import spark.implicits._
    import graft.operators.Dedup
    val dup = "alpha beta gamma delta epsilon"
    val docs = Seq((1L, dup), (2L, dup), (3L, "zz yy xx ww vv"))
      .toDF("doc_id", "text")
    val ex = Dedup.dupPairExplain(docs, "doc_id", "text").collect()
    assert(ex.length == 1)
    assert(ex(0).getAs[Long]("n_shared") == 3L)
    assert(ex(0).getAs[String]("shared_sample") ==
      "alpha beta gamma|beta gamma delta|gamma delta epsilon")
    // rate by batch: batch 0 holds the original + one dup; batch 1 is
    // one cross-batch dup + one novel doc
    val staged = Seq(
      (1L, dup, 0L), (2L, dup, 0L),
      (3L, dup, 1L), (4L, "completely new", 1L))
      .toDF("doc_id", "text", "b")
    val rate = Dedup.dedupRateByBatch(staged, "doc_id", "text", "b")
      .orderBy("batch").collect()
    assert(rate.map(r => (r.getAs[Long]("batch"), r.getAs[Long]("n_dups"))).toSeq ==
      Seq((0L, 1L), (1L, 1L)))
    assert(rate(0).getAs[Double]("dup_rate") == 0.5)
  }

  test("compactState: min-id representative per content, copy mass preserved, detection flags invariant") {
    import spark.implicits._
    import graft.operators.Dedup
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    val store = Dedup.dedupState(
      Seq((1L, a), (2L, b), (7L, a), (9L, a)).toDF("doc_id", "text"),
      "doc_id", "text").localCheckpoint(true)
    val compact = Dedup.compactState(store).orderBy("id").collect()
    assert(compact.map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_copies"))).toSeq ==
      Seq((1L, 3L), (2L, 1L)))
    val batch = Seq((20L, a), (21L, "novel text here nothing shared at all"))
      .toDF("doc_id", "text")
    val full = Dedup.incrementalLsh(batch, store, "doc_id", "text")
      .select("id", "dup_exact", "near_dup")
    val comp = Dedup.incrementalLsh(
      batch, Dedup.compactState(store).drop("n_copies"), "doc_id", "text")
      .select("id", "dup_exact", "near_dup")
    assert(full.exceptAll(comp).count() + comp.exceptAll(full).count() == 0L)
  }
}

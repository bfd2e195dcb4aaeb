package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-11 additions (VERDICT r10 tasks): KLL-approx scale lanes for
  * the event family — interarrivalStatsApprox, sessionStatsApprox,
  * timeToConvertApprox — whose exact twins are now spot-verifier-only. */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("interarrivalStatsApprox: scalars exact, quantiles are true gaps at the right rank (sub-compaction regime)") {
    import spark.implicits._
    import graft.operators.Events
    // user a: gaps 1s,2s,...,9s; user b: one gap of 100s → 10 gaps total
    val evs =
      (0 to 9).map(i => ("a", (i * (i + 1) / 2) * 1000000L, i.toLong)) ++
        Seq(("b", 0L, 100L), ("b", 100000000L, 101L))
    val df = evs.toDF("user_id", "ts_us", "event_id")
    val a = Events
      .interarrivalStatsApprox(df, "user_id", "ts_us", "event_id").head()
    val e = Events
      .interarrivalStats(df, "user_id", "ts_us", "event_id").head()
    assert(a.getAs[Long]("n_gaps") == 10L && e.getAs[Long]("n_gaps") == 10L)
    assert(a.getAs[Long]("n_users") == 2L)
    assert(a.getAs[Long]("min_gap_us") == 1000000L)
    assert(a.getAs[Long]("max_gap_us") == 100000000L)
    assert(a.getAs[Double]("mean_gap_s") == e.getAs[Double]("mean_gap_s"))
    // below k=200 values the sketch holds every atom: quantiles are the
    // exact order statistics (gaps in seconds), not interpolations
    val gaps = ((1 to 9).map(_.toDouble) :+ 100.0).sorted
    for ((p, c) <- Seq((0.25, "p25_s"), (0.5, "p50_s"), (0.75, "p75_s"),
      (0.95, "p95_s"))) {
      val v = a.getAs[Double](c)
      assert(gaps.contains(v), s"$c=$v is not a true gap")
      // inclusive-rank interval of v must cover p (exact in this regime)
      val lt = gaps.count(_ < v) / 10.0
      val le = gaps.count(_ <= v) / 10.0
      assert(lt < p + 1e-9 && le >= p - 1e-9, s"$c=$v rank [$lt,$le] vs $p")
    }
    assert(a.getAs[Double]("rank_eps") > 0.0)
  }

  test("interarrivalStatsApprox: empty input yields the zero row") {
    import spark.implicits._
    val df = Seq(("a", 0L, 0L)).toDF("user_id", "ts_us", "event_id")
    val r = graft.operators.Events
      .interarrivalStatsApprox(df, "user_id", "ts_us", "event_id").head()
    assert(r.getAs[Long]("n_gaps") == 0L)
    assert(r.isNullAt(r.fieldIndex("p50_s")))
  }

  test("sessionStatsApprox: scalars equal the exact rollup, durations true values") {
    import spark.implicits._
    import graft.operators.Events
    val evs = Seq(
      // user a: two sessions (gap > 30 min): 3 events then 1 event
      ("a", 0L, 0L, "view"), ("a", 60000000L, 1L, "view"),
      ("a", 120000000L, 2L, "purchase"),
      ("a", 10000000000L, 3L, "view"),
      // user b: one 2-event session
      ("b", 0L, 4L, "view"), ("b", 5000000L, 5L, "view"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val sess = Events.sessionize(
      evs, "user_id", "ts_us", "event_id", "event_type",
      gapUs = 30L * 60 * 1000 * 1000)
    val a = Events.sessionStatsApprox(sess, "user_id").head()
    val e = Events.sessionStats(sess, "user_id").head()
    for (c <- Seq("n_sessions", "n_users", "n_single_event"))
      assert(a.getAs[Long](c) == e.getAs[Long](c), c)
    assert(a.getAs[Double]("mean_events") == e.getAs[Double]("mean_events"))
    assert(a.getAs[Double]("mean_duration_s") ==
      e.getAs[Double]("mean_duration_s"))
    // sub-compaction: p50/p90 are true session durations
    val durs = sess.select(col("duration_us").cast("double") / 1e6)
      .collect().map(_.getDouble(0)).toSet
    assert(durs.contains(a.getAs[Double]("p50_duration_s")))
    assert(durs.contains(a.getAs[Double]("p90_duration_s")))
  }

  test("timeToConvertApprox: counts equal exact, quantiles true deltas, zero-converter transition surfaces") {
    import spark.implicits._
    import graft.operators.Events
    val evs = Seq(
      ("u1", 0L, "signup"), ("u1", 10000000L, "view"),
      ("u2", 0L, "signup"), ("u2", 30000000L, "view"),
      ("u3", 0L, "signup"), ("u3", 50000000L, "view"))
      .toDF("user_id", "ts_us", "event_type")
    val stages = Seq("signup", "view", "purchase")
    val a = Events.timeToConvertApprox(
      evs, "user_id", "ts_us", "event_type", stages)
      .orderBy("transition").collect()
    val e = Events.timeToConvert(
      evs, "user_id", "ts_us", "event_type", stages)
      .orderBy("transition").collect()
    assert(a.map(_.getString(0)).toSeq == e.map(_.getString(0)).toSeq)
    assert(a.map(_.getLong(1)).toSeq == e.map(_.getLong(1)).toSeq)
    val sv = a.find(_.getString(0) == "signup->view").get
    assert(Set(10.0, 30.0, 50.0).contains(sv.getDouble(2)))
    assert(Set(10.0, 30.0, 50.0).contains(sv.getDouble(3)))
    assert(sv.getDouble(2) <= sv.getDouble(3))
    val vp = a.find(_.getString(0) == "view->purchase").get
    assert(vp.getLong(1) == 0L && vp.isNullAt(2) && vp.isNullAt(3) &&
      vp.isNullAt(4))
  }

  test("property: hybrid driver-side BPE matches the distributed rounds over seeded random corpora (>=200 merges)") {
    import spark.implicits._
    import graft.operators.BpeInduction
    val rng = new scala.util.Random(41)
    // a rich corpus: 70 distinct words over an 8-letter alphabet with
    // skewed repeat counts — enough adjacency structure to sustain 200+
    // distinct merges before exhaustion
    val alphabet = "abcdefgh"
    val pool = (0 until 70).map { _ =>
      val len = 4 + rng.nextInt(9)
      (0 until len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    val docs = (0 until 120).map { i =>
      val nw = 3 + rng.nextInt(8)
      (i.toLong,
        (0 until nw).map(_ => pool(rng.nextInt(pool.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val driver = BpeInduction.bpeMerges(docs, "text", nMerges = 200)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val dist = BpeInduction.bpeMerges(docs, "text", nMerges = 200,
      maxDriverVocab = 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(driver.size >= 200, s"corpus exhausted at ${driver.size} merges")
    assert(driver == dist)
  }

  test("driver-side BPE runs a merge-count-independent number of Spark jobs") {
    import spark.implicits._
    import graft.operators.BpeInduction
    val docs = (0 until 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog " * 3))
      .toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = BpeInduction.bpeMerges(docs, "text", nMerges = 60).count()
      // listener delivery is async; a short drain keeps the count stable
      Thread.sleep(500)
      assert(n > 0)
      // vocab build + count + collect + result count — NOT one job per
      // merge (the r10 shape was >= 60 jobs here)
      assert(jobs.get() <= 8,
        s"driver path ran ${jobs.get()} jobs for 60 merges")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bpeEncodeWith: a precomputed merge table reproduces bpeEncode without re-training") {
    import spark.implicits._
    import graft.operators.BpeInduction
    val docs = Seq(
      (1L, "low lower lowest newer newest wide wider widest"),
      (2L, "new newer news lower low low wide")).toDF("doc_id", "text")
    val table = BpeInduction.bpeMerges(docs, "text", nMerges = 12)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val direct = BpeInduction.bpeEncode(docs, "doc_id", "text", nMerges = 12)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val withTable = BpeInduction
      .bpeEncodeWith(docs, "doc_id", "text", table)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(direct == withTable)
  }

  test("property: CommonExtend ASCII byte fast path matches the UTF-16 reference (300 seeded rounds, mixed alphabets)") {
    import org.apache.spark.unsafe.types.UTF8String
    // the pre-r11 reference semantics, verbatim on java Strings
    def ref(sa: String, sb: String, pa: Long, pb: Long, k: Int): Long = {
      val i0 = pa.toInt - 1; val j0 = pb.toInt - 1
      if (i0 < 0 || j0 < 0 || i0 + k > sa.length || j0 + k > sb.length)
        return -1L
      var t = 0
      while (t < k) {
        if (sa.charAt(i0 + t) != sb.charAt(j0 + t)) return -1L
        t += 1
      }
      var l = 0
      while (i0 - l > 0 && j0 - l > 0 &&
        sa.charAt(i0 - l - 1) == sb.charAt(j0 - l - 1)) l += 1
      var r = k
      while (i0 + r < sa.length && j0 + r < sb.length &&
        sa.charAt(i0 + r) == sb.charAt(j0 + r)) r += 1
      (i0 - l + 1).toLong * (1L << 40) + (j0 - l + 1).toLong * (1L << 20) +
        (l + r).toLong
    }
    val rng = new scala.util.Random(97)
    val alphabets = Seq("ab", "abcxyz", "abé", "ab日本", "a b\tc")
    for (round <- 0 until 300) {
      val alpha = alphabets(round % alphabets.size)
      def mk(n: Int): String =
        (0 until n).map(_ => alpha(rng.nextInt(alpha.length))).mkString
      val sa = mk(5 + rng.nextInt(40))
      val sb = if (rng.nextBoolean()) sa.drop(rng.nextInt(3)) + mk(5)
        else mk(5 + rng.nextInt(40))
      val k = 1 + rng.nextInt(4)
      val pa = 1L + rng.nextInt(math.max(1, sa.length - k + 1) + 2) // may be out of range
      val pb = 1L + rng.nextInt(math.max(1, sb.length - k + 1) + 2)
      val got = graft.functions.CommonExtend.extend(
        UTF8String.fromString(sa), pa, UTF8String.fromString(sb), pb, k)
      assert(got == ref(sa, sb, pa, pb, k),
        s"round $round: alpha='$alpha' sa='$sa' sb='$sb' pa=$pa pb=$pb k=$k")
    }
  }

  test("chunked substring family drives a >2^20-char document end-to-end with correct global offsets") {
    import spark.implicits._
    import graft.operators.Dedup
    val rng = new scala.util.Random(23)
    def rand(n: Int): String =
      (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    // 90 random UPPERCASE chars: disjoint from the lowercase filler (no
    // accidental anchors) and internally non-repetitive (no shifted
    // partial self-alignments muddying the span census)
    val passage =
      (0 until 90).map(_ => ('A' + rng.nextInt(26)).toChar).mkString
    val cap = 1 << 20
    // digit sentinels at every copy boundary: extension can never cross
    // them (each digit is unique per side), so spans are EXACTLY the
    // planted passage — deterministic offsets, no filler-luck extension
    val prefix = rand(cap + 50000)
    val mid = rand(2000)
    val big = prefix + "1" + passage + "2" + mid + "3" + passage + "4" + rand(1000)
    val s1 = (prefix.length + 2).toLong            // 1-based global starts
    val s2 = (prefix.length + passage.length + mid.length + 4).toLong
    val small = rand(300) + "5" + passage + "6" + rand(100)
    val sSmall = 302L
    // a doc of exactly 2^20-1 chars is still ONE chunk (the widest text
    // the position packing admits); the big doc splits
    val edge = Seq((0L, "x" * (cap - 1)), (1L, big)).toDF("doc_id", "text")
    val nChunks = Dedup.charChunks(edge, "doc_id", "text", 8)
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nChunks(0L) == 1L && nChunks(1L) == 2L, s"$nChunks")
    // every member accepts the over-cap doc and reports GLOBAL offsets
    val pair = Dedup.substringDup(
      Seq((1L, big), (2L, small)).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(pair.length == 1)
    val r = pair.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getAs[Long]("overlap_len") == passage.length.toLong)
    // two len-90 spans tie; the reported best takes the larger start_a
    assert(r.getAs[Long]("start_a") == s2,
      s"start_a=${r.getAs[Long]("start_a")} != $s2")
    assert(r.getAs[Long]("start_b") == sSmall)
    assert(r.getAs[Long]("n_spans") == 2L) // passage planted twice in big
    // contamination, big doc as corpus: the reported span is its later
    // copy (ties take the larger start_corpus), both copies counted
    val leak = Dedup.substringContamination(
      Seq((1L, big)).toDF("doc_id", "text"),
      Seq((2L, small)).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(leak.length == 1)
    assert(leak.head.getAs[Long]("overlap_len") == passage.length.toLong)
    assert(leak.head.getAs[Long]("start_corpus") == s2)
    assert(leak.head.getAs[Long]("start_eval") == sSmall)
    assert(leak.head.getAs[Long]("n_spans") == 2L)
    // intra-doc: the two planted copies inside the big doc
    val sr = Dedup.selfRepeat(
      Seq((1L, big)).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(sr.length == 1)
    assert(sr.head.getAs[Long]("repeat_len") == passage.length.toLong)
    assert(sr.head.getAs[Long]("start_1") == s1)
    assert(sr.head.getAs[Long]("start_2") == s2)
  }

  test("logregTrain: separable features converge — loss falls, accuracy reaches 1.0") {
    import spark.implicits._
    import graft.operators.QualityModel
    val f = (0 until 200).map { i =>
      val y = if (i % 2 == 0) 1.0 else 0.0
      // x1 cleanly separates; x2 is noise in [0, 0.1]
      (if (y == 1.0) 0.8 + (i % 5) * 0.01 else 0.2 - (i % 5) * 0.01,
        (i % 10) * 0.01, y)
    }.toDF("x1", "x2", "y")
    val rows = QualityModel.logregTrain(f, Seq("x1", "x2"), "y",
      iterations = 6).orderBy("iter").collect()
    assert(rows.length == 6)
    val losses = rows.map(_.getAs[Double]("mean_logloss"))
    assert(losses.head > losses.last, s"loss did not fall: ${losses.toSeq}")
    assert(rows.last.getAs[Double]("accuracy") == 1.0)
    // iteration-1 loss is ln 2 at w = 0 (pre-update), on both engines
    assert(math.abs(losses.head - 0.693147) < 1e-6)
  }

  test("randomProject: 16 deterministic coordinates per vector, exactly linear") {
    import spark.implicits._
    import graft.operators.Quantize
    val v = (0 until 64).map(i => (i % 7 - 3).toFloat)
    val df = Seq((1L, v), (2L, v.map(x => x * 2))).toDF("id", "vec")
    val p = Quantize.randomProject(df, "id", "vec", outDims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p.size == 32)
    for (j <- 0 until 16) {
      // doubling the vector doubles every coordinate (6-dp exact: inputs
      // are small integers, folds are exact in double)
      assert(math.abs(p((2L, j.toLong)) - 2.0 * p((1L, j.toLong))) < 1e-9,
        s"dim $j not linear")
    }
    // determinism across invocations
    val q = Quantize.randomProject(df, "id", "vec", outDims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p == q)
  }

  test("unimaxAllocation: waterfilling — small domains take their count, the freed budget re-spreads") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (Seq.fill(5)("a") ++ Seq.fill(10)("b") ++ Seq.fill(100)("c"))
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "dom")
    val rows = Sampling.unimaxAllocation(docs, "dom", budget = 30L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // sorted (a:5, b:10, c:100); shares: 30/3=10 -> a takes 5 (sat);
    // 25/2=12 -> b takes 10 (sat); 15/1=15 -> c takes 15 (unsat)
    assert(rows("a") == ((5L, 5L, true)))
    assert(rows("b") == ((10L, 10L, true)))
    assert(rows("c") == ((100L, 15L, false)))
  }

  test("pathTemplates: below-support segments generalize to '*', template census is exact") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val urls = (0 until 10).map(i => (i.toLong, s"/docs/page-$i")) ++
      Seq((10L, "/docs/index"), (11L, "/docs/index"), (12L, "/docs/index"))
    val out = CorpusStats.pathTemplates(
      urls.toDF("id", "u"), "id", "u", minSupport = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 'docs' (13x) literal; 'index' (3x) literal; each page-i (1x) -> '*'
    assert(out == Map("/docs/*" -> 10L, "/docs/index" -> 3L))
  }

  test("hardNegatives: same-label vectors are excluded even when they dominate the top") {
    import spark.implicits._
    import graft.operators.Similarity
    // query (id 0, label 1); ids 1-3 label 1 nearly identical to the
    // query; ids 4-5 label 2 less similar — the negatives MUST be 4, 5
    def vec(theta: Double): Seq[Float] =
      Seq(math.cos(theta).toFloat, math.sin(theta).toFloat) ++
        Seq.fill(62)(0.0f)
    val emb = Seq(
      (0L, vec(0.0), 1), (1L, vec(0.01), 1), (2L, vec(0.02), 1),
      (3L, vec(0.03), 1), (4L, vec(0.5), 2), (5L, vec(0.7), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
      emb, "vec_id", "embedding", "label", col("vec_id") === 0L, k = 2)
      .orderBy("neighbor_id").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(4L, 5L))
    assert(out.forall(_.getAs[Int]("neighbor_label") == 2))
    assert(out.forall(_.getAs[Int]("query_label") == 1))
  }

  test("decontamExecute: planted leak is cut from the corpus side only, untouched docs pass through") {
    import spark.implicits._
    import graft.operators.Dedup
    val leak = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN" // 50 chars
    // maximal extension absorbs the flanking spaces shared by both sides
    // (" $leak " appears verbatim in corpus AND eval), so the cut span is
    // 52 chars, not the bare 50-char leak
    val corpusText = s"corpus prefix text here. $leak and a corpus tail."
    val cleanExpect = "corpus prefix text here." + "and a corpus tail."
    val corpus = Seq(
      (1L, corpusText),
      (2L, "an entirely unrelated corpus document body with no leak"))
      .toDF("doc_id", "text")
    val eval = Seq((101L, s"eval question: $leak end of eval."))
      .toDF("doc_id", "text")
    val out = Dedup.decontamExecute(corpus, eval, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert(r1.getAs[Long]("n_cut_spans") == 1L)
    assert(r1.getAs[Long]("orig_len") == corpusText.length.toLong)
    assert(r1.getAs[Long]("clean_len") == cleanExpect.length.toLong)
    val expSha = spark.sql(
      s"SELECT substring(sha2('${cleanExpect}', 256), 1, 16) s")
      .head().getString(0)
    assert(r1.getAs[String]("clean_sha") == expSha)
    val r2 = out(1)
    assert(r2.getAs[Long]("n_cut_spans") == 0L)
    assert(r2.getAs[Long]("clean_len") == r2.getAs[Long]("orig_len"))
  }

  test("substringDupExecute: keep-first — larger doc id loses the shared run; overlapping cuts merge") {
    import spark.implicits._
    import graft.operators.Dedup
    val run = "A SHARED VERBATIM PASSAGE OF SUFFICIENT LENGTH HERE" // 52
    val a = s"first doc keeps this: $run."
    val b = s"second doc loses it: $run!"
    val df = Seq((1L, a), (2L, b), (3L, "no duplicates at all in here"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupExecute(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    // doc 1: the span carrier — untouched
    assert(out(0).getAs[Long]("n_cut_spans") == 0L)
    assert(out(0).getAs[Long]("clean_len") == a.length.toLong)
    // doc 2: the shared run cut (maximal extension may absorb the
    // surrounding equal chars; the remaining length is orig minus cut)
    assert(out(1).getAs[Long]("n_cut_spans") == 1L)
    assert(out(1).getAs[Long]("clean_len") < b.length.toLong - run.length + 8)
    assert(out(2).getAs[Long]("n_cut_spans") == 0L)
  }

  test("ccnetBuckets: per-language tertiles — boundaries integer-exact, ties share a bucket") {
    import spark.implicits._
    import graft.operators.Ranking
    // lang A: scores 1..9 (distinct) -> 9/3 per bucket exactly;
    // lang B: 4 docs all score 0.5 -> one distinct score, n_above=0 -> all head
    val rows =
      (1 to 9).map(i => (i.toLong, "a", i.toDouble / 10)) ++
        (10 to 13).map(i => (i.toLong, "b", 0.5))
    val out = Ranking.ccnetBuckets(
      rows.toDF("doc_id", "lang", "score"), "doc_id", "lang", "score")
      .orderBy("doc_id").collect()
    val byId = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    // lang a ordered DESC: .9,.8,.7 head; .6,.5,.4 middle; .3,.2,.1 tail
    assert(Seq(9L, 8L, 7L).forall(byId(_) == "head"))
    assert(Seq(6L, 5L, 4L).forall(byId(_) == "middle"))
    assert(Seq(3L, 2L, 1L).forall(byId(_) == "tail"))
    assert((10L to 13L).forall(byId(_) == "head"))
  }

  test("pcaPower: recovers the dominant axis of an anisotropic cloud; loadings unit-normalized") {
    import spark.implicits._
    import graft.operators.QualityModel
    // 40 vectors along dim 2 (+noise-free), 4 along dim 5: top PC = e2
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(8)(d => if (d == 2) 10.0f else 0.0f))) ++
      (40 until 44).map(i =>
        (i.toLong, Seq.tabulate(8)(d => if (d == 5) 1.0f else 0.0f)))
    val out = QualityModel.pcaPower(
      vecs.toDF("vec_id", "embedding"), "embedding", iterations = 8)
      .orderBy("dim_idx").collect()
    assert(out.length == 8)
    val loadings = out.map(_.getAs[Double]("loading"))
    assert(math.abs(math.abs(loadings(2)) - 1.0) < 1e-4,
      s"dim2 loading ${loadings(2)}")
    assert(loadings.zipWithIndex.filter(_._2 != 2)
      .forall { case (l, _) => math.abs(l) < 1e-3 })
    // eigenvalue ~ ||G v|| = 40 * 100 = 4000 on the dominant axis
    val lam = out.head.getAs[Double]("eigenvalue")
    assert(math.abs(lam - 4000.0) < 1.0, s"eigenvalue $lam")
  }

  test("dupPagerank: star center outranks leaves; ranks sum to ~1; isolated docs excluded") {
    import spark.implicits._
    import graft.operators.Clustering
    // three docs sharing 3-gram sets pairwise with the center built by
    // near-identical texts; doc 99 unrelated (isolated -> excluded)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, base), (2L, base + " iota"), (3L, base + " kappa"),
      (99L, "completely different words nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Clustering.dupPagerank(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L))
    val ranks = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("rank")).toMap
    // 1-2, 1-3, 2-3 all pass Jaccard 0.5 here: complete graph -> equal
    // ranks; total mass preserved
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
    assert(out.forall(_.getAs[Long]("degree") == 2L))
  }

  test("dupPagerank: center of a path graph accumulates rank") {
    import spark.implicits._
    import graft.operators.Clustering
    // b overlaps a AND c; a and c do not overlap each other (path a-b-c)
    val a = "one two three four five six seven eight"
    val b = "three four five six seven eight nine ten"
    val c = "six seven eight nine ten eleven twelve thirteen"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Clustering.dupPagerank(df, "doc_id", "text", threshold = 0.3)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Double]("rank")).toMap
    assert(out.size == 3)
    assert(out(2L) > out(1L) && out(2L) > out(3L),
      s"center should outrank leaves: $out")
  }

  test("trigramScore: repeated text scores far more probable than unique text; n_trigrams = tokens - 2") {
    import spark.implicits._
    import graft.operators.LangModel
    val common = "the quick brown fox jumps over the lazy dog"
    val docs = (1L to 10L).map(i => (i, common)) :+
      (11L, "zyx wvu tsr qpo nml kji hgf edc bca")
    val out = LangModel.trigramScore(docs.toDF("doc_id", "text"),
      "doc_id", "text").orderBy("id").collect()
    assert(out.forall(_.getAs[Long]("n_trigrams") == 7L))
    val ppl = out.map(r =>
      r.getAs[Long]("id") -> r.getAs[Double]("perplexity")).toMap
    assert(ppl(1L) < ppl(11L) / 3,
      s"repeated text should have much lower perplexity: $ppl")
  }

  test("calibrationTable: exact per-bucket counts, means and positive fractions") {
    import spark.implicits._
    import graft.operators.QualityModel
    val rows = Seq(
      (0.15, 1.0), (0.18, 0.0),       // bucket 1: mean .165, frac .5
      (0.95, 1.0), (0.99, 1.0),       // bucket 9
      (1.0, 1.0))                      // p = 1.0 folds into bucket 9
    val out = QualityModel.calibrationTable(
      rows.toDF("p", "y"), "p", "y").orderBy("bucket").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("bucket") == 1L)
    assert(out(0).getAs[Long]("n") == 2L)
    assert(out(0).getAs[Double]("mean_p") == 0.165)
    assert(out(0).getAs[Double]("frac_pos") == 0.5)
    assert(out(1).getAs[Long]("bucket") == 9L)
    assert(out(1).getAs[Long]("n") == 3L)
    assert(out(1).getAs[Double]("frac_pos") == 1.0)
  }

  test("shardManifest: routing is deterministic, digest is order-free and content-sensitive") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (1L to 50L).map(i => (i, s"document body number $i"))
    val m1 = Sampling.shardManifest(docs.toDF("doc_id", "text"),
      "doc_id", "text", nShards = 4).orderBy("shard").collect()
    // permuted input -> identical manifest (XOR digest is commutative)
    val m2 = Sampling.shardManifest(
      scala.util.Random.shuffle(docs).toDF("doc_id", "text"),
      "doc_id", "text", nShards = 4).orderBy("shard").collect()
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    assert(m1.map(_.getAs[Long]("n_docs")).sum == 50L)
    // one changed byte in one doc flips exactly that shard's digest
    val mutated = docs.map { case (i, t) =>
      (i, if (i == 7L) t + "!" else t) }
    val m3 = Sampling.shardManifest(mutated.toDF("doc_id", "text"),
      "doc_id", "text", nShards = 4).orderBy("shard").collect()
    val changed = m1.zip(m3).count { case (a, b) =>
      a.getAs[Long]("digest") != b.getAs[Long]("digest") }
    assert(changed == 1, s"exactly one shard digest should change: $changed")
  }

  test("productQuantize: centroid rows encode to themselves with zero distortion; others pick the nearest sub-codebook entry") {
    import spark.implicits._
    import graft.operators.Quantize
    // two centroids (ids 0, 83): e0 = all 1.0, e83 = all -1.0; a probe
    // at +0.9 must take centroid 0 in every subspace
    val vecs = Seq(
      (0L, Seq.fill(64)(1.0f)), (83L, Seq.fill(64)(-1.0f)),
      (5L, Seq.fill(64)(0.9f)), (7L, Seq.fill(64)(-0.8f)))
      .toDF("vec_id", "embedding")
    val out = Quantize.productQuantize(
      vecs, "vec_id", "embedding", col("vec_id") % 83 === 0)
      .orderBy("vec_id").collect()
    val byId = out.map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[String]("code"), r.getAs[Double]("distortion"))).toMap
    assert(byId(0L) == (Seq.fill(8)("0").mkString("-"), 0.0))
    assert(byId(83L) == (Seq.fill(8)("83").mkString("-"), 0.0))
    assert(byId(5L)._1 == Seq.fill(8)("0").mkString("-"))
    // 8 dims/subspace * 0.1^2 = 0.08 per subspace, 0.64 total
    assert(math.abs(byId(5L)._2 - 0.64) < 1e-6)
    assert(byId(7L)._1 == Seq.fill(8)("83").mkString("-"))
  }

  test("domainTopk: per-domain budget, boundary ties all kept") {
    import spark.implicits._
    import graft.operators.Ranking
    // domain a: scores 9,8,7,7,1 with k=3 -> keep 9,8,7,7 (tie at the
    // boundary); domain b: 2 docs, both kept
    val rows = Seq(
      (1L, "a", 0.9), (2L, "a", 0.8), (3L, "a", 0.7), (4L, "a", 0.7),
      (5L, "a", 0.1), (6L, "b", 0.2), (7L, "b", 0.3))
    val out = Ranking.domainTopk(
      rows.toDF("doc_id", "domain", "score"), "doc_id", "domain", "score", 3L)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ==
      Seq(1L, 2L, 3L, 4L, 6L, 7L))
    val n3 = out.find(_.getAs[Long]("doc_id") == 3L).get
    assert(n3.getAs[Long]("n_better") == 2L)
  }

  test("charEntropy: uniform alphabet hits ln(k); single-char doc is zero; empty docs omitted") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val out = CorpusStats.charEntropy(
      Seq((1L, "abcd"), (2L, "aaaa"), (3L, "")).toDF("doc_id", "text"),
      "doc_id", "text").orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(math.abs(out(0).getAs[Double]("entropy") - math.log(4.0)) < 1e-6)
    assert(out(0).getAs[Long]("n_distinct_chars") == 4L)
    assert(out(1).getAs[Double]("entropy") == 0.0)
    assert(out(1).getAs[Long]("n_chars") == 4L)
  }

  test("cutIntervals semantics via decontamExecute: full-document leak yields clean_len 0 and sha of empty string") {
    import spark.implicits._
    import graft.operators.Dedup
    val t = "ENTIRELY LEAKED DOCUMENT BODY WITH ENOUGH LENGTH TO QUALIFY"
    val corpus = Seq((1L, t)).toDF("doc_id", "text")
    val eval = Seq((101L, t)).toDF("doc_id", "text")
    val r = Dedup.decontamExecute(corpus, eval, "doc_id", "text").head()
    assert(r.getAs[Long]("clean_len") == 0L)
    assert(r.getAs[Long]("n_cut_spans") == 1L)
    val emptySha = spark.sql(
      "SELECT substring(sha2('', 256), 1, 16) s").head().getString(0)
    assert(r.getAs[String]("clean_sha") == emptySha)
  }

  private def sha256hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("qualityFilterExecute: keep set is exactly z >= 0 under the trained weights; invalid docs dropped; sha pinned") {
    import spark.implicits._
    import graft.operators.QualityModel
    val docs = Seq(
      (1L, "the of and to in for with on this that is a good document", "en"),
      (2L, "xyzzy qwerty plugh zork grue frobozz", "en"),
      (3L, "le monde est grand et la vie est belle aujourd'hui", "fr"),
      (4L, "the and of to is that for with a in", "fr"),
      (5L, "", "en"), // invalid: no chars — dropped before training AND scoring
      (6L, "another the of and with plenty of the usual stopwords here", "en"))
      .toDF("doc_id", "text", "lang")
    val out = QualityModel
      .qualityFilterExecute(docs, "doc_id", "text").collect()
    // independent replay: final weights from logregTrain under the
    // reference-quality label, z computed in Scala
    val feats = QualityModel
      .docFeaturesLabeled(docs, "text",
        QualityModel.qualityLabel("text"), Seq("doc_id")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("x1"), r.getAs[Double]("x2"), r.getAs[Double]("x3")))
      .toMap
    val last = QualityModel.logregTrain(
      QualityModel.docFeaturesLabeled(docs, "text",
        QualityModel.qualityLabel("text"), Nil),
      Seq("x1", "x2", "x3"), "y", iterations = 6, lr = 8.0)
      .orderBy(col("iter").desc).head()
    val w = (0 to 3).map(j => last.getAs[Double](s"w$j"))
    val expected = feats.collect {
      case (id, (x1, x2, x3))
        if w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3 >= 0 => id
    }.toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet == expected)
    assert(!feats.contains(5L) && !expected.contains(5L))
    val texts = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (x1, x2, x3) = feats(id)
      val z = w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3
      assert(r.getAs[Double]("score") ==
        BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getAs[String]("text_sha") == sha256hex(texts(id)))
    }
  }

  test("jaccardDedupExecute: larger ids of duplicate pairs drop, cluster minimum survives, distinct docs pass through") {
    import spark.implicits._
    import graft.operators.Dedup
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, dup),
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val out = Dedup
      .jaccardDedupExecute(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 4L))
    assert(out(0).getAs[String]("text_sha") == sha256hex(dup))
    assert(out(0).getAs[Long]("n_chars") == dup.length.toLong)
  }

  test("groupDroTrain: q normalizes per iteration, upweights the persistently hard domain, weights shared across rows") {
    import spark.implicits._
    import graft.operators.QualityModel
    val stop = "the of and to in for with on that is"
    val rare = "xyzzy qwerty plugh zork grue frobozz mumble foo"
    // easy domain: separable (label follows the stopword signal). hard
    // domain: the SAME text under contradictory labels — irreducible
    // noise, so its mean softplus loss is >= ln 2 under ANY weights
    // (equality only at z = 0) while easy's drops below as training fits
    // its signal
    val mixed = "the of and xyzzy qwerty plugh"
    val docs =
      (1L to 6L).map(i => (i, stop, "en", "easy")) ++
        (7L to 12L).map(i => (i, rare, "fr", "easy")) ++
        Seq((13L, mixed, "en", "hard"), (14L, mixed, "fr", "hard"))
    val df = docs.toDF("doc_id", "text", "lang", "source")
    val out = QualityModel.groupDroTrain(
      QualityModel.docFeaturesWith(df, "text", "lang", Seq("source")),
      Seq("x1", "x2", "x3"), "y", "source", iterations = 6).collect()
    assert(out.length == 12) // 6 iterations x 2 domains
    for (it <- 1 to 6) {
      val rows = out.filter(_.getAs[Long]("iter") == it.toLong)
      val qs = rows.map(_.getAs[Double]("q")).sum
      assert(math.abs(qs - 1.0) <= 2e-6, s"iter $it: q sums to $qs")
      // post-update model weights identical across the iteration's rows
      assert(rows.map(r => (0 to 3).map(j =>
        r.getAs[Double](s"w$j"))).distinct.size == 1)
      assert(rows.map(r => r.getAs[String]("domain") ->
        r.getAs[Long]("n")).toMap == Map("easy" -> 12L, "hard" -> 2L))
    }
    val fin = out.filter(_.getAs[Long]("iter") == 6L)
      .map(r => r.getAs[String]("domain") ->
        (r.getAs[Double]("mean_loss"), r.getAs[Double]("q"))).toMap
    assert(fin("hard")._1 > fin("easy")._1,
      s"hard domain should stay lossier: $fin")
    assert(fin("hard")._2 > fin("easy")._2,
      s"DRO must upweight the hard domain: $fin")
    // at w=0 every loss is ln 2 -> the first q update keeps uniform
    val it1 = out.filter(_.getAs[Long]("iter") == 1L)
    assert(it1.forall(_.getAs[Double]("q") == 0.5))
  }

  test("corpusCurate: manifest equals the stage-by-stage composition of the tested pieces") {
    import spark.implicits._
    import graft.operators.{Curate, Dedup, QualityModel}
    val dup = "the quick brown fox jumps over the lazy dog again today"
    val docs = ((1L to 3L).map(i => (i, dup)) ++ Seq(
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "the of and to in for with on that is the of and to in"),
      (6L, ""), // invalid: dropped by the feature-validity filter
      (7L, "one two three four five six seven eight nine ten eleven twelve")))
      .toDF("doc_id", "text")
    val out = Curate
      .corpusCurate(docs, "doc_id", "text", nShards = 4)
      .collect()
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("shard")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_chars"),
          r.getAs[Long]("min_id"), r.getAs[Long]("max_id"),
          r.getAs[Long]("digest"))).toMap
    // independent composition from the stage operators
    val removed = Dedup
      .ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(_.getAs[Long]("id_b")).toSet
    assert(removed == Set(2L, 3L)) // the near-dup copies, minimum kept
    val deduped = docs.where(!col("doc_id").isin(removed.toSeq: _*))
    val keptIds = QualityModel
      .qualityFilterExecute(deduped, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    def bucket(id: Long, salt: String): Long =
      java.lang.Long.parseLong(
        sha256hex(id.toString + salt).substring(0, 8), 16) % 10000L
    val texts = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val expected = keptIds.toSeq.map { id =>
      val split =
        if (bucket(id, "graft") < 9000) "train"
        else if (bucket(id, "graft") < 9500) "valid" else "test"
      val shard = bucket(id, "shard") % 4
      val fp = java.lang.Long.parseLong(
        sha256hex(s"$id:${texts(id)}").substring(0, 15), 16)
      (split, shard) -> (id, texts(id).length.toLong, fp)
    }.groupBy(_._1).map { case (k, vs) =>
      val ids = vs.map(_._2._1)
      k -> (ids.size.toLong, vs.map(_._2._2).sum, ids.min, ids.max,
        vs.map(_._2._3).reduce(_ ^ _))
    }
    assert(keptIds.nonEmpty && out == expected,
      s"kept=$keptIds out=$out expected=$expected")
  }

  test("doremiSelect: bounds proportional to learned q (max domain whole), keep = deterministic bucket coin") {
    import spark.implicits._
    import graft.operators.QualityModel
    val stop = "the of and to in for with on that is"
    val rare = "xyzzy qwerty plugh zork grue frobozz mumble foo"
    val mixed = "the of and xyzzy qwerty plugh"
    val docs =
      (1L to 6L).map(i => (i, stop, "en", "easy")) ++
        (7L to 12L).map(i => (i, rare, "fr", "easy")) ++
        Seq((13L, mixed, "en", "hard"), (14L, mixed, "fr", "hard"))
    val df = docs.toDF("doc_id", "text", "lang", "source")
    val out = QualityModel
      .doremiSelect(df, "doc_id", "text", "lang", "source")
      .collect()
    // independent replay: final q from the tested groupDroTrain
    val fin = QualityModel.groupDroTrain(
      QualityModel.docFeaturesWith(df, "text", "lang", Seq("source")),
      Seq("x1", "x2", "x3"), "y", "source", iterations = 6)
      .where(col("iter") === 6L).collect()
      .map(r => r.getAs[String]("domain") -> r.getAs[Double]("q")).toMap
    val qmax = fin.values.max
    val bounds = fin.map { case (d, q) =>
      d -> BigDecimal(10000.0 * q / qmax)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // the DRO test's hard domain carries the larger q -> the whole slice
    assert(bounds("hard") == 10000L && bounds("easy") < 10000L, s"$bounds")
    val expected = docs.collect {
      case (id, _, _, src)
        if java.lang.Long.parseLong(
          sha256hex(id.toString + "doremi").substring(0, 8), 16) % 10000L <
          bounds(src) => (id, src, bounds(src))
    }.toSet
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
      r.getAs[Long]("bound"))).toSet == expected)
    assert(out.nonEmpty)
  }

  test("semDedupExecute: duplicate pair keeps the farthest-from-centroid member; unassigned vectors survive") {
    import spark.implicits._
    import graft.operators.Similarity
    // centroid = id 0; ids 0, 1, 3 form a duplicate clique at threshold
    // 0.9 and the pairwise-loser rule keeps only the farthest-from-
    // centroid member (id 3): id 0 (cos 1.0, the centroid itself is a
    // corpus member) and id 1 lose their pairs; id 5 is far from all;
    // id 7 is the zero vector (never assigned, never removable)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (3L, Array(0.8f, 0.3f)),
      (5L, Array(0.0f, 1.0f)),
      (7L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val verdict = Similarity.semDedup(
      emb, "vec_id", "embedding", col("vec_id") === 0L, threshold = 0.9)
      .collect().map(r =>
        r.getAs[Long]("vec_id") -> r.getAs[Boolean]("removed")).toMap
    assert(verdict(0L) && verdict(1L) && !verdict(3L) && !verdict(5L),
      s"verdict=$verdict")
    val kept = Similarity.semDedupExecute(
      emb, "vec_id", "embedding", col("vec_id") === 0L, threshold = 0.9)
      .orderBy("vec_id").collect()
    assert(kept.map(_.getAs[Long]("vec_id")).toSeq == Seq(3L, 5L, 7L))
    // content witness: dims + 6-dp norm
    val k3 = kept.find(_.getAs[Long]("vec_id") == 3L).get
    assert(k3.getAs[Long]("n_dims") == 2L)
    assert(math.abs(k3.getAs[Double]("norm") -
      math.rint(math.sqrt(0.8 * 0.8 + 0.3 * 0.3) * 1e6) / 1e6) < 1e-12)
  }

  test("ccnetSelect: tail tertile and unscored docs dropped, head/middle kept with content pins") {
    import spark.implicits._
    import graft.operators.Ranking
    // lang en: scores 0.9/0.5/0.1 -> head/middle/tail; one null-score doc
    val docs = Seq(
      (1L, "en", Option(0.9), "best doc"),
      (2L, "en", Option(0.5), "middle doc"),
      (3L, "en", Option(0.1), "tail doc"),
      (4L, "en", None: Option[Double], "unscored doc"))
      .toDF("doc_id", "lang", "score", "text")
    val kept = Ranking.ccnetSelect(docs, "doc_id", "lang", "score", "text")
      .orderBy("doc_id").collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(kept.map(_.getAs[String]("bucket")).toSeq ==
      Seq("head", "middle"))
    assert(kept(0).getAs[String]("text_sha") == sha256hex("best doc"))
    assert(kept(1).getAs[Long]("n_chars") == "middle doc".length.toLong)
    // agreement with the verdict relation: kept = buckets minus tail
    val buckets = Ranking.ccnetBuckets(
      docs.select(col("doc_id"), col("lang"), col("score")),
      "doc_id", "lang", "score")
      .where(col("bucket") =!= "tail")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(buckets == Seq(1L, 2L))
  }

  test("selfRepeatExecute: later occurrence of a repeated run is cut, earliest kept; clean docs untouched") {
    import spark.implicits._
    import graft.operators.Dedup
    val p = "the quick brown fox jumps over the lazy dog. "
    val uniq = "completely unique prose without any internal duplication"
    val docs = Seq((1L, p + p), (2L, uniq)).toDF("doc_id", "text")
    val out = Dedup.selfRepeatExecute(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: the single maximal repeat is the whole period at offsets
    // 1 and |p|+1 -> the later copy [46, 91) is cut, leaving exactly p
    assert(out(0).getAs[Long]("orig_len") == 2L * p.length)
    assert(out(0).getAs[Long]("clean_len") == p.length.toLong)
    assert(out(0).getAs[Long]("n_cut_spans") == 1L)
    assert(out(0).getAs[String]("clean_sha") ==
      sha256hex(p).substring(0, 16))
    // doc 2: no >=20-char repeat -> identity
    assert(out(1).getAs[Long]("clean_len") == uniq.length.toLong)
    assert(out(1).getAs[Long]("n_cut_spans") == 0L)
    assert(out(1).getAs[String]("clean_sha") ==
      sha256hex(uniq).substring(0, 16))
    // idempotence on this corpus: a second pass changes nothing
    val again = Dedup.selfRepeatExecute(
      Seq((1L, p), (2L, uniq)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(again.map(_.getAs[Long]("n_cut_spans")).toSeq == Seq(0L, 0L))
  }

  test("ndcgAtK: pooled-judgment semantics — unjudged gain 0, ideal ranks the pool, quantized terms") {
    import spark.implicits._
    import graft.operators.Search
    // query 1: pool = {a:1.0, b:0.5, c:0.2}; system returns b,a,d (d unjudged)
    val sys = Seq((1L, "b", 0.9), (1L, "a", 0.8), (1L, "d", 0.7))
      .toDF("query_id", "item", "score")
    val qrels = Seq((1L, "a", 1.0), (1L, "b", 0.5), (1L, "c", 0.2))
      .toDF("query_id", "item", "rel")
    val out = Search.ndcgAtK(sys, qrels, "query_id", "item", "score", "rel")
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_retrieved") == 3L)
    // replicate the contract: gain*disc quantized HALF_UP at 12dp,
    // summed, 6-dp at the readout
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal): Double =
      x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d = (1 to 3).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    val dcg = q12(0.5 * d(0)) + q12(1.0 * d(1)) + q12(0.0 * d(2))
    val idcg = q12(1.0 * d(0)) + q12(0.5 * d(1)) + q12(0.2 * d(2))
    assert(r.getAs[Double]("dcg") == r6(dcg))
    assert(r.getAs[Double]("idcg") == r6(idcg))
    val ndcg = BigDecimal(dcg.toDouble / idcg.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("ndcg") == ndcg)
    // a perfect run scores 1.0
    val perfect = Search.ndcgAtK(
      Seq((1L, "a", 0.9), (1L, "b", 0.8), (1L, "c", 0.7))
        .toDF("query_id", "item", "score"),
      qrels, "query_id", "item", "score", "rel").head()
    assert(perfect.getAs[Double]("ndcg") == 1.0)
  }

  test("bm25MultiTopK: df stopping drops common terms, rarest-first term budget, shorter docs outrank") {
    import spark.implicits._
    import graft.operators.Search
    val corpus = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana"),
      (3L, "apple zebra"),
      (4L, "unrelated words here"))
      .toDF("doc_id", "text")
    val queries = Seq((100L, "banana zebra")).toDF("doc_id", "text")
    val out = Search.bm25MultiTopK(
      corpus, queries, "doc_id", "text", maxDf = 2L, maxTermsPerQuery = 2)
      .orderBy(col("score").desc, col("doc_id")).collect()
    // apple (df=3) is stopped; zebra (df=1) and banana (df=2) survive.
    // zebra's idf dominates -> doc 3 first; banana: doc 2 (shorter)
    // outranks doc 1; doc 4 matches nothing
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 2L, 1L))
    assert(out.forall(_.getAs[Long]("n_terms") == 1L))
    assert(out(0).getAs[Long]("query_id") == 100L)
    assert(out(1).getAs[Double]("score") > out(2).getAs[Double]("score"))
    // term budget: maxTermsPerQuery=1 keeps only the rarest term (zebra)
    val one = Search.bm25MultiTopK(
      corpus, queries, "doc_id", "text", maxDf = 2L, maxTermsPerQuery = 1)
      .collect()
    assert(one.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L))
  }

  test("kneserNeyScore: hand-replayed interpolated KN on a tiny corpus — continuation counts, discounting, decimal sums") {
    import spark.implicits._
    import graft.operators.LangModel
    // corpus: one doc "a b c a b d" — trigrams abc, bca, cab, abd;
    // bigram types ab(2) bc ca bd -> bt = 4
    val docs = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val r = LangModel.kneserNeyScore(docs, "doc_id", "text").head()
    assert(r.getAs[Long]("n_trigrams") == 4L)
    // hand-computed interpolated KN (D = 0.75):
    //   P(c|a,b) = P(d|a,b) = (0.25 + 0.75*2*P2)/2 with
    //     P2 = (0.25 + 0.75*2*0.25)/2 = 0.3125      -> 0.359375
    //   P(a|b,c) = P(b|c,a) = (0.25 + 0.75*1*0.4375)/1 = 0.578125
    //     with P2 = (0.25 + 0.75*1*0.25)/1 = 0.4375
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val slp = q12(math.log(0.359375)) * 2 + q12(math.log(0.578125)) * 2
    val avg = BigDecimal(slp.toDouble / 4.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ppl = BigDecimal(math.exp(-(slp.toDouble / 4.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("avg_logprob") == avg)
    assert(r.getAs[Double]("perplexity") == ppl)
  }

  test("gopherRules: each rule trips on its own pathology, integer cuts, conjunctive keep") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val good = ("the quick brown fox jumps over the lazy dog " * 7).trim
    val bulletLine = "- the and of seven eight"
    val bullets = List.fill(10)(bulletLine).mkString("\n")
    val ell = (List.fill(4)("the and of seven eight...") ++
      List.fill(6)("the and of seven eight")).mkString("\n")
    val docs = Seq(
      (1L, good), (2L, "tiny doc"), (3L, bullets), (4L, ell))
      .toDF("doc_id", "text")
    val out = CorpusStats.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: 63 words, mean 35/9, stopword-rich, no symbols -> keep
    assert(out(0).getAs[Boolean]("keep"))
    assert(out(0).getAs[Long]("n_words") == 63L)
    assert(out(0).getAs[Double]("mean_word_len") ==
      BigDecimal(35.0 / 9.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 2: 2 words -> word-count rule fails (and others), keep=false
    assert(!out(1).getAs[Boolean]("keep"))
    assert(!out(1).getAs[Boolean]("ok_word_count"))
    // doc 3: every line a bullet -> ONLY the bullet rule fails
    assert(!out(2).getAs[Boolean]("keep"))
    assert(!out(2).getAs[Boolean]("ok_bullet_lines"))
    assert(out(2).getAs[Boolean]("ok_word_count") &&
      out(2).getAs[Boolean]("ok_mean_word_len") &&
      out(2).getAs[Boolean]("ok_symbol_ratio") &&
      out(2).getAs[Boolean]("ok_alpha_words") &&
      out(2).getAs[Boolean]("ok_stop_hits"))
    // doc 4: 4/10 lines end in ellipsis -> ellipsis fails, symbol rule
    // holds at the 10*4 <= 50 boundary
    assert(!out(3).getAs[Boolean]("keep"))
    assert(!out(3).getAs[Boolean]("ok_ellipsis_lines"))
    assert(out(3).getAs[Boolean]("ok_symbol_ratio"))
  }

  test("mmrDiversify: a near-dup of the first pick is deferred behind a diverse lower-relevance candidate") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (10L, Array(1.0f, 0.0f)),   // a
      (11L, Array(0.9f, 0.1f)),   // b — near-dup of a
      (12L, Array(0.0f, 1.0f)))   // c — orthogonal
      .toDF("vec_id", "embedding")
    val pool = Seq((1L, 10L, 0.95), (1L, 11L, 0.94), (1L, 12L, 0.6))
      .toDF("query_id", "neighbor_id", "cos")
    val out = Similarity.mmrDiversify(
      pool, emb, "query_id", "neighbor_id", "cos", "vec_id", "embedding",
      lambda = 0.7, k = 3)
      .orderBy("rank").collect()
    // pure-relevance order would be a, b, c; MMR picks a, then c
    // (0.7*0.6 - 0.3*0 = 0.42 beats b's 0.7*0.94 - 0.3*~0.99 ~= 0.36)
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(10L, 12L, 11L))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    assert(out(0).getAs[Double]("rel") == 0.95)
  }

  test("recallCurve: per-k intersection over ranked lists, mean and worst-query recall") {
    import spark.implicits._
    import graft.operators.Search
    val exact = Seq((1L, "a", 0.9), (1L, "b", 0.8), (1L, "c", 0.7))
      .toDF("query_id", "item", "score")
    val sys = Seq((1L, "a", 0.9), (1L, "x", 0.85), (1L, "b", 0.8))
      .toDF("query_id", "item", "score")
    val out = Search.recallCurve(
      sys, exact, "query_id", "item", "score", kMax = 3)
      .orderBy("k").collect()
    assert(out.map(_.getAs[Int]("k")).toSeq == Seq(1, 2, 3))
    assert(out.map(_.getAs[Long]("n_queries")).toSeq == Seq(1L, 1L, 1L))
    assert(out.map(_.getAs[Double]("mean_recall")).toSeq ==
      Seq(1.0, 0.5, 0.666667))
    assert(out.map(_.getAs[Double]("min_recall")).toSeq ==
      Seq(1.0, 0.5, 0.666667))
  }

  test("minhash clusters: identical docs form one min-id-labeled component — agrees with the exact clusters here") {
    import graft.operators.{Clustering, Dedup}
    import spark.implicits._
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val dup2 = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, dup), (2L, dup), (5L, dup),
      (3L, dup2), (4L, dup2),
      (9L, "a lone document sharing nothing with the others"))
      .toDF("doc_id", "text")
    val lsh = Clustering.dedupClusters(
      Dedup.minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.5))
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(lsh.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 1L))
    val exact = Clustering.dedupClusters(
      Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5))
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(lsh.toSeq == exact.toSeq)
  }

  test("naiveBayesFilter: one-pass class counts separate the vocabularies; exact-decimal keep boundary") {
    import spark.implicits._
    import graft.operators.QualityModel
    // positives: stopword-rich prose (quality label 1); negatives:
    // punct-heavy gibberish (label 0) with a disjoint vocabulary
    val pos = "the and of to in is that it the and of to in is that it the and of to in"
    val neg = "zzzq!!! wwwk??? vvvm,,, qqqt;;; zzzq!!! wwwk???"
    val docs = ((1L to 6L).map(i => (i, pos)) ++
      (11L to 16L).map(i => (i, neg))).toDF("doc_id", "text")
    val out = QualityModel.naiveBayesFilter(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 21 unigrams + 20 bigrams per positive doc
    assert(byId(1L).getAs[Long]("n_feats") == 41L)
    (1L to 6L).foreach { i =>
      assert(byId(i).getAs[Boolean]("keep") &&
        byId(i).getAs[Double]("log_odds") > 0, s"doc $i should keep")
    }
    (11L to 16L).foreach { i =>
      assert(!byId(i).getAs[Boolean]("keep") &&
        byId(i).getAs[Double]("log_odds") < 0, s"doc $i should drop")
    }
  }

  test("kneserNeyCrossScore: level-by-level backoff for unseen contexts, OOV counted not smudged") {
    import spark.implicits._
    import graft.operators.LangModel
    val train = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"),  // fully seen trigram -> highest order
      (11L, "a b z"),  // unseen last word -> OOV
      (12L, "x y c"),  // unseen bigram AND middle -> unigram level
      (13L, "b d c"))  // c(bd)>0 but no trigram mass -> t12-null guard
      .toDF("doc_id", "text")
    val out = LangModel.kneserNeyCrossScore(train, score, "doc_id", "text")
      .orderBy("id").collect()
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal): Double =
      x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 10: P(c|a,b) = 0.359375 (the E191 hand computation)
    assert(out(0).getAs[Long]("n_oov") == 0L)
    assert(out(0).getAs[Double]("avg_logprob") == r6(q12(math.log(0.359375))))
    // doc 11: z has no continuation mass -> 1 OOV, nothing scored
    assert(out(1).getAs[Long]("n_trigrams") == 1L &&
      out(1).getAs[Long]("n_oov") == 1L)
    assert(out(1).isNullAt(out(1).fieldIndex("avg_logprob")))
    assert(out(1).getAs[Double]("oov_rate") == 1.0)
    // docs 12/13: both fall through to the unigram P(c) = 1/4 — doc 13
    // via the t12-null guard (c(bd) > 0 but no trigram starts (b,d))
    assert(out(2).getAs[Double]("avg_logprob") == r6(q12(math.log(0.25))))
    assert(out(3).getAs[Double]("avg_logprob") == r6(q12(math.log(0.25))))
    assert(out(3).getAs[Long]("n_oov") == 0L)
  }

  test("qualityGate: stage verdicts agree with the standalone operators; conjunctive keep; corpus preserved") {
    import spark.implicits._
    import graft.operators.{CorpusStats, Curate, QualityModel, Ranking}
    import graft.functions.TextFunctions
    val good = ("the quick brown fox jumps over the lazy dog " * 7).trim
    val docs = Seq(
      (1L, good),
      (2L, "tiny doc"),
      (3L, List.fill(10)("- the and of seven eight").mkString("\n")),
      (4L, "zzzq!!! wwwk??? vvvm,,, qqqt;;; zzzq!!! wwwk???"))
      .toDF("doc_id", "text")
    val out = Curate.qualityGate(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    // keep is exactly the conjunction of the row's own stage verdicts
    out.foreach { r =>
      val expect = r.getAs[Boolean]("rules_ok") && r.getAs[Boolean]("nb_ok") &&
        r.getAs[String]("bucket") != "tail" && r.getAs[String]("bucket") != "none"
      assert(r.getAs[Boolean]("keep") == expect, s"row $r")
    }
    // each stage agrees with its standalone operator
    val rules = CorpusStats.gopherRules(docs, "doc_id", "text")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val nb = QualityModel.naiveBayesFilter(docs, "doc_id", "text")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val staged = docs.select(col("doc_id"),
      TextFunctions.langId(col("text")).as("lang"),
      round(TextFunctions.qualityScore(col("text")), 6).as("score"))
    val buckets = Ranking.ccnetBuckets(staged, "doc_id", "lang", "score")
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("rules_ok") == rules(id))
      assert(r.getAs[Boolean]("nb_ok") == nb(id))
      assert(r.getAs[String]("bucket") == buckets.getOrElse(id, "none"))
    }
    // the tiny doc fails the rules, so it cannot be kept
    assert(!out(1).getAs[Boolean]("keep"))
  }

  test("knnLabelEval: leave-one-out majority vote; rank and vote ties break deterministically") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(0.1f, 0.9f), 1),
      (7L, Array(0.7f, 0.7f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelEval(
      emb, "vec_id", "embedding", "label",
      col("vec_id") === 1L || col("vec_id") === 7L, k = 2)
      .orderBy("query_id").collect()
    // query 1: top-2 = {2 (same class), 7} -> 1-1 vote tie -> label 0
    assert(out(0).getAs[Long]("true_label") == 0L &&
      out(0).getAs[Long]("pred_label") == 0L &&
      out(0).getAs[Boolean]("correct"))
    // query 7 sits symmetric between the classes: cos ties rank by id
    // (2 then 5), the 1-1 vote ties to the smaller label -> pred 0,
    // true 1 -> incorrect (pins BOTH tie-breaks)
    assert(out(1).getAs[Long]("true_label") == 1L &&
      out(1).getAs[Long]("pred_label") == 0L &&
      !out(1).getAs[Boolean]("correct"))
  }

  test("clusterPurity: majority label and 6-dp purity per nearest-centroid cluster") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(0.1f, 0.9f), 1),
      (7L, Array(0.7f, 0.7f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterPurity(
      emb, "vec_id", "embedding", "label",
      col("vec_id") === 1L || col("vec_id") === 4L)
      .orderBy("centroid_id").collect()
    // 7 is equidistant from both centroids -> assignment ties to the
    // smaller centroid id -> cluster 1 = {1, 2, 7}: majority 0, 2/3
    assert(out(0).getAs[Long]("centroid_id") == 1L &&
      out(0).getAs[Long]("n_members") == 3L &&
      out(0).getAs[Long]("majority_label") == 0L &&
      out(0).getAs[Long]("n_majority") == 2L &&
      out(0).getAs[Double]("purity") == 0.666667)
    assert(out(1).getAs[Long]("centroid_id") == 4L &&
      out(1).getAs[Long]("n_members") == 2L &&
      out(1).getAs[Double]("purity") == 1.0)
  }

  test("silhouette: centroids score 1, midpoints 0, tight members near 1; per-cluster rollup") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),  // centroid A
      (2L, Array(0.9f, 0.1f)),  // tight member of A
      (4L, Array(0.0f, 1.0f)),  // centroid B
      (5L, Array(0.1f, 0.9f)),  // tight member of B
      (7L, Array(0.7f, 0.7f)))  // equidistant -> a = b -> s = 0
      .toDF("vec_id", "embedding")
    val out = Similarity.silhouette(
      emb, "vec_id", "embedding",
      col("vec_id") === 1L || col("vec_id") === 4L)
      .orderBy("centroid_id").collect()
    // cluster A holds {1, 2, 7} (7 ties to the smaller centroid id)
    assert(out(0).getAs[Long]("centroid_id") == 1L &&
      out(0).getAs[Long]("n_members") == 3L)
    // 7's a = b -> 0 is the cluster's worst member
    assert(out(0).getAs[Double]("min_silhouette") == 0.0)
    // cluster B = {4, 5}: the centroid scores exactly 1 (a = 0, b = 1),
    // the tight member is near 1 -> mean and min both high
    assert(out(1).getAs[Long]("centroid_id") == 4L &&
      out(1).getAs[Long]("n_members") == 2L)
    assert(out(1).getAs[Double]("min_silhouette") > 0.98)
    assert(out(1).getAs[Double]("mean_silhouette") > 0.99 &&
      out(1).getAs[Double]("mean_silhouette") <= 1.0)
  }

  test("dedupSurvival: exact pair/removal/survivor counts per threshold, boundary inclusive") {
    import spark.implicits._
    import graft.operators.Dedup
    val dup = "p q r s t u"
    val docs = Seq(
      (1L, dup), (2L, dup),            // J = 1.0
      (3L, "a b c d e"), (4L, "a b c x y")) // one shared shingle of 5 -> J = 0.2
      .toDF("doc_id", "text")
    val out = Dedup.dedupSurvival(docs, "doc_id", "text")
      .orderBy("threshold").collect()
    assert(out.length == 9)
    val byT = out.map(r => (math.rint(r.getAs[Double]("threshold") * 10).toInt,
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_removed"),
        r.getAs[Long]("n_survivors")))).toMap
    // t = 0.1 and 0.2 (inclusive boundary): both pairs fire
    assert(byT(1) == ((2L, 2L, 2L)) && byT(2) == ((2L, 2L, 2L)))
    // t = 0.3 .. 0.9: only the identical pair
    (3 to 9).foreach(t => assert(byT(t) == ((1L, 1L, 3L)), s"t=$t"))
  }

  test("lshRecallCurve: the J=1 band is deterministically fully caught; bands partition the exact relation") {
    import spark.implicits._
    import graft.operators.Dedup
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, dup), (2L, dup),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val out = Dedup.lshRecallCurve(docs, "doc_id", "text").collect()
    // the only exact pair at J >= 0.5 is the identical one -> band 10,
    // caught with certainty (J=1 => identical signatures)
    assert(out.length == 1)
    assert(out(0).getAs[Long]("band") == 10L &&
      out(0).getAs[Long]("n_exact") == 1L &&
      out(0).getAs[Long]("n_caught") == 1L &&
      out(0).getAs[Double]("recall") == 1.0)
  }

  test("minhashDedupExecute: identical docs collapse to the minimum id — agrees with the exact executor here") {
    import spark.implicits._
    import graft.operators.Dedup
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, dup),
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDedupExecute(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // J=1 pairs have identical signatures -> identical band hashes ->
    // deterministically caught; on this corpus LSH and exact agree
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 4L))
    val exact = Dedup.jaccardDedupExecute(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ==
      exact.map(_.getAs[Long]("doc_id")).toSeq)
    assert(out(0).getAs[String]("text_sha") == sha256hex(dup))
  }
}

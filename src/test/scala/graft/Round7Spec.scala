package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.sf001Dir
import graft.operators.{Clustering, CorpusStats, Events}

/** Round-7 operator specs: E118 tsProfile, E119 interarrivalStats,
  * E120 hourlyActivity, E121 volumeCusum, E122 assocRules,
  * E123 docFrequency, E124 dedupYield, E125 tokenizerFertility,
  * E126 sessionStats. */
class Round7Spec extends SparkSuite {
  private val usPerDay = 86400000000L

  private val usPerHour = 3600000000L

  test("tsProfile: completeness, span, cardinality on a long ts column") {
    import spark.implicits._
    // two days, one null, one duplicate instant
    val d0 = 19000L * usPerDay
    val df = Seq(
      Some(d0), Some(d0), Some(d0 + usPerDay + usPerHour),
      None: Option[Long]
    ).toDF("ts_us").select((col("ts_us") * 1000).as("ts")) // nanos long
    val r = Events.tsProfile(df, "ts").head()
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("n_present") == 3L)
    assert(r.getAs[Double]("completeness") == 0.75)
    assert(r.getAs[Long]("n_distinct") == 2L)
    assert(r.getAs[Long]("n_days") == 2L)
    assert(r.getAs[Long]("span_days") == 2L)
    assert(r.getAs[String]("min_day") == "2022-01-08")
    assert(r.getAs[String]("max_day") == "2022-01-09")
  }

  test("interarrivalStats: per-user gaps, cross-user boundaries excluded") {
    import spark.implicits._
    // user 1: gaps 1s, 3s; user 2: single event (no gap)
    val df = Seq(
      (1L, 0L, 1L), (1L, 1000000L, 2L), (1L, 4000000L, 3L),
      (2L, 500000L, 4L)
    ).toDF("user_id", "ts_us", "event_id")
    val r = Events.interarrivalStats(df, "user_id", "ts_us", "event_id").head()
    assert(r.getAs[Long]("n_gaps") == 2L)
    assert(r.getAs[Long]("n_users") == 1L)
    assert(r.getAs[Long]("min_gap_us") == 1000000L)
    assert(r.getAs[Long]("max_gap_us") == 3000000L)
    assert(r.getAs[Double]("mean_gap_s") == 2.0)
    assert(r.getAs[Double]("p50_s") == 2.0) // interpolated midpoint
  }

  test("hourlyActivity: dow/hour integer algebra (epoch day 0 = Thursday)") {
    import spark.implicits._
    val df = Seq(
      (0L * usPerHour, 1L),            // 1970-01-01 00h: dow 4 (Thu)
      (3L * usPerDay + 5 * usPerHour, 1L), // Sunday 05h: dow 0
      (3L * usPerDay + 5 * usPerHour, 2L)
    ).toDF("ts_us", "user_id")
    val out = Events.hourlyActivity(df, "ts_us", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_users"))).toMap
    assert(out((4L, 0L)) == (1L, 1L))
    assert(out((0L, 5L)) == (2L, 2L))
  }

  test("volumeCusum: zero-sum deviations, extremum day flagged") {
    import spark.implicits._
    // volumes 10, 30, 20 over three days -> mean 20, devs -10, +10, 0,
    // cusum -10, 0, 0: peak |cusum| = 10 on day 1 only
    val rows = (Seq.fill(10)(0L) ++ Seq.fill(30)(1L) ++ Seq.fill(20)(2L))
      .map(d => d * usPerDay)
    val df = rows.toDF("ts_us")
    val out = Events.volumeCusum(df, "ts_us").collect()
      .map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("cusum"),
          r.getAs[Int]("is_changepoint"))).toMap
    assert(out("1970-01-01") == (10L, -10.0, 1))
    assert(out("1970-01-02") == (30L, 0.0, 0))
    assert(out("1970-01-03") == (20L, 0.0, 0))
  }

  test("assocRules: support/confidence/lift on a known basket set") {
    import spark.implicits._
    // 4 users: {a,b} {a,b} {a} {b,c} -> n=4, c_a=3, c_b=3, c_ab=2
    val df = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"), // duplicate event collapses
      (2L, "a"), (2L, "b"),
      (3L, "a"),
      (4L, "b"), (4L, "c")
    ).toDF("user_id", "event_type")
    val out = Events.assocRules(df, "user_id", "event_type")
      .collect().map(r => (r.getAs[String]("antecedent"),
        r.getAs[String]("consequent")) -> r).toMap
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("n_both") == 2L)
    assert(ab.getAs[Double]("support") == 0.5)
    assert(ab.getAs[Double]("confidence") == math.round(2.0 / 3.0 * 1e6) / 1e6)
    // lift = (2*4)/(3*3)
    assert(ab.getAs[Double]("lift") == math.round(8.0 / 9.0 * 1e6) / 1e6)
    // directed twin exists with its own confidence denominator
    val bc = out(("b", "c"))
    assert(bc.getAs[Double]("confidence") == math.round(1.0 / 3.0 * 1e6) / 1e6)
    assert(out.contains(("c", "b")) && !out.contains(("a", "c")))
  }

  test("docFrequency: df counts documents not instances; stopword flag") {
    import spark.implicits._
    val df = Seq(
      (1L, "the the the cat"),
      (2L, "the dog"),
      (3L, "fish")
    ).toDF("doc_id", "text")
    val out = CorpusStats.docFrequency(df, "text", k = 10)
      .collect().map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("df"), r.getAs[Double]("df_ratio"),
          r.getAs[Int]("is_stopword"))).toMap
    assert(out("the") == (2L, math.round(2.0 / 3.0 * 1e6) / 1e6, 1))
    assert(out("cat") == (1L, math.round(1.0 / 3.0 * 1e6) / 1e6, 0))
  }

  test("dedupYield: size histogram with removal counts over given clusters") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // size-3 cluster
      (4L, 4L), (5L, 4L),           // size-2
      (6L, 6L), (7L, 6L)            // size-2
    ).toDF("doc_id", "cluster_id")
    val corpus = (1L to 20L).toDF("doc_id")
    val out = Clustering.dedupYield(clusters, corpus)
      .collect().map(r => r.getAs[Long]("cluster_size") -> r).toMap
    assert(out(2L).getAs[Long]("n_clusters") == 2L)
    assert(out(2L).getAs[Long]("n_docs") == 4L)
    assert(out(2L).getAs[Long]("n_removed") == 2L)
    assert(out(3L).getAs[Long]("n_removed") == 2L)
    assert(out(3L).getAs[Long]("n_docs_total") == 20L)
  }

  test("tokenizerFertility: exact counts per language") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "ab cd"),   // ws 2, bpeish 2, chars 5, bytes 5
      (2L, "en", "a1!"),     // ws 1, bpeish 3 (letter, digit, symbol)
      (3L, "de", "über")     // ws 1, bpeish: non-ascii ü is a symbol char
    ).toDF("doc_id", "lang", "text")
    val out = CorpusStats.tokenizerFertility(df, "lang", "text")
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val en = out("en")
    assert(en.getAs[Long]("n_docs") == 2L)
    assert(en.getAs[Long]("n_ws_tokens") == 3L)
    assert(en.getAs[Long]("n_bpeish_tokens") == 5L)
    assert(en.getAs[Long]("n_chars") == 8L)
    assert(en.getAs[Long]("n_bytes") == 8L)
    assert(en.getAs[Double]("chars_per_token") == 1.6)
    val de = out("de")
    // "über": ü matches [^A-Za-z0-9\s], then "ber" letter-run
    assert(de.getAs[Long]("n_bpeish_tokens") == 2L)
    assert(de.getAs[Long]("n_chars") == 4L)
    assert(de.getAs[Long]("n_bytes") == 5L) // ü is 2 UTF-8 bytes
  }

  test("typeBurst: z-score against the type's own daily distribution") {
    import spark.implicits._
    // type a: 1,1,4 per day -> mean 2, var (1+1+16)/3-4 = 2, sd sqrt(2)
    // type b: constant 2/day -> sd 0, z null, flag 0
    val rows =
      Seq((0L, "a"), (1L, "a"), (2L, "a"), (2L, "a"), (2L, "a"), (2L, "a")) ++
        Seq((0L, "b"), (0L, "b"), (1L, "b"), (1L, "b"))
    val df = rows.map { case (d, t) => (d * usPerDay, t) }
      .toDF("ts_us", "event_type")
    val out = Events.typeBurst(df, "ts_us", "event_type").collect()
      .map(r => (r.getString(0), r.getAs[String]("day")) -> r).toMap
    val burst = out(("a", "1970-01-03"))
    assert(burst.getAs[Double]("z") ==
      math.round((4.0 - 2.0) / math.sqrt(2.0) * 1e6) / 1e6)
    assert(burst.getAs[Int]("is_burst") == 0) // z = 1.414 < 2
    assert(out(("b", "1970-01-01")).isNullAt(
      out(("b", "1970-01-01")).fieldIndex("z")))
    assert(out(("b", "1970-01-01")).getAs[Int]("is_burst") == 0)
  }

  test("userActivityHistogram: bit-length buckets, shares") {
    import spark.implicits._
    // users with 1, 1, 3, 8 events -> buckets 0, 0, 1, 3
    val df = (Seq.fill(1)(1L) ++ Seq.fill(1)(2L) ++ Seq.fill(3)(3L) ++
      Seq.fill(8)(4L)).toDF("user_id")
    val out = Events.userActivityHistogram(df, "user_id").collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(out(0L).getAs[Long]("n_users") == 2L)
    assert(out(0L).getAs[Long]("n_events") == 2L)
    assert(out(1L).getAs[Long]("n_users") == 1L)
    assert(out(3L).getAs[Long]("min_events") == 8L)
    assert(out(0L).getAs[Double]("users_share") == 0.5)
  }

  test("ngramContainment: subset doc scores ~1 toward its superset") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, core),                                  // 4 shingles, all in 2
      (2L, s"$core eta theta iota kappa"),         // superset of 1
      (3L, "totally unrelated words only here now")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .ngramContainment(df, "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment"))
      .toMap
    assert(out((1L, 2L)) == 1.0) // doc 1 fully contained in doc 2
    // reverse direction diluted: 4 shared / 8 shingles in doc 2
    assert(out((2L, 1L)) == 0.5)
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngramNovelty: unique vs shared trigram fractions") {
    import spark.implicits._
    val shared = "one two three four"
    val df = Seq(
      (1L, shared),                 // 2 shingles, both shared with doc 2
      (2L, s"$shared five"),        // 3 shingles, 1 unique
      (3L, "ab")                    // < n tokens: absent
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.ngramNovelty(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_unique"),
          r.getAs[Double]("novelty"))).toMap
    assert(out(1L) == (2L, 0L, 0.0))
    assert(out(2L) == (3L, 1L, math.round(1.0 / 3.0 * 1e6) / 1e6))
    assert(!out.contains(3L))
  }

  test("dimStats: dead and scale-skewed dimensions visible") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.0f, 1.0f, 100.0f)),
      (2L, Array(0.0f, 3.0f, -100.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.dimStats(df, "embedding")
      .collect().map(r => r.getAs[Long]("dim") -> r).toMap
    assert(out(0L).getAs[Long]("n_zero") == 2L) // dead dim
    assert(out(0L).getAs[Double]("mean") == 0.0)
    assert(out(1L).getAs[Double]("mean") == 2.0)
    assert(out(2L).getAs[Double]("min_x") == -100.0)
    assert(out(2L).getAs[Double]("max_x") == 100.0)
  }

  test("scorePercentile: RANK-tie percent_rank without a global window") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(0.1)), (2L, Some(0.1)), (3L, Some(0.5)), (4L, Some(0.9)),
      (5L, None: Option[Double])
    ).toDF("doc_id", "score")
    val out = graft.operators.Ranking.scorePercentile(df, "doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("percentile")).toMap
    // n = 4: pr = below/(n-1)
    assert(out(1L) == 0.0 && out(2L) == 0.0) // ties share rank
    assert(out(3L) == math.round(2.0 / 3.0 * 1e6) / 1e6)
    assert(out(4L) == 1.0)
    assert(!out.contains(5L)) // null score excluded
    // single-row corpus: percentile 0 by convention
    val single = graft.operators.Ranking.scorePercentile(
      Seq((9L, 0.4)).toDF("doc_id", "score"), "doc_id", "score")
    assert(single.head().getDouble(2) == 0.0)
  }

  test("joinCardinality: fan-out, exact join size, relationship class") {
    import spark.implicits._
    val left = Seq(1L, 1L, 2L, 3L, 4L).toDF("k")      // key 1 twice
    val right = Seq(1L, 2L, 2L, 9L).toDF("k")         // key 2 twice
    val r = graft.profiler.Integrity
      .joinCardinality(left, "k", right, "k").head()
    assert(r.getAs[Long]("n_left") == 5L && r.getAs[Long]("n_right") == 4L)
    assert(r.getAs[Long]("d_left") == 4L && r.getAs[Long]("d_right") == 3L)
    assert(r.getAs[Long]("matched_keys") == 2L)
    // 1: 2*1 + 2: 1*2 = 4 (DECIMAL(38,0) accumulator since r8, rendered
    // as DOUBLE since r9 so both engines print the estimate identically)
    assert(r.getAs[Double]("est_join_rows") == 4.0)
    assert(r.getAs[String]("relationship") == "M:N")
    // unique-unique sides classify 1:1
    val one = graft.profiler.Integrity.joinCardinality(
      Seq(1L, 2L).toDF("k"), "k", Seq(2L, 3L).toDF("k"), "k").head()
    assert(one.getAs[String]("relationship") == "1:1")
  }

  test("tableDigest: order-independent, any changed row flips it") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, null: String)).toDF("id", "s")
    val b = Seq((3L, null: String), (1L, "x"), (2L, "y")).toDF("id", "s")
    val c = Seq((1L, "x"), (2L, "z"), (3L, null: String)).toDF("id", "s")
    def dig(df: org.apache.spark.sql.DataFrame) = graft.profiler.Integrity
      .tableDigest(df, "t", Seq("id", "s")).head().getAs[Long]("digest")
    assert(dig(a) == dig(b))  // row order irrelevant
    assert(dig(a) != dig(c))  // one cell changed
    assert(graft.profiler.Integrity
      .tableDigest(a.limit(0), "t", Seq("id", "s")).head()
      .getAs[Long]("digest") == 0L) // empty table sentinel
  }

  test("langAgreement: confusion cells and per-declared shares") {
    import spark.implicits._
    val en = "the of and to in is was he for it"
    val df = Seq(
      (1L, "en", en), (2L, "en", en),
      (3L, "en", "zz qq ww rr tt yy"),  // zero evidence: ties-to-'de'
      (4L, "de", en)                    // declared de, detected en
    ).toDF("doc_id", "lang", "text")
    val out = graft.operators.CorpusStats
      .langAgreement(df, "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("share_of_declared"),
          r.getAs[Int]("is_match"))).toMap
    assert(out(("en", "en")) == (2L, math.round(2.0 / 3.0 * 1e6) / 1e6, 1))
    assert(out(("en", "de"))._3 == 0)
    assert(out(("de", "en")) == (1L, 1.0, 0))
  }

  test("jaccardHistogram: bands partition the pair relation") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val df = Seq(
      (1L, base), (2L, base),                 // J = 1 -> bucket 10
      (3L, s"$base x1 x2 x3 x4 x5 x6")        // partial overlap with 1, 2
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .jaccardHistogram(df, "doc_id", "text", n = 3, minJaccard = 0.1)
      .collect().map(r => r.getAs[Long]("bucket") ->
        r.getAs[Long]("n_pairs")).toMap
    assert(out(10L) == 1L)                    // the exact pair
    assert(out.values.sum == 3L)              // all three pairs binned
  }

  test("jsonKeyProfile: key counts, invalid and null handling") {
    import spark.implicits._
    val df = Seq(
      Some("""{"a": 1, "b": 2}"""),
      Some("""{"a": 3}"""),
      Some("not json"),
      None: Option[String]
    ).toDF("props")
    val out = graft.operators.Events.jsonKeyProfile(df, "props")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_present"), r.getAs[Double]("share"))).toMap
    assert(out("a") == (2L, 0.5))
    assert(out("b") == (1L, 0.25))
    assert(out("<invalid>") == (1L, 0.25))
  }

  test("normalizedExact: case/whitespace variants collapse, raw variants counted") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("Hello   World")),
      (2L, Some("hello world")),      // same after normalization
      (3L, Some("  hello world  ")),  // same after trim
      (4L, Some("different text")),
      (5L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.normalizedExact(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dup_count"), r.getAs[Long]("n_raw_variants"))).toMap
    assert(out(1L) == (3L, 3L))  // three raw variants, one normalized
    assert(out(4L) == (1L, 1L))
    assert(out(5L) == (1L, 0L))  // null text group counts no raw variants
  }

  test("scoreDeciles: token-weighted bands, p=1.0 folds into decile 9") {
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, i.toDouble / 20.0, 10L * i))
      .toDF("doc_id", "score", "w")
    val out = graft.operators.Ranking.scoreDeciles(df, "doc_id", "score", "w")
      .collect().map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    // 20 distinct scores, pr = (i-1)/19; decile floor(10*pr) capped at 9
    assert(out.values.map(_._1).sum == 20L)
    assert(out(9L)._1 >= 2L)  // the pr=1.0 row folded into band 9
    assert(out(0L)._2 == (10L + 20L))  // docs 1,2 land in band 0
  }

  test("partitionPruningAudit: all properties hold on a lang-partitioned stage") {
    val out = graft.sources.FormatRoundtrip.partitionPruningAudit(
      spark, s"$sf001Dir/documents.parquet", "lang", "en")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out.size == 3 && out.values.forall(identity), out.toString)
  }

  test("qualityWeightedSample: deterministic, monotone in score, null-safe") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, (i % 11).toDouble / 10.0))
      .toDF("doc_id", "score")
    val s1 = graft.operators.Sampling
      .qualityWeightedSample(df, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    val s2 = graft.operators.Sampling
      .qualityWeightedSample(df, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2) // pure function of (key, score)
    // score 0 can never be kept, score 1.0 always kept
    assert(!s1.exists(id => id % 11 == 0))
    assert((1L to 200L).filter(_ % 11 == 10).forall(s1.contains))
    // null/NaN scores drop instead of sampling
    val withNull = Seq((1L, Some(0.5)), (2L, None: Option[Double]))
      .toDF("doc_id", "score")
    assert(graft.operators.Sampling
      .qualityWeightedSample(withNull, "doc_id", "score")
      .where(col("doc_id") === 2L).count() == 0L)
    // a RAISED score can only ADD docs (monotone keep rule)
    val boosted = df.select(col("doc_id"),
      least(col("score") + 0.3, lit(1.0)).as("score"))
    val s3 = graft.operators.Sampling
      .qualityWeightedSample(boosted, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(s1.subsetOf(s3))
  }

  test("clusterBalance: uniform cells maximize effective clusters; skew collapses it") {
    import spark.implicits._
    // 4 well-separated centroid ids among 40 vectors: ids 0,10,20,30 are
    // centroids (pred: id % 10 == 0); each vector is one-hot so every
    // group of 10 assigns to its own centroid -> perfectly uniform
    val vecs = (0 until 40).map { i =>
      val arr = Array.fill(4)(0.0f); arr(i / 10) = 1.0f
      (i.toLong, arr)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val r = graft.operators.Similarity.clusterBalance(
      df, "vec_id", "embedding", col("vec_id") % 10 === 0).head()
    assert(r.getAs[Long]("n_clusters") == 4L)
    assert(r.getAs[Long]("n_assigned") == 40L)
    assert(r.getAs[Double]("effective_clusters") == 4.0) // uniform
    assert(r.getAs[Double]("max_share") == 0.25)
  }

  test("htmlStrip: tags out, whitespace collapsed, entities untouched") {
    import spark.implicits._
    val df = Seq(
      "<p>hello   <b>world</b></p>",
      "no tags here",
      "<div class=\"x\">a&amp;b</div>"
    ).toDF("t").select(graft.functions.TextFunctions.htmlStrip(col("t")).as("c"))
    val out = df.as[String].collect()
    assert(out(0) == "hello world")
    assert(out(1) == "no tags here")
    assert(out(2) == "a&amp;b") // entity decoding is out of scope
  }

  test("sentenceCount / meanSentenceChars: terminator runs, blank runs dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("One two. Three!  Four five six?")),
      (2L, Some("no terminator at all")),
      (3L, Some("...")),
      (4L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      graft.functions.TextFunctions.sentenceCount(col("text")).as("n"),
      graft.functions.TextFunctions.meanSentenceChars(col("text")).as("m"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L)._1.contains(3L))
    assert(out(2L)._1.contains(1L))
    assert(out(3L)._1.contains(0L) && out(3L)._2.isEmpty) // only terminators
    assert(out(4L)._1.isEmpty) // null text stays null
  }

  test("charClassStats: exact class partition of the character mass") {
    import spark.implicits._
    val df = Seq((1L, "en", "ab1 c.!ü")).toDF("doc_id", "lang", "text")
    val r = graft.operators.CorpusStats.charClassStats(df, "lang", "text").head()
    assert(r.getAs[Long]("n_chars") == 8L)
    assert(r.getAs[Long]("n_alpha") == 3L)
    assert(r.getAs[Long]("n_digit") == 1L)
    assert(r.getAs[Long]("n_space") == 1L)
    assert(r.getAs[Long]("n_punct") == 2L) // '.' and '!'
    assert(r.getAs[Long]("n_other") == 1L) // 'ü'
  }

  test("dupGraphDegrees: hub degree visible in the histogram") {
    import spark.implicits._
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    // three near-identical docs form a triangle: each node degree 2
    val df = Seq(
      (1L, shared), (2L, shared), (3L, shared),
      (4L, "isolated totally different content here")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dupGraphDegrees(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("degree") ->
        r.getAs[Long]("n_nodes")).toMap
    assert(out == Map(2L -> 3L))
  }

  test("effectiveDims: degenerate axes collapse the participation ratio") {
    import spark.implicits._
    // two informative axes with equal variance, two dead axes -> PR = 2
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 5.0f, 7.0f)),
      (2L, Array(-1.0f, 0.0f, 5.0f, 7.0f)),
      (3L, Array(1.0f, 0.0f, 5.0f, 7.0f)),
      (4L, Array(-1.0f, 0.0f, 5.0f, 7.0f))
    ).toDF("vec_id", "embedding")
    val r = graft.operators.Similarity.effectiveDims(df, "embedding").head()
    assert(r.getAs[Long]("n_dims") == 4L)
    assert(r.getAs[Double]("total_variance") == 1.0) // only dim 0 varies
    assert(r.getAs[Double]("effective_dims") == 1.0)
    assert(r.getAs[Double]("dim_utilization") == 0.25)
  }

  test("bloomMembershipAudit: sound pre-filter on a known membership split") {
    import spark.implicits._
    val build = (1L to 300L).map(i => s"key_$i").toDF("k")
    val probe = (1L to 600L).map(i => s"key_$i").toDF("k")
    val out = graft.profiler.Integrity.bloomMembershipAudit(
      build, "k", probe, "k", expectedItems = 1000L, fpp = 0.01)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out.size == 3 && out.values.forall(identity), out.toString)
  }

  test("property: scorePercentile equals Spark's own percent_rank on seeded random frames") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 5 + rng.nextInt(40)
      // coarse scores force tie groups
      val rows = (1L to n.toLong).map(i =>
        (i, math.round(rng.nextDouble() * 5) / 5.0))
      val df = rows.toDF("doc_id", "score")
      val ours = graft.operators.Ranking
        .scorePercentile(df, "doc_id", "score")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val ref = df.withColumn("pr",
        round(percent_rank().over(Window.orderBy("score")), 6))
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("pr")).toMap
      assert(ours == ref)
    }
  }

  test("property: assocRules marginals and bounds on seeded random baskets") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val events = for {
        u <- 1L to (3 + rng.nextInt(15)).toLong
        _ <- 1 to (1 + rng.nextInt(5))
      } yield (u, s"t${rng.nextInt(4)}")
      val df = events.toDF("user_id", "event_type")
      val nUsers = events.map(_._1).distinct.size.toDouble
      val rules = Events.assocRules(df, "user_id", "event_type").collect()
      for (r <- rules) {
        val (both, na, nc) = (r.getAs[Long]("n_both"),
          r.getAs[Long]("n_ante"), r.getAs[Long]("n_cons"))
        assert(both <= na && both <= nc) // intersection bounds
        assert(r.getAs[Double]("support") ==
          math.round(both / nUsers * 1e6) / 1e6)
        assert(r.getAs[Double]("confidence") <= 1.0)
        // symmetric support: the reversed rule exists with the same n_both
        assert(rules.exists(o =>
          o.getAs[String]("antecedent") == r.getAs[String]("consequent") &&
            o.getAs[String]("consequent") == r.getAs[String]("antecedent") &&
            o.getAs[Long]("n_both") == both))
      }
    }
  }

  test("property: sessionStats totals are consistent with the session relation") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val events = for {
      u <- 1L to 12L
      i <- 1 to (1 + rng.nextInt(8))
    } yield (u, rng.nextInt(5000000).toLong * 100, u * 100 + i)
    val df = events.toDF("user_id", "ts_us", "event_id")
      .withColumn("event_type", lit("e"))
    val sessions = Events.sessionize(
      df, "user_id", "ts_us", "event_id", "event_type", gapUs = 60000000L)
    val r = Events.sessionStats(sessions, "user_id").head()
    assert(r.getAs[Long]("n_sessions") == sessions.count())
    assert(r.getAs[Long]("n_users") == 12L)
    val meanEvents = r.getAs[Double]("mean_events")
    assert(meanEvents * r.getAs[Long]("n_sessions") - events.size.toDouble
      < 0.01 * events.size) // mean * sessions ≈ total events (6-dp round)
  }

  test("minhashMergeAudit: least()-merged batch signatures equal the whole-set signature") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma something else entirely here now"),
      (3L, "short doc") // fewer than n tokens in one half is fine
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.minhashMergeAudit(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out.size == 3 && out.values.forall(identity), out.toString)
  }

  test("schemaEvolutionAudit: merged read preserves rows, nulls and values") {
    val out = graft.sources.FormatRoundtrip.schemaEvolutionAudit(
      spark, s"$sf001Dir/documents.parquet")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out.size == 4 && out.values.forall(identity), out.toString)
  }

  test("sessionStats: rollup over sessionize output") {
    import spark.implicits._
    val gap = 30L * 60 * 1000 * 1000
    // user 1: events at 0s, 10s (one session, 2 events, 10s), then a
    // session at +2h (1 event); user 2: one event
    val df = Seq(
      (1L, 0L, 1L, "a"), (1L, 10000000L, 2L, "b"),
      (1L, 2L * usPerHour, 3L, "a"),
      (2L, 0L, 4L, "c")
    ).toDF("user_id", "ts_us", "event_id", "event_type")
    val sessions = Events.sessionize(
      df, "user_id", "ts_us", "event_id", "event_type", gap)
    val r = Events.sessionStats(sessions, "user_id").head()
    assert(r.getAs[Long]("n_sessions") == 3L)
    assert(r.getAs[Long]("n_users") == 2L)
    assert(r.getAs[Long]("n_single_event") == 2L)
    assert(r.getAs[Double]("mean_events") == math.round(4.0 / 3.0 * 1e6) / 1e6)
    assert(r.getAs[Double]("p50_duration_s") == 0.0)
  }
}

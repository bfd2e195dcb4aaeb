package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.{sf001, sf001Dir}
import graft.operators.{Dedup, Events, Similarity}

class Round6Spec extends SparkSuite {
  test("winnowing: null text flows to the empty-fingerprint branch, not the cap error") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, None: Option[String]),
      (3L, Some("short"))
    ).toDF("doc_id", "text")
    val out = Dedup.winnowFingerprints(df, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    // doc 1 fingerprints; null doc 2 and sub-k doc 3 silently contribute none
    assert(out == Set(1L))
  }

  test("winnowNearDup: verbatim-overlap pair found, unrelated pair absent, stop-fingerprints drop") {
    import spark.implicits._
    val passage = "a long shared boilerplate passage that both documents quote verbatim in full"
    val df = Seq(
      (1L, Some(s"$passage with a tiny suffix one")),
      (2L, Some(s"$passage with a tiny suffix two")),
      (3L, Some("completely different content about winnowing local fingerprints")),
      (4L, None: Option[String])
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDup(df, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "verbatim-overlap pair must surface")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc pairs nothing")
    // stop-fingerprint removal: with maxHashFreq=0 every hash is ubiquitous,
    // no fingerprints survive, no pairs (and no crash)
    assert(Dedup.winnowNearDup(df, "doc_id", "text",
      threshold = 0.0, maxHashFreq = Some(0)).count() == 0L)
    // local guarantee: any >= w+k-1-char verbatim match shares a fingerprint,
    // so the pair's intersection count is positive even at threshold 0
    val c = Dedup.winnowNearDup(df, "doc_id", "text", threshold = 0.0)
      .where(col("id_a") === 1L && col("id_b") === 2L).count()
    assert(c == 1L)
  }

  test("domainReport: cross-domain dup exposure, null text excluded from mean, sentinel hash") {
    import spark.implicits._
    val df = Seq(
      (1L, "a.com", "en", Some("the quick brown fox and the dog")),
      (2L, "b.com", "en", Some("the quick brown fox and the dog")), // mirror of 1
      (3L, "a.com", "de", Some("unique text only here today now")),
      (4L, "a.com", "en", None: Option[String]),
      (5L, "a.com", "en", None: Option[String]) // null-text dup of 4
    ).toDF("doc_id", "source", "lang", "text")
    val out = graft.operators.CorpusStats.domainReport(df, "source", "lang", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a.com"); val b = out("b.com")
    assert(a.getLong(1) == 4L && b.getLong(1) == 1L) // n_docs
    assert(a.getLong(3) == 2L) // n_langs (en, de)
    // doc1 dups doc2 cross-domain; docs 4,5 dup each other via sentinel
    assert(a.getLong(5) == 3L, s"a.com dup_docs = ${a.getLong(5)}")
    assert(b.getLong(5) == 1L)
    // null-text docs excluded from mean_quality (not pulled toward 0)
    assert(!a.isNullAt(4) && a.getDouble(4) > 0.0)
  }

  test("splitDivergence: identical dists -> 0, disjoint vocab -> ln 2, empty split safe") {
    import spark.implicits._
    // many docs so both splits of the 50/50 hash split are non-empty
    val same = (1L to 40L).map(i => (i, "alpha beta gamma"))
    val d1 = same.toDF("doc_id", "text")
    val r1 = graft.operators.CorpusStats.splitDivergence(
      d1, "doc_id", "text", Seq("x" -> 0.5, "y" -> 0.5)).head()
    assert(r1.getAs[Double]("jsd") == 0.0, s"identical dists: ${r1}")
    assert(r1.getAs[Long]("vocab_shared") == 3L)
    // disjoint vocabularies: JSD = ln 2 exactly (text chosen per actual label)
    val labels = graft.operators.Sampling.hashSplit(
      (1L to 40L).toDF("doc_id"), "doc_id", Seq("x" -> 0.5, "y" -> 0.5))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(labels.values.toSet == Set("x", "y"), "need both splits populated")
    val d2 = (1L to 40L).map(i =>
      (i, if (labels(i) == "x") "foo" else "bar")).toDF("doc_id", "text")
    val r2 = graft.operators.CorpusStats.splitDivergence(
      d2, "doc_id", "text", Seq("x" -> 0.5, "y" -> 0.5)).head()
    assert(r2.getAs[Double]("jsd") == 0.693147, s"disjoint: $r2")
    assert(r2.getAs[Long]("vocab_shared") == 0L)
    // all-null text: zero tokens everywhere, no NaN terms, jsd 0
    val d3 = (1L to 40L).map(i => (i, null: String)).toDF("doc_id", "text")
    val r3 = graft.operators.CorpusStats.splitDivergence(
      d3, "doc_id", "text", Seq("x" -> 0.5, "y" -> 0.5)).head()
    assert(r3.getAs[Double]("jsd") == 0.0 && r3.getAs[Long]("tokens_a") == 0L)
  }

  test("zipfFit: constructed 1/r corpus fits slope ~ -1 with high r2; empty corpus safe") {
    import spark.implicits._
    // token t_r appears floor(1000/r) times, r = 1..50 -> ln f = ln 1000 - ln r
    val words = (1 to 50).flatMap(r => Seq.fill(1000 / r)(f"t$r%03d"))
    val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val row = graft.operators.CorpusStats.zipfFit(df, "text", 1000).head()
    assert(row.getAs[Long]("n") == 50L)
    val slope = row.getAs[Double]("slope")
    assert(slope > -1.05 && slope < -0.95, s"slope $slope")
    assert(row.getAs[Double]("r2") > 0.999)
    // all-null corpus: one row, n = 0, no crash
    val empty = Seq((1L, null: String)).toDF("doc_id", "text")
    val e = graft.operators.CorpusStats.zipfFit(empty, "text").head()
    assert(e.getAs[Long]("n") == 0L)
  }

  test("referential: orphans, null keys excluded from containment, perfect edge = 1.0") {
    import spark.implicits._
    val child = Seq(
      (Some(1L), "a"), (Some(1L), "b"), (Some(2L), "c"),
      (Some(9L), "orphan1"), (Some(9L), "orphan2"), (None: Option[Long], "nullkey")
    ).toDF("fk", "payload")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = graft.profiler.Integrity
      .referential(child, "fk", parent, "pk", "t").head()
    assert(r.getAs[Long]("n_rows") == 6L && r.getAs[Long]("n_null") == 1L)
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("n_orphan_keys") == 1L && r.getAs[Long]("n_orphan_rows") == 2L)
    // containment over non-null rows: (5 - 2) / 5
    assert(r.getAs[Double]("containment") == 0.6)
    // all-null child: containment null, zero orphans
    val nullChild = Seq((None: Option[Long], "x")).toDF("fk", "payload")
    val rn = graft.profiler.Integrity
      .referential(nullChild, "fk", parent, "pk", "t").head()
    assert(rn.isNullAt(rn.fieldIndex("containment")))
    assert(rn.getAs[Long]("n_orphan_rows") == 0L)
  }

  test("candidateKeys: unique non-null combo is a key; nulls disqualify; combo widens") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("x")), (Some(2L), Some("x")),
      (Some(3L), None: Option[String]), (Some(3L), Some("y"))
    ).toDF("a", "b")
    val out = graft.profiler.Integrity
      .candidateKeys(df, Seq(Seq("a"), Seq("b"), Seq("a", "b")))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out("a").getAs[Boolean]("is_key"), "a repeats (3,3)")
    assert(!out("b").getAs[Boolean]("is_key"), "b has a null")
    assert(out("b").getAs[Long]("n_with_null") == 1L)
    // (a,b) tuples among fully-non-null rows are unique, but a null row
    // exists -> not total -> not a key; distinct counts still reported
    val ab = out("a,b")
    assert(ab.getAs[Long]("n_distinct") == 3L && !ab.getAs[Boolean]("is_key"))
  }

  test("hot-bucket diagnostics: mega-cluster visible, clean corpus reports zero") {
    import spark.implicits._
    // 20 identical vectors = one mega-cluster colliding in every band
    val clones = (1L to 20L).map(i => (i, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    val spreadOut = (21L to 30L).map { i =>
      val v = Array.fill(4)(0.0f); v(((i % 4)).toInt) = i.toFloat
      (i, v.toSeq)
    }
    val df = (clones ++ spreadOut).toDF("vec_id", "embedding")
    val hot = Similarity.cosineNearDupDiagnostics(
      df, "vec_id", "embedding", bands = 8, bitsPerBand = 4, maxBucketFreq = 10)
      .head()
    assert(hot.getLong(0) > 0, "mega-cluster must surface as hot buckets")
    assert(hot.getLong(2) >= 20L, "max bucket holds the whole clone cluster")
    // the clones alone, capped generously: nothing hot
    val clean = Similarity.cosineNearDupDiagnostics(
      spreadOut.toDF("vec_id", "embedding"),
      "vec_id", "embedding", bands = 8, bitsPerBand = 4, maxBucketFreq = 10)
      .head()
    assert(clean.getLong(0) == 0L && clean.getLong(1) == 0L)
  }

  test("capped cosineNearDupPairs bounds candidates on a clone-heavy corpus") {
    import spark.implicits._
    val clones = (1L to 50L).map(i => (i, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    val df = clones.toDF("vec_id", "embedding")
    // cap below the cluster size: every band bucket is hot, zero candidates
    val out = Similarity.cosineNearDupPairs(
      df, "vec_id", "embedding", top = 1000, bands = 8, bitsPerBand = 4,
      maxBucketFreq = Some(10))
    assert(out.count() == 0L)
    // and the diagnostic explains why (the route-to-clustering signal)
    val diag = Similarity.cosineNearDupDiagnostics(
      df, "vec_id", "embedding", bands = 8, bitsPerBand = 4, maxBucketFreq = 10)
      .head()
    assert(diag.getLong(0) > 0)
  }

  test("funnel computes from ONE exchange of the events table") {
    import spark.implicits._
    val e = Seq(
      (1L, 10L, "signup"), (1L, 20L, "view"), (1L, 30L, "buy"),
      (2L, 10L, "signup"), (2L, 30L, "buy"), (2L, 40L, "view"),
      (3L, 10L, "view"), (3L, 20L, "signup")
    ).toDF("user_id", "ts_us", "event_type")
    val reached = Events.funnelReached(
      e, "user_id", "ts_us", "event_type", Seq("signup", "view", "buy"))
    reached.collect() // materialize so AQE finalizes the plan
    // the AQE plan string repeats the tree under "== Initial Plan ==" —
    // audit only the final plan
    val plan = reached.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one Exchange:\n$plan")
    // per-user depth matches the iterated per-stage min-anchor semantics
    val depths = reached.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(depths == Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("spread gating: cheap Plain-only batteries skip the repartition exchange") {
    import graft.profiler.{AggKind, ScanMetrics}
    val li = sf001("lineitem")
    // count/min/max/completeness slots: no Sketch/Distinct, nothing heavy
    val cheap = ScanMetrics.slots(
      li.schema, graft.profiler.ProfilerConfig(),
      Set("size", "completeness", "minimum", "maximum"))
    assert(cheap.forall(s => s.kind == AggKind.Plain && !s.heavy))
    // decimal-sum battery is flagged heavy -> spread() fires for it
    val heavy = ScanMetrics.slots(
      li.schema, graft.profiler.ProfilerConfig(), Set("sum", "mean", "stddev_pop"))
    assert(heavy.nonEmpty && heavy.forall(_.heavy))
  }

  test("sessionize carries state across micro-batches (no fragmented sessions)") {
    import spark.implicits._
    import graft.streaming.{SessionEvent, StreamingProfile}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SessionEvent]
    val name = "r6_sessions_mb"
    val q = StreamingProfile.sessionize(input.toDS(), gapMinutes = 1)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(SessionEvent(1L, 0L), SessionEvent(1L, 30000000L)) // 0s, 30s
      q.processAllAvailable()
      val b1 = spark.table(name).as[(Long, Long, Long)].collect().toSeq
      assert(b1 == Seq((1L, 0L, 2L)))
      // 60s: within the 1-minute gap of the 30s event — a stateless batch
      // would emit a FRESH session (1, 60s, 1); the stateful merge must
      // extend the existing one
      input.addData(SessionEvent(1L, 60000000L))
      q.processAllAvailable()
      val b2 = spark.table(name).as[(Long, Long, Long)].collect().toSeq.drop(b1.size)
      assert(b2 == Seq((1L, 0L, 3L)),
        s"expected the extended session as the superseding emission, got $b2")
    } finally { q.stop() }
  }

  test("profile_all_tables: every catalog table contributes Size + Completeness") {
    val out = SparkEntry.queries("profile_all_tables")(spark, sf001Dir)
      .collect()
    val tables = out.map(_.getString(0)).toSet
    assert(tables == Set(
      "customer", "documents", "embeddings", "events", "lineitem",
      "nation", "orders", "part", "region", "supplier"))
    // one Size row per table; Completeness only for Text/Numeric columns
    // (embeddings' float array and the ms-timestamp columns are skipped)
    val sizes = out.filter(_.getString(3) == "Size")
    assert(sizes.length == 10 && sizes.forall(_.getDouble(4) > 0))
    val perTableCols = out.filter(_.getString(3) == "Completeness")
      .groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(perTableCols("lineitem") == 10) // 8 numeric + 2 text, shipdate skipped
    assert(perTableCols("embeddings") == 2) // vec_id + label, array skipped
    assert(perTableCols("events") == 5) // TIMESTAMP_NTZ ts is class-Skipped
  }

  test("funnel: null timestamps count at their stage but block later stages") {
    import spark.implicits._
    val e = Seq(
      (1L, Some(10L), "signup"), (1L, Some(20L), "view"),  // normal: reaches 2
      (2L, None: Option[Long], "signup"), (2L, Some(99L), "view"), // null anchor blocks
      (3L, None: Option[Long], "signup"), (3L, Some(5L), "signup") // real signup wins
    ).toDF("user_id", "ts_us", "event_type")
    val out = Events.funnel(e, "user_id", "ts_us", "event_type", Seq("signup", "view"))
      .orderBy("stage").collect().map(r => (r.getInt(0), r.getLong(2)))
    // stage 1: users 1,2,3 (a null-MIN group still counts, per the SQL
    // per-stage form); stage 2: only user 1 (user 2's anchor is null/+inf)
    assert(out.toSeq == Seq((1, 3L), (2, 1L)))
  }

  test("funnel: a null-ts event never satisfies a stage past the first") {
    import spark.implicits._
    // the SQL per-stage form's `ts > prev` is NULL for a null ts — the
    // user must NOT advance to stage 2 on the null view
    val e = Seq(
      (1L, Some(10L), "signup"), (1L, None: Option[Long], "view"),
      (2L, Some(10L), "signup"), (2L, Some(20L), "view")
    ).toDF("user_id", "ts_us", "event_type")
    val depths = Events.funnelReached(e, "user_id", "ts_us", "event_type",
      Seq("signup", "view"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(depths == Map(1L -> 1, 2L -> 2))
  }

  test("funnel: timestamp-typed columns keep sub-second ordering") {
    import spark.implicits._
    val e = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00.1"), "signup"),
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00.6"), "view"), // +0.5s, same second
      (2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00.6"), "signup"),
      (2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00.6"), "view") // same instant: strict > fails
    ).toDF("user_id", "ts", "event_type")
    val depths = Events.funnelReached(e, "user_id", "ts", "event_type",
      Seq("signup", "view"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // a plain cast("long") would truncate both to the same second and
    // wrongly block user 1's conversion
    assert(depths == Map(1L -> 2, 2L -> 1))
  }

  test("funnel: maxEventsPerUser caps pre-aggregation, depths are lower bounds") {
    import spark.implicits._
    val e = ((1 to 50).map(i => (1L, i.toLong, "signup")) ++
      Seq((1L, 100L, "view")) ++
      Seq((2L, 1L, "signup"), (2L, 2L, "view"))
    ).toDF("user_id", "ts_us", "event_type")
    val depths = Events.funnelReached(e, "user_id", "ts_us", "event_type",
      Seq("signup", "view"), maxEventsPerUser = Some(10))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // user 1's view (51st event by time) is dropped by the cap -> depth 1
    assert(depths == Map(1L -> 1, 2L -> 2))
  }

  test("funnel: random event sets match the iterated min-anchor reference") {
    import spark.implicits._
    val stages = Seq("a", "b", "c")
    val rng = new scala.util.Random(1234)
    val events = (1 to 2000).map { _ =>
      (rng.nextInt(120).toLong, rng.nextInt(40).toLong,
        Seq("a", "b", "c", "x")(rng.nextInt(4)))
    }
    // driver-side reference: per stage, min(ts) strictly after the
    // previous stage's anchor (the oracle SQL's iterated form)
    val byUser = events.filter(e => stages.contains(e._3)).groupBy(_._1)
    val expected = byUser.flatMap { case (u, evs) =>
      var anchor = Long.MinValue
      var depth = 0
      var done = false
      stages.foreach { st =>
        if (!done) {
          val qual = evs.filter(e => e._3 == st && e._2 > anchor)
          if (qual.isEmpty) done = true
          else { anchor = qual.map(_._2).min; depth += 1 }
        }
      }
      if (depth >= 1) Some(u -> depth) else None
    }
    val actual = Events.funnelReached(
      events.toDF("user_id", "ts_us", "event_type"),
      "user_id", "ts_us", "event_type", stages)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(actual == expected)
  }

  test("funnel: repeated stage types and completed funnels walk correctly") {
    import spark.implicits._
    // stages (view, view): needs two strictly-ordered views
    val e = Seq(
      (1L, 10L, "view"), (1L, 20L, "view"),  // reaches 2
      (2L, 10L, "view"),                     // reaches 1
      (3L, 10L, "view"), (3L, 10L, "view")   // same-ts double view: strict > fails
    ).toDF("user_id", "ts_us", "event_type")
    val out = Events.funnel(e, "user_id", "ts_us", "event_type", Seq("view", "view"))
      .orderBy("stage").collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(out.toSeq == Seq((1, 3L), (2, 1L)))
  }

  // deterministic skewed corpus for the mixture tests: 400 "en", 50 "de",
  // 50 "fr" keyed rows
  private def mixtureCorpus = {
    import spark.implicits._
    ((1L to 400L).map(i => (i, "en")) ++
      (401L to 450L).map(i => (i, "de")) ++
      (451L to 500L).map(i => (i, "fr")))
      .toDF("doc_id", "lang")
  }

  test("mixtureResample: alpha=1 with the default target is the identity") {
    // p_i = q_i at alpha 1, so rate_i = q_i * N / n_i = 1 for every stratum
    val df = mixtureCorpus
    val out = graft.operators.Sampling.mixtureResample(
      df, "doc_id", org.apache.spark.sql.functions.col("lang"), alpha = 1.0)
    assert(out.count() == 500L)
  }

  test("mixtureResample: alpha<1 downsamples the dominant stratum, keeps low-resource") {
    import spark.implicits._
    val out = graft.operators.Sampling.mixtureResample(
      mixtureCorpus, "doc_id", org.apache.spark.sql.functions.col("lang"), alpha = 0.5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // q_en=0.8 -> sqrt=0.894427; de/fr sqrt(0.1)=0.316228; S=1.526883
    // rate_en = 0.894427/1.526883 * 500/400 = 0.732225 -> bound 7322
    // rate_de/fr = 0.316228/1.526883 * 500/50 = 2.07 -> capped at 1
    assert(out("de") == 50L && out("fr") == 50L, s"low-resource must keep all: $out")
    assert(out("en") < 400L && out("en") > 200L, s"dominant must downsample: $out")
  }

  test("mixtureResample: kept dominant-stratum set is nested across alphas") {
    import spark.implicits._
    val col = org.apache.spark.sql.functions.col _
    def kept(alpha: Double): Set[Long] = graft.operators.Sampling.mixtureResample(
      mixtureCorpus, "doc_id", col("lang"), alpha)
      .where(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val flat = kept(0.25) // flatter mixture -> lower dominant rate
    val mid = kept(0.5)
    assert(flat.subsetOf(mid), "lower-rate sample must be a strict subset")
    assert(flat.size < mid.size)
  }

  test("mixtureResample: a stratum whose share quantizes to zero is kept, not dropped") {
    import spark.implicits._
    // dominant stratum of 30 rows + a single-row stratum: at alpha=0.05
    // the tiny share^alpha still quantizes fine, so force the floor path
    // directly — share small enough that pow(q, 2.5) < 5e-7 rounds to 0
    // at scale 6 without the clamp (1/31 ^ 2.5 = 1.9e-4... use synthetic
    // extreme: alpha high + tiny share is the easiest trigger)
    val df = ((1L to 10000L).map(i => (i, "big")) ++ Seq((10001L, "tiny")))
      .toDF("doc_id", "lang")
    // share_tiny = 1/10001; ^2.5 = 1e-10 -> quantizes to 0.000000 -> floor
    val out = graft.operators.Sampling.mixtureResample(
      df, "doc_id", org.apache.spark.sql.functions.col("lang"), alpha = 2.5)
      .where(org.apache.spark.sql.functions.col("lang") === "tiny")
    // floored weight -> tiny rate still caps via target/n ratio; the row
    // must survive (rate_tiny = (1e-6/S) * 10001 / 1 ~ 0.01 -> bound 100;
    // kept iff its bucket < bound — but never the 0-bound wipeout). The
    // operative assertion: the bound is nonzero, so membership follows
    // the hash like any other stratum instead of unconditional drop.
    // With one row we assert the stronger end-to-end property at alpha
    // close to 0, where smoothing flattens and tiny strata keep all.
    val flat = graft.operators.Sampling.mixtureResample(
      df, "doc_id", org.apache.spark.sql.functions.col("lang"), alpha = 0.01)
      .where(org.apache.spark.sql.functions.col("lang") === "tiny")
    assert(flat.count() == 1L, "near-uniform smoothing must keep the tiny stratum")
    assert(out.count() <= 1L) // and the floor path must not crash or overcount
  }

  test("leakageSafeSplit: cluster members share one label keyed by the canonical id") {
    import spark.implicits._
    val fns = org.apache.spark.sql.functions
    val docs = (1L to 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // cluster {1,2,3} via pairs (1,2),(2,3); {7,8} via (7,8); rest singletons
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)
    val out = graft.operators.Sampling.leakageSafeSplit(
      docs, "doc_id", clusters, splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 10)
    assert(out(1L) == out(2L) && out(2L) == out(3L), "cluster {1,2,3} must share a label")
    assert(out(7L) == out(8L), "cluster {7,8} must share a label")
    // the shared label is the hashSplit label of the CANONICAL id, and
    // singletons keep their plain hashSplit label
    val plain = graft.operators.Sampling.hashSplit(docs, "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(3L) == plain(1L), "cluster label must be the canonical id's label")
    assert(out(8L) == plain(7L))
    Seq(4L, 5L, 6L, 9L, 10L).foreach(i => assert(out(i) == plain(i)))
  }

  test("mixtureResample: null stratum and null key rows are dropped") {
    import spark.implicits._
    val df = (Seq((1L, Option("en")), (2L, Option.empty[String])) ++
      (3L to 30L).map(i => (i, Option("en"))))
      .toDF("doc_id", "lang")
      .union(Seq((Option.empty[Long], Option("en"))).toDF("doc_id", "lang"))
    val out = graft.operators.Sampling.mixtureResample(
      df, "doc_id", org.apache.spark.sql.functions.col("lang"), alpha = 1.0)
      .collect()
    assert(out.forall(r => !r.isNullAt(0) && r.getString(1) == "en"))
    assert(out.length == 29) // 29 non-null-keyed en rows; null lang + null key gone
  }

  test("spanDedup: corpus-repeated spans stripped, survivors reassembled in order") {
    import spark.implicits._
    // span window 2: docs 1 and 2 share span "a b"; "x y" is unique to doc 1
    val df = Seq(
      (1L, "a b x y"),
      (2L, "a b q r"),
      (3L, "solo words only here")
    ).toDF("doc_id", "text")
    val out = graft.operators.SpanDedup
      .dropHotSpans(df, "doc_id", "text", spanWords = 2, minFreqToDrop = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("x y", 2L, 1L)))
    assert(out(2L) == (("q r", 2L, 1L)))
    assert(out(3L) == (("solo words only here", 2L, 0L)))
  }

  test("spanDedup: null text yields empty clean_text and zero counts; odd tail span kept") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a b c")),   // spans: "a b", "c" (short tail)
      (2L, Option.empty[String]),
      (3L, Option("a b"))      // makes "a b" hot at minFreq 2
    ).toDF("doc_id", "text")
    val out = graft.operators.SpanDedup
      .dropHotSpans(df, "doc_id", "text", spanWords = 2, minFreqToDrop = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("c", 2L, 1L)))
    assert(out(2L) == (("", 0L, 0L)))
    assert(out(3L) == (("", 1L, 1L)))
  }

  test("spanDedup: broadcast and join reassembly agree on a seeded corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val docs = (1L to 60L).map { i =>
      i -> (1 to (3 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toDF("doc_id", "text")
    val a = graft.operators.SpanDedup
      .dropHotSpans(docs, "doc_id", "text", spanWords = 3, minFreqToDrop = 2)
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = graft.operators.SpanDedup
      .dropHotSpansViaJoin(docs, "doc_id", "text", spanWords = 3, minFreqToDrop = 2)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
    // with a 4-word vocab and 3-word spans, dedup must actually fire
    assert(a.exists(r => r(3).asInstanceOf[Long] > 0))
  }

  test("deflate_len: deterministic, bounded, repetitive text far denser than noise") {
    import spark.implicits._
    graft.functions.Compress.register(spark)
    val rnd = new scala.util.Random(7)
    val noise = (1 to 2000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val repet = "spam keyword " * 154 // ~2000 chars of pure repetition
    val df = Seq(
      (1L, Option(repet)), (2L, Option(noise)), (3L, Option("")),
      (4L, Option.empty[String])
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), expr("deflate_len(text)").as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out(4L) == -1, "null text -> null length")
    assert(out(3L) >= 0 && out(3L) <= 8, "empty text compresses to the deflate epilogue")
    assert(out(1L) > 0 && out(2L) > 0)
    // repetition compresses an order of magnitude below random text
    assert(out(1L) * 5 < out(2L), s"repetitive ${out(1L)} !<< noise ${out(2L)}")
    // deterministic across evaluations (and across codegen/eval paths)
    val again = df.select(expr("deflate_len(text)")).collect()
    val again2 = df.select(expr("deflate_len(text)")).collect()
    assert(again.map(_.toSeq.headOption).sameElements(again2.map(_.toSeq.headOption)))
  }

  test("vocabGrowth: first-appearance attribution, cumulative and monotone, null text") {
    import spark.implicits._
    // ids 0..9, 2 buckets => bucket 0 = ids 0..4, bucket 1 = ids 5..9
    val df = Seq(
      (0L, Option("a b")), (1L, Option("b c")), (2L, Option("a")),
      (3L, Option.empty[String]), (4L, Option("c")),
      (5L, Option("d")), (6L, Option("a d")), (7L, Option("e")),
      (8L, Option("e")), (9L, Option("a"))
    ).toDF("doc_id", "text")
    val out = graft.operators.CorpusStats.vocabGrowth(df, "doc_id", "text", buckets = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // bucket 0: 5 docs, tokens 2+2+1+0+1 = 6, vocab {a,b,c} = 3
    assert(out(0) == ((0L, 5L, 6L, 3L)))
    // bucket 1: +5 docs, +6 tokens, vocab + {d,e} = 5
    assert(out(1) == ((1L, 10L, 12L, 5L)))
  }

  test("winsorizedStats: hand case, null values stay null, constant column degenerate") {
    import spark.implicits._
    // 1..10 with a wild outlier and a null; p0.0-1.0 => no clipping, p fixed
    val df = ((1 to 10).map(i => (Option(i.toDouble), Option(5.0))) :+
      ((Option(1000.0), Option(5.0))) :+ ((Option.empty[Double], Option(5.0))))
      .toDF("x", "k")
    val out = graft.profiler.RobustStats
      .winsorizedStats(df, Seq("x", "k"), pLo = 0.0, pHi = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // median of (1..10, 1000) = 6.0 => clip envelope [1, 6]
    assert(out(("x", "WinsorizedHigh-0.5")) == 6.0)
    assert(out(("x", "WinsorizedLow-0.0")) == 1.0)
    // clipped values: 1,2,3,4,5,6,6,6,6,6,6 (null excluded, NOT turned into lo)
    assert(math.abs(out(("x", "WinsorizedMean-0.0-0.5")) - 51.0 / 11) < 1e-6)
    assert(out(("x", "WinsorizedClipped-0.0-0.5")) == 5.0)
    // constant column: envelope collapses, stddev exactly 0
    assert(out(("k", "WinsorizedStdDev-0.0-0.5")) == 0.0)
    assert(out(("k", "WinsorizedClipped-0.0-0.5")) == 0.0)
  }

  test("blocklist: exact under forced false positives; null keys never blocked") {
    import spark.implicits._
    val corpus = ((1L to 200L).map(i => (i, Option(s"host$i"))) :+
      ((201L, Option.empty[String]))).toDF("doc_id", "source")
    val bl = (1L to 50L).map(i => s"host${i * 3}").toDF("src") // host3, host6, ...
    // deliberately undersized/high-fpp Bloom: false positives all but certain,
    // yet the confirm join must keep the result exact
    val out = graft.operators.Blocklist
      .filterOut(corpus, "source", bl, "src", expectedItems = 10L, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = ((1L to 200L).filter(i => !(i % 3 == 0 && i <= 150)) :+ 201L).toSet
    assert(out == expected)
  }

  test("segmentedCompleteness: per-segment nulls surface; null segment is its own group") {
    import spark.implicits._
    val df = Seq(
      (Option("a"), Option(1), Option("x")),
      (Option("a"), Option(2), Option.empty[String]),
      (Option("b"), Option.empty[Int], Option("y")),
      (Option.empty[String], Option(3), Option("z"))
    ).toDF("seg", "v", "t")
    val out = graft.profiler.Checks
      .segmentedCompleteness(df, "seg", Seq("v", "t"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // segment a: 2 rows, v complete, t half-null
    assert(out((Some("a"), "v")) == ((2L, 0L, 1.0)))
    assert(out((Some("a"), "t")) == ((2L, 1L, 0.5)))
    // segment b: v fully null — the breakage whole-table averages hide
    assert(out((Some("b"), "v")) == ((1L, 1L, 0.0)))
    // null segment forms its own group
    assert(out((None, "v")) == ((1L, 0L, 1.0)))
    assert(out.size == 6)
  }

  test("mutualInfo: dependence ln2, independence 0, nulls excluded, empty pair null row") {
    import spark.implicits._
    val df = Seq(
      (Option("a"), Option(1), Option.empty[String]),
      (Option("a"), Option(1), Option.empty[String]),
      (Option("b"), Option(2), Option.empty[String]),
      (Option("b"), Option(2), Option.empty[String]),
      (Option.empty[String], Option(9), Option.empty[String]),
      (Option("a"), Option.empty[Int], Option.empty[String])
    ).toDF("x", "y", "z")
    val out = graft.profiler.MutualInfo
      .pairs(df, Seq(("x", "y"), ("x", "z")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((Option(r.get(2)), Option(r.get(3))))).toMap
    // x fully determines y over the 4 complete rows: MI = ln 2
    val (nxy, mixy) = out(("x", "y"))
    assert(nxy.contains(4L))
    assert(math.abs(mixy.get.asInstanceOf[Double] - 0.693147) < 1e-6)
    // z is all-null: empty pair surfaces with null n and null mi
    assert(out(("x", "z")) == ((None, None)))
  }

  test("chiSquare: independence gives 0; 2x2 dependence matches the hand formula") {
    import spark.implicits._
    // independent 2x2: every cell e = o -> chi2 = 0, dof = 1
    val ind = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("x", "y")
    val r0 = graft.profiler.MutualInfo.chiSquare(ind, Seq(("x", "y"))).collect()(0)
    assert(r0.getLong(3) == 1L && r0.getDouble(4) == 0.0)
    // perfect dependence on 2x2 with n=4: chi2 = n = 4, Cramér's V = 1
    val dep = Seq(("a", 1), ("a", 1), ("b", 2), ("b", 2)).toDF("x", "y")
    val r1 = graft.profiler.MutualInfo.chiSquare(dep, Seq(("x", "y"))).collect()(0)
    assert(r1.getDouble(4) == 4.0 && r1.getLong(3) == 1L)
    assert(r1.getDouble(5) == 1.0)
    // degenerate 1xk: V undefined -> null
    val deg = Seq(("a", 1), ("a", 2)).toDF("x", "y")
    assert(graft.profiler.MutualInfo.chiSquare(deg, Seq(("x", "y")))
      .collect()(0).isNullAt(5))
    // absent-cell handling: 2x2 with one empty cell,
    // o = [[2,1],[0,1]]: e = [[1.5,1.5],[0.5,0.5]] -> chi2 = 4/3
    val sparse = Seq(("a", 1), ("a", 1), ("a", 2), ("b", 2)).toDF("x", "y")
    val r2 = graft.profiler.MutualInfo.chiSquare(sparse, Seq(("x", "y"))).collect()(0)
    assert(math.abs(r2.getDouble(4) - 4.0 / 3) < 1e-6)
  }

  test("mutualInfo: independent columns give exactly 0") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("x", "y")
    val mi = graft.profiler.MutualInfo.pairs(df, Seq(("x", "y")))
      .collect()(0).getDouble(3)
    assert(mi == 0.0)
  }

  test("inferredTypes: promotion rule over all five classes") {
    import spark.implicits._
    val df = Seq(
      (Option("true"), Option("1"), Option("1.5"), Option("x"), Option.empty[String]),
      (Option("false"), Option("-2"), Option("2."), Option("1"), Option.empty[String]),
      (Option("true"), Option("+3"), Option("3"), Option("y"), Option.empty[String]),
      (Option.empty[String], Option("4"), Option("-0.25e2"), Option("z"), Option.empty[String])
    ).toDF("b", "i", "f", "s", "u")
    val out = graft.profiler.TypeInference
      .inferredTypes(df, Seq("b", "i", "f", "s", "u"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("b").getString(1) == "Boolean" && out("b").getLong(7) == 1L)
    assert(out("i").getString(1) == "Integral")
    // mixed integral+fractional promotes to Fractional ("1e3" without a
    // dot would NOT match the fractional pattern — "-0.25e2" does)
    assert(out("f").getString(1) == "Fractional" && out("f").getLong(4) == 1L)
    assert(out("s").getString(1) == "String")
    assert(out("u").getString(1) == "Unknown" && out("u").getLong(7) == 4L)
    assert(out.values.forall(_.getLong(2) == 4L))
  }

  test("iqrOutliers: hand fences, outlier tails counted, all-null column degenerate") {
    import spark.implicits._
    // 1..8 plus outliers -100 and 1000; quartiles of the 10 values:
    // q1 = 1.75 (interp), q3 = 6.25 -> iqr 4.5 -> fences [-5, 13]
    val vals = Seq(-100.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 1000.0)
    val df = vals.map(v => (Option(v), Option.empty[Double])).toDF("x", "z")
    val out = graft.profiler.RobustStats.iqrOutliers(df, Seq("x", "z"))
      .collect().map(r => r.getString(0) -> r).toMap
    val x = out("x")
    assert(math.abs(x.getDouble(1) - 2.25) < 1e-6 || math.abs(x.getDouble(1) - 1.75) < 1e-6)
    assert(x.getLong(5) == 1L && x.getLong(6) == 1L) // -100 below, 1000 above
    val z = out("z")
    assert(z.isNullAt(1) && z.getLong(5) == 0L && z.getLong(6) == 0L)
  }

  test("topKByScore: per-group cut, score-desc order, deterministic tie-break") {
    import spark.implicits._
    val df = Seq(
      ("g1", 1L, 0.9), ("g1", 2L, 0.5), ("g1", 3L, 0.9), ("g1", 4L, 0.1),
      ("g2", 5L, 0.2)
    ).toDF("g", "id", "score")
    val out = graft.operators.Sampling
      .topKByScore(df, "g", "id", col("score"), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // g1 keeps the two 0.9s (tie broken by id asc is irrelevant at k=2,
    // but 0.5 and 0.1 must be cut); g2 keeps its only row
    assert(out == Set(("g1", 1L), ("g1", 3L), ("g2", 5L)))
  }

  test("giniConcentration: even split 0-ish, total concentration (n-1)/n, hand case") {
    import spark.implicits._
    // 4 sources, equal 2-token volume each -> G = 2*(1*2+2*2+3*2+4*2)/(4*8) - 5/4 = 0
    val even = (1 to 4).flatMap(i => Seq((s"s$i", "a b"))).toDF("source", "text")
    val r0 = graft.operators.CorpusStats
      .giniConcentration(even, "source", "text").collect()(0)
    assert(r0.getLong(0) == 4L && r0.getLong(1) == 8L && r0.getDouble(2) == 0.0)
    // one source holds everything: G = 2*(4*8)/(4*8) - 5/4 = 0.75 = (n-1)/n
    val conc = (Seq(("s1", "a b c d e f g h")) ++
      (2 to 4).map(i => (s"s$i", ""))).toDF("source", "text")
    val r1 = graft.operators.CorpusStats
      .giniConcentration(conc, "source", "text").collect()(0)
    assert(r1.getDouble(2) == 0.75)
  }

  test("theilsU: determinism is directional; independence gives 0; constant column null") {
    import spark.implicits._
    // x determines y (each x has one y) but y does NOT determine x:
    // U(y|x)=1 exactly, U(x|y)<1
    val df = Seq(("a", 1), ("b", 1), ("c", 2), ("d", 2)).toDF("x", "y")
    val r = graft.profiler.MutualInfo.theilsU(df, Seq(("x", "y"))).collect()(0)
    // u_ab = U(x|y) = MI/H(x); u_ba = U(y|x) = MI/H(y)
    assert(r.getDouble(6) == 1.0, s"y should be fully determined by x: $r")
    assert(r.getDouble(5) < 1.0 && r.getDouble(5) > 0.0)
    // independent: MI = 0 -> both U = 0
    val ind = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("x", "y")
    val ri = graft.profiler.MutualInfo.theilsU(ind, Seq(("x", "y"))).collect()(0)
    assert(ri.getDouble(5) == 0.0 && ri.getDouble(6) == 0.0)
    // constant y: H(y) = 0 -> u_ba undefined (null), u_ab = 0
    val const = Seq(("a", 1), ("b", 1)).toDF("x", "y")
    val rc = graft.profiler.MutualInfo.theilsU(const, Seq(("x", "y"))).collect()(0)
    assert(rc.isNullAt(6) && rc.getDouble(5) == 0.0)
  }

  test("nullCorrelation: coupled missingness 1, anti-coupled -1, no-null column degenerates") {
    import spark.implicits._
    val df = Seq(
      (Option(1), Option("x"), Option.empty[Int], Option(9)),
      (Option.empty[Int], Option.empty[String], Option(5), Option(9)),
      (Option(2), Option("y"), Option.empty[Int], Option(9)),
      (Option.empty[Int], Option.empty[String], Option(7), Option(9))
    ).toDF("a", "b", "c", "full")
    val out = graft.profiler.Correlation
      .nullCorrelation(df, Seq("a", "b", "c", "full"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> Option(r.get(3)))
      .toMap
    assert(out(("a", "b")) == Some(1.0))   // always missing together
    assert(out(("a", "c")) == Some(-1.0))  // exactly complementary
    assert(out(("a", "full")).isEmpty)     // zero variance -> null
  }

  test("spearman: nonlinear monotone is exactly 1; reversed is -1; ties averaged") {
    import spark.implicits._
    // y = x^3: nonlinear but perfectly monotone -> Spearman exactly 1
    val mono = (1 to 20).map(i => (i.toDouble, math.pow(i, 3))).toDF("x", "y")
    val r1 = graft.profiler.Correlation.spearman(mono, Seq(("x", "y"))).collect()(0)
    assert(r1.getLong(2) == 20L && r1.getDouble(3) == 1.0)
    val anti = (1 to 20).map(i => (i.toDouble, -i.toDouble)).toDF("x", "y")
    assert(graft.profiler.Correlation.spearman(anti, Seq(("x", "y")))
      .collect()(0).getDouble(3) == -1.0)
    // tie handling: x = (1,2,2,3) ranks (1, 2.5, 2.5, 4); with y equal
    // to x the correlation is still exactly 1
    val tied = Seq((1.0, 1.0), (2.0, 2.0), (2.0, 2.0), (3.0, 3.0)).toDF("x", "y")
    assert(graft.profiler.Correlation.spearman(tied, Seq(("x", "y")))
      .collect()(0).getDouble(3) == 1.0)
  }

  test("timeToConvert: hand latencies, partial funnels, zero-converter transition") {
    import spark.implicits._
    val us = 1000000L
    val ev = Seq(
      (1L, 0L, "signup"), (1L, 10 * us, "view"), (1L, 40 * us, "purchase"),
      (2L, 0L, "signup"), (2L, 5 * us, "view"),
      (3L, 0L, "view") // never signed up: contributes nothing
    ).toDF("user_id", "ts_us", "event_type")
    val out = graft.operators.Events.timeToConvert(
      ev, "user_id", "ts_us", "event_type", Seq("signup", "view", "purchase"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    // signup->view deltas sorted [5, 10]: nearest-rank p50 = element
    // ceil(0.5*2)=1 -> 5.0; p90 = element ceil(0.9*2)=2 -> 10.0
    assert(out("signup->view") == ((2L, Some(5.0), Some(10.0))))
    assert(out("view->purchase") == ((1L, Some(30.0), Some(30.0))))
    // drop purchases: the transition still reports, with 0 converters
    val none = graft.operators.Events.timeToConvert(
      ev.where(col("event_type") =!= "purchase"),
      "user_id", "ts_us", "event_type", Seq("signup", "view", "purchase"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(none("view->purchase") == 0L)
  }

  test("fuzzyMatch: in-block typo found, block-escaping typo missed, cap drops loudly") {
    import spark.implicits._
    val right = Seq((10L, Option("acme corp")), (11L, Option("acme co")),
      (12L, Option("beta inc"))).toDF("id", "name")
    val left = Seq((1L, Option("acme corp!")), (2L, Option("bcme corp")),
      (3L, Option.empty[String])).toDF("id", "name")
    def run(cap: Option[Int]) = graft.operators.FuzzyJoin
      .fuzzyMatch(left, right, "id", "id", "name", "name",
        blockLen = 4, maxDist = 2, maxBlockFreq = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 1 matches 10 (dist 1); "acme co" is dist 3 away; the char-1 typo
    // escapes its block (documented recall trade); null never matches
    assert(run(None) == Set((1L, 10L, 1)))
    // cap=1: the 2-member "acme" block is dropped -> no matches at all
    assert(run(Some(1)).isEmpty)
    val diag = graft.operators.FuzzyJoin
      .fuzzyMatchDiagnostics(right, "name", blockLen = 4, cap = 1).collect()(0)
    assert(diag.getLong(0) == 1L && diag.getLong(1) == 2L)
  }

  test("segmented incremental: split+merge equals one-shot; null segment kept") {
    import spark.implicits._
    val df = Seq(
      (Option("a"), Option(1.0)), (Option("a"), Option(3.0)),
      (Option("b"), Option(10.0)), (Option.empty[String], Option(7.0)),
      (Option("a"), Option.empty[Double])
    ).toDF("seg", "x")
    val p = graft.profiler.IncrementalProfiler
    val oneShot = p.metricsBy(p.snapshotBy(df, "seg"))
    val merged = p.metricsBy(p.mergeBy(Seq(
      p.snapshotBy(df.limit(2), "seg"),
      p.snapshotBy(df.except(df.limit(2)), "seg"))))
    def exact(m: org.apache.spark.sql.DataFrame) = m
      .where(col("name").isin("Completeness", "Mean", "Sum", "Minimum",
        "Maximum", "Size"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getString(1), r.getString(2)) ->
        r.getDouble(3)).toMap
    val a = exact(oneShot)
    assert(a((Some("a"), "x", "Mean")) == 2.0)
    assert(a((Some("a"), "x", "Completeness")) == 2.0 / 3)
    assert(a((None, "x", "Sum")) == 7.0)
    assert(a((Some("b"), "*", "Size")) == 1.0)
    // exact metrics identical under split+merge (modulo row order)
    assert(exact(merged) == a)
  }

  test("ksDrift: identical samples D=0; disjoint D=1; hand-computed shift") {
    import spark.implicits._
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val same = graft.profiler.Checks.ksDrift(a, a, "v").collect()(0)
    assert(same.getLong(0) == 4L && same.getDouble(3) == 0.0)
    val b = Seq(10.0, 11.0).toDF("v")
    val disj = graft.profiler.Checks.ksDrift(a, b, "v").collect()(0)
    assert(disj.getDouble(3) == 1.0 && disj.getLong(2) == 6L)
    // shift by one: a = {1,2,3,4}, c = {2,3,4,5} -> D = 1/4 at v=1 and v=4
    val c = Seq(2.0, 3.0, 4.0, 5.0).toDF("v")
    assert(graft.profiler.Checks.ksDrift(a, c, "v").collect()(0).getDouble(3) == 0.25)
  }

  test("benfordTest: string-derived first digit, 9-row spine, sub-6dp zeros excluded") {
    import spark.implicits._
    val df = Seq(Option(1.0), Option(1.5), Option(19.0), Option(2.5),
      Option(0.05), Option(4e-7), Option.empty[Double]).toDF("v")
    val out = graft.profiler.RobustStats.benfordTest(df, "v")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(4)))).toMap
    assert(out.size == 9)
    // digits: 1,1,1,2,5 — the 4e-7 rounds to 0.000000 and is excluded
    assert(out(1)._1 == 3L && out(1)._2 == 0.6)
    assert(out(2)._1 == 1L && out(5)._1 == 1L)
    assert(out(3)._1 == 0L && out(9)._1 == 0L)
    // chi2 identical on every row, finite and positive
    val chi2s = out.values.map(_._3).toSet
    assert(chi2s.size == 1 && chi2s.head > 0.0)
  }

  test("dailyProfile: UTC day bucketing, distinct users, null-value day gives null mean") {
    import spark.implicits._
    val us = 1_000_000L
    val day = 86400L * us
    val df = Seq(
      (day * 100 + 10 * us, Option(1L), Option(2.0)),
      (day * 100 + 20 * us, Option(1L), Option(4.0)),
      (day * 100 + 30 * us, Option(2L), Option.empty[Double]),
      (day * 101 + 40 * us, Option(3L), Option.empty[Double])
    ).toDF("ts_us", "user_id", "value")
    val out = graft.operators.Events.dailyProfile(df, "ts_us", "user_id", "value")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4))))).toMap
    assert(out("1970-04-11") == ((3L, 2L, 2L, Some(3.0))))
    assert(out("1970-04-12") == ((1L, 1L, 0L, None)))
  }

  test("dedupWithinWatermark: dup inside horizon dropped; evicted key re-emits") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_wm").toString
    def stage(n: Int, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val tmp = s"$dir/_w$n"
      rows.toDF("event_id", "evt").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.move(part, Paths.get(s"$dir/$n.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Thread.sleep(10) // distinct mtimes: the file source replays in order
    }
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    // batch1: A@10:00 (state expiry 11:00), B@10:05 -> watermark 9:05
    stage(1, Seq((1L, ts(0)), (2L, ts(5))))
    // batch2: dup A @10:30 (key still in state -> dropped), C@12:30 ->
    // watermark 11:30, strictly past A's 11:00 expiry -> A evicted
    stage(2, Seq((1L, ts(30)), (3L, ts(150))))
    // batch3: advances nothing new; state cleanup runs at batch END, so
    // A's eviction (11:00 expiry < 11:30 watermark) lands here
    stage(3, Seq((4L, ts(155))))
    // batch4: dup A @12:40 (not late, state evicted) -> RE-EMITTED — the
    // bounded-state trade this operator buys its memory bound with
    stage(4, Seq((1L, ts(160))))
    val out = graft.streaming.StreamingProfile.replayParquet(
      spark, s"$dir/*.parquet",
      stream => graft.streaming.StreamingProfile.dedupWithinWatermark(
        stream, Seq("event_id"), "evt", "1 hour").select("event_id"),
      "append", maxFilesPerTrigger = Some(1))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(1L, 1L, 2L, 3L, 4L),
      s"expected one in-horizon drop and one post-eviction re-emit, got $out")
  }

  test("contaminationRatio: hand case — full, partial, zero overlap; short doc omitted") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta"),          // trigrams: abc, bcd
      (2L, "epsilon zeta eta")                 // one trigram
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta gamma"),               // 1 trigram, contaminated
      (11L, "alpha beta gamma theta iota"),    // 3 trigrams, 1 contaminated
      (12L, "mu nu xi"),                       // 1 trigram, clean
      (13L, "too short")                       // < 3 tokens: omitted
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .contaminationRatio(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(10L) == ((1L, 1L, 1.0)))
    assert(out(11L) == ((3L, 1L, 0.333333)))
    assert(out(12L) == ((1L, 0L, 0.0)))
    assert(!out.contains(13L))
  }

  test("misraGries: guarantees hold on a skewed stream across partitionings") {
    import spark.implicits._
    graft.functions.HeavyHitters.register(spark)
    // skewed: "hot" 400x, "warm" 120x, 480 singletons; n = 1000
    val tokens = Seq.fill(400)("hot") ++ Seq.fill(120)("warm") ++
      (1 to 480).map(i => s"rare$i")
    val k = 8
    for (parts <- Seq(1, 7)) {
      val df = spark.sparkContext.parallelize(tokens, parts).toDF("t")
      val est = graft.functions.HeavyHitters.topK(df, col("t"), k)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val exact = tokens.groupBy(identity).map { case (t, v) => t -> v.size.toLong }
      val n = 1000L
      assert(est.size <= k)
      est.foreach { case (t, (e, nn)) =>
        assert(nn == n)
        assert(e <= exact(t), s"overcount for $t at $parts parts")
        assert(exact(t) - e <= n / (k + 1), s"undercount bound broken for $t")
      }
      // every true heavy hitter (freq > n/(k+1) ≈ 111) must be present
      exact.filter(_._2 * (k + 1) > n).keys.foreach(t =>
        assert(est.contains(t), s"missed heavy hitter $t at $parts parts"))
    }
  }

  test("misraGries: null tokens skipped; fewer distinct than k is exact") {
    import spark.implicits._
    graft.functions.HeavyHitters.register(spark)
    val df = Seq(Option("a"), Option("a"), Option("b"), Option.empty[String])
      .toDF("t")
    val est = graft.functions.HeavyHitters.topK(df, col("t"), 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // under capacity: MG degenerates to exact counting; null not processed
    assert(est == Map("a" -> ((2L, 3L)), "b" -> ((1L, 3L))))
  }

  test("quantileBuckets: equal-population quartiles, null value gets null bucket") {
    import spark.implicits._
    val df = ((1 to 8).map(i => (i.toLong, Option(i.toDouble))) :+
      ((9L, Option.empty[Double]))).toDF("doc_id", "v")
    val out = graft.operators.Sampling.quantileBuckets(df, "doc_id", "v", 4)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    // bounds (p25/p50/p75 of 1..8): 2.75, 4.5, 6.25
    assert(out(1L) == Some(0) && out(2L) == Some(0))
    assert(out(3L) == Some(1) && out(4L) == Some(1))
    assert(out(5L) == Some(2) && out(6L) == Some(2))
    assert(out(7L) == Some(3) && out(8L) == Some(3))
    assert(out(9L).isEmpty)
  }

  test("effectiveTokens: dup-weighted volume; null text is its own zero-token cluster") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a b c")), (2L, Option("a b c")), (3L, Option("a b c")),
      (4L, Option("x y")), (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    val r = graft.operators.CorpusStats.effectiveTokens(df, "doc_id", "text")
      .collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L)
    // raw 3*3 + 2 + 0 = 11; effective 3 + 2 + 0 = 5
    assert(r.getLong(2) == 11L && r.getLong(3) == 5L)
    assert(math.abs(r.getDouble(4) - (1.0 - 5.0 / 11)) < 1e-6)
  }

  test("corpusCube: four grouping sets in one pass, flags disambiguate subtotals") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "s1", "a b"), (2L, "en", "s2", "c"), (3L, "fr", "s1", "d e f")
    ).toDF("doc_id", "lang", "source", "text")
    val out = graft.operators.CorpusStats.corpusCube(df, "lang", "source", "text")
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.size == 8) // 3 detail + 2 per-lang + 2 per-source + 1 grand
    assert(out((Some("en"), Some("s1"))) == ((1L, 2L, 0L, 0L)))
    assert(out((Some("en"), None)) == ((2L, 3L, 0L, 1L)))
    assert(out((None, Some("s1"))) == ((2L, 5L, 1L, 0L)))
    assert(out((None, None)) == ((3L, 6L, 1L, 1L)))
  }

  test("snapshotDiff: all five statuses, null-vs-empty distinct, dup_key guard") {
    import spark.implicits._
    val before = Seq(
      (1L, Option("x"), Option("a")),
      (2L, Option("y"), Option("b")),
      (3L, Option("z"), Option.empty[String]),
      (5L, Option("d"), Option("d")),
      (5L, Option("d2"), Option("d")),
      (6L, Option("n"), Option.empty[String])
    ).toDF("k", "v1", "v2")
    val after = Seq(
      (1L, Option("x"), Option("a")),       // unchanged
      (2L, Option("y"), Option("CHANGED")), // changed
      (4L, Option("new"), Option("r")),     // added (3 removed)
      (5L, Option("d"), Option("d")),       // dup_key on the before side
      (6L, Option("n"), Option(""))         // null -> empty IS a change
    ).toDF("k", "v1", "v2")
    val out = graft.profiler.SnapshotDiff
      .diff(before, after, Seq("k"), Seq("v1", "v2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "dup_key", 6L -> "changed"))
  }

  test("csv roundtrip survives commas, quotes, newlines and nulls in text") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_rt").toString + "/t.parquet"
    val df = Seq(
      (1L, Option("plain")),
      (2L, Option("comma, quote \" and\nnewline")),
      (3L, Option("")),
      (4L, Option.empty[String])
    ).toDF("id", "text")
    df.write.parquet(src)
    val back = graft.sources.FormatRoundtrip.roundtrip(spark, src, "csv")
      .orderBy("id").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    // CSV cannot distinguish empty string from null: both land as null —
    // the one documented lossy edge (parquet/json/orc keep the distinction)
    assert(back.toSeq == Seq(
      (1L, Some("plain")), (2L, Some("comma, quote \" and\nnewline")),
      (3L, None), (4L, None)))
  }

  test("format roundtrip re-stages when the source is rewritten at the same path") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_rt2").toString + "/t.parquet"
    Seq((1L, "one")).toDF("id", "text").write.parquet(src)
    val first = graft.sources.FormatRoundtrip.roundtrip(spark, src, "json")
      .collect().map(_.getString(1)).toSet
    assert(first == Set("one"))
    Thread.sleep(5) // ensure a distinct mtime for the fingerprint
    Seq((1L, "two"), (2L, "three")).toDF("id", "text")
      .write.mode("overwrite").parquet(src)
    val second = graft.sources.FormatRoundtrip.roundtrip(spark, src, "json")
      .collect().map(_.getString(1)).toSet
    assert(second == Set("two", "three"), "stale staging was reused")
  }

  test("patternMatch: anchored vs search semantics, null ratio for all-null column") {
    import spark.implicits._
    val df = Seq(
      (Option("AB-12"), Option.empty[String]),
      (Option("XY-9"), Option.empty[String]),
      (Option("bad"), Option.empty[String]),
      (Option.empty[String], Option.empty[String])
    ).toDF("code", "empty")
    val out = graft.profiler.Checks.patternMatch(df, Seq(
      ("full", "code", "^[A-Z]{2}-[0-9]+$"),
      ("search", "code", "[0-9]"),
      ("nullcol", "empty", ".*")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), Option(r.get(5))))).toMap
    assert(out("full") == ((3L, 2L, Some(0.666667))))
    // unanchored: substring search, "bad" has no digit
    assert(out("search") == ((3L, 2L, Some(0.666667))))
    assert(out("nullcol") == ((0L, 0L, None)))
  }

  test("vocabCoverage: top-k tie-break, OOV counting, empty doc omitted") {
    import spark.implicits._
    // freqs: a=3, b=2, c=2, d=1 — k=2 vocab is {a, b} (c loses the
    // freq-tie to b on the token ASC tie-break)
    val df = Seq((1L, "a a b c"), (2L, "a b c d"), (3L, "")).toDF("doc_id", "text")
    val out = graft.operators.CorpusStats.vocabCoverage(df, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((4L, 2L, 0.5)))
    assert(!out.contains(3L))
  }

  test("bigramScore: hand-computed Laplace model; sub-2-token docs omitted") {
    import spark.implicits._
    val df = Seq((1L, "a b a b"), (2L, "b a"), (3L, "x")).toDF("doc_id", "text")
    val out = graft.operators.LangModel.bigramScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // V=3 (a,b,x); cb(a,b)=2, cb(b,a)=2; cw(a)=cw(b)=2 — every transition
    // scores ln((2+1)/(2+3)) = ln(0.6)
    val lp = math.rint(math.log(0.6) * 1e6) / 1e6
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - lp) < 1e-9)
    assert(math.abs(out(1L)._3 - 1.666667) < 1e-6)
    assert(out(2L)._1 == 1L)
    // "x" has no transitions: omitted entirely
    assert(!out.contains(3L))
  }

  test("groupedQuantiles: interpolation, null values ignored, null group kept") {
    import spark.implicits._
    val df = Seq(
      (Option("a"), Option(1.0)), (Option("a"), Option(2.0)),
      (Option("a"), Option(3.0)), (Option("a"), Option(4.0)),
      (Option("a"), Option.empty[Double]),
      (Option("b"), Option(10.0)),
      (Option.empty[String], Option(7.0))
    ).toDF("g", "v")
    val out = graft.profiler.RobustStats
      .groupedQuantiles(df, "g", "v", Seq(0.5, 0.9))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // group a: values 1..4 (null ignored), p50 interpolates to 2.5,
    // p90 to 1 + 0.9*3 = 3.7
    assert(out(Some("a")) == ((4L, 2.5, 3.7)))
    assert(out(Some("b")) == ((1L, 10.0, 10.0)))
    assert(out(None) == ((1L, 7.0, 7.0)))
  }

  test("sessionize: gap split, tie-break order, per-session stats") {
    import spark.implicits._
    // user 1: events at t=0s, 10s, 100s with gap=30s -> sessions {0,10},{100};
    // user 2: two events at the SAME ts — tie broken by event id, one session
    val df = Seq(
      (10L, 0L, 1L, "view"), (11L, 10_000_000L, 1L, "click"),
      (12L, 100_000_000L, 1L, "view"),
      (20L, 5_000_000L, 2L, "view"), (21L, 5_000_000L, 2L, "view")
    ).toDF("event_id", "ts_us", "user_id", "event_type")
    val out = Events.sessionize(df, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 30_000_000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(out((1L, 1L)) == ((0L, 10_000_000L, 10_000_000L, 2L, 2L)))
    assert(out((1L, 2L)) == ((100_000_000L, 100_000_000L, 0L, 1L, 1L)))
    assert(out((2L, 1L)) == ((5_000_000L, 5_000_000L, 0L, 2L, 1L)))
    assert(out.size == 3)
  }

  test("ksDriftApprox: sub-k sketches are exact — D̂ equals the exact D") {
    import spark.implicits._
    // 10 values/side, far below k: no compaction, ranks exact.
    // before 1..10 vs after 6..15: ECDF gap peaks at 5/10 = 0.5
    val before = (1 to 10).map(_.toDouble).toDF("v")
    val after = (6 to 15).map(_.toDouble).toDF("v")
    val r = graft.profiler.Checks.ksDriftApprox(before, after, "v").head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 10L)
    assert(r.getDouble(3) == 0.5)
    val e = graft.profiler.Checks.ksDrift(before, after, "v").head()
    assert(e.getDouble(3) == 0.5)
  }

  test("ksDriftApprox: empty side yields null D, zero counts") {
    import spark.implicits._
    val before = (1 to 5).map(_.toDouble).toDF("v")
    val after = Seq.empty[Double].toDF("v")
    val r = graft.profiler.Checks.ksDriftApprox(before, after, "v").head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 0L)
    assert(r.isNullAt(3) && r.isNullAt(4))
    // an all-NaN side has no value the sketch keeps: the same empty-side
    // branch, with n still counting its non-null rows (as ksDrift does)
    val nans = Seq.fill(50)(Double.NaN).toDF("v")
    val rn = graft.profiler.Checks.ksDriftApprox(before, nans, "v").head()
    assert(rn.getLong(0) == 5L && rn.getLong(1) == 50L && rn.getLong(2) == 0L)
    assert(rn.isNullAt(3) && rn.isNullAt(4))
  }

  test("functionalDependencies: g3 violations, perfect FD, null-lhs group") {
    import spark.implicits._
    // id->name: id 1 maps to both "a" (2 rows) and "b" (1 row) -> 1
    // violation; name->id holds perfectly; null lhs is its own group
    val df = Seq(
      (Option(1L), "a"), (Option(1L), "a"), (Option(1L), "b"),
      (Option(2L), "c"), (Option.empty[Long], "d")
    ).toDF("id", "name")
    val out = graft.profiler.Integrity
      .functionalDependencies(df, Seq(("id", "name"), ("name", "id")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("id->name") == ((5L, 3L, 1L, 0.8)))
    assert(out("name->id") == ((5L, 4L, 0L, 1.0)))
  }

  test("transitionEntropy: deterministic state h=0, uniform state h=ln 2") {
    import spark.implicits._
    // user 1: a->b, b->a, a->b ; user 2: a->c
    // prev a: next {b:2, c:1}; prev b: next {a:1} (deterministic)
    val df = Seq(
      (0L, 0L, 1L, "a"), (1L, 1L, 1L, "b"), (2L, 2L, 1L, "a"),
      (3L, 3L, 1L, "b"),
      (4L, 0L, 2L, "a"), (5L, 1L, 2L, "c")
    ).toDF("event_id", "ts_us", "user_id", "event_type")
    val out = Events.transitionEntropy(df, "user_id", "ts_us", "event_id",
        "event_type")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("b")._1 == 1L && out("b")._3 == 0.0)
    val expA = math.rint((math.log(3) - (2 * math.log(2)) / 3) * 1e6) / 1e6
    assert(out("a")._1 == 3L && out("a")._2 == 2L)
    assert(math.abs(out("a")._3 - expA) < 1e-9)
    // first event of each user contributes no pair: 4 transitions total
    assert(out.values.map(_._1).sum == 4L)
  }

  test("collocationsPmi: hand-computed PMI; minFreq drops hapax pairs") {
    import spark.implicits._
    // bigrams: "a b" x3 (doc1), "b a" x2 (doc1) + x1 (doc2), "c d" x1
    // -> n=7, cx(a)=cy(b)=cx(b)=cy(a)=3
    val df = Seq((1L, "a b a b a b"), (2L, "b a"), (3L, "c d")).toDF("doc_id", "text")
    val out = graft.functions.TextFunctions
      .collocationsPmi(df, "text", minFreq = 2, k = 10)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains("c d"))
    val pmi = math.rint(math.log(7.0 / 3.0) * 1e6) / 1e6
    assert(out("a b") == ((3L, pmi)))
    assert(out("b a") == ((3L, pmi)))
    assert(out.size == 2)
  }

  test("rrfFuse: hand-computed fusion, ids missing from one list, ties by id") {
    import spark.implicits._
    // list1 ranks: a=1, b=2, c=3 ; list2 ranks: b=1, a=2 (no c)
    val l1 = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "rank")
    val l2 = Seq(("b", 1), ("a", 2)).toDF("id", "rank")
    val out = graft.operators.Search.rrfFuse(Seq(l1, l2), "id", "rank", k0 = 60, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def rr(r: Int) = math.rint(1e12 / (60.0 + r)) / 1e12
    val sA = math.rint((rr(1) + rr(2)) * 1e6) / 1e6
    val sC = math.rint(rr(3) * 1e6) / 1e6
    // a and b tie exactly (1/61+1/62 both) -> id ASC breaks it
    assert(out(0) == (("a", 2L, sA)))
    assert(out(1) == (("b", 2L, sA)))
    assert(out(2) == (("c", 1L, sC)))
  }

  test("madOutliers: hand-computed fences, zero-MAD degeneracy, all-null col") {
    import spark.implicits._
    // v: 1..7 plus 100 -> median 4.5, |x-4.5| = {3.5,2.5,1.5,0.5,0.5,1.5,2.5,95.5}
    // -> MAD 2.0, fences [-1.5, 10.5], one outlier above (100)
    // k: constant 5 except one 9 -> MAD 0, fences [5,5], the 9 flags
    val df = Seq(
      (1.0, 5.0, Option.empty[Double]), (2.0, 5.0, None), (3.0, 5.0, None),
      (4.0, 5.0, None), (5.0, 5.0, None), (6.0, 5.0, None),
      (7.0, 5.0, None), (100.0, 9.0, None)
    ).toDF("v", "k", "z")
    val out = graft.profiler.RobustStats
      .madOutliers(df, Seq("v", "k", "z"))
      .collect().map(r => r.getString(0) -> r).toMap
    val v = out("v")
    assert(v.getDouble(1) == 4.5 && v.getDouble(2) == 2.0)
    assert(v.getDouble(3) == -1.5 && v.getDouble(4) == 10.5)
    assert(v.getLong(5) == 0L && v.getLong(6) == 1L)
    val k = out("k")
    assert(k.getDouble(2) == 0.0 && k.getLong(6) == 1L)
    val z = out("z")
    assert(z.isNullAt(1) && z.getLong(5) == 0L && z.getLong(6) == 0L)
  }

  test("rollingDailyVolume: RANGE frame shrinks over gaps, partial starts visible") {
    import spark.implicits._
    val day = 86400000000L
    // days 0 (2 events), 1 (1), then a gap, day 5 (4): with a 3-day
    // window, day 5's frame covers days 3-5 -> only day 5 itself
    val df = Seq(0L, 1L, day, 5 * day, 5 * day, 5 * day, 5 * day)
      .toDF("ts_us")
    val out = Events.rollingDailyVolume(df, "ts_us", windowDays = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("1970-01-01") == ((2L, 2L, 1L, 1.0)))
    assert(out("1970-01-02") == ((1L, 3L, 2L, round6(1.0 * 2 / 3))))
    assert(out("1970-01-06") == ((4L, 4L, 1L, 1.0)))
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("volumeAutocorr: calendar alignment skips gap days; perfect lag corr = 1") {
    import spark.implicits._
    val day = 86400000000L
    // volumes: day0=1, day1=2, day2=3, day4=5 (day3 missing)
    def ev(d: Long, n: Int) = Seq.fill(n)(d * day)
    val df = (ev(0, 1) ++ ev(1, 2) ++ ev(2, 3) ++ ev(4, 5)).toDF("ts_us")
    val out = Events.volumeAutocorr(df, "ts_us", lags = Seq(1))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // aligned lag-1 pairs: (day1: 2,1), (day2: 3,2) — day4's calendar
    // predecessor day3 is ABSENT, so it contributes nothing (a
    // rows-frame lag would have wrongly paired day4 with day2)
    val (n, c) = out(("v", "v_lag1"))
    assert(n == 2L && c.contains(1.0))
  }

  test("rangeJoin: overlapping intervals each match; half-open bounds; cap trips") {
    import spark.implicits._
    val facts = Seq(0.5, 1.0, 2.0, 2.5, 10.0).toDF("v")
    // [0,2) and [1,3) overlap on [1,2): 1.0 sits in both; 2.0 is
    // excluded from a (hi-exclusive) but in b; 10.0 matches none
    val ivals = Seq(("a", 0.0, 2.0), ("b", 1.0, 3.0)).toDF("name", "lo", "hi")
    val out = graft.operators.AsOf
      .rangeJoin(facts, "v", ivals, "lo", "hi", bucketWidth = 1.0)
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(out == Set((0.5, "a"), (1.0, "a"), (1.0, "b"), (2.0, "b"), (2.5, "b")))
    val ex = intercept[Exception] {
      graft.operators.AsOf.rangeJoin(
        facts, "v", Seq(("wide", 0.0, 1e9)).toDF("name", "lo", "hi"),
        "lo", "hi", bucketWidth = 1.0, maxBucketsPerInterval = 100).collect()
    }
    assert(ex.getMessage.contains("rangeJoin"), s"got: ${ex.getMessage}")
  }

  test("spanDedup: hot-span relation above maxHotSpans fails fast") {
    import spark.implicits._
    val df = Seq((1L, "a a"), (2L, "a a"), (3L, "b b"), (4L, "b b"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.operators.SpanDedup
        .dropHotSpans(df, "doc_id", "text", spanWords = 2, minFreqToDrop = 2,
          maxHotSpans = 1)
        .collect()
    }
    assert(ex.getMessage.contains("maxHotSpans"),
      s"expected the cap guard, got: ${ex.getMessage}")
  }
}

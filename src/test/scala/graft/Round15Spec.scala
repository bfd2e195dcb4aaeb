package graft

import org.apache.spark.sql.functions._

import graft.TestSpark.{fuzzDocs, sf001Dir, sfEmb}

/** Round-15 pins: prototype pruning (E229) artifact ≡ in-plan + quota
  * invariants + the staleness guard, the training-dynamics trio
  * (E230-E232) invariants, the stream-stream interval join's batch
  * equivalence (E233), and the ADVICE r14 degenerate-input fixes
  * (kcenterCoreset, ScaleGen.replicateK). */
class Round15Spec extends SparkSuite {
  test("prototypePrune: from persisted index ≡ in-plan; per-cluster quota and rank invariants") {
    val emb = sfEmb
    val path = java.nio.file.Files
      .createTempDirectory("graft_proto_idx").toString
    graft.operators.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0, path)
    val idx = graft.operators.Similarity.readIvfIndex(spark, path)
    def run(i: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]) =
      graft.operators.Similarity.prototypePrune(
        emb, "vec_id", "embedding", col("vec_id") % 83 === 0,
        keepFrac = 0.7, index = i)
    val a = run(None).localCheckpoint(true)
    val b = run(Some(idx))
    assert(a.exceptAll(b).count() + b.exceptAll(a).count() == 0L,
      "artifact-served prototype pruning must be bit-identical to in-plan")
    // quota: per cluster, kept = ceil(0.7 * n); ranks contiguous 1..n
    val rows = a.collect()
    rows.groupBy(_.getLong(1)).foreach { case (cid, rs) =>
      val n = rs.length.toLong
      assert(rs.forall(_.getLong(4) == n), s"cluster $cid n_cluster mismatch")
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to n),
        s"cluster $cid ranks not contiguous")
      val kept = rs.count(_.getBoolean(5)).toLong
      assert(kept == math.ceil(0.7 * n).toLong,
        s"cluster $cid kept $kept of $n")
      // hardest kept: every kept rank below every dropped rank
      val (k, d) = rs.partition(_.getBoolean(5))
      assert(d.isEmpty || k.map(_.getLong(3)).max < d.map(_.getLong(3)).min)
    }
  }

  test("prototypePrune/semDedup: a stale (partial) index fails loudly instead of passing partial verdicts") {
    val emb = sfEmb
    val cut = emb.agg(expr("percentile(vec_id, 0.5)")).head().getDouble(0)
    val partial = emb.where(col("vec_id") <= cut)
    val path = java.nio.file.Files
      .createTempDirectory("graft_stale_idx").toString
    graft.operators.Similarity.writeIvfIndex(
      partial, "vec_id", "embedding", col("vec_id") % 83 === 0, path)
    val idx = graft.operators.Similarity.readIvfIndex(spark, path)
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.prototypePrune(
        emb, "vec_id", "embedding", col("vec_id") % 83 === 0,
        index = Some(idx)).collect()
    }
    assert(e1.getMessage.contains("stale"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.semDedup(
        emb, "vec_id", "embedding", col("vec_id") % 83 === 0,
        threshold = 0.35, index = Some(idx)).collect()
    }
    assert(e2.getMessage.contains("stale"), e2.getMessage)
  }

  test("rhoLossSelect: train-split only, rho = loss_train - loss_irr, descending, rank contiguous") {
    val docs = fuzzDocs(80)
    val out = graft.operators.QualityModel
      .rhoLossSelect(docs, "doc_id", "text", topK = 15)
      .orderBy("rank").collect()
    assert(out.length == 15)
    assert(out.map(_.getLong(5)).toSeq == (1L to 15L))
    val rhos = out.map(_.getDouble(1))
    assert(rhos.zip(rhos.tail).forall { case (a, b) => a >= b },
      s"not descending: ${rhos.mkString(",")}")
    out.foreach { r =>
      val expect = BigDecimal(r.getDouble(2) - r.getDouble(3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(1) == expect, s"rho != round(lt - li, 6): $r")
    }
    // selected ids must come from the train split (coin >= 2000)
    val coins = docs.select(col("doc_id"),
      graft.operators.Sampling.hashBucket(col("doc_id"), "rho").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall(r => coins(r.getLong(0)) >= 2000L))
  }

  test("tracinScores: probe flags, self-consistency of the probe mean influence") {
    val docs = fuzzDocs(97 * 3)
    val out = graft.operators.QualityModel
      .tracinScores(docs, "doc_id", "text").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(0) % 97 == 0), r.toString)
      assert(!r.getDouble(1).isNaN && !r.getDouble(1).isInfinite)
    }
    assert(out.exists(_.getBoolean(3)), "no probe rows")
    // TracIn self-consistency: averaged over the probe set itself the
    // influence is the mean squared gradient dot - nonnegative up to
    // the 6-dp per-term rounding (each of the 6 per-checkpoint terms
    // rounds before summing, so allow that grain)
    val probes = out.filter(_.getBoolean(3)).map(_.getDouble(1))
    assert(probes.sum >= -6e-6 * probes.length,
      s"probe-set self-influence negative: ${probes.sum}")
  }

  test("dataMap: region thresholds, bounds, correctness grid") {
    val docs = fuzzDocs(90)
    val out = graft.operators.QualityModel
      .dataMap(docs, "doc_id", "text").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (conf, vari, corr, region) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getString(4))
      assert(conf >= 0.0 && conf <= 1.0, r.toString)
      assert(vari >= 0.0 && vari <= 0.5 + 1e-9, r.toString)
      assert((0 to 6).map(k => BigDecimal(k / 6.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .contains(corr), r.toString)
      val expect =
        if (conf >= 0.5 && vari < 0.2) "easy_to_learn"
        else if (conf < 0.5 && vari < 0.2) "hard_to_learn"
        else "ambiguous"
      assert(region == expect, r.toString)
    }
  }

  test("streaming interval join ≡ batch interval join (single-source replay)") {
    val dir = sf001Dir
    val streamed = graft.streaming.StreamingProfile.replayParquet(
      spark, s"$dir/events.parquet",
      df => graft.streaming.StreamingProfile.intervalJoin(
        df.withColumn("ts",
          timestamp_micros(graft.operators.Events.tsMicros(df, "ts"))),
        leftType = "view", rightType = "click", windowMinutes = 240),
      "append")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val ev = raw.withColumn("ts_us",
      graft.operators.Events.tsMicros(raw, "ts"))
    val l = ev.where(col("event_type") === "view")
      .select(col("event_id").as("l_event_id"), col("user_id"),
        col("ts_us").as("l_us"))
    val r = ev.where(col("event_type") === "click")
      .select(col("event_id").as("r_event_id"),
        col("user_id").as("r_user_id"), col("ts_us").as("r_us"))
    val batch = l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_us") >= col("l_us") &&
        col("r_us") <= col("l_us") + lit(240L * 60L * 1000000L))
      .select("user_id", "l_event_id", "r_event_id", "l_us", "r_us")
    assert(streamed.exceptAll(batch).count() +
      batch.exceptAll(streamed).count() == 0L,
      "stream-stream interval join must equal the batch interval join")
    assert(batch.count() > 0, "trivial: batch join empty at sf0.001")
  }

  test("d4Select: from-index ≡ in-plan; survivors-only quota; removed rows never kept") {
    val emb = sfEmb
    val path = java.nio.file.Files
      .createTempDirectory("graft_d4_idx").toString
    graft.operators.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0, path)
    val idx = graft.operators.Similarity.readIvfIndex(spark, path)
    def run(i: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]) =
      graft.operators.Similarity.d4Select(
        emb, "vec_id", "embedding", col("vec_id") % 83 === 0,
        threshold = 0.35, keepFrac = 0.7, index = i)
    val a = run(None).localCheckpoint(true)
    val b = run(Some(idx))
    assert(a.exceptAll(b).count() + b.exceptAll(a).count() == 0L,
      "artifact-served D4 must be bit-identical to in-plan")
    val rows = a.collect()
    assert(rows.exists(_.getBoolean(3)), "no semdedup removals at sf0.001")
    rows.filter(_.getBoolean(3)).foreach { r =>
      assert(r.isNullAt(4) && r.isNullAt(5) && !r.getBoolean(6),
        s"removed row ranked or kept: $r")
    }
    rows.filterNot(_.getBoolean(3)).groupBy(_.getLong(1))
      .foreach { case (cid, rs) =>
        val n = rs.length.toLong
        assert(rs.forall(_.getLong(5) == n))
        assert(rs.map(_.getLong(4)).sorted.toSeq == (1L to n))
        assert(rs.count(_.getBoolean(6)).toLong ==
          math.ceil(0.7 * n).toLong, s"cluster $cid quota")
      }
  }

  test("fleschReadability vs an independent model (incl. empty/no-sentence edges)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      1L -> "The cat sat. It ran away fast. Dogs bark loud.",
      2L -> "word",                       // no sentence marks -> floor 1
      3L -> "",                           // zero words
      4L -> "rhythm myth gym!",           // y-only syllables
      5L -> (("incomprehensibilities " * 30).trim + "."),
      6L -> "a e i o u? b c d f g."
    ).toDF("doc_id", "text")
    val out = graft.operators.CorpusStats
      .fleschReadability(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def syll(w: String): Long =
      math.max("[aeiouyAEIOUY]+".r.findAllIn(w).length, 1).toLong
    Seq(
      1L -> "The cat sat. It ran away fast. Dogs bark loud.",
      2L -> "word", 3L -> "", 4L -> "rhythm myth gym!",
      5L -> (("incomprehensibilities " * 30).trim + "."),
      6L -> "a e i o u? b c d f g."
    ).foreach { case (id, text) =>
      val words = text.split("\\s+").filter(_.nonEmpty)
      val nW = words.length.toLong
      val nS = math.max(text.count(c => "?!.".contains(c)), 1).toLong
      val nSy = words.map(syll).sum
      val r = out(id)
      assert(r.getLong(1) == nW && r.getLong(2) == nS && r.getLong(3) == nSy,
        s"doc $id counts: $r vs ($nW,$nS,$nSy)")
      if (nW == 0) assert(r.isNullAt(6) && r.isNullAt(8), r.toString)
      else {
        val wps = nW.toDouble / nS
        val spw = nSy.toDouble / nW
        val flesch = BigDecimal(206.835 - 1.015 * wps - 84.6 * spw)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getDouble(6) == flesch, s"doc $id flesch")
        assert(r.getBoolean(8) == (flesch >= 30.0), s"doc $id readable")
      }
    }
  }

  test("round-15 plan audit: flesch/dup-line are shuffle-free map-only; prune/D4 windows are keyed, never single-partition") {
    val s = spark
    import s.implicits._
    val docs = (1 to 40)
      .map(i => (i.toLong, ("alpha beta gamma delta epsilon. " * (3 + i % 5)).trim))
      .toDF("doc_id", "text")
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // E235: pure scan projection — no Exchange, no Join
    val fp = plan(graft.operators.CorpusStats
      .fleschReadability(docs, "doc_id", "text"))
    assert(!fp.contains("Exchange") && !fp.contains("Join"), s"\n$fp")
    // E229/E234: per-cluster windows keyed by centroid — a global
    // (single-partition) window must never appear
    val emb = sfEmb
    val pp = plan(graft.operators.Similarity.prototypePrune(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0))
    assert(pp.contains("Window") && !pp.contains("Exchange SinglePartition"),
      s"\n$pp")
    val d4 = plan(graft.operators.Similarity.d4Select(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0))
    assert(d4.contains("Window") && !d4.contains("Exchange SinglePartition"),
      s"\n$d4")
  }

  test("qualityEnsemble: normalized signals span [0,1] and hit both ends; keep ≡ ensemble ≥ 0.5") {
    val docs = fuzzDocs(80)
    val out = graft.operators.QualityModel
      .qualityEnsemble(docs, "doc_id", "text").collect()
    assert(out.nonEmpty)
    Seq(4, 5, 6).foreach { c =>
      val vals = out.filterNot(_.isNullAt(c)).map(_.getDouble(c))
      assert(vals.forall(v => v >= 0.0 && v <= 1.0), s"col $c out of [0,1]")
      assert(vals.min == 0.0 && vals.max == 1.0,
        s"col $c min-max scaling must hit both ends: ${vals.min}..${vals.max}")
    }
    out.filterNot(_.isNullAt(7)).foreach { r =>
      assert(r.getBoolean(8) == (r.getDouble(7) >= 0.5), r.toString)
    }
  }

  test("kcenterCoreset degrades to a shorter trajectory on degenerate input (ADVICE r14)") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.Similarity
      .kcenterCoreset(empty, "vec_id", "embedding", k = 4).count() == 0L)
    val three = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f)), (4L, Array(0.0f, 0.0f)) // zero-norm: dropped
    ).toDF("vec_id", "embedding")
    val tr = graft.operators.Similarity
      .kcenterCoreset(three, "vec_id", "embedding", k = 8)
      .orderBy("step").collect()
    assert(tr.length == 3, s"expected 3-step trajectory, got ${tr.length}")
    assert(tr.map(_.getLong(1)).toSet == Set(1L, 2L, 3L))
  }

  test("ScaleGen.replicateK: empty vector input fails with the intended require, not an NPE (ADVICE r14)") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.tools.ScaleGen.replicateK(
        empty, 2, Map("vec_id" -> 100000L), rotateVec = Some("embedding"))
        .count()
    }
    assert(e.getMessage.contains("empty vector column"), e.getMessage)
  }
}

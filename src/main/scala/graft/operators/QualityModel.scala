package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** In-engine model training (E164) — a logistic-regression quality /
  * language classifier learned with full-batch gradient descent INSIDE
  * the query engine: the "train a fastText-style filter on corpus
  * features" step of a curation pipeline (the GPT-3 / CCNet recipe
  * trains exactly such a linear filter over document statistics), here
  * as a deterministic, oracle-replayable operator instead of an external
  * ML job.
  *
  * Spark-first iteration shape (the E159 BPE precedent): the corpus
  * reduces ONCE to a quantized feature relation (6-dp features, the
  * engine-parity contract); each of the fixed `iterations` steps is one
  * map-side-combined aggregation computing the gradient's decimal term
  * sums + the pre-update log-loss and accuracy with the CURRENT weights
  * inlined as literals, followed by a 1-row collect and a driver-side
  * weight update — driver traffic is one row per iteration, executor
  * state is a dozen aggregate buffers.
  *
  * Determinism (the decSum contract, end to end): features and weights
  * are 6-dp quantities, so the logit z is the same fixed-order double
  * expression on both engines; per-row gradient terms
  * `ROUND((σ(z) − y)·x_j, 6)` and log-loss terms
  * `ROUND(ln(1 + e^(−(2y−1)z)), 6)` are quantized to DECIMAL(38,6)
  * BEFORE summing (a last-ulp `exp`/`ln` disagreement moves a term by
  * ~1e−16 — six orders below the rounding grain); means are
  * `ROUND(CAST(sum AS DOUBLE)/n, 6)`; updates
  * `w ← ROUND(w − lr·g, 6)`. Accuracy thresholds on `z ≥ 0`, never on
  * σ(z) — no transcendental on the decision boundary. DuckDB replays
  * every step in chained CTEs (OracleSql.qualityLogreg) — a FULL hash
  * oracle for model training.
  *
  * Cites reference scope: model training is absent from awsdataprofiler
  * (Profiler.scala:166-253 profiles only) — extension per SURVEY §2.E. */
object QualityModel {

  /** Train on `(featureCols, labelCol)` — features pre-quantized 6-dp
    * doubles, label 0.0/1.0. Returns one row per iteration:
    * `(iter, w0, w1…, mean_logloss, accuracy)` with POST-update weights
    * and PRE-update loss/accuracy (iteration k's loss is measured on the
    * weights iteration k−1 produced — the curve a training log shows). */
  def logregTrain(
      features: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      iterations: Int = 6,
      lr: Double = 1.0): DataFrame = {
    require(featureCols.nonEmpty && iterations > 0)
    val spark = features.sparkSession
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val src = graft.profiler.ScanMetrics.spread(features)
      .localCheckpoint(true)
    val nf = featureCols.size
    var w = Array.fill(nf + 1)(0.0) // w(0) = bias
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Seq.newBuilder[Row]
    for (it <- 1 to iterations) {
      val z: Column = featureCols.zipWithIndex.foldLeft(lit(w(0))) {
        case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c)
      }
      val y = col(labelCol)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val xs: Seq[Column] = lit(1.0) +: featureCols.map(col)
      val gradAggs = xs.zipWithIndex.map { case (x, j) =>
        sum(round((p - y) * x, 6).cast(dec6)).as(s"g_$j")
      }
      val aggs = gradAggs ++ Seq(
        count(lit(1)).as("n"),
        sum(round(log(lit(1.0) + exp(-(lit(2.0) * y - lit(1.0)) * z)), 6)
          .cast(dec6)).as("ll"),
        count(when((z >= 0) === (y === 1.0), 1)).as("hits"))
      val row = src.agg(aggs.head, aggs.tail: _*).head()
      val n = row.getAs[Long]("n")
      require(n > 0, "logregTrain: empty feature relation")
      val g = (0 to nf).map(j =>
        r6(row.getDecimal(j).doubleValue() / n))
      w = w.zip(g).map { case (wj, gj) => r6(wj - lr * gj) }
      val logloss = r6(row.getAs[java.math.BigDecimal]("ll").doubleValue() / n)
      val acc = r6(row.getAs[Long]("hits").toDouble / n)
      out += Row.fromSeq(it.toLong +: w.toSeq :+ logloss :+ acc)
    }
    val schema = StructType(
      StructField("iter", LongType, nullable = false) +:
        (0 to nf).map(j => StructField(s"w$j", DoubleType, nullable = false)) :+
        StructField("mean_logloss", DoubleType, nullable = false) :+
        StructField("accuracy", DoubleType, nullable = false))
    spark.createDataFrame(
      java.util.Arrays.asList(out.result(): _*), schema)
  }

  /** Classifier calibration table (E175) — the reliability diagram
    * behind every "keep docs with p ≥ τ" curation threshold: bucket a
    * 6-dp predicted probability column into tenths and report, per
    * bucket, the count, the mean predicted probability (decimal-summed)
    * and the observed positive fraction — a well-calibrated filter has
    * mean_p ≈ frac_pos per bucket, and the deviation IS the threshold
    * correction to apply (the Platt-scaling input). In production the
    * score column is [[logregTrain]]'s final-weight sigmoid; the
    * operator takes ANY 6-dp p so cheap heuristic scores calibrate the
    * same way.
    *
    * Determinism: p must arrive rounded to 6 dp, so both engines bucket
    * the identical double via the shared ×10 floor. Scale: map-only
    * scoring, ≤10-group map-side-combined hash agg — nothing else. */
  def calibrationTable(
      scored: DataFrame,
      probCol: String,
      labelCol: String): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    scored
      .select(col(probCol).as("p"), col(labelCol).as("y"))
      .where(col("p").isNotNull)
      .groupBy(least(floor(col("p") * 10).cast("long"), lit(9L)).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("p").cast(dec6)).cast("double") / count(lit(1)), 6)
          .as("mean_p"),
        round(count(when(col("y") === 1.0, 1)).cast("double") /
          count(lit(1)), 6).as("frac_pos"))
  }

  /** Top principal component by deterministic power iteration (E172) —
    * the second in-engine TRAINING operator (after [[logregTrain]]):
    * the direction of maximum variance of the embedding cloud, the
    * whitening/compression primitive ahead of ANN and clustering (and
    * the exact-machinery sibling of E148's covariance-free effective-
    * dims estimate).
    *
    * Spark-first shape: ONE distributed pass reduces the corpus to the
    * uncentered dim×dim Gram matrix — per-row upper-triangle products,
    * 6-dp-rounded and DECIMAL(38,6)-summed (order-free, the decSum
    * contract), map-side combined into ≤ dim(dim+1)/2 groups — then the
    * power iteration runs DRIVER-SIDE on the metadata-sized matrix (the
    * hybrid-CC precedent: 64×64 doubles, `iterations`·dim² flops; a
    * 100 TB corpus changes only the one scan). Every iteration step is
    * engine-replayable: matvec terms `ROUND(G_ij·v_j, 6)` decimal-
    * summed, norm on decimal-summed `ROUND(w_i², 6)`, update
    * `v ← ROUND(w/‖w‖, 6)` — DuckDB replays all `iterations` steps in
    * chained CTEs (the E159/E164 pattern), a FULL hash oracle for an
    * eigenvector computation.
    *
    * Start vector is the uniform `ROUND(1/√dim, 6)`; its overlap with
    * the top eigenvector of a Gram matrix of real embedding data is
    * far from 0, so `iterations` = 8 converges the direction to the
    * 6-dp grain. Returns `(dim_idx, loading, eigenvalue)` — eigenvalue
    * the norm of the final matvec (= the Rayleigh estimate under a
    * normalized v). */
  def pcaPower(
      emb: DataFrame, vecCol: String, iterations: Int = 8): DataFrame = {
    require(iterations >= 1)
    val spark = emb.sparkSession
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    // spread BEFORE the dim² explode (r16, guide §2: the embeddings
    // table scans as one row-group task, so the N·dim(dim+1)/2-row
    // partial-aggregation phase — where all of this operator's work is —
    // ran single-threaded: probe showed one 6.4 s task at sf0.1). The
    // Gram sums are 6-dp-quantized decimals, order-free, so spreading
    // changes nothing downstream.
    val upper = graft.profiler.ScanMetrics.spread(
      emb.select(col(vecCol).as("v")).where(col("v").isNotNull))
      .select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
      .select(col("i"), col("xi").cast("double").as("xi"),
        posexplode(col("v")).as(Seq("j", "xj")))
      .where(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum(round(col("xi") * col("xj").cast("double"), 6).cast(dec6))
        .as("g"))
    val cells = upper.collect() // ≤ dim(dim+1)/2 rows — metadata-sized
    require(cells.nonEmpty, "pcaPower: no embeddings")
    val dim = cells.map(_.getAs[Int]("j")).max + 1
    val G = Array.ofDim[Double](dim, dim)
    cells.foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      val g = r.getDecimal(2).doubleValue()
      G(i)(j) = g; G(j)(i) = g
    }
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Σ ROUND(term, 6) as exact decimals — the order-free sum both
    // engines agree on bit-for-bit
    def decSum(ts: Iterator[Double]): Double =
      ts.foldLeft(BigDecimal(0))((a, t) =>
        a + BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .toDouble
    var v = Array.fill(dim)(r6(1.0 / math.sqrt(dim.toDouble)))
    var lam = 0.0
    for (_ <- 1 to iterations) {
      val w = Array.tabulate(dim)(i =>
        decSum((0 until dim).iterator.map(j => G(i)(j) * v(j))))
      val norm = math.sqrt(decSum(w.iterator.map(wi => wi * wi)))
      require(norm > 0, "pcaPower: matvec collapsed to zero")
      v = w.map(wi => r6(wi / norm))
      lam = r6(norm)
    }
    import spark.implicits._
    v.toSeq.zipWithIndex
      .map { case (x, i) => (i.toLong, x, lam) }
      .toDF("dim_idx", "loading", "eigenvalue")
  }

  /** The documents-table training set both engines derive identically:
    * 6-dp quality features (length score, punctuation ratio, stopword
    * ratio — the E9 ingredients) and the is-English label; rows with no
    * chars or no tokens carry undefined ratios and are excluded on both
    * sides. */
  def docFeatures(docs: DataFrame, textCol: String, langCol: String): DataFrame =
    docFeaturesWith(docs, textCol, langCol, Nil)

  /** [[docFeatures]] with passthrough columns — the executor/DRO entry
    * point: the same feature algebra and validity filter, plus `extra`
    * columns (a doc id for score joins, a domain for group weighting, a
    * precomputed content hash) carried through untouched so scoring
    * stays a single map-only pass with no join back to the corpus. */
  def docFeaturesWith(
      docs: DataFrame,
      textCol: String,
      langCol: String,
      extra: Seq[String]): DataFrame =
    docFeaturesLabeled(docs, textCol,
      when(col(langCol) === "en", lit(1.0)).otherwise(lit(0.0)), extra)

  /** The shared feature relation under an arbitrary 0.0/1.0 `label`
    * column — [[docFeaturesWith]]'s generalization: the fastText-filter
    * recipe trains the same features against whatever defines
    * "reference-like" in the pipeline at hand (a language id, a
    * reference-corpus membership bit, a heuristic quality verdict). */
  def docFeaturesLabeled(
      docs: DataFrame,
      textCol: String,
      label: Column,
      extra: Seq[String]): DataFrame = {
    import graft.functions.TextFunctions
    val t = col(textCol)
    val nChars = length(t).cast("double")
    val ws = TextFunctions.wsTokenCount(t)
    docs
      .where(coalesce(length(t), lit(0)) > 0 &&
        TextFunctions.wsTokenCount(t) > 0)
      .select(extra.map(col) ++ Seq(
        round(least(ws.cast("double") / lit(100.0), lit(1.0)), 6).as("x1"),
        round(TextFunctions.punctCount(t).cast("double") / nChars, 6).as("x2"),
        round(TextFunctions.stopwordCount(
          TextFunctions.wsTokens(lower(t)),
          TextFunctions.Stopwords.collectFirst { case ("en", ww) => ww }.get)
          .cast("double") / ws.cast("double"), 6).as("x3"),
        label.as("y")): _*)
  }

  /** The reference-quality training label the filter executor learns
    * from: 1.0 when the 6-dp E9 quality score is ≥ 0.5 — "positives =
    * reference-like documents, negatives = the rest", the fastText
    * classifier recipe (GPT-3 appendix A trains against WebText
    * membership; with no external reference corpus the heuristic gate
    * plays that role, and the learned model is its calibrated linear
    * distillation). */
  def qualityLabel(textCol: String): Column =
    when(round(graft.functions.TextFunctions.qualityScore(col(textCol)), 6)
      >= 0.5, lit(1.0)).otherwise(lit(0.0))

  /** Quality-filter EXECUTOR (E180) — the curation ACTION [[logregTrain]]
    * trains for: learn the linear filter in-engine against the
    * reference-quality label ([[qualityLabel]] — the fastText recipe:
    * positives = reference-like docs, the label the features genuinely
    * separate), then keep every document the model accepts (p ≥ 0.5 ⇔
    * z ≥ 0 — the decision threshold stays on the LOGIT, never on σ(z),
    * so no transcendental touches the keep/drop boundary) and pin the
    * kept corpus by sha256(text). The GPT-3/CCNet "classifier-filtered
    * corpus" step as one operator instead of train-export-rescore
    * plumbing. Default lr = 8: full-batch GD on these 6-dp features
    * moves ~0.1/step at lr 1 — at 6 replayable steps the boundary never
    * leaves the bias's shadow; 8 converges the decision boundary into
    * the corpus's score range (kept ≈ the separable label, boundary
    * docs decided by the model).
    *
    * Spark-first shape: training is [[logregTrain]]'s 6 metadata-sized
    * collects; scoring inlines the final 6-dp weights as LITERALS into
    * one map-only pass over the feature relation — the content hash rides
    * along from the same scan ([[docFeaturesLabeled]] passthrough), so
    * the executor plan has NO join and NO shuffle of document payloads.
    * Documents failing the feature-validity filter (no chars / no
    * tokens) are dropped — a filter that cannot score a document does
    * not keep it.
    *
    * Determinism: z = w0 + w1·x1 + w2·x2 + w3·x3 is the same fixed-order
    * IEEE-double expression on both engines over 6-dp literals and
    * features (+/× are exactly rounded — bit-identical), so the keep set
    * and the 6-dp score hash-match the DuckDB replay of the full
    * training chain + scoring join. Full hash oracle for a
    * train-then-act pipeline.
    *
    * Cites reference scope: curation actions are absent from
    * awsdataprofiler (Profiler.scala:166-253 profiles only) — extension
    * per SURVEY §2.E. */
  def qualityFilterExecute(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int = 6,
      lr: Double = 8.0): DataFrame = {
    val src = docs.withColumn("text_sha", sha2(col(textCol), 256))
    val fid = docFeaturesLabeled(
      src, textCol, qualityLabel(textCol), Seq(idCol, "text_sha"))
      .localCheckpoint(true) // two consumers: the training agg chain + scoring
    val last = logregTrain(
      fid.select("x1", "x2", "x3", "y"), Seq("x1", "x2", "x3"), "y",
      iterations, lr)
      .orderBy(col("iter").desc).head()
    val w = (0 to 3).map(j => last.getAs[Double](s"w$j"))
    val z = lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    fid
      .where(z >= 0)
      .select(col(idCol), round(z, 6).as("score"), col("text_sha"))
  }

  /** EL2N data-selection scoring (E223) — Paul et al. '21 ("Deep
    * Learning on a Data Diet"): rank every example by the L2 norm of the
    * model's error vector and keep the HARDEST ones (easy, well-fit
    * examples carry the least training signal and are the first to
    * prune). For the in-engine linear filter the error vector is the
    * scalar `σ(z) − y`, so the score is `|σ(z) − y|` under the E164
    * logreg trained exactly as the E180 executor trains it (reference-
    * quality label, lr 8, 6 replayable full-batch steps) — the
    * data-diet step of a curation pipeline as one operator instead of a
    * train-export-score-rank toolchain.
    *
    * Spark-first shape: training is [[logregTrain]]'s 6 metadata-sized
    * collects; scoring inlines the final 6-dp weights as LITERALS into
    * one map-only pass; selection is a top-k over (score DESC, id ASC)
    * — `TakeOrderedAndProject`, the per-partition-heap + driver-merge
    * physical top-k, never a full sort. At 100 TB the scan streams and
    * only k rows cross the network per partition.
    *
    * Determinism: z is the fixed-order 6-dp-literal logit both engines
    * evaluate identically; `el2n = ROUND(|σ(z) − y|, 6)` shares the
    * gradient-term contract (a last-ulp exp disagreement sits six
    * orders below the rounding grain); the (el2n DESC, id ASC) order is
    * total, so the top-k set and ranks hash-match the DuckDB replay of
    * the full training chain + scoring. Full hash oracle.
    *
    * Cites reference scope: example-level selection is absent from
    * awsdataprofiler (Profiler.scala:166-253 profiles only) — extension
    * per SURVEY §2.E. */
  def el2nSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int = 6,
      lr: Double = 8.0,
      topK: Int = 100): DataFrame = {
    require(topK > 0, s"el2nSelect: topK=$topK")
    val fid = docFeaturesLabeled(
      docs, textCol, qualityLabel(textCol), Seq(idCol))
      .localCheckpoint(true) // two consumers: training chain + scoring
    val last = logregTrain(
      fid.select("x1", "x2", "x3", "y"), Seq("x1", "x2", "x3"), "y",
      iterations, lr)
      .orderBy(col("iter").desc).head()
    val w = (0 to 3).map(j => last.getAs[Double](s"w$j"))
    val z = lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    val scored = fid.select(
      col(idCol),
      round(abs(p - col("y")), 6).as("el2n"),
      col("y"),
      round(z, 6).as("z"))
    // rank derives from the already-total (el2n DESC, id ASC) order the
    // top-k was taken under (VERDICT r14 #6): coalesce(1) over the ≤k
    // selected rows + a re-sort + the partition-monotonic id replaces
    // the post-limit global window — same single-partition cost on k
    // rows, but no Exchange/Window operators, and raising topK can
    // never widen a window over the full corpus by accident.
    scored
      .orderBy(col("el2n").desc, col(idCol).asc)
      .limit(topK)
      .coalesce(1)
      .sortWithinPartitions(col("el2n").desc, col(idCol).asc)
      .withColumn("rank", monotonically_increasing_id() + lit(1L))
  }

  /** Example-forgetting statistics (E227) — Toneva et al. '19 ("An
    * Empirical Study of Example Forgetting during Deep Neural Network
    * Learning"): count, per example, the training steps at which the
    * model's prediction flips from correct to incorrect. Examples with
    * zero forgetting events ("unforgettable") are the safest to prune;
    * frequently-forgotten examples mark the decision boundary (or label
    * noise) — the trajectory-based complement of E223's final-state
    * EL2N score, computable here because the E164 training loop already
    * yields a deterministic, hash-oracled weight trajectory.
    *
    * Spark-first shape: train once ([[logregTrain]], 6 metadata-sized
    * collects), then inline ALL `iterations` weight snapshots as
    * literals into ONE map-only projection — per document the 6 logits,
    * the correct/incorrect flags (decided on `z ≥ 0`, never on σ(z) —
    * no transcendental at any boundary) and their flip count are a
    * single codegen'd expression tree; no join, no shuffle, one corpus
    * pass regardless of trajectory length.
    *
    * Determinism: 6-dp weights and features make every logit the same
    * fixed-order double expression in both engines; every output is an
    * integer or boolean. DuckDB replays the training CTE chain and
    * cross-joins the six 1-row weight relations. Full hash oracle.
    *
    * Cites reference scope: example-level training dynamics are absent
    * from awsdataprofiler (Profiler.scala:166-253 profiles only) —
    * extension per SURVEY §2.E. */
  def forgettingEvents(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int = 6,
      lr: Double = 8.0): DataFrame = {
    val fid = docFeaturesLabeled(
      docs, textCol, qualityLabel(textCol), Seq(idCol))
      .localCheckpoint(true) // two consumers: training chain + scoring
    val hist = logregTrain(
      fid.select("x1", "x2", "x3", "y"), Seq("x1", "x2", "x3"), "y",
      iterations, lr)
      .orderBy("iter").collect()
    val corrects: Seq[Column] = hist.toSeq.map { r =>
      val z = lit(r.getAs[Double]("w0")) +
        lit(r.getAs[Double]("w1")) * col("x1") +
        lit(r.getAs[Double]("w2")) * col("x2") +
        lit(r.getAs[Double]("w3")) * col("x3")
      (z >= 0) === (col("y") === 1.0)
    }
    val forget = corrects.sliding(2).map {
      case Seq(prev, cur) => when(prev && !cur, lit(1L)).otherwise(lit(0L))
    }.reduce(_ + _)
    val nCorrect = corrects
      .map(c => when(c, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    fid.select(
      col(idCol),
      forget.as("forgetting_events"),
      nCorrect.as("n_correct"),
      corrects.last.as("final_correct"),
      col("y"))
  }

  /** RHO-loss selection (E230) — Mindermann et al. '22 ("Prioritized
    * Training on Points that are Learnable, Worth Learning, and Not Yet
    * Learnt"): score each training example by its REDUCIBLE holdout
    * loss — the loss under the main model minus the loss under an
    * "irreducible-loss" model trained on a held-out split. High-RHO
    * examples are learnable (the holdout model finds them easy → low
    * irreducible loss) but not yet learnt (the main model still gets
    * them wrong); noisy/mislabeled points score LOW because even the
    * holdout model cannot fit them — the failure mode that makes plain
    * high-loss selection (E223 EL2N) over-sample label noise.
    *
    * Spark-first shape: the corpus reduces once to the quantized
    * feature relation, splits by the deterministic E21 sha256 coin
    * (salt "rho" — holdout = bucket < `holdoutBuckets`), each split
    * trains via [[logregTrain]] (6 metadata-sized collects each), and
    * scoring is ONE map-only pass over the TRAIN split with both final
    * weight vectors inlined as literals — no join; the top-k rides the
    * E223 physical-top-k + coalesce(1) rank pattern.
    *
    * Determinism: both logits are fixed-order expressions over 6-dp
    * features and weights; per-example losses round to 6 dp before the
    * subtraction, and rho rounds the 6-dp difference — DuckDB replays
    * BOTH training chains (prefixed CTEs) and the identical loss
    * algebra. Full hash oracle.
    *
    * Cites reference scope: example-level selection is absent from
    * awsdataprofiler (Profiler.scala:166-253 profiles only) — extension
    * per SURVEY §2.E. */
  def rhoLossSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int = 6,
      lr: Double = 8.0,
      topK: Int = 100,
      holdoutBuckets: Int = 2000): DataFrame = {
    require(topK > 0, s"rhoLossSelect: topK=$topK")
    require(holdoutBuckets > 0 && holdoutBuckets < Sampling.Buckets,
      s"rhoLossSelect: holdoutBuckets=$holdoutBuckets out of (0, ${Sampling.Buckets})")
    val fid = docFeaturesLabeled(
      docs, textCol, qualityLabel(textCol), Seq(idCol))
      .withColumn("_rho_coin", Sampling.hashBucket(col(idCol), "rho"))
      .localCheckpoint(true) // consumers: two training chains + scoring
    val trainSplit = fid.where(col("_rho_coin") >= holdoutBuckets)
    val holdout = fid.where(col("_rho_coin") < holdoutBuckets)
    def finalWeights(split: DataFrame): Seq[Double] = {
      val last = logregTrain(
        split.select("x1", "x2", "x3", "y"), Seq("x1", "x2", "x3"), "y",
        iterations, lr)
        .orderBy(col("iter").desc).head()
      (0 to 3).map(j => last.getAs[Double](s"w$j"))
    }
    // the two chains are independent (disjoint splits of the checkpointed
    // feature relation) — overlap their per-iteration jobs so one chain's
    // collect latency back-fills the other's; results are unchanged
    val Seq(wMain, wIrr) =
      graft.Par.map(docs.sparkSession, Seq(trainSplit, holdout), 2)(finalWeights)
    def logit(w: Seq[Double]): Column =
      lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    def loss(w: Seq[Double]): Column =
      round(log(lit(1.0) +
        exp(-(lit(2.0) * col("y") - lit(1.0)) * logit(w))), 6)
    val scored = trainSplit.select(
      col(idCol),
      round(loss(wMain) - loss(wIrr), 6).as("rho"),
      loss(wMain).as("loss_train"),
      loss(wIrr).as("loss_irr"),
      col("y"))
    scored
      .orderBy(col("rho").desc, col(idCol).asc)
      .limit(topK)
      .coalesce(1)
      .sortWithinPartitions(col("rho").desc, col(idCol).asc)
      .withColumn("rank", monotonically_increasing_id() + lit(1L))
  }

  /** TracIn data attribution (E231) — Pruthi et al. '20 ("Estimating
    * Training Data Influence by Tracing Gradient Descent", the TracInCP
    * checkpoint form): a training example's influence on a target set V
    * is `Σ_t η · ∇ℓ(w_t, x) · ḡ_V(w_t)` summed over checkpoints —
    * positive = the example's gradient pushes the model the way V wants
    * (a proponent), negative = it pushes against V (an opponent, the
    * mislabeled-data signal the paper mines). For the in-engine logistic
    * model the per-example gradient is CLOSED FORM,
    * `(σ(z_t) − y) · [1, x1, x2, x3]`, so the whole attribution is
    * expression algebra over the E164 weight trajectory.
    *
    * Target set: the deterministic probe rows `id % 97 = 0` (the E6/E44
    * query-set convention) — in production V is a curated validation
    * slice; any membership predicate slots in unchanged.
    *
    * Spark-first shape: train once (6 metadata collects), then ONE
    * map-side-combined aggregation over the probe rows computes all
    * `checkpoints × 4` mean-gradient components (the E164 decSum
    * contract: 6-dp terms, DECIMAL(38,6) sums, 6-dp means) in a single
    * pass, and scoring inlines the 24 means + 24 weights as literals
    * into ONE map-only projection — per document the 6 per-checkpoint
    * influence terms round to 6 dp and sum in fixed written order. No
    * join, no shuffle, two corpus passes total (probe agg + scoring).
    *
    * Determinism: every factor is a 6-dp double or a fixed-order
    * expression over them; DuckDB replays the training chain, the probe
    * aggregation and the same literal algebra. Full hash oracle.
    *
    * Cites reference scope: training-data attribution is absent from
    * awsdataprofiler (Profiler.scala:166-253 profiles only) — extension
    * per SURVEY §2.E. */
  def tracinScores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int = 6,
      lr: Double = 8.0): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val fid = docFeaturesLabeled(
      docs, textCol, qualityLabel(textCol), Seq(idCol))
      .localCheckpoint(true) // consumers: training chain + probe agg + scoring
    val hist = logregTrain(
      fid.select("x1", "x2", "x3", "y"), Seq("x1", "x2", "x3"), "y",
      iterations, lr)
      .orderBy("iter").collect()
    def sigma(r: Row): Column = {
      val z = lit(r.getAs[Double]("w0")) +
        lit(r.getAs[Double]("w1")) * col("x1") +
        lit(r.getAs[Double]("w2")) * col("x2") +
        lit(r.getAs[Double]("w3")) * col("x3")
      lit(1.0) / (lit(1.0) + exp(-z))
    }
    val xs: Seq[Column] = Seq(lit(1.0), col("x1"), col("x2"), col("x3"))
    // one pass over the probe rows: mean gradient per (checkpoint, dim)
    val probeAggs = hist.toSeq.zipWithIndex.flatMap { case (r, t) =>
      xs.zipWithIndex.map { case (x, j) =>
        sum(round((sigma(r) - col("y")) * x, 6).cast(dec6)).as(s"s_${t}_$j")
      }
    } :+ count(lit(1)).as("n")
    val probeRow = fid.where(col(idCol) % 97 === 0)
      .agg(probeAggs.head, probeAggs.tail: _*).head()
    val nProbe = probeRow.getAs[Long]("n")
    require(nProbe > 0,
      "tracinScores: empty probe set — no feature-valid row has id % 97 = 0")
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gbar: Seq[Seq[Double]] = hist.indices.map { t =>
      (0 to 3).map(j => r6(
        probeRow.getAs[java.math.BigDecimal](s"s_${t}_$j")
          .doubleValue() / nProbe))
    }
    // per-checkpoint influence terms, summed in fixed written order
    val terms: Seq[Column] = hist.toSeq.zipWithIndex.map { case (r, t) =>
      val dotg = lit(gbar(t)(0)) + lit(gbar(t)(1)) * col("x1") +
        lit(gbar(t)(2)) * col("x2") + lit(gbar(t)(3)) * col("x3")
      round((sigma(r) - col("y")) * dotg, 6)
    }
    fid.select(
      col(idCol),
      round(lit(lr) * terms.reduce(_ + _), 6).as("tracin"),
      col("y"),
      (col(idCol) % 97 === 0).as("is_probe"))
  }

  /** Dataset cartography (E232) — Swayamdipta et al. '20 ("Dataset
    * Cartography: Mapping and Diagnosing Datasets with Training
    * Dynamics", the Data Maps method): chart every training example by
    * its CONFIDENCE (mean probability of the true class across training
    * checkpoints), VARIABILITY (the std-dev of that probability) and
    * CORRECTNESS (fraction of checkpoints predicting it right). The
    * map's regions drive curation: high-confidence/low-variability =
    * easy-to-learn (safe to prune for efficiency), low-confidence/
    * low-variability = hard-to-learn (the label-error screen), high
    * variability = ambiguous (the paper's best slice for training).
    *
    * Spark-first shape: train once, then ALL `iterations` checkpoint
    * probabilities are literal-inlined into ONE map-only projection —
    * per document the 6 true-class probabilities (each 6-dp rounded),
    * their fixed-order mean, the deviation square-sum against that
    * rounded mean, and the z≥0 correctness counts form a single
    * codegen'd expression tree; no join, no shuffle, one corpus pass
    * regardless of trajectory length (the E227 shape).
    *
    * Determinism: each p_t rounds σ(z_t) (or 1−σ) to 6 dp, mean and
    * std are fixed-written-order arithmetic over those six doubles
    * rounded to 6 dp, correctness thresholds on `z ≥ 0` — DuckDB
    * replays the identical expression nest. Full hash oracle.
    *
    * Cites reference scope: training-dynamics diagnostics are absent
    * from awsdataprofiler (Profiler.scala:166-253 profiles only) —
    * extension per SURVEY §2.E. */
  def dataMap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int = 6,
      lr: Double = 8.0): DataFrame = {
    val fid = docFeaturesLabeled(
      docs, textCol, qualityLabel(textCol), Seq(idCol))
      .localCheckpoint(true) // two consumers: training chain + scoring
    val hist = logregTrain(
      fid.select("x1", "x2", "x3", "y"), Seq("x1", "x2", "x3"), "y",
      iterations, lr)
      .orderBy("iter").collect()
    val zs: Seq[Column] = hist.toSeq.map { r =>
      lit(r.getAs[Double]("w0")) +
        lit(r.getAs[Double]("w1")) * col("x1") +
        lit(r.getAs[Double]("w2")) * col("x2") +
        lit(r.getAs[Double]("w3")) * col("x3")
    }
    // true-class probability per checkpoint in exact integer MICROS:
    // the mean of six 6-dp values lands exactly on the 7th-digit half
    // boundary for ~1/6 of rows (Σµ ≡ 3 mod 6), where Spark's
    // BigDecimal-HALF_UP and DuckDB's double rounding disagree — so the
    // mean is integer algebra (floor((Σµ+3)/6) = half-up of Σµ/6) and
    // only measure-zero transcendental boundaries remain.
    val pmus: Seq[Column] = zs.map { z =>
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      round(when(col("y") === 1.0, p).otherwise(lit(1.0) - p)
        * lit(1000000.0)).cast("long")
    }
    val k = lit(hist.length.toDouble)
    val sumMu = pmus.reduce(_ + _)
    // half-up of Σµ/k as pure integer algebra: floor((2Σµ + k) / 2k)
    val kN = hist.length
    val confMu = floor((sumMu * lit(2L) + lit(kN.toLong)).cast("double")
      / lit(2.0 * kN)).cast("long")
    val conf = confMu.cast("double") / lit(1000000.0)
    val pds: Seq[Column] = pmus.map(_.cast("double") / lit(1000000.0))
    val dev2 = pds.map(p => (p - conf) * (p - conf)).reduce(_ + _)
    val variability = round(sqrt(dev2 / k), 6)
    val corrects: Seq[Column] = zs.map(z =>
      when((z >= 0) === (col("y") === 1.0), lit(1L)).otherwise(lit(0L)))
    val correctness =
      round(corrects.reduce(_ + _).cast("double") / k, 6)
    fid.select(
      col(idCol),
      conf.as("confidence"),
      variability.as("variability"),
      correctness.as("correctness"),
      when(conf >= 0.5 && variability < 0.2, lit("easy_to_learn"))
        .when(conf < 0.5 && variability < 0.2, lit("hard_to_learn"))
        .otherwise(lit("ambiguous")).as("region"),
      col("y"))
  }

  /** Quality-signal ensemble (E236) — continuous score FUSION next to
    * E198's boolean rule conjunction: three independent quality signals
    * — the E9 heuristic composite over the quantized features
    * (`0.4·x1 + 0.3·(1−x2) + 0.3·x3`), the E164-trained model logit,
    * and E179's character entropy (word-soup/boilerplate detector the
    * other two can't see) — are min-max standardized to [0,1] and
    * averaged. Standardize-then-average is the textbook score ensemble;
    * min-max (not z-score) because MIN/MAX are EXACT single-pass
    * aggregates with no accumulation-order hazard, so the whole fusion
    * stays hash-oracle-verifiable.
    *
    * Spark-first shape: signals ride the shared quantized feature
    * relation (one corpus pass) + the E179 entropy relation (its
    * per-char aggregation); the six min/max scalars are ONE
    * metadata-sized collect inlined as literals into a final map-only
    * projection — no window, no global sort, no rank: the fusion is
    * scale-linear where an RRF-style rank fusion would demand a global
    * row_number (a single-partition window).
    *
    * Determinism: signals are 6-dp; normalized scores round the ratio
    * of exact 6-dp differences; the 3-way mean cannot land on a decimal
    * half boundary (a/3 in micros terminates only when it is an integer
    * there). Degenerate spread (max = min) yields null for that
    * signal's normalized score and propagates — loud in the readout,
    * never a silent divide-by-zero.
    *
    * Cites reference scope: score fusion is absent from awsdataprofiler
    * (Profiler.scala:166-253 profiles only) — extension per SURVEY
    * §2.E. */
  def qualityEnsemble(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int = 6,
      lr: Double = 8.0,
      keepThreshold: Double = 0.5): DataFrame = {
    val fid = docFeaturesLabeled(
      docs, textCol, qualityLabel(textCol), Seq(idCol))
      .localCheckpoint(true) // consumers: training chain + signal pass
    val last = logregTrain(
      fid.select("x1", "x2", "x3", "y"), Seq("x1", "x2", "x3"), "y",
      iterations, lr)
      .orderBy(col("iter").desc).head()
    val w = (0 to 3).map(j => last.getAs[Double](s"w$j"))
    val ent = graft.operators.CorpusStats
      .charEntropy(docs, idCol, textCol)
      .select(col(idCol), col("entropy"))
    val scored = fid
      .join(ent, Seq(idCol))
      .select(
        col(idCol),
        round(lit(0.4) * col("x1") + lit(0.3) * (lit(1.0) - col("x2")) +
          lit(0.3) * col("x3"), 6).as("s_heur"),
        round(lit(w(0)) + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3"), 6).as("s_model"),
        col("entropy").as("s_entropy"))
      .localCheckpoint(true) // two consumers: min/max agg + projection
    val mm = scored.agg(
      min("s_heur").as("h0"), max("s_heur").as("h1"),
      min("s_model").as("m0"), max("s_model").as("m1"),
      min("s_entropy").as("e0"), max("s_entropy").as("e1")).head()
    def norm(c: Column, lo: Double, hi: Double): Column =
      when(lit(hi) > lit(lo),
        round((c - lit(lo)) / (lit(hi) - lit(lo)), 6))
    val n1 = norm(col("s_heur"), mm.getDouble(0), mm.getDouble(1))
    val n2 = norm(col("s_model"), mm.getDouble(2), mm.getDouble(3))
    val n3 = norm(col("s_entropy"), mm.getDouble(4), mm.getDouble(5))
    val ens = round((n1 + n2 + n3) / lit(3.0), 6)
    scored.select(
      col(idCol), col("s_heur"), col("s_model"), col("s_entropy"),
      n1.as("n_heur"), n2.as("n_model"), n3.as("n_entropy"),
      ens.as("ensemble"),
      (ens >= keepThreshold).as("keep"))
  }

  /** Group-DRO robust training (E182, in-engine training #4) — the
    * Sagawa et al. '20 distributionally-robust update that DoReMi
    * (Xie et al. '23) runs to learn domain mixture weights: instead of
    * minimizing the average loss (which lets the model ignore small/hard
    * domains), each step (1) measures the per-domain mean loss under the
    * current weights, (2) upweights domains multiplicatively
    * `q_g ← q_g·e^{η·ℓ_g}` (normalized), and (3) descends the
    * q-weighted gradient — so persistent worst-case domains steer both
    * the model AND the returned mixture weights (DoReMi's product: feed
    * `q` to the E66/E166 samplers as the reweighted training mixture).
    *
    * Spark-first iteration shape: per step ONE map-side-combined
    * `groupBy(domain)` aggregation (≤ #domains rows collected — gradient
    * term sums, loss sum, accuracy per domain), then the q-update, the
    * normalization and the weight step run driver-side on the
    * metadata-sized domain table (the hybrid-CC precedent). The corpus
    * reduces once to the quantized feature relation; executor state is a
    * dozen buffers per domain.
    *
    * Determinism (decSum end-to-end): per-row gradient/loss terms are
    * quantized to DECIMAL(38,6) before the per-domain sums (E164's
    * contract); per-domain means ROUND(·,6); the q-update
    * `ROUND(q·e^{η·ℓ}, 6)` normalizes by the EXACT decimal sum of the
    * 6-dp raw weights; the mixed gradient sums `ROUND(q_g·gm_g, 12)` as
    * DECIMAL(38,12) over domains (order-free); weights update at 6 dp.
    * DuckDB replays every step in chained CTEs — a FULL hash oracle for
    * robust optimization.
    *
    * Returns one row per (iteration, domain): post-update mixture weight
    * `q`, PRE-update mean loss and accuracy (the worst-group trajectory
    * a DRO training log shows), and the post-update model weights
    * (identical across the iteration's rows). */
  def groupDroTrain(
      features: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      domainCol: String,
      iterations: Int = 6,
      lr: Double = 1.0,
      eta: Double = 0.5): DataFrame = {
    require(featureCols.nonEmpty && iterations > 0)
    val spark = features.sparkSession
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val src = graft.profiler.ScanMetrics.spread(features)
      .localCheckpoint(true)
    val nf = featureCols.size
    var w = Array.fill(nf + 1)(0.0)
    var q: Map[String, Double] = null
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Σ ROUND(term, 12) as exact decimals — order-free on both engines
    def dec12Sum(ts: Iterable[Double]): Double =
      ts.foldLeft(BigDecimal(0))((a, t) =>
        a + BigDecimal(t).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .toDouble
    val out = Seq.newBuilder[Row]
    for (it <- 1 to iterations) {
      val z: Column = featureCols.zipWithIndex.foldLeft(lit(w(0))) {
        case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c)
      }
      val y = col(labelCol)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val xs: Seq[Column] = lit(1.0) +: featureCols.map(col)
      val gradAggs = xs.zipWithIndex.map { case (x, j) =>
        sum(round((p - y) * x, 6).cast(dec6)).as(s"s_$j")
      }
      val aggs = gradAggs ++ Seq(
        count(lit(1)).as("n"),
        sum(round(log(lit(1.0) + exp(-(lit(2.0) * y - lit(1.0)) * z)), 6)
          .cast(dec6)).as("sll"),
        count(when((z >= 0) === (y === 1.0), 1)).as("hits"))
      val rows = src.groupBy(col(domainCol).as("domain"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().sortBy(_.getAs[String]("domain"))
      require(rows.nonEmpty, "groupDroTrain: empty feature relation")
      if (q == null) q = rows.map(_.getAs[String]("domain") ->
        r6(1.0 / rows.length)).toMap
      val stats = rows.map { r =>
        val d = r.getAs[String]("domain")
        val n = r.getAs[Long]("n")
        val gm = (0 to nf).map(j => r6(r.getDecimal(j + 1).doubleValue() / n))
        val ml = r6(r.getAs[java.math.BigDecimal]("sll").doubleValue() / n)
        val acc = r6(r.getAs[Long]("hits").toDouble / n)
        (d, n, gm, ml, acc)
      }
      val qraw = stats.map { case (d, _, _, ml, _) =>
        d -> r6(q(d) * math.exp(eta * ml))
      }.toMap
      // 6-dp raw weights sum exactly as decimals — same denominator both engines
      val denom = qraw.values
        .foldLeft(BigDecimal(0))((a, v) => a + BigDecimal(v)).toDouble
      q = qraw.map { case (d, v) => d -> r6(v / denom) }
      val grad = (0 to nf).map(j =>
        dec12Sum(stats.map { case (d, _, gm, _, _) => q(d) * gm(j) }))
      w = w.zip(grad).map { case (wj, gj) => r6(wj - lr * gj) }
      stats.foreach { case (d, n, _, ml, acc) =>
        out += Row.fromSeq(
          Seq(it.toLong, d, n, ml, acc, q(d)) ++ w.toSeq)
      }
    }
    val schema = StructType(
      Seq(
        StructField("iter", LongType, nullable = false),
        StructField("domain", org.apache.spark.sql.types.StringType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("mean_loss", DoubleType, nullable = false),
        StructField("accuracy", DoubleType, nullable = false),
        StructField("q", DoubleType, nullable = false)) ++
        (0 to nf).map(j => StructField(s"w$j", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(out.result(): _*), schema)
  }

  /** Online data-mixing replay via Hedge / multiplicative weights
    * (E245) — the Albalak et al. '23 "Efficient online data mixing"
    * shape: treat each corpus domain as an arm, observe a per-BATCH
    * reward for every domain (full information — the deterministic
    * Hedge regime, not sampled EXP3), and update the mixture
    * multiplicatively: `w_t(d) = ROUND(w_{t-1}(d) · e^{η·r_t(d)}, 6)`,
    * mixture probability = weight over the EXACT decimal sum of the
    * 6-dp weights. Where [[groupDroTrain]] learns weights from a proxy
    * model's per-domain LOSS inside a training loop, this op replays
    * the bandit update over TIME batches of the corpus itself with a
    * model-free reward (the 6-dp mean stopword-fraction signal x3 from
    * the shared [[docFeaturesLabeled]] algebra) — the "tune the
    * sampling mixture as data streams in" operator, no model in the
    * loop.
    *
    * Batching is deterministic (`batch t = id mod rounds + 1`), rewards
    * are DECIMAL(38,6) sums of 6-dp values divided back in double (the
    * established order-free discipline), and a domain absent from a
    * batch earns reward 0 (e^0 = 1: its weight coasts) — so the whole
    * trajectory is a pure function of the corpus, hash-replayable.
    *
    * Scale shape: ONE aggregate over (batch, domain) computes every
    * round's rewards in a single corpus pass (full-information Hedge
    * needs no adaptive resampling); the collected matrix is
    * rounds × domains cells — metadata — and the recursion runs on the
    * driver exactly as the oracle's CTE chain. Output one row per
    * (round, domain): `(round, domain, n, reward, weight, prob)`. */
  def hedgeMix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      domainCol: String,
      rounds: Int = 6,
      eta: Double = 0.5): DataFrame = {
    require(rounds > 0, s"hedgeMix: rounds=$rounds")
    val spark = docs.sparkSession
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val feats = docFeaturesWith(docs, textCol, langCol, Seq(idCol, domainCol))
    val obs = feats
      .withColumn("t", (col(idCol) % rounds) + 1)
      .groupBy(col("t"), col(domainCol).as("domain"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("x3").cast(dec6)).cast("double") / count(lit(1)), 6)
          .as("reward"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[String]("domain")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("reward"))).toMap
    require(obs.nonEmpty, "hedgeMix: empty feature relation")
    val domains = obs.keys.map(_._2).toSeq.distinct.sorted
    var w: Map[String, Double] = domains.map(_ -> 1.0).toMap
    val out = Seq.newBuilder[Row]
    for (t <- 1 to rounds) {
      val cells = domains.map { d =>
        val (n, reward) = obs.getOrElse((t.toLong, d), (0L, 0.0))
        d -> (n, reward)
      }
      w = cells.map { case (d, (_, reward)) =>
        d -> r6(w(d) * math.exp(eta * reward))
      }.toMap
      // 6-dp weights sum exactly as decimals — same denominator both engines
      val denom = domains
        .foldLeft(BigDecimal(0))((a, d) => a + BigDecimal(w(d))).toDouble
      cells.foreach { case (d, (n, reward)) =>
        out += Row(t.toLong, d, n, reward, w(d), r6(w(d) / denom))
      }
    }
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("domain", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("reward", DoubleType, nullable = false),
      StructField("weight", DoubleType, nullable = false),
      StructField("prob", DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out.result(): _*), schema)
  }

  /** DoReMi selection (E184) — the ACTION [[groupDroTrain]]'s mixture
    * weights exist for (Xie et al. '23 §3: train the proxy under Group-
    * DRO, then SAMPLE the corpus by the learned domain weights): each
    * domain keeps a deterministic hash slice proportional to its final
    * `q`, the max-weight domain kept whole — `bound_d =
    * ROUND(10000·q_d/q_max)`, keep iff `bucket(id, "doremi") < bound_d`
    * (the E20 reproducible-coin convention, so the sample is a pure
    * function of ids and the training trajectory, replayable by any
    * engine). Documents whose domain never produced a feature-valid row
    * carry no weight and drop.
    *
    * Scale shape: training is [[groupDroTrain]]'s per-step metadata
    * collects; the final weights are a ≤#domains driver map inlined as
    * a literal CASE chain — selection is ONE map-only pass over the
    * corpus, no join, no shuffle.
    *
    * Returns the kept rows `(id, domain, bound)` — `bound` the integer
    * keep-threshold, the value both engines rank against. */
  def doremiSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      domainCol: String,
      iterations: Int = 6,
      lr: Double = 1.0,
      eta: Double = 0.5,
      salt: String = "doremi"): DataFrame = {
    val feats = docFeaturesWith(docs, textCol, langCol, Seq(domainCol))
    val fin = groupDroTrain(
      feats, Seq("x1", "x2", "x3"), "y", domainCol, iterations, lr, eta)
      .where(col("iter") === iterations.toLong)
      .select("domain", "q").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val qmax = fin.values.max
    val bounds = fin.map { case (d, qd) =>
      d -> BigDecimal(10000.0 * qd / qmax)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val boundCol = bounds.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(0L))) { case (acc, (d, b)) =>
        acc.when(col(domainCol) === d, lit(b))
      }.otherwise(lit(null).cast("long"))
    docs
      .withColumn("bound", boundCol)
      .where(Sampling.hashBucket(col(idCol), salt) < col("bound"))
      .select(col(idCol), col(domainCol).as("domain"), col("bound"))
  }

  /** Naive-Bayes quality filter (E196) — in-engine training #5, and the
    * ONE-PASS one: multinomial NB over hashed unigram+bigram features
    * (the E157 feature space) against the reference-quality label
    * ([[qualityLabel]], the E180 fastText recipe). NB is the classifier
    * whose training IS an aggregation — per-bucket class counts plus the
    * class priors, learned in a single corpus scan with map-side
    * combine — so where [[logregTrain]] pays `iterations` full-batch
    * scans, this trains in one; the classic first-stage filter trade
    * (fastText itself is the engineering descendant of exactly this
    * bag-of-ngrams linear scorer).
    *
    * Per document: `log_odds = ln((n₁+1)/(n₀+1)) + Σ_f ln(P(f|1)/P(f|0))`
    * with Laplace-smoothed `P(f|y) = (c_fy+1)/(T_y+B)`; keep ⇔ the EXACT
    * decimal log-odds ≥ 0 (per-feature terms ROUND(·, 12)
    * DECIMAL(38,12)-summed, the prior quantized the same way — no float
    * at the boundary). Empty documents score the prior alone.
    *
    * Scale shape: one explode → map-side-combined bucket histogram
    * (≤ `buckets` groups), one broadcast of the per-bucket log-ratios
    * back onto the SAME checkpointed feature stream, one per-doc keyed
    * agg. Document payloads never shuffle; everything that moves is
    * (id, bucket) pairs.
    *
    * Cites reference scope: model training is absent from
    * awsdataprofiler (Profiler.scala:166-253 profiles only) — extension
    * per SURVEY §2.E. */
  def naiveBayesFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets > 0, "need a positive bucket count")
    graft.functions.RollingHash.register(docs.sparkSession)
    val dec12 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    val toks = col("_toks")
    val bigrams = when(
      size(toks) >= 2,
      transform(
        sequence(lit(0), size(toks) - 2),
        i => concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2)))
    ).otherwise(array())
    val base = graft.profiler.ScanMetrics.spread(docs)
      .select(
        col(idCol).as("id"),
        (qualityLabel(textCol) === 1.0).as("is_t"),
        graft.functions.TextFunctions.wsTokens(lower(col(textCol))).as("_toks"))
    val feats = base
      .select(col("id"), col("is_t"), explode(concat(toks, bigrams)).as("f"))
      .select(
        col("id"), col("is_t"),
        pmod(call_function("rolling_hash", col("f")), lit(buckets.toLong))
          .as("bucket"))
      .localCheckpoint(true) // two consumers: histogram + per-doc sum
    val hist = feats.groupBy("bucket").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("c0"))
    val tot = hist.agg(sum(col("c1")).as("t1"), sum(col("c0")).as("t0"))
    val lrm = hist.crossJoin(broadcast(tot)).select(
      col("bucket"),
      round(
        log((col("c1") + 1L).cast("double") / (col("t1") + buckets).cast("double"))
          - log((col("c0") + 1L).cast("double") / (col("t0") + buckets).cast("double")),
        12).cast(dec12).as("lr"))
    val priors = base.agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("n0"))
    val perDoc = feats
      .join(broadcast(lrm), Seq("bucket"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), sum(col("lr")).as("s"))
    val prior = round(
      log((col("n1") + 1L).cast("double") / (col("n0") + 1L).cast("double")),
      12).cast(dec12)
    val odds = coalesce(col("s"), lit(0).cast(dec12)) + prior
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .crossJoin(broadcast(priors))
      .select(
        col("id").as(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        round(odds.cast("double"), 6).as("log_odds"),
        (odds >= 0).as("keep"))
  }
}

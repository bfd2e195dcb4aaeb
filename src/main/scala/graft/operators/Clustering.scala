package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster assignment: turn a near-dup PAIR relation (the output
  * of [[Dedup.ngramJaccard]] / [[Dedup.minhashLsh]] / [[Dedup.simhashPairs]])
  * into connected components with a canonical representative per cluster —
  * what a production dedup pipeline actually needs (keep one doc per
  * component, drop the rest), since pairwise output alone cannot express
  * transitive duplication (A~B, B~C ⇒ {A,B,C} is one cluster).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", ACM SoCC 2014) —
  * converges in O(log²ⁿ) rounds (2 shuffle stages per round) and, unlike
  * label propagation, needs no per-node adjacency list: each round is a
  * `min()` aggregate plus an equi-join, so a hub node with 10⁶ neighbors
  * costs one aggregation buffer, never an in-memory array. That is the
  * property that lets this run over the pair output of a 100 TB dedup pass,
  * where boilerplate-heavy corpora routinely produce million-document
  * near-dup clusters.
  */
object Clustering {

  /** One large-star round: every node `u` connects its strictly-larger
    * neighbors to `m(u) = min(Γ(u) ∪ u)`. Input/output edges are oriented
    * (larger, smaller); orientation is preserved because m ≤ u < v. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select("u", "v")
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** One small-star round: every node `u` connects its smaller-or-equal
    * neighborhood (and itself) to `m(u) = min` of that neighborhood.
    * Self-loops (m, m) are dropped, matching the published formulation. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    val reattached = e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
    reattached.union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Order-independent edge-set fingerprint used as the convergence test:
    * (cardinality, XOR of per-edge xxhash64). Two consecutive rounds with
    * identical fingerprints ⇒ the edge relation reached the star-forest
    * fixpoint (64-bit collision odds are negligible, and the result is
    * verified downstream by the correctness oracle regardless). */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Connected components of the undirected graph given by an edge
    * relation. Returns `(node, component)` for every node incident to at
    * least one edge, where `component` is the smallest node id in its
    * component (deterministic canonical label).
    *
    * HYBRID execution (r9): after dedup's hot-key caps, the distinct
    * pair graph is usually a small fraction of the corpus — and for an
    * edge set at metadata scale (≤ `localEdgeThreshold` distinct edges,
    * collected as primitive (Long, Long) pairs — tens of MB with tuple
    * shells at the 10⁶ default, well inside driver heap), a
    * driver-side union-find with
    * path compression finishes in milliseconds where the distributed
    * loop pays O(log² n) rounds × 2 shuffles each. The threshold makes
    * the collect contract EXPLICIT: the count is checked first, the
    * collect is bounded, and anything larger takes the alternating-star
    * path unchanged — exactly how GraphFrames-style CC picks its
    * strategy. Both paths produce the identical (node, min-id component)
    * relation (parity is property-tested over random graphs).
    *
    * Each distributed round's result is `localCheckpoint`ed to truncate
    * the iterative lineage (on a real cluster a reliable checkpoint dir
    * serves the same purpose); the loop is driver-side orchestration of
    * distributed jobs — no edge data reaches the driver beyond the
    * 2-long fingerprint (or the bounded small-graph collect above). */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    val init = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()

    val initCk = init.localCheckpoint(true)
    if (initCk.count() <= localEdgeThreshold) {
      val spark = edges.sparkSession
      import spark.implicits._
      // primitive tuple Dataset collect: the edge set arrives as unboxed
      // (Long, Long) pairs — ~16 bytes/edge + tuple shells, not the
      // ~100 MB of boxed GenericRows a Row collect would allocate at the
      // 10⁶-edge threshold (ADVICE r9)
      val es = initCk.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      for ((u, v) <- es) {
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val nodes = es.iterator.flatMap { case (u, v) => Iterator(u, v) }
        .toArray.distinct
      // roots are already the min id of their component: unions always
      // attach the larger root under the smaller
      return nodes.map(n => (n, find(n))).toSeq
        .toDF("node", "component")
    }

    var cur = initCk
    var sig = fingerprint(cur)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // ONE (large, small) round per materialization. Batching two rounds
      // per checkpoint was tried (r6) and measured SLOWER on fast-converging
      // pair graphs: each extra composite is ~4 shuffle stages, more than
      // the one checkpoint+fingerprint pair it saves.
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextSig = fingerprint(next)
      converged = nextSig == sig
      cur = next
      sig = nextSig
      it += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    // star forest: every edge is (member, root); roots label themselves
    cur.select(col("u").as("node"), col("v").as("component"))
      .union(cur.select(col("v").as("node"), col("v").as("component")).distinct())
  }

  /** Cluster assignment from a near-dup pair relation `(id_a, id_b, …)`:
    * `(doc_id, cluster_id)` with `cluster_id` = smallest doc id in the
    * cluster — the canonical "keep" document. Docs in no pair are implied
    * singletons (cluster_id = doc_id) and omitted, keeping the output
    * proportional to the duplicated subset, not the corpus. */
  /** Representative selection by QUALITY: within each near-dup cluster
    * keep the highest-scoring document (smallest id on ties) instead of
    * the arbitrary min-id canonical — the curation policy that a dedup
    * pass should discard the WORSE copies, not a random one.
    *
    * `clusters` is a `(doc_id, cluster_id)` relation (e.g.
    * [[dedupClusters]]); `scores` maps `doc_id` to an engine-portable
    * quality score (6-dp rounded for a deterministic cross-engine order).
    * One id-keyed equi-join + one cluster-keyed window — both shuffles
    * carry compact (id, cluster, score) triples. */
  def bestRepresentative(
      clusters: DataFrame,
      scores: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "quality"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)
    // LEFT join: a cluster member with no score row must still compete
    // (ranked last by desc_nulls_last) — an inner join would silently drop
    // it from the output, losing the doc from the keep/discard decision
    clusters.join(scores, Seq(idCol), "left")
      .withColumn("rn", row_number().over(w))
      .select(
        col(idCol), col("cluster_id"), col(scoreCol),
        (col("rn") === 1).as("keep"))
  }

  def dedupClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame =
    connectedComponents(pairs, idA, idB)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))

  /** Dedup-yield report (E124) — what deduplication would actually BUY:
    * the duplicate-cluster size histogram with per-band document and
    * removal counts (keep one representative per cluster — E54's policy —
    * so a size-s cluster removes s−1 docs). The size distribution is the
    * decision artifact: a corpus whose duplicates sit in a few huge
    * clusters (template/boilerplate explosions) dedups cheaply and
    * urgently; one with millions of pairs needs the near-dup thresholds
    * revisited. `n_docs_total` makes the removed fraction computable
    * against the corpus without a second scan of it.
    *
    * Scale shape: two strictly-shrinking keyed reduces over the CLUSTER
    * relation (clusters → sizes → size histogram) plus one broadcast
    * scalar for the corpus total — the documents table is never touched
    * beyond the count. */
  /** PageRank over the near-dup graph (E173) — graph centrality as a
    * curation signal: in a duplicate graph, high-rank nodes are the
    * template/boilerplate CENTERS (the page every near-copy points at),
    * the documents to inspect first and the natural cluster
    * representatives when "keep the most central" beats E54's
    * keep-best-score policy.
    *
    * Classic damped PageRank over the SYMMETRIC pair graph, restricted
    * to non-isolated nodes (an isolated doc's rank is the constant
    * (1−d)/N — no information). Every node of the symmetric graph has
    * out-degree ≥ 1, so there is no dangling mass and each iteration is
    * one equi-join (ranks onto edges) + one map-side-combined aggregate
    * — the natural distributed shape; `iterations` is fixed (default 8)
    * so the plan is `iterations` small keyed shuffles over the EDGE
    * relation, never the corpus.
    *
    * Determinism (the decSum contract): contribution terms
    * `ROUND(r_u/deg_u, 12)` are DECIMAL(38,12)-summed (order-free);
    * updates `ROUND((1−d)/N + d·Σ, 12)` — both engines evaluate the
    * identical fixed-order double expression, so the final ranks carry
    * a FULL hash oracle (chained CTE replay, the E159/E164/E172
    * pattern).
    *
    * Returns `(doc_id, rank, degree)` for every non-isolated node. */
  def dupPagerank(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      iterations: Int = 8,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    val dec12 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    // localCheckpoint BEFORE the symmetrizing union (r16): its two
    // branches are independent consumers, so an uncheckpointed `pairs`
    // ran the whole shared-shingle pipeline twice (probed ~2 s of the
    // key) before the edges checkpoint caught the union's OUTPUT
    val pairs = Dedup.ngramJaccard(df, idCol, textCol, n, threshold)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint(true)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nNodes = deg.count()
    if (nNodes == 0L)
      return deg.select(col("u").as("doc_id"), lit(0.0).as("rank"),
        col("deg").as("degree")).where(lit(false))
    def r12(v: Double): Double =
      BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val edgesD = edges.join(deg, Seq("u")).localCheckpoint(true)
    var r = deg.select(col("u").as("id"),
      lit(r12(1.0 / nNodes.toDouble)).as("rank"))
    // LAZY iterations (r16): with the edge relation checkpointed, the
    // 8-iteration lineage is 8 chained join+agg pairs over one cached
    // input — small enough to plan as ONE job, where an eager
    // localCheckpoint per iteration paid 8 sequential job-submission
    // floors (probed: ~50 sub-100 ms jobs dominating the key's wall).
    // Same relation, same values — only materialization timing changes.
    for (i <- 1 to iterations) {
      r = edgesD
        .join(r.select(col("id").as("u"), col("rank")), Seq("u"))
        .select(col("v"),
          round(col("rank") / col("deg"), 12).cast(dec12).as("t"))
        .groupBy("v")
        .agg(sum(col("t")).as("s"))
        .select(col("v").as("id"),
          round((lit(1.0) - lit(damping)) / lit(nNodes.toDouble) +
            lit(damping) * col("s").cast("double"), 12).as("rank"))
      // each lazy step adds a join+agg layer to ONE plan: cut the lineage
      // after every 8th step while more follow, so Catalyst analysis cost
      // stays bounded at any count and the default 8 stays one plan
      if (i % 8 == 0 && i < iterations) r = r.localCheckpoint(true)
    }
    r.join(deg.select(col("u").as("id"), col("deg")), Seq("id"))
      .select(col("id").as("doc_id"), col("rank"),
        col("deg").cast("long").as("degree"))
  }

  def dedupYield(clusters: DataFrame, corpus: DataFrame): DataFrame = {
    val total = corpus.agg(count(lit(1)).as("n_docs_total"))
    clusters
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(total))
      .select(
        col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1L) * col("n_clusters")).as("n_removed"),
        col("n_docs_total"))
  }
}

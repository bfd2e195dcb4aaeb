package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TestSpark.sf001Dir
import graft.operators.Similarity
import graft.profiler.{Profiler, ProfilerConfig}

/** Physical-plan audits: the scale properties the engine is designed
  * around, asserted against `.explain` output so a refactor that silently
  * loses pushdown / broadcast / hash aggregation fails loudly
  * (SURVEY.md §4.3, builder contract "is the filter pushed down?"). */
class PlanAuditSpec extends SparkSuite {
  private val dir = sf001Dir

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("frequency pass prunes the parquet scan to the profiled columns only") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val stacked = li
      .select(stack(lit(2),
        lit("l_returnflag"), col("l_returnflag"),
        lit("l_linestatus"), col("l_linestatus")).as(Seq("instance", "v")))
      .groupBy("instance", "v").agg(count(lit(1)))
    val p = plan(stacked)
    assert(p.contains("ReadSchema: struct<l_returnflag:string,l_linestatus:string>"),
      s"expected pruned scan, got:\n$p")
  }

  test("scan battery runs as hash aggregation, never sort-based") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val slots = graft.profiler.ScanMetrics.slots(
      li.schema, ProfilerConfig(), Set("size", "completeness", "minimum", "maximum", "mean", "sum", "stddev_pop"))
    val aliased = slots.zipWithIndex.map { case (s, i) => s.expr.alias(s"m$i") }
    val p = plan(li.agg(aliased.head, aliased.tail: _*))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"), s"sort-based aggregation crept in:\n$p")
  }

  test("schema-relation join broadcasts the small side") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val m = Profiler.metricsDF(spark,
      Profiler.metrics(li, ProfilerConfig(), Set("size", "completeness")))
    val joined = m.join(broadcast(Profiler.schemaDF(spark, li)), Seq("instance"), "left")
    assert(plan(joined).contains("BroadcastHashJoin"))
  }

  test("similarity scoring broadcasts the query side (corpus never shuffles)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") % 97 === 0))
    assert(p.contains("Broadcast"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$p")
  }

  test("embedding near-dup review list never plans an all-pairs join") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding"))
    assert(!p.contains("CartesianProduct"), s"all-pairs cross product crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"corpus-wide nested-loop broadcast crept in:\n$p")
    // candidate generation must be an equi-join on the band key
    assert(p.contains("bucket"), s"expected LSH bucket join:\n$p")
  }

  test("mixture resample plans a broadcast bounds join over a shuffle-free corpus scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.mixtureResample(
      docs, "doc_id", col("lang"), alpha = 0.5))
    assert(p.contains("BroadcastHashJoin"), s"bounds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$p")
  }

  test("deterministic sampling is a pure map-side scan (no shuffle, no state)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.deterministicSample(docs, "doc_id", 0.1))
    assert(!p.contains("Exchange"), s"sampling should never shuffle:\n$p")
    // "*(1)" is the WholeStageCodegen stage marker in the compact plan form
    assert(p.contains("*(1) Filter"), s"expected codegen scan+filter:\n$p")
  }

  test("PII scan is shuffle-free codegen'd scan + project") {
    import graft.functions.PiiFunctions
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(docs.select(
      col("doc_id"),
      PiiFunctions.emailCount(col("text")),
      PiiFunctions.redact(col("text"))))
    assert(!p.contains("Exchange"), s"PII scan must not shuffle:\n$p")
    // "*(1)" is the WholeStageCodegen stage marker in the compact plan form
    assert(p.contains("*(1) Project"), s"expected codegen projection:\n$p")
  }

  test("repetition metrics: pruned scan, hash aggregation, no sort-based fallback") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.functions.TextFunctions.repetitionMetrics(docs, "doc_id", "text"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected pruned scan:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"expected hash aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross join expected:\n$p")
  }

  test("connected components rounds plan as aggregate + shuffled equi-join only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    // audit one round's building blocks via the public entry on a tiny graph:
    // the executed plan of the result must contain no cartesian/nested-loop
    // join and no sort-based aggregation — each round is min-agg + equi-join
    // threshold 0 forces the DISTRIBUTED path (the r9 hybrid would solve
    // a 3-edge graph with the driver union-find and plan a LocalTableScan)
    val out = graft.operators.Clustering.connectedComponents(
      edges, "a", "b", localEdgeThreshold = 0L)
    val p = plan(out)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"CC must join on node keys only:\n$p")
  }

  test("bm25 ranks via per-partition heaps with a broadcast 1-row stats join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Search.bm25TopK(
      docs, "doc_id", "text", Seq("spark", "merge")))
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k, not global sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must never shuffle for the stats join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats row should broadcast:\n$p")
  }

  test("stratified sampling shuffles once, keyed on the stratum") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.stratifiedSample(
      docs, "doc_id", expr("length(text) div 100").cast("long"), 10))
    // exactly one exchange: the window's hashpartitioning on the stratum
    assert("Exchange".r.findAllIn(p).length == 1, s"expected a single shuffle:\n$p")
    assert(p.contains("hashpartitioning"), s"expected stratum-keyed partitioning:\n$p")
  }

  test("lm scoring: hash aggregation and token-keyed equi-join, no cartesian corpus join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.LangModel.unigramScore(docs, "doc_id", "text"))
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
    assert(!p.contains("CartesianProduct"), s"\n$p")
    // the only nested-loop join is the broadcast of the 1-row total
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected 1-row stats broadcast:\n$p")
  }

  test("multi-column distinctness is one Expand pass, not per-column jobs") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val slots = graft.profiler.ScanMetrics.slots(
      li.schema, ProfilerConfig(), Set("distinctness"))
    val aliased = slots.zipWithIndex.map { case (s, i) => s.expr.alias(s"m$i") }
    val p = plan(li.agg(aliased.head, aliased.tail: _*))
    assert(p.contains("Expand"), s"expected Expand rewrite:\n$p")
  }

  test("text normalization and int8 quantization are shuffle-free codegen scans") {
    graft.functions.NfcNormalize.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pNorm = plan(docs.select(
      col("doc_id"), graft.functions.NfcNormalize.normalizeText(col("text"))))
    assert(!pNorm.contains("Exchange"), s"normalize must not shuffle:\n$pNorm")
    assert(pNorm.contains("*(1) Project"), s"expected codegen projection:\n$pNorm")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val pQ = plan(graft.operators.Quantize.int8Scalar(emb, "vec_id", "embedding"))
    assert(!pQ.contains("Exchange"), s"quantization must not shuffle:\n$pQ")
  }

  test("winnowing: per-row exprs + explode; only the input-spread exchange, no agg shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.winnowFingerprints(docs, "doc_id", "text"))
    // a single round-robin exchange is the ScanMetrics.spread input-layout
    // fix for few-row-group sources; the operator itself never shuffles
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected operator shuffle:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Sort "),
      s"winnowing needs no aggregation or sort:\n$p")
    assert(p.contains("Generate"), s"expected fingerprint explode:\n$p")
  }

  test("IVF search plans equi-joins only — no corpus-wide cross product") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.ivfTopK(
      emb, "vec_id", "embedding",
      col("vec_id") % 83 === 0, col("vec_id") % 97 === 0))
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    // the tiny probe list broadcasts into the cell join; the remaining
    // joins are id-keyed equi-joins (hash or sort-merge — both scale)
    assert(p.contains("BroadcastHashJoin"), s"probe list should broadcast:\n$p")
  }

  test("corpus shuffle is one shard-keyed exchange; bigrams rank via heaps") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pS = plan(graft.operators.Sampling.shuffleShards(docs, "doc_id", 16))
    assert("Exchange".r.findAllIn(pS).size == 1,
      s"expected exactly one shuffle (shard window):\n$pS")
    val pB = plan(graft.functions.TextFunctions.bigramTopK(docs, "text", 50))
    assert(pB.contains("TakeOrderedAndProject"),
      s"expected heap top-k, not global sort:\n$pB")
    assert(pB.contains("HashAggregate") && !pB.contains("SortAggregate"), s"\n$pB")
  }

  test("winnow near-dup: hash-keyed equi-joins only, never a cartesian pair join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.winnowNearDup(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay hash-keyed:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
  }

  test("domain report: text never joins — dup side reduces to hash counts first") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.CorpusStats.domainReport(
      docs, "source", "lang", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"\n$p")
    // both join inputs are aggregated relations: every join row carries the
    // 64-hex hash or the domain, never the document text
    assert(p.contains("HashAggregate"), s"\n$p")
  }

  test("substring dup: anchor candidates and text delivery stay hash-keyed equi-joins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.substringDup(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay hash-keyed:\n$p")
    // the extension kernel is a codegen'd expression, not a UDF
    assert(p.contains("common_extend"), s"extension expression missing:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython"), s"\n$p")
  }

  test("dsir: ratio table broadcasts back onto the feature stream; no pairwise stage") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.dsirWeights(
      docs, "doc_id", "text", col("lang") === "en"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"expected the 64-row ratio/total broadcast:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
  }

  test("semdedup: pairwise cosine joins on the cluster id, never corpus-wide") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.operators.Similarity.semDedup(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0, threshold = 0.35)
    val p = plan(df)
    // the ONLY nested-loop stage allowed is the broadcast centroid scoring
    // (k centroids against the corpus — nearestCentroid's documented shape);
    // the pair stage itself must be a centroid_id-keyed hash join
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"expected a centroid_id-keyed equi-join for the pair stage:\n$p")
  }

  test("zipf fit: heap top-k cut, no global sort of the vocabulary") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.CorpusStats.zipfFit(docs, "text"))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected heap top-k, not global sort:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
  }

  test("mutual information: joint counts hash-aggregate; pair lookup broadcasts") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val p = plan(graft.profiler.MutualInfo.pairs(
      orders, Seq(("o_orderstatus", "o_orderpriority"))))
    // the only row-data reduction is the map-side-combined joint count
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
    // the (pid, col_a, col_b) lookup must never shuffle the metrics side
    assert(p.contains("BroadcastHashJoin"), s"pair lookup must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"\n$p")
  }

  test("inferred types: one global agg, pruned scan, no row-data shuffle") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_name").as("a"), col("c_mktsegment").as("b"))
    val df = graft.profiler.TypeInference.inferredTypes(cust, Seq("a", "b"))
    val p = plan(df)
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
    // the only Exchange is the single-partition gather of partial agg rows
    assert(p.contains("SinglePartition"), s"\n$p")
    assert(p.contains("ReadSchema: struct<c_name:string,c_mktsegment:string>"),
      s"expected pruned scan:\n$p")
  }

  test("partitioned layout: a filter on the partition column prunes at plan time") {
    val staged = graft.sources.FormatRoundtrip.stagePartitioned(
      spark, s"$dir/documents.parquet", "bucket", col("doc_id") % 4)
    val p = plan(spark.read.parquet(staged).where(col("bucket") === 2)
      .groupBy("bucket").count())
    // pruning shows up as a PartitionFilters entry on the scan — the
    // filter never reaches the data, it eliminates directories
    assert(p.contains("PartitionFilters") && p.contains("bucket"),
      s"expected directory-level pruning on the partition column:\n$p")
  }

  test("range join plans as a hash equi-join on buckets, never BNLJ/Cartesian") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val bands = spark.range(1, 11).select(
      col("id").as("band_id"),
      (col("id") * lit(1350.0)).as("lo"),
      (col("id") * lit(1650.0)).as("hi"))
    val p = plan(graft.operators.AsOf.rangeJoin(
      li.select(col("l_extendedprice")), "l_extendedprice",
      bands, "lo", "hi", bucketWidth = 500.0))
    // the whole point: the theta-join must have become an equi-join
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"theta-join fell back to nested loops:\n$p")
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected a keyed join on the bucket id:\n$p")
  }

  test("bigram LM: map-side pair construction — no self-join or window before counting") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.LangModel.bigramScore(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(!p.contains("Window"), s"bigrams must come from the token array, not a window:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
  }

  private def scanCount(p: String): Int =
    "Scan parquet".r.findAllIn(p).length

  test("round-7 event monitors scan the events table ONCE (window moments, not re-aggregation)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val withUs = ev.withColumn("ts_us", graft.operators.Events.tsMicros(ev, "ts"))
    for ((name, df) <- Seq(
      "typeBurst" -> graft.operators.Events.typeBurst(withUs, "ts_us", "event_type"),
      "volumeCusum" -> graft.operators.Events.volumeCusum(withUs, "ts_us"),
      "userActivityHistogram" ->
        graft.operators.Events.userActivityHistogram(ev, "user_id"),
      "jsonKeyProfile" -> graft.operators.Events.jsonKeyProfile(ev, "props"),
      "tsProfile" -> graft.operators.Events.tsProfile(ev, "ts"),
      "interarrivalStats" -> graft.operators.Events.interarrivalStats(
        withUs, "user_id", "ts_us", "event_id"))) {
      val p = plan(df)
      assert(scanCount(p) == 1, s"$name re-scans the events table:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
  }

  test("assoc rules: baskets materialize once; pair generation is user-keyed, never cartesian") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(graft.operators.Events.assocRules(ev, "user_id", "event_type"))
    // the distinct basket relation was localCheckpoint'ed: the final plan
    // joins the materialized RDD, not four re-derivations of the scan
    assert(scanCount(p) == 0, s"baskets must come from the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), s"\n$p")
  }

  test("containment / novelty / threshold sweep stay on shingle equi-joins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for ((name, df) <- Seq(
      "ngramContainment" -> graft.operators.Dedup.ngramContainment(
        docs, "doc_id", "text"),
      "ngramNovelty" -> graft.operators.Dedup.ngramNovelty(docs, "doc_id", "text"),
      "jaccardHistogram" -> graft.operators.Dedup.jaccardHistogram(
        docs, "doc_id", "text"))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
        s"$name:\n$p")
    }
  }

  test("score percentile: windows run over the distinct-score histogram, docs join back by key") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scored = docs.select(col("doc_id"),
      round(graft.functions.TextFunctions.qualityScore(col("text")), 6).as("score"))
    val p = plan(graft.operators.Ranking.scorePercentile(scored, "doc_id", "score"))
    // the windows sit above a HashAggregate (the score histogram), and the
    // corpus reaches the result through a keyed join — no corpus-wide
    // global-order window
    assert(p.contains("Window") && p.contains("HashAggregate"), s"\n$p")
    assert("Window".r.findAllIn(p).length <= 2, s"\n$p")
    assert(p.contains("Join"), s"expected the rank join-back:\n$p")
    assert(!p.contains("CartesianProduct"), s"\n$p")
  }

  test("row filters reach the parquet scan as PushedFilters (row-group pruning evidence)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(docs.where(col("doc_id") > 100L && col("lang") === "en")
      .select(col("doc_id")))
    // both predicates must appear in the scan's pushed list — a filter
    // evaluated only post-scan reads every row group of 100 TB
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(doc_id".r.findFirstIn(p).isDefined,
      s"range predicate not pushed:\n$p")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(lang".r.findFirstIn(p).isDefined,
      s"equality predicate not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"column pruning lost:\n$p")
  }

  test("table digest: one pass, no joins — only the final aggregate exchanges") {
    val region = spark.read.parquet(s"$dir/region.parquet")
    val p = plan(graft.profiler.Integrity.tableDigest(
      region, "region", Seq("r_regionkey", "r_name")))
    assert(scanCount(p) == 1, s"\n$p")
    assert(!p.contains("Join"), s"\n$p")
    assert(p.contains("HashAggregate"), s"\n$p")
  }

  test("sketch outlier screens: the driving pass is a partial+final ObjectHashAggregate, no percentile, no sort") {
    // the r9 scale modes' whole point: the one pass that touches data
    // aggregates a mergeable KLL sketch (ObjectHashAggregate with a
    // map-side partial phase), never `percentile` (whose buffer is the
    // column's value set) and never a sort/window stage. This is the
    // exact aggregate iqrOutliersApprox / winsorizedStatsApprox /
    // madOutliersApprox submit per column (they then collect the k-bounded
    // sketch bytes — the R14 metadata-sized collect).
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val pass = graft.profiler.ScanMetrics.spread(li).agg(
      kll_sketch_agg_double(col("l_quantity").cast("double")).as("k_q"),
      count(col("l_quantity")).as("n_q"),
      kll_sketch_agg_double(col("l_extendedprice").cast("double")).as("k_p"),
      count(col("l_extendedprice")).as("n_p"))
    val p = plan(pass)
    assert(p.contains("ObjectHashAggregate"), s"\n$p")
    assert(p.contains("partial_kll_sketch_agg_double"),
      s"sketch aggregate lost its map-side partial phase:\n$p")
    assert(!p.contains("percentile"), s"exact percentile crept back in:\n$p")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"sketch pass plans a sort/window:\n$p")
  }

  test("compaction planning packs inside executors — file lists never route through the driver") {
    val p = plan(graft.sources.Compaction.compactionPlan(spark, dir))
    // per-table FFD runs as a MapGroups stage (one task per table);
    // footer reads are a MapPartitions over the distributed path list —
    // the only driver traffic is the final plan rows
    assert(p.contains("MapGroups"), s"packing left the executors:\n$p")
    assert(p.contains("MapPartitions"), s"footer sweep not distributed:\n$p")
  }

  test("ks drift: the size guard rides inside the cumulative window stage") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").cast("double").as("v"))
    val p = plan(graft.profiler.Checks.ksDrift(ev, ev, "v"))
    // the metadata-sized invariant is ENFORCED in-stage (WindowGuard):
    // the guard term lives in the window projection — no extra pass, no
    // driver-side count, survives column pruning (Catalyst rewrites
    // assert_true to `if(cond) null else raise_error(...)`)
    assert(p.contains("raise_error") && p.contains("Checks.ksDrift"),
      s"window size guard missing:\n$p")
  }

  test("dedup family rollup: one staged shingle relation feeds all five reports") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // LIVE plan nodes only: the string form prints each cached
    // relation's BUILD plan under every InMemoryTableScan (its Generate/
    // parquet-scan text is a display artifact, not executed work), so
    // the assertions walk the tree and stop at cache boundaries
    def live(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => live(a.executedPlan)
      case s: InMemoryTableScanExec => Seq(s)
      case other => other +: other.children.flatMap(live)
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sh = graft.operators.Dedup.shingles(docs, "doc_id", "text", 3).persist()
    try {
      sh.count() // the rollup's staging step
      for ((name, df) <- Seq(
        "jaccard" -> graft.operators.Dedup.ngramJaccardFrom(sh, 0.5, None),
        "containment" -> graft.operators.Dedup.ngramContainmentFrom(sh, 0.5, None),
        "histogram" -> graft.operators.Dedup.jaccardHistogramFrom(sh, 0.1, None),
        "novelty" -> graft.operators.Dedup.ngramNoveltyFrom(sh),
        "degrees" -> graft.operators.Dedup.dupGraphDegreesFrom(sh, 0.5))) {
        val nodes = live(df.queryExecution.executedPlan)
        val names = nodes.map(_.nodeName)
        // every family member reads the staged in-memory relation: no
        // source re-scan, no re-tokenize (Generate = the explode stage)
        assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"$name does not read the staged shingle relation: $names")
        assert(!names.exists(_.contains("Scan parquet")),
          s"$name re-derives the shingle relation from the source scan: $names")
        assert(!names.exists(_.contains("Generate")),
          s"$name re-tokenizes (explode stage crept back in): $names")
      }
    } finally { sh.unpersist(); () }
  }

  test("hard negatives broadcast the query side; JL projection is a shuffle-free scan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val hn = plan(Similarity.hardNegatives(
      emb, "vec_id", "embedding", "label", col("vec_id") % 97 === 0))
    assert(hn.contains("Broadcast"), s"expected broadcast join:\n$hn")
    assert(!hn.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$hn")
    val pj = plan(graft.operators.Quantize.randomProject(
      emb, "vec_id", "embedding", 16))
    assert(!pj.contains("Exchange"), s"projection should not shuffle:\n$pj")
  }

  test("corpus card: exchanges carry 32-byte text hashes, never the document body") {
    val df = SparkEntry.queries("corpus_card")(spark, dir)
    val p = plan(df)
    // the exact-dup distinct must key on sha2(text), so no Exchange (or
    // its Expand input) may reference the raw text attribute — text#N in
    // a shuffle means the corpus body crosses the wire (VERDICT r10 #2).
    // (text_h#N does not match "text#": the attribute id separator '#'
    // must directly follow the column name.)
    val shuffleLines = p.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Expand"))
      .mkString("\n")
    assert(!shuffleLines.contains("text#"),
      s"raw text attribute reaches a shuffle stage:\n$shuffleLines")
    assert(p.contains("sha2"), s"expected sha2-keyed distinct:\n$p")
  }

  test("ccnet buckets: windows run over the per-lang distinct-score histogram, docs join back by key") {
    val df = SparkEntry.queries("ccnet_buckets")(spark, dir)
    val p = plan(df)
    assert(p.contains("HashAggregate"), s"\n$p")
    // the corpus-sized relation must never sort globally: the only Sort
    // allowed under a Window is over the (lang, score) histogram
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), s"\n$p")
  }

  test("PQ encode: sub-codebooks broadcast; the embedding corpus never sort-merge joins") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.operators.Quantize.productQuantize(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0))
    assert(p.contains("BroadcastHashJoin"), s"codebook must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-side shuffle join crept in:\n$p")
  }

  test("shard manifest: one map-side-combined hash agg, no sort, no join") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.shardManifest(
      d, "doc_id", "text", nShards = 16))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"\n$p")
    assert(!p.contains("SortAggregate") && !p.contains("Join"), s"\n$p")
  }

  test("quality-filter executor: scoring is map-only over the feature relation — no join, no exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.QualityModel.qualityFilterExecute(
      d, "doc_id", "text"))
    assert(!p.contains("Join"), s"scoring must not join:\n$p")
    assert(!p.contains("Exchange"), s"scoring must not shuffle:\n$p")
  }

  test("jaccard dedup executor: candidate + anti joins stay equi — no cartesian, no nested loop") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.jaccardDedupExecute(
      d, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"\n$p")
  }

  test("semdedup executor: removal set broadcast-anti-joins back — no cartesian beyond the centroid scoring") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.operators.Similarity.semDedupExecute(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0, threshold = 0.35))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    // the kept-corpus subtraction must be a broadcast anti join (ids-only)
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("LeftAnti"), s"removal set must broadcast:\n$p")
  }

  test("ccnet selection executor: document payloads never enter an exchange — sha projected before the verdict join") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    import graft.functions.TextFunctions
    val scored = d.select(col("doc_id"), col("text"),
      TextFunctions.langId(col("text")).as("lang"),
      round(TextFunctions.qualityScore(col("text")), 6).as("score"))
    val p = plan(graft.operators.Ranking.ccnetSelect(
      scored, "doc_id", "lang", "score", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("text#"),
      s"corpus text attribute reaches a shuffle:\n$exch")
  }

  test("bm25 multi: corpus tokens pruned map-side against the broadcast term set; no text in any exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Search.bm25MultiTopK(
      d.where(col("doc_id") % 101 =!= 0),
      d.where(col("doc_id") % 101 === 0), "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"term-set prune must broadcast:\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("text#"),
      s"corpus text attribute reaches a shuffle:\n$exch")
  }

  test("naive bayes filter: log-ratio map broadcasts back onto the feature stream — no cartesian, no text in any exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.QualityModel.naiveBayesFilter(
      d, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-bucket log-ratios must broadcast:\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("text#"),
      s"document text attribute reaches a shuffle:\n$exch")
  }

  test("quality gate: three verdict sub-DAGs compose by id-keyed joins — no cartesian, no text in any exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Curate.qualityGate(d, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("text#"),
      s"document text attribute reaches a shuffle:\n$exch")
  }

  test("kn cross ppl: score stream joins train counts on token keys — no cartesian, no nested loop beyond the 1-row totals") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.LangModel.kneserNeyCrossScore(
      d.where(col("doc_id") % 101 === 0),
      d.where(col("doc_id") % 101 =!= 0), "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
  }

  test("gopher rules: one map-only pass — no exchange, no join in the verdict plan") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.CorpusStats.gopherRules(d, "doc_id", "text"))
    assert(!p.contains("Exchange") && !p.contains("Join"), s"\n$p")
  }

  test("ndcg eval: rank windows + rollups over the top-k relations only — no cartesian") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val sys = graft.operators.Similarity.ivfTopK(
      emb, "vec_id", "embedding",
      centroidPred = col("vec_id") % 83 === 0,
      queryPred = col("vec_id") % 97 === 0)
    val pool = graft.operators.Similarity.cosineTopK(
      emb, "vec_id", "embedding", col("vec_id") % 97 === 0)
    val p = plan(graft.operators.Search.ndcgAtK(
      sys, pool, "query_id", "neighbor_id", "cos", "cos"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
  }

  test("self-repeat executor: cut-island map broadcasts onto the corpus — no cartesian") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.selfRepeatExecute(
      d, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"island map must broadcast:\n$p")
  }

  test("minhash dedup executor: banded candidate joins + anti join stay equi — no cartesian, no nested loop") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.minhashDedupExecute(
      d, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"\n$p")
  }

  test("doremi select: selection is one map-only corpus pass — literal bounds, no join, no exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.QualityModel.doremiSelect(
      d, "doc_id", "text", "lang", "lang"))
    assert(!p.contains("Join") && !p.contains("Exchange"), s"\n$p")
  }

  test("corpus curate: the manifest rollup reads the checkpointed metadata relation — hash agg, no join, no rescan") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Curate.corpusCurate(d, "doc_id", "text"))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"\n$p")
    assert(!p.contains("Join"), s"all joins must resolve before the checkpoint:\n$p")
    assert(!p.contains("FileScan") && !p.contains("BatchScan"),
      s"document payloads must not be rescanned for the rollup:\n$p")
  }

  test("decontam executor: island cut-map broadcasts onto the corpus — document payloads never shuffle") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.operators.Dedup.decontamExecute(
      d.where(col("doc_id") % 101 =!= 0),
      d.where(col("doc_id") % 101 === 0), "doc_id", "text")
    val p = plan(df)
    // the final cut join must be broadcast (islands are metadata-sized),
    // and no Exchange may carry the corpus text: the only text movement
    // allowed is the detection side's capped candidate join inputs
    assert(p.contains("BroadcastHashJoin"),
      s"island map must broadcast:\n$p")
    val cutJoinSide = p.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!cutJoinSide.contains("[t#"),
      s"cut-side text attribute reaches a shuffle:\n$cutJoinSide")
  }

  test("ann hard negatives: probes/queries/centroids broadcast, assignment and scoring stay equi — no cartesian over the corpus") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.hardNegativesAnn(
      emb, "vec_id", "embedding", "label",
      centroidPred = col("vec_id") % 83 === 0,
      queryPred = col("vec_id") % 97 === 0))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
    // the only nested-loop joins are the broadcast centroid cross joins
    // (metadata-sized by construction) — same shape ivf_topk pins
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"probe/scoring joins lost their broadcast:\n$p")
  }

  test("ann hard negatives, hugeQueries: no |Q|-proportional broadcast — query vectors never enter a BroadcastExchange (ADVICE r12)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // disable AUTO-broadcast: at test scale Catalyst happily broadcasts
    // everything on size statistics (and may — that's runtime-adaptive,
    // not a plan defect). The property under audit is that hugeQueries
    // carries no broadcast HINT, i.e. nothing FORCES a |Q|-sized build
    // side when statistics say otherwise — which is exactly what
    // remains visible with the threshold off.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try plan(Similarity.hardNegativesAnn(
      emb, "vec_id", "embedding", "label",
      centroidPred = col("vec_id") % 83 === 0,
      queryPred = col("vec_id") % 97 === 0,
      hugeQueries = true))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(!p.contains("CartesianProduct"), s"\n$p")
    // the queries relation carries its vector as `q`; in the DPR regime
    // (|Q| ∝ corpus) that column may reach hash-shuffle exchanges but
    // never a broadcast — only the metadata-sized centroid set may
    val bcast = p.linesIterator.zipWithIndex.toSeq
    val bcastBlocks = bcast.collect {
      case (l, i) if l.contains("BroadcastExchange") =>
        bcast.slice(i, math.min(i + 3, bcast.size)).map(_._1).mkString("\n")
    }.mkString("\n")
    assert(!bcastBlocks.contains(" q#") && !bcastBlocks.contains("[q#"),
      s"query vectors still broadcast under hugeQueries:\n$bcastBlocks")
  }

  test("incremental lsh: the persisted state carries no payload column and batch text never reaches an exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val state = graft.operators.Dedup.dedupState(
      d.where(col("doc_id") < 200), "doc_id", "text")
    assert(!state.columns.contains("text"),
      "state must be payload-free — that is the no-rescan property")
    val out = graft.operators.Dedup.incrementalLsh(
      d.where(col("doc_id") >= 200), state, "doc_id", "text")
    val p = plan(out)
    assert(!p.contains("CartesianProduct"), s"\n$p")
    // every exchange row must be payload-free: the batch text column may
    // appear only below the shingle/signature map stages, never in a
    // shuffle (the corpus_card doctrine)
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"),
      s"batch payload reaches a shuffle:\n$exchanges")
  }

  test("kmeans train: per-iteration centroid relations broadcast onto the corpus — no cartesian anywhere in the trajectory") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.kmeansTrain(
      emb, "vec_id", "embedding", col("vec_id") % 83 === 0, iters = 2))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("HashAggregate"), s"\n$p")
  }

  test("temperature mix: one hash agg + a broadcast 1-row normalizer — no cartesian, no sort agg") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.temperatureMix(d, "lang"))
    assert(!p.contains("CartesianProduct"), s"\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"\n$p")
  }

  test("audio near dup: only 8-byte signatures shuffle — no clip-by-clip cross join") {
    import spark.implicits._
    val bin = Seq(
      (1L, graft.multimodal.Multimodal.syntheticWav(1L)),
      (2L, graft.multimodal.Multimodal.syntheticWav(1L)))
      .toDF("doc_id", "payload")
    val p = plan(graft.multimodal.Multimodal.audioNearDup(bin))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"\n$p")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("payload#"),
      s"audio payload reaches a shuffle:\n$exchanges")
  }

  test("image near dup: only 8-byte signatures shuffle — no image-by-image cross join, banded equi join only") {
    import spark.implicits._
    val bin = Seq(
      (1L, graft.multimodal.Multimodal.syntheticBmp(1L, 16, 16)),
      (2L, graft.multimodal.Multimodal.syntheticBmp(1L, 16, 16)))
      .toDF("doc_id", "payload")
    val p = plan(graft.multimodal.Multimodal.imageNearDup(bin))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"\n$p")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("payload#"),
      s"image payload reaches a shuffle:\n$exchanges")
  }
}

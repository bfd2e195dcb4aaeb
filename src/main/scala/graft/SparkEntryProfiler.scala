package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.functions.{RollingHash, TextFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Sampling, Similarity}
import graft.profiler.{IncrementalProfiler, Profiler, ProfilerConfig}
import graft.streaming.{SessionEvent, StreamingProfile}

/** SparkEntry — Profiler lane of the driver-contract `queries` map (split
  * from the former 4.3k-line monolith, VERDICT r13 task 5). Self-typed
  * to the aggregator so entries use the shared helpers (lineitem,
  * documents, metricQuery, cfg, ...) unqualified. */
private[graft] trait SparkEntryProfiler { this: SparkEntry.type =>

  protected def profilerQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.A scan-shareable battery (D1, N1-N9, T1-T5)
    "size" -> metricQuery(Set("size")),
    "completeness" -> metricQuery(Set("completeness")),
    "minimum" -> metricQuery(Set("minimum")),
    "maximum" -> metricQuery(Set("maximum")),
    "mean" -> metricQuery(Set("mean")),
    "sum" -> metricQuery(Set("sum")),
    "stddev_pop" -> metricQuery(Set("stddev_pop")),
    "distinctness" -> metricQuery(Set("distinctness")),
    "max_length" -> metricQuery(Set("max_length")),
    "min_length" -> metricQuery(Set("min_length")),
    "approx_count_distinct" -> metricQuery(Set("approx_count_distinct")),
    "approx_quantiles" -> metricQuery(Set("approx_quantiles")),
    "quantiles_exact" -> metricQuery(Set("quantiles_exact")),
    // approximate-FD discovery (E110): g3 violations + conformance ratio
    // for four lhs->rhs pairs in one explode pass
    "fd_discovery" -> ((s, dir) =>
      graft.profiler.Integrity.functionalDependencies(
        lineitem(s, dir), Seq(
          ("l_orderkey", "l_returnflag"),
          ("l_partkey", "l_suppkey"),
          ("l_returnflag", "l_linestatus"),
          ("l_suppkey", "l_partkey")))
        .orderBy("fd")),
    // bucketized interval join (E117): overlapping tolerance bands vs
    // lineitem prices as a hash equi-join on buckets, never a BNLJ
    "range_join_bands" -> ((s, dir) => {
      val bands = s.range(1, 11).select(
        col("id").as("band_id"),
        (col("id") * lit(1350.0)).as("lo"),
        (col("id") * lit(1650.0)).as("hi"))
      graft.operators.AsOf.rangeJoin(
        lineitem(s, dir).select(col("l_extendedprice")), "l_extendedprice",
        bands, "lo", "hi", bucketWidth = 500.0)
        .groupBy("band_id")
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("l_extendedprice")
            .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)))
            .cast("double"), 6).as("sum_price"))
        .orderBy("band_id")
    }),
    // §2.A frequency battery (F1-F5)
    "count_distinct" -> metricQuery(Set("count_distinct")),
    "entropy" -> metricQuery(Set("entropy")),
    "unique_value_ratio" -> metricQuery(Set("unique_value_ratio")),
    "uniqueness" -> metricQuery(Set("uniqueness")),
    "histogram" -> metricQuery(Set("histogram")),
    "metrics_type_join" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val rows = Profiler.metrics(li, cfg, Set("size", "completeness"))
      Profiler.metricsDF(s, rows)
        .join(broadcast(Profiler.schemaDF(s, li)), Seq("instance"), "left")
        .select(col("instance"), col("name"), round(col("value"), 6).as("value"), col("type"))
        .orderBy("instance", "name")
    }),
    "cast_unsupported" -> ((s, dir) => {
      val derived = lineitem(s, dir).select(
        (col("l_quantity") > 25.0).as("flag"),
        col("l_shipdate").cast(DateType).as("ship_day"))
      val rows = Profiler.metrics(
        derived,
        cfg.copy(profileUnsupportedTypes = true),
        Set("min_length", "max_length", "histogram"))
      Profiler.metricsDF(s, rows)
        .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
        .orderBy("instance", "name")
    }),
    "sorted_metrics_head" -> ((s, dir) => {
      val rows = Profiler.metrics(
        lineitem(s, dir), cfg,
        Set("size", "completeness", "minimum", "maximum", "max_length", "min_length"))
      Profiler.metricsDF(s, rows)
        .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
        .orderBy("instance", "name")
        .limit(100)
    }),
    "metrics_split" -> ((s, dir) => {
      val rows = Profiler.metrics(lineitem(s, dir), cfg, Set("size", "completeness"))
      Profiler.metricsDF(s, rows)
        .where(col("entity") === lit("Column"))
        .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
        .orderBy("instance", "name")
    }),
    "schema_df" -> ((s, dir) =>
      Profiler.schemaDF(s, lineitem(s, dir)).orderBy("instance")),
    // structural drift: baseline schema vs an evolved variant (dropped,
    // retyped, and added columns)
    "schema_drift" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val evolved = li.drop("l_tax")
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
        .withColumn("l_flag", col("l_quantity") > 25.0)
      graft.profiler.Checks.schemaDrift(
        Profiler.schemaDF(s, li), Profiler.schemaDF(s, evolved))
        .orderBy("instance")
    }),
    // §2.B R13 metadata upsert (Glue Parameters semantics against the local
    // JSON store): seed a store with pre-existing table/column params, run a
    // real profile→params→upsert round trip, read the store back as rows.
    // Exercises the full contract — table params MERGE (stale prefixed keys
    // at table level survive, the reference's actual Glue.java:67-80
    // behavior), column params RESET the stats prefix then add (stale
    // DQP__* deleted, foreign keys survive, even on columns absent from the
    // new profile).
    "metadata_upsert" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_meta_").toString
      val sink = new graft.profiler.Sinks.JsonMetadataSink(tmp)
      // seed under a non-matching prefix so nothing is reset away
      sink.upsert(
        "lineitem", "SEED__",
        Map("DQP__Stale" -> "999.0", "owner" -> "1.5"),
        Map(
          "l_orderkey" -> Map("DQP__Stale" -> "888.0", "note" -> "2.5"),
          "ghost_col" -> Map("DQP__Old" -> "7.0", "keep" -> "3.5")))
      val rows = Profiler.metrics(lineitem(s, dir), cfg, Set("size", "completeness"))
      val (tableParams, columnParams) = graft.profiler.Sinks.toParams(rows, cfg)
      sink.upsert("lineitem", cfg.statsPrefix + "__", tableParams, columnParams)
      val meta = sink.read("lineitem")
      // the store is fully materialized in `meta` — remove the temp dir so
      // repeated Verify/Bench invocations don't accumulate orphans
      deleteRecursively(java.nio.file.Paths.get(tmp))
      val flat =
        meta.tableParams.toSeq.map { case (k, v) => ("table", k, v.toDouble) } ++
          meta.columnParams.toSeq.flatMap { case (c, m) =>
            m.toSeq.map { case (k, v) => (c, k, v.toDouble) }
          }
      s.createDataFrame(flat).toDF("scope", "key", "value")
        .select(col("scope"), col("key"), round(col("value"), 6).as("value"))
        .orderBy("scope", "key")
    }),
    // Deequ-style verification: a constraint suite evaluated against the
    // metrics relation (no second data scan; unknown metrics surfaced)
    "constraint_check" -> ((s, dir) => {
      import graft.profiler.{Checks, Constraint}
      val rows = Profiler.metrics(
        lineitem(s, dir), cfg,
        Set("size", "completeness", "distinctness", "minimum", "max_length"))
      Checks.evaluate(s, Profiler.metricsDF(s, rows), Seq(
        Constraint("c1_size_min", "*", "Size", ">=", 1000.0),
        Constraint("c2_orderkey_complete", "l_orderkey", "Completeness", ">=", 1.0),
        Constraint("c3_quantity_complete", "l_quantity", "Completeness", ">=", 0.95),
        Constraint("c4_orderkey_distinctness", "l_orderkey", "Distinctness", "<=", 0.5),
        Constraint("c5_quantity_min", "l_quantity", "Minimum", ">=", 1.0),
        Constraint("c6_returnflag_len", "l_returnflag", "MaxLength", "<=", 1.0),
        Constraint("c7_ghost_metric", "no_such_col", "Completeness", ">=", 0.5)))
        .orderBy("check_name")
    }),
    // profile drift monitoring: metrics of the even-orderkey half vs the
    // odd half, flagged at 5% relative change — a pure metrics-relation
    // join, no data rescans
    "profile_drift" -> ((s, dir) => {
      import graft.profiler.Checks
      val li = lineitem(s, dir)
      val fams = Set("size", "completeness", "mean", "sum")
      def half(m: Int): DataFrame = Profiler.metricsDF(
        s, Profiler.metrics(li.where(col("l_orderkey") % 2 === m), cfg, fams))
      Checks.drift(half(0), half(1), relTol = 0.05)
        .orderBy("instance", "name")
    }),
    // §2.B R15 flagship pipelines
    "profile_lineitem" -> ((s, dir) =>
      Profiler.profile(s, lineitem(s, dir), cfg, Profiler.deterministicFamilies)
        .select(
          col("entity"), col("instance"), col("name"),
          round(col("value"), 6).as("value"), col("type"))
        .orderBy("instance", "name")),
    // mergeable incremental profiling: two disjoint halves profiled
    // independently, states merged WITHOUT rescanning, exact metrics must
    // equal the whole-table oracle
    "incremental_profile" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val halves = Seq(
        IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 2 === 0)),
        IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 2 === 1)))
      IncrementalProfiler.metrics(IncrementalProfiler.merge(halves))
        // sketch estimates (HLL distinct, KLL quantiles): tested, not oracled
        .where(col("name") =!= lit("ApproxCountDistinct") &&
          !col("name").startsWith("ApproxQuantiles"))
        .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
        .orderBy("instance", "name")
    }),
    // mergeable quantiles: KLL sketches built per split, merged without
    // rescan, quantiles read from the merged sketch (error-bounded,
    // randomized compaction -> rows-only check like the other sketches)
    "incremental_quantiles" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val halves = Seq(
        IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 2 === 0)),
        IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 2 === 1)))
      IncrementalProfiler.metrics(IncrementalProfiler.merge(halves))
        .where(col("name").startsWith("ApproxQuantiles"))
        .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
        .orderBy("instance", "name")
    }),
    // segmented incremental profiling (E100): per-returnflag mergeable
    // states, split/merged without rescan, exact metrics per segment
    "segmented_incremental_profile" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val halves = Seq(
        IncrementalProfiler.snapshotBy(
          li.where(col("l_orderkey") % 2 === 0), "l_returnflag"),
        IncrementalProfiler.snapshotBy(
          li.where(col("l_orderkey") % 2 === 1), "l_returnflag"))
      IncrementalProfiler.metricsBy(IncrementalProfiler.mergeBy(halves))
        .where(col("name") =!= lit("ApproxCountDistinct") &&
          !col("name").startsWith("ApproxQuantiles"))
        .select(col("segment"), col("instance"), col("name"),
          round(col("value"), 6).as("value"))
        .orderBy("segment", "instance", "name")
    }),
    "profile_lineitem_full" -> ((s, dir) =>
      Profiler.profile(s, lineitem(s, dir), cfg)
        .select(
          col("entity"), col("instance"), col("name"),
          round(col("value"), 6).as("value"), col("type"))
        .orderBy("instance", "name")),
    // join-cardinality / fan-out profile of the lineitem->orders edge (E133)
    "join_cardinality" -> ((s, dir) =>
      graft.profiler.Integrity.joinCardinality(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_orderkey",
        s.read.parquet(s"$dir/orders.parquet"), "o_orderkey")),
    // order-independent table content digests (E136): CDC equality
    // primitive over the integer/string star-schema columns
    "table_digest" -> ((s, dir) => {
      import graft.profiler.Integrity
      Integrity.tableDigest(
        s.read.parquet(s"$dir/region.parquet"), "region",
        Seq("r_regionkey", "r_name"))
        .unionAll(Integrity.tableDigest(
          s.read.parquet(s"$dir/nation.parquet"), "nation",
          Seq("n_nationkey", "n_name", "n_regionkey")))
        .unionAll(Integrity.tableDigest(
          s.read.parquet(s"$dir/customer.parquet"), "customer",
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")))
        .orderBy("tbl")
    }),
    // JSON payload key inventory of events.props (E137)
    "props_key_profile" -> ((s, dir) =>
      graft.operators.Events.jsonKeyProfile(
        s.read.parquet(s"$dir/events.parquet"), "props")
        .orderBy("key")),
    // cross-table referential-integrity profile over the star schema's
    // two fact edges (key relations only — payloads never shuffle)
    "referential_integrity" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      graft.profiler.Integrity
        .referential(li, "l_orderkey", ord, "o_orderkey",
          "lineitem.l_orderkey->orders.o_orderkey")
        .unionByName(graft.profiler.Integrity
          .referential(ord, "o_custkey", cust, "c_custkey",
            "orders.o_custkey->customer.c_custkey"))
        .orderBy("relation")
    }),
    // exact candidate-key screen over orders column combos (one Expand pass)
    "candidate_keys" -> ((s, dir) =>
      graft.profiler.Integrity.candidateKeys(
        s.read.parquet(s"$dir/orders.parquet"),
        Seq(Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderstatus"),
          Seq("o_custkey", "o_orderdate")))
        .orderBy("key_cols")),
    // inferred-type histogram over string-typed landing-zone columns (E81)
    "inferred_types" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey").cast("string").as("id_str"),
        col("c_acctbal").cast("string").as("bal_str"),
        (col("c_acctbal") > lit(0)).cast("string").as("pos_str"),
        when(col("c_mktsegment") === "BUILDING", lit(null))
          .otherwise(col("c_mktsegment")).as("seg_null"),
        when(col("c_custkey") % 3 === 0, col("c_custkey").cast("string"))
          .otherwise(col("c_mktsegment")).as("mixed"))
      graft.profiler.TypeInference.inferredTypes(
        c, Seq("id_str", "bal_str", "pos_str", "seg_null", "mixed"))
        .orderBy("instance")
    }),
    // blocked fuzzy entity matching (E101): last-char-dropped "dirty"
    // variants of every 20th customer name matched back to the clean
    // reference by Levenshtein inside prefix blocks
    "fuzzy_match" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val dirty = cust.where(col("c_custkey") % 20 === 0)
        .select(col("c_custkey").as("dirty_id"),
          expr("substring(c_name, 1, length(c_name) - 1)").as("dirty_name"))
      graft.operators.FuzzyJoin.fuzzyMatch(
        dirty, cust, "dirty_id", "c_custkey", "dirty_name", "c_name",
        blockLen = 12, maxDist = 1)
        .orderBy("left_id", "right_id")
    }),
    // sorted-neighborhood entity resolution (E249): the merge/purge
    // second blocking strategy next to E101 — rank-band pairing within
    // prefix blocks (<= window comparisons per record), typo'd variants
    // planted under shifted ids
    "sorted_neighborhood" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val dirty = cust.where(col("c_custkey") % 20 === 0)
        .select((col("c_custkey") + 1000000L).as("rid"),
          expr("substring(c_name, 1, length(c_name) - 1)").as("name"))
      val all = cust.select(col("c_custkey").as("rid"), col("c_name").as("name"))
        .unionByName(dirty)
      graft.operators.FuzzyJoin.sortedNeighborhood(
        all, "rid", "name", blockLen = 12, window = 3, maxDist = 1)
        .orderBy("id_a", "id_b")
    }),
    // Jaro-Winkler best-match linkage (E251): the SCORED entity-
    // resolution verdict — per typo'd dirty record, the argmax-by-J-W
    // clean reference (codegen expression, oracle-pinned to DuckDB's
    // independent implementation), accept at score >= 0.9
    "jw_best_match" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val dirty = cust.where(col("c_custkey") % 20 === 0)
        .select((col("c_custkey") + 1000000L).as("did"),
          expr("substring(c_name, 1, length(c_name) - 1)").as("name"))
      graft.operators.FuzzyJoin.jaroWinklerBest(
        dirty, cust.select(col("c_custkey").as("cid"), col("c_name").as("name")),
        "did", "cid", "name", "name", blockLen = 16, threshold = 0.9)
        .orderBy("left_id")
    }),
    // format-validation compliance (E85): expected-regex match ratios
    "pattern_match" -> ((s, dir) =>
      graft.profiler.Checks.patternMatch(
        s.read.parquet(s"$dir/customer.parquet"), patternSpecs)
        .orderBy("check_name", "instance")),
    // k-anonymity / l-diversity audit (E241): equivalence classes over
    // (nation, segment), sensitive = acctbal rounded down to thousands
    "k_anonymity" -> ((s, dir) =>
      graft.operators.Privacy.kAnonymity(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"))
        .orderBy("c_nationkey", "c_mktsegment")),
    // t-closeness audit (E254): per-class Earth Mover's Distance of the
    // banded-balance distribution from the global prior — the skew leak
    // k-anonymity and l-diversity both miss; ordered-EMD closed form
    "t_closeness" -> ((s, dir) =>
      graft.operators.Privacy.tCloseness(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"), t = 0.2)
        .orderBy("c_nationkey", "c_mktsegment")),
    // suppression executor (E241): QI columns of sub-k classes replaced
    // by the '*' generalization token, verdict column retained
    "k_anonymize_execute" -> ((s, dir) =>
      graft.operators.Privacy.kAnonymizeExecute(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_nationkey", "c_mktsegment"))
        .orderBy("c_custkey")),
    // per-segment completeness: the null profile whole-table averages hide
    "segmented_completeness" -> ((s, dir) => {
      graft.profiler.Checks.segmentedCompleteness(
        s.read.parquet(s"$dir/events.parquet"), "event_type",
        Seq("event_id", "ts", "user_id", "value", "props"))
        .orderBy("segment", "instance")
    }),
    // Deequ-style constraint SUGGESTION: the profile proposes the checks
    // (metadata-sized rule pass over the metrics relation, no second scan)
    "constraint_suggest" -> ((s, dir) => {
      val rows = Profiler.metrics(
        lineitem(s, dir), cfg, Set("completeness", "distinctness", "minimum"))
      graft.profiler.Checks.suggestConstraints(Profiler.metricsDF(s, rows))
        .orderBy("instance", "rule")
    }),
    // Deequ-family metric anomaly detection: z-score of the current
    // snapshot's metrics against the 3 prior snapshots (one grouped scan)
    "metric_anomaly" -> ((s, dir) => {
      val Dec = org.apache.spark.sql.types.DecimalType(38, 6)
      graft.profiler.Checks.metricAnomaly(
        lineitem(s, dir),
        col("l_orderkey") % 4,
        Seq(
          "Size" -> count(lit(1)),
          "Mean_l_extendedprice" ->
            (sum(col("l_extendedprice").cast(Dec)).cast("double") /
              count(col("l_extendedprice"))),
          "Sum_l_quantity" -> sum(col("l_quantity").cast(Dec)).cast("double")))
        .orderBy("name")
    }),
    // driver-visible accuracy audit of the approximate sketches: HLL
    // count-distinct within 3x its published rsd (0.05) of the exact count,
    // and each percentile_approx value's RANK interval within
    // 2*(1/accuracy) of the target rank — the sketch's actual published
    // guarantee, verified with codegen'd conditional counts (rank of v =
    // count(< v)+1 .. count(<= v)) instead of exact-percentile value-map
    // buffers, which cost 16 ObjectHashAggregate sketches for the same
    // answer (measured 9.9 s vs ~4 s at sf0.1). The output is
    // deterministic all-true booleans, so the oracle is a golden VALUES
    // list (the schema_df precedent): a sketch accuracy regression flips a
    // row to false and hash-fails the round.
    "approx_error_audit" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val cols = OracleSql.Lineitem.numeric
      val ps = graft.profiler.ScanMetrics.quantilePs(10)
      val eps = 2.0 / 100 // 2 * (1/accuracy) rank slack
      // pass 1 (sketches) and pass 2 (exact distinct) are independent —
      // submit concurrently like ScanMetrics.compute's pass families
      val passes = Seq[Seq[Column]](
        cols.flatMap { c =>
          Seq(
            approx_count_distinct(col(c)).as(s"acd_$c"),
            percentile_approx(col(c), array(ps.map(lit): _*), lit(100))
              .cast("array<double>").as(s"aq_$c"))
        },
        cols.map(c => count_distinct(col(c)).as(s"cd_$c")))
      val Seq(r1, r2) = Par.map(s, passes, 2) { aggs =>
        graft.profiler.ScanMetrics.spread(li).agg(aggs.head, aggs.tail: _*).head()
      }
      // pass 3: rank intervals of the returned values — plain counts,
      // whole-stage codegen, no spread needed
      // all-null column: percentile_approx returns null — no ranks to
      // check, its quantile rows are vacuously within bound
      val aqs = cols.indices.map(ci =>
        Option(r1.getSeq[Double](ci * 2 + 1)).getOrElse(Seq.empty))
      val rankAggs = cols.zipWithIndex.flatMap { case (c, ci) =>
        count(col(c)).as(s"nn_$c") +: aqs(ci).indices.flatMap(i => Seq(
          count(when(col(c) < lit(aqs(ci)(i)), lit(1))).as(s"lt_${c}_$i"),
          count(when(col(c) <= lit(aqs(ci)(i)), lit(1))).as(s"le_${c}_$i")))
      }
      val r3 = li.agg(rankAggs.head, rankAggs.tail: _*).head()
      // per-column field offsets in r3 (widths vary if a column had no data)
      val offsets = aqs.map(1 + 2 * _.size).scanLeft(0)(_ + _)
      val rows = cols.zipWithIndex.flatMap { case (c, ci) =>
        val acd = r1.getLong(ci * 2).toDouble
        val cd = r2.getLong(ci).toDouble
        val nn = r3.getLong(offsets(ci)).toDouble
        (c, "ApproxCountDistinct", math.abs(acd - cd) <= 0.15 * cd) +:
          ps.indices.map { i =>
            if (aqs(ci).isEmpty) (c, s"ApproxQuantiles-${ps(i)}", true)
            else {
              val loRank = r3.getLong(offsets(ci) + 1 + 2 * i) + 1 // count(<v) + 1
              val hiRank = r3.getLong(offsets(ci) + 2 + 2 * i) // count(<=v)
              val lb = (ps(i) - eps) * nn
              val ub = (ps(i) + eps) * nn
              (c, s"ApproxQuantiles-${ps(i)}", hiRank >= lb && loRank <= ub)
            }
          }
      }
      import s.implicits._
      rows.toDF("instance", "name", "within_bound")
        .orderBy("instance", "name")
    }),
    // flagship multi-table run: the reference's main loop as one relation —
    // enumerate the catalog (R2), profile every table (R1+R15), union with
    // table identity. Size+Completeness over every Text/Numeric column;
    // events' TIMESTAMP_NTZ ts is class-Skipped (reference parity), so it
    // appears in neither side of the compare.
    "profile_all_tables" -> ((s, dir) => {
      graft.profiler.Runner.profileAllTables(
        s, new graft.profiler.ParquetDirCatalog(s, dir), cfg,
        Set("size", "completeness"))
        .select(
          col("table_name"), col("entity"), col("instance"), col("name"),
          round(col("value"), 6).as("value"))
        .orderBy("table_name", "entity", "instance", "name")
    }),
    // E19: the merged KLL sketch's published guarantee — each estimate's
    // exact-rank interval [count(<v)+1, count(<=v)] intersects
    // p ± 3·eps(k=200) of the column's non-null count. Same rank-count
    // verification as approx_error_audit (value-space comparison would
    // need exact percentiles, 16 ObjectHashAggregate sketches).
    "kll_rank_audit" -> ((s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir)
      val halves = Seq(
        IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 2 === 0)),
        IncrementalProfiler.snapshot(li.where(col("l_orderkey") % 2 === 1)))
      val est = IncrementalProfiler.metrics(IncrementalProfiler.merge(halves))
        .where(col("name").startsWith("ApproxQuantiles"))
        .select("instance", "name", "value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val eps = 3 * 0.0165 // 3x the k=200 KLL normalized rank error
      val aggs = est.zipWithIndex.flatMap { case ((c, _, v), i) =>
        Seq(
          count(when(col(c) < lit(v), lit(1))).as(s"lt_$i"),
          count(when(col(c) <= lit(v), lit(1))).as(s"le_$i"))
      } ++ est.map(_._1).distinct.map(c => count(col(c)).as(s"nn_$c"))
      val r = li.agg(aggs.head, aggs.tail: _*).head()
      val rows = est.zipWithIndex.map { case ((c, name, _), i) =>
        val p = name.stripPrefix("ApproxQuantiles-").toDouble
        val nn = r.getLong(r.fieldIndex(s"nn_$c")).toDouble
        val loRank = r.getLong(2 * i) + 1
        val hiRank = r.getLong(2 * i + 1)
        (c, name, hiRank >= (p - eps) * nn && loRank <= (p + eps) * nn)
      }
      rows.toSeq.toDF("instance", "name", "within_bound")
        .orderBy("instance", "name")
    }),
    // R12: the partitioned parquet sink round-trips — partition values
    // come back from the path, row count and payload survive exactly.
    "sink_roundtrip_audit" -> ((s, dir) => {
      import s.implicits._
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val enriched = graft.profiler.Sinks.enrich(
        Profiler.profile(s, nation, cfg), "graftdb", "nation",
        java.time.OffsetDateTime.parse("2026-01-02T03:04:05Z")).persist()
      try {
        val n = enriched.count()
        val root = java.nio.file.Files.createTempDirectory("graft_sink_audit_")
        try {
          new graft.profiler.Sinks.MetricsParquetSink(root.toString)
            .write(enriched, "graftdb", "nation")
          val back = s.read.parquet(root.toString)
          val parts = back.select("db_name", "table_name").distinct().collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq
          val payload = enriched.columns.filterNot(Set("db_name", "table_name"))
          val diff = back.selectExpr(payload: _*)
            .exceptAll(enriched.selectExpr(payload: _*)).count()
          Seq(
            ("partition_values", parts == Seq(("graftdb", "nation"))),
            ("row_count", back.count() == n),
            ("rows_roundtrip", diff == 0L))
            .toDF("property", "ok").orderBy("property")
        } finally { deleteRecursively(root) }
      } finally { enriched.unpersist(); () }
    })
  )
}

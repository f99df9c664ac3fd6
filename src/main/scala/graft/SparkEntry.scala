package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{Aggs, Dedup, Etl, Funcs, Joins, Profiling, SqlText, TimeSeries}
import graft.warehouse.StarSchema
import graft.llm.{Curation, DocDedup, Multimodal, Packing, Retrieval, Similarity, TextStats}

/** Driver contract — see SURVEY.md §7. Each entry is one operator from the
  * SURVEY.md §2 inventory, with equivalent ANSI SQL for the DuckDB oracle.
  * Column names/aliases match exactly between the Spark plan and the SQL
  * (the driver sorts columns by name before hashing values).
  */
object SparkEntry {

  /** Flagship: the reference's minimum end-to-end slice (SURVEY.md §7) —
    * scan → derive → first-match-wins anomaly tag → valid filter → hash agg.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    graft.etl.Anomalies.splitValid(Etl.taggedLineitem(spark, dir))
      .groupBy("l_returnflag")
      .agg(round(sum("revenue"), 2).as("total_revenue"),
        round(avg("unit_price"), 2).as("avg_unit_price"),
        count(lit(1)).as("n_trips"))
      .orderBy("l_returnflag")
  }

  // ---- shared oracle SQL fragments (match the Spark expressions 1:1) ----

  /** time-of-day bucket CASE (Funcs.timePeriod). */
  private def periodCase(h: String): String =
    s"CASE WHEN $h BETWEEN 0 AND 5 THEN 'Nuit' WHEN $h BETWEEN 6 AND 11 THEN 'Matin' " +
    s"WHEN $h BETWEEN 12 AND 17 THEN 'Après-midi' WHEN $h BETWEEN 18 AND 23 THEN 'Soir' " +
    s"ELSE 'Inconnu' END"

  /** first-match-wins anomaly CASE (Etl.rules); expects unit_price in scope. */
  private val tagCase: String =
    "CASE WHEN l_quantity <= 2 THEN 'Durée invalide' " +
    "WHEN l_extendedprice NOT BETWEEN 1000 AND 100000 THEN 'Distance hors limites' " +
    "WHEN l_tax <= 0.005 THEN 'Montant de course invalide' " +
    "WHEN l_discount <= 0.005 THEN 'Passagers invalides' " +
    "WHEN unit_price NOT BETWEEN 50 AND 5000 THEN 'Vitesse irréaliste' ELSE NULL END"

  /** lineitem + derived metrics + rejection_reason, as a CTE body. */
  private val taggedCte: String =
    "WITH m AS (SELECT *, l_extendedprice*(1-l_discount) AS revenue, " +
    "l_extendedprice/l_quantity AS unit_price FROM lineitem), " +
    s"t AS (SELECT *, $tagCase AS rejection_reason FROM m)"

  private val paymentCase: String =
    "CASE WHEN l_returnflag='R' THEN 'Retour' WHEN l_returnflag='A' THEN 'Accepté' END"

  // time_pk is ARITHMETIC (epoch micros — StarSchema.timeKey), not a
  // row_number window: at second-grain timestamps dim_time is ~O(fact
  // rows) and a global window would serialize it through one task
  private val dimTimeCte: String =
    "dtime AS (SELECT datetime, epoch_us(datetime) AS time_pk " +
    "FROM (SELECT DISTINCT l_shipdate AS datetime FROM lineitem))"

  private val dimLocCte: String =
    "dloc AS (SELECT location_id, CAST(row_number() OVER (ORDER BY location_id) AS INT) AS location_pk " +
    "FROM (SELECT DISTINCT location_id FROM (SELECT l_partkey AS location_id FROM lineitem " +
    "UNION ALL SELECT l_suppkey FROM lineitem)))"

  private val dimPayCte: String =
    "dpay AS (SELECT payment_type, CAST(row_number() OVER (ORDER BY payment_type) AS INT) AS payment_pk " +
    s"FROM (SELECT DISTINCT $paymentCase AS payment_type FROM lineitem WHERE l_returnflag IN ('R','A')))"

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_scan_project" -> (Etl.scanProject _),
    "p2_ts_coerce" -> (Etl.tsCoerce _),
    "p3_null_drop" -> (Etl.nullDrop _),
    "p4_narrow_cast" -> (Etl.narrowCast _),
    "p6_derived_metrics" -> (Etl.derivedMetrics _),
    "p8_pushdown_filter" -> (Etl.pushdownFilter _),
    "f12_json_props" -> ((s: SparkSession, d: String) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),
    "x2b_minhash_md5" -> ((s: SparkSession, d: String) => DocDedup.minhashMd5(s, d)),
    "x4b_simhash_md5" -> ((s: SparkSession, d: String) => DocDedup.simhashMd5(s, d)),
    "x4c_simhash_pairs" -> ((s: SparkSession, d: String) => DocDedup.simhashPairsMd5(s, d)),
    "x4d_md5" -> ((s: SparkSession, d: String) => DocDedup.simhashPairsWideMd5(s, d)),
    "x14_topk_operator" -> ((s: SparkSession, d: String) => {
      graft.functions.GraftFunctions.register(s) // idempotent: strategy + functions
      graft.plans.TopKPerKey(Tables.lineitem(s, d), Seq(col("l_returnflag")),
          Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc), 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    }),
    "p9_anomaly_tag" -> (Etl.anomalyTag _),
    "p10_valid_split" -> (Etl.validSplit _),
    "p10_anomaly_split" -> (Etl.anomalySplit _),
    "f2_time_features" -> (Funcs.timeFeatures _),
    "f3_day_of_week" -> (Funcs.dayOfWeek _),
    "f5_label_encode" -> (Funcs.labelEncodeEvents _),
    "f6_label_encode_priority" -> (Funcs.labelEncodePriority _),
    "f10_date_parts" -> (Funcs.dateParts _),
    "j1_time_surrogate_join" -> (Joins.timeSurrogateJoin _),
    "j2_double_dim_join" -> (Joins.doubleDimJoin _),
    "j4_label_join" -> (Joins.labelJoin _),
    "j5_semi_join" -> (Joins.semiJoin _),
    "j6_anti_join" -> (Joins.antiJoin _),
    "j7_asof_join" -> (Joins.asofAttribution _),
    "j8_range_bin_join" -> (Joins.rangeBinJoin _),
    "j9_interval_join" -> (Joins.intervalActivity _),
    // the explicit skew-salting path, correctness-gated: row semantics of
    // the salted join must equal the plain inner join the oracle runs
    // (salt spread by l_orderkey, dim side replicated numSalts x)
    "j10_salted_join" -> ((s: SparkSession, d: String) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_quantity"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.Skew.saltedJoin(li, sup, "l_suppkey", col("l_orderkey"))
        .groupBy("l_suppkey", "s_name")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_suppkey")
    }),
    "a17_pivot_quantity" -> (Aggs.pivotQuantity _),
    "a18_cumulative_quantity" -> (Aggs.cumulativeQuantity _),
    "a19_rollup_revenue" -> (Aggs.rollupRevenue _),
    "a20_group_quartiles" -> (Aggs.groupQuartiles _),
    "d7_except_keys" -> (Dedup.exceptKeys _),
    "d8_intersect_keys" -> (Dedup.intersectKeys _),
    "d9_string_agg" -> (Dedup.stringAgg _),
    "e3_event_gaps" -> (Funcs.eventGaps _),
    "x21_stratified_sample" -> (Funcs.stratifiedSample _),
    // rows-only: sketch internals are engine-specific (HLL++/KLL);
    // AggsSpec pins estimates within tolerance of the exact aggregates
    "a21_sketch_kpis" -> (Aggs.sketchKpis _),
    "a21b_sketch_tol" -> (Aggs.sketchKpisTol _),
    "sql1_sum_by_category_text" ->
      ((s: SparkSession, d: String) => SqlText.gate(s, d, SqlText.sumByCategorySql)),
    "sql2_histogram_text" ->
      ((s: SparkSession, d: String) => SqlText.gate(s, d, SqlText.histogramSql)),
    "sql3_dot_pairs_text" ->
      ((s: SparkSession, d: String) => SqlText.gate(s, d, SqlText.dotPairsSparkSql)),
    "sql4_minhash_text" ->
      ((s: SparkSession, d: String) => SqlText.gate(s, d, SqlText.minhashTextSparkSql)),
    "sql5_simhash_text" ->
      ((s: SparkSession, d: String) => SqlText.gate(s, d, SqlText.simhashTextSparkSql)),
    "x59b_capped_ensemble" ->
      ((s: SparkSession, d: String) => TextStats.filterEnsembleCapped(s, d)),
    "win_decile_by_group" -> (Funcs.decileByGroup _),
    "x15_ngram_jaccard" -> ((s: SparkSession, d: String) => DocDedup.ngramJaccardPairs(s, d)),
    "x15b_auto_bands" -> ((s: SparkSession, d: String) => DocDedup.ngramJaccardPairsAuto(s, d)),
    "x15c_calibrated_bands" -> ((s: SparkSession, d: String) => DocDedup.ngramJaccardPairsCalibrated(s, d)),
    "x133_dup_weighting" -> ((s: SparkSession, d: String) => DocDedup.dupWeighting(s, d)),
    "x136_cluster_coherence" -> ((s: SparkSession, d: String) => DocDedup.clusterCoherence(s, d)),
    "x137_guarded_dedup" -> ((s: SparkSession, d: String) => DocDedup.dedupApplyGuarded(s, d)),
    "x139_split_balance" -> ((s: SparkSession, d: String) => DocDedup.splitBalance(s, d)),
    "x134_ngram_novelty" -> ((s: SparkSession, d: String) => DocDedup.ngramNovelty(s, d)),
    "x17_dedup_clusters" -> ((s: SparkSession, d: String) => DocDedup.dedupClustersGate(s, d)),
    "x75_leak_safe_split" -> (DocDedup.leakSafeSplit _),
    "x82_frozen_split" -> ((s: SparkSession, d: String) => DocDedup.frozenSplitGate(s, d)),
    "x83_incremental_cc" -> ((s: SparkSession, d: String) => DocDedup.incrementalClustersGate(s, d)),
    "x66_dedup_stats" -> ((s: SparkSession, d: String) => DocDedup.dedupStats(s, d)),
    "x69_source_overlap" -> ((s: SparkSession, d: String) => DocDedup.sourceOverlap(s, d)),
    "x68_snapshot_diff" -> ((s: SparkSession, d: String) => graft.llm.Curation.snapshotDiff(s, d)),
    "x70_oov_rate" -> ((s: SparkSession, d: String) => graft.llm.TextStats.oovRate(s, d)),
    "x30_dedup_apply" -> ((s: SparkSession, d: String) => DocDedup.dedupApply(s, d)),
    "x61_best_of_cluster" -> ((s: SparkSession, d: String) => DocDedup.bestOfCluster(s, d)),
    "x16_token_freq" -> ((s: SparkSession, d: String) => graft.llm.TextStats.tokenFreq(s, d)),
    "x18_hash_split" -> ((s: SparkSession, d: String) => graft.llm.TextStats.hashSplit(s, d)),
    "x22_top_terms" -> ((s: SparkSession, d: String) => graft.llm.TextStats.topTerms(s, d)),
    "x23_inverted_index" -> ((s: SparkSession, d: String) => graft.llm.TextStats.invertedIndex(s, d)),
    "x19_sequence_packing" -> ((s: SparkSession, d: String) => graft.llm.Packing.sequencePacking(s, d)),
    "x20_chunking" -> ((s: SparkSession, d: String) => graft.llm.Packing.chunkDocuments(s, d)),
    "q1_pricing_summary" -> (Aggs.pricingSummary _),
    "a2_anomaly_value_counts" -> (Aggs.anomalyValueCounts _),
    "a5_trips_per_day" -> (Aggs.tripsPerDay _),
    "a6_sum_by_category" -> (Aggs.sumByCategory _),
    "a7_share_of_total" -> (Aggs.shareOfTotal _),
    "a8_monthly_revenue" -> (Aggs.monthlyRevenue _),
    "a9_histogram" -> (Aggs.histogram _),
    "a10_median_kpi" -> (Aggs.medianKpi _),
    // rows-only (quantile-sketch internals are engine-specific; AggsSpec
    // pins the estimates against the exact a10 medians)
    "a10c_median_approx" -> ((s: SparkSession, d: String) => Aggs.medianApprox(s, d)),
    // driver-verified sketch tolerance: exact medians hash-matched, plus
    // within-1%-of-exact booleans the oracle asserts as literal TRUE
    "a10d_median_tol" -> ((s: SparkSession, d: String) => Aggs.medianApproxTol(s, d)),
    "a11_daily_avg_revenue" -> (Aggs.dailyAvgRevenue _),
    "a12_ratio_kpis" -> (Aggs.ratioKpis _),
    "a13_sum_by_location" -> (Aggs.sumByLocation _),
    "a14_quality_report" -> (Aggs.qualityReport _),
    "d1_dedup_subset" -> (Dedup.dedupSubset _),
    "d2_distinct_dims" -> (Dedup.distinctDims _),
    "d3_union_locations" -> (Dedup.unionLocations _),
    "d5_surrogate_keys" -> (Dedup.surrogateKeys _),
    "w1_dim_time" -> ((s: SparkSession, d: String) => StarSchema.dimTime(s, d).orderBy("time_pk")),
    "w2_dim_location" -> ((s: SparkSession, d: String) => StarSchema.dimLocation(s, d).orderBy("location_pk")),
    "w3_dim_payment" -> ((s: SparkSession, d: String) => StarSchema.dimPayment(s, d).orderBy("payment_pk")),
    "w4_fact_trips" -> (StarSchema.factTripsOrdered _),
    "w5_upsert" -> ((s: SparkSession, d: String) => {
      val o = Tables.orders(s, d)
      val existing = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("old").as("src"), col("o_totalprice"))
      val incoming = o.select(col("o_orderkey"), lit("new").as("src"), col("o_totalprice"))
      graft.warehouse.Upsert.upsertDoNothing(existing, incoming, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    "w7_upsert_merge" -> ((s: SparkSession, d: String) => {
      val o = Tables.orders(s, d)
      val existing = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("old").as("src"), col("o_totalprice"))
      val incoming = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("new").as("src"), col("o_totalprice"))
      graft.warehouse.Upsert.upsertMerge(existing, incoming, Seq("o_orderkey"), "src")
        .orderBy("o_orderkey")
    }),
    "w8_scd2" -> ((s: SparkSession, d: String) =>
      graft.warehouse.Scd.customerPriorityHistory(s, d)),
    "w9_bucketed_join" -> ((s: SparkSession, d: String) =>
      graft.warehouse.Bucketed.orderLineSummary(s, d)),
    "win_trips_per_day" -> (Aggs.tripsPerDayWindow _),
    "a15_cube_revenue" -> (Aggs.cubeRevenue _),
    "a16_fact_dashboard" -> (Aggs.factDashboard _),
    // ---- streaming batch analogue ----
    "e1_hourly_events" -> ((s: SparkSession, d: String) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")),
    "e1b_stream_hourly" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.hourlyAggStreamGate(s, d)),
    "e7_stream_sliding" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.slidingAggStreamGate(s, d)),
    "e8_stream_dedup" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.dedupStreamGate(s, d)),
    "e9_stream_enrich" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.enrichStreamGate(s, d)),
    "e10_stream_sessions" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.sessionStreamGate(s, d)),
    "e10b_session_window" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.sessionWindowStreamGate(s, d)),
    "e11_stream_join" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.joinStreamGate(s, d)),
    "e12_stream_outer_join" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.leftJoinStreamGate(s, d)),
    "e13_stream_full_outer" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.fullOuterJoinStreamGate(s, d)),
    "e14_stream_join_agg" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.joinAggStreamGate(s, d)),
    "e15_stream_ingest_dedup" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.incrementalDedupStreamGate(s, d)),
    "e16_stream_quality_router" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.qualityRouterStreamGate(s, d)),
    "e17_stream_cc_maintenance" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.incrementalCcStreamGate(s, d)),
    "e18_stream_frozen_split" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.frozenSplitStreamGate(s, d)),
    "e2_sessionize" -> ((s: SparkSession, d: String) => Funcs.sessionizeEvents(s, d)),
    "e6_trending_topk" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.trendingTopK(
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .orderBy("window_start", "rank")),
    // the stream-stream interval join run on its BATCH twin (unified API):
    // gates the streaming operator's join semantics against the oracle
    "e5_click_view_join" -> ((s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      graft.streaming.EventsStream.clickViewJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"))
        .orderBy("click_id", "view_id")
    }),
    "d6_distinct_agg" -> ((s: SparkSession, d: String) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")),
    // auto-salted twin: the salt count is DERIVED from x130's measured
    // profile of the large side (the measure→act loop); oracle unchanged
    // — salting must stay semantically invisible at any derived count
    "w6b_auto_salted" -> ((s: SparkSession, d: String) =>
      graft.operators.Skew.autoSaltedJoin(
          Tables.lineitem(s, d).withColumnRenamed("l_suppkey", "s_suppkey"),
          Tables.supplier(s, d), "s_suppkey",
          saltBy = col("l_orderkey") * 10 + col("l_linenumber"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
        .orderBy("s_suppkey")),
    "w6_salted_join" -> ((s: SparkSession, d: String) =>
      graft.operators.Skew.saltedJoin(
          Tables.lineitem(s, d).withColumnRenamed("l_suppkey", "s_suppkey"),
          Tables.supplier(s, d), "s_suppkey",
          saltBy = col("l_orderkey") * 10 + col("l_linenumber"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
        .orderBy("s_suppkey")),
    "x13_text_normalize" -> (Funcs.textNormalize _),
    "a10b_quartiles" -> ((s: SparkSession, d: String) =>
      Tables.lineitem(s, d).agg(
        percentile(col("l_extendedprice"), lit(0.25)).as("q1"),
        percentile(col("l_extendedprice"), lit(0.5)).as("q2"),
        percentile(col("l_extendedprice"), lit(0.75)).as("q3"))),
    // ---- LLM-pipeline extensions (SURVEY.md §2.9 north star) ----
    "x1_dedup_exact" -> (DocDedup.exactGroups _),
    "x2_minhash_digest" -> ((s: SparkSession, d: String) => DocDedup.minhashDigest(s, d)),
    "x3_minhash_pairs" -> ((s: SparkSession, d: String) => DocDedup.minhashPairs(s, d)),
    "x4_simhash_digest" -> (DocDedup.simhashDigest _),
    // rows-only by design (xxhash64 signature; construction witnessed by
    // x4b/x4c md5 twins, variant pinned vs brute force in DocDedupSpec)
    "x4d_simhash_wide" -> ((s: SparkSession, d: String) => DocDedup.simhashPairsWide(s, d)),
    // rows-only (same xxhash64 reason): the size-derived blocking knob as
    // an executable gate — chunkBits = 0 derives the construction from a
    // footer-metadata count (64-bit path at gate scale; the two-stream
    // wide path beyond ~2M docs)
    "x4e_simhash_auto" -> ((s: SparkSession, d: String) => DocDedup.simhashPairsAuto(s, d)),
    // the derived-width dispatch, oracle-gated in the md5 domain: the
    // oracle re-derives chunk width from its own count(*) and dispatches
    // between the same two mirrored witness branches
    "x4e_auto_md5" -> ((s: SparkSession, d: String) => DocDedup.simhashPairsAutoMd5(s, d)),
    "x5_embed_neardup" -> ((s: SparkSession, d: String) => Similarity.nearDupPairs(s, d)),
    "x88_matryoshka" -> ((s: SparkSession, d: String) => Similarity.matryoshkaFidelity(s, d)),
    // the SCALE path for embedding near-dup: LSH-bucketed candidates, no
    // cartesian anywhere in the plan (x5 stays as the small-scale verifier).
    // nPlanes is PINNED to 6 here because the oracle SQL bakes the 6-plane
    // ±1 matrix as literals; the library default (nPlanes = 0) derives
    // ~log2(nVecs) from a metadata count so big corpora don't saturate the
    // fixed bucket space (Similarity.autoPlanes).
    "x5b_ann_neardup" -> ((s: SparkSession, d: String) => Similarity.annPairsLsh(s, d, nPlanes = 6)),
    "x55_knn_join" -> ((s: SparkSession, d: String) => Similarity.knnJoin(s, d, nPlanes = 6)),
    // the DERIVED-PARAMETER production forms, oracle-checked end to end:
    // nPlanes comes from count(*) (autoPlanes, integer-exact) and the
    // ±1 planes are md5-derived, so the oracle SQL re-derives BOTH from
    // its own count(*)/md5() — no literal matrix, no pinned knob. These
    // are the constructions you would run at 100 TB; the pinned gates
    // above stay as the fixed-knob verifiers.
    "x5b_auto_neardup" -> ((s: SparkSession, d: String) => Similarity.annPairsLshAuto(s, d)),
    "x55_auto_knn" -> ((s: SparkSession, d: String) => Similarity.knnJoinAuto(s, d)),
    "x80b_semantic_auto" -> ((s: SparkSession, d: String) => Similarity.semanticDecontaminateAuto(s, d)),
    // embedding-space eval decontamination (paraphrase tier; x31 is the
    // n-gram tier) — per-train argmax vs the broadcast eval set
    "x80_semantic_decontaminate" ->
      ((s: SparkSession, d: String) => Similarity.semanticDecontaminate(s, d)),
    "x6_ann_topk" -> ((s: SparkSession, d: String) => Similarity.topKBruteForce(s, d)),
    "x67_hard_negatives" -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "x78_contrastive_pairs" -> ((s: SparkSession, d: String) => Similarity.contrastivePairs(s, d)),
    "x71_pq_topk" -> ((s: SparkSession, d: String) => Similarity.pqTopK(s, d)),
    "x71b_ivfpq_topk" -> ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    "x132_pq_rerank" -> ((s: SparkSession, d: String) => Similarity.pqRerankTopK(s, d)),
    "x12_ivf_topk" -> ((s: SparkSession, d: String) => Similarity.topKIvf(s, d)),
    "x24_vector_stats" -> ((s: SparkSession, d: String) => Similarity.vectorStats(s, d)),
    "x29_quantize_int8" -> ((s: SparkSession, d: String) => Similarity.quantizeInt8(s, d)),
    "x7_lang_id" -> (TextStats.langId _),
    "x8_quality_score" -> (TextStats.qualityScore _),
    "x135_quality_drift" -> (TextStats.qualityDrift _),
    "x138_lm_coverage" -> (TextStats.lmCoverage _),
    "x85_quality_quantile_norm" ->
      ((s: SparkSession, d: String) => Curation.qualityQuantileNormalize(s, d)),
    "x90_rendezvous_shards" ->
      ((s: SparkSession, d: String) => Curation.rendezvousShards(s, d)),
    "x92_source_budget" ->
      ((s: SparkSession, d: String) => Curation.sourceBudget(s, d)),
    "x9_token_count" -> (TextStats.tokenCount _),
    "x56_bigram_lm" -> (TextStats.bigramLmScore _),
    "x57_classifier_margin" -> ((s: SparkSession, d: String) => TextStats.classifierMargin(s, d)),
    "x58_containment" -> ((s: SparkSession, d: String) => DocDedup.containmentPairs(s, d)),
    "x59_filter_ensemble" -> ((s: SparkSession, d: String) => TextStats.filterEnsemble(s, d)),
    "x10_fingerprint" -> (TextStats.fingerprint _),
    "x11_rolling_fingerprint" -> (TextStats.rollingFingerprint _),
    "x11b_winnow" -> ((s: SparkSession, d: String) => TextStats.winnow(s, d)),
    "m1_media_stats" -> (Multimodal.mediaStats _),
    "m2_media_resize" -> ((s: SparkSession, d: String) => Multimodal.mediaResize(s, d)),
    "m3_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "m4_audio_quality" -> (Multimodal.audioQuality _),
    "x73_bloom_prefilter" -> ((s: SparkSession, d: String) => DocDedup.bloomPrefilter(s, d)),
    "x72_image_phash" -> (Multimodal.imagePhash _),
    "x72b_image_neardup" -> ((s: SparkSession, d: String) => Multimodal.imageNearDup(s, d)),
    "x72c_image_dedup_apply" -> (Multimodal.imageDedupApply _),
    "m5_caption_filter" -> ((s: SparkSession, d: String) => Multimodal.captionFilter(s, d)),
    "x25_pair_counts" -> ((s: SparkSession, d: String) => TextStats.pairCounts(s, d)),
    "x26_kmeans_iter" -> ((s: SparkSession, d: String) => graft.llm.Clustering.lloydIter(s, d)),
    "x84_kcenter_coreset" -> ((s: SparkSession, d: String) => graft.llm.Clustering.kcenterCoreset(s, d)),
    "x26b_kmeans_assign" -> ((s: SparkSession, d: String) => graft.llm.Clustering.assign(s, d)),
    "x27_source_quota" -> ((s: SparkSession, d: String) => TextStats.sourceQuota(s, d)),
    "x28_repetition" -> ((s: SparkSession, d: String) => TextStats.repetitionStats(s, d)),
    "x31_decontaminate" -> ((s: SparkSession, d: String) => Curation.decontaminate(s, d)),
    "x60_contamination_report" -> ((s: SparkSession, d: String) => Curation.contaminationReport(s, d)),
    "x62_substring_decontaminate" -> ((s: SparkSession, d: String) => Curation.substringDecontaminate(s, d)),
    "x62b_substring_spans" -> ((s: SparkSession, d: String) => Curation.substringSpans(s, d)),
    "x74_dup_span_profile" -> ((s: SparkSession, d: String) => Curation.dupSpanProfile(s, d)),
    "x63_token_budget" -> ((s: SparkSession, d: String) => Curation.tokenBudget(s, d)),
    "x64_length_batches" -> ((s: SparkSession, d: String) => Packing.lengthBatches(s, d)),
    "x65_filter_funnel" -> ((s: SparkSession, d: String) => Curation.filterFunnel(s, d)),
    "x32_mixture_weights" -> ((s: SparkSession, d: String) => Curation.mixtureWeights(s, d)),
    "x33_shuffle_shards" -> ((s: SparkSession, d: String) => Curation.shuffleShards(s, d)),
    // per-shard release manifest: doc/token counts + order-sensitive
    // content checksum over x33's shard assignment
    "x81_shard_manifest" -> ((s: SparkSession, d: String) => Curation.shardManifest(s, d)),
    "x81b_auto_manifest" -> ((s: SparkSession, d: String) => Curation.shardManifestAuto(s, d)),
    "x34_clean_text" -> ((s: SparkSession, d: String) => Curation.cleanText(s, d)),
    "x35_incremental_dedup" -> ((s: SparkSession, d: String) => DocDedup.incrementalDedup(s, d)),
    "x36_length_filter" -> ((s: SparkSession, d: String) => Curation.lengthFilter(s, d)),
    "x37_curation_report" -> ((s: SparkSession, d: String) => TextStats.curationReport(s, d)),
    "x38_training_set" -> ((s: SparkSession, d: String) => Curation.trainingSet(s, d)),
    "x39_span_dedup" -> ((s: SparkSession, d: String) => DocDedup.spanDedup(s, d)),
    "x40_pii_redact" -> ((s: SparkSession, d: String) => Curation.piiRedact(s, d)),
    "x41_rarity_score" -> ((s: SparkSession, d: String) => TextStats.rarityScore(s, d)),
    "x77_feature_hash" -> ((s: SparkSession, d: String) => TextStats.featureHash(s, d)),
    "x79_source_quality" -> (TextStats.sourceQualityProfile _),
    "x42_semantic_dedup" -> ((s: SparkSession, d: String) => Similarity.semanticDedup(s, d)),
    "x43_column_profile" -> ((s: SparkSession, d: String) => Profiling.columnProfile(s, d)),
    "x44_resample_ffill" -> ((s: SparkSession, d: String) => TimeSeries.resampleFfill(s, d)),
    "x45_pagerank" -> ((s: SparkSession, d: String) => graft.graph.PageRank.nationRank(s, d)),
    "x86_triangle_stats" -> ((s: SparkSession, d: String) => graft.graph.Triangles.neardupTriangles(s, d)),
    "x89_split_leakage" -> ((s: SparkSession, d: String) => DocDedup.splitLeakageAudit(s, d)),
    "x87_distinct_ngrams" -> ((s: SparkSession, d: String) => TextStats.distinctNgrams(s, d)),
    "x91_vocab_coverage" -> ((s: SparkSession, d: String) => TextStats.vocabCoverage(s, d)),
    "x46_mixture_epochs" -> ((s: SparkSession, d: String) => Curation.mixtureEpochs(s, d)),
    "x47_bm25_rank" -> ((s: SparkSession, d: String) => Retrieval.bm25Rank(s, d)),
    "x49_fuzzy_join" -> ((s: SparkSession, d: String) => Dedup.fuzzyNameJoin(s, d)),
    "x50_cumulative_users" -> ((s: SparkSession, d: String) => TimeSeries.cumulativeUsers(s, d)),
    "x51_importance_resample" -> ((s: SparkSession, d: String) => Curation.importanceResample(s, d)),
    "x52_pack_chop" -> ((s: SparkSession, d: String) => Packing.packChop(s, d)),
    "x54_stratified_sample" -> ((s: SparkSession, d: String) => Curation.stratifiedSample(s, d)),
    "x48_hybrid_rrf" -> ((s: SparkSession, d: String) => Retrieval.hybridRrf(s, d)),
    "x93_boilerplate_ratio" -> ((s: SparkSession, d: String) => TextStats.boilerplateRatio(s, d)),
    "x94_priority_sample" -> ((s: SparkSession, d: String) => Curation.prioritySample(s, d)),
    "x95_source_overlap" -> ((s: SparkSession, d: String) => DocDedup.sourceOverlapMatrix(s, d)),
    "x96_embed_dim_profile" -> ((s: SparkSession, d: String) => graft.llm.Similarity.embeddingDimProfile(s, d)),
    "x97_curriculum_order" -> ((s: SparkSession, d: String) => Curation.curriculumOrder(s, d)),
    "x99_pmi_collocations" -> ((s: SparkSession, d: String) => TextStats.pmiCollocations(s, d)),
    "x100_dedup_survivorship" -> ((s: SparkSession, d: String) => DocDedup.dedupSurvivorship(s, d)),
    "x101_mixed_language" -> ((s: SparkSession, d: String) => TextStats.mixedLanguage(s, d)),
    "x102_ann_quality_eval" -> ((s: SparkSession, d: String) => graft.llm.Similarity.annQualityEval(s, d)),
    "x103_seqlen_budget" -> ((s: SparkSession, d: String) => Packing.seqlenBudget(s, d)),
    "x104_threshold_sweep" -> ((s: SparkSession, d: String) => DocDedup.thresholdSweep(s, d)),
    "x105_source_datacard" -> ((s: SparkSession, d: String) => Curation.sourceDataCard(s, d)),
    "x106_kcore_peel" -> ((s: SparkSession, d: String) => graft.graph.KCore.neardupKCore(s, d)),
    "x107_cluster_size_profile" -> ((s: SparkSession, d: String) => DocDedup.clusterSizeProfile(s, d)),
    "x108_cross_source_dup" -> ((s: SparkSession, d: String) => DocDedup.crossSourceDup(s, d)),
    "x109_embedding_drift" -> ((s: SparkSession, d: String) => Similarity.embeddingDrift(s, d)),
    "x110_band_recall_audit" -> ((s: SparkSession, d: String) => DocDedup.bandRecallAudit(s, d)),
    "x111_embedding_outliers" -> ((s: SparkSession, d: String) => Similarity.embeddingOutliers(s, d)),
    "x112_centroid_confusion" -> ((s: SparkSession, d: String) => Similarity.labelCentroidConfusion(s, d)),
    "x113_clf_calibration" -> ((s: SparkSession, d: String) => TextStats.classifierCalibration(s, d)),
    "x114_knn_agreement" -> ((s: SparkSession, d: String) => Similarity.knnLabelAgreement(s, d)),
    "x115_jl_distortion" -> ((s: SparkSession, d: String) => Similarity.jlDistortionAudit(s, d)),
    "x116_tokenizer_fertility" -> ((s: SparkSession, d: String) => TextStats.tokenizerFertility(s, d)),
    "x117_shuffle_quality" -> ((s: SparkSession, d: String) => Curation.shuffleQualityAudit(s, d)),
    "x118_filter_disagreement" -> ((s: SparkSession, d: String) => TextStats.filterDisagreement(s, d)),
    "x119_knn_reciprocity" -> ((s: SparkSession, d: String) => Similarity.knnReciprocity(s, d)),
    "x120_template_prefixes" -> ((s: SparkSession, d: String) => TextStats.templatePrefixes(s, d)),
    "x121_norm_robustness" -> ((s: SparkSession, d: String) => DocDedup.normalizationRobustness(s, d)),
    "x122_index_append" -> ((s: SparkSession, d: String) => Similarity.knnIncrementalAppend(s, d)),
    "x123_release_diff" -> ((s: SparkSession, d: String) => Curation.releaseDiff(s, d)),
    "x124_token_funnel" -> ((s: SparkSession, d: String) => Curation.tokenFunnel(s, d)),
    "x125_curation_pipeline" -> ((s: SparkSession, d: String) => Curation.curationPipeline(s, d)),
    "x122b_stored_append" -> ((s: SparkSession, d: String) => Similarity.knnIncrementalAppendStored(s, d)),
    "x126_cell_balanced_sample" -> ((s: SparkSession, d: String) =>
      graft.llm.Clustering.cellBalancedSample(s, d)),
    "x127_cell_quality" -> ((s: SparkSession, d: String) =>
      graft.llm.Clustering.cellQualityAudit(s, d)),
    "x128_ivf_cell_profile" -> ((s: SparkSession, d: String) =>
      Similarity.ivfCellProfile(s, d)),
    "x129_int8_quant_audit" -> ((s: SparkSession, d: String) =>
      Similarity.int8QuantAudit(s, d)),
    "x130_key_skew_profile" -> ((s: SparkSession, d: String) =>
      graft.operators.Skew.keySkewProfile(Tables.events(s, d), "user_id")),
    "x131_int8_topk_parity" -> ((s: SparkSession, d: String) =>
      Similarity.int8TopKParity(s, d)),
    "e4_funnel" -> (Funcs.funnel _),
    "f13_zorder_key" -> (Funcs.zorderKey _)
  )

  /** DuckDB-runnable oracle SQL, one per query, aliases matched 1:1. */
  def oracleSql: Map[String, String] = Map(
    "s1_scan_project" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, " +
       "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM lineitem " +
       "ORDER BY l_orderkey, l_linenumber"),
    "p2_ts_coerce" ->
      ("SELECT event_id, strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_sec " +
       "FROM events ORDER BY event_id"),
    "p3_null_drop" ->
      ("SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem " +
       "WHERE l_shipdate IS NOT NULL AND l_orderkey IS NOT NULL ORDER BY l_orderkey, l_linenumber"),
    "p4_narrow_cast" ->
      ("SELECT l_orderkey, CAST(COALESCE(l_linenumber, 0) AS SMALLINT) AS linenumber_i16, " +
       "CAST(l_quantity AS INT) AS quantity_int FROM lineitem ORDER BY l_orderkey, linenumber_i16"),
    "p6_derived_metrics" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice*(1-l_discount) AS revenue, " +
       "l_extendedprice/l_quantity AS unit_price FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "p8_pushdown_filter" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem " +
       "WHERE l_shipdate >= TIMESTAMP '2001-01-01' AND l_quantity > 45 " +
       "ORDER BY l_orderkey, l_linenumber"),
    "f12_json_props" ->
      ("SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events " +
       "ORDER BY event_id"),
    "x2b_minhash_md5" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
       "hs AS (SELECT doc_id, list_transform(s, x -> " +
       s"CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % ${DocDedup.mixP}) AS hl FROM sh) " +
       "SELECT doc_id, " +
       (0 until 8).map(i =>
         s"list_min(list_transform(hl, h -> (h * ${DocDedup.mixA(i)} + ${DocDedup.mixB(i)}) " +
         s"% ${DocDedup.mixP})) AS mh$i")
         .mkString(", ") +
       " FROM hs ORDER BY doc_id"),
    "x14_topk_operator" ->
      ("WITH r AS (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, " +
       "row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn " +
       "FROM lineitem) SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM r " +
       "WHERE rn <= 3 ORDER BY l_returnflag, l_orderkey, l_linenumber"),
    "x4b_simhash_md5" ->
      (s"WITH $simhash16Cte SELECT doc_id, simhash16 FROM sh16 ORDER BY doc_id"),
    "x4c_simhash_pairs" ->
      // sh16c: the witness's hard input cap (16-bit space saturates
      // quadratically) — mirrors simhashPairsMd5's maxDocs slice
      (s"WITH $simhash16Cte, sh16c AS (SELECT * FROM sh16 WHERE doc_id < 10000), " +
       "ch AS (SELECT doc_id, simhash16, i, CASE WHEN i = 0 THEN simhash16 & 255 " +
       "ELSE (simhash16 >> 8) & 255 END AS chunk FROM sh16c, range(0, 2) r(i)), " +
       "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "a.simhash16 AS sa, b.simhash16 AS sb FROM ch a " +
       "JOIN ch b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id) " +
       "SELECT id_a, id_b, hamming FROM (SELECT id_a, id_b, " +
       "CAST(bit_count(xor(sa, sb)) AS INT) AS hamming FROM cand) " +
       "WHERE hamming <= 1 ORDER BY id_a, id_b"),
    "x4d_md5" ->
      // the x4d two-stream construction at witness width: 4×8-bit chunks
      // spanning both halves, combined hamming ≤ 3 (mirror of
      // DocDedup.simhashPairsWideMd5, incl. its doc_id < 10000 cap)
      (s"WITH $simhash2x16Cte, sh2c AS (SELECT * FROM sh2 WHERE doc_id < 10000), " +
       "ch AS (SELECT doc_id, sh_lo16, sh_hi16, i, CASE " +
       "WHEN i = 0 THEN sh_lo16 & 255 WHEN i = 1 THEN (sh_lo16 >> 8) & 255 " +
       "WHEN i = 2 THEN sh_hi16 & 255 ELSE (sh_hi16 >> 8) & 255 END AS chunk " +
       "FROM sh2c, range(0, 4) r(i)), " +
       "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "a.sh_lo16 AS la, a.sh_hi16 AS ha, b.sh_lo16 AS lb, b.sh_hi16 AS hb FROM ch a " +
       "JOIN ch b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id) " +
       "SELECT id_a, id_b, hamming FROM (SELECT id_a, id_b, " +
       "CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS INT) AS hamming FROM cand) " +
       "WHERE hamming <= 3 ORDER BY id_a, id_b"),
    "x4e_auto_md5" ->
      // derived-width dispatch: bits = clamp(ceil(log2(n/32)), 8, 32) as
      // an integer threshold sum over count(*) (== DocDedup.autoChunkBits),
      // then the width picks the branch — ≤16 → the x4c single-stream
      // witness (hamming ≤ 1), else the x4d two-stream one (hamming ≤ 3)
      (s"WITH prm AS (SELECT LEAST(32, GREATEST(8, " +
       (0 until 32).map(k => s"(CASE WHEN cnt > ${32L << k} THEN 1 ELSE 0 END)")
         .mkString(" + ") +
       ")) AS bits FROM (SELECT count(*) AS cnt FROM documents)), " +
       s"$simhash16Cte, $simhash2x16Cte, " +
       "shc AS (SELECT * FROM sh16 WHERE doc_id < 10000), " +
       "nch AS (SELECT doc_id, simhash16, i, CASE WHEN i = 0 THEN simhash16 & 255 " +
       "ELSE (simhash16 >> 8) & 255 END AS chunk FROM shc, range(0, 2) r(i)), " +
       "ncand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "a.simhash16 AS sa, b.simhash16 AS sb FROM nch a " +
       "JOIN nch b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id), " +
       "sh2c AS (SELECT * FROM sh2 WHERE doc_id < 10000), " +
       "wch AS (SELECT doc_id, sh_lo16, sh_hi16, i, CASE " +
       "WHEN i = 0 THEN sh_lo16 & 255 WHEN i = 1 THEN (sh_lo16 >> 8) & 255 " +
       "WHEN i = 2 THEN sh_hi16 & 255 ELSE (sh_hi16 >> 8) & 255 END AS chunk " +
       "FROM sh2c, range(0, 4) r(i)), " +
       "wcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "a.sh_lo16 AS la, a.sh_hi16 AS ha, b.sh_lo16 AS lb, b.sh_hi16 AS hb FROM wch a " +
       "JOIN wch b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id) " +
       "SELECT id_a, id_b, hamming FROM (" +
       "SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming " +
       "FROM ncand WHERE (SELECT bits FROM prm) <= 16 " +
       "UNION ALL " +
       "SELECT id_a, id_b, CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS INT) " +
       "FROM wcand WHERE (SELECT bits FROM prm) > 16) " +
       "WHERE hamming <= (CASE WHEN (SELECT bits FROM prm) <= 16 THEN 1 ELSE 3 END) " +
       "ORDER BY id_a, id_b"),
    "p9_anomaly_tag" ->
      (s"$taggedCte SELECT l_orderkey, l_linenumber, rejection_reason FROM t " +
       "ORDER BY l_orderkey, l_linenumber"),
    "p10_valid_split" ->
      (s"$taggedCte SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, revenue, unit_price " +
       "FROM t WHERE rejection_reason IS NULL ORDER BY l_orderkey, l_linenumber"),
    "p10_anomaly_split" ->
      (s"$taggedCte SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, rejection_reason " +
       "FROM t WHERE rejection_reason IS NOT NULL ORDER BY l_orderkey, l_linenumber"),
    "f2_time_features" ->
      (s"SELECT CAST(hour(ts) AS INT) AS event_hour, ${periodCase("hour(ts)")} AS time_period, " +
       "count(*) AS n FROM events GROUP BY 1, 2 ORDER BY event_hour"),
    "f3_day_of_week" ->
      ("SELECT dayname(l_shipdate) AS day_of_week, count(*) AS n FROM lineitem " +
       "GROUP BY 1 ORDER BY n DESC, day_of_week"),
    "f5_label_encode" ->
      ("SELECT CASE WHEN event_type='view' THEN 'Vue' WHEN event_type='click' THEN 'Clic' " +
       "WHEN event_type='purchase' THEN 'Achat' WHEN event_type='signup' THEN 'Inscription' END " +
       "AS event_label, count(*) AS n FROM events GROUP BY 1 ORDER BY event_label NULLS FIRST"),
    "f6_label_encode_priority" ->
      ("SELECT CASE WHEN o_orderpriority='1-URGENT' THEN 'Urgent' WHEN o_orderpriority='2-HIGH' THEN 'Haute' " +
       "WHEN o_orderpriority='3-MEDIUM' THEN 'Moyenne' WHEN o_orderpriority='4-NOT SPECIFIED' THEN 'Non spécifiée' " +
       "WHEN o_orderpriority='5-LOW' THEN 'Basse' END AS priority_label, count(*) AS n " +
       "FROM orders GROUP BY 1 ORDER BY priority_label"),
    "f10_date_parts" ->
      ("SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, CAST(quarter(o_orderdate) AS INT) AS q, " +
       "CAST(month(o_orderdate) AS INT) AS m FROM orders ORDER BY o_orderkey"),
    "j1_time_surrogate_join" ->
      (s"WITH $dimTimeCte SELECT l.l_orderkey, l.l_linenumber, d.time_pk FROM lineitem l " +
       "JOIN dtime d ON l.l_shipdate = d.datetime ORDER BY l.l_orderkey, l.l_linenumber"),
    "j2_double_dim_join" ->
      ("SELECT l.l_orderkey, l.l_linenumber, cn.n_name AS pickup_nation, sn.n_name AS dropoff_nation " +
       "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
       "JOIN customer c ON o.o_custkey = c.c_custkey " +
       "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
       "JOIN nation cn ON c.c_nationkey = cn.n_nationkey " +
       "JOIN nation sn ON s.s_nationkey = sn.n_nationkey " +
       "ORDER BY l.l_orderkey, l.l_linenumber"),
    "j4_label_join" ->
      ("SELECT l_orderkey, l_linenumber, m.payment_label FROM lineitem " +
       "JOIN (VALUES ('R','Retour'),('A','Accepté')) AS m(flag, payment_label) ON l_returnflag = m.flag " +
       "ORDER BY l_orderkey, l_linenumber"),
    "j5_semi_join" ->
      ("SELECT o_orderkey, o_totalprice FROM orders o WHERE EXISTS " +
       "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R') " +
       "ORDER BY o_orderkey"),
    "j6_anti_join" ->
      ("SELECT o_orderkey, o_orderdate FROM orders o WHERE NOT EXISTS " +
       "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey " +
       "AND l.l_shipdate >= TIMESTAMP '1997-06-01') ORDER BY o_orderkey"),
    "j7_asof_join" ->
      ("WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
       "v AS (SELECT user_id, ts FROM events WHERE event_type = 'view') " +
       "SELECT c.event_id, c.user_id, c.ts, v.ts AS view_ts " +
       "FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts " +
       "ORDER BY c.event_id"),
    "j8_range_bin_join" ->
      ("SELECT b.bin_label, count(*) AS n, round(sum(l.l_extendedprice),2) AS total_price " +
       "FROM lineitem l JOIN (VALUES (0,10,'small'),(10,25,'mid'),(25,40,'large'),(40,1000,'huge')) " +
       "AS b(lo, hi, bin_label) ON l.l_quantity >= b.lo AND l.l_quantity < b.hi " +
       "GROUP BY 1 ORDER BY bin_label"),
    "x21_stratified_sample" ->
      ("SELECT event_id, event_type, value FROM events " +
       "WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),1,2)) AS INT) < " +
       "CASE event_type WHEN 'view' THEN 26 WHEN 'click' THEN 128 ELSE 256 END " +
       "ORDER BY event_id"),
    "e3_event_gaps" ->
      ("SELECT event_id, user_id, " +
       "CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) " +
       "AS DOUBLE)/1e6 AS gap_sec FROM events ORDER BY event_id"),
    "win_decile_by_group" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, " +
       "CAST(ntile(10) OVER (PARTITION BY l_returnflag " +
       "ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS INT) AS decile " +
       "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "j10_salted_join" ->
      // the UNSALTED join: salting must be row-semantics-invisible
      ("SELECT l.l_suppkey, s.s_name, count(*) AS n_lines, " +
       "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty " +
       "FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey " +
       "GROUP BY 1, 2 ORDER BY l_suppkey"),
    "j9_interval_join" ->
      ("SELECT p.event_id, count(c.event_id) AS n_clicks_1h, " +
       "round(coalesce(sum(c.value), 0), 2) AS click_value_1h " +
       "FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p " +
       "LEFT JOIN (SELECT event_id, ts, value FROM events WHERE event_type = 'click') c " +
       "ON c.ts > p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts " +
       "GROUP BY 1 ORDER BY p.event_id"),
    "a19_rollup_revenue" ->
      ("SELECT CAST(year(l_shipdate) AS INT) AS y, CAST(quarter(l_shipdate) AS INT) AS q, " +
       "sum(CAST(round((l_extendedprice*(1-l_discount))*10000) AS BIGINT))/10000.0 AS revenue, " +
       "count(*) AS n FROM lineitem " +
       "GROUP BY ROLLUP (1, 2) ORDER BY y NULLS FIRST, q NULLS FIRST"),
    "a20_group_quartiles" ->
      ("SELECT l_returnflag, quantile_cont(l_extendedprice, 0.25) AS q1, " +
       "quantile_cont(l_extendedprice, 0.5) AS q2, quantile_cont(l_extendedprice, 0.75) AS q3 " +
       "FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),
    "d7_except_keys" ->
      ("SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996 EXCEPT " +
       "SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997 ORDER BY o_custkey"),
    "d8_intersect_keys" ->
      ("SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R' INTERSECT " +
       "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A' ORDER BY l_partkey"),
    "d9_string_agg" ->
      ("SELECT CAST(year(o_orderdate) AS INT) AS y, " +
       "string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities, " +
       "count(DISTINCT o_orderpriority) AS n_priorities FROM orders GROUP BY 1 ORDER BY y"),
    "a17_pivot_quantity" ->
      ("SELECT CAST(year(l_shipdate) AS INT) AS y, " +
       "sum(CASE WHEN l_returnflag='A' THEN l_quantity END) AS \"A\", " +
       "sum(CASE WHEN l_returnflag='N' THEN l_quantity END) AS \"N\", " +
       "sum(CASE WHEN l_returnflag='R' THEN l_quantity END) AS \"R\" " +
       "FROM lineitem GROUP BY 1 ORDER BY y"),
    "a18_cumulative_quantity" ->
      ("WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d, sum(l_quantity) AS s " +
       "FROM lineitem GROUP BY 1) " +
       "SELECT d, s, sum(s) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
       "FROM daily ORDER BY d"),
    "x15_ngram_jaccard" -> (x15PairsSql + " ORDER BY id_a, id_b"),
    "x15b_auto_bands" -> x15bAutoSql,
    "x15c_calibrated_bands" -> x15cCalibratedSql,
    // connected components over the x15 pairs: DuckDB side = recursive-CTE
    // reachability (min reachable id per node == min-label-propagation
    // fixpoint on an undirected graph)
    "x17_dedup_clusters" ->
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node) " +
       "SELECT node AS doc_id, min(lab) AS cluster_id FROM reach " +
       "GROUP BY node ORDER BY doc_id"),
    "x83_incremental_cc" ->
      // incremental refresh ≡ full recompute: the oracle ignores the
      // prior-label/new-edge split entirely and derives reachability over
      // the FULL pair set, plus self-labels for old-snapshot singletons
      // (doc_id % 10 <> 0 docs in no pair) — exactly the node set the
      // incremental path must cover
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       // explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE list
       // DuckDB does not set-dedupe a plain UNION in a non-recursive CTE
       "nodes AS (SELECT DISTINCT doc_id FROM (SELECT doc_id FROM documents " +
       "WHERE doc_id % 10 <> 0 " +
       "UNION ALL SELECT id_a FROM pairs UNION ALL SELECT id_b FROM pairs)) " +
       "SELECT n.doc_id, COALESCE(cl.cluster_id, n.doc_id) AS cluster_id " +
       "FROM nodes n LEFT JOIN cl ON cl.node = n.doc_id ORDER BY doc_id"),
    "x133_dup_weighting" ->
      // x17's recursive-CTE labels + one count per cluster; singletons
      // (docs in no verified pair) weigh 10⁶. `//` mirrors the integer
      // floor the Spark side casts to
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM cl GROUP BY 1) " +
       "SELECT d.doc_id, COALESCE(sz.cluster_size, 1) AS cluster_size, " +
       "1000000 // COALESCE(sz.cluster_size, 1) AS weight_ppm " +
       "FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id " +
       "LEFT JOIN sz ON sz.cluster_id = cl.cluster_id ORDER BY d.doc_id"),
    "e17_stream_cc_maintenance" ->
      // the incremental-stream CONTRACT, not its mechanics: after the
      // drain the versioned label store must equal a full CC recompute
      // over the whole corpus — x17's recursive reachability with
      // self-labels for every doc in no verified pair
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node) " +
       "SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id " +
       "FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id ORDER BY d.doc_id"),
    "e18_stream_frozen_split" -> {
      // ARRIVAL-ORDER REPLAY: the split a doc gets depends on the cluster
      // structure at its arrival, so the oracle re-derives per-snapshot CC
      // (even-internal / +batch-1 / full), chains the x82 tier rules
      // across the three snapshots, and reports under the CURRENT groups
      val coin = (g: String) =>
        s"CAST(concat('0x', substr(md5(CAST($g AS VARCHAR)), 1, 2)) AS INT)"
      val coinCase = (g: String) =>
        s"CASE WHEN ${coin(g)} < 204 THEN 'train' WHEN ${coin(g)} < 230 THEN 'val' ELSE 'test' END"
      s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
      "odd AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1), " +
      "cutv AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS cut FROM odd), " +
      "p0 AS (SELECT id_a, id_b FROM pairs WHERE id_a % 2 = 0 AND id_b % 2 = 0), " +
      "e0 AS (SELECT id_a AS src, id_b AS dst FROM p0 UNION ALL SELECT id_b, id_a FROM p0), " +
      "r0(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e0) " +
      "UNION SELECT e0.dst, r0.lab FROM r0 JOIN e0 ON e0.src = r0.node), " +
      "c0 AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM r0 GROUP BY node), " +
      "p1 AS (SELECT p.id_a, p.id_b FROM pairs p, cutv " +
      "WHERE (p.id_a % 2 = 0 OR p.id_a <= cut) AND (p.id_b % 2 = 0 OR p.id_b <= cut)), " +
      "e1 AS (SELECT id_a AS src, id_b AS dst FROM p1 UNION ALL SELECT id_b, id_a FROM p1), " +
      "r1(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e1) " +
      "UNION SELECT e1.dst, r1.lab FROM r1 JOIN e1 ON e1.src = r1.node), " +
      "c1 AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM r1 GROUP BY node), " +
      "e2 AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
      "r2(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e2) " +
      "UNION SELECT e2.dst, r2.lab FROM r2 JOIN e2 ON e2.src = r2.node), " +
      "c2 AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM r2 GROUP BY node), " +
      "g0 AS (SELECT d.doc_id, COALESCE(c0.cluster_id, d.doc_id) AS group_id " +
      "FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d " +
      "LEFT JOIN c0 ON c0.doc_id = d.doc_id), " +
      s"s0 AS (SELECT doc_id, ${coinCase("group_id")} AS split FROM g0), " +
      "g1 AS (SELECT d.doc_id, COALESCE(c1.cluster_id, d.doc_id) AS group_id " +
      "FROM (SELECT doc_id FROM documents, cutv WHERE doc_id % 2 = 0 OR doc_id <= cut) d " +
      "LEFT JOIN c1 ON c1.doc_id = d.doc_id), " +
      "wp1 AS (SELECT g1.doc_id, g1.group_id, s0.split AS prior_split " +
      "FROM g1 LEFT JOIN s0 ON s0.doc_id = g1.doc_id), " +
      "gs1 AS (SELECT group_id, arg_min(prior_split, doc_id) AS inherit_split " +
      "FROM wp1 WHERE prior_split IS NOT NULL GROUP BY group_id), " +
      "s1 AS (SELECT doc_id, prior_split AS split FROM wp1 WHERE prior_split IS NOT NULL " +
      "UNION ALL SELECT nd.doc_id, " +
      s"COALESCE(gs1.inherit_split, ${coinCase("nd.group_id")}) AS split " +
      "FROM (SELECT doc_id, group_id FROM wp1 WHERE prior_split IS NULL) nd " +
      "LEFT JOIN gs1 ON gs1.group_id = nd.group_id), " +
      "g2 AS (SELECT d.doc_id, COALESCE(c2.cluster_id, d.doc_id) AS group_id " +
      "FROM documents d LEFT JOIN c2 ON c2.doc_id = d.doc_id), " +
      "wp2 AS (SELECT g2.doc_id, g2.group_id, s1.split AS prior_split " +
      "FROM g2 LEFT JOIN s1 ON s1.doc_id = g2.doc_id), " +
      "gs2 AS (SELECT group_id, arg_min(prior_split, doc_id) AS inherit_split " +
      "FROM wp2 WHERE prior_split IS NOT NULL GROUP BY group_id) " +
      "SELECT doc_id, group_id, prior_split AS split, 'frozen' AS assignment " +
      "FROM wp2 WHERE prior_split IS NOT NULL " +
      "UNION ALL SELECT nd.doc_id, nd.group_id, gs2.inherit_split AS split, " +
      "'inherited' AS assignment " +
      "FROM (SELECT doc_id, group_id FROM wp2 WHERE prior_split IS NULL) nd " +
      "JOIN gs2 ON gs2.group_id = nd.group_id " +
      s"UNION ALL SELECT nd.doc_id, nd.group_id, ${coinCase("nd.group_id")} AS split, " +
      "'coined' AS assignment " +
      "FROM (SELECT doc_id, group_id FROM wp2 WHERE prior_split IS NULL) nd " +
      "LEFT JOIN gs2 ON gs2.group_id = nd.group_id WHERE gs2.group_id IS NULL " +
      "ORDER BY doc_id"
    },
    "x136_cluster_coherence" ->
      // x17's recursive labels + the x15 pair set; per-cluster pair
      // evidence: count, weakest link, micro-quantized exact mean (one
      // IEEE division), and integer coverage vs all-pairs possible
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "pj AS (SELECT ca.cluster_id, p.jaccard FROM pairs p " +
       "JOIN cl ca ON ca.doc_id = p.id_a JOIN cl cb2 ON cb2.doc_id = p.id_b " +
       "WHERE ca.cluster_id = cb2.cluster_id), " +
       "pa AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
       "min(jaccard) AS min_jaccard, " +
       "CAST(sum(CAST(floor(jaccard * 1e6) AS BIGINT)) AS BIGINT) AS jq FROM pj GROUP BY 1), " +
       "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM cl GROUP BY 1) " +
       "SELECT s.cluster_id, s.n_members, p.n_pairs, p.min_jaccard, " +
       "CAST(p.jq AS DOUBLE) / p.n_pairs AS mean_jaccard_micro, " +
       "p.n_pairs * 1000000 // (s.n_members * (s.n_members - 1) // 2) AS coverage_ppm " +
       "FROM sz s JOIN pa p USING (cluster_id) ORDER BY s.cluster_id"),
    "x137_guarded_dedup" ->
      // x136's evidence flag folded into x30's survivorship: chained
      // clusters (weak coverage or weak link) keep every member
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "pj AS (SELECT ca.cluster_id, p.jaccard FROM pairs p " +
       "JOIN cl ca ON ca.doc_id = p.id_a JOIN cl cb2 ON cb2.doc_id = p.id_b " +
       "WHERE ca.cluster_id = cb2.cluster_id), " +
       "pa AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
       "min(jaccard) AS min_jaccard FROM pj GROUP BY 1), " +
       "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM cl GROUP BY 1), " +
       "ch AS (SELECT s.cluster_id, " +
       "(p.n_pairs * 1000000 // (s.n_members * (s.n_members - 1) // 2) < 600000) " +
       "OR (p.min_jaccard < 0.6) AS chained " +
       "FROM sz s JOIN pa p USING (cluster_id)) " +
       "SELECT d.doc_id, CASE WHEN cl.cluster_id IS NULL THEN 'singleton' " +
       "WHEN ch.chained THEN 'kept_guarded' " +
       "WHEN d.doc_id = cl.cluster_id THEN 'keeper' ELSE 'dropped' END AS status " +
       "FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id " +
       "LEFT JOIN ch ON ch.cluster_id = cl.cluster_id ORDER BY d.doc_id"),
    "x134_ngram_novelty" ->
      // distinct 3-shingles per doc (the sh construction), global first
      // occurrence by min doc_id, integer-floor novelty share
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "shn AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
       "ds AS (SELECT doc_id, unnest(list_distinct(s)) AS sg FROM shn), " +
       "fst AS (SELECT sg, min(doc_id) AS first_doc FROM ds GROUP BY 1) " +
       "SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shingles, " +
       "CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
       "(CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000000) " +
       "// CAST(count(*) AS BIGINT) AS novelty_ppm " +
       "FROM ds d JOIN fst f ON f.sg = d.sg GROUP BY 1 ORDER BY 1"),
    "x138_lm_coverage" ->
      // the frozen even-half model's bigram set, LEFT-joined by the
      // incoming half's bigram stream, per-source integer coverage
      ("WITH big AS (SELECT b.doc_id, b.source, t[i] || ' ' || t[i+1] AS bigram " +
       "FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents) b, " +
       "UNNEST(range(1, len(t))) AS u(i)), " +
       "km AS (SELECT DISTINCT bigram FROM big WHERE doc_id % 2 = 0) " +
       "SELECT g.source, CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_docs, " +
       "CAST(count(*) AS BIGINT) AS n_bigrams, " +
       "CAST(sum(CASE WHEN km.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known, " +
       "CAST(sum(CASE WHEN km.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000 " +
       "// CAST(count(*) AS BIGINT) AS coverage_ppm " +
       "FROM big g LEFT JOIN km ON km.bigram = g.bigram " +
       "WHERE g.doc_id % 2 = 1 GROUP BY g.source ORDER BY g.source"),
    "x92_source_budget" ->
      // x32's sqrt-scaled weights allocate the 100k global budget; each
      // source fills highest-quality-first (greedy prefix by running
      // token sum); `//` mirrors Spark's `div`
      (s"WITH q AS ($x8QualitySql), " +
       "d AS (SELECT q.doc_id, q.n_tokens, q.quality_score, doc.source FROM q " +
       "JOIN documents doc ON doc.doc_id = q.doc_id), " +
       "per AS (SELECT source, count(*) AS n_docs_total, " +
       "CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total, " +
       "CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS sqrt_scaled FROM d GROUP BY source), " +
       "tot AS (SELECT CAST(sum(sqrt_scaled) AS BIGINT) AS scale_total FROM per), " +
       "b AS (SELECT source, n_docs_total, n_tokens_total, " +
       "sqrt_scaled * 100000 // scale_total AS budget_tokens FROM per, tot), " +
       "r AS (SELECT d.source, d.n_tokens, sum(d.n_tokens) OVER (PARTITION BY d.source " +
       "ORDER BY d.quality_score DESC, d.doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d), " +
       "k AS (SELECT r.source, count(*) AS n_docs_kept, " +
       "CAST(sum(r.n_tokens) AS BIGINT) AS n_tokens_kept FROM r " +
       "JOIN b ON b.source = r.source WHERE r.cum <= b.budget_tokens GROUP BY r.source) " +
       "SELECT b.source, CAST(b.budget_tokens AS BIGINT) AS budget_tokens, " +
       "COALESCE(k.n_docs_kept, 0) AS n_docs_kept, " +
       "COALESCE(k.n_tokens_kept, 0) AS n_tokens_kept, " +
       "b.n_docs_total, b.n_tokens_total " +
       "FROM b LEFT JOIN k ON k.source = b.source ORDER BY b.source"),
    "x90_rendezvous_shards" ->
      // per-doc argmax over the 8 candidate md5-60-bit scores; ties broken
      // toward the higher shard id in BOTH engines (Spark struct max picks
      // the larger second field on equal scores; ORDER BY score DESC,
      // shard DESC mirrors it) — unreachable in practice with 60-bit scores
      ("WITH s AS (SELECT doc_id, u.s AS shard, " +
       "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#', " +
       "CAST(u.s AS VARCHAR))), 1, 15)) AS BIGINT) AS score " +
       "FROM documents, UNNEST(range(0, 8)) u(s)), " +
       "r AS (SELECT doc_id, shard, row_number() OVER (PARTITION BY doc_id " +
       "ORDER BY score DESC, shard DESC) AS rn FROM s) " +
       "SELECT doc_id, CAST(shard AS INT) AS shard FROM r WHERE rn = 1 ORDER BY doc_id"),
    "x89_split_leakage" ->
      // x75's split derivation (component groups → md5 coin) feeding
      // x69's distinct-shingle overlap matrix, keyed on split — the
      // held-out contamination measurement
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "g AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS group_id " +
       "FROM documents d LEFT JOIN cl ON cl.node = d.doc_id), " +
       "sp AS (SELECT doc_id, CASE WHEN coin < 204 THEN 'train' " +
       "WHEN coin < 230 THEN 'val' ELSE 'test' END AS split FROM (SELECT doc_id, " +
       "CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)), 1, 2)) AS INT) AS coin FROM g)), " +
       "tok AS (SELECT sp.split, string_split(d.text, ' ') AS t " +
       "FROM documents d JOIN sp ON sp.doc_id = d.doc_id), " +
       "sgl AS (SELECT split, unnest(CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END) AS s FROM tok), " +
       "shd AS (SELECT DISTINCT split, md5(s) AS h FROM sgl), " +
       "ps AS (SELECT split, count(*) AS n_distinct FROM shd GROUP BY split), " +
       "ov AS (SELECT a.split AS split_a, b.split AS split_b, " +
       "CAST(count(*) AS BIGINT) AS n_shared FROM shd a JOIN shd b ON a.h = b.h " +
       "AND a.split < b.split GROUP BY 1, 2) " +
       "SELECT split_a, split_b, n_shared, pa.n_distinct AS n_a, pb.n_distinct AS n_b " +
       "FROM ov JOIN ps pa ON pa.split = ov.split_a " +
       "JOIN ps pb ON pb.split = ov.split_b ORDER BY split_a, split_b"),
    "x86_triangle_stats" ->
      // triangle recount with plain id-ordering (orientation-independent):
      // wedge at the minimal id (b > a, c > b), closed by the (b, c) edge;
      // per-node membership via a 3-way UNION ALL; coeff = 2T/(d(d-1))
      (s"WITH pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a, id_b FROM pairs), " +
       "deg AS (SELECT v, count(*) AS degree FROM (SELECT id_a AS v FROM e " +
       "UNION ALL SELECT id_b FROM e) GROUP BY v), " +
       "tri AS (SELECT x.id_a AS a, x.id_b AS b, y.id_b AS c FROM e x " +
       "JOIN e y ON y.id_a = x.id_a AND y.id_b > x.id_b " +
       "JOIN e z ON z.id_a = x.id_b AND z.id_b = y.id_b), " +
       "tn AS (SELECT v, count(*) AS n_triangles FROM (SELECT a AS v FROM tri " +
       "UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY v) " +
       "SELECT deg.v AS doc_id, deg.degree, " +
       "COALESCE(tn.n_triangles, 0) AS n_triangles, " +
       "CASE WHEN deg.degree >= 2 THEN 2.0 * COALESCE(tn.n_triangles, 0) / " +
       "(deg.degree * (deg.degree - 1)) ELSE 0.0 END AS clustering_coeff " +
       "FROM deg LEFT JOIN tn ON tn.v = deg.v ORDER BY doc_id"),
    "x91_vocab_coverage" ->
      // frequency-ranked running coverage over the vocab table; cut = first
      // rank clearing 99% of occurrences; `//` mirrors Spark's `div`
      ("WITH f AS (SELECT t AS token, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS t " +
       "FROM documents) GROUP BY t), " +
       "r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank, " +
       "sum(n) OVER (ORDER BY n DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM f), " +
       "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens, count(*) AS distinct_tokens FROM f), " +
       "cut AS (SELECT r.rank AS vocab_size, r.cum, tot.total_tokens, tot.distinct_tokens " +
       "FROM r, tot WHERE r.cum * 1000000 >= 990000 * tot.total_tokens ORDER BY r.rank LIMIT 1), " +
       "a2 AS (SELECT r.cum AS cum2x FROM r, cut " +
       "WHERE r.rank = least(cut.vocab_size * 2, cut.distinct_tokens)) " +
       "SELECT CAST(cut.vocab_size AS BIGINT) AS vocab_size, " +
       "CAST(cut.cum * 1000000 // cut.total_tokens AS BIGINT) AS coverage_ppm, " +
       "CAST(a2.cum2x * 1000000 // cut.total_tokens AS BIGINT) AS coverage_ppm_2x, " +
       "cut.total_tokens, CAST(cut.distinct_tokens AS BIGINT) AS distinct_tokens " +
       "FROM cut, a2"),
    "x87_distinct_ngrams" ->
      ("WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents), " +
       "u AS (SELECT source, unnest(t) AS g FROM tok), " +
       "us AS (SELECT source, count(*) AS n_tokens, " +
       "count(DISTINCT g) AS n_distinct_tokens FROM u GROUP BY source), " +
       "sgl AS (SELECT source, unnest(CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END) AS g FROM tok), " +
       "ss AS (SELECT source, count(*) AS n_shingles, " +
       "count(DISTINCT g) AS n_distinct_shingles FROM sgl GROUP BY source) " +
       "SELECT us.source, n_tokens, n_distinct_tokens, " +
       "CAST(n_distinct_tokens AS DOUBLE)/n_tokens AS distinct1_ratio, " +
       "n_shingles, n_distinct_shingles, " +
       "CAST(n_distinct_shingles AS DOUBLE)/n_shingles AS distinct3_ratio " +
       "FROM us JOIN ss ON ss.source = us.source ORDER BY us.source"),
    "x75_leak_safe_split" ->
      // group = x17 component label (min doc_id) for clustered docs, own
      // id for singletons; split coin = first md5 byte of the GROUP id,
      // cut at 204/230 (~80/10/10) — whole clusters land on one side
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "g AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS group_id " +
       "FROM documents d LEFT JOIN cl ON cl.node = d.doc_id), " +
       "c AS (SELECT doc_id, group_id, " +
       "CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)), 1, 2)) AS INT) AS coin FROM g) " +
       "SELECT doc_id, group_id, CASE WHEN coin < 204 THEN 'train' " +
       "WHEN coin < 230 THEN 'val' ELSE 'test' END AS split " +
       "FROM c ORDER BY doc_id"),
    "x82_frozen_split" -> x82FrozenSql,
    "x139_split_balance" ->
      // the x82 frozen-split oracle as a CTE, collapsed to per-split
      // counts, integer-ppm shares and absolute deviation from the
      // 80/10/10 coin targets
      // targets are the exact ppm floors of the coin measure: train =
      // 204/256 = 796875, val = test = ⌊26·10⁶/256⌋ = 101562
      (s"WITH fs AS ($x82FrozenSql), " +
       "agg AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM fs GROUP BY split), " +
       "t AS (SELECT split, n_docs, " +
       "n_docs * 1000000 // CAST(sum(n_docs) OVER () AS BIGINT) AS share_ppm, " +
       "CAST(CASE split WHEN 'train' THEN 796875 ELSE 101562 END AS BIGINT) AS target_ppm " +
       "FROM agg) " +
       "SELECT split, n_docs, share_ppm, target_ppm, " +
       "abs(share_ppm - target_ppm) AS deviation_ppm FROM t ORDER BY split"),
    "x66_dedup_stats" ->
      // cluster-size histogram over the x17 components + the singleton row
      // (total − clustered), so Σ n_docs = corpus and Σ n_removed = x30's
      // drop count
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "sz AS (SELECT cluster_id, CAST(count(*) AS INT) AS cluster_size FROM cl GROUP BY 1), " +
       "h AS (SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY 1), " +
       "tot AS (SELECT count(*) AS total FROM documents), " +
       "inc AS (SELECT coalesce(sum(cluster_size), 0) AS in_clusters FROM sz), " +
       "allh AS (SELECT * FROM h UNION ALL " +
       "SELECT CAST(1 AS INT), CAST(total - in_clusters AS BIGINT) FROM tot, inc) " +
       "SELECT cluster_size, CAST(n_clusters AS BIGINT) AS n_clusters, " +
       "CAST(cluster_size * n_clusters AS BIGINT) AS n_docs, " +
       "CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removed " +
       "FROM allh ORDER BY cluster_size"),
    "x69_source_overlap" ->
      // distinct (source, shingle-md5) set, self-joined on the hash;
      // per-source distinct totals joined back for rate context
      ("WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents), " +
       "sgl AS (SELECT source, unnest(CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END) AS s FROM tok), " +
       "sh AS (SELECT DISTINCT source, md5(s) AS h FROM sgl), " +
       "ps AS (SELECT source, count(*) AS n_distinct FROM sh GROUP BY source), " +
       "ov AS (SELECT a.source AS source_a, b.source AS source_b, " +
       "CAST(count(*) AS BIGINT) AS n_shared FROM sh a JOIN sh b ON a.h = b.h " +
       "AND a.source < b.source GROUP BY 1, 2) " +
       "SELECT source_a, source_b, n_shared, " +
       "pa.n_distinct AS n_a, pb.n_distinct AS n_b FROM ov " +
       "JOIN ps pa ON pa.source = ov.source_a " +
       "JOIN ps pb ON pb.source = ov.source_b ORDER BY source_a, source_b"),
    "x68_snapshot_diff" ->
      // the gate's deterministic snapshot derivation: old = doc_id%10<9,
      // new = doc_id%10>0 with docs at doc_id%7==0 edited (' v2' suffix);
      // emit ONLY the delta (added / removed / changed)
      ("WITH oldv AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 < 9), " +
       "newv AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' " +
       "ELSE text END) AS h FROM documents WHERE doc_id % 10 > 0) " +
       "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
       "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' " +
       "ELSE 'changed' END AS change_type " +
       "FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id " +
       "WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h ORDER BY doc_id"),
    "x70_oov_rate" ->
      // corpus top-50 vocabulary (count desc, token asc — x16's order),
      // per-doc OOV occurrence share as exact integer ppm
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
       "vocab AS (SELECT token FROM (SELECT token, count(*) AS n FROM tok GROUP BY token) " +
       "ORDER BY n DESC, token LIMIT 50), " +
       "v AS (SELECT list(token) AS vl FROM vocab), " +
       "d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) " +
       "SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(toks, t -> NOT list_contains(v.vl, t))) AS BIGINT) AS n_oov, " +
       "CAST(len(list_filter(toks, t -> NOT list_contains(v.vl, t))) * 1000000 // len(toks) AS BIGINT) AS oov_ppm " +
       "FROM d, v ORDER BY doc_id"),
    // the deduped corpus: drop every node whose component min-label is not
    // itself (keeper = min doc_id per connected component, as in x17)
    "x30_dedup_apply" ->
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "losers AS (SELECT node FROM (SELECT node, min(lab) AS cluster_id FROM reach " +
       "GROUP BY node) WHERE cluster_id <> node) " +
       "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers) " +
       "ORDER BY doc_id"),
    // keeper = highest-quality member per near-dup cluster (ties →
    // smallest doc_id); x17's components ⋈ x8's quality
    "x61_best_of_cluster" ->
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       s"q AS ($x8QualitySql), " +
       "j AS (SELECT cl.cluster_id, cl.doc_id, q.quality_score FROM cl " +
       "JOIN q ON q.doc_id = cl.doc_id), " +
       "sz AS (SELECT cluster_id, count(*) AS cluster_size FROM j GROUP BY 1) " +
       "SELECT j.cluster_id, j.doc_id AS keeper_id, j.quality_score AS keeper_quality, " +
       "sz.cluster_size FROM j JOIN sz USING (cluster_id) " +
       "QUALIFY row_number() OVER (PARTITION BY j.cluster_id " +
       "ORDER BY j.quality_score DESC, j.doc_id) = 1 ORDER BY cluster_id"),
    "x16_token_freq" ->
      ("SELECT token, count(*) AS n FROM " +
       "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
       "GROUP BY token ORDER BY n DESC, token LIMIT 20"),
    "x18_hash_split" ->
      ("SELECT doc_id, CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,2)) AS INT) < 205 " +
       "THEN 'train' ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    "x22_top_terms" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
       "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2), " +
       "df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1), " +
       "r AS (SELECT tf.doc_id, tf.token, tf.tf, df.df, (tf.tf * 1000000) // df.df AS score, " +
       "CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY (tf.tf * 1000000) // df.df DESC, tf.token) AS INT) AS rank " +
       "FROM tf JOIN df USING (token)) " +
       "SELECT doc_id, rank, token, tf, df FROM r WHERE rank <= 3 ORDER BY doc_id, rank"),
    "x23_inverted_index" ->
      ("SELECT token, count(DISTINCT doc_id) AS df, " +
       "array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings " +
       "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) " +
       "GROUP BY token HAVING count(DISTINCT doc_id) >= 50 ORDER BY token"),
    "x19_sequence_packing" ->
      ("WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,1)) AS INT) AS bucket FROM documents), " +
       "c AS (SELECT doc_id, n_tokens, bucket, sum(n_tokens) OVER " +
       "(PARTITION BY bucket ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d) " +
       "SELECT doc_id, n_tokens, CAST(bucket AS BIGINT)*1099511627776 + CAST(floor((cum - n_tokens)/512.0) AS BIGINT) AS pack_id " +
       "FROM c ORDER BY doc_id"),
    "x20_chunking" ->
      ("SELECT doc_id, CAST(i AS INT) AS chunk_idx, substr(text, CAST(i AS INT)*150 + 1, 200) AS chunk_text " +
       "FROM (SELECT doc_id, text, unnest(range((length(text)-1)//150 + 1)) AS i FROM documents) " +
       "ORDER BY doc_id, chunk_idx"),
    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, " +
       "round(sum(l_extendedprice),2) AS sum_base_price, " +
       "round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price, " +
       "round(avg(l_quantity),2) AS avg_qty, round(avg(l_extendedprice),2) AS avg_price, " +
       "count(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus " +
       "ORDER BY l_returnflag, l_linestatus"),
    "a2_anomaly_value_counts" ->
      (s"$taggedCte SELECT rejection_reason, count(*) AS n FROM t WHERE rejection_reason IS NOT NULL " +
       "GROUP BY 1 ORDER BY n DESC, rejection_reason"),
    "a5_trips_per_day" ->
      ("SELECT CAST(l_shipdate AS DATE) AS pickup_date, count(*) AS n FROM lineitem " +
       "GROUP BY 1 ORDER BY pickup_date"),
    "a6_sum_by_category" -> SqlText.sumByCategorySql,
    // SQL-text entry gates (r14): sql1/sql2 reuse the a6/a9 oracle text
    // VERBATIM on the Spark side too (one string, both engines); sql3's
    // Spark side calls the registered graft_dot from SQL, oracle via
    // DuckDB list arithmetic over the same exact integers
    "sql1_sum_by_category_text" -> SqlText.sumByCategorySql,
    "sql2_histogram_text" -> SqlText.histogramSql,
    "sql3_dot_pairs_text" -> SqlText.dotPairsOracleSql,
    // sql4: graft_minhash from SQL text — md5-value columns hash-matched,
    // set-reduce invariants as literal-TRUE booleans (XXH64 mixing is not
    // DuckDB-expressible; see SqlText.minhashTextSparkSql)
    "sql4_minhash_text" -> SqlText.minhashTextOracleSql,
    // sql5: graft_simhash from SQL text over md5 token hashes — the low
    // 16 bits ARE x4b's witness construction, oracle CTE verbatim
    "sql5_simhash_text" ->
      (s"WITH $simhash16Cte SELECT doc_id, simhash16 FROM sh16 ORDER BY doc_id"),
    "a7_share_of_total" ->
      (s"WITH g AS (SELECT ${periodCase("hour(ts)")} AS time_period, sum(value) AS s FROM events GROUP BY 1) " +
       "SELECT time_period, round(s,2) AS total_value, round(s*100/sum(s) OVER (),2) AS pct " +
       "FROM g ORDER BY time_period"),
    "a8_monthly_revenue" ->
      ("SELECT CAST(year(l_shipdate) AS INT) AS y, CAST(quarter(l_shipdate) AS INT) AS q, " +
       "CAST(month(l_shipdate) AS INT) AS m, round(sum(l_extendedprice*(1-l_discount)),4) AS revenue " +
       "FROM lineitem GROUP BY 1, 2, 3 ORDER BY y, q, m"),
    "a9_histogram" -> SqlText.histogramSql,
    "a10_median_kpi" ->
      ("SELECT round(median(l_quantity),2) AS median_qty, round(median(l_extendedprice),2) AS median_price " +
       "FROM lineitem"),
    "a10d_median_tol" ->
      // the oracle asserts the tolerance booleans as literal TRUE: a Spark
      // sketch estimate drifting past 1% of exact flips the column to
      // false and hash-fails the gate
      ("SELECT round(median(l_quantity),2) AS median_qty, " +
       "round(median(l_extendedprice),2) AS median_price, " +
       "TRUE AS qty_within_tol, TRUE AS price_within_tol FROM lineitem"),
    "a21b_sketch_tol" ->
      // a10d's literal-TRUE pattern per group: exact distincts + median
      // hash-matched, sketch estimates asserted within tolerance (HLL++
      // 5% = its default rsd, percentile 1%)
      ("SELECT l_returnflag, " +
       "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_suppliers, " +
       "CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts, " +
       "round(median(l_extendedprice),2) AS median_price, " +
       "TRUE AS suppliers_within_tol, TRUE AS parts_within_tol, " +
       "TRUE AS price_within_tol FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),
    "a11_daily_avg_revenue" ->
      ("WITH d AS (SELECT CAST(l_shipdate AS DATE) AS pickup_date, sum(l_extendedprice*(1-l_discount)) AS s " +
       "FROM lineitem GROUP BY 1) SELECT round(avg(s),2) AS daily_avg_revenue FROM d"),
    "a12_ratio_kpis" ->
      ("SELECT round(sum(l_extendedprice*(1-l_discount))/sum(l_quantity),2) AS revenue_per_unit, " +
       "round(avg(l_discount)*100,2) AS avg_discount_pct, " +
       "round(CAST(sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS BIGINT)*100.0/count(*),2) AS return_rate_pct " +
       "FROM lineitem"),
    "a13_sum_by_location" ->
      ("SELECT l_partkey AS location_id, round(sum(l_extendedprice),2) AS total_amount FROM lineitem " +
       "GROUP BY 1 ORDER BY location_id"),
    "a14_quality_report" ->
      (s"$taggedCte SELECT count(*) AS total_processed, " +
       "CAST(sum(CASE WHEN rejection_reason IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count, " +
       "round(CAST(sum(CASE WHEN rejection_reason IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)*100.0/count(*),2) AS anomaly_rate_pct, " +
       "round(avg(CASE WHEN rejection_reason IS NULL THEN l_quantity END),2) AS avg_trip_duration, " +
       "round(avg(CASE WHEN rejection_reason IS NULL THEN unit_price END),2) AS avg_speed, " +
       "round(sum(CASE WHEN rejection_reason IS NULL THEN l_extendedprice END),2) AS total_fare_amount FROM t"),
    "d1_dedup_subset" ->
      ("WITH r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey " +
       "ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem) " +
       "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM r WHERE rn = 1 " +
       "ORDER BY l_orderkey, l_linenumber"),
    "d2_distinct_dims" ->
      ("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus"),
    "d3_union_locations" ->
      ("SELECT DISTINCT location_id FROM (SELECT l_partkey AS location_id FROM lineitem " +
       "UNION ALL SELECT l_suppkey FROM lineitem) ORDER BY location_id"),
    "d5_surrogate_keys" ->
      (s"WITH $dimLocCte SELECT location_id, location_pk FROM dloc ORDER BY location_id"),
    "w1_dim_time" ->
      (s"WITH d AS (SELECT DISTINCT l_shipdate AS datetime FROM lineitem) " +
       "SELECT epoch_us(datetime) AS time_pk, datetime, " +
       s"CAST(hour(datetime) AS INT) AS hour, dayname(datetime) AS day_of_week, " +
       s"${periodCase("hour(datetime)")} AS time_period FROM d ORDER BY time_pk"),
    // zone mirror of StarSchema.zoneLookup: ids ≡ 6 (mod 7) absent → the
    // LEFT JOIN default 'Inconnu' (load.py:31) stays exercised
    "w2_dim_location" ->
      (s"WITH $dimLocCte, zones AS (SELECT r AS location_id, " +
       "['Manhattan','Brooklyn','Queens','Bronx','Staten Island','EWR'][CAST(r % 7 AS INT)+1] " +
       "AS borough FROM range(0, 200000) t(r) WHERE r % 7 <> 6) " +
       "SELECT location_pk, location_id, coalesce(z.borough, 'Inconnu') AS borough " +
       "FROM dloc LEFT JOIN zones z USING (location_id) ORDER BY location_pk"),
    "w3_dim_payment" ->
      (s"WITH $dimPayCte SELECT payment_pk, payment_type FROM dpay ORDER BY payment_pk"),
    "w4_fact_trips" ->
      (s"WITH $dimTimeCte, $dimLocCte, $dimPayCte " +
       "SELECT CAST(l.l_orderkey*10 + l.l_linenumber AS BIGINT) AS trip_id, t.time_pk, " +
       "pu.location_pk AS pickup_loc_pk, ddo.location_pk AS dropoff_loc_pk, p.payment_pk, " +
       "CAST(l.l_quantity AS SMALLINT) AS passenger_count, l.l_extendedprice AS fare_amount, " +
       "l.l_extendedprice*(1-l.l_discount) AS total_amount, " +
       "l.l_extendedprice/l.l_quantity AS avg_speed " +
       "FROM lineitem l JOIN dtime t ON l.l_shipdate = t.datetime " +
       "JOIN dloc pu ON l.l_partkey = pu.location_id " +
       "JOIN dloc ddo ON l.l_suppkey = ddo.location_id " +
       s"JOIN dpay p ON ($paymentCase) = p.payment_type " +
       "WHERE l.l_quantity > 0 AND l.l_extendedprice > 0 ORDER BY trip_id"),
    "w5_upsert" ->
      ("WITH e AS (SELECT o_orderkey, 'old' AS src, o_totalprice FROM orders WHERE o_orderkey % 3 = 0), " +
       "i AS (SELECT o_orderkey, 'new' AS src, o_totalprice FROM orders) " +
       "SELECT * FROM e UNION ALL SELECT * FROM i WHERE o_orderkey NOT IN (SELECT o_orderkey FROM e) " +
       "ORDER BY o_orderkey"),
    "w7_upsert_merge" ->
      ("WITH e AS (SELECT o_orderkey, 'old' AS src, o_totalprice FROM orders WHERE o_orderkey % 3 = 0), " +
       "i AS (SELECT o_orderkey, 'new' AS src, o_totalprice FROM orders WHERE o_orderkey % 2 = 0) " +
       "SELECT * FROM i UNION ALL SELECT * FROM e WHERE o_orderkey NOT IN (SELECT o_orderkey FROM i) " +
       "ORDER BY o_orderkey"),
    "w8_scd2" ->
      ("WITH ev AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, min(o_orderpriority) AS priority " +
       "FROM orders GROUP BY 1, 2) " +
       "SELECT o_custkey, priority, d AS valid_from, " +
       "lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS valid_to, " +
       "CAST(CASE WHEN lead(d) OVER (PARTITION BY o_custkey ORDER BY d) IS NULL THEN 1 ELSE 0 END AS INT) AS is_current " +
       "FROM ev ORDER BY o_custkey, valid_from"),
    "w9_bucketed_join" ->
      // layout-independent contract of the bucketed fact join: same rows
      // as the plain join (quantities summed as exact longs)
      ("SELECT l_orderkey, count(*) AS n_lines, " +
       "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
       "max(o_totalprice) AS o_totalprice " +
       "FROM lineitem JOIN orders ON o_orderkey = l_orderkey " +
       "GROUP BY 1 ORDER BY 1"),
    "win_trips_per_day" ->
      ("SELECT l_orderkey, l_linenumber, count(*) OVER (PARTITION BY CAST(l_shipdate AS DATE)) AS trips_same_day " +
       "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "a15_cube_revenue" ->
      ("SELECT CAST(year(l_shipdate) AS INT) AS y, l_returnflag, " +
       "sum(CAST(round((l_extendedprice*(1-l_discount))*10000) AS BIGINT))/10000.0 AS revenue, " +
       "count(*) AS n FROM lineitem " +
       "GROUP BY CUBE (1, 2) ORDER BY y NULLS FIRST, l_returnflag NULLS FIRST"),
    "a16_fact_dashboard" ->
      (s"WITH $dimTimeCte, $dimLocCte, $dimPayCte " +
       s"SELECT p.payment_type, round(sum(l.l_extendedprice),2) AS total_amount, count(*) AS n_trips " +
       "FROM lineitem l JOIN dtime t ON l.l_shipdate = t.datetime " +
       "JOIN dloc pu ON l.l_partkey = pu.location_id " +
       "JOIN dloc ddo ON l.l_suppkey = ddo.location_id " +
       s"JOIN dpay p ON ($paymentCase) = p.payment_type " +
       "WHERE l.l_quantity > 0 AND l.l_extendedprice > 0 " +
       "GROUP BY p.payment_type ORDER BY p.payment_type"),
    "e1_hourly_events" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, " +
       "round(sum(value),2) AS total_value FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),
    "e1b_stream_hourly" ->
      // IDENTICAL oracle to e1 — the gate's point is that the STREAMING
      // engine (file-source readStream, complete-mode state store) produces
      // the same hashed rows the batch planner does
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, " +
       "round(sum(value),2) AS total_value FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),
    "e7_stream_sliding" ->
      // sliding window(2h, 1h): every event belongs to the window starting
      // at trunc(ts) AND the one starting an hour earlier — a 2-row
      // UNION ALL per event, then the e1 aggregate; window_end = start+2h
      ("WITH w AS (SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM events " +
       "UNION ALL SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events) " +
       "SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end, event_type, " +
       "count(*) AS n, round(sum(value), 2) AS total_value " +
       "FROM w GROUP BY 1, 3 ORDER BY window_start, event_type"),
    "e8_stream_dedup" ->
      // the staged stream redelivers the whole table twice; state-store
      // dedup on event_id must reduce it back to exactly the events table
      ("SELECT event_id, ts, user_id, event_type, value FROM events ORDER BY event_id"),
    "e9_stream_enrich" ->
      // the stream-static broadcast-join enrichment as a batch CASE map
      ("SELECT event_id, event_type, CASE event_type " +
       "WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement' " +
       "WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth' " +
       "ELSE 'other' END AS category, value FROM events ORDER BY event_id"),
    "e10_stream_sessions" ->
      // Append-mode flatMapGroupsWithState emission contract: a session is
      // in the sink iff closed by data (not the user's last session) or by
      // timeout (end_ms + gap_ms < final watermark = max ts_ms - delay_ms,
      // strict). gap = delay = 1800 s; ms via integer µs division.
      ("WITH g AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "s AS (SELECT user_id, ts, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g), " +
       "sess AS (SELECT user_id, session_id, count(*) AS n_events, " +
       "epoch_us(min(ts)) AS session_start_us, epoch_us(max(ts)) AS session_end_us " +
       "FROM s GROUP BY user_id, session_id), " +
       "lasts AS (SELECT user_id, max(session_id) AS last_sid FROM sess GROUP BY user_id), " +
       "mx AS (SELECT epoch_us(max(ts)) AS mx_us FROM events) " +
       "SELECT sess.user_id, sess.session_start_us, sess.session_end_us, sess.n_events " +
       "FROM sess JOIN lasts ON lasts.user_id = sess.user_id, mx " +
       "WHERE sess.session_id < lasts.last_sid " +
       "OR (sess.session_end_us // 1000 + 1800000) < (mx.mx_us // 1000 - 1800000) " +
       "ORDER BY sess.user_id, sess.session_start_us"),
    "e10b_session_window" ->
      // native session_window twin (SessionWindowStateStoreSaveExec): same
      // session assembly, but Append mode emits ONLY watermark-finalized
      // windows — no closed-by-data disjunct (tail sessions a later event
      // proves closed still wait in state for the watermark)
      ("WITH g AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "s AS (SELECT user_id, ts, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g), " +
       "sess AS (SELECT user_id, session_id, count(*) AS n_events, " +
       "epoch_us(min(ts)) AS session_start_us, epoch_us(max(ts)) AS session_end_us " +
       "FROM s GROUP BY user_id, session_id), " +
       "mx AS (SELECT epoch_us(max(ts)) AS mx_us FROM events) " +
       "SELECT sess.user_id, sess.session_start_us, sess.session_end_us, sess.n_events " +
       "FROM sess, mx " +
       "WHERE (sess.session_end_us // 1000 + 1800000) < (mx.mx_us // 1000 - 1800000) " +
       "ORDER BY sess.user_id, sess.session_start_us"),
    "e6_trending_topk" ->
      ("WITH h AS (SELECT date_trunc('hour', ts) AS window_start, event_type, " +
       "count(*) AS n FROM events GROUP BY 1, 2) " +
       "SELECT window_start, CAST(row_number() OVER (PARTITION BY window_start " +
       "ORDER BY n DESC, event_type) AS INT) AS rank, event_type, n FROM h " +
       "QUALIFY rank <= 3 ORDER BY window_start, rank"),
    "e2_sessionize" ->
      ("WITH g AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "s AS (SELECT user_id, event_id, ts, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g) " +
       "SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end " +
       "FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"),
    "e5_click_view_join" -> clickViewSql,
    // e11 runs the SAME interval join on the STREAMING planner
    // (StreamingSymmetricHashJoinExec across a real micro-batch
    // boundary) — one shared oracle, so the two gates cannot drift
    "e11_stream_join" -> clickViewSql,
    // e12's Append-mode LEFT-OUTER emission contract: matched rows
    // (eager, = the inner join) plus NULL-padded unmatched clicks whose
    // state PROVABLY expired — click_ts < W, W = min(max click_ts − 1h,
    // max view_ts − 2h), the final min-policy global watermark; strict,
    // matching StreamingJoinHelper's left state-value watermark (W − 0
    // from `view_ts <= click_ts`). Tail clicks at/past W stay unsent.
    "e12_stream_outer_join" ->
      ("WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts " +
       "FROM events WHERE event_type = 'click'), " +
       "v AS (SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts " +
       "FROM events WHERE event_type = 'view'), " +
       "wm AS (SELECT least(" +
       "(SELECT max(epoch_us(ts)) - 3600000000 FROM events WHERE event_type = 'click'), " +
       "(SELECT max(epoch_us(ts)) - 7200000000 FROM events WHERE event_type = 'view')) AS w), " +
       "m AS (SELECT c.click_id, c.user_id, c.click_ts, v.view_id, v.view_ts " +
       "FROM c JOIN v ON c.user_id = v.v_user AND v.view_ts <= c.click_ts " +
       "AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR) " +
       "SELECT click_id, user_id, click_ts, view_id, view_ts FROM m " +
       "UNION ALL SELECT c.click_id, c.user_id, c.click_ts, " +
       "CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS TIMESTAMP) AS view_ts " +
       "FROM c, wm WHERE c.click_id NOT IN (SELECT click_id FROM m) " +
       "AND epoch_us(c.click_ts) < wm.w " +
       "ORDER BY click_id, view_id"),
    "e13_stream_full_outer" ->
      // e12's contract plus the right side: an unmatched VIEW null-pads
      // once provably unmatchable — every future click has ts > W and a
      // view matches clicks up to view_ts + 1h, so eviction needs
      // view_ts + 1h < W (margin 1h from `view_ts >= click_ts - 1h`,
      // vs margin 0 for clicks from `view_ts <= click_ts`)
      ("WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts " +
       "FROM events WHERE event_type = 'click'), " +
       "v AS (SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts " +
       "FROM events WHERE event_type = 'view'), " +
       "wm AS (SELECT least(" +
       "(SELECT max(epoch_us(ts)) - 3600000000 FROM events WHERE event_type = 'click'), " +
       "(SELECT max(epoch_us(ts)) - 7200000000 FROM events WHERE event_type = 'view')) AS w), " +
       "m AS (SELECT c.click_id, c.user_id, c.click_ts, v.view_id, v.view_ts " +
       "FROM c JOIN v ON c.user_id = v.v_user AND v.view_ts <= c.click_ts " +
       "AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR) " +
       "SELECT click_id, user_id, click_ts, view_id, view_ts FROM m " +
       "UNION ALL SELECT c.click_id, c.user_id, c.click_ts, " +
       "CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS TIMESTAMP) AS view_ts " +
       "FROM c, wm WHERE c.click_id NOT IN (SELECT click_id FROM m) " +
       "AND epoch_us(c.click_ts) < wm.w " +
       "UNION ALL SELECT CAST(NULL AS BIGINT) AS click_id, v.v_user AS user_id, " +
       "CAST(NULL AS TIMESTAMP) AS click_ts, v.view_id, v.view_ts " +
       "FROM v, wm WHERE v.view_id NOT IN (SELECT view_id FROM m) " +
       "AND epoch_us(v.view_ts) + 3600000000 < wm.w " +
       // NULLS FIRST: the view-null branch has a NULL FIRST sort key
       // (Spark's asc default); DuckDB defaults NULLS LAST
       "ORDER BY click_id NULLS FIRST, view_id NULLS FIRST"),
    "e14_stream_join_agg" ->
      // window-equality join → per-window pair count, emitted only for
      // windows the final min-policy watermark (both delays 1h) has
      // finalized (window end ≤ W); open tail windows stay unsent (the
      // Append contract — the withheld side is pinned by the planted
      // MemoryStream spec, since the harness fixtures close every window)
      ("WITH c AS (SELECT event_id AS click_id, user_id, date_trunc('hour', ts) AS w " +
       "FROM events WHERE event_type = 'click'), " +
       "v AS (SELECT event_id AS view_id, user_id AS v_user, date_trunc('hour', ts) AS w " +
       "FROM events WHERE event_type = 'view'), " +
       "wm AS (SELECT least(" +
       "(SELECT max(epoch_us(ts)) - 3600000000 FROM events WHERE event_type = 'click'), " +
       "(SELECT max(epoch_us(ts)) - 3600000000 FROM events WHERE event_type = 'view')) AS w), " +
       "p AS (SELECT c.w AS window_start, CAST(count(*) AS BIGINT) AS n_pairs " +
       "FROM c JOIN v ON c.user_id = v.v_user AND c.w = v.w GROUP BY 1) " +
       "SELECT p.window_start, p.n_pairs FROM p, wm " +
       "WHERE epoch_us(p.window_start) + 3600000000 <= wm.w " +
       "ORDER BY window_start"),
    "d6_distinct_agg" ->
      ("SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers, " +
       "count(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),
    // the salted join's oracle is the PLAIN join — salting must be
    // semantically invisible
    "w6_salted_join" ->
      ("SELECT s.s_suppkey, s.s_name, count(*) AS n, round(sum(l.l_extendedprice),2) AS total " +
       "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
       "GROUP BY 1, 2 ORDER BY s.s_suppkey"),
    // same plain-join oracle: the derived salt count must be invisible too
    "w6b_auto_salted" ->
      ("SELECT s.s_suppkey, s.s_name, count(*) AS n, round(sum(l.l_extendedprice),2) AS total " +
       "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
       "GROUP BY 1, 2 ORDER BY s.s_suppkey"),
    "x13_text_normalize" ->
      ("SELECT doc_id, trim(regexp_replace(regexp_replace(" +
       s"translate(lower(text), '${Funcs.accented}', '${Funcs.unaccented}'), " +
       "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text FROM documents ORDER BY doc_id"),
    "a10b_quartiles" ->
      ("SELECT quantile_cont(l_extendedprice, 0.25) AS q1, quantile_cont(l_extendedprice, 0.5) AS q2, " +
       "quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem"),
    "x1_dedup_exact" ->
      ("SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id " +
       "FROM documents GROUP BY 1 ORDER BY content_hash"),
    // x2/x3/x4/x11: xxhash64-based signatures — not ANSI-SQL-expressible;
    // rows-only at the gate, exact semantics covered by ScalaTest.
    "x5_embed_neardup" ->
      (s"WITH $normCte, capped AS (SELECT * FROM nrm WHERE vec_id < 2000) " +
       "SELECT id_a, id_b, sim FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
       s"${dotSql("a.vec", "b.vec")}/(a.norm*b.norm) AS sim " +
       "FROM capped a JOIN capped b ON a.vec_id < b.vec_id) WHERE sim >= 0.35 ORDER BY id_a, id_b"),
    "x88_matryoshka" ->
      // the x5 pair set with a 16-component truncated cosine beside the
      // full one; DuckDB list slice l[1:16] is 1-based inclusive — pairs
      // with Spark slice(vec, 1, 16)
      (s"WITH $normCte, capped AS (SELECT vec_id, vec, norm, " +
       "vec[1:16] AS p, sqrt(list_sum(list_transform(vec[1:16], x -> x*x))) AS pn " +
       "FROM nrm WHERE vec_id < 2000) " +
       "SELECT id_a, id_b, sim, sim_trunc, sim_trunc - sim AS err FROM (" +
       "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
       s"${dotSql("a.vec", "b.vec")}/(a.norm*b.norm) AS sim, " +
       s"${dotSql("a.p", "b.p")}/(a.pn*b.pn) AS sim_trunc " +
       "FROM capped a JOIN capped b ON a.vec_id < b.vec_id) " +
       "WHERE sim >= 0.35 ORDER BY id_a, id_b"),
    "x5b_ann_neardup" -> {
      // the ±1 plane matrix folds into the SQL as literals — the per-table
      // bucket codes, the (table, code) equi-join, and the exact rescoring
      // all run identically in DuckDB, so the scale path is hash-checked too
      val nPlanes = 6; val nTables = 8
      val ps = Similarity.planes(nPlanes * nTables, 64)
      val codeArr = (0 until nTables).map { t =>
        (0 until nPlanes).map { j =>
          val planeLit = ps(t * nPlanes + j).map(v => if (v > 0) "1.0" else "-1.0")
            .mkString("[", ",", "]")
          s"(CASE WHEN list_sum(list_transform(list_zip(vec, $planeLit), t -> t[1]*t[2])) >= 0 " +
            s"THEN CAST(1 AS BIGINT) << $j ELSE 0 END)"
        }.mkString("(", " + ", ")")
      }.mkString("[", ", ", "]")
      s"WITH $normCte, cs AS (SELECT vec_id, vec, norm, $codeArr AS codes FROM nrm), " +
        s"coded AS (SELECT vec_id, t, codes[CAST(t AS INT)+1] AS code FROM cs, range(0, $nTables) r(t)), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM coded a " +
        "JOIN coded b ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, sim FROM (SELECT c.id_a, c.id_b, " +
        s"${dotSql("x.vec", "y.vec")}/(x.norm*y.norm) AS sim FROM cand c " +
        "JOIN cs x ON x.vec_id = c.id_a JOIN cs y ON y.vec_id = c.id_b) " +
        "WHERE sim >= 0.35 ORDER BY id_a, id_b"
    },
    "x55_knn_join" -> {
      // x5b's plane-literal construction, DIRECTED candidates (a <> b so
      // both endpoints rank), then the x6-style per-vector top-k tail
      val nPlanes = 6; val nTables = 8
      val ps = Similarity.planes(nPlanes * nTables, 64)
      val codeArr = (0 until nTables).map { t =>
        (0 until nPlanes).map { j =>
          val planeLit = ps(t * nPlanes + j).map(v => if (v > 0) "1.0" else "-1.0")
            .mkString("[", ",", "]")
          s"(CASE WHEN list_sum(list_transform(list_zip(vec, $planeLit), t -> t[1]*t[2])) >= 0 " +
            s"THEN CAST(1 AS BIGINT) << $j ELSE 0 END)"
        }.mkString("(", " + ", ")")
      }.mkString("[", ", ", "]")
      s"WITH $normCte, cs AS (SELECT vec_id, vec, norm, $codeArr AS codes FROM nrm), " +
        s"coded AS (SELECT vec_id, t, codes[CAST(t AS INT)+1] AS code FROM cs, range(0, $nTables) r(t)), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM coded a " +
        "JOIN coded b ON a.t = b.t AND a.code = b.code AND a.vec_id <> b.vec_id), " +
        "s AS (SELECT c.id_a, c.id_b, " +
        s"${dotSql("x.vec", "y.vec")}/(x.norm*y.norm) AS sim FROM cand c " +
        "JOIN cs x ON x.vec_id = c.id_a JOIN cs y ON y.vec_id = c.id_b) " +
        "SELECT vec_id, rank, neighbor_id, sim FROM (SELECT id_a AS vec_id, id_b AS neighbor_id, sim, " +
        "CAST(row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS INT) AS rank FROM s) " +
        "WHERE rank <= 5 ORDER BY vec_id, rank"
    },
    "x5b_auto_neardup" ->
      // derived-parameter production form: np from count(*), planes from
      // md5 — both re-derived inside this SQL (autoLshCtes); rescore and
      // threshold as x5b
      (s"WITH ${autoLshCtes(8)}, " +
       "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM coded a " +
       "JOIN coded b ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id) " +
       "SELECT id_a, id_b, sim FROM (SELECT c.id_a, c.id_b, " +
       s"${dotSql("x.vec", "y.vec")}/(x.norm*y.norm) AS sim FROM cand c " +
       "JOIN nrm x ON x.vec_id = c.id_a JOIN nrm y ON y.vec_id = c.id_b) " +
       "WHERE sim >= 0.35 ORDER BY id_a, id_b"),
    "x55_auto_knn" ->
      // derived-parameter KNN graph: directed auto-LSH candidates, exact
      // rescore, per-vector top-5
      (s"WITH ${autoLshCtes(8)}, " +
       "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM coded a " +
       "JOIN coded b ON a.t = b.t AND a.code = b.code AND a.vec_id <> b.vec_id), " +
       "s AS (SELECT c.id_a, c.id_b, " +
       s"${dotSql("x.vec", "y.vec")}/(x.norm*y.norm) AS sim FROM cand c " +
       "JOIN nrm x ON x.vec_id = c.id_a JOIN nrm y ON y.vec_id = c.id_b) " +
       "SELECT vec_id, rank, neighbor_id, sim FROM (SELECT id_a AS vec_id, " +
       "id_b AS neighbor_id, sim, CAST(row_number() OVER (PARTITION BY id_a " +
       "ORDER BY sim DESC, id_b) AS INT) AS rank FROM s) " +
       "WHERE rank <= 5 ORDER BY vec_id, rank"),
    "x80_semantic_decontaminate" ->
      // x60's argmax layout in embedding space: per train vector, the
      // most-similar eval vector (ties -> smallest eval id) + threshold flag
      (s"WITH $normCte, ev AS (SELECT vec_id AS eval_id, vec AS ev, norm AS en " +
       "FROM nrm WHERE vec_id % 17 = 0), " +
       "tr AS (SELECT vec_id, vec, norm FROM nrm WHERE vec_id % 17 <> 0), " +
       s"s AS (SELECT t.vec_id, e.eval_id, ${dotSql("t.vec", "e.ev")}/(t.norm*e.en) AS sim " +
       "FROM tr t, ev e) " +
       "SELECT vec_id, top_eval_id, max_sim, contaminated FROM (" +
       "SELECT vec_id, eval_id AS top_eval_id, sim AS max_sim, " +
       "CAST(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END AS INT) AS contaminated, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn FROM s) " +
       "WHERE rn = 1 ORDER BY vec_id"),
    "x80b_semantic_auto" ->
      // billion-scale x80: train×eval auto-LSH bucket collisions (planes +
      // plane count re-derived in SQL) → exact rescore → per-train argmax;
      // trains with no colliding eval bucket keep NULL attribution and a
      // 0 flag (CASE on a NULL sim falls to ELSE 0, mirroring coalesce)
      (s"WITH ${autoLshCtes(32)}, " +
       "cand AS (SELECT DISTINCT a.vec_id, b.vec_id AS eval_id FROM coded a " +
       "JOIN coded b ON a.t = b.t AND a.code = b.code " +
       "WHERE a.vec_id % 17 <> 0 AND b.vec_id % 17 = 0), " +
       "s AS (SELECT c.vec_id, c.eval_id, " +
       s"${dotSql("x.vec", "y.vec")}/(x.norm*y.norm) AS sim FROM cand c " +
       "JOIN nrm x ON x.vec_id = c.vec_id JOIN nrm y ON y.vec_id = c.eval_id), " +
       "best AS (SELECT vec_id, eval_id AS top_eval_id, sim AS max_sim FROM (" +
       "SELECT vec_id, eval_id, sim, row_number() OVER (PARTITION BY vec_id " +
       "ORDER BY sim DESC, eval_id) AS rn FROM s) WHERE rn = 1) " +
       "SELECT t.vec_id, b.top_eval_id, b.max_sim, " +
       "CAST(CASE WHEN b.max_sim >= 0.35 THEN 1 ELSE 0 END AS INT) AS contaminated " +
       "FROM (SELECT vec_id FROM nrm WHERE vec_id % 17 <> 0) t " +
       "LEFT JOIN best b ON b.vec_id = t.vec_id ORDER BY t.vec_id"),
    "x67_hard_negatives" ->
      // x6's exact top-k with the label-exclusion predicate: negatives
      // must come from a different class than the query
      (s"WITH $normCte, lab AS (SELECT n.vec_id, n.vec, n.norm, e.label " +
       "FROM nrm n JOIN embeddings e ON e.vec_id = n.vec_id), " +
       "q AS (SELECT vec_id AS query_id, vec AS qv, norm AS qn, label AS ql " +
       "FROM lab WHERE vec_id < 20), " +
       s"s AS (SELECT q.query_id, c.vec_id AS neighbor_id, ${dotSql("q.qv", "c.vec")}/(q.qn*c.norm) AS sim " +
       "FROM q JOIN lab c ON c.vec_id <> q.query_id AND c.label <> q.ql) " +
       "SELECT query_id, rank, neighbor_id, sim FROM (SELECT query_id, neighbor_id, sim, " +
       "CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s) " +
       "WHERE rank <= 5 ORDER BY query_id, rank"),
    "x78_contrastive_pairs" ->
      // one scored pass; positives (same label) and negatives (cross
      // label) rank independently via the (query, pair_label) partition
      (s"WITH $normCte, lab AS (SELECT n.vec_id, n.vec, n.norm, e.label " +
       "FROM nrm n JOIN embeddings e ON e.vec_id = n.vec_id), " +
       "q AS (SELECT vec_id AS query_id, vec AS qv, norm AS qn, label AS ql " +
       "FROM lab WHERE vec_id < 20), " +
       s"s AS (SELECT q.query_id, c.vec_id AS neighbor_id, ${dotSql("q.qv", "c.vec")}/(q.qn*c.norm) AS sim, " +
       "CASE WHEN c.label = q.ql THEN 1 ELSE 0 END AS pair_label " +
       "FROM q JOIN lab c ON c.vec_id <> q.query_id) " +
       "SELECT query_id, pair_label, rank, neighbor_id, sim FROM (" +
       "SELECT query_id, pair_label, neighbor_id, sim, " +
       "CAST(row_number() OVER (PARTITION BY query_id, pair_label ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s) " +
       "WHERE rank <= CASE WHEN pair_label = 1 THEN 2 ELSE 5 END " +
       "ORDER BY query_id, pair_label DESC, rank"),
    "x6_ann_topk" ->
      (s"WITH $normCte, q AS (SELECT vec_id AS query_id, vec AS qv, norm AS qn FROM nrm WHERE vec_id < 20), " +
       s"s AS (SELECT q.query_id, c.vec_id AS neighbor_id, ${dotSql("q.qv", "c.vec")}/(q.qn*c.norm) AS sim " +
       "FROM q JOIN nrm c ON c.vec_id <> q.query_id) " +
       "SELECT query_id, rank, neighbor_id, sim FROM (SELECT query_id, neighbor_id, sim, " +
       "CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s) " +
       "WHERE rank <= 5 ORDER BY query_id, rank"),
    "x71_pq_topk" -> {
      // codebooks REBUILT from the table exactly as Similarity.pqCodebooks
      // collects them (subvectors of vectors 0..15, cid-ascending), each
      // distance a single fold sum((x-c)^2) — the expanded s2 - 2*dot + |c|^2
      // form is reassociated by DuckDB's constant folding and drifts an ulp
      val m = 8; val subDim = 8
      def sl(e: String, i: Int) = s"$e[${i * subDim + 1}:${(i + 1) * subDim}]"
      val dCols = (0 until m).map { i =>
        s"list_sum(list_transform(list_zip(${sl("v.vec", i)}, ${sl("c.cvec", i)}), " +
          s"t -> (t[1]-t[2])*(t[1]-t[2]))) AS d$i"
      }.mkString(", ")
      val dlCols = (0 until m).map(i => s"list(d$i ORDER BY cid) AS dl$i").mkString(", ")
      val codeCols = (0 until m)
        .map(i => s"CAST(list_position(dl$i, list_min(dl$i)) AS INT) AS code$i").mkString(", ")
      val distEst = (0 until m).map(i => s"q.dl$i[e.code$i]").mkString(" + ")
      "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
        "cb AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16), " +
        s"pairs AS (SELECT v.vec_id, c.cid, $dCols FROM v, cb c), " +
        s"dlv AS (SELECT vec_id, $dlCols FROM pairs GROUP BY vec_id), " +
        s"enc AS (SELECT *, $codeCols FROM dlv), " +
        "q AS (SELECT vec_id AS query_id, " +
        (0 until m).map(i => s"dl$i").mkString(", ") +
        " FROM dlv WHERE vec_id < 20), " +
        "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
        s"$distEst AS dist_est FROM q JOIN enc e ON e.vec_id <> q.query_id) " +
        "SELECT query_id, rank, neighbor_id, dist_est FROM (" +
        "SELECT query_id, neighbor_id, dist_est, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist_est, neighbor_id) AS INT) AS rank " +
        "FROM s) WHERE rank <= 5 ORDER BY query_id, rank"
    },
    "x132_pq_rerank" -> {
      // stage 1 = x71's ADC oracle verbatim with the pool widened to 25;
      // stage 2 = exact single-fold Σ(x−y)² over the ORIGINAL doubles for
      // candidates only, re-ranked per query (same reassociation caution
      // as the codebook distances)
      val m = 8; val subDim = 8
      def sl(e: String, i: Int) = s"$e[${i * subDim + 1}:${(i + 1) * subDim}]"
      val dCols = (0 until m).map { i =>
        s"list_sum(list_transform(list_zip(${sl("v.vec", i)}, ${sl("c.cvec", i)}), " +
          s"t -> (t[1]-t[2])*(t[1]-t[2]))) AS d$i"
      }.mkString(", ")
      val dlCols = (0 until m).map(i => s"list(d$i ORDER BY cid) AS dl$i").mkString(", ")
      val codeCols = (0 until m)
        .map(i => s"CAST(list_position(dl$i, list_min(dl$i)) AS INT) AS code$i").mkString(", ")
      val distEst = (0 until m).map(i => s"q.dl$i[e.code$i]").mkString(" + ")
      "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
        "cb AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16), " +
        s"pairs AS (SELECT v.vec_id, c.cid, $dCols FROM v, cb c), " +
        s"dlv AS (SELECT vec_id, $dlCols FROM pairs GROUP BY vec_id), " +
        s"enc AS (SELECT *, $codeCols FROM dlv), " +
        "q AS (SELECT vec_id AS query_id, " +
        (0 until m).map(i => s"dl$i").mkString(", ") +
        " FROM dlv WHERE vec_id < 20), " +
        "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
        s"$distEst AS dist_est FROM q JOIN enc e ON e.vec_id <> q.query_id), " +
        "cand AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY dist_est, neighbor_id) AS rn " +
        "FROM s) WHERE rn <= 25), " +
        "ex AS (SELECT c.query_id, c.neighbor_id, " +
        "list_sum(list_transform(list_zip(qv.vec, nv.vec), " +
        "t -> (t[1]-t[2])*(t[1]-t[2]))) AS dist_exact " +
        "FROM cand c JOIN v qv ON qv.vec_id = c.query_id " +
        "JOIN v nv ON nv.vec_id = c.neighbor_id) " +
        "SELECT query_id, rank, neighbor_id, dist_exact FROM (" +
        "SELECT query_id, neighbor_id, dist_exact, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist_exact, neighbor_id) AS INT) AS rank " +
        "FROM ex) WHERE rank <= 5 ORDER BY query_id, rank"
    },
    "x71b_ivfpq_topk" -> {
      // x12's cells/probes verbatim + x71's rebuilt codebooks/codes/ADC,
      // with the candidate set restricted to each query's probed cells
      val m = 8; val subDim = 8
      def sl(e: String, i: Int) = s"$e[${i * subDim + 1}:${(i + 1) * subDim}]"
      val dCols = (0 until m).map { i =>
        s"list_sum(list_transform(list_zip(${sl("v.vec", i)}, ${sl("c.cvec", i)}), " +
          s"t -> (t[1]-t[2])*(t[1]-t[2]))) AS d$i"
      }.mkString(", ")
      val dlCols = (0 until m).map(i => s"list(d$i ORDER BY cid) AS dl$i").mkString(", ")
      val codeCols = (0 until m)
        .map(i => s"CAST(list_position(dl$i, list_min(dl$i)) AS INT) AS code$i").mkString(", ")
      val distEst = (0 until m).map(i => s"q.dl$i[e.code$i]").mkString(" + ")
      s"WITH $normCte, cents AS (SELECT vec_id AS cell_id, vec AS cvec, norm AS cnorm FROM nrm WHERE vec_id < 16), " +
        "assigned AS (SELECT vec_id, cell_id FROM (" +
        s"SELECT n.vec_id, c.cell_id, row_number() OVER (PARTITION BY n.vec_id ORDER BY ${dotSql("n.vec", "c.cvec")}/(n.norm*c.cnorm) DESC, c.cell_id) AS rn " +
        "FROM nrm n, cents c) WHERE rn = 1), " +
        "probes AS (SELECT query_id, cell_id FROM (" +
        s"SELECT q.vec_id AS query_id, c.cell_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY ${dotSql("q.vec", "c.cvec")}/(q.norm*c.cnorm) DESC, c.cell_id) AS rn " +
        "FROM nrm q, cents c WHERE q.vec_id < 20) WHERE rn <= 4), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
        "cb AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16), " +
        s"pairs AS (SELECT v.vec_id, c.cid, $dCols FROM v, cb c), " +
        s"dlv AS (SELECT vec_id, $dlCols FROM pairs GROUP BY vec_id), " +
        s"enc AS (SELECT *, $codeCols FROM dlv), " +
        "q AS (SELECT vec_id AS query_id, " +
        (0 until m).map(i => s"dl$i").mkString(", ") +
        " FROM dlv WHERE vec_id < 20), " +
        "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
        s"$distEst AS dist_est FROM probes p JOIN q ON q.query_id = p.query_id " +
        "JOIN assigned a ON a.cell_id = p.cell_id " +
        "JOIN enc e ON e.vec_id = a.vec_id AND e.vec_id <> q.query_id) " +
        "SELECT query_id, rank, neighbor_id, dist_est FROM (" +
        "SELECT query_id, neighbor_id, dist_est, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist_est, neighbor_id) AS INT) AS rank " +
        "FROM s) WHERE rank <= 5 ORDER BY query_id, rank"
    },
    "x12_ivf_topk" ->
      (s"WITH $normCte, cents AS (SELECT vec_id AS cell_id, vec AS cvec, norm AS cnorm FROM nrm WHERE vec_id < 16), " +
       "assigned AS (SELECT vec_id, vec, norm, cell_id FROM (" +
       s"SELECT n.vec_id, n.vec, n.norm, c.cell_id, row_number() OVER (PARTITION BY n.vec_id ORDER BY ${dotSql("n.vec", "c.cvec")}/(n.norm*c.cnorm) DESC, c.cell_id) AS rn " +
       "FROM nrm n, cents c) WHERE rn = 1), " +
       "probes AS (SELECT query_id, qv, qn, cell_id FROM (" +
       s"SELECT q.vec_id AS query_id, q.vec AS qv, q.norm AS qn, c.cell_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY ${dotSql("q.vec", "c.cvec")}/(q.norm*c.cnorm) DESC, c.cell_id) AS rn " +
       "FROM nrm q, cents c WHERE q.vec_id < 20) WHERE rn <= 4) " +
       "SELECT query_id, rank, neighbor_id, sim FROM (SELECT query_id, neighbor_id, sim, " +
       "CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM (" +
       s"SELECT p.query_id, a.vec_id AS neighbor_id, ${dotSql("p.qv", "a.vec")}/(p.qn*a.norm) AS sim " +
       "FROM probes p JOIN assigned a ON p.cell_id = a.cell_id AND p.query_id <> a.vec_id)) " +
       "WHERE rank <= 5 ORDER BY query_id, rank"),
    "x128_ivf_cell_profile" ->
      // x12's assignment collapsed to per-cell occupancy; empty cells
      // surface with zeros via the LEFT join from the centroid table;
      // corpus total via a window over the ≤ nCells count rows
      (s"WITH $normCte, cents AS (SELECT vec_id AS cell_id, vec AS cvec, norm AS cnorm FROM nrm WHERE vec_id < 16), " +
       "assigned AS (SELECT vec_id, cell_id FROM (" +
       s"SELECT n.vec_id, c.cell_id, row_number() OVER (PARTITION BY n.vec_id ORDER BY ${dotSql("n.vec", "c.cvec")}/(n.norm*c.cnorm) DESC, c.cell_id) AS rn " +
       "FROM nrm n, cents c) WHERE rn = 1), " +
       "cnts AS (SELECT c.cell_id, CAST(count(a.vec_id) AS BIGINT) AS n_vecs " +
       "FROM cents c LEFT JOIN assigned a ON a.cell_id = c.cell_id GROUP BY 1), " +
       "w AS (SELECT cell_id, n_vecs, CAST(sum(n_vecs) OVER () AS BIGINT) AS t FROM cnts) " +
       "SELECT cell_id, n_vecs, CAST(n_vecs * 1000000 // t AS BIGINT) AS share_ppm, " +
       "CAST(n_vecs * 16 * 100 // t AS BIGINT) AS load_x100 FROM w ORDER BY cell_id"),
    "x129_int8_quant_audit" ->
      // floor quantizer + pico-quantized per-lane squared error summed as
      // exact HUGEINT→BIGINT; ONE IEEE division for mse (the x127 pattern)
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
       "s AS (SELECT vec_id, vec, list_max(list_transform(vec, x -> abs(x))) AS scale FROM v), " +
       s"q AS (SELECT vec_id, vec, scale, $int8CodesSql AS qv FROM s) " +
       "SELECT vec_id, scale, " +
       "CAST(len(list_filter(qv, qq -> abs(qq) = 127)) AS INT) AS n_sat, " +
       "CAST(list_sum(list_transform(list_zip(vec, qv), t -> " +
       "CAST(floor((t[1] - t[2]*scale/127.0)*(t[1] - t[2]*scale/127.0)*1e12) AS BIGINT))) AS BIGINT) AS sse_pico, " +
       "CAST(list_sum(list_transform(list_zip(vec, qv), t -> " +
       "CAST(floor((t[1] - t[2]*scale/127.0)*(t[1] - t[2]*scale/127.0)*1e12) AS BIGINT))) AS BIGINT) " +
       "/ (len(vec) * 1e12) AS mse_recon " +
       "FROM q ORDER BY vec_id"),
    "x130_key_skew_profile" ->
      // heaviest-20 keys with integer-ppm share and load vs uniform;
      // ties break on the key so the cut is deterministic
      ("WITH k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
       "st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n) AS BIGINT) AS total FROM k) " +
       "SELECT k.user_id, k.n, CAST(CAST(k.n AS HUGEINT) * 1000000 // st.total AS BIGINT) AS share_ppm, " +
       "CAST(CAST(k.n AS HUGEINT) * st.n_keys * 100 // st.total AS BIGINT) AS load_x100 " +
       "FROM k, st ORDER BY k.n DESC, k.user_id LIMIT 20"),
    "x131_int8_topk_parity" ->
      // x129's quantizer + x6's ranking, twice: symmetric per-vector
      // scales cancel in cosine, so the int8 score is an exact integer
      // dot over exact integer norms with ONE IEEE /sqrt at the end
      (s"WITH $normCte, " +
       "qz AS (SELECT vec_id, vec, norm, list_max(list_transform(vec, x -> abs(x))) AS scale FROM nrm WHERE norm > 0), " +
       s"qc AS (SELECT vec_id, vec, norm, $int8CodesSql AS q FROM qz), " +
       "qn AS (SELECT vec_id, vec, norm, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2 FROM qc), " +
       "s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
       s"${dotSql("a.vec", "b.vec")}/(a.norm*b.norm) AS simf, " +
       "CAST(list_sum(list_transform(list_zip(a.q, b.q), t -> t[1]*t[2])) AS BIGINT) AS dotq, " +
       "a.n2 AS an2, b.n2 AS bn2 FROM qn a JOIN qn b ON a.vec_id <> b.vec_id WHERE a.vec_id < 20), " +
       "r AS (SELECT query_id, neighbor_id, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY simf DESC, neighbor_id) AS rankf, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY dotq / sqrt(CAST(an2*bn2 AS DOUBLE)) DESC, neighbor_id) AS rankq " +
       "FROM s) " +
       "SELECT query_id, " +
       "CAST(sum(CASE WHEN rankf <= 5 AND rankq <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap, " +
       "CAST(sum(CASE WHEN rankf = 1 AND rankq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1_match " +
       "FROM r WHERE rankf <= 5 OR rankq <= 5 GROUP BY 1 ORDER BY query_id"),
    "x24_vector_stats" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings) " +
       "SELECT vec_id, sqrt(list_sum(list_transform(vec, x -> x*x))) AS l2_norm, " +
       "CAST(len(list_filter(vec, x -> x > 0)) AS INT) AS n_pos, " +
       "list_max(list_transform(vec, x -> abs(x))) AS max_abs, " +
       "vec[1] / sqrt(list_sum(list_transform(vec, x -> x*x))) AS unit_first " +
       "FROM v ORDER BY vec_id"),
    "x29_quantize_int8" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
       "s AS (SELECT vec_id, vec, greatest(list_max(list_transform(vec, x -> abs(x)))/127.0, 1e-30) AS scale FROM v), " +
       "q AS (SELECT vec_id, scale, vec, list_transform(vec, x -> CAST(floor(x/scale + 0.5) AS INT)) AS qv FROM s) " +
       "SELECT vec_id, scale, array_to_string(qv, ',') AS q_csv, " +
       "list_max(list_transform(list_zip(vec, qv), t -> abs(t[1] - t[2]*scale))) AS max_abs_err " +
       "FROM q ORDER BY vec_id"),
    "x7_lang_id" ->
      ("SELECT doc_id, score_en, score_de, score_fr, score_es, " +
       "CASE WHEN score_en = best AND best > 0 THEN 'en' WHEN score_de = best AND best > 0 THEN 'de' " +
       "WHEN score_fr = best AND best > 0 THEN 'fr' WHEN score_es = best AND best > 0 THEN 'es' " +
       "ELSE 'unknown' END AS predicted_lang FROM (SELECT doc_id, " +
       s"${markerSql("en")} AS score_en, ${markerSql("de")} AS score_de, ${markerSql("fr")} AS score_fr, " +
       s"${markerSql("es")} AS score_es, " +
       s"greatest(${markerSql("en")}, ${markerSql("de")}, ${markerSql("fr")}, ${markerSql("es")}) AS best " +
       "FROM documents) ORDER BY doc_id"),
    "x8_quality_score" -> (x8QualitySql + " ORDER BY doc_id"),
    "x135_quality_drift" ->
      // even/odd snapshot halves (the x35 convention), decile bins of the
      // shared x8 score, integer-ppm shares, and the log-free chi-square
      // surrogate (p−q)²//(p+q) — ln would be a libm cross-engine ulp
      // hazard; this surrogate ranks drifted bins identically and is exact
      (s"WITH q AS ($x8QualitySql), " +
       "b AS (SELECT least(CAST(floor(quality_score * 10.0) AS BIGINT), 9) AS bin, " +
       "doc_id % 2 = 0 AS is_prev FROM q), " +
       "agg AS (SELECT bin, CAST(sum(CASE WHEN is_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_prev, " +
       "CAST(sum(CASE WHEN NOT is_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_cur FROM b GROUP BY 1), " +
       "t AS (SELECT bin, n_prev, n_cur, " +
       "CAST(sum(n_prev) OVER () AS BIGINT) AS tot_prev, " +
       "CAST(sum(n_cur) OVER () AS BIGINT) AS tot_cur FROM agg), " +
       "s AS (SELECT bin, n_prev, n_cur, " +
       "CASE WHEN tot_prev = 0 THEN 0 ELSE n_prev * 1000000 // tot_prev END AS p_ppm, " +
       "CASE WHEN tot_cur = 0 THEN 0 ELSE n_cur * 1000000 // tot_cur END AS q_ppm FROM t) " +
       "SELECT bin, n_prev, n_cur, p_ppm, q_ppm, " +
       "CASE WHEN p_ppm + q_ppm = 0 THEN 0 " +
       "ELSE (p_ppm - q_ppm) * (p_ppm - q_ppm) // (p_ppm + q_ppm) END AS drift_ppm " +
       "FROM s ORDER BY bin"),
    "x85_quality_quantile_norm" ->
      // per-source percent_rank of the x8 quality score (DuckDB's
      // percent_rank = (rank-1)/(n-1), ties share min rank — identical to
      // the Spark side's n_less/(n_src-1) over the grouped CDF table);
      // keep = not in the source's own bottom 20%
      (s"WITH q AS ($x8QualitySql), " +
       "s AS (SELECT q.doc_id, d.source, q.quality_score FROM q " +
       "JOIN documents d ON d.doc_id = q.doc_id), " +
       "p AS (SELECT doc_id, source, quality_score, " +
       "percent_rank() OVER (PARTITION BY source ORDER BY quality_score) AS pct FROM s) " +
       "SELECT doc_id, source, quality_score, pct, " +
       "CAST(pct >= 0.2 AS INT) AS keep FROM p ORDER BY doc_id"),
    "x9_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_ws, " +
       "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_tokens_bpe " +
       "FROM documents ORDER BY doc_id"),
    "x56_bigram_lm" -> (x56LmSql + " ORDER BY doc_id"),
    "x57_classifier_margin" -> (x57ClfSql + " ORDER BY doc_id"),
    "x58_containment" -> x58ContainmentSql,
    "x59_filter_ensemble" ->
      // majority vote over the three (all-exact) quality signals; docs the
      // LM can't score (<2 tokens) coalesce to a 0 LM vote
      (s"WITH q AS ($x8QualitySql), lmv AS ($x56LmSql), clf AS ($x57ClfSql) " +
       "SELECT q.doc_id, q.v_q, COALESCE(l.v_lm, 0) AS v_lm, c.v_clf, " +
       "q.v_q + COALESCE(l.v_lm, 0) + c.v_clf AS votes, " +
       "CASE WHEN q.v_q + COALESCE(l.v_lm, 0) + c.v_clf >= 2 THEN 'keep' ELSE 'drop' END AS verdict " +
       "FROM (SELECT doc_id, CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END AS v_q FROM q) q " +
       "LEFT JOIN (SELECT doc_id, CASE WHEN lm_score_ppm >= 200000 THEN 1 ELSE 0 END AS v_lm FROM lmv) l " +
       "ON l.doc_id = q.doc_id " +
       "JOIN (SELECT doc_id, CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END AS v_clf FROM clf) c " +
       "ON c.doc_id = q.doc_id ORDER BY q.doc_id"),
    "x59b_capped_ensemble" ->
      // x59 with the LM capped to top-500 bigrams (count desc, df desc,
      // bigram asc — a total order); the LM vote is the mean ppm over
      // KNOWN bigrams (inner join), docs with no known bigram → 0 vote
      (s"WITH q AS ($x8QualitySql), lmv AS ($x59bCappedLmSql), clf AS ($x57ClfSql) " +
       "SELECT q.doc_id, q.v_q, COALESCE(l.v_lm, 0) AS v_lm, c.v_clf, " +
       "q.v_q + COALESCE(l.v_lm, 0) + c.v_clf AS votes, " +
       "CASE WHEN q.v_q + COALESCE(l.v_lm, 0) + c.v_clf >= 2 THEN 'keep' ELSE 'drop' END AS verdict " +
       "FROM (SELECT doc_id, CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END AS v_q FROM q) q " +
       "LEFT JOIN (SELECT doc_id, CASE WHEN lm_score_ppm >= 200000 THEN 1 ELSE 0 END AS v_lm FROM lmv) l " +
       "ON l.doc_id = q.doc_id " +
       "JOIN (SELECT doc_id, CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END AS v_clf FROM clf) c " +
       "ON c.doc_id = q.doc_id ORDER BY q.doc_id"),
    "x10_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp " +
       "FROM documents ORDER BY doc_id"),
    "m1_media_stats" ->
      // width_px/height_px/gray_mean_ppm: the Spark side REALLY encodes +
      // decodes a PNG per image asset (pixel (x,y) = (id+x+y)%256); the
      // oracle predicts the decoded raster arithmetically — a codec or
      // raster-walk bug cannot hash-match. The audio columns are the same
      // contract through javax.sound.sampled: a REAL RIFF/WAVE round-trip
      // per audio asset (sample i = (id+i)%65536 - 32768, n = id%50+10),
      // predicted arithmetically here.
      ("WITH base AS (SELECT doc_id AS asset_id, CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' " +
       "WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, " +
       "CAST(octet_length(encode(text)) AS INT) AS n_bytes, " +
       "CAST(doc_id % 16 * 64 + 256 AS INT) AS width, CAST(doc_id % 9 * 64 + 256 AS INT) AS height, " +
       "n_chars * 10 AS duration_ms FROM documents), " +
       "img AS (SELECT doc_id AS asset_id, CAST(doc_id % 16 + 1 AS INT) AS w, " +
       "CAST(doc_id % 9 + 1 AS INT) AS h FROM documents WHERE doc_id % 3 = 0), " +
       "g AS (SELECT asset_id, w, h, CAST(sum((asset_id + x + y) % 256) AS BIGINT) AS gs " +
       "FROM img, UNNEST(range(w)) AS tx(x), UNNEST(range(h)) AS ty(y) GROUP BY asset_id, w, h), " +
       "aud AS (SELECT doc_id AS asset_id, CAST(doc_id % 50 + 10 AS INT) AS n " +
       "FROM documents WHERE doc_id % 3 = 1), " +
       "p AS (SELECT asset_id, n, CAST(sum(abs((asset_id + i) % 65536 - 32768)) AS BIGINT) AS sa " +
       "FROM aud, UNNEST(range(n)) AS ti(i) GROUP BY asset_id, n) " +
       "SELECT b.asset_id, b.media_type, b.n_bytes, b.width, b.height, b.duration_ms, " +
       "g.w AS width_px, g.h AS height_px, " +
       "CAST(g.gs * 1000000 // (g.w * g.h) AS BIGINT) AS gray_mean_ppm, " +
       "CAST(CASE WHEN p.asset_id IS NOT NULL THEN 8000 END AS INT) AS sample_rate_hz, " +
       "p.n AS n_samples, CAST(p.sa * 1000000 // p.n AS BIGINT) AS pcm_abs_mean_ppm " +
       "FROM base b LEFT JOIN g ON g.asset_id = b.asset_id " +
       "LEFT JOIN p ON p.asset_id = b.asset_id ORDER BY b.asset_id"),
    "m2_media_resize" ->
      ("WITH a AS (SELECT doc_id AS asset_id, CAST(doc_id % 16 * 64 + 256 AS INT) AS width, " +
       "CAST(doc_id % 9 * 64 + 256 AS INT) AS height FROM documents), " +
       "s AS (SELECT *, greatest(width, height) AS longest FROM a) " +
       "SELECT asset_id, width, height, " +
       "CASE WHEN longest <= 512 THEN width ELSE greatest(1, CAST(floor(width*512.0/longest) AS INT)) END AS new_width, " +
       "CASE WHEN longest <= 512 THEN height ELSE greatest(1, CAST(floor(height*512.0/longest) AS INT)) END AS new_height " +
       "FROM s ORDER BY asset_id"),
    // media_type 'video' ⇔ doc_id % 3 = 2 (assets() maps pmod(doc_id,3));
    // 9500 = (maxFrames-1)*strideMs — the per-asset fan-out cap. The
    // Spark side REALLY encodes a motion-PNG container (one frame per
    // 250 ms tick, pixel (x,y) = (id + 7·(ts/250) + x + y) % 256), demuxes
    // it by chunk structure, and ImageIO-decodes the sampled frames; the
    // oracle predicts each decoded frame's dims + band-0 pixel sum
    // arithmetically from the fixture formula
    "m3_frame_sample" ->
      ("WITH a AS (SELECT doc_id AS asset_id, n_chars*10 AS duration_ms, " +
       "CAST(doc_id % 16 + 1 AS INT) AS w, CAST(doc_id % 9 + 1 AS INT) AS h " +
       "FROM documents WHERE doc_id % 3 = 2), " +
       "f AS (SELECT asset_id, duration_ms, w, h, " +
       "unnest(range(0, least(duration_ms, 9500) + 1, 500)) AS ts FROM a), " +
       "g AS (SELECT asset_id, duration_ms, w, h, ts, " +
       "CAST(sum((asset_id + 7*(ts//250) + x + y) % 256) AS BIGINT) AS gs " +
       "FROM f, UNNEST(range(w)) AS tx(x), UNNEST(range(h)) AS ty(y) " +
       "GROUP BY asset_id, duration_ms, w, h, ts) " +
       "SELECT asset_id, duration_ms, CAST(ts//500 AS INT) AS frame_idx, ts AS frame_ts_ms, " +
       "w AS width_px, h AS height_px, gs AS gray_sum " +
       "FROM g ORDER BY asset_id, frame_idx"),
    "x73_bloom_prefilter" ->
      // relational Bloom filter: position t = (t-th 32-bit md5 slice) %
      // 4096; historical side -> distinct position set; batch doc hits iff
      // all 3 positions present. exact_dup = ground-truth membership —
      // deterministic hashes make the false-positive set itself exact
      ("WITH base AS (SELECT d.doc_id, CASE WHEN d.doc_id % 7 = 0 AND n.text IS NOT NULL " +
       "THEN n.text ELSE d.text END AS text FROM documents d " +
       "LEFT JOIN documents n ON n.doc_id = d.doc_id - 1 AND n.doc_id % 2 = 0), " +
       "sig AS (SELECT doc_id, md5(text) AS ch, doc_id % 2 = 0 AS is_existing FROM base), " +
       "hpos AS (SELECT DISTINCT CAST(concat('0x', substr(ch, CAST(t*8+1 AS INT), 8)) AS BIGINT) % 4096 AS pos " +
       "FROM sig, UNNEST(range(3)) AS tt(t) WHERE is_existing), " +
       "hch AS (SELECT DISTINCT ch FROM sig WHERE is_existing), " +
       "bpos AS (SELECT doc_id, ch, CAST(concat('0x', substr(ch, CAST(t*8+1 AS INT), 8)) AS BIGINT) % 4096 AS pos " +
       "FROM sig, UNNEST(range(3)) AS tt(t) WHERE NOT is_existing), " +
       "hit AS (SELECT doc_id, ch, count(h.pos) = 3 AS bloom_hit " +
       "FROM bpos b LEFT JOIN hpos h ON h.pos = b.pos GROUP BY doc_id, ch) " +
       "SELECT h.doc_id, h.bloom_hit, (c.ch IS NOT NULL) AS exact_dup " +
       "FROM hit h LEFT JOIN hch c ON c.ch = h.ch ORDER BY h.doc_id"),
    "m4_audio_quality" ->
      // the Spark side REALLY round-trips a RIFF/WAVE container per audio
      // asset (javax.sound.sampled) and computes the stats from the
      // DECODED samples; the oracle predicts them from the fixture formula
      // s(i) = (id*131 + i*997) % 65536 - 32768, n = id%50+10 — all integer
      ("WITH aud AS (SELECT doc_id AS asset_id, CAST(doc_id % 50 + 10 AS INT) AS n " +
       "FROM documents WHERE doc_id % 3 = 1), " +
       "s AS (SELECT asset_id, n, i, CAST((asset_id*131 + i*997) % 65536 - 32768 AS BIGINT) AS v " +
       "FROM aud, UNNEST(range(n)) AS ti(i)), " +
       "z AS (SELECT asset_id, n, v, CASE WHEN lag(v) OVER w IS NOT NULL " +
       "AND ((lag(v) OVER w < 0) != (v < 0)) THEN 1 ELSE 0 END AS c " +
       "FROM s WINDOW w AS (PARTITION BY asset_id ORDER BY i)) " +
       "SELECT asset_id, CAST(8000 AS INT) AS sample_rate_hz, MAX(n) AS n_samples, " +
       "CAST(MAX(abs(v)) AS INT) AS peak_abs, " +
       "CAST(sum(CASE WHEN abs(v) >= 32000 THEN 1 ELSE 0 END) * 1000000 // MAX(n) AS BIGINT) AS clip_ppm, " +
       "CAST(sum(v*v) AS BIGINT) AS energy, " +
       "CAST(sum(c) AS INT) AS zero_crossings " +
       "FROM z GROUP BY asset_id ORDER BY asset_id"),
    "x72_image_phash" ->
      // the Spark side REALLY encodes + decodes a PNG per image asset and
      // computes the 8×8 average-hash from ImageIO's raster; the oracle
      // recomputes the identical hash arithmetically from the pixel
      // formula (x,y) = (id+x+y)%256, grid sample (⌊i·w/8⌋, ⌊j·h/8⌋),
      // bit = [64·s ≥ Σs], packed as two 32-bit halves
      ("WITH img AS (SELECT doc_id AS asset_id, CAST(doc_id % 16 + 1 AS INT) AS w, " +
       "CAST(doc_id % 9 + 1 AS INT) AS h FROM documents WHERE doc_id % 3 = 0), " +
       "cells AS (SELECT asset_id, w, h, CAST(j*8+i AS INT) AS idx, " +
       "CAST((asset_id + (i*w)//8 + (j*h)//8) % 256 AS BIGINT) AS s " +
       "FROM img, UNNEST(range(8)) AS ti(i), UNNEST(range(8)) AS tj(j)), " +
       "b AS (SELECT asset_id, w, h, idx, " +
       "CASE WHEN 64*s >= sum(s) OVER (PARTITION BY asset_id) THEN 1 ELSE 0 END AS bit FROM cells) " +
       "SELECT asset_id, MAX(w) AS width_px, MAX(h) AS height_px, " +
       "CAST(sum(CASE WHEN idx >= 32 THEN bit * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS BIGINT) AS phash_hi, " +
       "CAST(sum(CASE WHEN idx < 32 THEN bit * (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS BIGINT) AS phash_lo " +
       "FROM b GROUP BY asset_id ORDER BY asset_id"),
    "x72b_image_neardup" ->
      // fixture: 16×9 quadratic-phase PNGs keyed on the 72-id block —
      // with q = (j*9//8)*16 + (i*16//8): pixel = (lo*q + hi*q*q) % 256,
      // lo = block%256, hi = (block//256)%256. Blocks are pixel-identical
      // inside (hamming 0) and distinct across (cluster size constant as
      // the corpus grows). The oracle goes naive all-pairs (fine at
      // oracle scale); the engine blocks on 16-bit hash chunks, exact for
      // hamming ≤ 3 by pigeonhole
      (s"SELECT * FROM ($x72bPairsSql) ORDER BY asset_a, asset_b"),
    "x72c_image_dedup_apply" ->
      // x72b pairs -> reachability clusters (recursive CTE, the x17
      // mirror) -> keep min asset per cluster; singletons keep themselves
      (s"WITH RECURSIVE pr AS ($x72bPairsSql), " +
       "e AS (SELECT asset_a AS src, asset_b AS dst FROM pr " +
       "UNION ALL SELECT asset_b, asset_a FROM pr), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "img AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 0) " +
       "SELECT i.asset_id, COALESCE(cl.cluster_id, i.asset_id) AS cluster_id, " +
       "(COALESCE(cl.cluster_id, i.asset_id) = i.asset_id) AS kept " +
       "FROM img i LEFT JOIN cl ON cl.node = i.asset_id ORDER BY i.asset_id"),
    "m5_caption_filter" ->
      // caption = the asset's document text; keep = decodable modality
      // AND x8 quality >= 0.5 (the x8 doubles are bit-identical, so the
      // threshold comparison is too)
      (s"WITH q AS ($x8QualitySql) " +
       "SELECT doc_id AS asset_id, CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' " +
       "WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, quality_score, " +
       "(doc_id % 3 <> 2 AND quality_score >= 0.5) AS keep " +
       "FROM q ORDER BY asset_id"),
    "x25_pair_counts" ->
      ("WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents), " +
       "idx AS (SELECT t, unnest(range(1, len(t))) AS i FROM tok), " +
       "p AS (SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT)+1] AS w2 FROM idx) " +
       "SELECT w1, w2, count(*) AS n FROM p GROUP BY 1, 2 ORDER BY n DESC, w1, w2 LIMIT 30"),
    "x26_kmeans_iter" ->
      (s"WITH $kmeansAssignCte " +
       "SELECT cell_id AS cluster_id, CAST(i - 1 AS INT) AS dim_idx, count(*) AS n_members, " +
       "round(avg(vec[CAST(i AS INT)]), 6) AS centroid " +
       "FROM asg, range(1, 65) r(i) GROUP BY 1, 2 ORDER BY cluster_id, dim_idx"),
    "x26b_kmeans_assign" ->
      (s"WITH $kmeansAssignCte SELECT vec_id, cell_id AS cluster_id FROM asg ORDER BY vec_id"),
    "x126_cell_balanced_sample" ->
      // x54's smallest-k md5 draw with the stratum moved to semantic
      // space: the cells re-derived from the same literal-seed argmin
      // ('bal:' salt decorrelates from every other coin)
      (s"WITH $kmeansAssignCte, " +
       "dd AS (SELECT cell_id AS cluster_id, vec_id, " +
       "CAST(concat('0x', substr(md5(concat('bal:', CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h " +
       "FROM asg), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY h, vec_id) AS rn FROM dd) " +
       "SELECT cluster_id, vec_id, h FROM r WHERE rn <= 25 ORDER BY cluster_id, vec_id"),
    "x127_cell_quality" ->
      // x109/x112's exact-integer pattern over k-means cells: milli sums
      // S and squared-norm sums as HUGEINTs, cohesion = (n·Σ‖m‖² − Σ S²)
      // / n²·10⁶, separation = Σ(S_a·n_b − S_b·n_a)² / (n_a n_b)²·10⁶ —
      // ONE IEEE division each, bit-identical cross-engine
      (s"WITH $kmeansAssignCte, " +
       "mm AS (SELECT cell_id, unnest(range(len(vec))) AS dim, " +
       "CAST(floor(unnest(vec) * 1000.0) AS BIGINT) AS m FROM asg), " +
       "cnt AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY 1), " +
       "q AS (SELECT cell_id, CAST(sum(m * m) AS BIGINT) AS qq FROM mm GROUP BY 1), " +
       "s AS (SELECT cell_id, dim, CAST(sum(m) AS BIGINT) AS sd FROM mm GROUP BY 1, 2), " +
       "s2 AS (SELECT cell_id, sum(CAST(sd AS HUGEINT) * sd) AS ss FROM s GROUP BY 1), " +
       "coh AS (SELECT c.cell_id, c.n, CAST(CAST(c.n AS HUGEINT) * q.qq - s2.ss AS DOUBLE) / " +
       "(CAST(c.n AS DOUBLE) * c.n * 1e6) AS cohesion " +
       "FROM cnt c JOIN q ON q.cell_id = c.cell_id JOIN s2 ON s2.cell_id = c.cell_id), " +
       "sn AS (SELECT s.cell_id, s.dim, s.sd, c.n FROM s JOIN cnt c ON c.cell_id = s.cell_id), " +
       "tt AS (SELECT a.cell_id AS ca, b.cell_id AS cb, a.n AS na, b.n AS nb, " +
       "CAST(a.sd AS HUGEINT) * b.n - CAST(b.sd AS HUGEINT) * a.n AS t " +
       "FROM sn a JOIN sn b ON a.dim = b.dim AND a.cell_id <> b.cell_id), " +
       "sep AS (SELECT ca, cb, CAST(sum(t * t) AS DOUBLE) / " +
       "(CAST(na AS DOUBLE) * na * nb * nb * 1e6) AS separation FROM tt GROUP BY ca, cb, na, nb), " +
       "nr AS (SELECT ca, cb, separation, " +
       "row_number() OVER (PARTITION BY ca ORDER BY separation, cb) AS rn FROM sep) " +
       "SELECT coh.cell_id AS cluster_id, coh.n AS n_members, coh.cohesion, " +
       "nr.cb AS nearest_cell, nr.separation AS centroid_sep " +
       "FROM coh JOIN nr ON nr.ca = coh.cell_id WHERE nr.rn = 1 ORDER BY cluster_id"),
    "x84_kcenter_coreset" -> (s"${kcenterSql(8)} ORDER BY rank"),
    "x27_source_quota" ->
      ("WITH r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source " +
       "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk FROM documents) " +
       "SELECT doc_id, source, rk FROM r WHERE rk <= 10 ORDER BY doc_id"),
    "x28_repetition" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tok), " +
       "p AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT)+1] AS w2 FROM idx), " +
       "c AS (SELECT doc_id, w1, w2, count(*) AS n FROM p GROUP BY 1, 2, 3) " +
       "SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams, count(*) AS n_distinct_bigrams, " +
       "CAST(sum(n) - count(*) AS DOUBLE)/CAST(sum(n) AS BIGINT) AS dup_bigram_frac, " +
       "CAST(max(n) AS DOUBLE)/CAST(sum(n) AS BIGINT) AS top_bigram_share " +
       "FROM c GROUP BY doc_id ORDER BY doc_id"),
    "x11b_winnow" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(t) >= 5 THEN " +
       "list_transform(range(1, len(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])) " +
       "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
       "hs AS (SELECT doc_id, list_transform(s, x -> " +
       "CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS hl FROM sh), " +
       "wn AS (SELECT doc_id, CASE WHEN len(hl) >= 4 THEN " +
       "list_transform(range(1, len(hl)-2), i -> list_min(hl[i:i+3])) " +
       "ELSE [list_min(hl)] END AS wins FROM hs), " +
       "se AS (SELECT doc_id, list_sort(list_distinct(wins)) AS sel FROM wn) " +
       "SELECT doc_id, CAST(len(sel) AS INT) AS n_fp, " +
       "array_to_string(sel, ',') AS fp_csv FROM se ORDER BY doc_id"),
    "x31_decontaminate" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
       "flat AS (SELECT DISTINCT doc_id, " +
       "CAST(concat('0x', substr(md5(sx), 1, 15)) AS BIGINT) AS h " +
       "FROM (SELECT doc_id, unnest(s) AS sx FROM sh)), " +
       "bench AS (SELECT DISTINCT h FROM flat WHERE doc_id % 17 = 0), " +
       "corpus AS (SELECT doc_id, h FROM flat WHERE doc_id % 17 <> 0) " +
       "SELECT c.doc_id, count(*) AS n_shingles, count(b.h) AS n_hits, " +
       "CAST(count(b.h) * 5 >= count(*) AS INT) AS contaminated " +
       "FROM corpus c LEFT JOIN bench b USING (h) GROUP BY 1 ORDER BY 1"),
    "x60_contamination_report" ->
      // which eval doc leaked: per train doc, the top-colliding eval doc
      // (most shared distinct shingles, smallest eval id on ties)
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
       "flat AS (SELECT DISTINCT doc_id, " +
       "CAST(concat('0x', substr(md5(sx), 1, 15)) AS BIGINT) AS h " +
       "FROM (SELECT doc_id, unnest(s) AS sx FROM sh)), " +
       "bench AS (SELECT doc_id AS eval_id, h FROM flat WHERE doc_id % 17 = 0), " +
       "corpus AS (SELECT doc_id, h FROM flat WHERE doc_id % 17 <> 0), " +
       "ns AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1), " +
       "p AS (SELECT c.doc_id, b.eval_id, count(*) AS shared FROM corpus c " +
       "JOIN bench b USING (h) GROUP BY 1, 2), " +
       "t AS (SELECT doc_id, eval_id AS top_eval_id, shared AS shared_shingles, " +
       "CAST(sum(shared) OVER (PARTITION BY doc_id) AS BIGINT) AS total_collisions " +
       "FROM p QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY shared DESC, eval_id) = 1) " +
       "SELECT t.doc_id, t.top_eval_id, t.shared_shingles, t.total_collisions, " +
       "ns.n_shingles, CAST(t.shared_shingles AS DOUBLE)/ns.n_shingles AS share " +
       "FROM t JOIN ns ON ns.doc_id = t.doc_id ORDER BY t.doc_id"),
    "x62_substring_decontaminate" ->
      // anchor-candidate + verbatim-contains verify, mirrored exactly:
      // anchor = first 8-token shingle (whole text if shorter)
      ("WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents), " +
       "ev AS (SELECT doc_id AS eval_id, text AS etext, " +
       "CAST(concat('0x', substr(md5(array_to_string(t[1:8], ' ')), 1, 15)) AS BIGINT) AS h " +
       "FROM d WHERE doc_id % 17 = 0 AND len(t) >= 8), " +
       "tr AS (SELECT doc_id, text, t FROM d WHERE doc_id % 17 <> 0), " +
       "sh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(sx), 1, 15)) AS BIGINT) AS h " +
       "FROM (SELECT doc_id, unnest(CASE WHEN len(t) >= 8 " +
       "THEN list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7], ' ')) " +
       "ELSE [array_to_string(t, ' ')] END) AS sx FROM tr)), " +
       "cand AS (SELECT DISTINCT sh.doc_id, ev.eval_id FROM sh JOIN ev USING (h)) " +
       "SELECT c.doc_id, c.eval_id, CAST(length(ev.etext) AS INT) AS eval_chars " +
       "FROM cand c JOIN tr ON tr.doc_id = c.doc_id JOIN ev ON ev.eval_id = c.eval_id " +
       "WHERE contains(tr.text, ev.etext) ORDER BY c.doc_id, c.eval_id"),
    "x62b_substring_spans" ->
      // positioned 8-shingle hashes both sides; longest shared verbatim
      // token run per (train, eval) = max diagonal run of consecutive
      // shingle matches (gaps-and-islands) + k-1; keep spans >= 16
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "ev AS (SELECT doc_id AS eval_id, i AS epos, " +
       "CAST(concat('0x', substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h " +
       "FROM (SELECT doc_id, t, unnest(range(1, len(t)-6)) AS i FROM d " +
       "WHERE doc_id % 17 = 0 AND len(t) >= 8)), " +
       "tr AS (SELECT doc_id, i AS tpos, " +
       "CAST(concat('0x', substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h " +
       "FROM (SELECT doc_id, t, unnest(range(1, len(t)-6)) AS i FROM d " +
       "WHERE doc_id % 17 <> 0 AND len(t) >= 8)), " +
       "m AS (SELECT tr.doc_id, ev.eval_id, ev.epos, tr.tpos - ev.epos AS diag " +
       "FROM tr JOIN ev USING (h)), " +
       "r AS (SELECT doc_id, eval_id, diag, epos, " +
       "epos - row_number() OVER (PARTITION BY doc_id, eval_id, diag ORDER BY epos) AS grp FROM m), " +
       "runs AS (SELECT doc_id, eval_id, count(*) AS len FROM r GROUP BY doc_id, eval_id, diag, grp) " +
       "SELECT doc_id, eval_id, CAST(max(len) + 7 AS BIGINT) AS span_tokens " +
       "FROM runs GROUP BY doc_id, eval_id HAVING max(len) + 7 >= 16 " +
       "ORDER BY doc_id, eval_id"),
    "x74_dup_span_profile" ->
      // duplicated shingle = occurs in >= 2 distinct docs; per-doc longest
      // consecutive run of duplicated positions + k-1, and the duplicated
      // position count; docs without one (or shorter than k) report 0
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT doc_id, CAST(i AS INT) AS p, " +
       "CAST(concat('0x', substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h " +
       "FROM (SELECT doc_id, t, unnest(range(1, len(t)-6)) AS i FROM d WHERE len(t) >= 8)), " +
       "dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2), " +
       "m AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp " +
       "FROM sh JOIN dup USING (h)), " +
       "runs AS (SELECT doc_id, count(*) AS len FROM m GROUP BY doc_id, grp), " +
       "prof AS (SELECT doc_id, CAST(max(len) + 7 AS BIGINT) AS max_dup_tokens, " +
       "CAST(sum(len) AS BIGINT) AS dup_positions FROM runs GROUP BY doc_id) " +
       "SELECT d0.doc_id, COALESCE(p.max_dup_tokens, 0) AS max_dup_tokens, " +
       "COALESCE(p.dup_positions, 0) AS dup_positions " +
       "FROM documents d0 LEFT JOIN prof p ON p.doc_id = d0.doc_id ORDER BY d0.doc_id"),
    "x63_token_budget" ->
      // greedy highest-quality-first under a 5000-token global budget:
      // whole quantized-quality buckets while they fit, the boundary
      // bucket resolved per-doc by doc_id order (exact same rule as the
      // Spark side; the quality doubles are bit-identical so the qi
      // quantization is too)
      (s"WITH q AS ($x8QualitySql), " +
       "pd AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
       "CAST(floor(quality_score * 1000000) AS BIGINT) AS qi FROM q), " +
       "hist AS (SELECT qi, CAST(sum(n_tokens) AS BIGINT) AS btoks FROM pd GROUP BY 1), " +
       "m AS (SELECT qi, btoks, CAST(sum(btoks) OVER (ORDER BY qi DESC) AS BIGINT) AS cum_incl, " +
       "CAST(sum(btoks) OVER (ORDER BY qi DESC) - btoks AS BIGINT) AS cum_excl FROM hist), " +
       "full_k AS (SELECT qi FROM m WHERE cum_incl <= 5000), " +
       "b AS (SELECT qi AS bqi, 5000 - cum_excl AS remaining FROM m " +
       "WHERE cum_excl < 5000 AND cum_incl > 5000), " +
       "br AS (SELECT doc_id, n_tokens, qi FROM (SELECT pd.doc_id, pd.n_tokens, pd.qi, " +
       "b.remaining, CAST(sum(pd.n_tokens) OVER (PARTITION BY pd.qi ORDER BY pd.doc_id) AS BIGINT) AS run " +
       "FROM pd JOIN b ON pd.qi = b.bqi) WHERE run <= remaining) " +
       "SELECT doc_id, n_tokens, qi FROM pd WHERE qi IN (SELECT qi FROM full_k) " +
       "UNION ALL SELECT doc_id, n_tokens, qi FROM br ORDER BY doc_id"),
    "x64_length_batches" ->
      // length-grouped batching: md5 shard, per-shard (n_tokens, doc_id)
      // rank, fixed 16-doc batches with shard-prefixed ids
      ("WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
       "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard " +
       "FROM documents), " +
       "r AS (SELECT doc_id, n_tokens, shard, " +
       "row_number() OVER (PARTITION BY shard ORDER BY n_tokens, doc_id) AS rn FROM d) " +
       "SELECT doc_id, n_tokens, shard, " +
       "CAST(shard * 1099511627776 + (rn - 1) // 16 AS BIGINT) AS batch_id " +
       "FROM r ORDER BY doc_id"),
    "x32_mixture_weights" ->
      ("WITH s AS (SELECT source, count(*) AS n_docs, " +
       "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
       "q AS (SELECT source, n_docs, n_tokens, " +
       "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sqrt_scaled FROM s) " +
       "SELECT source, n_docs, n_tokens, sqrt_scaled, " +
       "CAST(sqrt_scaled AS DOUBLE) / CAST(sum(sqrt_scaled) OVER () AS DOUBLE) AS weight " +
       "FROM q ORDER BY source"),
    "x33_shuffle_shards" ->
      ("WITH h AS (SELECT doc_id, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM documents) " +
       "SELECT doc_id, CAST(h % 8 AS INT) AS shard, " +
       "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos " +
       "FROM h ORDER BY shard, pos"),
    "x81_shard_manifest" ->
      // content_digest = md5 over the shard's per-doc md5s concatenated in
      // shard order: string_agg(... ORDER BY pos) mirrors Spark's
      // collect_list(struct(pos, md5)) -> array_sort -> array_join
      ("WITH h AS (SELECT doc_id, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM documents), " +
       "a AS (SELECT doc_id, CAST(h % 8 AS INT) AS shard, " +
       "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos FROM h), " +
       "d AS (SELECT doc_id, md5(text) AS dmd5, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok, n_chars FROM documents) " +
       "SELECT a.shard, count(*) AS n_docs, CAST(sum(d.ntok) AS BIGINT) AS n_tokens, " +
       "CAST(sum(d.n_chars) AS BIGINT) AS n_chars, " +
       "md5(string_agg(d.dmd5, '' ORDER BY a.pos)) AS content_digest " +
       "FROM a JOIN d ON a.doc_id = d.doc_id GROUP BY a.shard ORDER BY a.shard"),
    "x81b_auto_manifest" ->
      // production form: shard count re-derived from the oracle's own
      // count(*) — shards = ceil(n/64), integer floor-div on both engines
      ("WITH sc AS (SELECT CAST((count(*) + 63) // 64 AS BIGINT) AS s FROM documents), " +
       "h AS (SELECT doc_id, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM documents), " +
       "a AS (SELECT doc_id, CAST(h % s AS INT) AS shard, " +
       "CAST(row_number() OVER (PARTITION BY h % s ORDER BY h, doc_id) AS INT) AS pos FROM h, sc), " +
       "d AS (SELECT doc_id, md5(text) AS dmd5, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok, n_chars FROM documents) " +
       "SELECT a.shard, count(*) AS n_docs, CAST(sum(d.ntok) AS BIGINT) AS n_tokens, " +
       "CAST(sum(d.n_chars) AS BIGINT) AS n_chars, " +
       "md5(string_agg(d.dmd5, '' ORDER BY a.pos)) AS content_digest " +
       "FROM a JOIN d ON a.doc_id = d.doc_id GROUP BY a.shard ORDER BY a.shard"),
    "x35_incremental_dedup" -> x35IncrementalSql,
    // e15 streams the SAME odd half against the PERSISTED even-half
    // signature index via foreachBatch — statuses are per-doc pure, so
    // the streamed form shares x35's oracle verbatim (the e5/e11 pattern)
    "e15_stream_ingest_dedup" -> x35IncrementalSql,
    "e16_stream_quality_router" ->
      // train/score split of the x59 oracle: the LM's counts come from the
      // even (historical) half only; quality/classifier votes and the
      // verdict are evaluated on the odd (incoming) half. Statuses are
      // per-doc pure given the frozen model, so streamed == batch.
      (s"WITH q AS ($x8QualitySql), clf AS ($x57ClfSql), " +
       "big AS (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "UNNEST(range(1, len(t))) AS u(i)), " +
       "cb AS (SELECT w1, bigram, count(*) AS c_big FROM big WHERE doc_id % 2 = 0 GROUP BY 1, 2), " +
       "cu AS (SELECT w1, count(*) AS c_uni FROM big WHERE doc_id % 2 = 0 GROUP BY 1), " +
       "lm AS (SELECT bigram, (c_big * 1000000) // c_uni AS ppm FROM cb JOIN cu USING (w1)), " +
       "sc AS (SELECT doc_id, count(*) AS n, CAST(sum(ppm) AS BIGINT) AS sp " +
       "FROM big JOIN lm USING (bigram) WHERE doc_id % 2 = 1 GROUP BY 1) " +
       "SELECT q.doc_id, q.v_q, COALESCE(l.v_lm, 0) AS v_lm, c.v_clf, " +
       "q.v_q + COALESCE(l.v_lm, 0) + c.v_clf AS votes, " +
       "CASE WHEN q.v_q + COALESCE(l.v_lm, 0) + c.v_clf >= 2 THEN 'keep' ELSE 'drop' END AS verdict " +
       "FROM (SELECT doc_id, CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END AS v_q " +
       "FROM q WHERE doc_id % 2 = 1) q " +
       "LEFT JOIN (SELECT doc_id, CASE WHEN CAST(sp AS DOUBLE) / n >= 200000 THEN 1 ELSE 0 END AS v_lm FROM sc) l " +
       "ON l.doc_id = q.doc_id " +
       "JOIN (SELECT doc_id, CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END AS v_clf " +
       "FROM clf WHERE doc_id % 2 = 1) c " +
       "ON c.doc_id = q.doc_id ORDER BY q.doc_id"),
    "x36_length_filter" ->
      ("WITH hist AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1), " +
       "c AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum, " +
       "sum(cnt) OVER () AS total FROM hist), " +
       "th AS (SELECT min(CASE WHEN cum*100 >= total*5 THEN n_chars END) AS lo, " +
       "min(CASE WHEN cum*100 >= total*95 THEN n_chars END) AS hi FROM c) " +
       "SELECT doc_id, n_chars FROM documents, th " +
       "WHERE n_chars BETWEEN lo AND hi ORDER BY doc_id"),
    "x38_training_set" ->
      ("WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), " +
       "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
       "flat AS (SELECT DISTINCT doc_id, " +
       "CAST(concat('0x', substr(md5(sx), 1, 15)) AS BIGINT) AS h " +
       "FROM (SELECT doc_id, unnest(s) AS sx FROM sh)), " +
       "bench AS (SELECT DISTINCT h FROM flat WHERE doc_id % 17 = 0), " +
       "clean AS (SELECT c.doc_id FROM (SELECT doc_id, h FROM flat WHERE doc_id % 17 <> 0) c " +
       "LEFT JOIN bench b USING (h) GROUP BY c.doc_id HAVING count(b.h) * 5 < count(*)), " +
       "hist AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1), " +
       "cm AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum, " +
       "sum(cnt) OVER () AS total FROM hist), " +
       "th AS (SELECT min(CASE WHEN cum*100 >= total*5 THEN n_chars END) AS lo, " +
       "min(CASE WHEN cum*100 >= total*95 THEN n_chars END) AS hi FROM cm) " +
       "SELECT d.doc_id FROM documents d, th " +
       "WHERE d.n_chars BETWEEN lo AND hi " +
       "AND d.doc_id IN (SELECT doc_id FROM keepers) " +
       "AND d.doc_id IN (SELECT doc_id FROM clean) ORDER BY d.doc_id"),
    "x65_filter_funnel" ->
      // the x38 cascade's rules in fixed order with per-stage attrition;
      // stage-3 survivors must equal x38's training set (spec-reconciled)
      (s"WITH $x65FlagsCtes, " +
       "cnt AS (SELECT count(*) AS n0, sum(f1) AS n1, sum(f1*f2) AS n2, " +
       "sum(f1*f2*f3) AS n3, sum(f1*f2*f3*f4) AS n4 FROM flags) " +
       "SELECT * FROM (" +
       "SELECT CAST(1 AS INT) AS stage, 'exact_dedup' AS rule, CAST(n0 AS BIGINT) AS n_in, " +
       "CAST(n0 - n1 AS BIGINT) AS n_dropped, CAST(n1 AS BIGINT) AS n_out FROM cnt " +
       "UNION ALL SELECT CAST(2 AS INT), 'decontaminate', CAST(n1 AS BIGINT), " +
       "CAST(n1 - n2 AS BIGINT), CAST(n2 AS BIGINT) FROM cnt " +
       "UNION ALL SELECT CAST(3 AS INT), 'length_interval', CAST(n2 AS BIGINT), " +
       "CAST(n2 - n3 AS BIGINT), CAST(n3 AS BIGINT) FROM cnt " +
       "UNION ALL SELECT CAST(4 AS INT), 'quality_floor', CAST(n3 AS BIGINT), " +
       "CAST(n3 - n4 AS BIGINT), CAST(n4 AS BIGINT) FROM cnt" +
       ") ORDER BY stage"),
    "x37_curation_report" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tok), " +
       "p AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT)+1] AS w2 FROM idx), " +
       "c AS (SELECT doc_id, w1, w2, count(*) AS n FROM p GROUP BY 1, 2, 3), " +
       "rep AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams, " +
       "count(*) AS n_distinct_bigrams, " +
       "CAST(sum(n) - count(*) AS DOUBLE)/CAST(sum(n) AS BIGINT) AS dup_bigram_frac, " +
       "CAST(max(n) AS DOUBLE)/CAST(sum(n) AS BIGINT) AS top_bigram_share " +
       "FROM c GROUP BY doc_id), " +
       "lang AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
       "CASE WHEN score_en = best AND best > 0 THEN 'en' WHEN score_de = best AND best > 0 THEN 'de' " +
       "WHEN score_fr = best AND best > 0 THEN 'fr' WHEN score_es = best AND best > 0 THEN 'es' " +
       "ELSE 'unknown' END AS predicted_lang FROM (SELECT doc_id, text, " +
       s"${markerSql("en")} AS score_en, ${markerSql("de")} AS score_de, " +
       s"${markerSql("fr")} AS score_fr, ${markerSql("es")} AS score_es, " +
       s"greatest(${markerSql("en")}, ${markerSql("de")}, ${markerSql("fr")}, ${markerSql("es")}) AS best " +
       "FROM documents)) " +
       "SELECT r.doc_id, l.predicted_lang, l.n_tokens, r.n_bigrams, " +
       "r.n_distinct_bigrams, r.dup_bigram_frac, r.top_bigram_share " +
       "FROM rep r JOIN lang l ON r.doc_id = l.doc_id ORDER BY r.doc_id"),
    "x34_clean_text" ->
      ("WITH c AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS ct " +
       "FROM documents), " +
       "t AS (SELECT doc_id, list_filter(string_split(ct, ' '), x -> len(x) >= 3 " +
       "AND x NOT IN ('the', 'a', 'of', 'and', 'to', 'in')) AS toks FROM c) " +
       "SELECT doc_id, array_to_string(toks, ' ') AS clean_text, " +
       "CAST(len(toks) AS INT) AS n_tokens_kept FROM t ORDER BY doc_id"),
    "x39_span_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents WHERE length(text) > 0), " +
       "s AS (SELECT doc_id, CAST(i AS INT) AS span_idx, " +
       "array_to_string(ts[CAST(i*4+1 AS INT) : CAST(i*4+4 AS INT)], ' ') AS span " +
       "FROM t, UNNEST(range(CAST(floor((len(ts)-1)/4.0) AS BIGINT) + 1)) AS u(i)), " +
       "k AS (SELECT doc_id, span_idx, span, " +
       "min(doc_id*1000000 + span_idx) OVER (PARTITION BY " +
       "CAST(concat('0x', substr(md5(span), 1, 15)) AS BIGINT)) AS fk FROM s) " +
       "SELECT doc_id, CAST(count(*) AS INT) AS n_spans_kept, " +
       "string_agg(span, ' ' ORDER BY span_idx) AS dedup_text " +
       "FROM k WHERE doc_id*1000000 + span_idx = fk " +
       "GROUP BY doc_id ORDER BY doc_id"),
    "x40_pii_redact" ->
      ("WITH a AS (SELECT doc_id, concat(text, ' contact user', CAST(doc_id AS VARCHAR), " +
       "'@mail.com phone 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS aug FROM documents), " +
       "r AS (SELECT doc_id, regexp_replace(regexp_replace(aug, " +
       "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
       "'\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS redacted FROM a) " +
       "SELECT doc_id, redacted, " +
       "CAST((length(redacted) - length(replace(redacted, '<EMAIL>', '')))/7 AS INT) AS n_emails, " +
       "CAST((length(redacted) - length(replace(redacted, '<PHONE>', '')))/7 AS INT) AS n_phones " +
       "FROM r ORDER BY doc_id"),
    "x42_semantic_dedup" ->
      (s"WITH $normCte, " +
       "cents AS (SELECT vec_id AS cell_id, vec AS cvec, norm AS cnorm FROM nrm WHERE vec_id < 16), " +
       "assigned AS (SELECT vec_id, vec, norm, cell_id FROM (" +
       s"SELECT n.vec_id, n.vec, n.norm, c.cell_id, row_number() OVER (PARTITION BY n.vec_id ORDER BY ${dotSql("n.vec", "c.cvec")}/(n.norm*c.cnorm) DESC, c.cell_id) AS rn " +
       "FROM nrm n, cents c) WHERE rn = 1), " +
       "dups AS (SELECT b.vec_id AS vec_id, count(*) AS n_dup_of " +
       "FROM assigned a JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id " +
       s"WHERE ${dotSql("a.vec", "b.vec")}/(a.norm*b.norm) >= 0.35 GROUP BY b.vec_id) " +
       "SELECT s.vec_id, s.cell_id, CAST(coalesce(d.n_dup_of, 0) AS BIGINT) AS n_dup_of, " +
       "CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept " +
       "FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id ORDER BY s.vec_id"),
    "x41_rarity_score" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
       "v AS (SELECT token, count(*) AS n FROM tok GROUP BY 1), " +
       "r AS (SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rnk FROM v) " +
       "SELECT doc_id, count(*) AS n_tokens, CAST(sum(rnk) AS BIGINT) AS sum_rank, " +
       "CAST(max(rnk) AS BIGINT) AS max_rank, " +
       "(CAST(sum(rnk) AS BIGINT) * 1000000) // count(*) AS mean_rank_ppm " +
       "FROM tok JOIN r USING (token) GROUP BY doc_id ORDER BY doc_id"),
    "x79_source_quality" ->
      // fixed tenth-bands of the x8 score (bit-identical doubles → same
      // banding); per-source share in integer ppm
      (s"WITH q AS ($x8QualitySql), " +
       "b AS (SELECT d.source, CAST(least(9, floor(q.quality_score * 10)) AS INT) AS band " +
       "FROM q JOIN documents d ON d.doc_id = q.doc_id), " +
       "c AS (SELECT source, band, count(*) AS n_docs FROM b GROUP BY 1, 2), " +
       "t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_total FROM c GROUP BY 1) " +
       "SELECT c.source, c.band, CAST(c.n_docs AS BIGINT) AS n_docs, " +
       "CAST(c.n_docs * 1000000 // t.n_total AS BIGINT) AS share_ppm " +
       "FROM c JOIN t ON t.source = c.source ORDER BY c.source, c.band"),
    "x77_feature_hash" ->
      // hashing trick: bucket = md5-60-bit % 16, sign = next hash bit;
      // long-format sparse output (absent bucket = untouched; 0 = signs
      // cancelled)
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
       "f AS (SELECT doc_id, " +
       "CAST(CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) % 16 AS INT) AS bucket, " +
       "CASE WHEN CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) % 32 < 16 " +
       "THEN 1 ELSE -1 END AS sgn FROM tok WHERE length(token) > 0) " +
       "SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feature " +
       "FROM f GROUP BY doc_id, bucket ORDER BY doc_id, bucket"),
    "x43_column_profile" ->
      ("WITH t AS (SELECT count(*) AS n, " +
       Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber").zipWithIndex.map {
         case (c, i) =>
           s"count($c) AS c$i, count(DISTINCT $c) AS d$i, min($c) AS mn$i, max($c) AS mx$i"
       }.mkString(", ") +
       " FROM lineitem) " +
       Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber").zipWithIndex.map {
         case (c, i) =>
           s"SELECT '$c' AS column_name, n - c$i AS n_nulls, c$i AS n_non_null, " +
           s"d$i AS n_distinct, mn$i AS min_val, mx$i AS max_val FROM t"
       }.mkString(" UNION ALL ") +
       " ORDER BY column_name"),
    "x44_resample_ffill" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n " +
       "FROM events WHERE user_id % 97 = 0 GROUP BY 1, 2), " +
       "span AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), " +
       "grid AS (SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d FROM span), " +
       "j AS (SELECT g.event_type, g.d, daily.n FROM grid g " +
       "LEFT JOIN daily ON g.event_type = daily.event_type AND g.d = daily.d) " +
       "SELECT event_type, d, coalesce(n, 0) AS n_observed, " +
       "coalesce(last_value(n IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS n_filled, " +
       "CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS INT) AS was_gap " +
       "FROM j ORDER BY event_type, d"),
    "x45_pagerank" -> {
      // unrolled fixed-iteration integer PageRank (3 rounds); every
      // division floors on positive BIGINTs in both engines, every DuckDB
      // sum is cast back from HUGEINT before the next round's arithmetic
      def round(prev: String, cur: String): String =
        s"$cur AS (SELECT n.node, 150000 + (850 * coalesce(s.in_sum, 0)) // 1000 AS rank_ppm " +
        s"FROM nodes n LEFT JOIN (SELECT e.dst, CAST(sum((r.rank_ppm * e.w) // ow.out_w) AS BIGINT) AS in_sum " +
        s"FROM edges e JOIN outw ow ON e.src = ow.src JOIN $prev r ON r.node = e.src GROUP BY 1) s " +
        "ON n.node = s.dst)"
      "WITH edges AS (SELECT CAST(c.c_nationkey AS BIGINT) AS src, CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS w " +
      "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
      "JOIN customer c ON o.o_custkey = c.c_custkey " +
      "JOIN supplier s ON l.l_suppkey = s.s_suppkey GROUP BY 1, 2), " +
      "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY 1), " +
      "nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges), " +
      "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_ppm FROM nodes), " +
      round("r0", "r1") + ", " + round("r1", "r2") + ", " + round("r2", "r3") + " " +
      "SELECT r.node, nn.n_name, CAST(r.rank_ppm AS BIGINT) AS rank_ppm FROM r3 r " +
      "JOIN nation nn ON r.node = nn.n_nationkey ORDER BY r.node"
    },
    "x46_mixture_epochs" ->
      ("WITH ps AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
       "sq AS (SELECT lang, n_docs, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS sqrt_scaled FROM ps), " +
       // HUGEINT internals mirror the Spark side's decimal(38,0) factor
       // arithmetic (int64 would overflow at ~1M monolingual docs); the
       // quotient is ppm-scale so it casts back to BIGINT losslessly
       "f AS (SELECT lang, CAST((CAST(sqrt_scaled AS HUGEINT) * (SELECT CAST(sum(n_docs) AS BIGINT) FROM sq) * 1000000) // " +
       "(CAST((SELECT CAST(sum(sqrt_scaled) AS BIGINT) FROM sq) AS HUGEINT) * n_docs) AS BIGINT) AS factor_ppm FROM sq), " +
       "d AS (SELECT doc_id, d.lang, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS md5_ppm, " +
       "factor_ppm FROM documents d JOIN f ON d.lang = f.lang), " +
       "c AS (SELECT doc_id, lang, factor_ppm // 1000000 + " +
       "CASE WHEN md5_ppm < factor_ppm % 1000000 THEN 1 ELSE 0 END AS n_copies FROM d) " +
       "SELECT doc_id, lang, CAST(unnest(range(1, CAST(n_copies AS BIGINT) + 1)) AS INT) AS copy_idx " +
       "FROM c WHERE n_copies >= 1 ORDER BY doc_id, copy_idx"),
    "x51_importance_resample" ->
      // HUGEINT internals mirror the Spark side's decimal(38,0) ratio
      // arithmetic (see x46); bigram i = 1..len-1, whole-text fallback for
      // 1-token docs matches the Spark bigrams construction
      ("WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents), " +
       "bgl AS (SELECT doc_id, lang, CASE WHEN len(t) >= 2 " +
       "THEN list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1])) " +
       "ELSE [array_to_string(t, ' ')] END AS bgs FROM tok), " +
       "f AS (SELECT DISTINCT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_tgt, " +
       "CAST(concat('0x', substr(md5(bg), 1, 15)) AS BIGINT) % 1024 AS h " +
       "FROM bgl, UNNEST(bgs) AS u(bg)), " +
       "b AS (SELECT h, CAST(sum(is_tgt) AS BIGINT) AS n_tgt, " +
       "CAST(sum(1 - is_tgt) AS BIGINT) AS n_raw FROM f GROUP BY 1), " +
       "bt AS (SELECT h, CAST(((CAST(n_tgt AS HUGEINT) + 1) * " +
       "((SELECT CAST(sum(n_raw) AS BIGINT) FROM b) + 1024) * 1000000) // " +
       "((CAST(n_raw AS HUGEINT) + 1) * ((SELECT CAST(sum(n_tgt) AS BIGINT) FROM b) + 1024)) " +
       "AS BIGINT) AS w_ppm FROM b), " +
       "s AS (SELECT doc_id, count(*) AS n_feat, " +
       "CAST((CAST(sum(w_ppm) AS HUGEINT) // count(*)) AS BIGINT) AS score_ppm " +
       "FROM f JOIN bt USING (h) GROUP BY 1) " +
       "SELECT doc_id, n_feat, score_ppm, " +
       "CASE WHEN score_ppm >= 1000000 THEN 1 ELSE 0 END AS keep " +
       "FROM s ORDER BY doc_id"),
    "x52_pack_chop" ->
      // x33's md5 shard/order keys; running token offset per shard in
      // shuffle order; a doc spans sequences begin0//L .. end0//L with
      // fragment bounds clamped to each sequence's 256-token window
      ("WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h " +
       "FROM documents), " +
       "s AS (SELECT doc_id, n_tok, h, CAST(h % 8 AS INT) AS shard FROM d), " +
       // sum() over BIGINT returns HUGEINT in DuckDB — cast back down
       "o AS (SELECT *, CAST(COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS begin0 FROM s), " +
       "e AS (SELECT *, begin0 + n_tok - 1 AS end0 FROM o) " +
       "SELECT shard, CAST(u.seq AS INT) AS seq_id, doc_id, " +
       "greatest(begin0, u.seq * 256) - begin0 + 1 AS frag_begin, " +
       "least(end0, (u.seq + 1) * 256 - 1) - greatest(begin0, u.seq * 256) + 1 AS frag_len " +
       "FROM e, UNNEST(range(begin0 // 256, end0 // 256 + 1)) AS u(seq) " +
       "ORDER BY shard, seq_id, doc_id"),
    "x54_stratified_sample" ->
      // salted md5 coin ('strat:' prefix decorrelates from x33's shard
      // hash); smallest-k keys per lang = uniform without-replacement
      ("WITH d AS (SELECT lang, doc_id, " +
       "CAST(concat('0x', substr(md5(concat('strat:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h " +
       "FROM documents), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM d) " +
       "SELECT lang, doc_id, h FROM r WHERE rn <= 25 ORDER BY lang, doc_id"),
    "x50_cumulative_users" ->
      ("WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
       "daily AS (SELECT d, count(*) AS new_users FROM fs GROUP BY 1) " +
       "SELECT d, new_users, CAST(sum(new_users) OVER (ORDER BY d " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users " +
       "FROM daily ORDER BY d"),
    "x49_fuzzy_join" ->
      ("WITH n AS (SELECT DISTINCT p_name FROM part), " +
       "b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM n) " +
       "SELECT a.p_name AS name_a, c.p_name AS name_b, " +
       "CAST(levenshtein(a.p_name, c.p_name) AS INT) AS dist " +
       "FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name " +
       "WHERE levenshtein(a.p_name, c.p_name) <= 3 ORDER BY name_a, name_b"),
    "x47_bm25_rank" ->
      (s"WITH $bm25Ctes " +
       "SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS score_ppm FROM sc3 GROUP BY 1 " +
       "ORDER BY score_ppm DESC, doc_id LIMIT 20"),
    "x48_hybrid_rrf" ->
      (s"WITH $bm25Ctes, " +
       "bs AS (SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS score_ppm FROM sc3 GROUP BY 1), " +
       "bt AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS INT) AS rank_text " +
       "FROM bs QUALIFY rank_text <= 50), " +
       s"$normCte, " +
       "qv AS (SELECT vec AS qv, norm AS qn FROM nrm WHERE vec_id = 0), " +
       s"vs AS (SELECT n.vec_id, ${dotSql("qv.qv", "n.vec")}/(qv.qn*n.norm) AS sim " +
       "FROM nrm n, qv WHERE n.vec_id <> 0), " +
       "vrk AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank_vec " +
       "FROM vs QUALIFY rank_vec <= 50), " +
       "f AS (SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id, COALESCE(t.rank_text, 0) AS rank_text, " +
       "COALESCE(v.rank_vec, 0) AS rank_vec FROM bt t FULL OUTER JOIN vrk v ON t.doc_id = v.doc_id) " +
       "SELECT doc_id, rank_text, rank_vec, " +
       "CAST(CASE WHEN rank_text > 0 THEN 1000000 // (60 + rank_text) ELSE 0 END + " +
       "CASE WHEN rank_vec > 0 THEN 1000000 // (60 + rank_vec) ELSE 0 END AS BIGINT) AS rrf_ppm " +
       "FROM f ORDER BY rrf_ppm DESC, doc_id LIMIT 20"),
    "e4_funnel" ->
      ("WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events WHERE event_type='view' GROUP BY 1), " +
       "c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e " +
       "JOIN v ON e.user_id = v.user_id AND e.ts >= v.view_ts WHERE e.event_type='click' GROUP BY 1), " +
       "p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e " +
       "JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts WHERE e.event_type='purchase' GROUP BY 1) " +
       "SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts FROM v " +
       "LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id ORDER BY v.user_id"),
    "f13_zorder_key" ->
      ("SELECT l_orderkey, l_linenumber, (" +
       (0 until 16).map { i =>
         s"(((CAST(l_partkey % 65536 AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
         s"(((CAST(l_suppkey % 65536 AS BIGINT) >> $i) & 1) << ${2 * i + 1})"
       }.mkString(" + ") +
       ") AS zkey FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "x93_boilerplate_ratio" ->
      // per-source shingle doc-frequency vs the source's doc count; a doc's
      // ratio counts boilerplate shingle OCCURRENCES over all its shingles
      (s"WITH occ AS (SELECT doc_id, source, unnest($shingleListSql) AS sh " +
       "FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)), " +
       "sd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM occ GROUP BY source), " +
       "df AS (SELECT source, sh, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1, 2), " +
       "b AS (SELECT df.source, df.sh FROM df JOIN sd ON sd.source = df.source " +
       "WHERE df.df * 100 >= sd.n_docs * 30) " +
       "SELECT occ.doc_id, occ.source, count(*) AS n_shingles, " +
       "CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler, " +
       "CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS boiler_ratio " +
       "FROM occ LEFT JOIN b ON b.source = occ.source AND b.sh = occ.sh " +
       "GROUP BY occ.doc_id, occ.source ORDER BY occ.doc_id"),
    "x94_priority_sample" ->
      // Duffield–Lund–Thorup priority q = w/u; u = (first 52 md5 bits + 1)
      // / 2^52 — a dyadic rational, exact as a double, so the division is
      // the same IEEE op in both engines; τ = the (k+1)-th priority
      ("WITH pr AS (SELECT source, doc_id, n_chars AS weight, " +
       "CAST(n_chars AS DOUBLE) / " +
       "((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1) " +
       "/ 4503599627370496.0) AS priority FROM documents), " +
       "r AS (SELECT *, CAST(row_number() OVER " +
       "(PARTITION BY source ORDER BY priority DESC, doc_id) AS INT) AS rank FROM pr), " +
       "tau AS (SELECT source, priority AS tau FROM r WHERE rank = 6) " +
       "SELECT r.source, r.rank, r.doc_id, r.weight, r.priority, " +
       "greatest(CAST(r.weight AS DOUBLE), COALESCE(tau.tau, 0.0)) AS est_weight " +
       "FROM r LEFT JOIN tau ON tau.source = r.source WHERE r.rank <= 5 " +
       "ORDER BY r.source, r.rank"),
    "x95_source_overlap" ->
      (s"WITH sh AS (SELECT DISTINCT source, sh FROM (SELECT source, unnest($shingleListSql) AS sh " +
       "FROM (SELECT source, string_split(text, ' ') AS t FROM documents))), " +
       "ps AS (SELECT source, count(*) AS n_distinct FROM sh GROUP BY source), " +
       "p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared " +
       "FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2) " +
       "SELECT source_a, source_b, n_shared, pa.n_distinct AS n_a, pb.n_distinct AS n_b, " +
       "CAST(n_shared AS DOUBLE)/(pa.n_distinct + pb.n_distinct - n_shared) AS jaccard " +
       "FROM p JOIN ps pa ON pa.source = source_a JOIN ps pb ON pb.source = source_b " +
       "ORDER BY source_a, source_b"),
    "x96_embed_dim_profile" ->
      // moments in exact integer milli-units (floor(v*1000)) so the sums
      // are order-free; mean/variance are single divisions of exact longs
      ("WITH v AS (SELECT unnest(range(len(embedding))) AS dim, unnest(embedding) AS v " +
       "FROM embeddings), " +
       "m AS (SELECT dim, CAST(v AS DOUBLE) AS vd, " +
       "CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT) AS m FROM v) " +
       "SELECT dim, count(*) AS n, " +
       "CAST(sum(m) AS DOUBLE)/count(*) AS mean_milli, " +
       "CAST(count(*)*sum(m*m) - sum(m)*sum(m) AS DOUBLE)/CAST(count(*)*count(*) AS DOUBLE) AS var_milli2, " +
       "min(vd) AS min_v, max(vd) AS max_v " +
       "FROM m GROUP BY dim ORDER BY dim"),
    "x97_curriculum_order" ->
      (s"WITH q AS ($x8QualitySql), " +
       "d AS (SELECT d.doc_id, d.source, q.quality_score FROM documents d " +
       "JOIN q ON q.doc_id = d.doc_id), " +
       "t AS (SELECT *, CAST(ntile(10) OVER (ORDER BY quality_score DESC, doc_id) AS INT) AS decile FROM d), " +
       "s AS (SELECT *, CAST(row_number() OVER " +
       "(PARTITION BY decile, source ORDER BY quality_score DESC, doc_id) AS INT) AS src_rank FROM t) " +
       "SELECT CAST(row_number() OVER (ORDER BY decile, src_rank, source, doc_id) AS INT) AS curriculum_rank, " +
       "doc_id, source, decile, src_rank FROM s ORDER BY curriculum_rank"),
    "x99_pmi_collocations" ->
      // association ratio p(ab)/(p(a)p(b)) from exact long counts; the log
      // is monotone and omitted, the divisions are fixed-order IEEE ops
      ("WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents), " +
       "bi AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM " +
       "(SELECT t, unnest(range(1, len(t))) AS i FROM tok)), " +
       "pc0 AS (SELECT w1, w2, count(*) AS n_ab FROM bi GROUP BY 1, 2), " +
       "pc AS (SELECT * FROM pc0 WHERE n_ab >= 5), " +
       "uc AS (SELECT w, count(*) AS n_w FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w), " +
       "tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_uni FROM uc), " +
       "bt AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM pc0) " +
       "SELECT w1, w2, n_ab, a.n_w AS n_a, b.n_w AS n_b, " +
       "(CAST(n_ab AS DOUBLE)/n_bi) / ((CAST(a.n_w AS DOUBLE)/n_uni) * (CAST(b.n_w AS DOUBLE)/n_uni)) AS assoc_ratio " +
       "FROM pc JOIN uc a ON a.w = pc.w1 JOIN uc b ON b.w = pc.w2, tot, bt " +
       "ORDER BY assoc_ratio DESC, w1, w2 LIMIT 30"),
    "x105_source_datacard" ->
      // the per-source datasheet: volume + quality (floor-ppm mean of the
      // x8 score) + modal language (ties to the larger label, mirroring
      // max-of-struct) + distinct-3 diversity + CC-artifact dup share
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT DISTINCT node FROM reach), " +
       s"q AS ($x8QualitySql), " +
       "lang AS (SELECT doc_id, CASE WHEN score_en = best AND best > 0 THEN 'en' " +
       "WHEN score_de = best AND best > 0 THEN 'de' " +
       "WHEN score_fr = best AND best > 0 THEN 'fr' " +
       "WHEN score_es = best AND best > 0 THEN 'es' ELSE 'unknown' END AS predicted_lang " +
       "FROM (SELECT doc_id, " +
       s"${markerSql("en")} AS score_en, ${markerSql("de")} AS score_de, " +
       s"${markerSql("fr")} AS score_fr, ${markerSql("es")} AS score_es, " +
       s"greatest(${markerSql("en")}, ${markerSql("de")}, ${markerSql("fr")}, ${markerSql("es")}) AS best " +
       "FROM documents)), " +
       "base AS (SELECT d.doc_id, d.source, " +
       "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, " +
       "CAST(floor(q.quality_score * 1000000.0) AS BIGINT) AS q_ppm, l.predicted_lang " +
       "FROM documents d JOIN q ON q.doc_id = d.doc_id JOIN lang l ON l.doc_id = d.doc_id), " +
       "per AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
       "CAST(sum(q_ppm) AS BIGINT) // count(*) AS mean_quality_ppm FROM base GROUP BY source), " +
       "lc AS (SELECT source, predicted_lang, count(*) AS n FROM base GROUP BY 1, 2), " +
       "lm AS (SELECT source, predicted_lang AS top_lang, n AS top_lang_docs FROM " +
       "(SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, predicted_lang DESC) AS rn " +
       "FROM lc) WHERE rn = 1), " +
       s"shg AS (SELECT source, count(*) AS n_sh, count(DISTINCT g) AS n_sh_d FROM " +
       s"(SELECT source, unnest($shingleListSql) AS g FROM " +
       "(SELECT source, string_split(text, ' ') AS t FROM documents)) GROUP BY source), " +
       "dup AS (SELECT d.source, count(*) AS dup_docs FROM documents d " +
       "JOIN cl ON cl.node = d.doc_id GROUP BY d.source) " +
       "SELECT per.source, per.n_docs, per.n_tokens, per.mean_quality_ppm, " +
       "lm.top_lang, lm.top_lang_docs * 1000000 // per.n_docs AS top_lang_ppm, " +
       "CAST(shg.n_sh_d AS DOUBLE)/shg.n_sh AS distinct3_ratio, " +
       "COALESCE(dup.dup_docs, 0) AS dup_docs, " +
       "CAST(COALESCE(dup.dup_docs, 0) AS DOUBLE)/per.n_docs AS dup_rate " +
       "FROM per JOIN lm ON lm.source = per.source JOIN shg ON shg.source = per.source " +
       "LEFT JOIN dup ON dup.source = per.source ORDER BY per.source"),
    "x106_kcore_peel" ->
      // six chained peel rounds over the x15 pair graph (idempotent once
      // converged — both fixtures converge in one); peel_layer 0 = the
      // 2-core survivors with their in-core degree. Every CTE in the chain
      // is MATERIALIZED: each e_r is referenced three times (next round's
      // FROM plus both NOT IN prunes), so inlining would re-evaluate the
      // expensive pairs CTE O(3^rounds) times.
      (s"WITH pairs AS MATERIALIZED ($x15PairsSql), ${kcoreSql(2, 6)} ORDER BY doc_id"),
    "x107_cluster_size_profile" ->
      // CC reachability (the x17 oracle) → component sizes → histogram;
      // size-1 row = docs absent from the label table
      (s"WITH RECURSIVE pairs AS MATERIALIZED ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "lab AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM lab GROUP BY 1), " +
       "hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM sz GROUP BY 1), " +
       "single AS (SELECT CAST(1 AS BIGINT) AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters " +
       "FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM lab)), " +
       "u AS (SELECT * FROM hist UNION ALL SELECT * FROM single WHERE n_clusters > 0) " +
       "SELECT cluster_size, n_clusters, CAST(cluster_size * n_clusters AS BIGINT) AS n_docs " +
       "FROM u ORDER BY cluster_size"),
    "x108_cross_source_dup" ->
      // verified pairs labeled by source, orientation normalized
      // source-lexically; mean similarity from exact micro-quantized longs
      (s"WITH pairs AS ($x15PairsSql) " +
       "SELECT least(da.source, db.source) AS source_a, " +
       "greatest(da.source, db.source) AS source_b, " +
       "CAST(count(*) AS BIGINT) AS n_pairs, " +
       "CAST(CAST(sum(CAST(floor(p.jaccard * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) " +
       "/ count(*) AS mean_jaccard_micro " +
       "FROM pairs p JOIN documents da ON da.doc_id = p.id_a " +
       "JOIN documents db ON db.doc_id = p.id_b " +
       "GROUP BY 1, 2 ORDER BY 1, 2"),
    "x109_embedding_drift" ->
      // md5-coin halves; per-dim milli-sums are exact longs, the
      // cross-multiplied numerator Σ(sa·n_b − sb·n_a)² is one BIGINT, and
      // drift is two IEEE divisions by the identical double denominator —
      // bit-exact vs Similarity.embeddingDrift
      ("WITH h AS (SELECT vec_id, label, embedding, " +
       "CASE WHEN CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)),1,2)) AS INT) < 128 " +
       "THEN 'a' ELSE 'b' END AS half FROM embeddings), " +
       "cnt AS (SELECT label, CAST(count(*) FILTER (WHERE half = 'a') AS BIGINT) AS n_a, " +
       "CAST(count(*) FILTER (WHERE half = 'b') AS BIGINT) AS n_b FROM h GROUP BY label), " +
       "v AS (SELECT label, half, unnest(range(len(embedding))) AS dim, " +
       "unnest(embedding) AS v FROM h), " +
       "s AS (SELECT label, dim, " +
       "COALESCE(CAST(sum(CASE WHEN half = 'a' THEN CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT) END) AS BIGINT), 0) AS sa, " +
       "COALESCE(CAST(sum(CASE WHEN half = 'b' THEN CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT) END) AS BIGINT), 0) AS sb " +
       "FROM v GROUP BY 1, 2), " +
       "n AS (SELECT s.label, cnt.n_a, cnt.n_b, " +
       "CAST(sum((sa * cnt.n_b - sb * cnt.n_a) * (sa * cnt.n_b - sb * cnt.n_a)) AS BIGINT) AS drift_num " +
       "FROM s JOIN cnt ON s.label IS NOT DISTINCT FROM cnt.label GROUP BY 1, 2, 3) " +
       "SELECT label, n_a, n_b, " +
       "CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(drift_num AS DOUBLE) " +
       "/ (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1000.0) " +
       "/ (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1000.0) END AS drift_sq " +
       "FROM n ORDER BY label"),
    "x110_band_recall_audit" ->
      // truth sample = the x4c simhash chunk-blocking witness (independent
      // of the bands), rescored with exact 3-gram Jaccard over the SAME
      // shd lists the x15 oracle verifies with; for a jaccard >= 0.5 truth
      // pair, band-candidate membership == x15-verified membership, so the
      // LEFT JOIN against cand mirrors the Spark side's pair-artifact join
      (shingleBandsCte + bandCandShdCte(directed = false) +
       s", $simhash16Cte, " +
       "sh16c AS (SELECT * FROM sh16 WHERE doc_id < 10000), " +
       "chs AS (SELECT doc_id, simhash16, i, CASE WHEN i = 0 THEN simhash16 & 255 " +
       "ELSE (simhash16 >> 8) & 255 END AS chunk FROM sh16c, range(0, 2) r(i)), " +
       "scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM chs a " +
       "JOIN chs b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id " +
       "AND bit_count(xor(a.simhash16, b.simhash16)) <= 1), " +
       "truth AS (SELECT id_a, id_b, jaccard FROM (SELECT c.id_a, c.id_b, " +
       "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard " +
       "FROM scand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b) " +
       "WHERE jaccard >= 0.5) " +
       "SELECT CAST(floor(t.jaccard * 10.0) AS BIGINT) AS j_bucket, " +
       "CAST(count(*) AS BIGINT) AS n_true_pairs, " +
       "CAST(sum(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found, " +
       "CAST(sum(CASE WHEN cand.id_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed, " +
       "CAST(CAST(sum(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) " +
       "/ count(*) AS recall " +
       "FROM truth t LEFT JOIN cand ON cand.id_a = t.id_a AND cand.id_b = t.id_b " +
       "GROUP BY 1 ORDER BY 1"),
    "x111_embedding_outliers" ->
      // x109's integer pattern: milli-quantized components, exact
      // cross-multiplied distance numerators; "far" is num > D + D/50
      // (D = n^2*1e6, 50 | D so exact; the big side stays unscaled);
      // dist2 is one IEEE division
      ("WITH m AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, " +
       "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS m " +
       "FROM embeddings), " +
       "s AS (SELECT label, dim, CAST(sum(m) AS BIGINT) AS sd, " +
       "CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1, 2), " +
       "num AS (SELECT m.vec_id, m.label, s.n, " +
       "CAST(sum((m.m * s.n - s.sd) * (m.m * s.n - s.sd)) AS BIGINT) AS d2num " +
       "FROM m JOIN s ON s.label = m.label AND s.dim = m.dim GROUP BY 1, 2, 3), " +
       "far AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, " +
       "CAST(sum(CASE WHEN d2num > n * n * 1000000 + n * n * 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_far " +
       "FROM num GROUP BY 1), " +
       "topk AS (SELECT label, vec_id, n, d2num, " +
       "row_number() OVER (PARTITION BY label ORDER BY d2num DESC, vec_id) AS rnk FROM num) " +
       "SELECT t.label, CAST(t.rnk AS INT) AS rnk, t.vec_id, f.n_vecs, f.n_far, " +
       "t.d2num * 1.0 / (t.n * t.n * 1e6) AS dist2 " +
       "FROM topk t JOIN far f ON f.label = t.label WHERE t.rnk <= 3 " +
       "ORDER BY t.label, t.rnk"),
    "x112_centroid_confusion" ->
      // quantization and count factors cancel inside cosine, so raw
      // milli-sum vectors stand in for centroids; each norm takes its own
      // sqrt BEFORE the product (the integer product would overflow)
      ("WITH m AS (SELECT label, unnest(range(len(embedding))) AS dim, " +
       "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS m " +
       "FROM embeddings), " +
       "s AS (SELECT label, dim, CAST(sum(m) AS BIGINT) AS sd FROM m GROUP BY 1, 2), " +
       "q AS (SELECT label, CAST(sum(sd * sd) AS BIGINT) AS qq FROM s GROUP BY 1), " +
       "d AS (SELECT a.label AS label_a, b.label AS label_b, " +
       "CAST(sum(a.sd * b.sd) AS BIGINT) AS dot_num " +
       "FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label GROUP BY 1, 2) " +
       "SELECT d.label_a, d.label_b, d.dot_num, " +
       "d.dot_num * 1.0 / (sqrt(CAST(qa.qq AS DOUBLE)) * sqrt(CAST(qb.qq AS DOUBLE))) AS cos_centroid " +
       "FROM d JOIN q qa ON qa.label = d.label_a JOIN q qb ON qb.label = d.label_b " +
       "ORDER BY d.label_a, d.label_b"),
    "x113_clf_calibration" ->
      // both signals exact per row (integer w_sum fold; x8's IEEE score);
      // the bin is floor(10*w_sum/n_tokens) via one double division, the
      // rate an integer-ppm floor-div
      (s"WITH clf AS ($x57ClfSql), q AS ($x8QualitySql), " +
       "b AS (SELECT CAST(floor(c.w_sum * 10.0 / c.n_tokens) AS BIGINT) AS margin_bin, " +
       "CASE WHEN q.quality_score >= 0.6 THEN 1 ELSE 0 END AS good " +
       "FROM clf c JOIN q ON q.doc_id = c.doc_id) " +
       "SELECT margin_bin, CAST(count(*) AS BIGINT) AS n_docs, " +
       "CAST(sum(good) AS BIGINT) AS n_good, " +
       "CAST(sum(good) AS BIGINT) * 1000000 // count(*) AS good_ppm " +
       "FROM b GROUP BY 1 ORDER BY 1"),
    "x114_knn_agreement" ->
      // majority label vote over the x55 auto-LSH KNN graph, ties to the
      // smallest label via the deterministic row_number; accuracy is an
      // integer-ppm floor-div. Bucket-less queries absent (x102's caveat)
      (s"WITH ${knnGraphCtes()}, " +
       "lab AS (SELECT vec_id, label FROM embeddings), " +
       "vote AS (SELECT k.vec_id, q.label AS q_label, n.label AS n_label, " +
       "count(*) AS cnt FROM knn k JOIN lab q ON q.vec_id = k.vec_id " +
       "JOIN lab n ON n.vec_id = k.neighbor_id GROUP BY 1, 2, 3), " +
       "win AS (SELECT vec_id, q_label, n_label, row_number() OVER " +
       "(PARTITION BY vec_id ORDER BY cnt DESC, n_label) AS rn FROM vote) " +
       "SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries, " +
       "CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
       "CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) * 1000000 " +
       "// count(*) AS acc_ppm " +
       "FROM win WHERE rn = 1 GROUP BY 1 ORDER BY 1"),
    "x115_jl_distortion" ->
      // md5-derived +-1 sign matrix regenerated identically; projections,
      // both squared distances and the ratio are exact integers end to
      // end; the pair sample is the deterministic (i, i+1) id chain
      ("WITH m AS (SELECT vec_id, unnest(range(len(embedding))) AS dim, " +
       "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS m " +
       "FROM embeddings), " +
       "sg AS (SELECT t.t, d.dim, " +
       "(CAST(concat('0x', substr(md5(concat(CAST(t.t AS VARCHAR), ':', CAST(d.dim AS VARCHAR))), 1, 2)) AS BIGINT) % 2) * 2 - 1 AS s " +
       "FROM range(0, 16) t(t), range(0, 64) d(dim)), " +
       "pr AS (SELECT m.vec_id, sg.t, CAST(sum(sg.s * m.m) AS BIGINT) AS p " +
       "FROM m JOIN sg ON sg.dim = m.dim GROUP BY 1, 2), " +
       "o AS (SELECT a.vec_id, CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS d2_orig " +
       "FROM m a JOIN m b ON b.vec_id = a.vec_id + 1 AND b.dim = a.dim GROUP BY 1), " +
       "p2 AS (SELECT a.vec_id, CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS d2_proj " +
       "FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1 AND b.t = a.t GROUP BY 1), " +
       "r AS (SELECT (d2_proj * 1000000) // (16 * d2_orig) AS ratio_ppm " +
       "FROM o JOIN p2 USING (vec_id) WHERE d2_orig > 0) " +
       "SELECT ratio_ppm // 100000 AS ratio_decile, CAST(count(*) AS BIGINT) AS n_pairs, " +
       "CAST(min(ratio_ppm) AS BIGINT) AS min_ppm, CAST(max(ratio_ppm) AS BIGINT) AS max_ppm " +
       "FROM r GROUP BY 1 ORDER BY 1"),
    "x116_tokenizer_fertility" ->
      // x7's argmax fused with exact integer token/char counts; fertility
      // ratios are integer-ppm floor-divs of exact long totals
      (s"WITH l AS (SELECT doc_id, " +
       "CASE WHEN score_en = best AND best > 0 THEN 'en' WHEN score_de = best AND best > 0 THEN 'de' " +
       "WHEN score_fr = best AND best > 0 THEN 'fr' WHEN score_es = best AND best > 0 THEN 'es' " +
       "ELSE 'unknown' END AS lang, n_ws, n_bpe, n_chars FROM (SELECT doc_id, " +
       s"${markerSql("en")} AS score_en, ${markerSql("de")} AS score_de, " +
       s"${markerSql("fr")} AS score_fr, ${markerSql("es")} AS score_es, " +
       s"greatest(${markerSql("en")}, ${markerSql("de")}, ${markerSql("fr")}, ${markerSql("es")}) AS best, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws, " +
       "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe, " +
       "CAST(length(text) AS BIGINT) AS n_chars FROM documents)) " +
       "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
       "CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens, " +
       "CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens, " +
       "CAST(sum(n_chars) AS BIGINT) AS n_chars_total, " +
       "CAST(sum(n_bpe) AS BIGINT) * 1000000 // CAST(sum(n_ws) AS BIGINT) AS bpe_per_ws_ppm, " +
       "CAST(sum(n_chars) AS BIGINT) * 1000000 // CAST(sum(n_bpe) AS BIGINT) AS chars_per_bpe_ppm " +
       "FROM l GROUP BY 1 ORDER BY 1"),
    "x124_token_funnel" ->
      // the x65 flags re-denominated in tokens, per source; shares are
      // integer-ppm floor-divs against the source's raw token total
      (s"WITH $x65FlagsCtes, " +
       "dd AS (SELECT doc_id, source, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents), " +
       "staged AS (SELECT dd.source, " +
       "CAST(count(*) AS BIGINT) AS n0, CAST(sum(ntok) AS BIGINT) AS t0, " +
       "CAST(sum(f1) AS BIGINT) AS n1, CAST(sum(f1*ntok) AS BIGINT) AS t1, " +
       "CAST(sum(f1*f2) AS BIGINT) AS n2, CAST(sum(f1*f2*ntok) AS BIGINT) AS t2, " +
       "CAST(sum(f1*f2*f3) AS BIGINT) AS n3, CAST(sum(f1*f2*f3*ntok) AS BIGINT) AS t3, " +
       "CAST(sum(f1*f2*f3*f4) AS BIGINT) AS n4, CAST(sum(f1*f2*f3*f4*ntok) AS BIGINT) AS t4 " +
       "FROM flags f JOIN dd ON dd.doc_id = f.doc_id GROUP BY 1) " +
       "SELECT * FROM (" +
       "SELECT source, 0 AS stage, n0 AS n_docs, t0 AS n_tokens, " +
       "(t0 * 1000000) // t0 AS tokens_kept_ppm FROM staged " +
       "UNION ALL SELECT source, 1, n1, t1, (t1 * 1000000) // t0 FROM staged " +
       "UNION ALL SELECT source, 2, n2, t2, (t2 * 1000000) // t0 FROM staged " +
       "UNION ALL SELECT source, 3, n3, t3, (t3 * 1000000) // t0 FROM staged " +
       "UNION ALL SELECT source, 4, n4, t4, (t4 * 1000000) // t0 FROM staged" +
       ") ORDER BY source, stage"),
    "x125_curation_pipeline" -> x125Sql,
    "x123_release_diff" ->
      // two x81-shaped manifests (prev = coin >= 26, i.e. the corpus
      // minus x122's new batch; curr = full), diffed per shard; digests
      // via string_agg ORDER BY pos exactly as x81's oracle
      ("WITH base AS (SELECT doc_id, text, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) AS coin, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h " +
       "FROM documents), " +
       "pa AS (SELECT *, CAST(h % 8 AS INT) AS shard, " +
       "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos " +
       "FROM base WHERE coin >= 26), " +
       "ma AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs_prev, " +
       "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_prev, " +
       "md5(string_agg(md5(text), '' ORDER BY pos)) AS digest_prev FROM pa GROUP BY 1), " +
       "pb AS (SELECT *, CAST(h % 8 AS INT) AS shard, " +
       "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos " +
       "FROM base), " +
       "mb AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs_curr, " +
       "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_curr, " +
       "md5(string_agg(md5(text), '' ORDER BY pos)) AS digest_curr FROM pb GROUP BY 1) " +
       // FULL JOIN + COALESCE both ways: fully-new shards (no prev row)
       // surface with deltas-from-zero, fully-DELETED shards (no curr
       // row) with negative deltas — neither may vanish; changed=1 on
       // any one-sided shard (on the gate's prev ⊆ curr data this
       // reduces to the left join, so results are unchanged)
       "SELECT COALESCE(b.shard, a.shard) AS shard, COALESCE(b.n_docs_curr, 0) AS n_docs_curr, " +
       "COALESCE(b.n_docs_curr, 0) - COALESCE(a.n_docs_prev, 0) AS doc_delta, " +
       "COALESCE(b.n_tokens_curr, 0) - COALESCE(a.n_tokens_prev, 0) AS token_delta, " +
       "CAST(a.digest_prev IS NULL OR b.digest_curr IS NULL OR a.digest_prev <> b.digest_curr AS INT) AS changed " +
       "FROM mb b FULL JOIN ma a ON a.shard = b.shard ORDER BY shard"),
    "x122_index_append" -> x122AppendSql,
    // same motion, the STORED-index production form: identical result,
    // identical oracle — the gates differ only in what is measured
    "x122b_stored_append" -> x122AppendSql,
    "x121_norm_robustness" ->
      // verified pairs rescored over x34-cleaned tokens; per raw decile:
      // still-dup count at the 0.5 cut and mean cleaned similarity from
      // micro-quantized exact longs
      (s"WITH pairs AS ($x15PairsSql), " +
       "cd AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS ct " +
       "FROM documents), " +
       "ctok AS (SELECT doc_id, list_filter(string_split(ct, ' '), x -> len(x) >= 3 " +
       "AND x NOT IN ('the', 'a', 'of', 'and', 'to', 'in')) AS t FROM cd), " +
       "csh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3 THEN " +
       "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
       "ELSE [array_to_string(t, ' ')] END) AS s FROM ctok), " +
       "r AS (SELECT p.id_a, p.id_b, p.jaccard AS j_raw, " +
       "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS j_clean " +
       "FROM pairs p JOIN csh a ON a.doc_id = p.id_a JOIN csh b ON b.doc_id = p.id_b) " +
       "SELECT CAST(floor(j_raw * 10.0) AS BIGINT) AS raw_bucket, " +
       "CAST(count(*) AS BIGINT) AS n_pairs, " +
       "CAST(sum(CASE WHEN j_clean >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_still_dup, " +
       "CAST(sum(CAST(floor(j_clean * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_jclean_micro, " +
       "CAST(sum(CAST(floor(j_clean * 1000000.0) AS BIGINT)) AS BIGINT) * 1.0 " +
       "/ (count(*) * 1000000) AS mean_jclean " +
       "FROM r GROUP BY 1 ORDER BY 1"),
    "x120_template_prefixes" ->
      // first-8-token prefix per doc; (source, prefix) exact counts,
      // deterministic top-3 window, integer-ppm shares. DuckDB list
      // slicing is 1-based inclusive: l[1:8] == Spark slice(l, 1, 8)
      ("WITH p AS (SELECT source, " +
       "array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix FROM documents), " +
       "c AS (SELECT source, prefix, CAST(count(*) AS BIGINT) AS n_docs " +
       "FROM p GROUP BY 1, 2), " +
       "t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_total FROM c GROUP BY 1), " +
       "r AS (SELECT source, prefix, n_docs, CAST(row_number() OVER " +
       "(PARTITION BY source ORDER BY n_docs DESC, prefix) AS INT) AS rnk FROM c) " +
       "SELECT r.source, r.rnk, r.prefix, r.n_docs, " +
       "(r.n_docs * 1000000) // t.n_total AS share_ppm " +
       "FROM r JOIN t ON t.source = r.source WHERE r.rnk <= 3 " +
       "ORDER BY r.source, r.rnk"),
    "x118_filter_disagreement" ->
      // x59's three exact votes cross-tabbed per source; shares are
      // integer-ppm floor-divs; unanimous = all three bits equal
      (s"WITH q AS ($x8QualitySql), lmv AS ($x56LmSql), clf AS ($x57ClfSql), " +
       "ens AS (SELECT q.doc_id, q.v_q, COALESCE(l.v_lm, 0) AS v_lm, c.v_clf " +
       "FROM (SELECT doc_id, CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END AS v_q FROM q) q " +
       "LEFT JOIN (SELECT doc_id, CASE WHEN lm_score_ppm >= 200000 THEN 1 ELSE 0 END AS v_lm FROM lmv) l " +
       "ON l.doc_id = q.doc_id " +
       "JOIN (SELECT doc_id, CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END AS v_clf FROM clf) c " +
       "ON c.doc_id = q.doc_id), " +
       "cells AS (SELECT d.source, e.v_q, e.v_lm, e.v_clf, CAST(count(*) AS BIGINT) AS n_docs " +
       "FROM ens e JOIN documents d ON d.doc_id = e.doc_id GROUP BY 1, 2, 3, 4), " +
       "t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_total FROM cells GROUP BY 1) " +
       "SELECT c.source, c.v_q, c.v_lm, c.v_clf, c.n_docs, " +
       "(c.n_docs * 1000000) // t.n_total AS share_ppm, " +
       "CAST(c.v_q = c.v_lm AND c.v_lm = c.v_clf AS INT) AS unanimous " +
       "FROM cells c JOIN t ON t.source = c.source ORDER BY 1, 2, 3, 4"),
    "x119_knn_reciprocity" ->
      // per-rank mutual-edge share over the same auto-LSH KNN graph the
      // x102/x114 oracles rebuild; (vec_id, neighbor_id) is unique per
      // edge so the reverse LEFT JOIN matches at most once
      (s"WITH ${knnGraphCtes()}, " +
       "agg AS (SELECT k.rank, CAST(count(*) AS BIGINT) AS n_edges, " +
       "CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual " +
       "FROM knn k LEFT JOIN knn r ON r.vec_id = k.neighbor_id AND r.neighbor_id = k.vec_id " +
       "GROUP BY 1) " +
       "SELECT rank, n_edges, n_mutual, (n_mutual * 1000000) // n_edges AS mutual_ppm " +
       "FROM agg ORDER BY rank"),
    "x117_shuffle_quality" ->
      // observed adjacent same-source rate vs the random-permutation
      // expectation from the shard's own composition; both integer-ppm
      // floor-divs of exact counts over x33's deterministic order
      ("WITH h AS (SELECT doc_id, " +
       "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM documents), " +
       "a AS (SELECT d.source, CAST(h.h % 8 AS INT) AS shard, " +
       "CAST(row_number() OVER (PARTITION BY h.h % 8 ORDER BY h.h, h.doc_id) AS INT) AS pos " +
       "FROM h JOIN documents d ON d.doc_id = h.doc_id), " +
       "adj AS (SELECT x.shard, CAST(count(*) AS BIGINT) AS n_adjacent, " +
       "CAST(sum(CASE WHEN x.source = y.source THEN 1 ELSE 0 END) AS BIGINT) AS n_same " +
       "FROM a x JOIN a y ON y.shard = x.shard AND y.pos = x.pos + 1 GROUP BY 1), " +
       "comp AS (SELECT shard, CAST(sum(ns) AS BIGINT) AS n_docs, " +
       "CAST(sum(ns * (ns - 1)) AS BIGINT) AS coll_num FROM " +
       "(SELECT shard, source, CAST(count(*) AS BIGINT) AS ns FROM a GROUP BY 1, 2) GROUP BY 1) " +
       "SELECT c.shard, c.n_docs, j.n_adjacent, j.n_same, " +
       "(j.n_same * 1000000) // j.n_adjacent AS same_ppm, " +
       "(c.coll_num * 1000000) // (c.n_docs * (c.n_docs - 1)) AS expected_same_ppm " +
       "FROM comp c JOIN adj j ON j.shard = c.shard ORDER BY c.shard"),
    "x104_threshold_sweep" ->
      // one pass over the x15 verified pair set fanned across thresholds;
      // zero rows kept for thresholds that kill every pair
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "t(threshold) AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9])), " +
       "f AS (SELECT t.threshold, p.id_a, p.id_b FROM pairs p JOIN t " +
       "ON p.jaccard >= t.threshold), " +
       "np AS (SELECT threshold, count(*) AS n_pairs FROM f GROUP BY threshold), " +
       "nd AS (SELECT threshold, count(*) AS n_docs_involved FROM " +
       "(SELECT DISTINCT threshold, doc_id FROM (SELECT threshold, unnest([id_a, id_b]) AS doc_id FROM f)) " +
       "GROUP BY threshold) " +
       "SELECT t.threshold, COALESCE(np.n_pairs, 0) AS n_pairs, " +
       "COALESCE(nd.n_docs_involved, 0) AS n_docs_involved " +
       "FROM t LEFT JOIN np ON np.threshold = t.threshold " +
       "LEFT JOIN nd ON nd.threshold = t.threshold ORDER BY t.threshold"),
    "x101_mixed_language" ->
      // second-best from the sorted 4-score list; mixed ⇔ second > 0 and
      // 2·second ≥ best — integer marker arithmetic only
      ("SELECT doc_id, CASE WHEN score_en = best AND best > 0 THEN 'en' " +
       "WHEN score_de = best AND best > 0 THEN 'de' " +
       "WHEN score_fr = best AND best > 0 THEN 'fr' " +
       "WHEN score_es = best AND best > 0 THEN 'es' ELSE 'unknown' END AS predicted_lang, " +
       "best AS best_score, second AS second_score, " +
       "CAST(CASE WHEN second > 0 AND second * 2 >= best THEN 1 ELSE 0 END AS INT) AS is_mixed " +
       "FROM (SELECT doc_id, score_en, score_de, score_fr, score_es, " +
       "srt[4] AS best, srt[3] AS second FROM (SELECT doc_id, " +
       s"${markerSql("en")} AS score_en, ${markerSql("de")} AS score_de, " +
       s"${markerSql("fr")} AS score_fr, ${markerSql("es")} AS score_es, " +
       s"list_sort([${markerSql("en")}, ${markerSql("de")}, ${markerSql("fr")}, ${markerSql("es")}]) AS srt " +
       "FROM documents)) ORDER BY doc_id"),
    "x102_ann_quality_eval" ->
      // x55's auto-LSH KNN graph scored against label ground truth:
      // hits/ideal/RR in exact longs + single divisions; singleton-class
      // queries get NULL recall, bucket-less queries are absent
      (s"WITH ${knnGraphCtes()}, " +
       "lab AS (SELECT vec_id, label FROM embeddings), " +
       "cls AS (SELECT label, count(*) AS cls_n FROM lab GROUP BY label), " +
       "agg AS (SELECT k.vec_id, q.label, count(*) AS n_returned, " +
       "CAST(sum(CASE WHEN n.label = q.label THEN 1 ELSE 0 END) AS BIGINT) AS hits, " +
       "min(CASE WHEN n.label = q.label THEN k.rank END) AS first_rel_rank " +
       "FROM knn k JOIN lab q ON q.vec_id = k.vec_id " +
       "JOIN lab n ON n.vec_id = k.neighbor_id GROUP BY k.vec_id, q.label) " +
       "SELECT a.vec_id, a.label, a.n_returned, a.hits, " +
       "least(5, c.cls_n - 1) AS ideal, " +
       "CASE WHEN least(5, c.cls_n - 1) > 0 THEN " +
       "CAST(a.hits AS DOUBLE) / least(5, c.cls_n - 1) END AS recall_at_k, " +
       "CASE WHEN a.first_rel_rank IS NOT NULL THEN 1.0 / a.first_rel_rank " +
       "ELSE 0.0 END AS rr " +
       "FROM agg a JOIN cls c ON c.label = a.label ORDER BY a.vec_id"),
    "x103_seqlen_budget" ->
      ("SELECT budget, count(*) AS n_docs, " +
       "CAST(sum(CASE WHEN len > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated, " +
       "CAST(sum(len) AS BIGINT) AS tokens_total, " +
       "CAST(sum(greatest(len - budget, 0)) AS BIGINT) AS tokens_lost, " +
       "CAST(sum(greatest(len - budget, 0)) AS BIGINT) * 1000000 // CAST(sum(len) AS BIGINT) AS lost_ppm, " +
       "CAST(sum(budget - least(len, budget)) AS BIGINT) * 1000000 // (count(*) * budget) AS pad_ppm " +
       "FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents), " +
       "UNNEST([CAST(128 AS BIGINT), CAST(256 AS BIGINT), CAST(512 AS BIGINT), CAST(1024 AS BIGINT)]) AS u(budget) " +
       "GROUP BY budget ORDER BY budget"),
    "x100_dedup_survivorship" ->
      // survivors = docs that are their own cluster label (x30's keeper
      // contract) under the same recursive-CTE CC the x17 oracle uses
      (s"WITH RECURSIVE pairs AS ($x15PairsSql), " +
       "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
       "UNION ALL SELECT id_b, id_a FROM pairs), " +
       "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
       "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
       "cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
       "l AS (SELECT node AS doc_id FROM cl WHERE node <> cluster_id), " +
       "d AS (SELECT d.doc_id, d.source, " +
       "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, l.doc_id AS loser " +
       "FROM documents d LEFT JOIN l ON l.doc_id = d.doc_id) " +
       "SELECT source, count(*) AS n_docs, " +
       "CAST(sum(CASE WHEN loser IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors, " +
       "CAST(sum(CASE WHEN loser IS NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS doc_survival, " +
       "CAST(sum(n_tokens) AS BIGINT) AS tokens_before, " +
       "CAST(sum(CASE WHEN loser IS NULL THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_after, " +
       "CAST(sum(CASE WHEN loser IS NULL THEN n_tokens ELSE 0 END) AS DOUBLE)/" +
       "CAST(sum(n_tokens) AS DOUBLE) AS token_retention " +
       "FROM d GROUP BY source ORDER BY source")
  )

  // ---- extension SQL fragments ----

  // the 3-token shingle list over a pre-split token column `t` — the SQL
  // mirror of DocDedup.shingles (short docs collapse to one whole-text
  // shingle), shared by the x93/x95 gates
  private lazy val shingleListSql: String =
    "CASE WHEN len(t) >= 3 THEN " +
    "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
    "ELSE [array_to_string(t, ' ')] END"

  /** x47/x48 BM25 pipeline CTEs (integer ppm scoring over the tf index;
    * mirrors Retrieval.bm25Scores step for step — floor division at every
    * stage, so scores are bit-identical). `sc3` ends at per-(doc, term)
    * partial scores; consumers aggregate. */
  private val bm25Ctes: String =
    "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
    "tfx AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), " +
    "vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n FROM tfx GROUP BY 1), " +
    "vr AS (SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rnk FROM vocab), " +
    "q AS (SELECT token FROM vr WHERE rnk BETWEEN 10 AND 14), " +
    "dlx AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfx GROUP BY 1), " +
    "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
    "(CAST(sum(dl) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS avgdl_ppm FROM dlx), " +
    "sc AS (SELECT t.doc_id, t.tf, " +
    "((st.n - d.df) * 2 + 1) * 1000000 // (d.df * 2 + 1) AS idf_ppm, " +
    "dlx.dl * 1000000 * 1000000 // st.avgdl_ppm AS ratio_ppm " +
    "FROM tfx t JOIN (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfx " +
    "JOIN q USING (token) GROUP BY 1) d USING (token) " +
    "JOIN dlx ON t.doc_id = dlx.doc_id, st), " +
    "sc2 AS (SELECT doc_id, tf, idf_ppm, " +
    "1200000 * (1000000 - 750000 + 750000 * ratio_ppm // 1000000) // 1000000 AS k_ppm FROM sc), " +
    "sc3 AS (SELECT doc_id, " +
    "idf_ppm * (tf * 2200000 * 1000000 // (tf * 1000000 + k_ppm)) // 1000000 AS term_ppm FROM sc2)"

  /** x15 near-dup pipeline body (no final ORDER BY) — shared between the
    * x15 gate and the x17 cluster-resolution recursive CTE. */
  // shared by x15/x17/x30 (undirected) and x58 (directed): shingles →
  // md5 minhash → 2-row bands
  /** tok/sh/hs/mh CTE chain (md5-witness minhash, k=8) — shared by the
    * fixed-band x15 prefix below and x15b's derived-geometry banding. */
  /** x82's two-snapshot frozen-refresh derivation, shared by the x82
    * gate and x139's balance audit: the oracle re-derives the prior split
    * artifact (pair clusters over the 80% snapshot, x75 md5 coin), then
    * mirrors the three tiers — frozen verbatim, inherited = arg_min-
    * doc_id frozen member's split per refresh group, coined = md5 coin
    * on never-before-seen group ids. */
  private lazy val x82FrozenSql: String =
    "WITH docs AS (SELECT doc_id FROM documents), " +
    "pd AS (SELECT doc_id FROM docs WHERE doc_id % 5 <> 0), " +
    "pc AS (SELECT doc_id, doc_id - doc_id % 2 AS cluster_id FROM pd WHERE doc_id % 20 < 8), " +
    "pg AS (SELECT d.doc_id, COALESCE(pc.cluster_id, d.doc_id) AS group_id " +
    "FROM pd d LEFT JOIN pc ON pc.doc_id = d.doc_id), " +
    "prior AS (SELECT doc_id, CASE WHEN coin < 204 THEN 'train' " +
    "WHEN coin < 230 THEN 'val' ELSE 'test' END AS split FROM (SELECT doc_id, " +
    "CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)), 1, 2)) AS INT) AS coin FROM pg)), " +
    "nc AS (SELECT doc_id, doc_id - doc_id % 4 AS cluster_id FROM docs WHERE doc_id % 20 < 8), " +
    "g AS (SELECT d.doc_id, COALESCE(nc.cluster_id, d.doc_id) AS group_id " +
    "FROM docs d LEFT JOIN nc ON nc.doc_id = d.doc_id), " +
    "wp AS (SELECT g.doc_id, g.group_id, prior.split AS prior_split " +
    "FROM g LEFT JOIN prior ON prior.doc_id = g.doc_id), " +
    "frozen AS (SELECT doc_id, group_id, prior_split AS split, 'frozen' AS assignment " +
    "FROM wp WHERE prior_split IS NOT NULL), " +
    "gs AS (SELECT group_id, arg_min(prior_split, doc_id) AS inherit_split " +
    "FROM wp WHERE prior_split IS NOT NULL GROUP BY group_id), " +
    "nd AS (SELECT doc_id, group_id FROM wp WHERE prior_split IS NULL), " +
    "inh AS (SELECT nd.doc_id, nd.group_id, gs.inherit_split AS split, " +
    "'inherited' AS assignment FROM nd JOIN gs ON gs.group_id = nd.group_id), " +
    "cn AS (SELECT doc_id, group_id, CASE WHEN coin < 204 THEN 'train' " +
    "WHEN coin < 230 THEN 'val' ELSE 'test' END AS split, 'coined' AS assignment " +
    "FROM (SELECT nd.doc_id, nd.group_id, " +
    "CAST(concat('0x', substr(md5(CAST(nd.group_id AS VARCHAR)), 1, 2)) AS INT) AS coin " +
    "FROM nd LEFT JOIN gs ON gs.group_id = nd.group_id WHERE gs.group_id IS NULL)) " +
    "SELECT doc_id, group_id, split, assignment FROM frozen " +
    "UNION ALL SELECT doc_id, group_id, split, assignment FROM inh " +
    "UNION ALL SELECT doc_id, group_id, split, assignment FROM cn ORDER BY doc_id"

  private val minhashMd5Cte: String =
    "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
    "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
    "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
    "hs AS (SELECT doc_id, list_transform(s, x -> " +
    s"CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % ${DocDedup.mixP}) AS hl FROM sh), " +
    s"mh AS (SELECT doc_id, i, list_min(list_transform(hl, h -> (h * " +
    s"([${DocDedup.mixA.mkString(",")}][CAST(i AS INT)+1]) + " +
    s"[${DocDedup.mixB.mkString(",")}][CAST(i AS INT)+1]) % ${DocDedup.mixP})) AS comp " +
    "FROM hs, range(0, 8) AS r(i))"

  private val shingleBandsCte: String =
    s"WITH $minhashMd5Cte, " +
    "band AS (SELECT m0.doc_id, m0.i // 2 AS j, m0.comp AS c0, m1.comp AS c1 FROM mh m0 " +
    "JOIN mh m1 ON m0.doc_id = m1.doc_id AND m1.i = m0.i + 1 WHERE m0.i % 2 = 0), "

  private def bandCandShdCte(directed: Boolean): String =
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a " +
    "JOIN band b ON a.j = b.j AND a.c0 = b.c0 AND a.c1 = b.c1 AND a.doc_id " +
    (if (directed) "<>" else "<") + " b.doc_id), " +
    "shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh) "

  private val x15PairsSql: String =
    shingleBandsCte + bandCandShdCte(directed = false) +
    "SELECT id_a, id_b, jaccard FROM (SELECT c.id_a, c.id_b, " +
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard " +
    "FROM cand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b) " +
    "WHERE jaccard >= 0.5"

  /** x35 + e15: incoming (odd) docs probed against the historical (even)
    * half's signature index — dup_exact on content-hash membership, else
    * dup_near on simhash16 collision, else kept. One oracle serves both
    * gates: the batch form and the foreachBatch-streamed form return
    * identical rows (statuses are per-doc pure, no cross-batch state). */
  private lazy val x35IncrementalSql: String =
    s"WITH $simhash16Cte, " +
    "sig AS (SELECT d.doc_id, md5(d.text) AS ch, s.simhash16 " +
    "FROM documents d JOIN sh16 s ON d.doc_id = s.doc_id), " +
    "exc AS (SELECT DISTINCT ch FROM sig WHERE doc_id % 2 = 0), " +
    "exs AS (SELECT DISTINCT simhash16 FROM sig WHERE doc_id % 2 = 0) " +
    "SELECT s.doc_id, CASE WHEN e.ch IS NOT NULL THEN 'dup_exact' " +
    "WHEN x.simhash16 IS NOT NULL THEN 'dup_near' ELSE 'kept' END AS status " +
    "FROM sig s LEFT JOIN exc e ON s.ch = e.ch " +
    "LEFT JOIN exs x ON s.simhash16 = x.simhash16 " +
    "WHERE s.doc_id % 2 = 1 ORDER BY s.doc_id"

  /** x122 + x122b: the ~10% md5-coin "new batch" codes itself with the
    * SAME derived plane matrix and bucket-joins against OLD codes only;
    * rescore + top-5 are the x55 shapes. One oracle serves both gates —
    * the live-build form and the stored-index form return identical rows. */
  private lazy val x122AppendSql: String =
    s"WITH ${autoLshCtes(8)}, " +
    "newv AS (SELECT vec_id FROM embeddings WHERE " +
    "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)),1,2)) AS INT) < 26), " +
    "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM coded a " +
    "JOIN coded b ON a.t = b.t AND a.code = b.code " +
    "WHERE a.vec_id IN (SELECT vec_id FROM newv) " +
    "AND b.vec_id NOT IN (SELECT vec_id FROM newv)), " +
    "s AS (SELECT c.id_a, c.id_b, " +
    s"${dotSql("x.vec", "y.vec")}/(x.norm*y.norm) AS sim FROM cand c " +
    "JOIN nrm x ON x.vec_id = c.id_a JOIN nrm y ON y.vec_id = c.id_b) " +
    "SELECT id_a AS vec_id, rank, id_b AS neighbor_id, sim FROM " +
    "(SELECT id_a, id_b, sim, CAST(row_number() OVER (PARTITION BY id_a " +
    "ORDER BY sim DESC, id_b) AS INT) AS rank FROM s) WHERE rank <= 5 " +
    "ORDER BY vec_id, rank"

  /** x125: the end-to-end curation pipeline as ONE composed query — each
    * CTE block is the corresponding standalone gate's oracle (x30 CC
    * losers, x31 decontamination, x36 length thresholds, x8 quality, x82
    * frozen split, x63 budget shape, x34 cleaning, x81 manifest), renamed
    * where names would collide, chained by doc_id membership. */
  private lazy val x125Sql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED ($x15PairsSql), " +
    // x30: connected-component losers over the verified pair graph
    "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
    "UNION ALL SELECT id_b, id_a FROM pairs), " +
    "reach(node, lab) AS (SELECT src, src FROM (SELECT DISTINCT src FROM e) " +
    "UNION SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node), " +
    "losers AS (SELECT node FROM (SELECT node, min(lab) AS cluster_id FROM reach " +
    "GROUP BY node) WHERE cluster_id <> node), " +
    // x31: shingle decontamination (bench docs have no cleanok row)
    "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
    "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
    "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
    "flat AS (SELECT DISTINCT doc_id, " +
    "CAST(concat('0x', substr(md5(sx), 1, 15)) AS BIGINT) AS h " +
    "FROM (SELECT doc_id, unnest(s) AS sx FROM sh)), " +
    "bench AS (SELECT DISTINCT h FROM flat WHERE doc_id % 17 = 0), " +
    "corpus AS (SELECT doc_id, h FROM flat WHERE doc_id % 17 <> 0), " +
    "cleanok AS (SELECT c.doc_id FROM corpus c LEFT JOIN bench b USING (h) " +
    "GROUP BY c.doc_id HAVING count(b.h) * 5 < count(*)), " +
    // x36: exact-quantile length thresholds over the full corpus
    "hist AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1), " +
    "cm AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum, " +
    "sum(cnt) OVER () AS total FROM hist), " +
    "th AS (SELECT min(CASE WHEN cum*100 >= total*5 THEN n_chars END) AS lo, " +
    "min(CASE WHEN cum*100 >= total*95 THEN n_chars END) AS hi FROM cm), " +
    // x8: quality score (the x65 stage-4 floor AND the x63 qi source)
    s"q AS ($x8QualitySql), " +
    // x82: frozen-refresh split, train tier only
    "sdocs AS (SELECT doc_id FROM documents), " +
    "spd AS (SELECT doc_id FROM sdocs WHERE doc_id % 5 <> 0), " +
    "spc AS (SELECT doc_id, doc_id - doc_id % 2 AS cluster_id FROM spd WHERE doc_id % 20 < 8), " +
    "spg AS (SELECT d.doc_id, COALESCE(spc.cluster_id, d.doc_id) AS group_id " +
    "FROM spd d LEFT JOIN spc ON spc.doc_id = d.doc_id), " +
    "sprior AS (SELECT doc_id, CASE WHEN coin < 204 THEN 'train' " +
    "WHEN coin < 230 THEN 'val' ELSE 'test' END AS split FROM (SELECT doc_id, " +
    "CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)), 1, 2)) AS INT) AS coin FROM spg)), " +
    "snc AS (SELECT doc_id, doc_id - doc_id % 4 AS cluster_id FROM sdocs WHERE doc_id % 20 < 8), " +
    "sg AS (SELECT d.doc_id, COALESCE(snc.cluster_id, d.doc_id) AS group_id " +
    "FROM sdocs d LEFT JOIN snc ON snc.doc_id = d.doc_id), " +
    "swp AS (SELECT sg.doc_id, sg.group_id, sprior.split AS prior_split " +
    "FROM sg LEFT JOIN sprior ON sprior.doc_id = sg.doc_id), " +
    "sgs AS (SELECT group_id, arg_min(prior_split, doc_id) AS inherit_split " +
    "FROM swp WHERE prior_split IS NOT NULL GROUP BY group_id), " +
    "snd AS (SELECT doc_id, group_id FROM swp WHERE prior_split IS NULL), " +
    "trainok AS (SELECT doc_id FROM swp WHERE prior_split = 'train' " +
    "UNION ALL SELECT snd.doc_id FROM snd JOIN sgs ON sgs.group_id = snd.group_id " +
    "WHERE sgs.inherit_split = 'train' " +
    "UNION ALL SELECT doc_id FROM (SELECT snd.doc_id, " +
    "CAST(concat('0x', substr(md5(CAST(snd.group_id AS VARCHAR)), 1, 2)) AS INT) AS coin " +
    "FROM snd LEFT JOIN sgs ON sgs.group_id = snd.group_id WHERE sgs.group_id IS NULL) " +
    "WHERE coin < 204), " +
    // the cascade survivors, carrying what the budget needs
    "surv AS (SELECT d.doc_id, CAST(q.n_tokens AS BIGINT) AS n_tokens, " +
    "CAST(floor(q.quality_score * 1000000) AS BIGINT) AS qi " +
    "FROM documents d JOIN q ON q.doc_id = d.doc_id, th " +
    "WHERE d.n_chars BETWEEN th.lo AND th.hi AND q.quality_score >= 0.6 " +
    "AND d.doc_id NOT IN (SELECT node FROM losers) " +
    "AND d.doc_id IN (SELECT doc_id FROM cleanok) " +
    "AND d.doc_id IN (SELECT doc_id FROM trainok)), " +
    // x63: greedy quality-descending token budget over the survivors
    "bhist AS (SELECT qi, CAST(sum(n_tokens) AS BIGINT) AS btoks FROM surv GROUP BY 1), " +
    "bm AS (SELECT qi, btoks, CAST(sum(btoks) OVER (ORDER BY qi DESC) AS BIGINT) AS cum_incl, " +
    "CAST(sum(btoks) OVER (ORDER BY qi DESC) - btoks AS BIGINT) AS cum_excl FROM bhist), " +
    "bfull AS (SELECT qi FROM bm WHERE cum_incl <= 12000), " +
    "bb AS (SELECT qi AS bqi, 12000 - cum_excl AS remaining FROM bm " +
    "WHERE cum_excl < 12000 AND cum_incl > 12000), " +
    "bbr AS (SELECT doc_id FROM (SELECT surv.doc_id, bb.remaining, " +
    "CAST(sum(surv.n_tokens) OVER (PARTITION BY surv.qi ORDER BY surv.doc_id) AS BIGINT) AS run " +
    "FROM surv JOIN bb ON surv.qi = bb.bqi) WHERE run <= remaining), " +
    "bsel AS (SELECT doc_id FROM surv WHERE qi IN (SELECT qi FROM bfull) " +
    "UNION ALL SELECT doc_id FROM bbr), " +
    // x34: clean the SELECTED docs' text (this is what trains)
    "ct AS (SELECT s2.doc_id, array_to_string(list_filter(" +
    "string_split(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'), ' '), " +
    "x -> len(x) >= 3 AND x NOT IN ('the', 'a', 'of', 'and', 'to', 'in')), ' ') AS text " +
    "FROM bsel s2 JOIN documents d ON d.doc_id = s2.doc_id), " +
    // x81: shard manifest of the final training set
    "hh AS (SELECT doc_id, text, " +
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM ct), " +
    "pa AS (SELECT *, CAST(h % 8 AS INT) AS shard, " +
    "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos FROM hh) " +
    "SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
    "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
    "CAST(sum(length(text)) AS BIGINT) AS n_chars, " +
    "md5(string_agg(md5(text), '' ORDER BY pos)) AS content_digest " +
    "FROM pa GROUP BY 1 ORDER BY shard"

  /** ppm power as the CHAINED floor product `x·base div 10⁶` repeated —
    * the exact op sequence of `DocDedup.bandRecallPpm`, written out for
    * DuckDB to evaluate (never a float pow). */
  private def ppmPowChainSql(baseExpr: String, times: Int): String =
    (1 to times).foldLeft("CAST(1000000 AS BIGINT)")((acc, _) =>
      s"(($acc * $baseExpr) // 1000000)")
  private def bandRecallPpmSql(r: Int, b: Int): String =
    s"(1000000 - ${ppmPowChainSql(s"(1000000 - ${ppmPowChainSql("500000", r)})", b)})"

  /** x15b: the x15 pipeline with band geometry RE-DERIVED by DuckDB from
    * its own count(*) — threshold-count log₂, the ⌈(l+1…)/4⌉ ladder, and
    * the same ppm floor-chain recall guard as `DocDedup.autoBandRows` —
    * then parametric r-row banding (string_agg band keys) and the exact
    * Jaccard verify. The derived (rows, bands) ride every output row, so
    * a derivation mismatch is a hash mismatch, not a silent plan change. */
  private val x15bAutoSql: String = {
    val logTerms = (0 until 48)
      .map(i => s"(CASE WHEN n > ${1L << i} THEN 1 ELSE 0 END)").mkString(" + ")
    s"WITH $minhashMd5Cte, " +
    s"prm AS (SELECT CASE WHEN r_raw <= 1 THEN 1 WHEN r_raw <= 2 THEN 2 ELSE 4 END AS r0 " +
    s"FROM (SELECT (l + 3) // 4 AS r_raw FROM (SELECT ($logTerms) AS l " +
    "FROM (SELECT count(*) AS n FROM documents)))), " +
    s"rsel AS (SELECT CASE WHEN r0 >= 4 AND ${bandRecallPpmSql(4, 2)} >= 600000 THEN 4 " +
    s"WHEN r0 >= 2 AND ${bandRecallPpmSql(2, 4)} >= 600000 THEN 2 " +
    "ELSE 1 END AS r FROM prm), " +
    "aband AS (SELECT m.doc_id, m.i // s.r AS j, " +
    "string_agg(CAST(m.comp AS VARCHAR), ':' ORDER BY m.i) AS key " +
    "FROM mh m, rsel s GROUP BY 1, 2), " +
    "acand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM aband a " +
    "JOIN aband b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id), " +
    "shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh) " +
    "SELECT id_a, id_b, jaccard, CAST(s.r AS INT) AS rows_per_band, " +
    "CAST(8 // s.r AS INT) AS n_bands " +
    "FROM (SELECT c.id_a, c.id_b, " +
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard " +
    "FROM acand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b), rsel s " +
    "WHERE jaccard >= 0.5 ORDER BY id_a, id_b"
  }

  /** x15c: x15b's derived-geometry dispatch with the x110 MEASURED recall
    * folded in as an integer correction factor — the oracle re-runs the
    * whole loop itself: the simhash-witness truth sample, the deployed
    * r=2,b=4 banding's found/expected counts (expected = Σ theory floor
    * at each truth pair's bucket low edge — the same ppm floor-chain
    * constants the Scala dispatch interpolates), the capped correction,
    * and the corrected ladder selection. A divergence in ANY stage —
    * audit, correction arithmetic, or geometry pick — is a hash mismatch
    * because corr and (rows, bands) ride every output row. */
  private lazy val x15cCalibratedSql: String = {
    val logTerms = (0 until 48)
      .map(i => s"(CASE WHEN n > ${1L << i} THEN 1 ELSE 0 END)").mkString(" + ")
    val tCase = (5 to 10).map(b =>
      s"WHEN $b THEN ${DocDedup.bandRecallPpmAt(b * 100000L, 2, 4)}").mkString(" ")
    def corrected(r: Int, b: Int): String =
      s"((${bandRecallPpmSql(r, b)} * c.corr) // 1000000)"
    shingleBandsCte + bandCandShdCte(directed = false) +
    s", $simhash16Cte, " +
    "sh16c AS (SELECT * FROM sh16 WHERE doc_id < 10000), " +
    "chs AS (SELECT doc_id, simhash16, i, CASE WHEN i = 0 THEN simhash16 & 255 " +
    "ELSE (simhash16 >> 8) & 255 END AS chunk FROM sh16c, range(0, 2) r(i)), " +
    "scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM chs a " +
    "JOIN chs b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id " +
    "AND bit_count(xor(a.simhash16, b.simhash16)) <= 1), " +
    "truth AS (SELECT id_a, id_b, jaccard FROM (SELECT c.id_a, c.id_b, " +
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard " +
    "FROM scand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b) " +
    "WHERE jaccard >= 0.5), " +
    "fe AS (SELECT CAST(sum(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS f, " +
    s"CAST(sum(CASE CAST(floor(t.jaccard * 10.0) AS BIGINT) $tCase END) AS BIGINT) AS e " +
    "FROM truth t LEFT JOIN cand ON cand.id_a = t.id_a AND cand.id_b = t.id_b), " +
    // f-bound mirrored from DocDedup.bandCalibrationPpm's require: both
    // engines now FAIL (not silently diverge) if the capped-witness bound
    // is ever exceeded — without this the Spark side raised while DuckDB
    // overflowed, an asymmetric failure (r13 advisor finding)
    "cor AS (SELECT CASE WHEN f >= 9000000 THEN " +
    "error('witness found-pair count exceeds the capped-witness bound') " +
    "WHEN e IS NULL OR e = 0 THEN 1000000 " +
    "ELSE least(1000000, (f * 1000000 * 1000000) // e) END AS corr FROM fe), " +
    s"prm AS (SELECT CASE WHEN r_raw <= 1 THEN 1 WHEN r_raw <= 2 THEN 2 ELSE 4 END AS r0 " +
    s"FROM (SELECT (l + 3) // 4 AS r_raw FROM (SELECT ($logTerms) AS l " +
    "FROM (SELECT count(*) AS n FROM documents)))), " +
    s"rsel AS (SELECT CASE WHEN p.r0 >= 4 AND ${corrected(4, 2)} >= 600000 THEN 4 " +
    s"WHEN p.r0 >= 2 AND ${corrected(2, 4)} >= 600000 THEN 2 " +
    "ELSE 1 END AS r, c.corr AS corr FROM prm p, cor c), " +
    "aband AS (SELECT m.doc_id, m.i // s.r AS j, " +
    "string_agg(CAST(m.comp AS VARCHAR), ':' ORDER BY m.i) AS key " +
    "FROM mh m, rsel s GROUP BY 1, 2), " +
    "acand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM aband a " +
    "JOIN aband b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id) " +
    "SELECT id_a, id_b, jaccard, CAST(s.r AS INT) AS rows_per_band, " +
    "CAST(8 // s.r AS INT) AS n_bands, CAST(s.corr AS BIGINT) AS calib_ppm " +
    "FROM (SELECT c.id_a, c.id_b, " +
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard " +
    "FROM acand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b), rsel s " +
    "WHERE jaccard >= 0.5 ORDER BY id_a, id_b"
  }

  // x72b's all-pairs perceptual-hash mirror, shared with x72c's clusters
  private lazy val x72bPairsSql: String =
    "WITH img AS (SELECT doc_id AS asset_id, " +
    "CAST((doc_id // 72) % 256 AS BIGINT) AS lo, " +
    "CAST(((doc_id // 72) // 256) % 256 AS BIGINT) AS hi2 " +
    "FROM documents WHERE doc_id % 3 = 0), " +
    "cells AS (SELECT asset_id, CAST(j*8+i AS INT) AS idx, " +
    "CAST((lo * (((j*9)//8)*16 + (i*16)//8) + " +
    "hi2 * (((j*9)//8)*16 + (i*16)//8) * (((j*9)//8)*16 + (i*16)//8)) % 256 AS BIGINT) AS s " +
    "FROM img, UNNEST(range(8)) AS ti(i), UNNEST(range(8)) AS tj(j)), " +
    "b AS (SELECT asset_id, idx, " +
    "CASE WHEN 64*s >= sum(s) OVER (PARTITION BY asset_id) THEN 1 ELSE 0 END AS bit FROM cells), " +
    "h AS (SELECT asset_id, " +
    "CAST(sum(CASE WHEN idx >= 32 THEN bit * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS BIGINT) AS hi, " +
    "CAST(sum(CASE WHEN idx < 32 THEN bit * (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS BIGINT) AS lo " +
    "FROM b GROUP BY asset_id) " +
    "SELECT a.asset_id AS asset_a, b2.asset_id AS asset_b, " +
    "CAST(bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) AS INT) AS hamming " +
    "FROM h a JOIN h b2 ON a.asset_id < b2.asset_id " +
    "WHERE bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) <= 3"

  // quality-signal bodies shared by their own gates and the x59 ensemble
  private lazy val x8QualitySql: String =
    "SELECT doc_id, n_chars_m, n_tokens, avg_token_len, stop_ratio, " +
    "least(1.0, n_tokens/50.0)*0.4 + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END) " +
    "+ least(0.3, stop_ratio*3) AS quality_score FROM (" +
    "SELECT doc_id, CAST(length(text) AS INT) AS n_chars_m, " +
    "CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
    "CAST(length(replace(text, ' ', '')) AS DOUBLE)/len(string_split(text, ' ')) AS avg_token_len, " +
    s"CAST(${stopHitsSql} AS DOUBLE)/len(string_split(text, ' ')) AS stop_ratio " +
    "FROM documents)"

  // bigram LM trained on the corpus itself; conditional probabilities
  // quantized to integer ppm before the per-doc mean (exact cross-engine)
  private lazy val x56LmSql: String =
    "WITH big AS (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram " +
    "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    "UNNEST(range(1, len(t))) AS u(i)), " +
    "cb AS (SELECT w1, bigram, count(*) AS c_big FROM big GROUP BY 1, 2), " +
    "cu AS (SELECT w1, count(*) AS c_uni FROM big GROUP BY 1), " +
    "lm AS (SELECT bigram, (c_big * 1000000) // c_uni AS ppm FROM cb JOIN cu USING (w1)), " +
    "s AS (SELECT doc_id, count(*) AS n, CAST(sum(ppm) AS BIGINT) AS sp " +
    "FROM big JOIN lm USING (bigram) GROUP BY 1) " +
    "SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, CAST(sp AS DOUBLE)/n AS lm_score_ppm FROM s"

  // x59b's capped LM (mirror of TextStats.cappedBigramLm + the
  // known-bigram scoring convention of ensembleVerdictAgainstLm): rank by
  // (count desc, doc-frequency desc, bigram asc) — a deterministic total
  // order — keep the top 500, score docs over KNOWN bigrams only
  private lazy val x59bCappedLmSql: String =
    "WITH big AS (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram " +
    "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    "UNNEST(range(1, len(t))) AS u(i)), " +
    "cb AS (SELECT w1, bigram, count(*) AS c_big, count(DISTINCT doc_id) AS df FROM big GROUP BY 1, 2), " +
    "cu AS (SELECT w1, count(*) AS c_uni FROM big GROUP BY 1), " +
    "lmf AS (SELECT bigram, c_big, df, (c_big * 1000000) // c_uni AS ppm FROM cb JOIN cu USING (w1)), " +
    "lm AS (SELECT bigram, ppm FROM (SELECT bigram, ppm, " +
    "row_number() OVER (ORDER BY c_big DESC, df DESC, bigram ASC) AS rk FROM lmf) WHERE rk <= 500), " +
    "s AS (SELECT doc_id, count(*) AS n, CAST(sum(ppm) AS BIGINT) AS sp " +
    "FROM big JOIN lm USING (bigram) GROUP BY 1) " +
    "SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, CAST(sp AS DOUBLE)/n AS lm_score_ppm FROM s"

  // hashed bag-of-words linear classifier: md5-prefix bucket, LCG weight,
  // integer sum folded in-row; margin = exact-long / exact-long
  private lazy val x57ClfSql: String =
    "SELECT doc_id, n_tokens, w_sum, CAST(w_sum AS DOUBLE)/n_tokens AS margin, " +
    "CASE WHEN CAST(w_sum AS DOUBLE)/n_tokens >= 0 THEN 'keep' ELSE 'drop' END AS verdict " +
    "FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
    "CAST(list_sum(list_transform(string_split(text, ' '), tok -> " +
    "((CAST(concat('0x', substr(md5(tok), 1, 4)) AS BIGINT) % 256) * 1103515245 + 12345) % 101 - 50" +
    ")) AS BIGINT) AS w_sum FROM documents)"

  private val x58ContainmentSql: String =
    shingleBandsCte + bandCandShdCte(directed = true) +
    "SELECT id_a, id_b, containment FROM (SELECT c.id_a, c.id_b, " +
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment " +
    "FROM cand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b) " +
    "WHERE containment >= 0.5 ORDER BY id_a, id_b"

  /** 16-bit md5-witness simhash construction (shared by x4b and the x4c
    * blocking pipeline): token hash = first 60 bits of md5(token); bit i =
    * sign of Σ ±1 votes (mirror of DocDedup.simhashMd5). */
  private val simhash16Cte: String =
    "h AS (SELECT doc_id, list_transform(string_split(text, ' '), t -> " +
    "CAST(concat('0x', substr(md5(t),1,15)) AS BIGINT)) AS hs FROM documents), " +
    "sh16 AS (SELECT doc_id, (" +
    (0 until 16).map(i =>
      s"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
      s"THEN CAST(1 AS BIGINT) << $i ELSE 0 END)").mkString(" + ") +
    ") AS simhash16 FROM h)"

  /** Two-stream 2×16-bit md5-witness simhash (x4d_md5): stream 2 votes
    * over md5(token ‖ '#h2') — the DuckDB mirror of
    * DocDedup.simhash2x16Md5Of (both halves per doc in one projection). */
  private val simhash2x16Cte: String = {
    def fp(h: String): String =
      (0 until 16).map(i =>
        s"(CASE WHEN list_sum(list_transform($h, x -> CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN CAST(1 AS BIGINT) << $i ELSE 0 END)").mkString(" + ")
    "tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
    "hh AS (SELECT doc_id, list_transform(ts, t -> " +
    "CAST(concat('0x', substr(md5(t),1,15)) AS BIGINT)) AS h1, " +
    "list_transform(ts, t -> " +
    "CAST(concat('0x', substr(md5(concat(t, '#h2')),1,15)) AS BIGINT)) AS h2 FROM tk), " +
    s"sh2 AS (SELECT doc_id, (${fp("h1")}) AS sh_lo16, (${fp("h2")}) AS sh_hi16 FROM hh)"
  }

  /** The click×view interval join (e5 batch twin / e11 streaming gate —
    * one text so the two planners are graded against the same rows). */
  private val clickViewSql: String =
    "SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts, " +
      "v.event_id AS view_id, v.ts AS view_ts " +
      "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c " +
      "JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v " +
      "ON c.user_id = v.user_id AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR " +
      "ORDER BY click_id, view_id"

  /** k-means assignment CTE (x26/x26b): nearest of the k=8 seed centroids
    * by squared L2, ties to the smaller cell_id — the DuckDB mirror of
    * Clustering.assigned (same list fold shape as dotSql). */
  private val kmeansAssignCte: String =
    "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
    "seeds AS (SELECT vec_id AS cell_id, vec AS cvec FROM v WHERE vec_id < 8), " +
    "a AS (SELECT vec_id, cell_id, vec, row_number() OVER (PARTITION BY vec_id ORDER BY " +
    "list_sum(list_transform(list_zip(vec, cvec), t -> (t[1]-t[2])*(t[1]-t[2]))), cell_id) AS rn " +
    "FROM v, seeds), " +
    "asg AS (SELECT vec_id, cell_id, vec FROM a WHERE rn = 1)"

  /** per-row norm CTE over double-cast embeddings (bit-exact with Spark's
    * sequential aggregate() fold — verified empirically). */
  private val normCte: String =
    "nrm AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, " +
    "sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) AS norm FROM embeddings)"

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), t -> t[1]*t[2]))"

  /** THE int8 quantizer lambda, shared by the x129 and x131 oracles —
    * mirrors Similarity.withInt8Codes (floor codes, zero-scale guard):
    * one definition on each engine side, so the parity eval can never
    * audit a different quantizer than the error table reports on. */
  private val int8CodesSql: String =
    "list_transform(vec, x -> " +
    "CASE WHEN scale = 0 THEN 0 ELSE CAST(floor(x * 127.0 / scale) AS BIGINT) END)"

  /** k-center greedy CTE chain (x84): the k-round farthest-point traversal
    * unrolled as chained CTEs — step i computes every remaining vector's
    * min squared-L2 distance to the i−1 chosen (the same list fold shape
    * as the k-means oracle, bit-exact vs Clustering.dist2) and picks the
    * max, ties to the smaller vec_id. */
  /** Chained peel rounds for the x106 oracle: a_r = the alive node set,
    * rm_r = alive nodes WITHOUT degree ≥ k in the round-(r−1) edge set
    * (covering nodes with zero remaining edges — the star-hub case, which
    * a degree HAVING alone would silently drop), e_r = edges with both
    * endpoints alive. The chain is IDEMPOTENT once converged (an empty
    * rm_r leaves a_r = a_{r−1} and e_r = e_{r−1}), so chaining exactly
    * `rounds` steps matches the Spark side's converge-or-fail bound of
    * the same length. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val ctes = new StringBuilder(
      "e0 AS MATERIALIZED (SELECT id_a AS s, id_b AS t FROM pairs " +
        "UNION ALL SELECT id_b, id_a FROM pairs), " +
        "a0 AS MATERIALIZED (SELECT DISTINCT s FROM e0)")
    for (r <- 1 to rounds) {
      ctes ++= (s", rm$r AS MATERIALIZED (SELECT s FROM a${r - 1} WHERE s NOT IN " +
        s"(SELECT s FROM e${r - 1} GROUP BY s HAVING count(*) >= $k))")
      ctes ++= (s", a$r AS MATERIALIZED (SELECT s FROM a${r - 1} " +
        s"WHERE s NOT IN (SELECT s FROM rm$r))")
      ctes ++= (s", e$r AS MATERIALIZED (SELECT e.s, e.t FROM e${r - 1} e " +
        s"WHERE e.s NOT IN (SELECT s FROM rm$r) AND e.t NOT IN (SELECT s FROM rm$r))")
    }
    val layers = (1 to rounds).map(r =>
      s"SELECT s AS doc_id, CAST($r AS INT) AS peel_layer, " +
        s"CAST(0 AS BIGINT) AS core_degree FROM rm$r").mkString(" UNION ALL ")
    s"${ctes.toString}, core AS (SELECT s AS doc_id, CAST(0 AS INT) AS peel_layer, " +
      s"CAST(count(*) AS BIGINT) AS core_degree FROM e$rounds GROUP BY s) " +
      s"$layers UNION ALL SELECT doc_id, peel_layer, core_degree FROM core"
  }

  private def kcenterSql(k: Int): String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), t -> (t[1]-t[2])*(t[1]-t[2])))"
    val ctes = new StringBuilder(
      "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
      "c1 AS (SELECT vec_id, vec FROM v ORDER BY vec_id LIMIT 1), " +
      "s1 AS (SELECT vec_id, vec FROM c1)")
    for (i <- 2 to k) {
      ctes ++= (s", d$i AS (SELECT v.vec_id, v.vec, min(${d2("v.vec", "s.vec")}) AS md " +
        s"FROM v, s${i - 1} s WHERE v.vec_id NOT IN (SELECT vec_id FROM s${i - 1}) " +
        "GROUP BY v.vec_id, v.vec)")
      ctes ++= s", c$i AS (SELECT vec_id, vec, md FROM d$i ORDER BY md DESC, vec_id LIMIT 1)"
      ctes ++= s", s$i AS (SELECT vec_id, vec FROM s${i - 1} UNION ALL SELECT vec_id, vec FROM c$i)"
    }
    val sel = (Seq("SELECT CAST(1 AS INT) AS rank, vec_id, CAST(NULL AS DOUBLE) AS min_dist FROM c1") ++
      (2 to k).map(i => s"SELECT CAST($i AS INT) AS rank, vec_id, md AS min_dist FROM c$i"))
      .mkString(" UNION ALL ")
    s"WITH ${ctes.toString} $sel"
  }

  /** Shared CTE prefix for the DERIVED-PARAMETER LSH oracles
    * (x5b_auto/x55_auto): DuckDB re-derives the plane count from its own
    * count(*) — the integer threshold sum is exactly
    * `Similarity.autoPlanes` — and rebuilds the ±1 plane matrix from its
    * own md5() (`Similarity.planeMd5`: component i of plane (t, j) is +1
    * iff the first md5 nibble of "pl_t_j_i" is odd). No literal matrix,
    * no pinned knob: candidate generation itself is cross-engine-checked.
    * The j >= np guard is applied in the WHERE (before the dot), so only
    * the resolved planes are evaluated, like the Spark side. */
  private def autoLshCtes(nTables: Int): String =
    s"$normCte, " +
      "prm AS (SELECT GREATEST(6, " +
      (0 until 28).map(k => s"(CASE WHEN cnt > ${32L << k} THEN 1 ELSE 0 END)")
        .mkString(" + ") +
      ") AS np FROM (SELECT count(*) AS cnt FROM embeddings)), " +
      "pl AS (SELECT t, j, list(CASE WHEN CAST(concat('0x', " +
      "substr(md5('pl_' || t || '_' || j || '_' || i), 1, 1)) AS BIGINT) % 2 = 1 " +
      "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END ORDER BY i) AS pv " +
      s"FROM range(0, $nTables) r1(t), range(0, 28) r2(j), range(0, 64) r3(i) " +
      "WHERE j < (SELECT np FROM prm) GROUP BY t, j), " +
      "coded AS (SELECT n.vec_id, p.t, CAST(sum(CASE WHEN " +
      s"${dotSql("n.vec", "p.pv")} >= 0 THEN CAST(1 AS BIGINT) << p.j ELSE 0 END) " +
      "AS BIGINT) AS code FROM nrm n, pl p GROUP BY n.vec_id, p.t)"

  /** The x65 cascade's per-document keep-flag CTE chain (keepers →
    * decontamination → length thresholds → quality → `flags(doc_id,
    * f1..f4)`), shared by the x65 doc funnel and the x124 token ledger so
    * the two oracles cannot drift — the SQL mirror of
    * `Curation.funnelFlags`. */
  private lazy val x65FlagsCtes: String =
    "keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
      "list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
      "ELSE [array_to_string(t, ' ')] END AS s FROM tok), " +
      "flat AS (SELECT DISTINCT doc_id, " +
      "CAST(concat('0x', substr(md5(sx), 1, 15)) AS BIGINT) AS h " +
      "FROM (SELECT doc_id, unnest(s) AS sx FROM sh)), " +
      "bench AS (SELECT DISTINCT h FROM flat WHERE doc_id % 17 = 0), " +
      "clean AS (SELECT c.doc_id FROM (SELECT doc_id, h FROM flat WHERE doc_id % 17 <> 0) c " +
      "LEFT JOIN bench b USING (h) GROUP BY c.doc_id HAVING count(b.h) * 5 < count(*)), " +
      "hist AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1), " +
      "cm AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum, " +
      "sum(cnt) OVER () AS total FROM hist), " +
      "th AS (SELECT min(CASE WHEN cum*100 >= total*5 THEN n_chars END) AS lo, " +
      "min(CASE WHEN cum*100 >= total*95 THEN n_chars END) AS hi FROM cm), " +
      s"q AS ($x8QualitySql), " +
      "flags AS (SELECT d.doc_id, " +
      "CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f1, " +
      "CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f2, " +
      "CASE WHEN d.n_chars BETWEEN th.lo AND th.hi THEN 1 ELSE 0 END AS f3, " +
      "CASE WHEN qq.quality_score >= 0.6 THEN 1 ELSE 0 END AS f4 " +
      "FROM documents d LEFT JOIN keepers k ON k.doc_id = d.doc_id " +
      "LEFT JOIN clean cl ON cl.doc_id = d.doc_id " +
      "LEFT JOIN q qq ON qq.doc_id = d.doc_id, th)"

  /** The auto-LSH KNN-graph CTE chain (coded → cand → rescored sim →
    * top-k `knn(vec_id, neighbor_id, rank)`), shared by every oracle that
    * consumes the graph (x102/x114/x119) so the tie-break and k can never
    * drift between copies — the SQL mirror of `Similarity.knnGraphArtifact`. */
  private def knnGraphCtes(nTables: Int = 8, k: Int = 5): String =
    s"${autoLshCtes(nTables)}, " +
      "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM coded a " +
      "JOIN coded b ON a.t = b.t AND a.code = b.code AND a.vec_id <> b.vec_id), " +
      "s AS (SELECT c.id_a, c.id_b, " +
      s"${dotSql("x.vec", "y.vec")}/(x.norm*y.norm) AS sim FROM cand c " +
      "JOIN nrm x ON x.vec_id = c.id_a JOIN nrm y ON y.vec_id = c.id_b), " +
      "knn AS (SELECT id_a AS vec_id, id_b AS neighbor_id, rank FROM " +
      "(SELECT id_a, id_b, CAST(row_number() OVER (PARTITION BY id_a " +
      s"ORDER BY sim DESC, id_b) AS INT) AS rank FROM s) WHERE rank <= $k)"

  /** marker-word hit count per language (mirror of TextStats.langScore). */
  private def markerSql(lang: String): String = {
    val markers = TextStats.langMarkers.toMap.apply(lang)
    markers.map { m =>
      s"CAST((length(' '||text||' ')-length(replace(' '||text||' ', '$m', '')))/${m.length} AS INT)"
    }.mkString("(", " + ", ")")
  }

  private val stopHitsSql: String =
    Seq(" the ", " a ", " of ", " and ").map { m =>
      s"CAST((length(' '||text||' ')-length(replace(' '||text||' ', '$m', '')))/${m.length} AS INT)"
    }.mkString("(", " + ", ")")
}

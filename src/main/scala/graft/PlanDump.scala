package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `explain("formatted")` for the headline queries to
  * PLANS.md — the plan-shape evidence (pushed filters, broadcast joins,
  * zero-exchange bucketed joins, partition-pruned ANN/geo scans) reviewed
  * after every operator lands, on the [[GraftSession]] confs with
  * `SPARK_GRAFT_CPUS` cores. Run:
  * `sbt "runMain graft.PlanDump /root/testdata/sf0.01 PLANS.md"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession(GraftSession.envCores)

    // materialize staged layouts so plans show their real (parquet-scan) form
    operators.SimilarityOps.kmeansLayout(spark, sfDir).count()
    operators.ScaleOps.sortedOrdersLayout(spark, sfDir).count()
    operators.SimilarityOps.pqCodes(spark, sfDir).count()
    Tables.bucketedOrders(spark, sfDir).count()
    Tables.bucketedLineitem(spark, sfDir).count()

    val targets: Seq[(String, String, DataFrame)] = Seq(
      ("xa_q6_forecast_revenue", "every predicate reaches the parquet scan (PushedFilters)",
        operators.RelationalOps.forecastRevenue(spark, sfDir)),
      ("xj_q3_shipping_priority", "broadcast dim, single fact-fact shuffle, TakeOrderedAndProject",
        operators.RelationalOps.shippingPriority(spark, sfDir)),
      ("xj_q18_large_orders", "pre-aggregated heavy set broadcasts; fact tables never shuffle",
        operators.RelationalOps.largeQuantityOrders(spark, sfDir, 250.0)),
      ("xp_bucketed_order_revenue", "bucketed layout: join + aggregation with ZERO exchanges",
        operators.ScaleOps.bucketedOrderRevenue(spark, sfDir)),
      ("sim_kmeans_pruned_topk", "probed clusters become PartitionFilters on the k= layout",
        operators.SimilarityOps.kmeansPrunedTopK(spark, sfDir)),
      ("sim_pq_topk", "ADC scan: staged byte codes + broadcast per-query LUT",
        operators.SimilarityOps.pqTopK(spark, sfDir)),
      ("geo_pruned_bbox", "ZRangePruning rule injects Morton ranges on the tagged z2 layout",
        operators.GeoOps.z2Layout(spark, sfDir)
          .where("lon >= -60 and lon <= 0 and lat >= -30 and lat <= 30")
          .select("event_id", "lon", "lat", "z2")),
      ("dd_minhash_candidates", "LSH banding: bucketed self-join, hot-bucket guard, no all-pairs",
        operators.DedupOps.minhashCandidates(spark, sfDir)),
      ("xo_sessionize", "lag/cumsum/groupBy all partition on user_id: one shuffle",
        operators.TimeSeriesOps.sessionize(spark, sfDir)),
      ("xo_topk_custom_op", "custom TopKPerKeyExec: bounded heaps, one exchange, no Window/Sort",
        operators.RelationalOps.topOrdersPerCustomerCustom(spark, sfDir, 2)),
      ("tx_curated_corpus", "quality+lang+near-dup filters fused into one documents scan",
        operators.TextOps.curatedCorpus(spark, sfDir)),
      ("xj_q21_sole_late_supplier", "double EXISTS/NOT-EXISTS as one agg + one window, supplier broadcast",
        operators.RelationalOps.soleLateSuppliers(spark, sfDir)),
      ("xa_heavy_hitters", "MG sketch pass (partial-agg combined) + broadcast-pruned exact confirm",
        operators.RelationalOps.heavyHitterSuppliers(spark, sfDir)),
      ("xt_scd2_user_state", "lag+lead share one (user,time) sort: ONE shuffle builds the history",
        operators.TimeSeriesOps.scd2UserState(spark, sfDir)),
      ("xj_q10_returned_losses", "per-key agg before dimension decoration; top-k over the aggregate",
        operators.RelationalOps.returnedItemLosses(spark, sfDir)),
      ("xp_sorted_layout_scan", "range-sorted layout: date slice pushes to scan, skips files",
        operators.ScaleOps.sortedLayoutMonthScan(spark, sfDir)),
      ("geo_neighbor_pairs", "grid-bucket spatial self-join: 9x replicate + ONE cell-key shuffle",
        operators.GeoOps.neighborPairs(spark, sfDir)),
      ("xp_incremental_monthly", "staged history partials + cutoff-filtered delta, tiny merge agg",
        operators.ScaleOps.incrementalMonthlyOrders(spark, sfDir)),
      ("xj_q11_important_stock", "derived-partsupp scan once; threshold = one-row broadcast of the per-part agg",
        operators.RelationalOps.importantStock(spark, sfDir)),
      ("sim_recall_report", "exact top-k broadcast; per-method hits are query-set-sized semi-joins",
        operators.SimilarityOps.recallReport(spark, sfDir)),
      ("xp_zorder_scan", "z-ordered layout: BOTH dims' predicates push to the scan and skip files",
        operators.ScaleOps.zorderSliceScan(spark, sfDir)),
      ("xt_funnel_steps", "cascaded per-user aggs: map-side partials, raw stream joined by broadcast/reused exchange",
        operators.TimeSeriesOps.funnelSteps(spark, sfDir)),
      ("xt_cohort_retention", "stream collapses to (user,day) pairs; cohort sizes broadcast back",
        operators.TimeSeriesOps.cohortRetention(spark, sfDir)),
      ("tx_keyword_search", "terms' buckets become PartitionFilters on the posting-list layout; corpus text never read",
        operators.TextOps.keywordSearch(spark, sfDir)),
      ("tx_ranked_search", "tf-idf over pruned postings: broadcast df, one doc-keyed agg, TakeOrderedAndProject",
        operators.TextOps.rankedSearch(spark, sfDir)),
      ("tx_phrase_search", "positional postings: bucket-pruned per-term scans, doc_id joins, per-row position intersect",
        operators.TextOps.phraseSearch(spark, sfDir)),
      ("xt_value_outliers", "exact decimal moments once per user, broadcast back; stream joins stats, never reshuffles",
        operators.TimeSeriesOps.valueOutliers(spark, sfDir)),
      ("xo_priority_sample", "pure row-function priority: scan → TakeOrderedAndProject, nothing global",
        operators.RelationalOps.prioritySample(spark, sfDir)),
      ("xa_trend_ols", "closed-form OLS: five mergeable moment sums, ONE map-side-combinable agg",
        operators.RelationalOps.trendOls(spark, sfDir)),
      ("tx_doc_chunks", "narrow chunker: words materialized once, sequence+explode+slice, zero shuffles",
        operators.TextOps.docChunks(spark, sfDir)),
      ("xp_bloom_membership", "bloom literal probed with codegen'd bit arithmetic; one summary agg",
        operators.ScaleOps.bloomMembership(spark, sfDir)),
      ("xt_rolling_active", "sliding distinct as bounded 7x coverage expansion; all stages partial-agg",
        operators.TimeSeriesOps.rollingActiveUsers(spark, sfDir)),
      ("geo_knn_join", "9-cell candidate join ranked by the custom TopKPerKeyExec, no Window/Sort",
        operators.GeoOps.knnJoin(spark, sfDir)),
      ("xt_changepoint", "two windows share one user_id sort; argmax via TopKPerKey k=1, no re-sort",
        operators.TimeSeriesOps.changepoints(spark, sfDir)),
      ("sim_gram_matrix", "outer-product partial agg: narrow double-explode, ONE 2080-cell exchange",
        operators.SimilarityOps.gramMatrix(spark, sfDir)),
      ("s3_cmd_results", "DataSourceV2 BatchScan over the node registry, pruned to required columns",
        spark.read.format("graft-cmd").option("sfdir", sfDir)
          .option("command", "uptime").option("exec", "flaky").load()
          .select("node", "exit_status")),
      ("dd_incremental", "batch bands join STORED index bands (never self-join); candidate pairs + shingle sliver checkpointed once (r15), verify reads the sliver",
        operators.DedupOps.incrementalDedup(spark, sfDir)),
      ("dd_incremental_tx", "index side is the PERSISTED TxTable v0 snapshot: plain parquet scan from the commit log",
        operators.DedupOps.incrementalDedupTx(spark, sfDir)),
      ("dd_incremental_cdf", "batch side is the index's OWN change feed (v1 inserts): replay, not recompute",
        operators.DedupOps.incrementalDedupCdf(spark, sfDir)),
      ("xacid_cdf", "per-commit change batches: appends read as-written data files, mutations read cdc files; one union agg",
        operators.AcidOps.changeFeed(spark, sfDir)),
      ("xacid_dv_scan", "merge-on-read scan: codegen'd deletion-vector anti-filter over _metadata (file,row), zero rewrites",
        operators.AcidOps.dvState(spark, sfDir)),
      ("xacid_mv", "MV as ONE signed aggregation over the change feed; refresh cost ~ changes, never the table",
        operators.AcidOps.incrementalMv(spark, sfDir)),
      ("xacid_prefix_scan", "LIKE 'p%' ranged by the prover against UTF-8 file stats: 2 of 4 files ever open",
        operators.AcidOps.prefixScan(spark, sfDir)),
      ("tx_stratified_sample", "ONE fused codegen'd langid pass per inlined occurrence (was 81 split() trees outside codegen)",
        operators.TextOps.stratifiedSample(spark, sfDir)),
      ("md_flac_decode", "staged FLAC payload scan -> one codegen'd Rice/predictor-inverting parse, zero shuffle",
        operators.MediaOps.flacDecode(spark, sfDir)),
      ("md_gzip_decode", "staged gzip member scan -> one codegen'd Huffman/LZ77-inverting parse, zero shuffle",
        operators.MediaOps.gzipDecode(spark, sfDir)),
      ("xacid_bloom_scan", "driver bloom-pruned file set -> the scan reads ONLY the key's files; one tiny agg",
        operators.DedupOps.bloomIndexScan(spark, sfDir)),
      ("dd_dup_spans", "narrow gram build; x5 position explode only AFTER the duplicate semi-join",
        operators.DedupOps.dupSpans(spark, sfDir)),
      ("tx_lm_score", "bigram stream built narrow from word arrays; model joins partial-agg'd, vocab one-row broadcast",
        operators.TextOps.lmScores(spark, sfDir)),
      ("md_wav_decode", "render->RIFF-parse->stats fused into ONE codegen stage on the scan; zero shuffle",
        operators.MediaOps.wavDecode(spark, sfDir)),
      ("tx_bm25_search", "BM25 from pruned postings alone: dl rides the posting rows, stats broadcast, one doc agg",
        operators.TextOps.bm25Search(spark, sfDir)),
      ("sim_srp_knn_join", "staged SRP index self-join per (table,bucket), TopKPerKey cuts candidates pre-exchange, rank window sees k-bounded partitions",
        operators.DedupOps.srpKnnJoin(spark, sfDir)),
      ("md_png_decode", "staged PNG payload scan -> one codegen'd parse+stats projection, zero shuffle",
        operators.MediaOps.pngDecode(spark, sfDir)),
      ("xacid_final_state", "TxTable snapshot read: live-file parquet scan from the commit log, no full-table rewrite artifacts",
        operators.AcidOps.finalState(spark, sfDir)),
      ("dd_simhash_neighbors", "two-level banded rep join (small band keys + hot-bucket sub-bands), clique expansion at output",
        operators.DedupOps.simhashNeighbors(spark, sfDir)),
      ("geo_kcore", "peeling rounds: map-side degree count + two semi-joins; edge set only shrinks",
        operators.GeoOps.kCore(spark, sfDir)),
      ("dd_prefix_jaccard", "set-collapse to reps, prefix equi-join + inline PPJoin filters, shuffle-hash verify with codegen'd sorted_intersect_n, clique expansion at output",
        operators.DedupOps.prefixJaccard(spark, sfDir)),
      ("dd_ngram_jaccard", "rare-gram postings (broadcast df cut), candidate-doc-pruned array verify over shuffle-hash joins",
        operators.DedupOps.ngramJaccard(spark, sfDir)),
      ("geo_pagerank", "unrolled Pregel rounds over the STAGED degree-annotated edge list; per round one src join + one dst agg",
        operators.GeoOps.pageRank(spark, sfDir)),
      ("geo_sssp", "relaxation rounds read the staged weighted edges; only the vertex-sized distance vector moves",
        operators.GeoOps.sssp(spark, sfDir)),
      ("xt_autocorr_daily", "day+1 self-join on the per-day aggregate: hash-partitioned, no single-partition window",
        operators.TimeSeriesOps.dailyAutocorr(spark, sfDir)),
      ("xa_weighted_median", "single-pass WeightedMedianAgg kernel (r15): one fact scan, one map-side-combined aggregate, domain-bounded final sort — no windows, no joins",
        operators.RelationalOps.weightedMedianPrice(spark, sfDir)),
      ("dd_semdedup", "cluster-local pair join on the trained index (k ~ n/250 keeps clusters constant-size); centroids broadcast",
        operators.SimilarityOps.semanticDedup(spark, sfDir)),
      ("tx_dsir_weights", "scoring is ONE codegen explode + per-doc sum of a 256-long anchored log-ratio LITERAL; the bounded-key stats pass already collected at construction — no corpus-keyed aggregate anywhere",
        operators.TextOps.dsirWeights(spark, sfDir)),
      ("sim_pca_power", "iterations run on cached 64x64 gram cells; corpus touched only by the final broadcast-direction projection",
        operators.SimilarityOps.pcaPowerProjection(spark, sfDir)),
      ("sim_pq_codes", "map-only PQ encode: collected-literal codebook argmin in ONE codegen projection, zero exchanges",
        operators.SimilarityOps.pqCodesFlat(spark, sfDir)),
      ("sim_hard_negatives", "broadcast panel + in-stage label prune; TopKPerKey bounds the per-query heap pre-exchange",
        operators.SimilarityOps.hardNegatives(spark, sfDir)),
      ("dd_fuzzy_decontam", "benchmark bands broadcast against staged corpus bands; per-doc argmax window is eval-suite-bounded",
        operators.DedupOps.fuzzyDecontam(spark, sfDir)),
      ("tx_blocklist_scrub", "pure map: one codegen'd regexp count + one rewrite on the single documents scan, zero shuffles",
        operators.TextOps.blocklistScrub(spark, sfDir)),
      ("sim_matryoshka_recall", "per-dim prefix cosine over the broadcast panel; TopKPerKey bounds heaps pre-exchange; |Q|k semi-joins",
        operators.SimilarityOps.matryoshkaRecall(spark, sfDir)),
      ("geo_components", "per round: src-keyed propagate with map-side min-combine on staged edges + vertex-sized pointer-jump self-join",
        operators.GeoOps.connectedComponents(spark, sfDir)),
      ("xa_hll_intersect", "one scan -> map-side custkey collapse -> single-row sketch+exact aggregate; overlap is sketch algebra",
        operators.ScaleOps.hllIntersect(spark, sfDir)),
      ("dd_span_removal", "dup-span stages unchanged; rebuild is a doc-keyed anti-join + per-doc in-row struct sort, no corpus sort",
        operators.DedupOps.spanRemoval(spark, sfDir)),
      ("tx_token_budget", "corpus collapses to source-cardinality counts; waterfill sort window runs on metadata-sized rows",
        operators.TextOps.tokenBudget(spark, sfDir)),
      ("xt_stl_decompose", "one daily collapse; range window + dow rollup + broadcast join all day-cardinality",
        operators.TimeSeriesOps.stlDecompose(spark, sfDir)),
      ("geo_ppr", "frontier-local rounds: edges join positive-mass rows only; inflow+teleport sum in one grouped union",
        operators.GeoOps.personalizedPageRank(spark, sfDir)),
      ("xa_basket_pairs", "within-basket self-join (fan-out bounded by basket size); distinct + join share ONE basket-key exchange (r15); map-side support count, cut before lift join",
        operators.RelationalOps.basketPairs(spark, sfDir)),
      ("xa_rfm_segments", "quintile boundaries as a 12-number broadcast; scores are integer comparisons in the scan projection",
        operators.RelationalOps.rfmSegments(spark, sfDir)),
      ("xt_window_funnel", "three type-filtered slices of one events scan cascaded through user-keyed aggregates",
        operators.TimeSeriesOps.windowFunnel(spark, sfDir)),
      ("xa_spend_concentration", "percentile thresholds broadcast as two numbers; shares are conditional sums, no global sort",
        operators.RelationalOps.spendConcentration(spark, sfDir)),
      ("xt_top_paths", "two leads share ONE user-keyed sort; bounded path domain, TakeOrderedAndProject cut",
        operators.TimeSeriesOps.topPaths(spark, sfDir)),
      ("dd_jaro_name_pairs", "vocab collapse before all-pairs: codegen'd JaroWinkler on broadcast BNLJ of distinct names, never parts squared",
        operators.DedupOps.jaroNamePairs(spark, sfDir)),
      ("xt_mann_kendall", "facts collapse to day cardinality BEFORE the O(n^2) pair join; one-row exact-integer finish",
        operators.TimeSeriesOps.mannKendall(spark, sfDir)),
      ("xp_cms_join_estimate", "join size WITHOUT the join: two fixed 512KB sketch aggs merge map-side; the exact join runs only as the error report",
        operators.ScaleOps.cmsJoinEstimate(spark, sfDir)),
      ("xa_expectations", "all 10 constraints fold into TWO conditional-agg scans + a constant-row explode; never one job per constraint",
        operators.ScaleOps.expectations(spark, sfDir)),
      ("tx_perplexity_buckets", "lm plan unchanged; tercile ranks window BY LANGUAGE (no global sort); rollup is lang x 3 rows",
        operators.TextOps.perplexityBuckets(spark, sfDir)),
      ("tx_quality_classifier", "features checkpointed once (24 B/doc, r15); each IRLS step = a 9-scalar map-side-combined agg over the checkpoint; beta re-broadcast; data never collects",
        operators.TextOps.qualityClassifier(spark, sfDir)),
      ("xt_markov_attribution", "path-is-a-prefix: ONE window pass (rn, running purchase count, lead) + one conditional agg — no fp join, no anti-join, no union (r15); all 5 absorption variants are literal chains over the one-row matrix",
        operators.TimeSeriesOps.markovAttribution(spark, sfDir)),
      ("geo_hotspots", "corpus collapses to the 72-cell lattice map-side; 9-offset replicate join + one-row stats broadcast",
        operators.GeoOps.hotspots(spark, sfDir)),
      ("md_ahash_neardups", "hash inside the decode projection; 4x16-bit band equi-joins (never images^2), codegen'd xor/bit_count verify",
        operators.MediaOps.ahashNearDups(spark, sfDir)),
      ("sim_nprobe_curve", "ONE probe-rank-tagged candidate build serves every curve point (r15); per-point = rank-prefix filter + top-k over checkpointed panel-bounded candidates",
        operators.SimilarityOps.nprobeCurve(spark, sfDir)),
      ("xa_bootstrap_ci", "32 replicates in ONE pass: the fused BootWeights kernel emits the weight vector once per row (7 single-block digests, r14); 64 B-counter aggs map-side-combined",
        operators.ScaleOps.bootstrapCi(spark, sfDir)))

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` at sf dir `$sfDir`. Regenerate after\n")
    sb.append("any plan-affecting change; the specs assert the load-bearing shapes,\n")
    sb.append("this file is the human-readable audit trail.\n")
    targets.foreach { case (name, claim, df) =>
      sb.append(s"\n## $name\n\n_${claim}_\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb.append("\n```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"[plandump] wrote $out (${targets.size} plans)")
    Tables.clearDerived(spark)
    spark.stop()
  }
}

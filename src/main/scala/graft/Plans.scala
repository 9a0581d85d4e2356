package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries into PLANS.md —
  * reviewable evidence that scans prune/push, dims broadcast, windows share
  * one exchange, and the codegen spans cover the hot paths.
  *
  * Usage: sbt "runMain graft.Plans [sfDir]"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // unpinned: the ANN/LSH sections document the corpus-derived defaults
    val spark = Session.builder(4, gatePins = false)
      .config("spark.sql.adaptive.enabled", "false") // static plans are readable
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Plan pins always document the LARGE-input (scale) shape: at sf0.001
    // the adaptive PrefixSum would take its single-window fast path and the
    // dumped plans would contradict the two-phase annotations below.
    spark.conf.set("graft.prefixsum.threshold", "-1")

    val headline = Seq(
      "q_indicator_union" -> "Full reference-pipeline parity: one Exchange+Sort feeds both WindowExec nodes, stack unpivot, broadcast dim join",
      "q1_agg" -> "Hash aggregation: pruned 5-column scan, partial HashAggregate before the single shuffle",
      "q_dim_join_agg" -> "Dim chain: two BroadcastHashJoins, zero SortMergeJoins",
      "q_anti_join" -> "Idempotence anti-join: key-only build side with pushed predicate",
      "q_embed_neardup" -> "Embedding near-dup: BroadcastNestedLoopJoin with codegen'd cosine_similarity in the WholeStageCodegen span",
      "q_cosine_topk" -> "Brute-force top-k: window row_number over codegen'd scores",
      "q_asof_join" -> "AS-OF join: one Exchange + one Sort, carry-forward last() window",
      "q_session_window" -> "Event-time session windows",
      "q_minhash_neardup" -> "MinHash-LSH: band-bucket self-join, signature/set verify joins broadcast while the input size estimate is within spark.sql.autoBroadcastJoinThreshold (about 200k docs at the 10 MiB default) and sort-merge above",
      "q_asof_native" -> "NATIVE as-of: custom AsOfJoinExec, two per-side Exchanges, no union/window",
      "q_cube" -> "CUBE grouping sets: one Expand pass, partial HashAggregate before the single shuffle",
      "q_range_frame" -> "Time-RANGE frame: one Exchange + one WindowExec over a 4-column pruned scan",
      "q_source_v2" -> "DataSourceV2 landing-zone scan: BatchScan with partition-per-key planning",
      "q_lsh_ann" -> "Hyperplane-LSH ANN: banded signature explode, bucket self-join, vectors rejoin post-dedup. Dumped UNCONFIGURED (round 13): band width derives from the corpus count (ceil log2 N) — the production default; the driver gate pins 6 bits via conf to match the static oracle",
      "q_zorder" -> "Z-order clustering: codegen'd Morton key inside the scan's WholeStageCodegen span, RangePartitioning on zval (the layout write shape)",
      "q_binned_range_join" -> "Binned range join: interval-to-bin explode broadcast, equi-BroadcastHashJoin on the bin key + residual range predicate (no nested loop)",
      "q_char_entropy" -> "Char entropy: single codegen'd histogram pass per row, zero Exchange in the whole plan",
      "q_order_limit" -> "Global top-k: TakeOrderedAndProject (per-partition heaps), no global Sort",
      "q_merge_upsert" -> "MERGE-style upsert: two aggregates over one scan, full-outer SortMergeJoin on the merge key",
      "q_decontaminate" -> "Decontamination: eval-span set broadcast into a map-side left-semi join — the train corpus never shuffles",
      "q_pii_redact" -> "PII scrub: regexp_replace/regexp_count projection, zero Exchange end to end",
      "q_doc_chunks" -> "Token-window chunking: sequence→transform→Generate per row, zero Exchange — chunking 100 TB is a pure map",
      "q_unigram_lm" -> "Unigram-LM scoring: (doc,tok) pre-aggregation, then the vocabulary model broadcast back — the corpus-size side never re-shuffles",
      "q_bloom_clean" -> "Bloom decontamination: BloomFilterAggregate subquery feeds a codegen'd might_contain filter; only bloom-positive spans reach the exact semi-join",
      "q_pack_sequences" -> "Sequence packing: one Exchange on the shard key, per-shard window sort, no global order anywhere",
      "q_tpch_q17" -> "TPC-H Q17: the correlated scalar subquery fully decorrelated by Catalyst — per-part aggregate joined back on l_partkey, part broadcast, zero subquery nodes",
      "q_tpch_q18" -> "TPC-H Q18: semi-join on the HAVING aggregate — lineitem aggregated once, qualifying orderkeys joined back, customer dim broadcast",
      "q_tpch_q21" -> "TPC-H Q21: EXISTS/NOT-EXISTS topology — left-semi then left-anti on the suppkey<>suppkey correlated predicates, supplier/nation broadcast",
      "q_tpch_q6" -> "TPC-H Q6: every predicate in PushedFilters, 3-column ReadSchema, single partial+final aggregate — the pure-scan shape",
      "q_semdedup" -> "SemDeDup: centroid assignment broadcast-joined once, cluster-bucketed pairwise cosine (no all-pairs), left-anti keep. Dumped UNCONFIGURED (round 13): centroid count derives as ceil(sqrt N) — the production default; the gate pins 8 via conf",
      "q_triangle_count" -> "Triangle count: degree-oriented two-path equi-join — out-degrees bounded O(sqrt(E)), no hub blowup",
      "q_kanonymity" -> "k-anonymity: ONE window count over the quasi-id shuffle pinned by a lazy localCheckpoint (round 14 — both the star pool and the release branch read the same evaluation), star-pool size as a broadcast one-row aggregate, no global window",
      "q_winsorize" -> "Winsorized mean: one percentile buffer per group, 1-row-per-group bounds broadcast back onto the fact scan",
      "q_tpch_q7" -> "TPC-H Q7: six-table volume-shipping join — supplier + both nation dims broadcast, facts shuffle once each, exact DECIMAL revenue",
      "q_weighted_sample" -> "A-Res weighted sampling: hash-derived keys, TakeOrderedAndProject top-k (per-partition heaps, no global sort)",
      "q_kmeans_step" -> "k-means Lloyd step: k centroids broadcast into a single corpus scan, per-vector argmin window, k-group final aggregate — the corpus never re-partitions across iterations",
      "q_rrf_fusion" -> "Reciprocal-rank fusion: query vectors broadcast once, both rankers and the fused top-k run as windows over one scored pass",
      "q_ewma" -> "EWMA: one shuffle to the per-key ordered fold — no per-row window state, no iterative joins",
      "q_stochastic" -> "Stochastic %K/%D: one Exchange builds the (symbol, hour) bars, one Exchange re-keys to symbol — all three windows (channel min/max, %D SMA, row_number) share the second Sort",
      "q_macd" -> "MACD: bar build + one shuffle to the per-symbol struct fold (ema12/ema26/signal in one pass) — recursive indicator with zero iterative joins and zero window state",
      "q_adamic_adar" -> "Adamic-Adar: adjacency wedge equi-join on the center node (no cartesian), degree weight joined once, left-anti against existing edges",
      "q_power_iteration" -> "PCA power step: corpus outer-product collapses to dim^2 cells (partial agg before the shuffle); means/norm broadcast back — no |corpus| x |corpus| anything",
      "q_auc_roc" -> "AUC-ROC: corpus collapses to the per-score histogram (partial agg), rank sums via the TWO-PHASE bucketed pass — the only global window runs over the ≤numParts per-bucket totals",
      "q_tpch_q2" -> "TPC-H Q2 (derived partsupp): correlated min-cost subquery rewritten to a window MIN over ps_partkey — one shuffle replaces per-part re-aggregation; part + region-filtered supplier dims broadcast",
      "q_tpch_q9" -> "TPC-H Q9 (derived partsupp): part semi-filter + supplier/nation broadcast; the one genuine fact x fact join (lineitem x partsupp) meets on the composite key; DECIMAL-exact profit",
      "q_tpch_q11" -> "TPC-H Q11 (derived partsupp): scalar threshold as a 1-row aggregate broadcast back (cross join), cohort semi-join before the value aggregate",
      "q_bm25" -> "Okapi BM25: one explode feeds doclen + query-term tf aggregates; df broadcast back; only doc-keyed exchanges — no cartesian, no UDF",
      "q_ecdf" -> "ECDF normalization: one type-partitioned Sort under the cume_dist window, decile histogram partial-aggregates after it, 2-column pruned scan",
      "q_group_split" -> "Group-aware split: md5-bucket assignment is a pure projection — zero joins, the audit aggregate is the only wide work",
      "q_stickiness" -> "DAU/MAU stickiness: the 28-day trailing distinct explodes each user-day into its anchor buckets — equi-join shape, no per-day rescan, no range nested loop",
      "q_dbscan_core" -> "DBSCAN core step: 3x3 grid-cell equi-join with exact-distance residual — bounded candidate sets, never corpus x corpus",
      "q_zipf_fit" -> "Zipf fit: rank window runs over the (lang,term) histogram, not the corpus — partial-aggregated term counts are the only corpus-wide shuffle",
      "q_pmi_collocations" -> "PMI collocations: unigram model broadcast onto the bigram histogram (2 BroadcastHashJoins, zero SMJ); global top-20 via TakeOrderedAndProject heaps",
      "q_fk_discovery" -> "FK discovery: candidate key sets broadcast-left-semi into each fact scan; every fact scan column-pruned to exactly its key",
      "q_anomaly_resid" -> "Seasonal-residual anomalies: hour-of-day mu and per-type sd profiles broadcast back onto the fact — zero windows, zero SortMergeJoins",
      "q_knn_classify" -> "kNN label audit: candidate generation rides the IVF index (centroid equi-join), label tables broadcast — no cartesian over the corpus. Dumped UNCONFIGURED (round 13): IVF centroids derive as ceil(sqrt N) — the production default; the gate pins 10 via conf",
      "q_retrieval_eval" -> "Retrieval eval (P@5/MRR/NDCG): both label joins broadcast; ranking windows see k rows per query, never the corpus",
      "q_churn_features" -> "Churn features: the 1-row observation span broadcasts (scalar nested-loop), holdout flags broadcast — zero SortMergeJoins",
      "q_jaro_winkler" -> "Jaro-Winkler fuzzy match: native codegen'd BinaryExpression inside the WholeStageCodegen span; scan pruned to (p_type, p_name)",
      "q_weighted_percentile" -> "Weighted percentile: all three windows (cum weight, total, pick) share ONE shuffle on the group key",
      "q_interval_coverage" -> "Interval union coverage: sweep-line windows + island aggregate ride ONE user_id shuffle — no self-join, no interval explosion",
      "q_vortex" -> "Vortex indicator: bar build + symbol re-key, all window sums share the symbol sort — no joins anywhere",
      "q_ichimoku" -> "Ichimoku cloud: three channel windows + displacement lags share one symbol sort after the bar build",
      "q_keltner" -> "Keltner channels: recursive EMA+ATR smoothing as a per-symbol fold (aggregate HOF projection) — zero joins, zero window state",
      "q_woe_iv" -> "WOE/IV feature screen: 2-column pruned scan, scalar totals broadcast back (1-row nested loop), zero sort-merge joins",
      "q_clustering_coeff" -> "Clustering coefficients: wedge enumeration + closure check as equi-joins over the trade graph — no cartesian",
      "q_lexical_diversity" -> "Lexical diversity: three stacked partial aggregates (word, doc, lang), 3-column pruned scan, no joins",
      "q_cluster_canonical" -> "Canonical-per-cluster selection: dedup components (prefix-filtered pair source — corpus-scale, identical pair set) + one window pick — the pair graph dominates, the pick is one narrow shuffle. Cost note: the prefix-pair source is the deliberate scale-safe price (the all-pairs source ScaleFences at 100x); isolated min-of-3 at sf0.1 is 2.3 s vs the 3.4 s anchor, while full-314-run readings sit at 5-6 s across rounds — block-manager/GC churn from 300 cold siblings, not a plan term (the plan is round-count-free: single-task union-find below the 5M-edge cutoff)",
      "q_containment" -> "Directed containment pairs: fenced postings self-join on hashed shingles, per-direction normalization — same scale posture as jaccardPairs",
      "q_containment_prefix" -> "Prefix-filtered containment: rarity-ordered sub-side prefix probes the full postings; candidates verify via in-row array_intersect — the lossless scale path",
      "q_boilerplate" -> "Boilerplate detection: postings + df aggregate + join back — linear shuffles on shingle/doc keys, no pair joins anywhere",
      "q_kn_bigram" -> "Kneser-Ney bigram LM: corpus collapses once to (doc,w1,w2,cnt); every model table re-aggregates from it and broadcasts back — model scales with vocabulary, not corpus",
      "q_graph_jaccard" -> "Neighbor-set Jaccard: wedge equi-join on the shared neighbor (Σ deg² bounded), degree tables broadcast, left-anti vs existing edges",
      "q_curation_funnel" -> "Curation funnel: one documents read, each doc row flagged by the exact-dup window and left-joined to the near-dup (cluster pick) and boilerplate (df-share screen) drop sets, one row per doc_id each, then one aggregate yields all six columns — no checkpoint, no cross join, each drop set its own proven scale shape",
      "q_aroon" -> "Aroon: window channel extremes + BUCKETED band join picking the last equal bar — equi-join on (symbol, width-14 bucket) probing the 2 adjacent buckets, so join WORK is linear (<=14·28 comparisons per bucket), never bars² per symbol; deterministic tie-break",
      "q_trix" -> "TRIX: triple-EMA recursion as a per-symbol fold (aggregate HOF projection) — zero joins, zero window state",
      "q_split_leakage" -> "Split-leakage audit: prefix-filtered pair stream + two broadcast split joins — corpus-scale safe, no all-pairs anywhere",
      "q_bootstrap_ci" -> "Bayesian bootstrap: flat x32 explode, (type, replicate) partial-aggregated DECIMAL sums, 32-element per-type order statistics — no shuffle grows beyond xB",
      "q_sax_word" -> "SAX words: daily bar shuffle + per-symbol window stats, the word is an in-row ordered fold — zero joins",
      "q_quantile_normalize" -> "Quantile normalization: ntile grid window, per-(type,bucket) aggregate, 100-row reference broadcast back — no sort-merge join; all means are exact decimal sums (order-independent, so results are identical at any partition count)",
      "q_ngram_coverage" -> "Eval n-gram coverage: distinct train shingles via left-semi against the eval postings — linear postings shuffles, no pair join, coverage is a per-doc aggregate",
      "q_weighted_jaccard" -> "Weighted (multiset) Jaccard: scores ONLY the prefix-filtered candidate pairs; the corpus is LEFT-SEMI-joined down to candidate-pair docs BEFORE tokenizing (candidates ≪ corpus at scale), and Σmax folds to ΣA+ΣB−Σmin so the token union never materializes",
      "q_graph_reachability" -> "Recursive-CTE reachability as level-synchronous BFS: 4 unrolled levels, each a shuffled equi-join of frontier vs edges plus a (src,dst) anti-join — no cartesian, min-hop by first discovery (plan shown with level checkpoints, each level materializes once)",
      "q_percentile_disc" -> "SQL-standard inverse-distribution quantiles: pruned 2-column scan, ONE shuffle into a partial/final percentile aggregate pair — no joins, no windows",
      "q_mann_whitney" -> "Mann-Whitney U: corpus collapses to the distinct-value histogram (partial-aggregated), rank prefix sums via the TWO-PHASE bucketed pass — the only global window runs over the ≤numParts per-bucket totals, never the data",
      "q_rfm" -> "RFM quintiles: three customer-cardinality ranks via the two-phase bucketed pass (no single-partition window anywhere), ntile(5) recomputed arithmetically from (rank, n)",
      "q_perplexity_filter" -> "Perplexity gate: percent_rank = exclusive prefix count over the perplexity HISTOGRAM (two-phase bucketed), histogram equi-joined back onto the scored docs — the corpus never sees a global window",
      // round-13 additions: every remaining >1.5s-anchor batch query gets
      // a pinned section (PlanSpec's budget table asserts the same shapes)
      "q_bigram_lm" -> "Bigram LM quality filter: corpus collapses ONCE to (doc, w1, w2, cnt); both model tables re-aggregate from that and broadcast back (bigram-vocabulary-sized, Heaps'-law ≪ corpus) — the corpus-sized side shuffles exactly once; DECIMAL-staged log terms",
      "q_dedup_clusters" -> "Connected-component dedup clusters: prefix-filtered pair graph (lossless Bayardo filter — same pair set as the fenced all-pairs verifier, corpus-scale cost), components via single-task union-find below the 5M-edge cutoff — the tail plan is one narrow shuffle, round-count-free",
      "q_assoc_rules" -> "Association rules: basket matrix collapses to distinct (order, brand) FIRST, pair self-join keyed on the basket id — pair space is |items|^2, never |orders|^2; support thresholds as scalar broadcasts",
      "q_lpa_communities" -> "Label propagation: each round is one join + two aggregates on the |items|^2-bounded edge list; the corpus builds edge weights once — rounds iterate over the EDGE graph, not the corpus",
      "q_jaccard_prefix" -> "Prefix-filtered Jaccard pairs: rarity-ordered prefix postings probe the full postings (per-doc set table broadcast under the dedup size gate), in-row verify — same output contract as the fenced q_ngram_jaccard at corpus-scale cost",
      "q_item_similarity" -> "Item-item cosine: pair join keyed on the CUSTOMER (the sparse nonzero coordinate) — cost is Σ_customers (items-per-customer)^2, never |items|^2 x |customers|; exact BIGINT dot products, top-3 window per brand",
      "q_recursive_cte" -> "Recursive-CTE hierarchy walk: level-synchronous iteration, each level an equi-join materialized once — the tail plan is the final level's narrow shuffle, no driver-side loop",
      "q_lift_curve" -> "Lift/capture deciles: ONE sort under the ntile window, cumulative windows share it, scalar totals broadcast (1-row nested loop) — deciles, not the corpus, feed every aggregate after the first pass",
      "q_ngram_jaccard" -> "Exact n-gram Jaccard (the FENCED all-pairs verifier tier): postings self-join on the shingle key with the per-doc size table (one row per doc) always broadcast — quadratic by DESIGN, ScaleFenced at corpus scale; q_jaccard_prefix is the production path",
      "q_khop_reach" -> "k-hop BFS reachability: 4 unrolled levels, each one shuffled frontier-vs-edges semi-join + distinct + anti-join vs discovered — join count bounded by the hop constant, never corpus-quadratic",
      "q_tpch_q16" -> "TPC-H Q16: NOT-IN as broadcast anti-join, part dim broadcast — the two-phase COUNT(DISTINCT supplier) is the only corpus shuffle",
      "q_approx_quantile" -> "Approximate quantiles: ONE shuffle into the partial/final percentile_approx sketch pair, exact p50 audit in the same pass — no windows, no joins",
      "q_degree_dist" -> "Degree distribution + power-law fit: two-phase distinct-count histogram (exact integers); the log-log OLS slope runs over ~degree-count points — scalar joined back, corpus shuffles twice total")

    val md = new StringBuilder
    md.append("# PLANS — physical plans of the headline queries\n\n")
    md.append(s"Generated by `graft.Plans` at $sfDir, AQE off for readability\n")
    md.append("(production keeps AQE on; it only improves these plans at runtime).\n")

    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      md.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
    }

    // Streaming pins: the batch executed plan of a drained memory table is
    // just a table scan, so these dump the ANALYZED STREAMING logical plan
    // (state operator, watermark placement, time mode) of the un-started
    // streams — the properties PlanSpec asserts.
    val twsDir = graft.util.TempDirs.create("plans-tws").toString
    md.append("\n## q_tws_sessions\n\n")
    md.append(
      """Timer-emitted streaming sessions: `TransformWithState` in EVENT-TIME mode keyed by user_id — one (start, last, n) triple + one event-time timer per ACTIVE key in RocksDB, bounded by concurrent-session cardinality, not stream length. The 0-second `EventTimeWatermark` sits DIRECTLY over the file source (every landing-zone file advances the clock; far-future sentinel files provide the slack that provably fires the tail timers inside the bounded `AvailableNow` drain). Drain width derives from the replay input's byte size (DrainWidth, r21; graft.drain.partitions overrides) — one RocksDB store spins up per partition per micro-batch, so store setup, not data, is what the narrow drain bounds; the production stream sizes partitions to state volume the same way.""")
    md.append("\n\n```\n== Analyzed Streaming Logical Plan ==\n")
    md.append(graft.streaming.SessionTimers
      .sessionStream(spark, twsDir, 1800000000L)
      .queryExecution.analyzed.treeString)
    md.append("```\n")

    val sojDir = graft.util.TempDirs.create("plans-soj").toString
    md.append("\n## q_stream_outer_join\n\n")
    md.append(
      """LEFT OUTER stream-stream join: unmatched clicks emit with NULL purchase columns only once the watermark PROVES no in-window purchase can arrive (state eviction drives the null padding, not a recompute). ONE shared watermark node over the source — the per-side type filters sit ABOVE it, so the sentinel rows (which carry the join types themselves, out-of-domain negative keys) advance BOTH sides' clocks before dropping out of the join inputs. The join condition carries the user_id equi-key plus the 1-hour event-time range — exactly what bounds per-side state under the watermark. Drain width derives from the staged replay input's byte size (DrainWidth, r21; 4 state stores per partition per batch).""")
    md.append("\n\n```\n== Analyzed Streaming Logical Plan ==\n")
    md.append(graft.queries.Ext37Queries.outerJoinStream(spark, sojDir)
      .queryExecution.analyzed.treeString)
    md.append("```\n")

    md.append("\n## q_state_inspect\n\n")
    md.append(
      """Offline streaming-state introspection, two pinned halves. (1) The DRAIN: a tumbling-window count aggregation over the file-replay source, drained with `Trigger.AvailableNow` + update mode into a noop sink, to a fresh checkpoint per call, on a bounded-drain child session (Drain.childSession: width derived from the replay input's byte size via DrainWidth, the caller's state-store provider). (2) The READ: the `statestore` DSv2 source over that checkpoint, on the same child session — the reader instantiates the provider from the READER's conf, so write and read see one provider. ONE DSv2 relation, no recompute of the input; state is one row per (window, event_type), bounded by key cardinality, scanned partition-parallel. The drain below is the analyzed STREAMING plan (un-started); the reader plan follows from the checkpoint the dump run drains.""")
    md.append("\n\n```\n== Analyzed Streaming Logical Plan (drain) ==\n")
    md.append(graft.queries.StreamQueries.stateInspectAgg(spark, sfDir)
      .queryExecution.analyzed.treeString)
    md.append("\n== Analyzed Logical Plan (statestore read) ==\n")
    md.append(graft.queries.StreamQueries.stateInspect(spark, sfDir)
      .queryExecution.analyzed.treeString)
    md.append("```\n")

    md.append("\n## q_stream_tumbling / q_stream_session / q_stream_join / " +
      "q_stream_dedup / q_stream_static / q_doc_pipeline — pin locations\n\n")
    md.append(
      """The bounded streaming drains' executed BATCH plan is just the memory-sink scan, so their load-bearing shapes are pinned as ANALYZED STREAMING plans instead: the tumbling count/sum aggregation shape is the q_state_inspect drain pin above (same single-source fold, state bounded by (window, event_type) cardinality); the stream-stream equi+range join and TransformWithState session shapes are the two sections above plus PlanSpec's analyzed-plan assertions; q_stream_dedup's dropDuplicatesWithinWatermark state and q_doc_pipeline's fingerprint-dedup ingest state are exercised by the streaming suite with batch-recompute parity oracles, and StateStoreToggleSpec proves the stateful shapes are state-store-provider-interchangeable (HDFS vs RocksDB). q_jdbc_roundtrip's partitioned-scan property (bounds via a 1-row aggregate, no per-partition re-query) is pinned by Ext8's spec; q_pipeline_e2e is the composed job whose stages are each pinned above.""")
    md.append("\n")

    md.append("\n## q_simhash_neardup / q_simhash_fast — cost note\n\n")
    md.append(
      """The two variants share one pipeline (shingle -> md5-prefix token hash -> 60 conditional-sum bit votes -> fingerprint -> 4-band pigeonhole join -> bit_count verify) and differ only in the final Hamming threshold. The per-doc fingerprint table is persisted across BOTH sides of the banded self-join (same posture as jaccardPrefixPairs' prefix postings) so the vote aggregate runs once. The residual gap between q_simhash_fast (runs first) and q_simhash_neardup at sf0.1 is one-time WHOLE-STAGE CODEGEN COMPILATION of the 60-vote aggregate — the second variant reuses the codegen cache — not a plan difference; at production scale the compile second is noise.""")
    md.append("\n")

    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println(s"[plans] wrote PLANS.md (${headline.size} + 3 streaming queries)")
    Session.stop(spark)
  }
}

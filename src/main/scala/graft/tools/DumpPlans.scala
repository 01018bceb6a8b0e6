package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump explain("formatted") for headline queries → PLANS.md. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    val spark = graft.Session.local()

    val headline = Seq(
      "q_event_pipeline" -> "scan → parse → enrich → filter: one codegen'd narrow stage, zero exchanges",
      "q_event_summary" -> "pushed timestamp filter + partial/final hash aggregate",
      "q_pricing_summary" -> "pushed date filter, decimal-exact partial+final aggregation",
      "q_revenue_by_nation" -> "all dimension sides broadcast; fact table never shuffles for the join",
      "q_top_orders" -> "TakeOrderedAndProject (per-partition heap top-k, no global sort)",
      "q_shipping_priority" -> "fact⋈fact shuffle join on the order key (the bucketing target at scale)",
      "q_minhash_lsh" -> "row-local native signatures, ids-only band-key equi-join (heavy shingle arrays never ride the band shuffle), verify re-joins by id",
      "q_ann_brute" -> "broadcast query side, native dot product, per-query rank window",
      "q_ann_ivf" -> "narrow assignment (1-row broadcast centroid pack + row-local array_max argmax — no window, no corpus shuffle), broadcast probes",
      "q_asof_last_view" -> "AS-OF join as union + ONE hash shuffle + running last() window — never a pair join",
      "q_purchase_attribution" -> "fact⋈fact interval join on user_id with time-range residual (the streaming join's batch twin)",
      "q_above_avg_orders" -> "scalar-subquery shape: 1-row aggregate broadcast into the filter, fact scanned once",
      "q_session_windows" -> "session_window aggregation (merging session state)",
      "q_waiting_suppliers" -> "Q21 shape: ONE fact scan, per-(order,supplier) aggregate + unordered window over the order key — no aggregate self-join",
      "q_user_sessions" -> "gaps-and-islands: lag + running sum share one sort; session aggregate reuses the user_id partitioning (no extra exchange)",
      "q_repetition_signals" -> "(doc,term) hash aggregate + row-local native 2-gram shingles, doc-key join — nothing corpus-sized broadcast",
      "q_contamination" -> "decontamination: row-local shingling, shingle-key equi-join vs the DISTINCT benchmark set, one per-doc aggregate",
      "q_line_dedup" -> "line-df aggregate on the line key, anti-join vs the heavy-hitter line set (AQE-chosen strategy), one per-doc reassembly aggregate",
      "q_unigram_logprob" -> "vocabulary-sized term aggregate, 1-row total broadcast, barrier-forced model exchange (makes the term join skew-splittable by AQE — see SkewSpec), partial+final per-doc aggregate",
      "q_corpus_curation_neardup" -> "curation capstone consuming the ONE materialized near-dup pair set (shared across the q_minhash_lsh family); label propagation on the pair graph only",
      "q_token_packing" -> "sequence packing: ONE shard exchange, partition-local window sort — packing parallelizes across shards, no global order",
      "q_mixture_budget" -> "mixture draw: targets + shard-carry table broadcast; running sum sharded (source, doc_id div width) — no per-source single-task window, corpus never shuffles on doc_id",
      "q_pack_sequences" -> "packed-sequence emit: ONE corpus exchange — bin assembly reuses the offsets window's shard partitioning (hash(shard) already clusters (shard, bin)); bins are row-sized, never driver-sized",
      "q_ann_ivfpq" -> "IVF-PQ: kilobyte codebook broadcasts, row-local encode + per-query ADC tables, candidates carry 8-byte codes only; raw embeddings cross the wire once, for the shortlist re-rank id-join",
      "q_semantic_dedup" -> "SemDeDup: sample-trained coarse quantizer (driver holds centroids only), row-local cell assignment, cell-key equi-join for candidates (O(Σ cellᵢ²), never all-pairs), CC on the duplicate graph only",
      "q_zorder_layout" -> "Z-order: pure integer bit-interleave in one codegen'd narrow map + one hash aggregate over tile ids — the layout query; clusterByZ itself is one range exchange (the clustering) + in-partition sort",
      "q_incremental_dedup" -> "incremental ingest dedup: corpus rides the join as (16-byte fp, id) only — text never leaves its scan; batch-sized aggregates, corpus-size-independent per batch",
      "q_incremental_lsh" -> "incremental near-dup: batch bands equi-join the corpus band table (the persisted-index frame, ids+keys only); exact-Jaccard verify re-joins shingles by id for candidates only",
      "q_domain_cap" -> "per-source cap: WindowGroupLimit partial (map-side top-k per source BEFORE the exchange) + final — shuffle carries O(sources × k), never the corpus",
      "q_ann_filtered" -> "filtered vector search: label predicate pushed to the corpus scan (PushedFilters), broadcast query side, k guaranteed — pre-filter beats post-filter exactly when the filter is selective",
      "q_repeated_spans" -> "exact-substring detection: grams hash row-locally (PolyHash before posexplode), one partial-agg'd frequency groupBy on the 8-byte hash + co-partitioned mark-back join, per-doc islands window — no string ever rides an exchange",
      "q_span_cut" -> "span cut: min-struct keeper AGGREGATE (no per-hash window — boilerplate grams cannot skew a reducer), per-doc removal sets, row-local indexed token-filter rebuild",
      "q_bloom_dedup" -> "bloom-gated ingest dedup: driver-held BloomFilterAggregate literal gates the corpus probe (might_contain) — bloom-negative batch rows never reach the index join",
      "q_media_neardup" -> "media pHash: row-local sign-bit fold over decoded features, shared pigeonhole Hamming chunk join — (id, sig, chunk byte) only on the pair exchange",
      "q_bm25_search" -> "BM25 mining: query-term filter on the exploded token stream before the tf aggregate, row-local doc length, broadcast df + 1-row stats, e4-integer scores, TakeOrderedAndProject top-k",
      "q_curriculum" -> "curriculum phases: ONE score-histogram aggregate + dimension-sized running sum + broadcast phase map — the corpus never globally sorts",
      "q_systematic_sample" -> "systematic weighted sampling: hierarchical global prefix sum (shard-local windows + broadcast carry), DECIMAL(38,0) position arithmetic — exactly k copies, no corpus global sort",
      "q_step_funnel" -> "ordered funnel: k−1 frontier joins all reusing ONE user_id hash partitioning; type-pruned scans; k one-row aggregates unioned",
      "q_hourly_anomalies" -> "trailing z-score: corpus collapses to the (type, hour) table FIRST; moment windows run dimension-sized; integer moments + one division + sqrt = oracle-exact",
      "q_hard_negatives" -> "hard-negative mining: broadcast query batch with the label-exclusion predicate IN the join, rank-capped exchange",
      "q_event_transitions" -> "Markov transitions: one user-keyed lag window, partial+final aggregate onto a type² table, probability window on that",
      "q_hybrid_search" -> "hybrid retrieval: each retriever keeps its own at-scale shape (BM25 heaps + broadcast stats; broadcast query vector); e9-integer RRF fusion on two kEach-row frames",
      "q_active_users" -> "DAU/WAU/MAU: distinct user-days FIRST (one aggregate), ≤Σw row-local explode on that, equi-join vs observed days — never a stream×spine range join",
      "q_knn_classify" -> "k-NN weak labeling: broadcast query batch (nested-loop on the non-equi self-exclusion), rank-capped neighbor frame, vote + winner stages on queries × k rows",
      "q_embedding_cov" -> "Gram-matrix covariance: ONE ObjectHashAggregate pass with a fixed ~17 KB buffer per partition, SinglePartition gather of buffers — the corpus never hash-shuffles",
      "q_pmi_collocations" -> "PMI collocations: row-local pair transform, vocab/bigram-keyed partial aggregates, term-keyed unigram joins, TakeOrderedAndProject top-k on the minCount-thinned table",
      "q_zipf_slope" -> "Zipf fit: vocab-keyed counts, WindowGroupLimit map-side top-N per source, regression as a sources-keyed aggregate over sources × topN rows",
      "q_label_silhouette" -> "label silhouette: one label-keyed centroid aggregate, kilobyte packed-centroid broadcast, row-local own/other distances, labels-keyed mean",
      "q_interval_join" -> "pure non-equi interval join rewritten as an hour-bucketed EQUI-join (broadcast exploded windows, range predicate as residual) — never a BroadcastNestedLoopJoin",
      "q_scd2_history" -> "SCD2 change capture: LAG + change filter + LEAD + version all on ONE user_id exchange (Filter preserves partitioning and order)",
      "q_triangles" -> "triangle census: single-exchange per-order set collapse → row-local pair explode; degree-ordered wedge enumeration bounds the join O(|E|^1.5)",
      "q_rfm_segments" -> "RFM: exact quartile cutpoints as a 1-row broadcast, row-local binning — NO window operator over the customer dimension",
      "q_psi_drift" -> "PSI drift: (type, period, bin) collapse first; per-bin e4-rounded contributions summed as integers on a types × bins frame",
      "q_volume_acf" -> "hourly ACF: persisted hour dimension joined on hour+k arithmetic — missing hours leave holes instead of misaligning a row-lead",
      "q_order_backlog" -> "interval concurrency by sweep-line: per-order collapse + orderkey join, ±1 deltas aggregate onto the DAY dimension, running sum windows there only — no range join at any scale",
      "q_sole_blame_suppliers" -> "Q21 EXISTS + NOT EXISTS decorrelated: per-(order,supplier) lateness + per-order counts reuse the orderkey clustering; supplier dim broadcast; top-k pushed",
      "q_attribution_split" -> "linear attribution: user-keyed interval join, purchase-keyed rank window (views-per-hour bounded groups), integer credit split, day-dimension aggregate",
      "q_twap" -> "time-weighted value: per-user LEAD on one user exchange, DECIMAL(38,0) cents·micros mass, type-dimension aggregate",
      "q_entry_exit_flows" -> "journey endpoints: min/max struct argmin in ONE user aggregate (no window), type² matrix aggregate — two exchanges total",
      "q_source_ngram_overlap" -> "source containment: per-shingle source sets on ONE shingle exchange, ordered pairs exploded row-locally from sorted sets — never an all-pairs shingle self-join",
      "q_pareto_parts" -> "2-D skyline: two running maxima over an integer-cents RANGE window per brand partition — replaces the quadratic NOT-EXISTS self-join",
      "q_sql_lateral" -> "LATERAL correlated top-1 through the parser: Catalyst decorrelates to WindowGroupLimit (partial rank below the exchange) + ONE equi-join — never a per-row rescan",
      "q_sql_reachability" -> "recursive BFS: edge frame persisted behind a temp view (UnionLoop re-evaluates referenced CTEs per iteration — inline build would re-run the pair join every hop)",
      "q_disorder_profile" -> "watermark-lag audit: hierarchical running max (block-local windows + broadcast carry) — the raw stream never rides a single-partition global window",
      "q_equidepth_hist" -> "exact quantile boundaries by two-pass rank selection: coarse-bucket prefix sum locates each rank, only boundary buckets are ranked behind a broadcast semi-join — the fact table never range-sorts",
      "q_media_shards" -> "WebDataset shard layout: hierarchical byte prefix sum, cum div C assignment, shard-dimension report",
      "q_state_sizing" -> "state-store sizing: ONE user LAG/LEAD window serves every gap candidate, ±1 deltas aggregate onto the (gap, minute) dimension, running sum windows there",
      "q_kanon" -> "k-anonymity gate: one QI-cell collapse (count + exact distinct users), broadcast threshold grid — no window, no second scan",
      "q_incremental_join" -> "delta-join view maintenance: four disjoint terms, each aggregated before the merge, customer slices broadcast — the algebra that replaces a full join recompute per refresh",
      "q_weighted_sample" -> "sequential-Poisson weighted sample: row-local integer priorities, global bottom-k as TakeOrderedAndProject — no corpus sort",
      "q_markov_eval" -> "held-out Markov eval: one user window feeds train AND eval counts; model argmax + broadcast join run on the persisted |types|² table",
      "q_kmv_distinct" -> "KMV sketch: distinct (type, hash) collapse, two-pass rank selection (coarse-bucket prefix sum + broadcast b* + WindowGroupLimit partial top-k) — a group's full hash set is never window-sorted",
      "q_cep_pattern" -> "CEP motif detection: ONE shuffle onto user_id (journeys as array_sort'd collect_list), row-local regex — no window, no join, no cross-user state",
      "q_cusum" -> "CUSUM drift: scan collapses to the day dimension; the recursive statistic's prefix-min closed form runs as two windows over ~30 rows",
      "q_native_session_window" -> "built-in session_window aggregation: one user shuffle into Spark's merging-session machinery (the spill-safe native path the custom sessionizer can hand over to)",
      "q_poisson_bootstrap" -> "Poisson bootstrap: ONE orders scan fanned out by the 32-row broadcast replica grid, hash-deterministic weights row-local, partial+final aggregate onto the replica dimension",
      "q_mann_whitney" -> "Mann-Whitney: collapse to the distinct-cents histogram with per-arm counts; x2 integer mid-ranks from one prefix window over that value-dimension frame — raw rows are never ranked",
      "q_ab_power" -> "A/B power: one user collapse, one 2-level moment aggregate, literal MDE grid against a 1-row stats frame — DECIMAL(38,0) exact ceiling",
      "q_lsh_tuning" -> "LSH banding tuner: exact pair set materializes once, collapses to the 4-dp Jaccard histogram, 8-row config grid broadcast over it — the S-curve never evaluates per pair",
      "q_ndcg" -> "nDCG@10: the BM25 top-k pipeline plus two k-row broadcast discount joins — grading costs nothing beyond the ranking scan",
      "q_nucleus_vocab" -> "nucleus coverage: one (source, token) collapse, per-source prefix window over the vocab-sized frequency table, integer mass threshold",
      "q_dp_contribution" -> "DP contribution bounds: one (type, day, user) collapse, broadcast cap grid, least()/clip arithmetic on the cell frame",
      "q_feature_hash" -> "feature hashing audit: one vocabulary collapse hashed once, size grid broadcast, distinct-bucket count per cell",
      "q_cohen_kappa" -> "Cohen's kappa: two row-local label projections joined on doc_id, collapsed to a single confusion row — exact integer cells",
      "q_spatial_join" -> "ε-neighbor spatial join: points collapse once, LEFT side explodes to its 3×3 cell neighborhood (24-byte rows), cell-key EQUI-join with the exact-BIGINT circle test as residual — never a nested-loop distance join",
      "q_median_ci" -> "median order-statistic CI: collapse to the distinct-cents histogram, one prefix window, every rank lookup a conditional min — raw rows never sorted",
      "q_journey_prefixes" -> "entry paths: one user_id shuffle (deterministic array_sort journey assembly), path-dimension aggregate, pushed top-k",
      "q_table_checksum" -> "table checksum: row-local modular fold, partial+final rollup aggregate — the whole audit is one scan and one kilobyte of output",
      "q_partitioned_scan" -> "D6 read side: the event_date equality rides PartitionFilters — one day's DIRECTORY is listed, everything else is never opened (row-group pruning is the flat-file fallback)",
      "q_partitioned_dim_scan" -> "dynamic partition pruning: the day predicate lives on the broadcast calendar dim; the fact scan carries dynamicpruningexpression(event_date IN subquery) so only surviving days are listed",
      "q_kcenter_sampled" -> "sampled k-center: greedy rounds on the bottom-k-hash sample (LCG-ranked TakeOrdered), ONE exact corpus pass — k-row broadcast centers, struct-min assignment, center-dimension aggregate",
      "q_kmv_intersect" -> "KMV set algebra: one distinct (cohort, hash) collapse, per-cohort bottom-k rank selection, all estimator algebra on ≤2k member hashes",
      "q_countmin" -> "count-min: one partial-agg'd collapse to the depth×width counter model, map-side combine eats the grid amplification, top-k truth joins the model by (row, bucket)",
      "q_ams_f2" -> "AMS F2: user-frequency collapse, broadcast s-row grid re-collapsed to s signed counters, median-of-means on the counter model — corpus touched once",
      "q_skyline" -> "3-D skyline: corpus collapses to the customer point set, grid cell-dominance prune on the ≤grid³ cell model, exact quadratic confined to the broadcast shell",
      "q_fuzzy_join" -> "PassJoin fuzzy join: DISTINCT-label canonicalization, pigeonhole chunk equi-join, banded threshold levenshtein verify BEFORE any dedup (no corpus-scale exchange), id re-expansion last",
      "q_bh_fdr" -> "BH step-up FDR: one (cohort × type) collapse; z, p-quantization, ranks and the step-up argmax all run on the m-row hypothesis dimension",
      "q_change_points" -> "binary-segmentation change points: one hour-dimension collapse; each recursion level is window arithmetic + a 1-row argmax; splits broadcast",
      "q_sliding_distinct" -> "sliding distinct: first-in-window rewrite — one user-keyed lag, ≤W bounded explode under map-side combine, dense hour-dimension join — no per-readout re-scan",
      "q_interval_coalesce" -> "interval coalescing: ONE user_id shuffle, streaming prefix-max + block-id windows (O(1) state per row), two-level aggregate — no self-join, no explode",
      "q_compaction_plan" -> "compaction planner: size-sorted cumulative binning over the METADATA-sized file inventory; the data files themselves are never read",
      "q_dbscan" -> "grid DBSCAN: ε-grid cell keys row-local, 3×3 neighborhood equi-join for candidates (never all-pairs), exact distance residual, min-label components on core edges only",
      "q_nb_langid" -> "NB language ID: (lang, term) likelihood aggregate → model-sized broadcast, row-local integer micro-nat scoring, confusion collapse",
      "q_kneser_ney" -> "Kneser-Ney: bigram/continuation tables are vocab-sized aggregates; scoring joins the model by term key — corpus scanned once",
      "q_ols_by_group" -> "grouped OLS: broadcast supplier→nation chain on the fact scan, ONE 5-sum partial+final aggregate, Cramer solve on the 25-row result",
      "q_corr_matrix" -> "correlation matrix: k(k+1)/2 cross-sums in ONE aggregate (14 numbers of state), pair rows unpivoted from a single row — one scan at k=4 and still one at k=100",
      "q_mutual_info" -> "MI ranking: one user collapse shared by all features; marginals are windows over ≤20-row joint histograms; micro-nat terms sum order-free",
      "q_isotonic" -> "isotonic fit: corpus → 50 bins in one aggregate; the minimax (PAVA) refinement is a B³ join on the bin DIMENSION — no sequential pool loop anywhere",
      "q_entity_resolution" -> "entity resolution: star edges per key (never in-key cliques), min-label propagation WITH two pointer jumps a round (Components.minLabel) — O(log diameter) rounds, each one edge shuffle + two label self-joins",
      "q_hubness" -> "hubness: k-occurrence histogram over the exact kNN graph; anti-hubs restored by a left join; at scale the candidate graph comes from IVF, the histogram stays ≤k·n rows",
      "q_lof" -> "LOF: e9-quantized distances, k-bounded kNN frame, two id-keyed re-joins for neighbor sums — integer reach arithmetic, one double excursion at the end",
      "q_kcore" -> "k-core: each peel round is two semi-joins of the edge frame against the node-sized survivor set + one degree aggregate; exact fixed point, localCheckpoint-flat lineage",
      "q_containment" -> "containment pairs: one shingle explode (persisted, read by sizes and both self-join sides), maxDf hot-key guard, pair aggregate + cheap reverse projection",
      "q_sprt" -> "SPRT: user collapse, per-arm integer LLR cumsum windows (arms partition — no global window), 2-row crossing report",
      "q_weighted_quantiles" -> "weighted quantiles: collapse to the VALUE DOMAIN first (prices quantize to cents), window cumsum on the collapsed frame, integer threshold picks",
      "q_emd_drift" -> "EMD drift: (source, bin) collapse + full 50-bin spine join; CDFs, gaps and the running sum all live on the bin dimension",
      "q_boosted_stumps" -> "boosted stumps: per round ONE weighted histogram aggregate over the user frame + model-sized argmin; the round-1 stump re-applies as a 1-row broadcast",
      "q_set_cover" -> "set cover: k anti-join rounds against the vocab-sized covered frame, 1-row argmax per round, term frame persisted once",
      "q_rendezvous" -> "rendezvous rebalance: broadcast node grid over the key scan, packed-Long argmax aggregate — ownership is map-side, only the per-node count shuffles",
      "q_did" -> "difference-in-differences: 1-row min/max broadcast anchors the period split, one (treat, period) aggregate, arithmetic on 4 rows",
      "q_ratio_delta" -> "ratio-metric delta method: user collapse, per-arm 6-sum aggregate, SE arithmetic on a 2-row frame — randomization-unit-correct variance in two exchanges",
      "q_aa_calibration" -> "A/A calibration: ONE user collapse crossed with a 16-row broadcast seed grid — k× the USER dimension, never the corpus; Welch z per split on a 2k-row frame",
      "q_bucketed_join" -> "bucketed fact⋈fact: bucketed scans report hashpartitioning, the merge join consumes it — the ONLY hash exchange belongs to the monthly aggregate",
      "q_mahalanobis" -> "Mahalanobis outliers: one moment aggregate broadcast back over the user frame, row-local closed-form d², TakeOrderedAndProject top-k",
      "q_heaps_law" -> "Heaps' law: every checkpoint answered from ONE first-seen-doc collapse of the trigram vocabulary — no per-checkpoint re-scan, no document sort",
      "q_powerlaw_alpha" -> "power-law alpha: degree aggregate (the only corpus step), e6-quantized ln terms summed order-free, 1-row MLE",
      "q_simpsons" -> "Simpson's check: the grouped-OLS 5-sum aggregate twice over one shared projection, 1-row pooled slope broadcast into the per-stratum compare",
      "q_textrank" -> "TextRank: per-doc lead-window adjacency collapses the corpus to a vocab-sized edge list; 10 integer rank iterations on the graph, TakeOrderedAndProject top-k",
      "q_label_propagation" -> "label propagation: one pair build shared with triangles/k-core; each round an edge⋈label join + node-sized argmax window, localCheckpoint-bounded",
      "q_snapshot_diff" -> "snapshot diff: both scans pruned to key+compare columns, one co-partitioned full-outer join, 4-row rollup",
      "q_item_recs" -> "item recs: one-exchange pair build, broadcast part-count dims, per-part top-k window on the pair frame",
      "q_revenue_bridge" -> "revenue bridge: pushed ship-date range + broadcast part dim, one (brand, year) aggregate, bridge arithmetic on the brand frame",
      "q_policy_eval" -> "off-policy eval: ONE corpus collapse to (segment, action) cells; propensities and totals ride broadcasts over the 4-row segment frame",
      "q_ewma_trend" -> "EWMA trend: corpus collapses to the day dimension once; the 32-row exact-rational weight grid broadcasts and the convolution is a date-keyed aggregate",
      "q_matched_att" -> "matching ATT: both arms collapse to the pre-spend VALUE DOMAIN; 1-NN is a merge window over that domain — never a treated×control pair join",
      "q_tcloseness" -> "t-closeness: one (cell, band) collapse, broadcast band domain fills zeros, per-cell EMD cumulative runs on ≤m rows per cell",
      "q_conformal" -> "conformal intervals: user collapse + residual VALUE-DOMAIN cumulative for the order statistic — no global row sort, no top-(0.9n)",
      "q_shapley_attribution" -> "Shapley: broadcast channel→bit map over ONE user collapse; the 2^n coalition grid, subset-sum and marginal joins all run on kilobyte broadcast frames",
      "q_perm_test" -> "randomization test: the 200-draw grid broadcasts across the user collapse (BNLJ); each draw is a partial aggregate — no corpus re-scan, no window",
      "q_jsd_drift" -> "JSD drift: the psi histogram collapse reused — (type, period, bin) counts, ln arithmetic on the 16·|types|-row dense grid",
      "q_retrieval_mrr" -> "MRR/MAP: postings sliced to the query terms, df/stats broadcast, per-term rank window on the slice — never the corpus",
      "q_stratified_ate" -> "stratified ATE: user collapse → stratum collapse (two key-partitioned aggregates); trim + weighting on the stratum dimension",
      "q_woe_iv" -> "WOE/IV: the mutualInfo discipline — one user collapse, ≤10-row (band, label) histogram carries all ln arithmetic",
      "q_kendall_tau" -> "Kendall τ: (term, tf, df) collapse → top-N TakeOrdered; the quadratic pair grid runs on the 100-row frame",
      "q_readability" -> "readability: three regexp counts in one narrow projection, per-source aggregate — one scan, one exchange",
      "q_qte" -> "QTE: user collapse → per-arm VALUE-DOMAIN cumulative; decile order statistics from a 9-row broadcast grid join — no row sort",
      "q_ece" -> "ECE: the 8-bin calibration curve collapses to one weighted-gap aggregate — row-local scoring, two exchanges total",
      "q_ppr" -> "personalized PageRank: seed indicator rides the node frame as one broadcast-joined column; same per-iteration edge⋈rank joins as q_pagerank",
      "q_iv_wald" -> "IV/Wald: one user collapse, one 1-row six-sum aggregate; LATE is a single exact division — no joins at all",
      "q_assoc_rules" -> "association rules: the shared basket collapse persisted once; direction flip unions the support-pruned PAIR frame; counts broadcast",
      "q_gini" -> "Gini: customer collapse → revenue VALUE DOMAIN; the rank identity folds the sort into one cumulative + 1-row division",
      "q_ips_ess" -> "IPS ESS: the policyEval (segment, action) collapse reused; both weight sums are cell-frame decimal arithmetic",
      "q_decayed_popularity" -> "decayed popularity: one (part, week-age) collapse, 17-row broadcast weight grid, TakeOrderedAndProject top-k",
      "q_rec_coverage" -> "rec coverage: the q_item_recs build unchanged; metrics are two tiny aggregates over its output",
      "q_mmr_diversify" -> "MMR: BM25 top-50 cut is the only corpus step; the 50² sim grid and k greedy argmax rounds run on checkpointed model-sized frames",
      "q_sorted_neighborhood" -> "sorted-neighborhood: ONE key-dimension sort, w lead() columns, banded-levenshtein verify on the n·w candidate stream — no self-join",
      "q_ngram_novelty" -> "n-gram novelty: (batch, term) distinct collapse → term-keyed first-seen → batch counts; term/batch-keyed exchanges only",
      "q_modularity" -> "modularity: the LPA rounds dominate; the Q readout adds two label joins + a community-dimension aggregate on a checkpointed edge frame",
      "q_hhi" -> "HHI: fact collapses once to (nation, supplier) revenue; the index is a nation-keyed aggregate, dims broadcast",
      "q_transition_entropy" -> "transition entropy: one lag window → |types|² matrix; all ln arithmetic on that frame",
      "q_price_elasticity" -> "price elasticity: broadcast part dim, row-local e6 lns, one brand-keyed exact 5-sum aggregate",
      "q_segment_migration" -> "segment migration: 1-row min/max broadcast anchors the midpoint, one customer collapse, ≤121-row matrix aggregate",
      "q_factorial_interaction" -> "factorial interaction: user collapse → 4-cell aggregate → 1-row contrasts; no joins",
      "q_connected_components" -> "connected components: shared cached pair graph; per-round node-sized min aggregate + pointer-jump self-join, census on the component dimension",
      "q_krippendorff" -> "krippendorff alpha: three row-local raters from one scan, per-doc ≤3×3 coincidence self-join, category-dimension arithmetic",
      "q_theil_decomposition" -> "theil: one fact collapse, broadcast nation attach, value-domain/nation-dimension micro-nat terms, two 1-row readouts",
      "q_cross_correlation" -> "CCF: one (hour, type) collapse persisted, broadcast lag spine, hour-equi pairs, lag-dimension Pearson sums",
      "q_negative_sampling" -> "negative sampling: one token collapse, per-term e6 pow, 1-row weight-total broadcast, TakeOrderedAndProject top-k",
      "q_logrank" -> "log-rank: one user collapse to durations; risk sets and hypergeometric terms live on the ≤31-row day dimension",
      "q_mcnemar" -> "mcnemar: two row-local labelers on one scan, doc-keyed join, 1-row integer chi-square",
      "q_fk_orphans" -> "FK audit: four broadcast anti joins (parent dims broadcast), per-edge child aggregates, no fact-fact join",
      "q_golden_records" -> "golden records: one fact collapse to per-record attributes, label attach, entity-dimension aggregate with packed-recency argmax",
      "q_spearman" -> "spearman: one user collapse, two value-domain rank windows joined back, 1-row DECIMAL Pearson",
      "q_local_clustering" -> "local clustering: shared pair graph, oriented wedge join (O(E^1.5)), 3-row explode per triangle, top-k",
      "q_anova_f" -> "anova F: fact collapse + broadcast nation attach, nation-dimension sum-of-squares terms, 1-row statistic",
      "q_hubness_sampled" -> "sampled hubness: deterministic vec_id-mod sample bounds the all-pairs budget before the broadcast kNN; the histogram collapse is unchanged",
      "q_lof_sampled" -> "sampled LOF: the id-mod sample caps the quadratic candidate pass; k-bounded kNN frame and integer reach arithmetic identical to the exact twin",
      "q_health_check_approx" -> "HLL audit: one aggregate computes sketch AND exact distincts; the emitted row is the envelope verdict both engines can match digit-exact",
      "q_surge_windows" -> "range join through the injected optimizer rule: containment condition rewritten to a 1-hour-bin equi-join (windows explode to ≤2 bins, events shuffle once) with the exact range as residual — never a BroadcastNestedLoopJoin",
      "q_margin_pairs" -> "margin-criterion pair mining: one scored frame persists and serves both direction windows; neighborhood sums are k-bounded aggregates; the margin is one integer division",
      "q_frequent_triples" -> "A-priori level 3: candidates from L2⋈L2 + lossless subset prune; per-order pair stream semi-gated by L2 BEFORE the third-item extension, extension semi-gated by candidates before counting",
      "q_holt_forecast" -> "Holt forecast: one day-dimension collapse, 28-row broadcast weight join, DECIMAL(38,0) weighted sums, 7-row horizon spine — constants embedded, no float crosses engines",
      "q_table_profile" -> "table profile: ONE scan, k exact distincts on a single Expand, per-column extrema rendered cross-engine-safe, typed explode-of-structs unpivot to the column dimension",
      "q_setsim_prefix" -> "exact set-similarity join: rarest-first prefix filter (integer-e4 prefix lengths), candidate equi-join on prefix tokens only, row-local array_intersect verify — zero false negatives, boilerplate tokens never drive candidates",
      "q_holtwinters_forecast" -> "Holt-Winters: one day-dimension collapse, 196-row long-form weight broadcast (seasonal pick is an equi-join on horizon), DECIMAL(38,0) sums, broadcast spine left-join keeps the 7 rows",
      "q_ktruss" -> "k-truss peel: per-round degree-oriented wedge join (hub-safe O(E^1.5)), canonical-edge support explode, localCheckpoint-bounded fixed point",
      "q_incremental_setsim" -> "exact incremental near-dup: corpus prefix INDEX (shingle, id, sz — the bucketBy target), batch probe prefixes under the frozen corpus-df order, candidates equi-join prefix tokens, verify fetches corpus arrays for candidate ids only — recall 1 by theorem, no banding knob")

    val sb = new StringBuilder
    sb.append("# PLANS — explain(\"formatted\") for headline queries\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` on `$sfDir`. Plan-shape\n")
    sb.append("invariants are enforced by `PlanShapeSpec`; this file is the\n")
    sb.append("human-readable evidence.\n")
    headline.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$note\n\n```\n$formatted```\n")
    }
    // AQE skew-join evidence (round-10 verdict item 6): q_salted_join is
    // the MANUAL answer to one too-hot key; this section documents the
    // AUTOMATIC one. The synthetic single-hot-key join executes under
    // skew thresholds scaled to sandbox bytes (defaults gate on 256 MB
    // partitions) and the FINAL adaptive plan — the only place skew=true
    // exists — is dumped. Pinned by PlanShapeSpec's AQE test.
    locally {
      import org.apache.spark.sql.functions.{col, when, lpad}
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
      val fact = spark.range(0, 200000)
        .select(when(col("id") < 180000, 0L).otherwise(col("id")).as("k"),
          lpad(col("id").cast("string"), 32, "x").as("pad"))
      val dim = spark.range(0, 2000)
        .select(col("id").as("dk"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, col("k") === col("dk"))
      joined.collect()
      sb.append("\n## aqe_skew_join (executed — not a SparkEntry query)\n\n")
      sb.append("AQE OptimizeSkewedJoin splits the same single-hot-key ")
      sb.append("shape q_salted_join handles manually — no salt in the ")
      sb.append("query; the runtime marks the join skew=true and splits ")
      sb.append("the oversized partition. Thresholds scaled to sandbox ")
      sb.append("bytes; the rewrite is the one that fires at 100 TB.\n\n")
      sb.append(s"```\n${joined.queryExecution.executedPlan}```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ §7.4 training-data extensions), each paired with
  * DuckDB-runnable oracle SQL over the same parquet tables.
  *
  * Conventions shared by every (query, oracle) pair:
  *  - timestamps are emitted as `unix_micros` BIGINTs (`*_us` columns) —
  *    Spark writes parquet TIMESTAMP(µs) while the events source is
  *    TIMESTAMP(ns), so integer micros is the only type both engines agree
  *    on bit-for-bit;
  *  - float aggregates are rounded (4 dp) or routed through DECIMAL so
  *    partial-aggregation merge order can't leak into the compare;
  *  - every query ends in a total order: ORDER BY, or for a dimension-
  *    sized result a sort inside one partition ([[Par.sortSmall]]);
  *  - time predicates anchor to literals inside the 2024-01 data range,
  *    never current_timestamp() (SURVEY §7.2 determinism note).
  */
object SparkEntry {

  /** The corpus near-dup pair set ([[Dedup.minHashLsh]] at its 0.5 / 32×2
    * recall-(1-ε) operating point), computed ONCE per (session, sf-dir)
    * and persisted — four queries consume the identical pair set
    * (q_minhash_lsh, q_neardup_clusters, q_cross_source_dups,
    * q_corpus_curation_neardup), and recomputing the LSH per consumer was
    * ~8 s of the round-5 bench. This is also the honest 100 TB shape: a
    * dedup run materializes its pair set exactly once and threads it
    * through clustering, audits, and curation. persist() keeps query
    * CONSTRUCTION job-free; the cache populates at the first action —
    * EXCEPT for eagerly-materialized shared frames (lpa_labels, whose
    * localCheckpoint(true) loop runs its propagation rounds as jobs at
    * construction of the first consumer), so bench timing attributes
    * that trajectory build to whichever consumer runs first.
    */
  private val sharedFrames = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  /** One shared frame per (session, sf-dir, tag): the first consumer
    * builds (and usually persists) it, later consumers reuse the same
    * plan + cache. Stopped sessions are evicted so a long-lived JVM
    * (test suite, repeated Verify mains) never accumulates persisted
    * frames pinning executor storage or dead-session references.
    */
  private def shared(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame = {
    sharedFrames.filterInPlace {
      case ((sess, _, _), _) => !sess.sparkContext.isStopped
    }
    sharedFrames.getOrElseUpdate((s, d, tag), build)
  }

  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    shared(s, d, "neardup_pairs")(
      Dedup.minHashLsh(TextAnalysis.documents(s, d), 0.5, bands = 32).persist())

  /** The co-purchase pair graph ([[Relational.partPairCounts]] at
    * minSupport 2) — the shared first stage of the whole graph-analytics
    * family (triangles, k-core, LPA/modularity, degree stats, shortest
    * paths, reachability). One exchange builds it; eight queries read it.
    */
  private def pairGraph(s: SparkSession, d: String): DataFrame =
    shared(s, d, "pair_graph")(
      Relational.partPairCounts(Relational.table(s, d, "lineitem"), 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The 8-round LPA label trajectory over [[pairGraph]] — shared by
    * q_label_propagation and q_modularity, which replay the IDENTICAL
    * trajectory by construction ([[Graph.lpaLabels]]).
    */
  private def lpaLabels(s: SparkSession, d: String): DataFrame =
    shared(s, d, "lpa_labels")(Graph.lpaLabels(pairGraph(s, d), rounds = 8))

  /** Unpersist and forget every shared frame — entry-point mains
    * (Verify/Bench) call this before stopping their session so repeated
    * runs in one JVM never stack persisted storage.
    */
  def clearCaches(): Unit = {
    sharedFrames.foreach { case ((sess, _, _), df) =>
      if (!sess.sparkContext.isStopped) df.unpersist(blocking = false)
    }
    sharedFrames.clear()
  }

  /** ANN-oracle planted corpus: the natural embeddings plus 12 IDENTICAL
    * twins of each query vector (vec_id < 10), at twin ids
    * 1000000 + query*100 + j. Identical copies make the approximate
    * paths' recall EXACTLY 1 by construction — a twin's RHP signature
    * equals the query's, so every LSH band collides, and its IVF cell
    * assignment equals the query's, whose cell is always the top probe —
    * while the natural corpus's max pairwise cosine (measured 0.51 at
    * sf0.01/0.001) keeps every non-twin far below twin similarity. The
    * true top-10 per query is therefore its 10 lowest-id twins in BOTH
    * engines (equal cos values tie-break on vec_id), which is what lets
    * q_ann_lsh / q_ann_ivf carry the exact brute-force DuckDB oracle
    * instead of a rows-only check. The recall-<1 behavior on continuum
    * corpora stays measured in SimilaritySpec's recall curves.
    */
  private def annPlanted(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding"))
    base.unionByName(
      base.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0L), lit(11L))).as("j"))
        .select((lit(1000000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
          col("embedding")))
  }

  /** Near-dup-oracle planted corpus: one identical twin (vec_id +
    * 2000000) for every vec_id % 7 == 0. Same recall-exactly-1 argument
    * as [[annPlanted]]: identical signatures collide on every band, and
    * at threshold 0.9 the only qualifying pairs are the planted twins
    * (natural max cosine 0.51), so the LSH output EQUALS the all-pairs
    * exact set and pairs with the brute-force oracle.
    */
  private def neardupPlanted(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding"))
    base.unionByName(
      base.filter(pmod(col("vec_id"), lit(7L)) === 0L)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
  }

  /** Semantic-dedup planted corpus: one HALF-SCALED twin (vec_id +
    * 2000000, embedding × 0.5f) for every vec_id % 7 == 0. Cosine is
    * scale-invariant, so each twin pairs with its original at cos ≈ 1
    * while exact/byte-hash dedup would MISS it — the case semantic dedup
    * exists for. The ×0.5f is a power of two: exact in float on both
    * engines (Spark `x * 0.5f`, DuckDB `(x * 0.5)::FLOAT`), and the
    * angular cell assignment is bit-invariant under it, so twins co-cell
    * with their originals and the cell-local pair set EQUALS the
    * all-pairs oracle set (natural max cosine 0.51 < 0.9 threshold).
    */
  private def semanticPlanted(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding"))
    base.unionByName(
      base.filter(pmod(col("vec_id"), lit(7L)) === 0L)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.5f)).as("embedding")))
  }

  /** Planted ingest batch for q_incremental_dedup — the corpus has no
    * exact duplicates (near-dups are Jaccard-level only), so the batch
    * manufactures each status arm with engine-exact string ops:
    *  - % 10 == 0: whitespace-padded copies — fp-invariant under the
    *    trim/collapse normalization → `dup_of_corpus`;
    *  - % 10 == 1: the same corpus-new text under TWO batch ids →
    *    first `kept`, second `dup_in_batch`;
    *  - % 10 == 2: unique corpus-new text → `kept` singleton.
    * Pure ASCII concat (no case mapping), so Spark and DuckDB agree
    * byte-for-byte.
    */
  private def incrementalBatch(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), col("text"))
    def arm(m: Int, offset: Long, text: org.apache.spark.sql.Column): DataFrame =
      base.filter(pmod(col("doc_id"), lit(10L)) === m)
        .select((col("doc_id") + offset).as("doc_id"), text.as("text"))
    arm(0, 1000000L, concat(lit(" "), col("text"), lit("  ")))
      .unionByName(arm(1, 2000000L, concat(col("text"), lit(" batchnew"))))
      .unionByName(arm(1, 3000000L, concat(col("text"), lit(" batchnew"))))
      .unionByName(arm(2, 4000000L, concat(col("text"), lit(" solo"))))
  }

  /** Planted multilingual fragments for q_unicode_tokens — chosen to pin
    * the text path's Unicode semantics where engines COULD diverge, while
    * avoiding the mappings where they genuinely do:
    *  - CJK joined by U+3000 (ideographic space): `\s` is ASCII-only in
    *    BOTH Java regex and RE2, so the pair must stay ONE token;
    *  - a combining acute (U+0301) sequence: two codepoints in both
    *    engines' length()/substr();
    *  - accented Latin / Cyrillic / lowercase Greek: 1:1 simple case
    *    mappings only — deliberately NO ß/İ/final-sigma, whose full-case
    *    semantics differ across engines and would test locale tables,
    *    not our operators.
    * The SAME Scala strings are interpolated into the oracle SQL, so the
    * planted bytes are identical on both sides by construction.
    */
  private val uniFrags = Seq(
    "你好世界\u3000机器学习", // U+3000 via source escape: visually blank, not regex \s
    "日本語のテキスト処理",
    "Élan Café Naïve Über",
    "Привет Мир αλφα βητα")
  // combining acute (e + U+0301), NOT precomposed U+00E9 — two codepoints
  private val uniTail = "e\u0301toile"

  /** Flagship: 4-way broadcast star join + aggregate on sf=0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Relational.revenueByNation(
      Relational.table(spark, d, "region"),
      Relational.table(spark, d, "nation"),
      Relational.table(spark, d, "customer"),
      Relational.table(spark, d, "orders"))
  }

  /** Events as the reference's wire-format JSON lines (one `value`
    * column), the input of [[eventPipeline]].
    */
  private[graft] def eventWire(events: DataFrame): DataFrame =
    events.select(to_json(struct(
      col("event_id").cast("string").as("id"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("timestamp"),
      col("props").as("message"),
      col("user_id").cast("string").as("user_id"),
      col("event_type"),
      col("value"))).as("value"))

  /** q_event_pipeline: events → wire JSON → the full parse/validate/
    * enrich/score chain, rows in `id` order. The per-row chain is
    * compute-dense, so the events scan is range-partitioned on
    * `event_id` at no fewer partitions than it has ([[Par.widenByRange]],
    * probe memoized under `cacheKey`; off the 1-row-group scan the chain
    * ran as ONE task). The chain is narrow and `id` is `event_id` cast to
    * a string and back, so sorting each partition on `id` orders the
    * whole result: no range exchange after the chain, whose bound-
    * sampling job would run the chain a second time.
    */
  private[graft] def eventPipeline(events: DataFrame, cacheKey: String): DataFrame =
    EventPipeline.fromRawJson(
      eventWire(Par.widenByRange(events, col("event_id"), cacheKey)),
      deterministic = true)
      .select(col("id").cast("long").as("id"), col("event_hour"),
        col("message_length"), col("data_quality_score"))
      .sortWithinPartitions("id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- the core pipeline itself (SURVEY §2.3-P1..P9, §2.4-F1..F3):
    // events → wire-format JSON → full parse/validate/enrich/score chain ----
    "q_event_pipeline" -> ((s, d) =>
      eventPipeline(Analytics.events(s, d), s"$d/events.parquet")),
    // ---- event analytics (reference query plane, SURVEY §2.5–2.6) ----
    // time-bounded queries read through eventsSince so the range predicate
    // pushes to the parquet scan as a raw-nanos comparison (row-group
    // pruning); the ops' own filters on the converted ts stay as a no-op
    // guard
    "q_event_summary" -> ((s, d) =>
      Analytics.eventSummary(Analytics.eventsSince(s, d, "2024-01-30T00:00:00Z"))),
    "q_quality_histogram" -> ((s, d) =>
      Analytics.qualityHistogram(Analytics.eventsSince(s, d, "2024-01-15T00:00:00Z"))),
    "q_verification_count" -> ((s, d) =>
      Analytics.verificationCount(Analytics.eventsSince(s, d, "2024-01-30T00:00:00Z"))),
    "q_health_check" -> ((s, d) =>
      Analytics.healthCheck(Analytics.eventsSince(s, d, "2024-01-15T00:00:00Z"))),
    // the sketch-accuracy audit: exact distincts + a per-engine verdict
    // that the engine's own HLL landed within 5% — the shape that lets
    // an approximate query carry an exact oracle pair
    "q_health_check_approx" -> ((s, d) =>
      Analytics.healthCheckApproxEnvelope(Analytics.eventsSince(s, d, "2024-01-15T00:00:00Z"))),
    "q_type_counts" -> ((s, d) => Analytics.typeCounts(Analytics.events(s, d))),
    "q_hourly_counts" -> ((s, d) => Analytics.hourlyCounts(Analytics.events(s, d))),
    // trailing-24h z-score per (type, hour) — integer moment sums, one
    // double division + correctly-rounded sqrt → oracle-exact
    "q_hourly_anomalies" -> ((s, d) =>
      Analytics.hourlyAnomalies(Analytics.events(s, d))),
    "q_dashboard_metrics" -> ((s, d) => Analytics.dashboardMetrics(Analytics.events(s, d))),
    "q_recent_events" -> ((s, d) => Analytics.recentEvents(Analytics.events(s, d))),
    "q_props_extract" -> ((s, d) => Analytics.propsExtract(Analytics.events(s, d))),
    "q_tumbling_counts" -> ((s, d) => Analytics.tumblingCounts(Analytics.events(s, d))),
    "q_sliding_counts" -> ((s, d) => Analytics.slidingCounts(Analytics.events(s, d))),
    // dense hourly resample with forward fill — the pre-model resample
    // step; spine is (types × hours), metadata-sized at any corpus scale
    "q_gap_fill" -> ((s, d) => Analytics.gapFillHourly(Analytics.events(s, d))),
    "q_set_ops" -> ((s, d) => Analytics.setOps(Analytics.events(s, d))),
    "q_multiset_ops" -> ((s, d) => Analytics.multisetOps(Analytics.events(s, d))),
    "q_value_stats" -> ((s, d) => Analytics.valueStats(Analytics.events(s, d))),
    "q_value_percentiles" -> ((s, d) => Analytics.valuePercentiles(Analytics.events(s, d))),
    "q_hourly_type_pivot" -> ((s, d) => Analytics.hourlyTypePivot(Analytics.events(s, d))),
    "q_user_event_sets" -> ((s, d) => Analytics.userEventSets(Analytics.events(s, d))),
    // fixed-point weighted PageRank over the user↔type interaction
    // graph: 10 exact integer power iterations, engine-independent
    "q_pagerank" -> ((s, d) => Graph.pageRank(Analytics.events(s, d), iters = 10)),
    // TextRank keyword extraction: PageRank over the token-adjacency
    // graph — corpus collapses to a vocab-sized edge list, then the
    // same exact integer power iterations
    "q_textrank" -> ((s, d) => Graph.textRank(TextAnalysis.documents(s, d))),
    // deterministic synchronous label propagation over the co-purchase
    // graph: 8 weighted-argmax rounds, smallest-label tie-break
    "q_label_propagation" -> ((s, d) =>
      Graph.labelSummary(lpaLabels(s, d))),
    // neighborhood recommender: top-3 co-purchased parts per part by
    // exact integer Jaccard over order sets
    "q_item_recs" -> ((s, d) =>
      Relational.relatedItems(Relational.table(s, d, "lineitem"))),
    // price-volume-mix revenue bridge between two ship years per brand:
    // division-first unit prices, effects close to the delta exactly
    "q_revenue_bridge" -> ((s, d) =>
      Relational.revenueBridge(Relational.table(s, d, "lineitem"),
        Relational.table(s, d, "part"))),
    // off-policy evaluation: IPS + SNIPS of a fixed target policy under
    // globally-estimated logging propensities, all integer arithmetic
    "q_policy_eval" -> ((s, d) => Analytics.policyEval(Analytics.events(s, d))),
    // rolling-origin backtest of the naive vs seasonal-naive baselines:
    // one day-dimension collapse, MAE/WAPE/bias per (model, horizon)
    "q_forecast_backtest" -> ((s, d) =>
      Relational.forecastBacktest(Relational.table(s, d, "orders"))),
    // l-diversity audit over the k-anon QI cells: distinct spend bands
    // per cell vs the l-grid
    "q_ldiversity" -> ((s, d) => Privacy.lDiversity(Analytics.events(s, d))),
    // 32-day truncated EWMA with exact rational weights 3^dt·4^(31-dt):
    // one day-dimension convolution, one division per readout
    "q_ewma_trend" -> ((s, d) =>
      Relational.ewmaTrend(Relational.table(s, d, "orders"))),
    // nearest-covariate matching ATT: value-domain collapse both arms,
    // merge-window 1-NN with replacement, overlap diagnostics
    "q_matched_att" -> ((s, d) => Analytics.matchedAtt(Analytics.events(s, d))),
    // t-closeness audit: exact ordered-EMD of each QI cell's spend-band
    // distribution vs the corpus distribution, per threshold grid
    "q_tcloseness" -> ((s, d) => Privacy.tCloseness(Analytics.events(s, d))),
    // split-conformal intervals: value-domain order statistic for q̂,
    // realized coverage on the held-out arm
    "q_conformal" -> ((s, d) =>
      Analytics.conformalInterval(Analytics.events(s, d))),
    // Shapley channel attribution: journeys collapse to a 2^n bitmask
    // value domain; credits exact ×n!
    "q_shapley_attribution" -> ((s, d) =>
      Analytics.shapleyAttribution(Analytics.events(s, d))),
    // Jensen–Shannon drift: bounded symmetric divergence on the psi
    // histogram, e6-rounded per-bin contributions
    "q_jsd_drift" -> ((s, d) => Analytics.jsdDrift(Analytics.events(s, d))),
    // MRR / MAP@k of the per-term BM25 rankings, relevance = tf ≥ 2
    "q_retrieval_mrr" -> ((s, d) =>
      TextAnalysis.retrievalEval(TextAnalysis.documents(s, d))),
    // randomization test: 200 deterministic LCG reassignments, decimal
    // cross-multiplied extremeness, add-one p
    "q_perm_test" -> ((s, d) => Analytics.permTest(Analytics.events(s, d))),
    // subclassification ATE on pre-spend strata with common-support trim
    "q_stratified_ate" -> ((s, d) =>
      Analytics.stratifiedAte(Analytics.events(s, d))),
    // WOE / information value of the spend band vs the error-share label
    "q_woe_iv" -> ((s, d) => Modeling.woeIv(Analytics.events(s, d))),
    // Kendall τ-a between tf and df rankings of the top-100 terms
    "q_kendall_tau" -> ((s, d) =>
      TextAnalysis.kendallTau(TextAnalysis.documents(s, d))),
    // Flesch reading-ease per source from three shared regex counts
    "q_readability" -> ((s, d) =>
      TextAnalysis.readability(TextAnalysis.documents(s, d))),
    // quantile treatment effects at deciles (value-domain order stats)
    "q_qte" -> ((s, d) =>
      Analytics.quantileTreatmentEffects(Analytics.events(s, d))),
    // ECE/MCE scalar over the 8-bin calibration curve
    "q_ece" -> ((s, d) =>
      TextAnalysis.expectedCalibrationError(TextAnalysis.documents(s, d))),
    // personalized PageRank: teleport restricted to the mod-97 seed set
    "q_ppr" -> ((s, d) =>
      Graph.personalizedPageRank(Analytics.events(s, d))),
    // IV/Wald: mod-3 encouragement instrument, click treatment, LATE as
    // one exact integer division
    "q_iv_wald" -> ((s, d) => Analytics.ivWald(Analytics.events(s, d))),
    // directed association rules with exact confidence over basketPairs
    "q_assoc_rules" -> ((s, d) =>
      Relational.assocRules(Relational.table(s, d, "lineitem"))),
    // A-priori level 3: candidate triples from the SHARED pair graph,
    // levelwise-gated verification — never a naive 3-way basket join
    "q_frequent_triples" -> ((s, d) =>
      Relational.frequentTriples(Relational.table(s, d, "lineitem"),
        pairGraph(s, d))),
    // exact Gini of per-customer revenue via the value-domain identity
    "q_gini" -> ((s, d) =>
      Relational.giniCoefficient(Relational.table(s, d, "orders"))),
    // Theil inequality with the within/between-nation decomposition
    "q_theil_decomposition" -> ((s, d) =>
      Relational.theilDecomposition(Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"))),
    // one-way ANOVA F + eta^2: do the 25 nations differ in spend at all
    "q_anova_f" -> ((s, d) =>
      Relational.anovaF(Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"))),
    // Kruskal-Wallis: the rank-based k-group test (heavy tails welcome)
    "q_kruskal_wallis" -> ((s, d) =>
      Relational.kruskalWallis(Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"))),
    // referential-integrity audit over the star schema's four FK edges
    "q_fk_orphans" -> ((s, d) =>
      Relational.fkOrphans(Relational.table(s, d, "lineitem"),
        Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"),
        Relational.table(s, d, "part"),
        Relational.table(s, d, "nation"))),
    // signed-lag CCF: do views LEAD purchases, and by how many hours
    "q_cross_correlation" -> ((s, d) =>
      Analytics.crossCorrelation(Analytics.events(s, d))),
    // ESS of the IPS weights — the believe-the-estimate diagnostic
    "q_ips_ess" -> ((s, d) => Analytics.ipsEss(Analytics.events(s, d))),
    // (3/4)^week-age decayed item popularity, exact rational weights
    "q_decayed_popularity" -> ((s, d) =>
      Relational.decayedPopularity(Relational.table(s, d, "lineitem"))),
    // catalog coverage / popularity-bias metrics over q_item_recs
    "q_rec_coverage" -> ((s, d) =>
      Relational.recCoverage(Relational.table(s, d, "lineitem"))),
    // MMR diversification: greedy exact-integer re-rank of the BM25 top-50
    "q_mmr_diversify" -> ((s, d) =>
      TextAnalysis.mmrDiversify(TextAnalysis.documents(s, d))),
    // sorted-neighborhood blocking: one key sort + lead() window,
    // banded-levenshtein verify — the third blocking discipline
    "q_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhood(Relational.table(s, d, "part"))),
    // trigram novelty per ingest batch — the dataset-freshness readout
    "q_ngram_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(TextAnalysis.documents(s, d))),
    // Newman modularity of the LPA partition — exact integer Q
    "q_modularity" -> ((s, d) =>
      Graph.modularityFromPairs(pairGraph(s, d), lpaLabels(s, d))),
    // HHI supplier concentration per nation (basis points, exact)
    "q_hhi" -> ((s, d) => Relational.hhiConcentration(
      Relational.table(s, d, "lineitem"),
      Relational.table(s, d, "supplier"),
      Relational.table(s, d, "nation"))),
    // next-event predictability: entropy per source state
    "q_transition_entropy" -> ((s, d) =>
      Analytics.transitionEntropy(Analytics.events(s, d))),
    // log-log demand elasticity per brand (e6-quantized lns, 5-sum OLS)
    "q_price_elasticity" -> ((s, d) => Relational.priceElasticity(
      Relational.table(s, d, "lineitem"), Relational.table(s, d, "part"))),
    // customer spend-band transition matrix between the two half-periods
    "q_segment_migration" -> ((s, d) =>
      Relational.segmentMigration(Relational.table(s, d, "orders"))),
    // 2×2 factorial interaction contrast over the mod-2 × mod-3 factors
    "q_factorial_interaction" -> ((s, d) =>
      Analytics.factorialInteraction(Analytics.events(s, d))),
    // Cohen's d: standardized effect size between the parity arms
    "q_cohens_d" -> ((s, d) => Analytics.cohensD(Analytics.events(s, d))),
    // snapshot reconciliation: late-arriving 1/97 slice vs deleted 1/89
    // slice with restated open orders on the 1/11 grid
    "q_snapshot_diff" -> ((s, d) => {
      val orders = Relational.table(s, d, "orders")
      val oldSnap = orders.filter(col("o_orderkey") % 97 =!= 0)
      val newSnap = orders.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "O" && col("o_orderkey") % 11 === 0,
            col("o_totalprice") + lit(1))
            .otherwise(col("o_totalprice")))
      Relational.snapshotDiff(oldSnap, newSnap,
        Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
    }),
    // triangle census of the part co-purchase graph: degree-ordered wedge
    // enumeration (O(|E|^1.5) bound), equi-joins only
    "q_triangles" -> ((s, d) =>
      Graph.triangleCountFromPairs(pairGraph(s, d))),
    // chi-square independence of event_type × day-of-week: contingency
    // collapse first, exact integer contributions
    "q_chi_square" -> ((s, d) => Analytics.chiSquare(Analytics.events(s, d))),
    // Cramer's V: the effect size of the type x day-of-week association
    "q_cramers_v" -> ((s, d) => Analytics.cramersV(Analytics.events(s, d))),
    // week-over-week growth: collapse to the week dimension before the LAG
    "q_revenue_growth" -> ((s, d) =>
      Relational.revenueGrowth(Relational.table(s, d, "orders"))),
    // Lorenz curve at octile resolution: broadcast dyadic boundaries,
    // row-local banding — no global rank over the part dimension
    "q_revenue_concentration" -> ((s, d) =>
      Relational.revenueConcentration(Relational.table(s, d, "lineitem"))),
    // robust means: rank-exact trim/winsorize per type, integer outputs
    "q_trimmed_stats" -> ((s, d) => Analytics.trimmedStats(Analytics.events(s, d))),
    // grid-quantized two-sample KS per type vs rest: CDFs as running sums
    // over the e2 grid dimension, exact integer statistic
    "q_ks_test" -> ((s, d) => Analytics.ksTest(Analytics.events(s, d))),
    // PSI drift: first vs second half of the timeline per type, per-bin
    // e4-rounded contributions summed as integers
    "q_psi_drift" -> ((s, d) => Analytics.psiDrift(Analytics.events(s, d))),
    // incremental materialized-rollup maintenance: algebraic merge of the
    // historical rollup with the delta ≡ flat re-aggregation (the oracle)
    "q_incremental_rollup" -> ((s, d) =>
      Analytics.incrementalRollup(Analytics.events(s, d))),
    // delta-join view maintenance: V = A₀⋈B₀ ∪ ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB,
    // merged totals ≡ the flat join (oracle); per-term counts pin it
    "q_incremental_join" -> ((s, d) =>
      Relational.incrementalJoinView(Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"))),
    // Jaccard affinity of type pairs by user overlap: per-user set
    // collapse (one exchange), row-local pair explode, type² aggregate
    "q_type_affinity" -> ((s, d) => Analytics.typeAffinity(Analytics.events(s, d))),
    // hourly-volume ACF: hour-arithmetic equi-join lags, exact sums
    "q_volume_acf" -> ((s, d) => Analytics.volumeAcf(Analytics.events(s, d))),
    // conversion latency: first-view collapse + user equi-join residual
    "q_conversion_latency" -> ((s, d) =>
      Analytics.conversionLatency(Analytics.events(s, d))),
    // Benford first-digit screen: string-head digit, frozen e6 expecteds
    "q_benford" -> ((s, d) =>
      Relational.benfordDigits(Relational.table(s, d, "orders"))),
    // supply-concentration outliers: collapse-first, integer share test
    "q_supplier_concentration" -> ((s, d) =>
      Relational.supplierConcentration(Relational.table(s, d, "lineitem"))),
    // TPC-H Q15 shape: quarter revenue per supplier, decimal-exact max
    // kept as a broadcast scalar join (ties preserved)
    "q_top_supplier" -> ((s, d) =>
      Relational.topSupplier(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "supplier"))),
    // interval concurrency WITHOUT a range join: sweep-line ±1 deltas
    // aggregated onto the day dimension, running sum there only
    "q_order_backlog" -> ((s, d) =>
      Relational.orderBacklog(
        Relational.table(s, d, "orders"), Relational.table(s, d, "lineitem"))),
    // SCD2 point-in-time lookup: user-keyed equi-join, validity residual
    "q_scd2_lookup" -> ((s, d) => Analytics.scd2Lookup(Analytics.events(s, d))),
    // time-weighted average: per-user LEAD holds, decimal×micros exact
    "q_twap" -> ((s, d) => Analytics.timeWeightedValue(Analytics.events(s, d))),
    // median/MAD robust outlier screen: integer cents, dyadic medians,
    // exact k·MAD boundary
    "q_mad_outliers" -> ((s, d) => Analytics.madOutliers(Analytics.events(s, d))),
    // first→last journey endpoints in ONE user aggregate (struct argmin)
    "q_entry_exit_flows" -> ((s, d) =>
      Analytics.entryExitFlows(Analytics.events(s, d))),
    // cohort LTV: first-touch spine + purchase join, cumulative cents on
    // the triangular cohort×offset dimension
    "q_cohort_ltv" -> ((s, d) => Analytics.cohortLtv(Analytics.events(s, d))),
    // linear attribution: integer cents split with remainder-to-recency,
    // telescoping exactly to each purchase amount
    "q_attribution_split" -> ((s, d) =>
      Analytics.attributionSplit(Analytics.events(s, d))),
    // peak 5-min burst per user, histogrammed (tumbling bucket = row-local)
    "q_user_bursts" -> ((s, d) => Analytics.userBursts(Analytics.events(s, d))),
    // RANGE-frame window: trailing-hour event count at each purchase
    "q_rolling_hour" -> ((s, d) =>
      Analytics.rollingHourCount(Analytics.events(s, d))),
    // session variables + EXECUTE IMMEDIATE with a positional parameter
    // marker (Spark 4 scripting surface) — the plan under it is the
    // ordinary aggregate, so the oracle is the same SQL with the
    // threshold inlined
    "q_sql_execute_immediate" -> ((s, d) => {
      Analytics.events(s, d).createOrReplaceTempView("events_ei")
      s.sql("DECLARE OR REPLACE min_events BIGINT")
      s.sql("SET VAR min_events = 100")
      s.sql(
        """EXECUTE IMMEDIATE
          |'SELECT user_id, count(*) AS n,
          |   sum(CAST(round(value * 100) AS BIGINT)) AS cents
          | FROM events_ei GROUP BY user_id HAVING count(*) >= ?
          | ORDER BY user_id'
          |USING min_events""".stripMargin)
    }),
    // classical decomposition on the day dimension: day-arithmetic MA,
    // truncating-integer weekday indices, integer residuals
    "q_seasonal_decomp" -> ((s, d) =>
      Analytics.seasonalDecompose(Analytics.events(s, d))),
    // acquisition curve: first-touch per day + dimension-sized cumsum
    "q_user_growth" -> ((s, d) => Analytics.userGrowth(Analytics.events(s, d))),
    // Holt linear-trend forecast: impulse-response weight constants
    // shared verbatim by both engines — no float crosses the oracle
    "q_holt_forecast" -> ((s, d) =>
      Analytics.holtForecast(Analytics.events(s, d))),
    // additive weekly seasonality on top of the level+trend recurrence —
    // same impulse-response exact-constant discipline
    "q_holtwinters_forecast" -> ((s, d) =>
      Analytics.holtWintersForecast(Analytics.events(s, d))),
    // schema-driven per-column profile: ONE scan, exact distincts,
    // cross-engine-rendered extrema — the first query on any new table
    "q_table_profile" -> ((s, d) =>
      Catalog.profileTable(Analytics.events(s, d))),
    // TPC-H Q21 shape: EXISTS + NOT EXISTS decorrelated to per-order
    // aggregates reusing the orderkey clustering
    "q_sole_blame_suppliers" -> ((s, d) =>
      Relational.soleBlameSuppliers(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "orders"),
        Relational.table(s, d, "supplier"))),
    // throttle/debounce: first event per (user, type, 10-min bucket) via
    // one struct-argmin hash aggregate
    "q_throttle" -> ((s, d) => Analytics.throttle(Analytics.events(s, d))),
    // per-brand 2-D skyline via two running maxima — no NOT-EXISTS
    // self-join, one window pass per brand partition
    "q_pareto_parts" -> ((s, d) =>
      Relational.paretoFrontier(Relational.table(s, d, "part"))),
    // SLA latency by priority: order→first/last-ship days, dyadic p50
    "q_order_latency" -> ((s, d) =>
      Relational.orderLatency(
        Relational.table(s, d, "orders"), Relational.table(s, d, "lineitem"))),
    // quality yield curve: collapse to the e2 score dimension, cumulate there
    "q_quality_yield" -> ((s, d) =>
      TextAnalysis.qualityYieldCurve(TextAnalysis.documents(s, d))),
    // LATERAL correlated subquery through the parser: Catalyst
    // decorrelates the per-order top-1 into WindowGroupLimit + ONE
    // equi-join (rank pushed below the exchange) — never a per-row rescan
    "q_sql_lateral" -> ((s, d) => {
      Relational.table(s, d, "orders").createOrReplaceTempView("orders_lat")
      Relational.table(s, d, "lineitem").createOrReplaceTempView("lineitem_lat")
      s.sql(
        """SELECT o.o_orderkey, o.o_totalprice, t.l_partkey,
          |  t.l_extendedprice AS top_line_price
          |FROM orders_lat o,
          |LATERAL (
          |  SELECT l_partkey, l_extendedprice FROM lineitem_lat
          |  WHERE l_orderkey = o.o_orderkey
          |  ORDER BY l_extendedprice DESC, l_partkey LIMIT 1) t
          |WHERE o.o_totalprice >= 490000
          |ORDER BY o.o_orderkey""".stripMargin)
    }),
    // TPC-H Q17 shape: correlated per-part average threshold, decorrelated
    // to an aggregate + self-key join, exact integer comparison
    "q_small_quantity_revenue" -> ((s, d) =>
      Relational.smallQuantityRevenue(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "part"))),
    // UNPIVOT through the parser: wide per-type measures → long form
    "q_sql_unpivot" -> ((s, d) => {
      Analytics.events(s, d).createOrReplaceTempView("events_unp")
      s.sql(
        """SELECT event_type, metric, metric_value FROM (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |    sum(CAST(floor(value * 10000) AS BIGINT)) AS value_e4
          |  FROM events_unp GROUP BY event_type)
          |UNPIVOT (metric_value FOR metric IN (n_events, n_users, value_e4))
          |ORDER BY event_type, metric""".stripMargin)
    }),
    // log-binned degree distribution: binary-string width, no float log
    "q_degree_distribution" -> ((s, d) =>
      Graph.degreeDistributionFromPairs(pairGraph(s, d))),
    // VARIANT (Spark 4's semi-structured type) end to end: props JSON →
    // parse_json → typed variant_get paths → per-type aggregate. The
    // open-schema path a pipeline takes BEFORE columns are promoted —
    // at scale the same query reads shredded variant subcolumns
    "q_variant_props" -> ((s, d) => {
      Analytics.events(s, d).createOrReplaceTempView("events_var")
      s.sql(
        """SELECT event_type,
          |  count(variant_get(parse_json(props), '$.k', 'long')) AS n_with_k,
          |  sum(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
          |  min(variant_get(parse_json(props), '$.k', 'long')) AS min_k,
          |  max(variant_get(parse_json(props), '$.k', 'long')) AS max_k
          |FROM events_var GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // SQL pipe syntax (Spark 4): the same relational algebra, dataflow
    // order — parser surface a migrating user will reach for
    // SQL scripting through the parser (Spark 4: BEGIN/DECLARE/WHILE) —
    // an iterative control-flow block whose last statement is the result;
    // the oracle computes the same quantity set-wise
    "q_sql_script" -> ((s, d) => {
      Analytics.events(s, d).createOrReplaceTempView("events_script")
      s.sql(
        """BEGIN
          |  DECLARE n BIGINT;
          |  DECLARE t BIGINT DEFAULT 1;
          |  SET n = (SELECT count(*) FROM events_script);
          |  WHILE t * 2 <= n DO
          |    SET t = t * 2;
          |  END WHILE;
          |  SELECT n AS n_events, t AS pow2_floor;
          |END""".stripMargin)
    }),
    // SQL-defined scalar function through the parser (Spark 4 SQL UDF:
    // CREATE FUNCTION ... RETURNS ... RETURN expr) — the oracle inlines
    // the same expression, proving the mechanism changes nothing
    "q_sql_udf" -> ((s, d) => {
      Relational.table(s, d, "orders").createOrReplaceTempView("orders_udf")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION order_cents(x DOUBLE)
          |RETURNS BIGINT RETURN CAST(round(x * 100, 0) AS BIGINT)"""
          .stripMargin)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |  sum(order_cents(o_totalprice)) AS cents
          |FROM orders_udf GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    }),
    // GROUP BY ALL / ORDER BY ALL through the parser (Spark 4 dialect
    // surface; DuckDB originated the shorthand, so the oracle is native)
    "q_sql_group_by_all" -> ((s, d) => {
      Relational.table(s, d, "orders").createOrReplaceTempView("orders_gba")
      s.sql(
        """SELECT o_orderpriority, o_orderstatus,
          |  count(*) AS n_orders,
          |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
          |FROM orders_gba
          |GROUP BY ALL ORDER BY ALL""".stripMargin)
    }),
    "q_sql_pipe" -> ((s, d) => {
      Analytics.events(s, d).createOrReplaceTempView("events_pipe")
      s.sql(
        """FROM events_pipe
          ||> WHERE value > 0
          ||> AGGREGATE count(*) AS n,
          |     sum(CAST(floor(value * 10000) AS BIGINT)) AS value_e4
          |     GROUP BY event_type
          ||> ORDER BY event_type""".stripMargin)
    }),
    // WITH RECURSIVE through the parser (new in Spark 4): BFS hop counts
    // from the smallest part over co-purchase edges, depth-bounded so the
    // path fan-out stays finite; min(depth) collapses path multiplicity.
    // The edge build feeds the recursion through a PERSISTED temp view:
    // Spark's UnionLoop re-executes every CTE the recursive leg
    // references on EACH iteration, so an inline pair build (a fact-table
    // self-join) would run depth+1 times — 9+ s at sf0.1 vs ~1 s with
    // the cached edge frame (the same single-exchange pair build the
    // basket/triangle family shares). The DuckDB oracle keeps the whole
    // thing as one SQL text — its MATERIALIZED CTEs do natively what the
    // persist does here.
    "q_sql_reachability" -> ((s, d) => {
      pairGraph(s, d)
        .select(col("u"), col("v"))
        .createOrReplaceTempView("edges_rec")
      s.sql(
        """WITH RECURSIVE
          |e AS (SELECT u, v FROM edges_rec
          |      UNION ALL SELECT v AS u, u AS v FROM edges_rec),
          |seed AS (SELECT min(u) AS s FROM e),
          |reach(pk, depth) AS (
          |  SELECT s, 0 FROM seed
          |  UNION ALL
          |  SELECT e.v, r.depth + 1 FROM reach r JOIN e ON e.u = r.pk
          |  WHERE r.depth < 3)
          |SELECT pk, CAST(min(depth) AS BIGINT) AS hops FROM reach GROUP BY pk
          |ORDER BY pk""".stripMargin)
    }),
    // frame-sampling plan: bounded row-local explode, exact byte tiling
    "q_media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.syntheticAssets(s))),
    // WebDataset shard layout: hierarchical prefix sum (block windows +
    // broadcast carry), cum div C assignment, shard-dimension report
    "q_media_shards" -> ((s, d) =>
      Multimodal.shardPlan(Multimodal.syntheticAssets(s).toDF())),
    // third-order journey n-grams: two LEADs on one user window
    "q_event_trigrams" -> ((s, d) => Analytics.eventTrigrams(Analytics.events(s, d))),
    // degree assortativity of the co-purchase graph: three integer sums
    "q_assortativity" -> ((s, d) =>
      Graph.assortativityFromPairs(pairGraph(s, d))),
    // reliability curve: integer-division score bins, observed vs predicted
    "q_calibration_curve" -> ((s, d) =>
      TextAnalysis.calibrationCurve(TextAnalysis.documents(s, d))),
    // learned-filter eval: midrank AUC + P/R/acc at the 0.5 cut, per source
    "q_classifier_eval" -> ((s, d) =>
      TextAnalysis.classifierEval(TextAnalysis.documents(s, d))),
    // PR sweep of the frozen quality model: one corpus scan, e4-score
    // collapse, broadcast threshold grid; exact-F1 from counts
    "q_pr_curve" -> ((s, d) =>
      TextAnalysis.prCurve(TextAnalysis.documents(s, d))),
    // Matryoshka truncation audit: e6-quantized cosine error per width
    "q_matryoshka" -> ((s, d) =>
      Similarity.matryoshkaAudit(Similarity.embeddings(s, d))),
    // encoder-drift audit: per-dim mean shift between id-parity cohorts
    "q_embedding_drift" -> ((s, d) =>
      Similarity.embeddingDrift(Similarity.embeddings(s, d))),
    // sample-ratio-mismatch gate ahead of the CUPED readout
    "q_ab_srm" -> ((s, d) => Analytics.srmCheck(Analytics.events(s, d))),
    "q_first_event_per_user" -> ((s, d) => Analytics.firstEventPerUser(Analytics.events(s, d))),
    // ordered min-after funnel signup → view → purchase; each stage
    // joins the shrinking frontier back to the type-pruned stream
    "q_step_funnel" -> ((s, d) => Analytics.stepFunnel(Analytics.events(s, d))),
    // first-touch funnel with a 6 h per-step deadline
    "q_step_funnel_windowed" -> ((s, d) => Analytics.stepFunnel(
      Analytics.events(s, d), stepWithinUs = Some(21600000000L))),
    // hot-key diagnostics: share of the heaviest key + Gini over the
    // key frequency distribution, per candidate shuffle dimension
    "q_key_skew" -> ((s, d) => Analytics.keySkew(Analytics.events(s, d))),
    // invariant report: row-local rules share one scan; id uniqueness
    // is the one keyed rule
    "q_data_contract" -> ((s, d) => Analytics.dataContract(Analytics.events(s, d))),
    // decile membership counts of value within each type — ntile joins
    // the rank/lag/lead §2.9 family
    "q_value_ntiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Analytics.events(s, d)
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(12,2)")).cast("double"), 2)
            .as("bucket_value"))
        .orderBy(col("event_type"), col("decile"))
    }),
    // sparse triangular retention matrix, UTC-day cohorts
    "q_retention_cohorts" -> ((s, d) =>
      Analytics.retentionCohorts(Analytics.events(s, d))),
    // DAU/WAU/MAU: trailing distinct actives per observed day
    "q_active_users" -> ((s, d) =>
      Analytics.activeUsers(Analytics.events(s, d))),
    "q_dedup_events" -> ((s, d) => Analytics.dedupExactEvents(Analytics.events(s, d))),
    // batch twin of the stream-stream interval join (Pipeline.viewPurchaseJoin)
    "q_purchase_attribution" -> ((s, d) =>
      Analytics.purchaseAttribution(Analytics.events(s, d))),
    // AS-OF join: union + one shuffle + running last() — not a pair join
    "q_asof_last_view" -> ((s, d) => Analytics.asofLastView(Analytics.events(s, d))),
    // PURE non-equi interval join, bucketed into an equi-join on the hour
    // (the general range-join rewrite; no shared key with the points)
    "q_interval_join" -> ((s, d) =>
      Analytics.campaignWindowJoin(Analytics.events(s, d))),
    // SCD2 change capture: per-user type-change versions with
    // [valid_from, valid_to) — one shuffle serves LAG, LEAD and version
    "q_scd2_history" -> ((s, d) => Analytics.changeCapture(Analytics.events(s, d))),
    // SQL-text surface: the same query plane through the PARSER, over a
    // registered view, using a graft SQL-registered native function
    "q_sql_quality_histogram" -> ((s, d) => {
      graft.functions.GraftExtensions.register(s)
      Analytics.events(s, d).createOrReplaceTempView("events_sql")
      s.sql(
        """SELECT event_type,
          |       quality_score(CAST(user_id AS STRING), props, value, ts) AS data_quality_score,
          |       count(*) AS record_count,
          |       round(avg(length(props)), 4) AS avg_message_length
          |FROM events_sql
          |GROUP BY 1, 2
          |ORDER BY event_type, data_quality_score DESC""".stripMargin)
    }),
    // ---- relational surface (joins / windows / rollup, SURVEY §2.7–2.9) ----
    "q_pricing_summary" -> ((s, d) => Relational.pricingSummary(Relational.table(s, d, "lineitem"))),
    "q_revenue_by_nation" -> ((s, d) =>
      Relational.revenueByNation(
        Relational.table(s, d, "region"), Relational.table(s, d, "nation"),
        Relational.table(s, d, "customer"), Relational.table(s, d, "orders"))),
    "q_revenue_by_brand" -> ((s, d) =>
      Relational.revenueByBrand(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "part"))),
    "q_top_orders" -> ((s, d) => Relational.topOrders(Relational.table(s, d, "orders"))),
    "q_shipping_priority" -> ((s, d) =>
      Relational.shippingPriority(
        Relational.table(s, d, "customer"), Relational.table(s, d, "orders"),
        Relational.table(s, d, "lineitem"))),
    "q_top_orders_per_customer" -> ((s, d) =>
      Relational.topOrdersPerCustomer(Relational.table(s, d, "orders"))),
    "q_top_orders_per_customer_agg" -> ((s, d) =>
      Relational.topOrdersPerCustomerAgg(Relational.table(s, d, "orders"))),
    "q_order_rollup" -> ((s, d) => Relational.orderStatusRollup(Relational.table(s, d, "orders"))),
    "q_order_cube" -> ((s, d) => Relational.orderStatusCube(Relational.table(s, d, "orders"))),
    "q_corr_stats" -> ((s, d) => Relational.quantityPriceCorr(Relational.table(s, d, "lineitem"))),
    "q_except_users" -> ((s, d) => Analytics.viewersWithoutPurchase(Analytics.events(s, d))),
    "q_customers_without_orders" -> ((s, d) =>
      Relational.customersWithoutOrders(
        Relational.table(s, d, "customer"), Relational.table(s, d, "orders"))),
    "q_above_avg_orders" -> ((s, d) => Relational.aboveAvgOrders(Relational.table(s, d, "orders"))),
    "q_nation_trade_flows" -> ((s, d) =>
      Relational.nationTradeFlows(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"), Relational.table(s, d, "supplier"),
        Relational.table(s, d, "nation"))),
    "q_big_orders" -> ((s, d) =>
      Relational.bigOrders(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "orders"))),
    "q_forecast_revenue" -> ((s, d) =>
      Relational.forecastRevenue(Relational.table(s, d, "lineitem"))),
    "q_market_share" -> ((s, d) =>
      Relational.marketShare(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"), Relational.table(s, d, "supplier"),
        Relational.table(s, d, "nation"), Relational.table(s, d, "region"),
        Relational.table(s, d, "part"))),
    "q_returned_items" -> ((s, d) =>
      Relational.returnedItems(
        Relational.table(s, d, "customer"), Relational.table(s, d, "orders"),
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "nation"))),
    "q_order_count_distribution" -> ((s, d) =>
      Relational.orderCountDistribution(
        Relational.table(s, d, "customer"), Relational.table(s, d, "orders"))),
    "q_promo_share" -> ((s, d) =>
      Relational.promoShare(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "part"))),
    "q_disjunctive_revenue" -> ((s, d) =>
      Relational.disjunctiveRevenue(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "part"))),
    "q_waiting_suppliers" -> ((s, d) =>
      Relational.waitingSuppliers(
        Relational.table(s, d, "lineitem"), Relational.table(s, d, "orders"),
        Relational.table(s, d, "supplier"))),
    "q_lapsed_high_balance" -> ((s, d) =>
      Relational.lapsedHighBalance(
        Relational.table(s, d, "customer"), Relational.table(s, d, "orders"))),
    // market-basket pair mining: self-equi-join on the order key (cost
    // bounded by basket size), broadcast part counts, integer-exact lift
    "q_basket_pairs" -> ((s, d) =>
      Relational.basketPairs(Relational.table(s, d, "lineitem"))),
    // RFM segmentation by exact quartile BOUNDARIES (broadcast cutpoints,
    // row-local binning) — no global ntile sort over the customer dim
    "q_rfm_segments" -> ((s, d) =>
      Relational.rfmSegments(Relational.table(s, d, "orders"))),
    "q_distinct_profile" -> ((s, d) => Analytics.distinctProfile(Analytics.events(s, d))),
    "q_event_gaps" -> ((s, d) => Analytics.eventGaps(Analytics.events(s, d))),
    // first-order Markov transition counts + e4 conditional probability
    "q_event_transitions" -> ((s, d) =>
      Analytics.eventTransitions(Analytics.events(s, d))),
    // held-out top-1 accuracy of the argmax-successor Markov model
    "q_markov_eval" -> ((s, d) => Analytics.markovEval(Analytics.events(s, d))),
    // CUPED variance-reduced A/B readout: exact integer moments, one
    // double conversion per statistic
    "q_cuped" -> ((s, d) => Analytics.cupedLift(Analytics.events(s, d))),
    // per-bucket histogram join-size estimate vs the actual join count
    "q_join_cardinality" -> ((s, d) =>
      Relational.joinCardinalityEstimate(Relational.table(s, d, "orders"),
        Relational.table(s, d, "customer"))),
    // exact equi-depth boundaries by two-pass rank selection — the fact
    // table is scanned, never range-sorted
    "q_equidepth_hist" -> ((s, d) =>
      Relational.equiDepthHistogram(Relational.table(s, d, "orders"))),
    // delete-one-bucket jackknife SE of the mean order value
    "q_jackknife" -> ((s, d) =>
      Relational.jackknifeMean(Relational.table(s, d, "orders"))),
    // watermark-lag audit: hierarchical running event-time max over
    // arrival order, per-type late shares at 1s/1m/10m thresholds
    "q_disorder_profile" -> ((s, d) =>
      Analytics.disorderProfile(Analytics.events(s, d))),
    // k-anonymity / l-diversity release gate on the (type, day, hour) QI
    "q_kanon" -> ((s, d) => Privacy.kAnonymity(Analytics.events(s, d))),
    // right-to-be-forgotten dry run: one broadcast tombstone join, semi
    // and anti populations from the same null flag
    "q_forget" -> ((s, d) => Privacy.forgetAudit(Analytics.events(s, d))),
    // DP contribution bounding: one (type, day, user) collapse, broadcast
    // cap grid — clipped rows and the L1-sensitivity/utility frontier
    "q_dp_contribution" -> ((s, d) =>
      Privacy.contributionBound(Analytics.events(s, d))),
    // KMV bottom-k distinct sketch vs exact truth, two-pass rank selection
    // (no per-group full-sort window)
    "q_kmv_distinct" -> ((s, d) => Sketch.kmvDistinct(Analytics.events(s, d))),
    // KMV mergeability: per-cohort sketches combined from k-sized state
    // alone; merged estimate vs the exact union cardinality
    "q_kmv_union" -> ((s, d) => Sketch.kmvUnion(Analytics.events(s, d))),
    // KLL-class mergeable quantile sketch graded against exact ranks;
    // envelope verdict + exact side are the oracle-stable columns
    "q_quantile_sketch" -> ((s, d) =>
      Sketch.quantileSketch(Relational.table(s, d, "orders"))),
    // KMV set-algebra: audience overlap from two cohort sketches alone
    "q_kmv_intersect" -> ((s, d) => Sketch.kmvIntersect(Analytics.events(s, d))),
    // count-min frequency sketch: top users' estimates vs exact truth
    "q_countmin" -> ((s, d) => Sketch.countMin(Analytics.events(s, d))),
    // KMV set difference: reach A missed by B, from the sketches alone
    "q_kmv_diff" -> ((s, d) => Sketch.kmvDiff(Analytics.events(s, d))),
    // AMS tug-of-war F2: self-join size from 40 signed counters,
    // median-of-means, exact truth rides along
    "q_ams_f2" -> ((s, d) => Sketch.amsF2(Analytics.events(s, d))),
    // 3-D dominance skyline: grid cell-prune, exact check on the shell
    "q_skyline" -> ((s, d) =>
      Relational.skyline(Relational.table(s, d, "orders"))),
    // PassJoin pigeonhole edit-distance join: clean catalog vs corrupted
    // twin, zero-false-negative chunk blocking + levenshtein verify
    "q_fuzzy_join" -> ((s, d) =>
      Dedup.fuzzyJoin(Relational.table(s, d, "part"))),
    // Benjamini-Hochberg step-up FDR over the per-type test family
    "q_bh_fdr" -> ((s, d) => Analytics.bhFdr(Analytics.events(s, d))),
    // binary-segmentation change points on the hourly level, exact CUSUM
    "q_change_points" -> ((s, d) =>
      Analytics.changePoints(Analytics.events(s, d))),
    // sliding-window distinct users: first-in-window rewrite, one pass
    "q_sliding_distinct" -> ((s, d) =>
      Analytics.slidingDistinct(Analytics.events(s, d))),
    // bounded Bellman-Ford SSSP over the co-purchase rarity graph
    "q_shortest_paths" -> ((s, d) =>
      Graph.shortestPathsFromPairs(pairGraph(s, d))),
    // GBDT primitive: histogram best-split search, weighted Gini argmin
    "q_tree_split" -> ((s, d) => Analytics.treeSplit(Analytics.events(s, d))),
    // positional-index phrase retrieval: generic k-slot intersection
    "q_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseSearch(TextAnalysis.documents(s, d))),
    // Markov removal-effect attribution: absorbing-chain conversion drop
    // per removed channel, exact integer e9 fixed-point on the collapsed
    // transition table
    "q_removal_effect" -> ((s, d) =>
      Analytics.removalEffect(Analytics.events(s, d))),
    // MATCH_RECOGNIZE-class CEP: per-user journey strings, regex motif
    // count — one shuffle onto user_id, row-local regex
    "q_cep_pattern" -> ((s, d) => Analytics.cepPattern(Analytics.events(s, d))),
    // CUSUM drift monitor on the day dimension via the prefix-min closed
    // form — integer arithmetic end to end
    "q_cusum" -> ((s, d) => Analytics.cusum(Analytics.events(s, d))),
    // merge-overlapping-intervals coverage: prefix-max sweep, no self-join
    // pure range join THROUGH THE INJECTED OPTIMIZER RULE: surge-window
    // traffic — RangeJoinRule rewrites the containment join to a
    // 1-hour-bin equi-join (RangeJoinSpec pins rows + plan shape)
    "q_surge_windows" -> ((s, d) =>
      Intervals.surgeWindowTraffic(Analytics.events(s, d))),
    "q_interval_coalesce" -> ((s, d) =>
      Intervals.intervalCoalesce(Analytics.events(s, d))),
    // small-file compaction planner: size-sorted cumulative-sum binning
    // over the (metadata-sized) file inventory
    "q_compaction_plan" -> ((s, d) =>
      Layout.compactionPlan(Relational.table(s, d, "orders"))),
    // two-feature OLS in closed form: one sufficient-statistics pass,
    // DECIMAL(38,0)-exact sums, e6-quantized Cramer solve
    "q_ols_multi" -> ((s, d) =>
      Analytics.olsMulti(Relational.table(s, d, "lineitem"))),
    // learned multinomial NB language classifier, integer micro-nat
    // scores, resubstitution confusion matrix
    "q_nb_langid" -> ((s, d) =>
      TextAnalysis.naiveBayesLangId(TextAnalysis.documents(s, d))),
    // grid-accelerated DBSCAN: ε-grid candidate join, core/border/noise
    // roles, min-label components over core edges
    "q_dbscan" -> ((s, d) => Spatial.dbscan(Analytics.events(s, d))),
    // interpolated Kneser-Ney bigram scoring, integer micro-nat totals
    "q_kneser_ney" -> ((s, d) =>
      TextAnalysis.kneserNeyScore(TextAnalysis.documents(s, d))),
    // grouped closed-form OLS: one 5-sum aggregate per nation, solve on
    // the 25-row result
    "q_ols_by_group" -> ((s, d) => Modeling.olsByGroup(
      Relational.table(s, d, "lineitem"),
      Relational.table(s, d, "supplier"),
      Relational.table(s, d, "nation"))),
    // one-pass Pearson correlation matrix: 14 sufficient sums, 6 pair
    // rows unpivoted from a single aggregate row
    "q_corr_matrix" -> ((s, d) =>
      Modeling.corrMatrix(Relational.table(s, d, "lineitem"))),
    // mutual-information feature ranking over the error-share label,
    // integer micro-nat terms summed order-free
    "q_mutual_info" -> ((s, d) => Modeling.mutualInfo(Analytics.events(s, d))),
    // distributed isotonic calibration via the minimax PAVA closed form
    "q_isotonic" -> ((s, d) =>
      Modeling.isotonicCalibration(Analytics.events(s, d))),
    // multi-key identity stitching: star edges + min-label fixed point
    "q_entity_resolution" -> ((s, d) =>
      Identity.entityResolution(Analytics.events(s, d))),
    // MDM survivorship: merge resolved entities under most-recent-wins
    "q_golden_records" -> ((s, d) =>
      Identity.goldenRecords(Analytics.events(s, d))),
    // margin-criterion pair mining across the label-parity pools:
    // hubness-corrected cosine, forward/backward best candidates
    "q_margin_pairs" -> ((s, d) =>
      Similarity.marginPairs(Similarity.embeddings(s, d))),
    // kNN hubness diagnostic: k-occurrence histogram with anti-hub zeros
    // (sampleMod = 1 pins the exact form — it IS the oracle pair)
    "q_hubness" -> ((s, d) =>
      Similarity.hubnessHistogram(Similarity.embeddings(s, d),
        sampleMod = 1)),
    // the 100 TB form of the same diagnostic: deterministic vec_id-mod
    // sample bounds the all-pairs budget; oracle applies the same mod
    "q_hubness_sampled" -> ((s, d) =>
      Similarity.hubnessHistogram(Similarity.embeddings(s, d),
        sampleMod = 4)),
    // k-core backbone: iterative peeling to the exact fixed point
    "q_kcore" -> ((s, d) => Graph.kCoreFromPairs(pairGraph(s, d))),
    // k-truss: the edge-level tightening of the core — every surviving
    // edge interlocks in >= k-2 surviving triangles (k=3 is this
    // corpus's knee: its triangles don't interlock, so k=4 is empty)
    "q_ktruss" -> ((s, d) => Graph.kTrussFromPairs(pairGraph(s, d), k = 3)),
    // connected-component census: pointer-jumped min labels over the
    // shared pair graph; oracle replays plain propagation to fixpoint
    "q_connected_components" -> ((s, d) =>
      Graph.connectedComponentsFromPairs(pairGraph(s, d))),
    // per-node clustering coefficient: community cores vs brokers
    "q_local_clustering" -> ((s, d) =>
      Graph.localClusteringFromPairs(pairGraph(s, d))),
    // density-relative outliers: LOF over e9-quantized cosine distances
    // (sampleMod = 1 pins the exact form — it IS the oracle pair)
    "q_lof" -> ((s, d) =>
      Similarity.lofOutliers(Similarity.embeddings(s, d), sampleMod = 1)),
    // the 100 TB form: LOF scored against sampled local density
    "q_lof_sampled" -> ((s, d) =>
      Similarity.lofOutliers(Similarity.embeddings(s, d), sampleMod = 4)),
    // asymmetric near-dup: ordered n-gram containment pairs
    "q_containment" -> ((s, d) =>
      Dedup.containmentPairs(TextAnalysis.documents(s, d))),
    // Wald SPRT per arm: integer micro-nat LLR walk + first crossing
    "q_sprt" -> ((s, d) => Analytics.sprtTest(Analytics.events(s, d))),
    // exact weighted quantiles per group: collapse to the value domain,
    // integer threshold picks — no floating point anywhere
    "q_weighted_quantiles" -> ((s, d) =>
      Analytics.weightedQuantiles(Relational.table(s, d, "lineitem"))),
    // Wasserstein-1 drift between purchase/view value distributions,
    // per-bin e9 CDF quantization
    "q_emd_drift" -> ((s, d) => Analytics.emdDrift(Analytics.events(s, d))),
    // two-round discrete boosting: weighted stump argmin, x2 reweighting
    "q_boosted_stumps" -> ((s, d) =>
      Analytics.boostedStumps(Analytics.events(s, d))),
    // greedy max-coverage doc selection: k anti-join rounds, 1-row argmax
    "q_set_cover" -> ((s, d) =>
      Corpus.setCoverSelect(TextAnalysis.documents(s, d))),
    // rendezvous-hash scale-out audit: only new-node keys may move
    "q_rendezvous" -> ((s, d) =>
      Layout.rendezvousRebalance(Relational.table(s, d, "part"))),
    // difference-in-differences on the data-anchored midpoint split
    "q_did" -> ((s, d) => Analytics.didEstimate(Analytics.events(s, d))),
    // delta-method SE for the revenue-per-event ratio metric, per arm
    "q_ratio_delta" -> ((s, d) =>
      Analytics.ratioMetricDelta(Analytics.events(s, d))),
    // variance-to-mean overdispersion QA on hourly arrival counts
    "q_dispersion" -> ((s, d) =>
      Analytics.dispersionIndex(Analytics.events(s, d))),
    // bucketed co-located fact join: layout paid once, no join exchange
    "q_bucketed_join" -> ((s, d) => Layout.bucketedJoin(s,
      Relational.table(s, d, "lineitem"), Relational.table(s, d, "orders"))),
    // A/A false-positive calibration: 16 hash-seeded null splits
    "q_aa_calibration" -> ((s, d) =>
      Analytics.aaCalibration(Analytics.events(s, d))),
    // bivariate Mahalanobis outliers: closed-form 2x2 inverse, top-20
    "q_mahalanobis" -> ((s, d) =>
      Analytics.mahalanobisOutliers(Analytics.events(s, d))),
    // Heaps' law: all checkpoints from one first-seen collapse + slope
    "q_heaps_law" -> ((s, d) =>
      TextAnalysis.heapsLaw(TextAnalysis.documents(s, d))),
    // CSN power-law exponent of the co-purchase degree tail
    "q_powerlaw_alpha" -> ((s, d) =>
      Graph.powerLawAlphaFromPairs(pairGraph(s, d))),
    // Simpson's check: pooled vs per-stratum slope with sign-flip flags
    "q_simpsons" -> ((s, d) =>
      Modeling.simpsonsCheck(Relational.table(s, d, "lineitem"))),
    // exact P10/P50/P90 ribbon per hour via the value-domain collapse
    "q_hourly_value_bands" -> ((s, d) =>
      Analytics.hourlyValueBands(Analytics.events(s, d))),
    // exponential retention decay: ln-linear fit + half-life
    "q_retention_halflife" -> ((s, d) =>
      Analytics.retentionHalflife(Analytics.events(s, d))),
    // rank-biased overlap between the length and token-count rankings
    "q_rbo" -> ((s, d) =>
      TextAnalysis.rankBiasedOverlap(TextAnalysis.documents(s, d))),
    // A/B power analysis: users-per-arm per candidate MDE from the
    // observed revenue-per-user mean/variance, exact integer ceiling
    "q_ab_power" -> ((s, d) => Analytics.abPower(Analytics.events(s, d))),
    // Theil-Sen robust trend: median pairwise slope on the collapsed day
    // dimension, e6-quantized rational ranking
    "q_theilsen" -> ((s, d) => Analytics.theilSen(Analytics.events(s, d))),
    // Spark's native session_window operator vs a gaps-and-islands oracle
    "q_native_session_window" -> ((s, d) =>
      Analytics.nativeSessionWindow(Analytics.events(s, d))),
    // Mann-Whitney rank test between user-parity arms, integer 2x ranks
    // on the collapsed value histogram
    "q_mann_whitney" -> ((s, d) =>
      Analytics.mannWhitney(Analytics.events(s, d))),
    // Welch's unequal-variance t on the same arms — exact moments, one
    // double excursion for the statistic
    "q_welch_ttest" -> ((s, d) =>
      Analytics.welchTTest(Analytics.events(s, d))),
    // leak-free LOO target encoding with the naive-vs-LOO leakage gap
    "q_target_encoding" -> ((s, d) =>
      Analytics.targetEncoding(Analytics.events(s, d))),
    // per-funnel-step two-proportion z between arms
    "q_funnel_arm_test" -> ((s, d) =>
      Analytics.funnelArmTest(Analytics.events(s, d))),
    // k-fold eval-stability: across-fold spread of the metric a single
    // split would report
    "q_fold_stability" -> ((s, d) =>
      Analytics.foldStability(Analytics.events(s, d))),
    // uplift per engagement decile — the heterogeneity an ATE hides
    "q_uplift_deciles" -> ((s, d) =>
      Analytics.upliftDeciles(Analytics.events(s, d))),
    // hashing-trick sizing: collision share per 2^bits table over the
    // once-collapsed vocabulary
    "q_feature_hash" -> ((s, d) =>
      TextAnalysis.featureHashAudit(TextAnalysis.documents(s, d))),
    // nDCG@10 of the BM25 ranking against graded term-coverage relevance
    "q_ndcg" -> ((s, d) => TextAnalysis.ndcgEval(TextAnalysis.documents(s, d))),
    // top-p nucleus of each source's unigram distribution
    "q_nucleus_vocab" -> ((s, d) =>
      TextAnalysis.nucleusVocab(TextAnalysis.documents(s, d))),
    // chance-corrected agreement between the two shipped quality filters
    "q_cohen_kappa" -> ((s, d) =>
      TextAnalysis.cohenKappa(TextAnalysis.documents(s, d))),
    // three-rater nominal agreement (Krippendorff), exact integer alpha
    "q_krippendorff" -> ((s, d) =>
      TextAnalysis.krippendorffAlpha(TextAnalysis.documents(s, d))),
    // McNemar: is one quality filter systematically more permissive
    "q_mcnemar" -> ((s, d) =>
      TextAnalysis.mcnemar(TextAnalysis.documents(s, d))),
    // Bloom gate capacity table at the corpus's exact key count
    "q_bloom_sizing" -> ((s, d) =>
      Dedup.bloomSizing(TextAnalysis.documents(s, d))),
    // epsilon-neighbor spatial self-join: grid-cell equi-join + exact
    // integer circle residual — never an all-pairs distance join
    "q_spatial_join" -> ((s, d) =>
      Spatial.spatialNeighbors(Analytics.events(s, d))),
    // order-statistic (binomial-rank) 95% CI for the median order value
    "q_median_ci" -> ((s, d) =>
      Relational.medianCI(Relational.table(s, d, "orders"))),
    // top entry paths (first 3 steps) with per-path conversion rate
    "q_journey_prefixes" -> ((s, d) =>
      Analytics.journeyPrefixes(Analytics.events(s, d))),
    // portable order-free table checksum — cross-engine copy validation
    "q_table_checksum" -> ((s, d) =>
      Analytics.tableChecksum(Analytics.events(s, d))),
    // deterministic Poisson bootstrap SE of the mean order value — the
    // shardable resampling twin of q_jackknife
    "q_poisson_bootstrap" -> ((s, d) =>
      Relational.poissonBootstrapSE(Relational.table(s, d, "orders"))),
    // greedy k-center diverse subset over embeddings: k one-pass rounds,
    // newest center broadcast, argmax via 1-row TakeOrdered
    "q_kcenter_select" -> ((s, d) =>
      Similarity.kCenterSelect(Similarity.embeddings(s, d))),
    // 100 TB regime: greedy rounds on a bottom-k-hash sample, ONE exact
    // full-corpus pass for the per-center coverage report
    "q_kcenter_sampled" -> ((s, d) =>
      Similarity.kCenterSampled(Similarity.embeddings(s, d))),
    // row-group skip audit: arrival vs date layout × three predicates
    "q_rowgroup_prune" -> ((s, d) =>
      Layout.pruneEffectiveness(Analytics.events(s, d))),
    // D6 read side: one-day scan through the date-partitioned sink copy —
    // the event_date equality rides PartitionFilters (PlanShapeSpec pin)
    "q_partitioned_scan" -> ((s, d) =>
      Layout.partitionedScan(Analytics.events(s, d), d)),
    // dynamic partition pruning: day predicate on a broadcast date-dim,
    // dynamicpruningexpression in the fact scan (PlanShapeSpec pin)
    "q_partitioned_dim_scan" -> ((s, d) =>
      Layout.partitionedDimScan(Analytics.events(s, d), d)),
    // parquet encoding advisor: NDV/width stats + dictionary estimate
    "q_encoding_advisor" -> ((s, d) =>
      Layout.encodingAdvisor(Relational.table(s, d, "orders"))),
    // state-store sizing sweep: concurrent open sessions per gap config
    "q_state_sizing" -> ((s, d) =>
      Analytics.stateSizing(Analytics.events(s, d))),
    // leak-proof churn training snapshot: one split literal, one collapse
    "q_churn_labels" -> ((s, d) => Analytics.churnLabels(Analytics.events(s, d))),
    // Kaplan-Meier view→purchase conversion with right-censoring
    "q_survival_km" -> ((s, d) => Analytics.survivalCurve(Analytics.events(s, d))),
    // log-rank: are the two arms' conversion curves the same, with censoring
    "q_logrank" -> ((s, d) => Analytics.logRank(Analytics.events(s, d))),
    // Spearman rho on x2 mid-ranks: tie-aware engagement-vs-spend monotony
    "q_spearman" -> ((s, d) => Analytics.spearman(Analytics.events(s, d))),
    // Mann-Kendall: is there a monotone trend at all (Theil-Sen's test twin)
    "q_mann_kendall" -> ((s, d) => Analytics.mannKendall(Analytics.events(s, d))),
    "q_user_sessions" -> ((s, d) => Analytics.userSessions(Analytics.events(s, d))),
    // one summary row over the session table (exact integer means)
    "q_session_stats" -> ((s, d) => Analytics.sessionStats(Analytics.events(s, d))),
    "q_rolling_revenue" -> ((s, d) =>
      Relational.rollingRevenue(Relational.table(s, d, "orders"))),
    "q_user_value_ranks" -> ((s, d) => Analytics.userValueRanks(Analytics.events(s, d))),
    // NOT EXISTS through the parser (RewritePredicateSubquery → left-anti
    // join), completing the subquery surface next to the DSL anti-join
    // and the correlated-scalar shape below: big-spender customers with
    // no small orders
    "q_sql_no_small_orders" -> ((s, d) => {
      Relational.table(s, d, "customer").createOrReplaceTempView("cust_ne")
      Relational.table(s, d, "orders").createOrReplaceTempView("ord_ne")
      s.sql(
        """SELECT c.c_custkey, c.c_name
          |FROM cust_ne c
          |WHERE c.c_acctbal > 9000.0
          |  AND NOT EXISTS (SELECT 1 FROM ord_ne o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_totalprice < 50000.0)
          |ORDER BY c.c_custkey""".stripMargin)
    }),
    // correlated scalar subquery THROUGH THE PARSER: Catalyst's
    // decorrelation (RewriteCorrelatedScalarSubquery) turns the per-part
    // min into an aggregate + join — the §4.2 rule the DSL queries never
    // exercised
    "q_sql_min_cost_supplier" -> ((s, d) => {
      Relational.table(s, d, "lineitem").createOrReplaceTempView("li_sq")
      s.sql(
        """SELECT l_partkey, l_suppkey, l_extendedprice
          |FROM li_sq l1
          |WHERE l_partkey <= 200
          |  AND l_extendedprice = (SELECT min(l_extendedprice)
          |                         FROM li_sq l2
          |                         WHERE l2.l_partkey = l1.l_partkey)
          |ORDER BY l_partkey, l_suppkey""".stripMargin)
    }),
    // SQL-text GROUPING SETS through the parser (subtotals by type, by
    // hour, and the grand total in one aggregate)
    "q_sql_grouping_sets" -> ((s, d) => {
      Analytics.events(s, d).createOrReplaceTempView("events_gs")
      // subtotal rows carry NULL group labels; coalesce to sentinels so
      // the driver's pandas compare never sees a NULL-bearing int column
      // (nullable ints degrade to float64 and fail frame equality)
      s.sql(
        """SELECT coalesce(event_type, 'ALL') AS event_type,
          |       coalesce(hour(ts), -1) AS hour_of_day,
          |       CAST(grouping(event_type) AS INT) AS g_type,
          |       CAST(grouping(hour(ts)) AS INT) AS g_hour,
          |       count(*) AS n
          |FROM events_gs
          |GROUP BY GROUPING SETS ((event_type), (hour(ts)), ())
          |ORDER BY g_type, g_hour, event_type, hour_of_day""".stripMargin)
    }),
    "q_orders_of_segment" -> ((s, d) =>
      Relational.ordersOfSegment(
        Relational.table(s, d, "orders"), Relational.table(s, d, "customer"))),
    // hot-key mitigation: salted join is result-equal to the plain join
    "q_salted_join" -> ((s, d) =>
      Skew.saltedJoin(
          Relational.table(s, d, "lineitem"),
          Relational.table(s, d, "part").select(col("p_partkey"), col("p_brand")),
          "l_partkey" -> "p_partkey", salts = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("line_count"),
          sum(col("l_quantity")).cast("double").as("sum_qty"))
        .orderBy(col("p_brand"))),
    // Z-order layout profile: per-tile spans of BOTH key columns — the
    // data-skipping property a Morton-clustered file layout buys
    "q_zorder_layout" -> ((s, d) =>
      Layout.zorderLayout(Relational.table(s, d, "lineitem"))),
    // ---- text analysis (§7.4-2) ----
    "q_doc_stats" -> ((s, d) => TextAnalysis.docStats(TextAnalysis.documents(s, d))),
    "q_lang_stats" -> ((s, d) => TextAnalysis.langStats(TextAnalysis.documents(s, d))),
    "q_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(TextAnalysis.documents(s, d))),
    // word2vec negative-sampling table: count^0.75 flattened unigram draw
    "q_negative_sampling" -> ((s, d) =>
      TextAnalysis.negativeSamplingTable(TextAnalysis.documents(s, d))),
    "q_lang_id" -> ((s, d) => TextAnalysis.langId(TextAnalysis.documents(s, d))),
    "q_lang_id_ngram" -> ((s, d) => TextAnalysis.langIdCharNgram(TextAnalysis.documents(s, d))),
    "q_lang_confusion" -> ((s, d) => TextAnalysis.langConfusion(TextAnalysis.documents(s, d))),
    "q_text_quality" -> ((s, d) => TextAnalysis.qualityScore(TextAnalysis.documents(s, d))),
    "q_tfidf_top_terms" -> ((s, d) => TextAnalysis.tfidfTopTerms(TextAnalysis.documents(s, d))),
    "q_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(TextAnalysis.documents(s, d))),
    "q_rolling_fingerprint" -> ((s, d) =>
      TextAnalysis.rollingFingerprints(TextAnalysis.documents(s, d))),
    "q_repetition_signals" -> ((s, d) =>
      TextAnalysis.repetitionSignals(TextAnalysis.documents(s, d))),
    "q_doc_chunks" -> ((s, d) =>
      TextAnalysis.chunkDocuments(TextAnalysis.documents(s, d))),
    // Unicode hardening: planted multilingual text (CJK, U+3000, a
    // combining mark, accented Latin/Cyrillic/Greek) driven through the
    // SAME tokens/charTrigrams/bpeish operators as the ASCII corpus —
    // pins split/lower/length/substr codepoint semantics cross-engine
    // (see uniFrags for what is deliberately in and out of scope)
    "q_unicode_tokens" -> ((s, d) => {
      val planted = TextAnalysis.documents(s, d).select(col("doc_id"),
        concat_ws(" ",
          element_at(array(uniFrags.map(lit): _*),
            pmod(col("doc_id"), lit(4)).cast("int") + 1),
          lit(uniTail), col("doc_id").cast("string")).as("text"))
      val toks = TextAnalysis.tokens(col("text"))
      val tris = TextAnalysis.charTrigrams(col("text"))
      planted.select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
          size(tris).cast("long").as("n_trigrams"),
          md5(array_join(toks, "|")).as("tokens_md5"),
          md5(array_join(tris, "|")).as("trigrams_md5"))
        .orderBy(col("doc_id"))
    }),
    "q_pii_redact" -> ((s, d) => {
      // the corpus is digit-free word-soup, so the query PLANTS
      // deterministic PII per doc_id (the oracle plants the identical
      // strings) before running the redaction operator end to end
      val docs = TextAnalysis.documents(s, d)
      val planted = docs.select(col("doc_id"), concat(
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" contact a"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" call +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".7"))).otherwise(lit(""))).as("text"))
      TextAnalysis.redactPii(planted)
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),
    // natural 3-grams repeat across docs (31-word vocabulary), so no
    // planting is needed for the phrase-mining report
    "q_boilerplate_phrases" -> ((s, d) =>
      Corpus.boilerplatePhrases(TextAnalysis.documents(s, d))),
    "q_cross_source_dups" -> ((s, d) =>
      Corpus.crossSourceDupReport(TextAnalysis.documents(s, d), nearDupPairs(s, d))),
    // source×source n-gram containment: per-shingle source sets first,
    // row-local pair explode after — never an all-pairs shingle self-join
    "q_source_ngram_overlap" -> ((s, d) =>
      Corpus.sourceNgramOverlap(TextAnalysis.documents(s, d))),
    // 31-term synthetic vocabulary → top-20 cutoff leaves real OOV mass
    // and exercises the deterministic (count desc, term asc) tie-break
    "q_vocab_oov" -> ((s, d) =>
      TextAnalysis.vocabOovRate(TextAnalysis.documents(s, d), vocabSize = 20)),
    "q_source_mixture" -> ((s, d) =>
      Corpus.sourceMixture(TextAnalysis.documents(s, d))),
    // budget 2000 ≪ corpus tokens so the per-source gates actually cut;
    // shardWidth 64 ≪ doc count so the hierarchical prefix sum composes
    // across many shards while the oracle runs the sequential window —
    // the hash match proves the decomposition exact
    "q_mixture_budget" -> ((s, d) =>
      Corpus.applyMixtureBudget(TextAnalysis.documents(s, d),
        tokenBudget = 2000L, shardWidth = 64L)),
    // budget ~2x the corpus so sqrt-flattened small sources get targets
    // ABOVE their size — full epochs + a straddled partial epoch both
    // exercise; the repeat plan is exact integer arithmetic
    "q_mixture_epochs" -> ((s, d) =>
      Corpus.applyMixtureEpochs(TextAnalysis.documents(s, d),
        tokenBudget = 60000L, shardWidth = 64L)),
    // k=200 positions over the corpus token mass; shardWidth 64 forces
    // the hierarchical global prefix sum across many shards while the
    // oracle runs ONE sequential window — the hash match proves the
    // decomposition exact; Σ n_copies == k is pinned in CorpusSpec
    "q_systematic_sample" -> ((s, d) =>
      Corpus.systematicSample(TextAnalysis.documents(s, d),
        k = 200L, shardWidth = 64L)),
    // blocklist terms chosen to actually occur in the synthetic corpus
    // ("slow"/"dup") plus never-occurring ones (zero-hit path)
    "q_blocklist_stats" -> ((s, d) =>
      TextAnalysis.blocklistStats(TextAnalysis.documents(s, d))),
    // vocab 20 of 31 synthetic terms: the cutoff exercises the
    // deterministic (count desc, term asc) tie-break AND leaves real
    // out-of-vocab mass so per-source n_vocab_tokens < n_tokens
    "q_source_similarity" -> ((s, d) =>
      TextAnalysis.sourceSimilarity(TextAnalysis.documents(s, d), vocabSize = 20)),
    // sizes straddle the ~31-term synthetic vocabulary: 30 under-runs it
    // (n_terms_used = 30), 40 over-runs (n_terms_used = full vocab) —
    // both arms of the size-vs-vocab boundary in one result
    "q_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(TextAnalysis.documents(s, d),
        sizes = Seq(5, 10, 20, 30, 40))),
    "q_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(TextAnalysis.documents(s, d))),
    "q_logprob_buckets" -> ((s, d) =>
      TextAnalysis.logProbBuckets(TextAnalysis.documents(s, d))),
    "q_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogProb(TextAnalysis.documents(s, d))),
    // BPE merge induction: the vocabulary a tokenizer ships; exact
    // integer/string output, deterministic argmax per step
    "q_bpe_merges" -> ((s, d) =>
      Tokenizer.bpeMerges(TextAnalysis.documents(s, d), steps = 8)),
    // SymSpell deletion-blocked edit-distance-1 vocabulary pairs
    "q_typo_pairs" -> ((s, d) =>
      Tokenizer.typoPairs(TextAnalysis.documents(s, d))),
    // apply the induced merges: corpus subword histogram
    "q_bpe_encode" -> ((s, d) =>
      Tokenizer.bpeEncode(TextAnalysis.documents(s, d), steps = 8)),
    // per-source tokenizer fertility (subwords per word)
    "q_bpe_fertility" -> ((s, d) =>
      Tokenizer.bpeFertility(TextAnalysis.documents(s, d), steps = 8)),
    // DSIR hashed-unigram importance weights vs the first source as target
    "q_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(TextAnalysis.documents(s, d))),
    "q_line_dedup" -> ((s, d) => {
      // corpus texts are single-line and (nearly) unique, so the query
      // PLANTS boilerplate lines deterministically (the oracle plants
      // the identical strings): evens get a newsletter banner, multiples
      // of 3 a rights footer, and every doc a unique trailing ref line
      // that must SURVIVE the dedup
      val docs = TextAnalysis.documents(s, d)
      val planted = docs.select(col("doc_id"), concat(
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("\nsubscribe to the newsletter for updates")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("\nall rights reserved by the publisher")).otherwise(lit("")),
        concat(lit("\nref "), col("doc_id").cast("string"))).as("text"))
      Corpus.lineDedup(planted, minDf = 50L)
        .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
          md5(col("kept_text")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }),
    // budget 512 at this corpus (~60 tokens/doc, ~62 docs/shard) gives
    // ~7 bins per shard — bin boundaries and straddles actually exercise
    "q_token_packing" -> ((s, d) =>
      Corpus.packTokenBudget(TextAnalysis.documents(s, d),
        budget = 512L, nShards = 8)),
    // materialized bins: hash the emitted stream so the oracle checks
    // the actual token content, not just the offsets
    "q_pack_sequences" -> ((s, d) =>
      Corpus.packSequences(TextAnalysis.documents(s, d),
        budget = 512L, nShards = 8)
        .select(col("shard"), col("bin_id"), col("n_docs"), col("n_tokens"),
          col("doc_spans"), md5(concat_ws(" ", col("tokens"))).as("bin_md5"))
        .orderBy(col("shard"), col("bin_id"))),
    // epoch-shuffled packing: the deterministic pseudo-random re-deal;
    // the oracle replays the replicable PolyHash order in SQL
    "q_pack_shuffled" -> ((s, d) =>
      Corpus.packSequencesShuffled(TextAnalysis.documents(s, d),
        budget = 512L, nShards = 8, epoch = 3L)
        .select(col("shard"), col("bin_id"), col("n_docs"), col("n_tokens"),
          col("doc_spans"), md5(concat_ws(" ", col("tokens"))).as("bin_md5"))
        .orderBy(col("shard"), col("bin_id"))),
    // ---- end-to-end corpus curation (capstone: §7.4 composed) ----
    "q_corpus_curation" -> ((s, d) => Corpus.curate(TextAnalysis.documents(s, d))),
    // per-source over-representation cap: top-10 by quality per source
    // (WindowGroupLimit keeps the shuffle at sources × k — see CorpusSpec)
    "q_domain_cap" -> ((s, d) => Corpus.domainCap(TextAnalysis.documents(s, d))),
    "q_corpus_curation_neardup" -> ((s, d) =>
      Corpus.curateNearDup(TextAnalysis.documents(s, d),
        pairs = Some(nearDupPairs(s, d)))),
    "q_curation_funnel" -> ((s, d) =>
      Corpus.curationFunnel(TextAnalysis.documents(s, d))),
    // content-addressed split: identical text → identical split, any run
    "q_corpus_split" -> ((s, d) =>
      Corpus.splitByContent(TextAnalysis.documents(s, d))),
    // release report: volumes, dup load, shares — all exact integers
    "q_datacard" -> ((s, d) => Corpus.dataCard(TextAnalysis.documents(s, d))),
    // near-dup pairs straddling splits (shares the materialized pair set)
    "q_split_leakage" -> ((s, d) => Corpus.splitLeakage(
      Corpus.splitByContent(TextAnalysis.documents(s, d)), nearDupPairs(s, d))),
    // content-keyed exact-k eval sample per source (unbiased domainCap twin)
    "q_sample_k" -> ((s, d) =>
      Corpus.sampleKPerGroup(TextAnalysis.documents(s, d), "source", 5)),
    // sequential-Poisson token-weighted bottom-k (integer priorities)
    "q_weighted_sample" -> ((s, d) =>
      Corpus.weightedSample(TextAnalysis.documents(s, d), k = 100)),
    // Neyman-shaped budget split with exact largest-remainder rounding
    "q_sample_allocation" -> ((s, d) =>
      Corpus.sampleAllocation(TextAnalysis.documents(s, d))),
    // near-dup cutoff sweep over the materialized exact pair set
    "q_dedup_threshold_sweep" -> ((s, d) =>
      Dedup.dedupThresholdSweep(TextAnalysis.documents(s, d))),
    // LSH banding tuner: S-curve scored against the corpus's own
    // similarity histogram, collapsed to the 4-dp Jaccard dimension
    "q_lsh_tuning" -> ((s, d) =>
      Dedup.lshTuningSweep(TextAnalysis.documents(s, d))),
    // length curriculum: 4 quantile phases from the token-count histogram
    "q_curriculum" -> ((s, d) => {
      val docs = TextAnalysis.documents(s, d)
      Corpus.curriculumPhases(docs, size(TextAnalysis.tokens(col("text"))))
    }),
    "q_stratified_sample" -> ((s, d) => {
      val docs = TextAnalysis.documents(s, d)
      val kept = Corpus.stratifiedSample(docs,
          Map("en" -> 5000L, "es" -> 2500L, "zh" -> 1000L))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_input"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_input"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .withColumn("kept_rate_e4", expr("(n_kept * 10000) div n_input"))
        .orderBy(col("lang"))
    }),
    "q_contamination" -> ((s, d) => {
      // the corpus shares no natural 8-grams across docs, so the query
      // PLANTS contamination deterministically (the oracle plants the
      // identical spans): every block of 50 doc_ids treats its leader
      // (doc_id % 50 == 0) as the benchmark doc, and docs with
      // doc_id % 10 == 3 get the leader's first 16 tokens appended —
      // 9 shared 8-gram shingles per planted doc
      val docs = TextAnalysis.documents(s, d)
      val toks = TextAnalysis.tokens(col("text"))
      val leaders = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("bench_id"),
          array_join(slice(toks, 1, 16), " ").as("snippet"))
      val planted = docs
        .withColumn("bench_id", expr("(doc_id div 50) * 50"))
        .join(leaders, "bench_id")
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10)) === 3,
            concat(col("text"), lit(" "), col("snippet")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("text"))
      Corpus.contaminationCheck(planted,
        pmod(col("doc_id"), lit(50)) === 0, n = 8, minOverlapE4 = 500)
    }),
    // ---- dedup (§7.4-1) ----
    "q_exact_dedup" -> ((s, d) => Dedup.exactDedup(TextAnalysis.documents(s, d))),
    // ingest-time incremental dedup against the full corpus; the batch is
    // planted (see incrementalBatch) so all three status arms fire: the
    // corpus itself has no exact duplicates, only Jaccard-level near-dups
    "q_incremental_dedup" -> ((s, d) => {
      val docs = TextAnalysis.documents(s, d)
      Dedup.incrementalDedup(docs, incrementalBatch(docs))
    }),
    // the Bloom-pre-filtered ingest shape: bloom-negative batch rows never
    // reach the corpus join; false positives die in the inner index join,
    // so the result (and oracle SQL) is exactly q_incremental_dedup's
    "q_bloom_dedup" -> ((s, d) => {
      val docs = TextAnalysis.documents(s, d)
      val idx = docs
        .select(Dedup.contentFingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_keeper"))
      Dedup.bloomIncrementalDedup(idx, incrementalBatch(docs), expectedItems = 4096L)
    }),
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(TextAnalysis.documents(s, d), 0.05)),
    // exact Jaccard self-join through PPJoin-style prefix filtering —
    // the deterministic scale path (zero false negatives, candidates
    // only on rare prefix tokens)
    "q_setsim_prefix" -> ((s, d) => Dedup.setSimJoinPrefix(TextAnalysis.documents(s, d), 0.7)),
    // BM25 topical-document mining; e4-integer scores (order-independent)
    "q_bm25_search" -> ((s, d) =>
      TextAnalysis.bm25Search(TextAnalysis.documents(s, d), Seq("spark", "join", "window"))),
    // threshold 0.5, 32×2 banding: recall is 1-ε (ε ≈ 7e-15 at the
    // corpus's J≥0.8 near-dup pairs), so the exact-Jaccard oracle applies;
    // the pair set is the shared nearDupPairs materialization
    "q_minhash_lsh" -> ((s, d) => nearDupPairs(s, d)),
    // ingest-time near-dup: planted batch (doc_id % 5 == 0, one appended
    // token → J = (n-1)/n vs the original) against the full corpus at
    // q_minhash_lsh's 0.5 / 32-band operating point (recall 1-ε: every
    // true cross pair sits at J ≥ ~0.72 where P(miss) < 1e-10)
    "q_incremental_lsh" -> ((s, d) => {
      val docs = TextAnalysis.documents(s, d)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" batchdup")).as("text"))
      Dedup.incrementalMinHashLsh(docs, batch, threshold = 0.5, bands = 32)
    }),
    // the EXACT incremental twin of q_incremental_lsh: same batch, same
    // threshold, recall 1 by the prefix theorem instead of banding
    "q_incremental_setsim" -> ((s, d) => {
      val docs = TextAnalysis.documents(s, d)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" batchdup")).as("text"))
      Dedup.incrementalSetSimPrefix(docs, batch, threshold = 0.5)
    }),
    "q_simhash_pairs" -> ((s, d) => Dedup.simHashPairs(TextAnalysis.documents(s, d))),
    // exact-substring detection at word granularity: maximal spans whose
    // 8-gram windows recur in ≥2 docs (replicable PolyHash → full oracle)
    "q_repeated_spans" -> ((s, d) => Dedup.repeatedSpans(TextAnalysis.documents(s, d))),
    // the cut half: drop all-but-first occurrences, rebuild normalized text
    "q_span_cut" -> ((s, d) => Dedup.cutRepeatedSpans(TextAnalysis.documents(s, d))),
    // connected components over the (recall 1-ε, exact-verified) pair set
    "q_neardup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(TextAnalysis.documents(s, d), nearDupPairs(s, d))),
    "q_embedding_neardup" -> ((s, d) => Dedup.embeddingNearDup(Similarity.embeddings(s, d))),
    // planted identical twins at threshold 0.9 → banding recall exactly 1
    // → full value oracle (see neardupPlanted)
    "q_embedding_neardup_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupLsh(neardupPlanted(Similarity.embeddings(s, d)),
        threshold = 0.9)),
    // SemDeDup: IVF-cell-local pairs + exact-cosine verify + CC keepers;
    // half-scaled twins pair at cos≈1 but would evade exact-hash dedup
    // (see semanticPlanted for the recall-exactly-1 argument)
    "q_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(semanticPlanted(Similarity.embeddings(s, d)),
        threshold = 0.9)),
    // schema introspection (reference README.md:257-263 twin): paired
    // against DuckDB's OWN information_schema.columns over a 19-col twin
    // table, under a VARCHAR→STRING / INTEGER→INT type-name mapping
    "q_schema_introspection" -> ((s, d) => {
      // external table is metadata-only here (path need not exist) —
      // the introspection reads the DECLARED 19-column sink schema,
      // exactly what the reference's troubleshooting query checks
      Catalog.ensureEventsTable(s, "graft_introspect", "events",
        s"${System.getProperty("java.io.tmpdir")}/graft_introspect_sink")
      Catalog.describeColumns(s, "graft_introspect", "events")
        .orderBy(col("column_name"))
    }),
    // ---- producer plane / sinks (S4, W6, K2; §2.11 X12–X14) ----
    "q_generator" -> ((s, d) => Generator.syntheticEvents(s, 10000L)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")),
    // the q_event_pipeline path: range-partitioned scan, wire JSON, one
    // parse, each partition sorted on the range key
    "q_publish_roundtrip" -> ((s, d) =>
      EventPipeline.parse(eventWire(Par.widenByRange(Analytics.events(s, d),
          col("event_id"), s"$d/events.parquet")))
        .select(col("id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"), col("value"))
        .sortWithinPartitions("event_id")),
    // ---- session windows (W4 stretch) ----
    "q_session_windows" -> ((s, d) => Analytics.sessionCounts(Analytics.events(s, d))),
    // ---- multimodal plumbing (§7.4-4; decode is a documented stub) ----
    "q_media_profile" -> ((s, d) =>
      Multimodal.mediaProfile(Multimodal.syntheticAssets(s, 1000L).toDF())),
    "q_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.syntheticAssets(s, 1000L)).toDF()
        .select(col("asset_id"), col("media_type"), col("n_bytes"), col("frames_sampled"))
        .orderBy("asset_id")),
    "q_media_resize" -> ((s, d) =>
      Multimodal.resizeAssets(Multimodal.syntheticAssets(s, 1000L)).toDF()
        .select(col("asset_id"), col("media_type"), col("width"),
          col("height"), col("n_bytes_out"))
        .orderBy("asset_id")),
    // perceptual near-dup on planted byte-identical twins (id % 7): the
    // stub decode is content-avalanched, so the ≤3-bit pair set is
    // exactly the twins at hamming 0 — an exact oracle
    "q_media_neardup" -> ((s, d) => {
      import s.implicits._
      val base = Multimodal.syntheticAssets(s, 1000L)
      val twins = base.filter(_.asset_id % 7 == 0)
        .map(a => a.copy(asset_id = a.asset_id + 10000L))
      Multimodal.mediaNearDup(
        Multimodal.extractFeatures(base.union(twins), dim = 64).toDF()
          .select(col("asset_id"), col("embedding")))
    }),
    // ---- similarity search (§7.4-3) ----
    "q_ann_brute" -> ((s, d) => {
      val e = Similarity.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10))
    }),
    // filtered vector search: exact top-k restricted to one label's rows
    // (~1/10 of the corpus) — the predicate reaches the corpus scan
    "q_ann_filtered" -> ((s, d) => {
      val e = Similarity.embeddings(s, d)
      Similarity.bruteForceTopKFiltered(
        e, e.filter(col("vec_id") < 10), col("label") === 3)
    }),
    // hybrid retrieval: BM25 ∪ cosine candidates fused by e9-integer RRF
    "q_hybrid_search" -> ((s, d) =>
      Similarity.hybridSearch(
        TextAnalysis.documents(s, d), Similarity.embeddings(s, d),
        queryTerms = Seq("spark", "join", "window"))),
    // hard negatives: top-k most-similar vectors of a DIFFERENT label
    // per query — the contrastive-training mining shape; the label
    // exclusion rides the broadcast-join predicate, so k is guaranteed
    "q_hard_negatives" -> ((s, d) => {
      val e = Similarity.embeddings(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10))
    }),
    // planted twin clusters make the true top-10 per query its 10
    // lowest-id twins, reachable at recall exactly 1 by both approximate
    // paths → full value oracle (see annPlanted)
    "q_ann_lsh" -> ((s, d) => {
      val planted = annPlanted(Similarity.embeddings(s, d))
      Similarity.lshTopK(planted, planted.filter(col("vec_id") < 10))
    }),
    "q_ann_ivf" -> ((s, d) => {
      val planted = annPlanted(Similarity.embeddings(s, d))
      Similarity.ivfTopK(planted, planted.filter(col("vec_id") < 10))
    }),
    // IVF-PQ: twin codes equal the query's own encoding, so every twin
    // tops the ADC shortlist and the exact re-rank reproduces brute
    // force — same planted oracle as the LSH/IVF rows
    "q_ann_ivfpq" -> ((s, d) => {
      val planted = annPlanted(Similarity.embeddings(s, d))
      Similarity.ivfPqTopK(planted, planted.filter(col("vec_id") < 10))
    }),
    "q_centroid_norms" -> ((s, d) => Similarity.labelCentroidNorms(Similarity.embeddings(s, d))),
    // cluster-balanced draw: cosine cells from deterministic seed
    // centroids, exact per-cell content-addressed sample
    "q_cluster_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(Similarity.embeddings(s, d))),
    "q_quantize_embeddings" -> ((s, d) =>
      Similarity.quantizeEmbeddings(Similarity.embeddings(s, d))),
    // k-NN weak labeling: every 25th vector is the "unlabeled" batch,
    // majority label of its 5 nearest labeled neighbors wins
    "q_knn_classify" -> ((s, d) => {
      val e = Similarity.embeddings(s, d)
      Similarity.knnClassify(
        e.filter(col("vec_id") % 25 =!= 0), e.filter(col("vec_id") % 25 === 0))
    }),
    // embedding-health report: per-dimension mean/variance + variance share
    "q_pca_variance" -> ((s, d) => Similarity.pcaVariance(Similarity.embeddings(s, d))),
    // Gram-matrix covariance pass (one typed-Aggregator aggregate);
    // oracle checks the 8×8 leading block entry-for-entry
    "q_embedding_cov" -> ((s, d) =>
      Similarity.covarianceMatrix(Similarity.embeddings(s, d))
        .filter(col("dim_i") < 8 && col("dim_j") < 8)),
    // per-source trigram diversity + type/token ratio (template detector)
    "q_ngram_diversity" -> ((s, d) => TextAnalysis.ngramDiversity(TextAnalysis.documents(s, d))),
    // Zipf-law least-squares fit over each source's top-100 terms
    "q_zipf_slope" -> ((s, d) => TextAnalysis.zipfSlope(TextAnalysis.documents(s, d))),
    // per-source token Shannon entropy (normalized by ln vocab)
    "q_token_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(TextAnalysis.documents(s, d))),
    // frozen-weights logistic quality model (model-as-literal scoring)
    "q_quality_classifier" -> ((s, d) =>
      TextAnalysis.logisticQuality(TextAnalysis.documents(s, d))),
    // top-50 adjacent-pair collocations by e4-quantized PMI
    "q_pmi_collocations" -> ((s, d) =>
      TextAnalysis.pmiCollocations(TextAnalysis.documents(s, d))),
    // per-label simplified silhouette (label coherence report)
    "q_label_silhouette" -> ((s, d) =>
      Similarity.labelSilhouette(Similarity.embeddings(s, d)))
  )

  /** DuckDB twins. NOTHING is omitted — every query pairs (round 11:
    * even the HLL row pairs via the envelope-verdict shape, each engine
    * asserting its own sketch against the shared exact counts;
    * q_schema_introspection pairs against DuckDB's own
    * information_schema.columns since round 10). Every approximate path
    * now carries a value oracle at a
    * recall-safe operating point: q_minhash_lsh pairs with the
    * exact-Jaccard oracle (recall 1-ε at its 0.5/32×2 operating point);
    * q_simhash_pairs recomputes the full replicable-hash signature in
    * SQL; q_ann_lsh / q_ann_ivf / q_embedding_neardup_lsh run over
    * planted identical-twin corpora where banding/probing recall is
    * exactly 1 (see [[annPlanted]] / [[neardupPlanted]]) and pair with
    * the brute-force oracle.
    */
  /** Shared by q_ann_lsh and q_ann_ivf: the exact brute-force top-10 over
    * the [[annPlanted]] corpus — both approximate paths provably return
    * it (recall exactly 1 at the planted operating point).
    */
  private val annPlantedOracleSql: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings),
      |c AS (SELECT vec_id, embedding FROM base
      |      UNION ALL
      |      SELECT 1000000 + b.vec_id * 100 + j AS vec_id, b.embedding
      |      FROM base b CROSS JOIN generate_series(0, 11) AS t(j)
      |      WHERE b.vec_id < 10),
      |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM base WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |    list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)))
      |    / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS cos
      |  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id)
      |SELECT query_id, rnk, neighbor_id FROM (
      |  SELECT query_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk,
      |    vec_id AS neighbor_id
      |  FROM scored) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** Unrolled Morton bit-interleave as DuckDB SQL — the oracle twin of
    * [[graft.ops.Layout.zValue2]]: integer bit algebra is engine-exact,
    * so the z-layout query pairs with a full value oracle.
    */
  private def zSqlExpr(a: String, b: String, bits: Int): String = {
    val mask = (1L << bits) - 1L
    val am = s"($a & $mask)"
    val bm = s"($b & $mask)"
    (0 until bits).flatMap(i => Seq(
      s"((($am >> $i) & 1) << ${2 * i})",
      s"((($bm >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
  }

  /** The reliability-curve SQL, shared verbatim by q_calibration_curve
    * and the q_ece wrapper so the two can never drift apart.
    */
  private val calibrationCurveOracle: String =
    """WITH f AS (
      |  SELECT (lang = 'en')::BIGINT AS y,
      |    1.0 AS x0,
      |    ln(1.0 + len(toks)::DOUBLE) AS x1,
      |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS x2,
      |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE
      |      / len(toks)::DOUBLE AS x3,
      |    length(text)::DOUBLE / len(toks)::DOUBLE AS x4
      |  FROM (SELECT lang, text,
      |          regexp_split_to_array(lower(text), '\s+') AS toks
      |        FROM documents)),
      |s AS (
      |  SELECT y,
      |    round((1.0 / (1.0 + exp(-((x0 * -3.0) + (x1 * 0.6) + (x2 * 2.0)
      |      + (x3 * 3.0) + (x4 * 0.1))))) * 10000, 0)::BIGINT AS score_e4
      |  FROM f)
      |SELECT least(7, score_e4 // 1250)::BIGINT AS bin,
      |  count(*)::BIGINT AS n,
      |  (sum(score_e4) // count(*))::BIGINT AS mean_score_e4,
      |  (sum(y) * 10000 // count(*))::BIGINT AS frac_pos_e4
      |FROM s GROUP BY 1 ORDER BY bin""".stripMargin

  /** The q_chi_square contingency SQL — shared with q_cramers_v so the
    * two cannot drift on what the contingency table is.
    */
  private val chiSquareOracle: String =
    """WITH cells AS (
      |  SELECT event_type, (dayofweek(ts) + 1)::BIGINT AS dow,
      |    count(*)::BIGINT AS o
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, dow, o,
      |    sum(o) OVER (PARTITION BY event_type) AS rt,
      |    sum(o) OVER (PARTITION BY dow) AS ct,
      |    sum(o) OVER () AS n
      |  FROM cells)
      |SELECT event_type, dow, o AS observed,
      |  ((rt::HUGEINT * ct * 10000) // n)::BIGINT AS expected_e4,
      |  (((o::HUGEINT * n - rt::HUGEINT * ct)
      |    * (o::HUGEINT * n - rt::HUGEINT * ct) * 1000000)
      |   // (n::HUGEINT * rt * ct))::BIGINT AS contrib_e6
      |FROM m ORDER BY event_type, dow""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // catalog introspection: DuckDB builds the 19-col sink twin and reads
    // its own information_schema.columns; the CASE maps DuckDB type names
    // onto Spark's dataType.sql convention (VARCHAR→STRING, INTEGER→INT).
    // All columns nullable: Spark's catalog RELAXES nullability when
    // registering an external parquet table (a parquet file can always
    // hold nulls), so YES-everywhere is the declared schema being
    // introspected, and the twin mirrors it
    "q_schema_introspection" ->
      """CREATE OR REPLACE TEMP TABLE graft_sink_twin(
        |  id VARCHAR, "timestamp" TIMESTAMP,
        |  message VARCHAR, user_id VARCHAR, event_type VARCHAR,
        |  value DOUBLE, processed_at TIMESTAMP,
        |  source VARCHAR, ip_address VARCHAR, user_agent VARCHAR,
        |  page VARCHAR, referrer VARCHAR, product_id VARCHAR,
        |  currency VARCHAR, device_id VARCHAR, location VARCHAR,
        |  message_length INTEGER, event_hour INTEGER,
        |  data_quality_score INTEGER);
        |SELECT column_name,
        |  CASE data_type WHEN 'VARCHAR' THEN 'STRING'
        |                 WHEN 'INTEGER' THEN 'INT'
        |                 ELSE data_type END AS data_type,
        |  is_nullable
        |FROM information_schema.columns
        |WHERE table_name = 'graft_sink_twin'
        |ORDER BY column_name""".stripMargin,
    "q_event_pipeline" ->
      """SELECT event_id AS id,
        |  EXTRACT(hour FROM ts)::INTEGER AS event_hour,
        |  length(props)::INTEGER AS message_length,
        |  (CASE WHEN user_id IS NOT NULL AND CAST(user_id AS VARCHAR) <> '' AND CAST(user_id AS VARCHAR) <> 'unknown' THEN 25 ELSE 0 END
        |   + CASE WHEN props IS NOT NULL AND props <> '' THEN 25 ELSE 0 END
        |   + CASE WHEN value > 0 THEN 25 ELSE 0 END
        |   + 25)::INTEGER AS data_quality_score
        |FROM events
        |WHERE (CASE WHEN user_id IS NOT NULL AND CAST(user_id AS VARCHAR) <> '' AND CAST(user_id AS VARCHAR) <> 'unknown' THEN 25 ELSE 0 END
        |   + CASE WHEN props IS NOT NULL AND props <> '' THEN 25 ELSE 0 END
        |   + CASE WHEN value > 0 THEN 25 ELSE 0 END
        |   + 25) >= 50
        |ORDER BY id""".stripMargin,
    "q_generator" ->
      """SELECT i AS event_id, 1704067200000000 + i * 1000000 AS ts_us,
        |  (i * 2654435761) % 100 + 1 AS user_id,
        |  (['login','logout','purchase','page_view','search'])[(i % 5 + 1)::INT] AS event_type,
        |  ((i * 48271) % 49000 + 1) / 100.0 AS value
        |FROM generate_series(0, 9999) AS t(i) ORDER BY event_id""".stripMargin,
    "q_publish_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    "q_session_windows" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS tu,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 300000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events),
        |y AS (SELECT user_id, tu,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x)
        |SELECT user_id, min(tu) AS session_start_us, count(*) AS n_events
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin,
    "q_media_profile" ->
      """SELECT CASE WHEN i % 3 = 0 THEN 'image' WHEN i % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  count(*) AS n_assets,
        |  round(avg((64 + (i * 37) % 64) * (64 + (i * 53) % 64)), 4) AS avg_pixels,
        |  sum(CASE WHEN i % 3 = 0 THEN 0 ELSE 1000 + (i * 97) % 9000 END)::BIGINT AS total_duration_ms
        |FROM generate_series(0, 999) AS t(i) GROUP BY 1 ORDER BY media_type""".stripMargin,
    "q_media_shards" ->
      """WITH a AS (
        |  SELECT i AS asset_id, (64 + (i * 31) % 192)::BIGINT AS n_bytes
        |  FROM generate_series(0, 999) AS t(i)),
        |c AS (
        |  SELECT asset_id, n_bytes,
        |    coalesce(sum(n_bytes) OVER (ORDER BY asset_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM a)
        |SELECT (cum_before // 4096)::BIGINT AS shard_id,
        |  count(*)::BIGINT AS n_assets, sum(n_bytes)::BIGINT AS shard_bytes,
        |  min(asset_id)::BIGINT AS first_asset,
        |  max(asset_id)::BIGINT AS last_asset,
        |  (sum(n_bytes) * 10000 // 4096)::BIGINT AS fill_e4
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "q_media_features" ->
      """SELECT i AS asset_id,
        |  CASE WHEN i % 3 = 0 THEN 'image' WHEN i % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  (64 + (i * 31) % 192)::BIGINT AS n_bytes,
        |  (CASE WHEN i % 3 = 0 THEN 1
        |        ELSE least(16, greatest(1, (1000 + (i * 97) % 9000) // 1000)) END)::INT AS frames_sampled
        |FROM generate_series(0, 999) AS t(i) ORDER BY asset_id""".stripMargin,
    "q_media_resize" ->
      """WITH a AS (
        |  SELECT i,
        |    CASE WHEN i % 3 = 0 THEN 'image' WHEN i % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    (64 + (i * 37) % 64)::INT AS w, (64 + (i * 53) % 64)::INT AS h,
        |    (64 + (i * 31) % 192)::BIGINT AS n_in
        |  FROM generate_series(0, 999) AS t(i)),
        |s AS (SELECT *, least(1000, least(96000 // w, 96000 // h)) AS scale FROM a)
        |SELECT i AS asset_id, media_type,
        |  CASE WHEN media_type = 'audio' THEN w ELSE ((w * scale) // 1000)::INT END AS width,
        |  CASE WHEN media_type = 'audio' THEN h ELSE ((h * scale) // 1000)::INT END AS height,
        |  CASE WHEN media_type = 'audio' THEN n_in
        |       ELSE greatest(16, (((w * scale) // 1000) * ((h * scale) // 1000)) // 64) END::BIGINT AS n_bytes_out
        |FROM s ORDER BY asset_id""".stripMargin,
    "q_media_neardup" ->
      """SELECT i::BIGINT AS asset_a, (i + 10000)::BIGINT AS asset_b, 0::BIGINT AS hamming
        |FROM generate_series(0, 999) AS t(i) WHERE i % 7 = 0 ORDER BY asset_a""".stripMargin,
    "q_event_summary" ->
      """SELECT event_type, count(*) AS event_count,
        |  round(sum(CAST(value AS DECIMAL(12,2)))::DOUBLE / count(*), 4) AS avg_value,
        |  epoch_us(max(ts)) AS latest_event_us
        |FROM events WHERE ts >= TIMESTAMP '2024-01-30 00:00:00'
        |GROUP BY event_type ORDER BY event_count DESC, event_type""".stripMargin,
    "q_quality_histogram" ->
      """SELECT (CASE WHEN user_id IS NOT NULL AND CAST(user_id AS VARCHAR) <> '' AND CAST(user_id AS VARCHAR) <> 'unknown' THEN 25 ELSE 0 END
        |      + CASE WHEN props IS NOT NULL AND props <> '' THEN 25 ELSE 0 END
        |      + CASE WHEN value > 0 THEN 25 ELSE 0 END
        |      + CASE WHEN ts IS NOT NULL THEN 25 ELSE 0 END)::BIGINT AS data_quality_score,
        |  count(*) AS record_count,
        |  round(avg(length(props)), 4) AS avg_message_length
        |FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY 1 ORDER BY data_quality_score DESC""".stripMargin,
    "q_verification_count" ->
      """SELECT count(*) AS row_count FROM events
        |WHERE event_type = 'view' AND ts >= TIMESTAMP '2024-01-30 00:00:00'""".stripMargin,
    "q_health_check" ->
      """SELECT count(*) AS total_events,
        |  count(DISTINCT user_id) AS unique_users,
        |  count(DISTINCT event_type) AS unique_event_types,
        |  epoch_us(max(ts)) AS latest_event_us
        |FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'""".stripMargin,
    // sketch audit: DuckDB asserts ITS approx_count_distinct against its
    // exact counts; Spark asserted HLL++ against the same exact counts —
    // the shared (exact, boolean) columns compare digit-exact
    "q_health_check_approx" ->
      """WITH s AS (
        |  SELECT count(*)::BIGINT AS total_events,
        |    count(DISTINCT user_id)::BIGINT AS unique_users_exact,
        |    count(DISTINCT event_type)::BIGINT AS unique_event_types_exact,
        |    approx_count_distinct(user_id)::BIGINT AS users_est,
        |    approx_count_distinct(event_type)::BIGINT AS types_est,
        |    epoch_us(max(ts))::BIGINT AS latest_event_us
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
        |SELECT total_events, unique_users_exact, unique_event_types_exact,
        |  latest_event_us,
        |  abs(users_est - unique_users_exact) * 100
        |    <= 5 * unique_users_exact AS users_within_env,
        |  abs(types_est - unique_event_types_exact) * 100
        |    <= 5 * unique_event_types_exact AS types_within_env
        |FROM s""".stripMargin,
    "q_type_counts" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin,
    "q_hourly_counts" ->
      """SELECT EXTRACT(hour FROM ts)::BIGINT AS hour_of_day, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY hour_of_day""".stripMargin,
    "q_hourly_anomalies" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, hour, c,
        |    count(c) OVER tw AS n,
        |    sum(c::HUGEINT) OVER tw AS s1,
        |    sum(c::HUGEINT * c) OVER tw AS s2
        |  FROM h
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, epoch_us(hour) AS hour_us, c, n::BIGINT AS n,
        |  round(
        |    ((c * n - s1)::DOUBLE / n::DOUBLE)
        |      / sqrt((n * s2 - s1 * s1)::DOUBLE / (n * n)::DOUBLE)
        |    * 10000, 0)::BIGINT AS z_e4,
        |  abs(round(
        |    ((c * n - s1)::DOUBLE / n::DOUBLE)
        |      / sqrt((n * s2 - s1 * s1)::DOUBLE / (n * n)::DOUBLE)
        |    * 10000, 0)::BIGINT) >= 30000 AS is_anomaly
        |FROM w WHERE n >= 12 AND n * s2 - s1 * s1 > 0
        |ORDER BY event_type, hour_us""".stripMargin,
    "q_dashboard_metrics" ->
      """SELECT count(*) AS total_events,
        |  sum(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS recent_events,
        |  round(sum(CAST(value AS DECIMAL(12,2)))::DOUBLE / count(*), 4) AS avg_value
        |FROM events""".stripMargin,
    "q_recent_events" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events ORDER BY ts_us DESC, event_id LIMIT 100""".stripMargin,
    "q_props_extract" ->
      """SELECT event_id, CAST(props->>'k' AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_tumbling_counts" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
        |  count(*) AS n, sum(CAST(value AS DECIMAL(12,2)))::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin,
    "q_sliding_counts" ->
      """SELECT window_start_us, count(*) AS n FROM (
        |  SELECT (epoch_us(ts) // 1800000000) * 1800000000 AS window_start_us FROM events
        |  UNION ALL
        |  SELECT (epoch_us(ts) // 1800000000) * 1800000000 - 1800000000 FROM events
        |) GROUP BY 1 ORDER BY window_start_us""".stripMargin,
    "q_gap_fill" ->
      """WITH agg AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*) AS n,
        |    sum(CAST(value AS DECIMAL(12,2)))::DOUBLE AS sv
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type, unnest(range(lo, hi + 1, 3600000000)) AS hour_us
        |  FROM (SELECT event_type, min(hour_us) AS lo, max(hour_us) AS hi
        |        FROM agg GROUP BY 1))
        |SELECT s.event_type, s.hour_us,
        |  coalesce(a.n, 0) AS n,
        |  last_value(a.sv IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.hour_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM spine s LEFT JOIN agg a USING (event_type, hour_us)
        |ORDER BY event_type, hour_us""".stripMargin,
    "q_set_ops" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin,
    "q_multiset_ops" ->
      """SELECT 'except_all' AS op, event_type, count(*) AS n FROM (
        |  SELECT event_type FROM events WHERE user_id < 75
        |  EXCEPT ALL
        |  SELECT event_type FROM events WHERE user_id >= 75)
        |GROUP BY 2
        |UNION ALL
        |SELECT 'intersect_all' AS op, event_type, count(*) AS n FROM (
        |  SELECT event_type FROM events WHERE user_id < 75
        |  INTERSECT ALL
        |  SELECT event_type FROM events WHERE user_id >= 75)
        |GROUP BY 2
        |ORDER BY op, event_type""".stripMargin,
    "q_value_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round(stddev_samp(value), 4) AS stddev_value,
        |  round(median(value), 4) AS median_value,
        |  round(min(value), 4) AS min_value,
        |  round(max(value), 4) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_value_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_hourly_type_pivot" ->
      """SELECT EXTRACT(hour FROM ts)::BIGINT AS hour_of_day,
        |  sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END)::DOUBLE AS click,
        |  sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END)::DOUBLE AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END)::DOUBLE AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(12,2)) END)::DOUBLE AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END)::DOUBLE AS view
        |FROM events GROUP BY 1 ORDER BY hour_of_day""".stripMargin,
    "q_user_event_sets" ->
      """SELECT user_id, array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_pagerank" -> Graph.pageRankOracleSql(iters = 10),
    "q_textrank" -> Graph.textRankOracleSql(),
    "q_label_propagation" -> Graph.labelPropagationOracleSql(),
    "q_snapshot_diff" -> Relational.snapshotDiffOracleSql,
    "q_item_recs" -> Relational.relatedItemsOracleSql(),
    "q_revenue_bridge" -> Relational.revenueBridgeOracleSql(),
    "q_policy_eval" -> Analytics.policyEvalOracleSql,
    "q_forecast_backtest" -> Relational.forecastBacktestOracleSql(),
    "q_ldiversity" -> Privacy.lDiversityOracleSql(),
    "q_ewma_trend" -> Relational.ewmaTrendOracleSql(),
    "q_matched_att" -> Analytics.matchedAttOracleSql(),
    "q_tcloseness" -> Privacy.tClosenessOracleSql(),
    "q_conformal" -> Analytics.conformalIntervalOracleSql(),
    "q_shapley_attribution" -> Analytics.shapleyAttributionOracleSql,
    "q_jsd_drift" -> Analytics.jsdDriftOracleSql(),
    "q_retrieval_mrr" -> TextAnalysis.retrievalEvalOracleSql(),
    "q_perm_test" -> Analytics.permTestOracleSql(),
    "q_stratified_ate" -> Analytics.stratifiedAteOracleSql(),
    "q_woe_iv" -> Modeling.woeIvOracleSql(),
    "q_kendall_tau" -> TextAnalysis.kendallTauOracleSql(),
    "q_readability" -> TextAnalysis.readabilityOracleSql,
    "q_qte" -> Analytics.quantileTreatmentEffectsOracleSql,
    "q_ppr" -> Graph.personalizedPageRankOracleSql(),
    "q_iv_wald" -> Analytics.ivWaldOracleSql,
    "q_assoc_rules" -> Relational.assocRulesOracleSql(),
    "q_frequent_triples" -> Relational.frequentTriplesOracleSql(),
    "q_gini" -> Relational.giniCoefficientOracleSql,
    "q_logrank" -> Analytics.logRankOracleSql(),
    "q_spearman" -> Analytics.spearmanOracleSql,
    "q_mann_kendall" -> Analytics.mannKendallOracleSql,
    "q_theil_decomposition" -> Relational.theilDecompositionOracleSql,
    "q_fk_orphans" -> Relational.fkOrphansOracleSql,
    "q_anova_f" -> Relational.anovaFOracleSql,
    "q_kruskal_wallis" -> Relational.kruskalWallisOracleSql,
    "q_cross_correlation" -> Analytics.crossCorrelationOracleSql(),
    "q_negative_sampling" -> TextAnalysis.negativeSamplingTableOracleSql(),
    "q_ips_ess" -> Analytics.ipsEssOracleSql,
    "q_decayed_popularity" -> Relational.decayedPopularityOracleSql(),
    "q_rec_coverage" -> Relational.recCoverageOracleSql(),
    "q_mmr_diversify" -> TextAnalysis.mmrDiversifyOracleSql(),
    "q_sorted_neighborhood" -> Dedup.sortedNeighborhoodOracleSql(),
    "q_ngram_novelty" -> TextAnalysis.ngramNoveltyOracleSql(),
    "q_modularity" -> Graph.modularityOracleSql(),
    "q_hhi" -> Relational.hhiConcentrationOracleSql,
    "q_transition_entropy" -> Analytics.transitionEntropyOracleSql,
    "q_price_elasticity" -> Relational.priceElasticityOracleSql,
    "q_segment_migration" -> Relational.segmentMigrationOracleSql(),
    "q_factorial_interaction" -> Analytics.factorialInteractionOracleSql,
    "q_cohens_d" -> Analytics.cohensDOracleSql,
    // triangle count is orientation-invariant: the oracle counts the
    // canonical a<b<c form, pinning the degree-ordered plan's result
    "q_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS MATERIALIZED (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n, count(*)::BIGINT AS d FROM (
        |    SELECT u AS n FROM p UNION ALL SELECT v FROM p) GROUP BY 1),
        |tri AS (
        |  SELECT count(*)::BIGINT AS n_triangles
        |  FROM p e1 JOIN p e2 ON e2.u = e1.u AND e2.v > e1.v
        |       JOIN p e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT count(*)::BIGINT AS n_nodes,
        |  (sum(d) // 2)::BIGINT AS n_edges,
        |  sum(d * (d - 1) // 2)::BIGINT AS n_wedges,
        |  any_value(n_triangles) AS n_triangles,
        |  CASE WHEN sum(d * (d - 1) // 2) = 0 THEN 0
        |       ELSE 3 * any_value(n_triangles) * 10000 // sum(d * (d - 1) // 2)
        |  END::BIGINT AS clustering_e4
        |FROM deg CROSS JOIN tri""".stripMargin,
    "q_chi_square" -> chiSquareOracle,
    "q_cramers_v" -> Analytics.cramersVOracleSql(chiSquareOracle),
    "q_revenue_growth" ->
      """WITH weekly AS (
        |  SELECT date_trunc('week', o_orderdate) AS week,
        |    sum((CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT)::BIGINT
        |      AS revenue_cents
        |  FROM orders GROUP BY 1)
        |SELECT epoch_us(week) AS week_us, revenue_cents,
        |  CASE WHEN lag(revenue_cents) OVER (ORDER BY week) IS NULL
        |         OR lag(revenue_cents) OVER (ORDER BY week) = 0 THEN NULL
        |       ELSE (revenue_cents - lag(revenue_cents) OVER (ORDER BY week))
        |            * 10000 // lag(revenue_cents) OVER (ORDER BY week)
        |  END::BIGINT AS growth_e4
        |FROM weekly ORDER BY week_us""".stripMargin,
    "q_revenue_concentration" ->
      """WITH per AS (
        |  SELECT l_partkey,
        |    (sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) * 10000)::BIGINT
        |      AS rev_e4
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT quantile_cont(rev_e4,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs FROM per),
        |banded AS (
        |  SELECT (8 - (rev_e4 > bs[1])::INT - (rev_e4 > bs[2])::INT
        |            - (rev_e4 > bs[3])::INT - (rev_e4 > bs[4])::INT
        |            - (rev_e4 > bs[5])::INT - (rev_e4 > bs[6])::INT
        |            - (rev_e4 > bs[7])::INT)::BIGINT AS band, rev_e4
        |  FROM per CROSS JOIN b),
        |g AS (
        |  SELECT band, count(*)::BIGINT AS n_parts,
        |    sum(rev_e4)::BIGINT AS revenue_e4
        |  FROM banded GROUP BY 1)
        |SELECT band, n_parts, revenue_e4,
        |  (sum(revenue_e4) OVER (ORDER BY band ROWS UNBOUNDED PRECEDING)
        |   * 10000 // sum(revenue_e4) OVER ())::BIGINT AS cum_share_e4
        |FROM g ORDER BY band""".stripMargin,
    "q_ks_test" ->
      """WITH pts AS (
        |  SELECT event_type, floor(value * 100)::BIGINT AS g FROM events),
        |bt AS (SELECT event_type, g, count(*)::BIGINT AS c FROM pts GROUP BY 1, 2),
        |grid AS (SELECT g, sum(c)::BIGINT AS c_all FROM bt GROUP BY 1),
        |ty AS (SELECT DISTINCT event_type FROM bt),
        |dense AS (
        |  SELECT ty.event_type, grid.g, grid.c_all, coalesce(bt.c, 0) AS c
        |  FROM ty CROSS JOIN grid
        |  LEFT JOIN bt ON bt.event_type = ty.event_type AND bt.g = grid.g),
        |cums AS (
        |  SELECT event_type,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY g
        |      ROWS UNBOUNDED PRECEDING) AS cum_t,
        |    sum(c_all) OVER (PARTITION BY event_type ORDER BY g
        |      ROWS UNBOUNDED PRECEDING) AS cum_all,
        |    sum(c) OVER (PARTITION BY event_type) AS n_t,
        |    sum(c_all) OVER (PARTITION BY event_type) AS n
        |  FROM dense)
        |SELECT event_type, n_t::BIGINT AS n_t, (n - n_t)::BIGINT AS n_rest,
        |  (CASE WHEN n_t = 0 OR n = n_t THEN NULL
        |        ELSE max(abs(cum_t * (n - n_t) - (cum_all - cum_t) * n_t))
        |             * 10000 // (n_t * (n - n_t)) END)::BIGINT AS ks_e4
        |FROM cums GROUP BY event_type, n_t, n ORDER BY event_type""".stripMargin,
    "q_variant_props" ->
      """SELECT event_type,
        |  count(json_extract(props, '$.k'))::BIGINT AS n_with_k,
        |  sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_pipe" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(floor(value * 10000)::BIGINT)::BIGINT AS value_e4
        |FROM events WHERE value > 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_reachability" ->
      """WITH RECURSIVE
        |items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT a.pk AS u, b.pk AS v FROM items a JOIN items b
        |        ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
        |seed AS (SELECT min(u) AS s FROM e),
        |reach(pk, depth) AS (
        |  SELECT s, 0 FROM seed
        |  UNION ALL
        |  SELECT e.v, r.depth + 1 FROM reach r JOIN e ON e.u = r.pk
        |  WHERE r.depth < 3)
        |SELECT pk, min(depth)::BIGINT AS hops FROM reach GROUP BY pk
        |ORDER BY pk""".stripMargin,
    "q_degree_distribution" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS MATERIALIZED (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n, count(*)::BIGINT AS d FROM (
        |    SELECT u AS n FROM p UNION ALL SELECT v FROM p) GROUP BY 1),
        |b AS (
        |  SELECT length(printf('%b', d))::BIGINT AS bin_width,
        |    count(*)::BIGINT AS n_nodes,
        |    min(d)::BIGINT AS min_degree, max(d)::BIGINT AS max_degree
        |  FROM deg GROUP BY 1)
        |SELECT bin_width, n_nodes, min_degree, max_degree,
        |  (n_nodes * 10000 // sum(n_nodes) OVER ())::BIGINT AS share_e4
        |FROM b ORDER BY bin_width""".stripMargin,
    "q_small_quantity_revenue" ->
      """WITH bl AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand LIKE 'Brand#1%'),
        |pp AS (
        |  SELECT l_partkey AS pk,
        |    sum((CAST(l_quantity AS DECIMAL(12,2)) * 100)::BIGINT)::BIGINT
        |      AS sum_q_e2,
        |    count(*)::BIGINT AS n_lines
        |  FROM bl GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_small_lines,
        |  sum((CAST(l_extendedprice AS DECIMAL(18,2)) * 100)::BIGINT)::DOUBLE
        |    / 100.0 / 7.0 AS avg_yearly
        |FROM bl JOIN pp ON l_partkey = pk
        |WHERE (CAST(l_quantity AS DECIMAL(12,2)) * 100)::BIGINT
        |      * n_lines * 100 < sum_q_e2 * 20""".stripMargin,
    "q_sql_unpivot" ->
      """WITH a AS (
        |  SELECT event_type, count(*)::BIGINT AS n_events,
        |    count(DISTINCT user_id)::BIGINT AS n_users,
        |    sum(floor(value * 10000)::BIGINT)::BIGINT AS value_e4
        |  FROM events GROUP BY event_type)
        |SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM a
        |UNION ALL
        |SELECT event_type, 'n_users', n_users FROM a
        |UNION ALL
        |SELECT event_type, 'value_e4', value_e4 FROM a
        |ORDER BY event_type, metric""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(floor(o_totalprice)::BIGINT AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        |c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
        |s AS (
        |  SELECT digit, n,
        |    (n * 1000000 // sum(n) OVER ())::BIGINT AS share_e6
        |  FROM c)
        |SELECT digit, n, share_e6,
        |  ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
        |    45757])[digit]::BIGINT AS benford_e6,
        |  (share_e6 - ([301030, 176091, 124939, 96910, 79181, 66947, 57992,
        |    51153, 45757])[digit])::BIGINT AS dev_e6
        |FROM s ORDER BY digit""".stripMargin,
    "q_conversion_latency" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS first_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |conv AS (
        |  SELECT fv.user_id,
        |    epoch_us(min(p.ts)) - epoch_us(fv.first_view) AS delta_us
        |  FROM fv JOIN events p ON p.user_id = fv.user_id
        |    AND p.event_type = 'purchase' AND p.ts >= fv.first_view
        |  GROUP BY fv.user_id, fv.first_view),
        |s AS (
        |  SELECT count(*)::BIGINT AS n_converted,
        |    quantile_cont(delta_us, [0.5, 0.75]) AS ps,
        |    max(delta_us)::BIGINT AS max_us
        |  FROM conv)
        |SELECT (SELECT count(*) FROM fv)::BIGINT AS n_viewers, n_converted,
        |  (n_converted * 10000 // (SELECT count(*) FROM fv))::BIGINT
        |    AS conversion_e4,
        |  floor(ps[1])::BIGINT AS p50_us, floor(ps[2])::BIGINT AS p75_us,
        |  max_us
        |FROM s""".stripMargin,
    "q_media_frames" ->
      """WITH a AS (
        |  SELECT i,
        |    CASE WHEN i % 3 = 0 THEN 'image' WHEN i % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS media_type,
        |    (64 + (i * 31) % 192)::BIGINT AS n_bytes,
        |    CASE WHEN i % 3 = 0 THEN 0 ELSE 1000 + (i * 97) % 9000 END AS dur
        |  FROM generate_series(0, 999) AS t(i)),
        |f AS (
        |  SELECT i, media_type, n_bytes,
        |    CASE WHEN media_type = 'image' THEN 1
        |         ELSE least(16, greatest(1, dur // 1000)) END AS nf
        |  FROM a),
        |x AS (
        |  SELECT i, media_type, n_bytes, nf,
        |    unnest(range(0, nf)) AS fr
        |  FROM f)
        |SELECT i AS asset_id, media_type, fr::BIGINT AS frame_idx,
        |  (fr * 1000)::BIGINT AS offset_ms,
        |  (fr * n_bytes // nf)::BIGINT AS byte_offset,
        |  ((fr + 1) * n_bytes // nf - fr * n_bytes // nf)::BIGINT
        |    AS frame_bytes
        |FROM x ORDER BY asset_id, frame_idx""".stripMargin,
    "q_volume_acf" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1),
        |lags AS (SELECT range AS lag FROM range(1, 25)),
        |pairs AS (
        |  SELECT l.lag, a.c AS x, b.c AS y
        |  FROM hourly a CROSS JOIN lags l
        |  JOIN hourly b ON b.hour = a.hour + l.lag * INTERVAL 1 HOUR),
        |s AS (
        |  SELECT lag, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
        |    sum(y * y)::BIGINT AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT lag::BIGINT AS lag, n,
        |  (CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |        ELSE round((n * sxy - sx * sy)::DOUBLE
        |          / sqrt((n * sxx - sx * sx)::DOUBLE
        |                 * (n * syy - sy * sy)::DOUBLE) * 10000, 0)
        |   END)::BIGINT AS r_e4
        |FROM s ORDER BY lag""".stripMargin,
    "q_type_affinity" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |sizes AS (SELECT event_type, count(*)::BIGINT AS n FROM tu GROUP BY 1),
        |inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*)::BIGINT AS n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  (n_both * 10000 // (sa.n + sb.n - n_both))::BIGINT AS jaccard_e4
        |FROM inter
        |JOIN sizes sa ON sa.event_type = type_a
        |JOIN sizes sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q_event_trigrams" ->
      """WITH t AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT t1, t2, t3, count(*)::BIGINT AS n
        |  FROM t WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, n,
        |  (n * 10000 // sum(n) OVER ())::BIGINT AS share_e4
        |FROM c ORDER BY t1, t2, t3""".stripMargin,
    // the oracle aggregates FLAT — matching it proves the two-branch
    // merge is exactly the full rollup
    "q_incremental_rollup" ->
      """SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
        |  count(*)::BIGINT AS n,
        |  sum(floor(value * 10000)::BIGINT)::BIGINT AS sum_e4,
        |  (sum(floor(value * 10000)::BIGINT) // count(*))::BIGINT AS avg_e4,
        |  epoch_us(max(ts)) AS latest_us
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day_us""".stripMargin,
    "q_assortativity" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS MATERIALIZED (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n, count(*)::BIGINT AS d FROM (
        |    SELECT u AS n FROM p UNION ALL SELECT v FROM p) GROUP BY 1),
        |ends AS (
        |  SELECT du.d AS du, dv.d AS dv
        |  FROM p JOIN deg du ON du.n = p.u JOIN deg dv ON dv.n = p.v),
        |sym AS (
        |  SELECT du, dv FROM ends UNION ALL SELECT dv, du FROM ends),
        |s AS (
        |  SELECT count(*)::BIGINT AS m, sum(du)::BIGINT AS s,
        |    sum(du * dv)::BIGINT AS sxy, sum(du * du)::BIGINT AS sxx
        |  FROM sym)
        |SELECT (m // 2)::BIGINT AS n_edges,
        |  (CASE WHEN m * sxx - s * s = 0 THEN NULL
        |        ELSE (m * sxy - s * s) * 10000 // (m * sxx - s * s)
        |   END)::BIGINT AS assortativity_e4
        |FROM s""".stripMargin,
    "q_calibration_curve" -> calibrationCurveOracle,
    // ECE wraps the identical curve SQL in one weighted-gap aggregate
    "q_ece" ->
      s"""SELECT count(*)::BIGINT AS n_bins, sum(n)::BIGINT AS n_total,
         |  (sum(n * abs(frac_pos_e4 - mean_score_e4)) // sum(n))::BIGINT
         |    AS ece_e4,
         |  max(abs(frac_pos_e4 - mean_score_e4))::BIGINT AS mce_e4
         |FROM ($calibrationCurveOracle) curve
         |HAVING count(*) > 0""".stripMargin,
    "q_psi_drift" ->
      """WITH mm AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
        |b AS (
        |  SELECT event_type,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END
        |      AS period,
        |    (CASE WHEN vmax = vmin THEN 0
        |          ELSE least(15, floor((value - vmin) * 16 / (vmax - vmin)))
        |     END)::BIGINT AS bin
        |  FROM events CROSS JOIN mm),
        |c AS (SELECT event_type, period, bin, count(*)::BIGINT AS c
        |      FROM b GROUP BY 1, 2, 3),
        |ty AS (SELECT DISTINCT event_type FROM c),
        |bins AS (SELECT range AS bin FROM range(16)),
        |wide AS (
        |  SELECT ty.event_type, bins.bin,
        |    coalesce(c0.c, 0) AS c0, coalesce(c1.c, 0) AS c1
        |  FROM ty CROSS JOIN bins
        |  LEFT JOIN c c0 ON c0.event_type = ty.event_type
        |    AND c0.bin = bins.bin AND c0.period = 0
        |  LEFT JOIN c c1 ON c1.event_type = ty.event_type
        |    AND c1.bin = bins.bin AND c1.period = 1),
        |sm AS (
        |  SELECT event_type, c0, c1,
        |    sum(c0) OVER (PARTITION BY event_type) AS n0,
        |    sum(c1) OVER (PARTITION BY event_type) AS n1
        |  FROM wide),
        |k AS (
        |  SELECT event_type, n0, n1,
        |    (c0 + 1)::DOUBLE / (n0 + 16) AS p,
        |    (c1 + 1)::DOUBLE / (n1 + 16) AS q
        |  FROM sm)
        |SELECT event_type, max(n0)::BIGINT AS n_expected,
        |  max(n1)::BIGINT AS n_actual,
        |  sum(round((p - q) * ln(p / q) * 10000, 0))::BIGINT AS psi_e4
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_classifier_eval" ->
      """WITH f AS (
        |  SELECT doc_id, source, (lang = 'en')::INT AS y,
        |    1.0 AS x0,
        |    ln(1.0 + len(toks)::DOUBLE) AS x1,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS x2,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE
        |      / len(toks)::DOUBLE AS x3,
        |    length(text)::DOUBLE / len(toks)::DOUBLE AS x4
        |  FROM (SELECT doc_id, source, lang, text,
        |          regexp_split_to_array(lower(text), '\s+') AS toks
        |        FROM documents)),
        |s AS (
        |  SELECT doc_id, source, y,
        |    round((1.0 / (1.0 + exp(-((x0 * -3.0) + (x1 * 0.6) + (x2 * 2.0)
        |      + (x3 * 3.0) + (x4 * 0.1))))) * 10000, 0)::BIGINT AS score_e4
        |  FROM f),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY score_e4, doc_id) AS rnk FROM s),
        |m AS (
        |  SELECT *, min(rnk) OVER (PARTITION BY source, score_e4)
        |           + max(rnk) OVER (PARTITION BY source, score_e4) AS mid2
        |  FROM r)
        |SELECT source, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
        |  (CASE WHEN sum(y) = 0 OR sum(y) = count(*) THEN NULL
        |        ELSE (sum(CASE WHEN y = 1 THEN mid2 ELSE 0 END)
        |              - sum(y) * (sum(y) + 1)) * 10000
        |             // (2 * sum(y) * (count(*) - sum(y))) END)::BIGINT AS auc_e4,
        |  (CASE WHEN sum((score_e4 >= 5000)::INT) = 0 THEN NULL
        |        ELSE sum((y = 1 AND score_e4 >= 5000)::INT) * 10000
        |             // sum((score_e4 >= 5000)::INT) END)::BIGINT AS precision_e4,
        |  (CASE WHEN sum(y) = 0 THEN NULL
        |        ELSE sum((y = 1 AND score_e4 >= 5000)::INT) * 10000
        |             // sum(y) END)::BIGINT AS recall_e4,
        |  ((count(*) - sum((y = 0 AND score_e4 >= 5000)::INT)
        |    - sum((y = 1 AND score_e4 < 5000)::INT)) * 10000
        |   // count(*))::BIGINT AS accuracy_e4
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q_pr_curve" ->
      """WITH f AS (
        |  SELECT doc_id, (lang = 'en')::INT AS y,
        |    1.0 AS x0,
        |    ln(1.0 + len(toks)::DOUBLE) AS x1,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS x2,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE
        |      / len(toks)::DOUBLE AS x3,
        |    length(text)::DOUBLE / len(toks)::DOUBLE AS x4
        |  FROM (SELECT doc_id, lang, text,
        |          regexp_split_to_array(lower(text), '\s+') AS toks
        |        FROM documents)),
        |s AS (
        |  SELECT y,
        |    round((1.0 / (1.0 + exp(-((x0 * -3.0) + (x1 * 0.6) + (x2 * 2.0)
        |      + (x3 * 3.0) + (x4 * 0.1))))) * 10000, 0)::BIGINT AS score_e4
        |  FROM f),
        |g AS (SELECT unnest(range(500, 10000, 500))::BIGINT AS t),
        |c AS (
        |  SELECT t,
        |    sum(CASE WHEN score_e4 >= t THEN y ELSE 0 END)::BIGINT AS tp,
        |    sum(CASE WHEN score_e4 >= t THEN 1 - y ELSE 0 END)::BIGINT AS fp,
        |    sum(CASE WHEN score_e4 < t THEN y ELSE 0 END)::BIGINT AS fn
        |  FROM s CROSS JOIN g GROUP BY t)
        |SELECT t, tp, fp, fn,
        |  (CASE WHEN tp + fp = 0 THEN NULL
        |        ELSE tp * 10000 // (tp + fp) END)::BIGINT AS precision_e4,
        |  (CASE WHEN tp + fn = 0 THEN NULL
        |        ELSE tp * 10000 // (tp + fn) END)::BIGINT AS recall_e4,
        |  (CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
        |        ELSE 2 * tp * 10000 // (2 * tp + fp + fn) END)::BIGINT AS f1_e4
        |FROM c ORDER BY t""".stripMargin,
    "q_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |c AS (SELECT user_id % 2 AS arm, count(*)::BIGINT AS n_units
        |      FROM u GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n_total FROM u)
        |SELECT arm, n_units, n_total,
        |  ((2 * n_units - n_total) * (2 * n_units - n_total) * 1000000
        |    // n_total)::BIGINT AS chi2_e6,
        |  ((2 * n_units - n_total) * (2 * n_units - n_total) * 1000000
        |    // n_total) > 3841459 AS srm_flag
        |FROM c CROSS JOIN t ORDER BY arm""".stripMargin,
    "q_embedding_drift" ->
      """WITH q AS (
        |  SELECT vec_id % 2 AS cohort, (t.i - 1)::BIGINT AS dim,
        |    round(embedding[t.i]::DOUBLE * 1000000, 0)::BIGINT AS v_e6
        |  FROM embeddings,
        |    LATERAL unnest(range(1, len(embedding) + 1)) AS t(i)),
        |a AS (
        |  SELECT dim,
        |    sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN cohort = 0 THEN v_e6 ELSE 0 END)::BIGINT AS s_a,
        |    sum(CASE WHEN cohort = 1 THEN v_e6 ELSE 0 END)::BIGINT AS s_b
        |  FROM q GROUP BY 1)
        |SELECT dim, n_a, n_b,
        |  (s_a // n_a)::BIGINT AS mean_a_e6, (s_b // n_b)::BIGINT AS mean_b_e6,
        |  abs(s_a // n_a - s_b // n_b)::BIGINT AS delta_e6
        |FROM a ORDER BY dim""".stripMargin,
    "q_matryoshka" ->
      """WITH p AS (
        |  SELECT a.vec_id AS id_a, a.embedding AS ea, b.embedding AS eb
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
        |g AS (SELECT unnest([8, 16, 32, 64])::BIGINT AS d),
        |c AS (
        |  SELECT id_a, d,
        |    list_sum(list_transform(range(1, len(ea) + 1),
        |      i -> ea[i]::DOUBLE * eb[i]::DOUBLE)) AS fxy,
        |    sqrt(list_sum(list_transform(range(1, len(ea) + 1),
        |      i -> ea[i]::DOUBLE * ea[i]::DOUBLE))) AS fx,
        |    sqrt(list_sum(list_transform(range(1, len(eb) + 1),
        |      i -> eb[i]::DOUBLE * eb[i]::DOUBLE))) AS fy,
        |    list_sum(list_transform(range(1, d::INT + 1),
        |      i -> ea[i]::DOUBLE * eb[i]::DOUBLE)) AS dxy,
        |    sqrt(list_sum(list_transform(range(1, d::INT + 1),
        |      i -> ea[i]::DOUBLE * ea[i]::DOUBLE))) AS dx,
        |    sqrt(list_sum(list_transform(range(1, d::INT + 1),
        |      i -> eb[i]::DOUBLE * eb[i]::DOUBLE))) AS dy
        |  FROM p CROSS JOIN g),
        |e AS (
        |  SELECT d,
        |    abs(round(((CASE WHEN fx = 0 OR fy = 0 THEN 0 ELSE fxy / fx / fy END)
        |      - (CASE WHEN dx = 0 OR dy = 0 THEN 0 ELSE dxy / dx / dy END))
        |      * 1000000, 0))::BIGINT AS err_e6
        |  FROM c)
        |SELECT d, count(*)::BIGINT AS n_pairs,
        |  (sum(err_e6) // count(*))::BIGINT AS mean_err_e6,
        |  max(err_e6)::BIGINT AS max_err_e6,
        |  sum(CASE WHEN err_e6 > 50000 THEN 1 ELSE 0 END)::BIGINT AS n_distorted,
        |  (sum(CASE WHEN err_e6 > 50000 THEN 1 ELSE 0 END) * 10000
        |    // count(*))::BIGINT AS distorted_e4
        |FROM e GROUP BY d ORDER BY d""".stripMargin,
    "q_trimmed_stats" ->
      """WITH v AS (
        |  SELECT event_type, floor(value * 10000)::BIGINT AS v_e4,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |f AS (SELECT *, (n * 5 // 100)::BIGINT AS t FROM v),
        |k AS (SELECT * FROM f WHERE rnk > t AND rnk <= n - t)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  max(t)::BIGINT AS n_trimmed_each,
        |  (sum(v_e4) // count(*))::BIGINT AS trimmed_mean_e4,
        |  ((sum(v_e4) + max(t) * (min(v_e4) + max(v_e4))) // max(n))::BIGINT
        |    AS winsorized_mean_e4
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_first_event_per_user" ->
      """SELECT DISTINCT ON (user_id) user_id,
        |  epoch_us(ts) AS first_ts_us,
        |  event_id AS first_event_id,
        |  event_type AS first_event_type
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin,
    "q_step_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
        |f AS (
        |  SELECT 1::BIGINT AS step_idx, 'signup' AS step, count(*)::BIGINT AS n_users FROM s1
        |  UNION ALL
        |  SELECT 2::BIGINT, 'view', count(*)::BIGINT FROM s2
        |  UNION ALL
        |  SELECT 3::BIGINT, 'purchase', count(*)::BIGINT FROM s3)
        |SELECT step_idx, step, n_users,
        |  CASE WHEN lag(n_users) OVER (ORDER BY step_idx) > 0
        |    THEN (n_users * 10000 // lag(n_users) OVER (ORDER BY step_idx))::BIGINT
        |    ELSE NULL END AS conv_vs_prev_e4,
        |  CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
        |    THEN (n_users * 10000 // first_value(n_users) OVER (ORDER BY step_idx))::BIGINT
        |    ELSE NULL END AS conv_vs_first_e4
        |FROM f ORDER BY step_idx""".stripMargin,
    "q_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day FROM events),
        |days AS (SELECT DISTINCT day AS report_day FROM ud),
        |w AS (SELECT unnest([1, 7, 30])::BIGINT AS window_days)
        |SELECT epoch_us(d.report_day::TIMESTAMP) AS day_us,
        |  w.window_days,
        |  count(DISTINCT u.user_id)::BIGINT AS n_active
        |FROM days d CROSS JOIN w JOIN ud u
        |  ON u.day <= d.report_day
        |  AND u.day > d.report_day - w.window_days::INTEGER
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_step_funnel_windowed" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t
        |    AND epoch_us(e.ts) <= epoch_us(s1.t) + 21600000000 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |    AND epoch_us(e.ts) <= epoch_us(s2.t) + 21600000000 GROUP BY 1),
        |f AS (
        |  SELECT 1::BIGINT AS step_idx, 'signup' AS step, count(*)::BIGINT AS n_users FROM s1
        |  UNION ALL
        |  SELECT 2::BIGINT, 'view', count(*)::BIGINT FROM s2
        |  UNION ALL
        |  SELECT 3::BIGINT, 'purchase', count(*)::BIGINT FROM s3)
        |SELECT step_idx, step, n_users,
        |  CASE WHEN lag(n_users) OVER (ORDER BY step_idx) > 0
        |    THEN (n_users * 10000 // lag(n_users) OVER (ORDER BY step_idx))::BIGINT
        |    ELSE NULL END AS conv_vs_prev_e4,
        |  CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
        |    THEN (n_users * 10000 // first_value(n_users) OVER (ORDER BY step_idx))::BIGINT
        |    ELSE NULL END AS conv_vs_first_e4
        |FROM f ORDER BY step_idx""".stripMargin,
    "q_data_contract" ->
      """WITH r AS (
        |  SELECT 'event_id_not_null' AS rule,
        |    sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id_not_null',
        |    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT FROM events
        |  UNION ALL
        |  SELECT 'ts_in_sensible_range',
        |    sum(CASE WHEN ts NOT BETWEEN TIMESTAMP '2000-01-01 00:00:00'
        |      AND TIMESTAMP '2100-01-01 00:00:00' THEN 1 ELSE 0 END)::BIGINT FROM events
        |  UNION ALL
        |  SELECT 'value_non_negative',
        |    sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)::BIGINT FROM events
        |  UNION ALL
        |  SELECT 'event_type_in_enum',
        |    sum(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
        |      THEN 1 ELSE 0 END)::BIGINT FROM events
        |  UNION ALL
        |  SELECT 'event_id_unique',
        |    (SELECT count(*) FROM (
        |       SELECT event_id FROM events GROUP BY 1 HAVING count(*) > 1))::BIGINT)
        |SELECT rule, n_violations FROM r ORDER BY rule""".stripMargin,
    "q_value_ntiles" ->
      """SELECT event_type, decile, count(*)::BIGINT AS n,
        |  round(sum(CAST(value AS DECIMAL(12,2)))::DOUBLE, 2) AS bucket_value
        |FROM (
        |  SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id)::BIGINT AS decile
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY event_type, decile""".stripMargin,
    "q_key_skew" ->
      """WITH dims AS (
        |  SELECT 'user_id' AS dim, user_id::VARCHAR AS key FROM events
        |  UNION ALL
        |  SELECT 'event_type', event_type FROM events),
        |c AS (SELECT dim, key, count(*)::BIGINT AS c FROM dims GROUP BY 1, 2),
        |r AS (SELECT dim, c,
        |        row_number() OVER (PARTITION BY dim ORDER BY c, key)::BIGINT AS i
        |      FROM c)
        |SELECT dim,
        |  count(*)::BIGINT AS n_keys,
        |  sum(c)::BIGINT AS n_rows,
        |  (max(c) * 10000 // sum(c))::BIGINT AS top_share_e4,
        |  ((sum((2 * i - 1) * c) - count(*) * sum(c)) * 10000
        |    // (count(*) * sum(c)))::BIGINT AS gini_e4
        |FROM r GROUP BY dim ORDER BY dim""".stripMargin,
    "q_retention_cohorts" ->
      """WITH fd AS (
        |  SELECT user_id, date_trunc('day', min(ts))::DATE AS cohort_day
        |  FROM events GROUP BY 1)
        |SELECT epoch_us(cohort_day::TIMESTAMP) AS cohort_day_us,
        |  date_diff('day', cohort_day, ts::DATE)::BIGINT AS day_offset,
        |  count(DISTINCT e.user_id)::BIGINT AS n_active
        |FROM events e JOIN fd ON e.user_id = fd.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dedup_events" ->
      """SELECT user_id, event_type, min(event_id) AS keep_id, count(*) AS dup_count
        |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "q_purchase_attribution" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  count(*) AS n_views,
        |  max(epoch_us(v.ts)) AS last_view_us
        |FROM events p JOIN events v ON v.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 60 MINUTE
        |GROUP BY 1, 2 ORDER BY purchase_id""".stripMargin,
    "q_asof_last_view" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  epoch_us(v.ts) AS last_view_us, v.value AS last_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin,
    // the oracle runs the interval join NAIVELY (DuckDB's IEJoin handles
    // the non-equi predicate); the Spark side is the bucketed equi-join —
    // same semantics, different physical shape, which is the point
    "q_interval_join" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n,
        |    arg_max(ts, event_id) AS anchor
        |  FROM events GROUP BY 1),
        |win AS (
        |  SELECT row_number() OVER (ORDER BY n DESC, h) AS window_id,
        |    anchor - INTERVAL 45 MINUTE AS w_start,
        |    anchor + INTERVAL 45 MINUTE AS w_end
        |  FROM hourly ORDER BY n DESC, h LIMIT 10)
        |SELECT window_id::BIGINT AS window_id, count(*)::BIGINT AS n_events,
        |  count(DISTINCT e.user_id)::BIGINT AS n_users,
        |  sum(floor(e.value * 10000)::BIGINT)::BIGINT AS value_e4
        |FROM win JOIN events e ON e.ts >= w_start AND e.ts < w_end
        |GROUP BY 1 ORDER BY window_id""".stripMargin,
    "q_scd2_history" ->
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events WHERE user_id % 3 = 0),
        |v AS (
        |  SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT
        |    AS version,
        |  event_type,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to_us
        |FROM v ORDER BY user_id, version""".stripMargin,
    "q_scd2_lookup" ->
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events WHERE user_id % 3 = 0),
        |v AS (
        |  SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |h AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT
        |      AS version,
        |    event_type AS state_type,
        |    epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to_us
        |  FROM v),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'purchase' AND user_id % 3 = 0)
        |SELECT p.event_id, p.user_id, p.ts_us, h.version, h.state_type
        |FROM p JOIN h ON p.user_id = h.user_id
        |  AND h.valid_from_us <= p.ts_us
        |  AND (h.valid_to_us IS NULL OR p.ts_us < h.valid_to_us)
        |ORDER BY p.event_id""".stripMargin,
    "q_twap" ->
      """WITH h AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - epoch_us(ts) AS hold_us
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_holds,
        |  sum(hold_us)::BIGINT AS total_hold_us,
        |  round(sum(cents * hold_us)::DOUBLE / sum(hold_us) / 100.0, 6)
        |    AS twap_value,
        |  round(sum(cents)::DOUBLE / count(*) / 100.0, 6) AS plain_avg
        |FROM h WHERE hold_us IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_mad_outliers" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT event_type,
        |    CAST(round(quantile_cont(cents, 0.5) * 2) AS BIGINT) AS med2x
        |  FROM c GROUP BY 1),
        |d AS (
        |  SELECT c.event_type, m.med2x,
        |    abs(c.cents * 2 - m.med2x)::DOUBLE AS dev2x
        |  FROM c JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type,
        |    CAST(round(quantile_cont(dev2x, 0.5) * 2) AS BIGINT) AS mad4x
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, count(*)::BIGINT AS n,
        |  round(max(d.med2x) / 200.0, 4) AS median_value,
        |  round(max(md.mad4x) / 400.0, 4) AS mad_value,
        |  sum(CASE WHEN d.dev2x * 2 > 3 * md.mad4x THEN 1 ELSE 0 END)::BIGINT
        |    AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_entry_exit_flows" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn_a,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC,
        |      event_id DESC) AS rn_d
        |  FROM events)
        |SELECT f.event_type AS entry_type, l.event_type AS exit_type,
        |  count(*)::BIGINT AS n_users
        |FROM (SELECT user_id, event_type FROM r WHERE rn_a = 1) f
        |JOIN (SELECT user_id, event_type FROM r WHERE rn_d = 1) l
        |  USING (user_id)
        |GROUP BY 1, 2 ORDER BY entry_type, exit_type""".stripMargin,
    "q_cohort_ltv" ->
      """WITH fd AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT user_id, CAST(ts AS DATE) AS active_day,
        |    (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |cell AS (
        |  SELECT fd.cohort_day,
        |    (p.active_day - fd.cohort_day)::BIGINT AS day_offset,
        |    sum(p.cents)::BIGINT AS revenue_cents,
        |    count(DISTINCT p.user_id)::BIGINT AS n_buyers
        |  FROM p JOIN fd USING (user_id) GROUP BY 1, 2)
        |SELECT epoch_us(cohort_day::TIMESTAMP) AS cohort_day_us, day_offset,
        |  n_buyers, revenue_cents,
        |  sum(revenue_cents) OVER (PARTITION BY cohort_day ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_revenue_cents
        |FROM cell ORDER BY cohort_day_us, day_offset""".stripMargin,
    "q_sql_execute_immediate" ->
      """SELECT user_id, count(*)::BIGINT AS n,
        |  sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |FROM events GROUP BY user_id HAVING count(*) >= 100
        |ORDER BY user_id""".stripMargin,
    "q_holt_forecast" -> Analytics.holtForecastOracleSql(),
    "q_holtwinters_forecast" -> Analytics.holtWintersForecastOracleSql(),
    "q_table_profile" -> Catalog.profileEventsOracleSql,
    "q_seasonal_decomp" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |d2 AS (
        |  SELECT day, n,
        |    (day - DATE '1970-01-01')::BIGINT AS day_num,
        |    dayofweek(day)::BIGINT + 1 AS dow
        |  FROM daily),
        |t AS (
        |  SELECT day, dow, n,
        |    CASE WHEN count(*) OVER w7 = 7
        |      THEN (sum(n) OVER w7) * 10000 // 7 END::BIGINT AS trend_e4
        |  FROM d2
        |  WINDOW w7 AS (ORDER BY day_num RANGE BETWEEN 3 PRECEDING
        |    AND 3 FOLLOWING)),
        |dt AS (
        |  SELECT day, dow, n, trend_e4,
        |    CASE WHEN trend_e4 IS NOT NULL
        |      THEN n * 10000 - trend_e4 END AS detrended_e4
        |  FROM t),
        |s AS (
        |  SELECT dow, (sum(detrended_e4) // count(*))::BIGINT AS seasonal_e4
        |  FROM dt WHERE detrended_e4 IS NOT NULL GROUP BY 1)
        |SELECT epoch_us(day::TIMESTAMP) AS day_us, dt.dow, n, trend_e4,
        |  s.seasonal_e4,
        |  (dt.detrended_e4 - s.seasonal_e4)::BIGINT AS residual_e4
        |FROM dt LEFT JOIN s ON dt.dow = s.dow
        |ORDER BY day_us""".stripMargin,
    "q_user_growth" ->
      """WITH f AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS day FROM events
        |  GROUP BY 1),
        |d AS (SELECT day, count(*)::BIGINT AS n_new FROM f GROUP BY 1)
        |SELECT epoch_us(day::TIMESTAMP) AS day_us, n_new,
        |  sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_users
        |FROM d ORDER BY day_us""".stripMargin,
    "q_pareto_parts" ->
      """WITH p AS (
        |  SELECT p_brand, p_partkey,
        |    (CAST(p_retailprice AS DECIMAL(18,2)) * 100)::BIGINT
        |      AS price_cents,
        |    p_size::BIGINT AS size
        |  FROM part),
        |w AS (
        |  SELECT p_brand, p_partkey, price_cents, size,
        |    max(size) OVER (PARTITION BY p_brand ORDER BY price_cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS max_cheaper,
        |    max(size) OVER (PARTITION BY p_brand ORDER BY price_cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS max_upto
        |  FROM p)
        |SELECT p_brand, p_partkey, price_cents, size
        |FROM w
        |WHERE (max_cheaper IS NULL OR max_cheaper < size)
        |  AND max_upto = size
        |ORDER BY p_brand, price_cents, p_partkey""".stripMargin,
    "q_order_latency" ->
      """WITH ship AS (
        |  SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship,
        |    max(CAST(l_shipdate AS DATE)) AS last_ship
        |  FROM lineitem GROUP BY 1),
        |lat AS (
        |  SELECT o_orderpriority,
        |    (first_ship - CAST(o_orderdate AS DATE))::BIGINT AS first_days,
        |    (last_ship - CAST(o_orderdate AS DATE))::BIGINT AS full_days
        |  FROM orders JOIN ship ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  quantile_cont(first_days, 0.5) AS p50_first,
        |  round(quantile_cont(first_days, 0.9), 4) AS p90_first,
        |  (sum(first_days) * 10000 // count(*))::BIGINT AS mean_first_e4,
        |  quantile_cont(full_days, 0.5) AS p50_full
        |FROM lat GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q_quality_yield" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    round((CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0
        |           WHEN n_chars < 100 THEN n_chars / 100.0
        |           ELSE 450.0 / n_chars END
        |      + least(len(list_filter(toks,
        |          t -> t IN ('the','a','of','and','to','in')))::DOUBLE
        |          / len(toks) * 10.0, 1.0)
        |      + len(list_distinct(toks))::DOUBLE / len(toks)) / 3.0, 4)
        |      AS quality,
        |    len(toks)::BIGINT AS n_tokens
        |  FROM (SELECT doc_id, n_chars,
        |          regexp_split_to_array(lower(text), '\s+') AS toks
        |        FROM documents)),
        |b AS (
        |  SELECT floor(quality * 100)::BIGINT AS score_e2,
        |    count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS tokens
        |  FROM q GROUP BY 1)
        |SELECT score_e2, n_docs, tokens,
        |  sum(n_docs) OVER (ORDER BY score_e2 DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_docs,
        |  sum(tokens) OVER (ORDER BY score_e2 DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_tokens,
        |  ((sum(tokens) OVER (ORDER BY score_e2 DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    * 10000 // sum(tokens) OVER ())::BIGINT AS cum_token_share_e4
        |FROM b ORDER BY score_e2 DESC""".stripMargin,
    "q_sql_lateral" ->
      """SELECT o.o_orderkey, o.o_totalprice, t.l_partkey,
        |  t.l_extendedprice AS top_line_price
        |FROM orders o,
        |LATERAL (
        |  SELECT l_partkey, l_extendedprice FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_partkey LIMIT 1) t
        |WHERE o.o_totalprice >= 490000
        |ORDER BY o.o_orderkey""".stripMargin,
    "q_sole_blame_suppliers" ->
      """WITH j AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 90 DAYS) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |pos AS (
        |  SELECT l_orderkey, l_suppkey, max(late) AS supp_late
        |  FROM j GROUP BY 1, 2),
        |po AS (
        |  SELECT l_orderkey, count(*)::BIGINT AS n_supp,
        |    sum(CASE WHEN supp_late THEN 1 ELSE 0 END)::BIGINT AS n_late_supp
        |  FROM pos GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*)::BIGINT AS n_blame_orders
        |FROM pos
        |JOIN po USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE pos.supp_late AND po.n_supp > 1 AND po.n_late_supp = 1
        |GROUP BY 1, 2
        |ORDER BY n_blame_orders DESC, s_suppkey LIMIT 50""".stripMargin,
    "q_throttle" ->
      """WITH r AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    row_number() OVER (
        |      PARTITION BY user_id, event_type, epoch_us(ts) // 600000000
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (
        |      PARTITION BY user_id, event_type, epoch_us(ts) // 600000000)
        |      AS n
        |  FROM events)
        |SELECT event_id, user_id, ts_us, (n - 1)::BIGINT AS n_suppressed
        |FROM r WHERE rn = 1 AND event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q_attribution_split" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS p_ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id AS v_user_id, ts AS v_ts, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT purchase_id, cents, v_ts, view_id,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY v_ts DESC, view_id DESC) AS r,
        |    count(*) OVER (PARTITION BY purchase_id) AS n
        |  FROM p JOIN v ON p.user_id = v.v_user_id
        |    AND v.v_ts <= p.p_ts
        |    AND v.v_ts >= p.p_ts - INTERVAL 60 MINUTES)
        |SELECT epoch_us(CAST(CAST(v_ts AS DATE) AS TIMESTAMP)) AS view_day_us,
        |  count(*)::BIGINT AS n_credited_views,
        |  sum(cents // n + CASE WHEN r <= cents % n THEN 1 ELSE 0 END)::BIGINT
        |    AS credited_cents
        |FROM j GROUP BY 1 ORDER BY view_day_us""".stripMargin,
    "q_user_bursts" ->
      """WITH b AS (
        |  SELECT user_id, epoch_us(ts) // 300000000 AS bucket,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, max(n) AS max_burst FROM b GROUP BY 1)
        |SELECT max_burst, count(*)::BIGINT AS n_users
        |FROM m GROUP BY 1 ORDER BY max_burst""".stripMargin,
    "q_rolling_hour" ->
      """WITH w AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)::BIGINT
        |      AS n_last_hour
        |  FROM events)
        |SELECT event_id, user_id, ts_us, n_last_hour FROM w
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q_supplier_concentration" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CAST(l_quantity AS DECIMAL(12,2)))::BIGINT AS supp_qty
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (
        |  SELECT l_partkey, l_suppkey, supp_qty,
        |    sum(supp_qty) OVER (PARTITION BY l_partkey)::BIGINT AS part_qty,
        |    count(*) OVER (PARTITION BY l_partkey)::BIGINT AS n_suppliers
        |  FROM ps)
        |SELECT l_partkey, l_suppkey, supp_qty, part_qty, n_suppliers,
        |  (supp_qty * 10000 // part_qty)::BIGINT AS share_e4
        |FROM t WHERE supp_qty * n_suppliers > 3 * part_qty
        |ORDER BY l_partkey, l_suppkey""".stripMargin,
    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue::DOUBLE AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_order_backlog" ->
      """WITH ls AS (
        |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship_day
        |  FROM lineitem GROUP BY 1),
        |iv AS (
        |  SELECT CAST(o_orderdate AS DATE) AS start_day, last_ship_day
        |  FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |deltas AS (
        |  SELECT start_day AS day, 1::BIGINT AS opened, 0::BIGINT AS closed
        |  FROM iv
        |  UNION ALL
        |  SELECT last_ship_day + 1, 0::BIGINT, 1::BIGINT FROM iv),
        |daily AS (
        |  SELECT day, sum(opened)::BIGINT AS n_opened,
        |    sum(closed)::BIGINT AS n_closed
        |  FROM deltas GROUP BY 1)
        |SELECT epoch_us(day::TIMESTAMP) AS day_us, n_opened, n_closed,
        |  sum(n_opened - n_closed) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS open_orders
        |FROM daily ORDER BY day_us""".stripMargin,
    "q_sql_quality_histogram" ->
      """SELECT event_type,
        |  (CASE WHEN user_id IS NOT NULL AND CAST(user_id AS VARCHAR) <> '' AND CAST(user_id AS VARCHAR) <> 'unknown' THEN 25 ELSE 0 END
        |      + CASE WHEN props IS NOT NULL AND props <> '' THEN 25 ELSE 0 END
        |      + CASE WHEN value > 0 THEN 25 ELSE 0 END
        |      + CASE WHEN ts IS NOT NULL THEN 25 ELSE 0 END)::INTEGER AS data_quality_score,
        |  count(*) AS record_count,
        |  round(avg(length(props)), 4) AS avg_message_length
        |FROM events GROUP BY 1, 2 ORDER BY event_type, data_quality_score DESC""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_base_price,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))::DOUBLE AS sum_disc_price,
        |  round(sum(l_quantity) / count(*), 4) AS avg_qty,
        |  round(sum(CAST(l_discount AS DECIMAL(4,2)))::DOUBLE / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue,
        |  count(*) AS order_count
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_revenue_by_brand" ->
      """SELECT p_brand,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))::DOUBLE AS revenue,
        |  count(*) AS line_count
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_shipping_priority" ->
      """SELECT o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))::DOUBLE AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q_top_orders_per_customer_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q_order_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_salted_join" ->
      """SELECT p_brand, count(*) AS line_count, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_zorder_layout" ->
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
         |  (${zSqlExpr("l_partkey", "l_suppkey", 20)}) AS zval
         |  FROM lineitem)
         |SELECT zval >> 12 AS bucket, count(*) AS n,
         |  min(l_partkey) AS part_lo, max(l_partkey) AS part_hi,
         |  min(l_suppkey) AS supp_lo, max(l_suppkey) AS supp_hi
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_order_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_corr_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_except_users" ->
      """SELECT user_id FROM events
        |WHERE event_type = 'view' AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |EXCEPT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |ORDER BY user_id""".stripMargin,
    "q_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_above_avg_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
        |  (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) / count(*) FROM orders)
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_nation_trade_flows" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))::DOUBLE AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |WHERE cn.n_name < sn.n_name
        |GROUP BY 1, 2 ORDER BY cust_nation, supp_nation""".stripMargin,
    "q_big_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, total_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem
        |  GROUP BY 1 HAVING sum(l_quantity) > 300
        |) ON o_orderkey = l_orderkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_forecast_revenue" ->
      """SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin,
    "q_market_share" ->
      """WITH base AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS rev,
        |    (sn.n_name = 'NATION_2') AS is_target
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation cn ON c_nationkey = cn.n_nationkey
        |    JOIN region ON cn.n_regionkey = r_regionkey
        |    WHERE r_name = 'ASIA'))
        |SELECT o_year,
        |  ((sum(CASE WHEN is_target THEN rev ELSE 0 END) * 10000)::BIGINT * 10000
        |    // (sum(rev) * 10000)::BIGINT)::BIGINT AS mkt_share_e4,
        |  (sum(rev) * 10000)::BIGINT / 10000.0 AS total_revenue
        |FROM base GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_order_count_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_promo_share" ->
      """WITH base AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS rev,
        |    (p_type = 'PROMO') AS is_promo
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        |SELECT
        |  ((sum(CASE WHEN is_promo THEN rev ELSE 0 END) * 10000)::BIGINT * 1000000
        |    // (sum(rev) * 10000)::BIGINT)::BIGINT AS promo_share_e6,
        |  (sum(CASE WHEN is_promo THEN rev ELSE 0 END) * 10000)::BIGINT / 10000.0 AS promo_revenue,
        |  (sum(rev) * 10000)::BIGINT / 10000.0 AS total_revenue
        |FROM base""".stripMargin,
    "q_disjunctive_revenue" ->
      """SELECT
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))::DOUBLE AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON l1.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q_lapsed_high_balance" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE AS total_bal
        |FROM customer
        |WHERE (CAST(c_acctbal AS DECIMAL(18,2)) * 100)::BIGINT >
        |  (SELECT (sum((CAST(c_acctbal AS DECIMAL(18,2)) * 100)::BIGINT) // count(*))::BIGINT
        |   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_basket_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS part_a, b.pk AS part_b, count(*)::BIGINT AS support
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |counts AS (SELECT pk, count(*)::BIGINT AS cnt FROM items GROUP BY 1),
        |total AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM items)
        |SELECT part_a, part_b, support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  floor(10000.0 * support * n_orders / (ca.cnt * cb.cnt))::BIGINT
        |    AS lift_e4
        |FROM pairs
        |JOIN counts ca ON ca.pk = part_a
        |JOIN counts cb ON cb.pk = part_b
        |CROSS JOIN total
        |ORDER BY support DESC, part_a, part_b LIMIT 100""".stripMargin,
    "q_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    max(o_orderdate) AS last_order,
        |    count(*)::BIGINT AS frequency,
        |    sum((CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT)::BIGINT
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT *, date_diff('day', last_order,
        |      (SELECT max(o_orderdate) FROM orders))::BIGINT AS recency_days
        |  FROM per),
        |b AS (
        |  SELECT
        |    quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rb,
        |    quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fb,
        |    quantile_cont(monetary_cents, [0.25, 0.5, 0.75]) AS mb
        |  FROM r),
        |scored AS (
        |  SELECT monetary_cents,
        |    1 + (recency_days > rb[1])::INT + (recency_days > rb[2])::INT
        |      + (recency_days > rb[3])::INT AS r_s,
        |    4 - (frequency > fb[1])::INT - (frequency > fb[2])::INT
        |      - (frequency > fb[3])::INT AS f_s,
        |    4 - (monetary_cents > mb[1])::INT - (monetary_cents > mb[2])::INT
        |      - (monetary_cents > mb[3])::INT AS m_s
        |  FROM r CROSS JOIN b)
        |SELECT r_s::VARCHAR || f_s::VARCHAR || m_s::VARCHAR AS segment,
        |  count(*)::BIGINT AS n_customers,
        |  sum(monetary_cents)::BIGINT AS total_cents,
        |  (sum(monetary_cents) // count(*))::BIGINT AS avg_cents
        |FROM scored GROUP BY 1 ORDER BY segment""".stripMargin,
    "q_distinct_profile" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps, max(gap_us) AS max_gap_us,
        |  (sum(gap_us) // count(*))::BIGINT AS avg_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_event_transitions" ->
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS n
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  (n * 10000 // sum(n) OVER (PARTITION BY from_type))::BIGINT AS p_e4
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "q_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |             THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END)
        |      AS pre,
        |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |             THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END)
        |      AS post
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(pre::HUGEINT) AS sx, sum(post::HUGEINT) AS sy,
        |    sum(pre::HUGEINT * pre::HUGEINT) AS sxx,
        |    sum(pre::HUGEINT * post::HUGEINT) AS sxy
        |  FROM u),
        |a AS (
        |  SELECT user_id % 2 AS arm, count(*)::BIGINT AS n_users,
        |    sum(pre::HUGEINT) AS sx_a, sum(post::HUGEINT) AS sy_a
        |  FROM u GROUP BY 1)
        |SELECT arm, n_users,
        |  round(sx_a::DOUBLE / n_users::DOUBLE, 4) AS mean_pre_cents,
        |  round(sy_a::DOUBLE / n_users::DOUBLE, 4) AS mean_post_cents,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |      / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
        |    AS theta,
        |  round(sy_a::DOUBLE / n_users::DOUBLE
        |    - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |       / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
        |      * (sx_a::DOUBLE / n_users::DOUBLE - sx::DOUBLE / n::DOUBLE), 4)
        |    AS adjusted_mean_cents
        |FROM a CROSS JOIN m ORDER BY arm""".stripMargin,
    "q_equidepth_hist" ->
      """WITH v AS (
        |  SELECT (CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT AS cents
        |  FROM orders),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rnk FROM v),
        |t AS (SELECT count(*)::BIGINT AS n FROM v),
        |g AS (SELECT unnest(range(1, 16))::BIGINT AS j)
        |SELECT j, (j * n // 16)::BIGINT AS target_rank,
        |  cents AS boundary_cents
        |FROM g CROSS JOIN t JOIN r ON rnk = j * n // 16
        |ORDER BY j""".stripMargin,
    "q_jackknife" ->
      """WITH b AS (
        |  SELECT o_orderkey % 32 AS g, count(*)::BIGINT AS n_g,
        |    sum((CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT)::BIGINT
        |      AS s_g
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s,
        |        count(*)::BIGINT AS k FROM b),
        |l AS (
        |  SELECT n, s, k,
        |    round((s - s_g)::DOUBLE / (n - n_g)::DOUBLE * 1000000, 0)::HUGEINT
        |      AS loo_e6
        |  FROM b CROSS JOIN t)
        |SELECT n, round(s::DOUBLE / n::DOUBLE, 4) AS mean_cents,
        |  round(sqrt((k - 1)::DOUBLE / k::DOUBLE *
        |    (sum(loo_e6 * loo_e6)::DOUBLE / 1e12
        |     - (sum(loo_e6)::DOUBLE / 1e6) * (sum(loo_e6)::DOUBLE / 1e6)
        |       / k::DOUBLE)), 4) AS jackknife_se_cents
        |FROM l GROUP BY n, s, k""".stripMargin,
    "q_join_cardinality" ->
      """WITH o AS (
        |  SELECT o_custkey // 64 AS bucket, count(*)::BIGINT AS n_orders,
        |    count(DISTINCT o_custkey)::BIGINT AS ndv_orders
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT c_custkey // 64 AS bucket, count(*)::BIGINT AS n_cust,
        |    count(DISTINCT c_custkey)::BIGINT AS ndv_cust
        |  FROM customer GROUP BY 1),
        |act AS (
        |  SELECT o_custkey // 64 AS bucket, count(*)::BIGINT AS n_actual
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |f AS (
        |  SELECT coalesce(o.bucket, c.bucket) AS bucket,
        |    coalesce(n_orders, 0) AS n_orders,
        |    coalesce(ndv_orders, 0) AS ndv_orders,
        |    coalesce(n_cust, 0) AS n_cust, coalesce(ndv_cust, 0) AS ndv_cust
        |  FROM o FULL JOIN c ON o.bucket = c.bucket)
        |SELECT f.bucket, n_orders, ndv_orders, n_cust, ndv_cust,
        |  coalesce(n_actual, 0)::BIGINT AS n_actual,
        |  (n_orders * n_cust // greatest(ndv_orders, ndv_cust, 1))::BIGINT AS est,
        |  (abs(n_orders * n_cust // greatest(ndv_orders, ndv_cust, 1)
        |       - coalesce(n_actual, 0)) * 10000
        |    // greatest(coalesce(n_actual, 0), 1))::BIGINT AS err_e4
        |FROM f LEFT JOIN act ON f.bucket = act.bucket
        |ORDER BY f.bucket""".stripMargin,
    "q_markov_eval" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_ts,
        |    event_type AS to_type, ts
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type,
        |    sum(CASE WHEN from_ts < TIMESTAMP '2024-01-15 00:00:00'
        |              AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |             THEN 1 ELSE 0 END)::BIGINT AS n_train,
        |    sum(CASE WHEN from_ts >= TIMESTAMP '2024-01-15 00:00:00'
        |             THEN 1 ELSE 0 END)::BIGINT AS n_eval
        |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |m AS (
        |  SELECT from_type, to_type AS predicted, n_train AS n_train_top
        |  FROM (SELECT *, row_number() OVER (PARTITION BY from_type
        |          ORDER BY n_train DESC, to_type) AS rk
        |        FROM c WHERE n_train > 0) WHERE rk = 1)
        |SELECT c.from_type, max(m.predicted) AS predicted,
        |  coalesce(max(m.n_train_top), 0)::BIGINT AS n_train_top,
        |  sum(c.n_eval)::BIGINT AS n_eval,
        |  sum(CASE WHEN c.to_type = m.predicted THEN c.n_eval ELSE 0 END)::BIGINT
        |    AS n_hits,
        |  (sum(CASE WHEN c.to_type = m.predicted THEN c.n_eval ELSE 0 END)
        |    * 10000 // sum(c.n_eval))::BIGINT AS acc_e4
        |FROM c LEFT JOIN m USING (from_type)
        |WHERE c.n_eval > 0 GROUP BY 1 ORDER BY c.from_type""".stripMargin,
    "q_disorder_profile" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |l AS (
        |  SELECT event_type,
        |    CASE WHEN wm_before IS NULL THEN 0
        |         ELSE greatest(0, wm_before - ts_us) END AS late_us
        |  FROM (SELECT event_type, ts_us,
        |          max(ts_us) OVER (ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_before
        |        FROM e))
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
        |  sum(CASE WHEN late_us > 1000000 THEN 1 ELSE 0 END)::BIGINT AS n_late_1s,
        |  sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)::BIGINT AS n_late_1m,
        |  sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)::BIGINT AS n_late_10m,
        |  max(late_us)::BIGINT AS max_late_us,
        |  (sum(late_us) // count(*))::BIGINT AS avg_late_us,
        |  (sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 10000 // count(*))::BIGINT
        |    AS late_share_e4
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_forget" ->
      """WITH tomb AS (
        |  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
        |j AS (
        |  SELECT e.event_type, e.user_id,
        |    CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS gone
        |  FROM events e LEFT JOIN tomb t ON e.user_id = t.user_id)
        |SELECT event_type, count(*)::BIGINT AS n_total,
        |  sum(gone)::BIGINT AS n_dropped,
        |  sum(1 - gone)::BIGINT AS n_left,
        |  count(DISTINCT CASE WHEN gone = 1 THEN user_id END)::BIGINT
        |    AS n_users_dropped,
        |  (sum(gone) * 10000 // count(*))::BIGINT AS dropped_share_e4
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_partitioned_scan" ->
      """SELECT event_type, count(*) AS event_count,
        |  round(sum(CAST(value AS DECIMAL(12,2)))::DOUBLE / count(*), 4) AS avg_value,
        |  epoch_us(max(ts)) AS latest_event_us
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_partitioned_dim_scan" ->
      """WITH dim(dim_date, tag) AS (VALUES
        |  (DATE '2024-01-05', 'keep'),
        |  (DATE '2024-01-12', 'keep'),
        |  (DATE '2024-01-20', 'drop'))
        |SELECT CAST(ts AS DATE) AS event_date, count(*) AS event_count,
        |  round(sum(CAST(value AS DECIMAL(12,2)))::DOUBLE, 2) AS sum_value
        |FROM events JOIN dim ON CAST(ts AS DATE) = dim.dim_date
        |WHERE dim.tag = 'keep'
        |GROUP BY 1 ORDER BY event_date""".stripMargin,
    "q_rowgroup_prune" ->
      """WITH base AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    dayofyear(CAST(ts AS DATE))::BIGINT AS doy
        |  FROM events),
        |blocks AS (
        |  SELECT 'arrival' AS layout, event_id // 8192 AS block,
        |    count(*)::BIGINT AS n, min(ts_us) AS min_us, max(ts_us) AS max_us
        |  FROM base GROUP BY 2
        |  UNION ALL
        |  SELECT 'by_day' AS layout, doy AS block,
        |    count(*)::BIGINT AS n, min(ts_us) AS min_us, max(ts_us) AS max_us
        |  FROM base GROUP BY 2),
        |grid AS (SELECT * FROM (VALUES
        |  ('last_day', 1706572800000000, 9223372036854775807),
        |  ('last_half', 1705276800000000, 9223372036854775807),
        |  ('one_day', 1704844800000000, 1704931200000000)) t(pred, lo_us, hi_us)),
        |m AS (
        |  SELECT pred, count(*)::BIGINT AS rows_matched
        |  FROM base JOIN grid ON ts_us >= lo_us AND ts_us < hi_us
        |  GROUP BY 1),
        |r AS (
        |  SELECT layout, pred,
        |    count(*)::BIGINT AS n_blocks,
        |    sum(CASE WHEN max_us >= lo_us AND min_us < hi_us THEN 1 ELSE 0 END)::BIGINT
        |      AS blocks_read,
        |    sum(CASE WHEN max_us >= lo_us AND min_us < hi_us THEN n ELSE 0 END)::BIGINT
        |      AS rows_read
        |  FROM blocks CROSS JOIN grid GROUP BY 1, 2)
        |SELECT r.layout, r.pred, r.n_blocks, r.blocks_read, r.rows_read,
        |  coalesce(m.rows_matched, 0)::BIGINT AS rows_matched,
        |  ((r.n_blocks - r.blocks_read) * 10000 // r.n_blocks)::BIGINT AS skip_e4,
        |  CASE WHEN r.rows_read = 0 THEN 0
        |       ELSE (r.rows_read - coalesce(m.rows_matched, 0)) * 10000 // r.rows_read
        |  END::BIGINT AS waste_e4
        |FROM r LEFT JOIN m USING (pred)
        |ORDER BY r.layout, r.pred""".stripMargin,
    "q_encoding_advisor" ->
      """WITH s AS (
        |  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', CAST(o_orderkey AS VARCHAR) FROM orders),
        |a AS (
        |  SELECT col_name, count(*)::BIGINT AS n_rows,
        |    count(DISTINCT v)::BIGINT AS ndv,
        |    sum(length(v))::BIGINT AS raw_bytes
        |  FROM s GROUP BY 1)
        |SELECT col_name, n_rows, ndv, raw_bytes,
        |  (raw_bytes * 100 // n_rows)::BIGINT AS avg_len_e2,
        |  (n_rows * 4 + ndv * ((raw_bytes * 100 // n_rows) // 100 + 4))::BIGINT
        |    AS dict_bytes,
        |  (n_rows * 4 + ndv * ((raw_bytes * 100 // n_rows) // 100 + 4))
        |    < raw_bytes AS dict_saves,
        |  (ndv * 10000 // n_rows)::BIGINT AS ndv_share_e4
        |FROM a ORDER BY col_name""".stripMargin,
    "q_churn_labels" ->
      """SELECT user_id,
        |  sum(CASE WHEN ts < TIMESTAMP '2024-01-23 00:00:00' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_events_feat,
        |  sum(CASE WHEN ts < TIMESTAMP '2024-01-23 00:00:00'
        |            AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_purchases_feat,
        |  count(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-23 00:00:00'
        |                      THEN CAST(ts AS DATE) END)::BIGINT AS n_days_feat,
        |  sum(CASE WHEN ts < TIMESTAMP '2024-01-23 00:00:00'
        |           THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END)::BIGINT
        |    AS value_cents_feat,
        |  sum(CASE WHEN ts >= TIMESTAMP '2024-01-23 00:00:00' THEN 1 ELSE 0 END) = 0
        |    AS churned
        |FROM events GROUP BY user_id
        |HAVING sum(CASE WHEN ts < TIMESTAMP '2024-01-23 00:00:00' THEN 1 ELSE 0 END) > 0
        |ORDER BY user_id""".stripMargin,
    "q_survival_km" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
        |  GROUP BY 1),
        |dur AS (
        |  SELECT CASE WHEN p.p_ts IS NOT NULL
        |              THEN datediff('day', CAST(v.v_ts AS DATE), CAST(p.p_ts AS DATE))
        |              ELSE datediff('day', CAST(v.v_ts AS DATE), DATE '2024-01-31')
        |         END::BIGINT AS t_days,
        |    (p.p_ts IS NOT NULL) AS converted
        |  FROM v LEFT JOIN p ON v.user_id = p.user_id),
        |days AS (
        |  SELECT t_days,
        |    sum(CASE WHEN converted THEN 1 ELSE 0 END)::BIGINT AS d_events,
        |    sum(CASE WHEN converted THEN 0 ELSE 1 END)::BIGINT AS c_censored
        |  FROM dur GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n_total FROM dur),
        |r AS (
        |  SELECT t_days, d_events, c_censored,
        |    n_total - coalesce(sum(d_events + c_censored) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM days CROSS JOIN t)
        |SELECT t_days, n_risk::BIGINT AS n_risk, d_events, c_censored,
        |  round(CASE WHEN max(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN 0.0
        |    ELSE exp(sum(CASE WHEN d_events > 0 AND d_events < n_risk
        |      THEN ln(1.0 - d_events::DOUBLE / n_risk::DOUBLE) ELSE 0.0 END)
        |      OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END
        |    * 10000, 0)::BIGINT AS km_e4
        |FROM r ORDER BY t_days""".stripMargin,
    "q_state_sizing" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |gp AS (
        |  SELECT ts_us,
        |    ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS prev_gap,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us
        |      AS next_gap
        |  FROM e),
        |x AS (
        |  SELECT ts_us, prev_gap, next_gap,
        |    unnest([60000000, 600000000, 3600000000])::BIGINT AS g
        |  FROM gp),
        |d0 AS (
        |  SELECT g, ts_us // 60000000 AS minute,
        |    CASE WHEN prev_gap IS NULL OR prev_gap > g THEN 1 ELSE 0 END AS opens
        |  FROM x
        |  UNION ALL
        |  SELECT g, (ts_us + g) // 60000000 AS minute,
        |    CASE WHEN next_gap IS NULL OR next_gap > g THEN -1 ELSE 0 END AS opens
        |  FROM x),
        |d AS (
        |  SELECT g, minute, sum(opens)::BIGINT AS delta,
        |    sum(CASE WHEN opens > 0 THEN 1 ELSE 0 END)::BIGINT AS n_open
        |  FROM d0 WHERE opens <> 0 GROUP BY 1, 2),
        |r AS (
        |  SELECT g, minute, delta, n_open,
        |    sum(delta) OVER (PARTITION BY g ORDER BY minute
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_sessions
        |  FROM d)
        |SELECT g, sum(n_open)::BIGINT AS n_sessions,
        |  max(open_sessions)::BIGINT AS peak_concurrent,
        |  (max(minute) - min(minute))::BIGINT AS span_minutes,
        |  (sum(open_sessions * 100) // count(*))::BIGINT AS mean_at_changes_e2
        |FROM r GROUP BY g ORDER BY g""".stripMargin,
    "q_kanon" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, hour(ts) AS hr,
        |    count(*)::BIGINT AS n_rows,
        |    count(DISTINCT user_id)::BIGINT AS n_users
        |  FROM events GROUP BY 1, 2, 3),
        |grid AS (SELECT * FROM (VALUES (2), (5), (10), (20)) t(k))
        |SELECT k::BIGINT AS k, count(*)::BIGINT AS n_cells,
        |  sum(n_rows)::BIGINT AS n_rows_total,
        |  sum(CASE WHEN n_rows < k THEN 1 ELSE 0 END)::BIGINT AS risky_cells,
        |  sum(CASE WHEN n_rows < k THEN n_rows ELSE 0 END)::BIGINT AS risky_rows,
        |  sum(CASE WHEN n_users < k THEN 1 ELSE 0 END)::BIGINT AS lowdiv_cells,
        |  sum(CASE WHEN n_users < k THEN n_rows ELSE 0 END)::BIGINT AS lowdiv_rows,
        |  (sum(CASE WHEN n_rows < k THEN n_rows ELSE 0 END) * 10000
        |    // sum(n_rows))::BIGINT AS risky_share_e4,
        |  (sum(CASE WHEN n_users < k THEN n_rows ELSE 0 END) * 10000
        |    // sum(n_rows))::BIGINT AS lowdiv_share_e4
        |FROM cells CROSS JOIN grid GROUP BY k ORDER BY k""".stripMargin,
    "q_dp_contribution" ->
      """WITH c AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, user_id,
        |    count(*)::BIGINT AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3),
        |g AS (SELECT unnest([1, 2, 4, 8, 16])::BIGINT AS cap)
        |SELECT cap, count(*)::BIGINT AS n_user_cells,
        |  sum(c)::BIGINT AS raw_rows,
        |  sum(least(c, cap))::BIGINT AS kept_rows,
        |  sum(CASE WHEN c > cap THEN 1 ELSE 0 END)::BIGINT AS clipped_user_cells,
        |  max(c)::BIGINT AS max_contrib,
        |  ((sum(c) - sum(least(c, cap))) * 10000 // sum(c))::BIGINT
        |    AS dropped_share_e4
        |FROM c CROSS JOIN g GROUP BY cap ORDER BY cap""".stripMargin,
    "q_session_stats" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) < 21600000000
        |         THEN 0 ELSE 1 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_idx,
        |    max(ts_us) - min(ts_us) AS dur_us, count(*)::BIGINT AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_sessions,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  (sum(n_events) // count(*))::BIGINT AS avg_events_per_session,
        |  (sum(dur_us) // count(*))::BIGINT AS avg_duration_us,
        |  max(dur_us)::BIGINT AS max_duration_us,
        |  (sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 // count(*))::BIGINT
        |    AS single_event_share_e4
        |FROM sess""".stripMargin,
    "q_user_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) < 21600000000
        |         THEN 0 ELSE 1 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx::BIGINT AS session_idx,
        |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |  count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rolling_revenue" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS day_num,
        |    sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT) AS rev_cents,
        |    count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT day_num,
        |  rev_cents / 100.0 AS day_revenue,
        |  ((sum(rev_cents) OVER w * 100) // (sum(n) OVER w))::BIGINT AS rolling_avg_order_e4,
        |  (sum(n) OVER w)::BIGINT AS rolling_orders
        |FROM daily
        |WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day_num""".stripMargin,
    "q_user_value_ranks" ->
      """SELECT user_id, event_id, value,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_sql_no_small_orders" ->
      """SELECT c.c_custkey, c.c_name
        |FROM customer c
        |WHERE c.c_acctbal > 9000.0
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice < 50000.0)
        |ORDER BY c.c_custkey""".stripMargin,
    "q_sql_min_cost_supplier" ->
      """SELECT l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem l1
        |WHERE l_partkey <= 200
        |  AND l_extendedprice = (SELECT min(l_extendedprice)
        |                         FROM lineitem l2
        |                         WHERE l2.l_partkey = l1.l_partkey)
        |ORDER BY l_partkey, l_suppkey""".stripMargin,
    "q_sql_grouping_sets" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(EXTRACT(hour FROM ts), -1)::INTEGER AS hour_of_day,
        |  GROUPING(event_type)::INTEGER AS g_type,
        |  GROUPING(EXTRACT(hour FROM ts))::INTEGER AS g_hour,
        |  count(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (EXTRACT(hour FROM ts)), ())
        |ORDER BY g_type, g_hour, event_type, hour_of_day""".stripMargin,
    "q_orders_of_segment" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_doc_stats" ->
      """SELECT doc_id, lang, length(text)::BIGINT AS n_chars,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(list_distinct(toks))::BIGINT AS n_distinct_tokens,
        |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
        |FROM (SELECT doc_id, lang, text, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(len(regexp_split_to_array(lower(text), '\s+')))::BIGINT AS total_tokens,
        |  round(avg(length(text)), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_token_counts" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN hits_en = mx AND mx > 0 THEN 'en'
        |       WHEN hits_de = mx AND mx > 0 THEN 'de'
        |       WHEN hits_es = mx AND mx > 0 THEN 'es'
        |       WHEN hits_fr = mx AND mx > 0 THEN 'fr'
        |       WHEN hits_zh = mx AND mx > 0 THEN 'zh'
        |       ELSE 'und' END AS predicted_lang,
        |  mx AS marker_hits
        |FROM (
        |  SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |    greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS mx
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(toks, t -> t IN ('the','a','of','and','to')))::BIGINT AS hits_en,
        |      len(list_filter(toks, t -> t IN ('der','die','das','und','ist')))::BIGINT AS hits_de,
        |      len(list_filter(toks, t -> t IN ('el','la','los','de','que')))::BIGINT AS hits_es,
        |      len(list_filter(toks, t -> t IN ('le','la','les','et','est')))::BIGINT AS hits_fr,
        |      len(list_filter(toks, t -> t IN ('的','是','了','在','我')))::BIGINT AS hits_zh
        |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)))
        |ORDER BY doc_id""".stripMargin,
    "q_lang_confusion" ->
      """SELECT lang,
        |  CASE WHEN hits_en = mx AND mx > 0 THEN 'en'
        |       WHEN hits_de = mx AND mx > 0 THEN 'de'
        |       WHEN hits_es = mx AND mx > 0 THEN 'es'
        |       WHEN hits_fr = mx AND mx > 0 THEN 'fr'
        |       WHEN hits_zh = mx AND mx > 0 THEN 'zh'
        |       ELSE 'und' END AS predicted_lang,
        |  count(*)::BIGINT AS n_docs
        |FROM (
        |  SELECT lang, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |    greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS mx
        |  FROM (
        |    SELECT lang,
        |      len(list_filter(toks, t -> t IN ('the','a','of','and','to')))::BIGINT AS hits_en,
        |      len(list_filter(toks, t -> t IN ('der','die','das','und','ist')))::BIGINT AS hits_de,
        |      len(list_filter(toks, t -> t IN ('el','la','los','de','que')))::BIGINT AS hits_es,
        |      len(list_filter(toks, t -> t IN ('le','la','les','et','est')))::BIGINT AS hits_fr,
        |      len(list_filter(toks, t -> t IN ('的','是','了','在','我')))::BIGINT AS hits_zh
        |    FROM (SELECT lang, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)))
        |GROUP BY 1, 2 ORDER BY lang, predicted_lang""".stripMargin,
    "q_lang_id_ngram" ->
      """SELECT doc_id,
        |  CASE WHEN c_en = mx AND mx > 0 THEN 'en'
        |       WHEN c_de = mx AND mx > 0 THEN 'de'
        |       WHEN c_es = mx AND mx > 0 THEN 'es'
        |       WHEN c_fr = mx AND mx > 0 THEN 'fr'
        |       ELSE 'und' END AS predicted_lang,
        |  mx AS trigram_hits
        |FROM (
        |  SELECT doc_id, c_en, c_de, c_es, c_fr,
        |    greatest(c_en, c_de, c_es, c_fr) AS mx
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(tg, t -> t IN ('the', ' th', 'he ', 'ing', 'and')))::BIGINT AS c_en,
        |      len(list_filter(tg, t -> t IN ('der', 'ein', 'ich', 'sch', 'und')))::BIGINT AS c_de,
        |      len(list_filter(tg, t -> t IN (' el', 'los', 'ión', 'que', 'ado')))::BIGINT AS c_es,
        |      len(list_filter(tg, t -> t IN (' le', 'les', 'eur', 'ait', 'oux')))::BIGINT AS c_fr
        |    FROM (
        |      SELECT doc_id,
        |        CASE WHEN length(lower(text)) >= 3
        |             THEN list_transform(range(1, length(lower(text)) - 1),
        |                                 i -> substr(lower(text), i::INT, 3))
        |             ELSE [] END AS tg
        |      FROM documents)))
        |ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, round(len_score, 4) AS len_score,
        |  round(stop_score, 4) AS stopword_score,
        |  round(diversity, 4) AS diversity,
        |  round((len_score + stop_score + diversity) / 3.0, 4) AS quality
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0
        |         WHEN n_chars < 100 THEN n_chars / 100.0
        |         ELSE 450.0 / n_chars END AS len_score,
        |    least(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) * 10.0, 1.0) AS stop_score,
        |    len(list_distinct(toks))::DOUBLE / len(toks) AS diversity
        |  FROM (SELECT doc_id, n_chars, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q_repetition_signals" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |tc AS (
        |  SELECT doc_id, term, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |    count(*) AS n_distinct_tokens, max(c) AS top_word_count
        |  FROM tc GROUP BY 1),
        |rl AS (
        |  SELECT doc_id,
        |    len(list_distinct(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])))::BIGINT AS n_distinct_2grams
        |  FROM toks)
        |SELECT a.doc_id, n_tokens, n_distinct_tokens, top_word_count,
        |  ((n_tokens - n_distinct_tokens) * 10000 // n_tokens)::BIGINT AS dup_word_frac_e4,
        |  CASE WHEN n_tokens >= 2
        |       THEN ((n_tokens - 1 - n_distinct_2grams) * 10000 // (n_tokens - 1))::BIGINT
        |       ELSE 0 END AS dup_2gram_frac_e4,
        |  (top_word_count * 10000 // n_tokens)::BIGINT AS top_word_share_e4
        |FROM agg a JOIN rl USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_doc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |st AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t), 24)) AS s FROM toks)
        |SELECT doc_id, ((s - 1) // 24)::BIGINT AS chunk_idx,
        |  least(32, len(t) - s + 1)::BIGINT AS n_chunk_tokens,
        |  array_to_string(t[s : s + 31], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_unicode_tokens" ->
      s"""WITH planted AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN '${uniFrags(0)}' WHEN 1 THEN '${uniFrags(1)}'
        |         WHEN 2 THEN '${uniFrags(2)}' ELSE '${uniFrags(3)}' END
        |    || ' ' || '$uniTail' || ' ' || doc_id::VARCHAR AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, text, lower(text) AS lt,
        |    regexp_split_to_array(lower(text), '\\s+') AS toks,
        |    CASE WHEN length(lower(text)) >= 3
        |         THEN list_transform(range(1, length(lower(text)) - 1),
        |                             i -> substr(lower(text), i::INT, 3))
        |         ELSE [] END AS tris
        |  FROM planted)
        |SELECT doc_id,
        |  length(text)::BIGINT AS n_chars,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_bpeish,
        |  len(tris)::BIGINT AS n_trigrams,
        |  md5(array_to_string(toks, '|')) AS tokens_md5,
        |  md5(array_to_string(tris, '|')) AS trigrams_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      """WITH planted AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN ' contact a' || doc_id::VARCHAR || '@mail.example.com'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |            ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7'
        |            ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones,
        |  len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))::BIGINT AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
        |FROM planted ORDER BY doc_id""".stripMargin,
    "q_tfidf_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, rnk, term, tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |  FROM s)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // constants written as (1.2 + 1.0)/(1.0 - 0.75) so both engines run the
    // same IEEE ops the Scala side computes in lit(k1 + 1.0)/lit(1.0 - b)
    "q_bm25_search" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl, toks FROM t),
        |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        |sc AS (SELECT doc_id,
        |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) * 10000.0, 0)::BIGINT AS score_e4
        |       FROM tf JOIN df USING (term) CROSS JOIN s)
        |SELECT doc_id, sum(score_e4)::BIGINT AS score_e4 FROM sc GROUP BY doc_id
        |ORDER BY score_e4 DESC, doc_id LIMIT 20""".stripMargin,
    "q_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |              (a, b) -> (a * 31 + b) % 1000000007)::BIGINT AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_boilerplate_phrases" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |d AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY 1 HAVING count(*) >= 5)
        |SELECT row_number() OVER (ORDER BY df DESC, shingle)::BIGINT AS rnk, shingle, df
        |FROM d ORDER BY df DESC, shingle LIMIT 20""".stripMargin,
    "q_source_ngram_overlap" ->
      """WITH t AS (
        |  SELECT source, regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT source, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT
        |    AS n_shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  (n_shared * 10000 // sa.sz)::BIGINT AS containment_a_e4,
        |  (n_shared * 10000 // sb.sz)::BIGINT AS containment_b_e4
        |FROM inter
        |JOIN sizes sa ON src_a = sa.source
        |JOIN sizes sb ON src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    "q_cross_source_dups" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.5)
        |SELECT count(*)::BIGINT AS n_pairs,
        |  coalesce(sum(CASE WHEN da.source = db.source THEN 1 ELSE 0 END), 0)::BIGINT AS n_same_source,
        |  coalesce(sum(CASE WHEN da.source <> db.source THEN 1 ELSE 0 END), 0)::BIGINT AS n_cross_source
        |FROM pairs
        |JOIN documents da ON doc_a = da.doc_id
        |JOIN documents db ON doc_b = db.doc_id""".stripMargin,
    "q_vocab_oov" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
        |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT 20)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  (sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 10000
        |     // count(*))::BIGINT AS oov_rate_e4
        |FROM tok t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_systematic_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
        |  FROM d),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS w_total FROM d)
        |SELECT doc_id, source, n_tokens,
        |  ((cum_before + n_tokens)::HUGEINT * 200 // w_total
        |    - cum_before::HUGEINT * 200 // w_total)::BIGINT AS n_copies
        |FROM w CROSS JOIN tot
        |WHERE (cum_before + n_tokens)::HUGEINT * 200 // w_total
        |    - cum_before::HUGEINT * 200 // w_total >= 1
        |ORDER BY doc_id""".stripMargin,
    "q_blocklist_stats" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id, source,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(list_filter(toks,
        |    t -> list_contains(['slow','dup','corrupt','spam'], t)))::BIGINT AS n_hits,
        |  CASE WHEN len(toks) > 0 THEN
        |    (len(list_filter(toks,
        |       t -> list_contains(['slow','dup','corrupt','spam'], t))) * 10000
        |      // len(toks))::BIGINT ELSE 0 END AS hit_ratio_e4,
        |  len(list_filter(toks,
        |    t -> list_contains(['slow','dup','corrupt','spam'], t))) = 0 AS kept
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_source_similarity" ->
      """WITH st AS (
        |  SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM st GROUP BY 1, 2),
        |corpus AS (
        |  SELECT term, sum(tf)::BIGINT AS ctf FROM tf GROUP BY 1
        |  ORDER BY ctf DESC, term LIMIT 20),
        |cn AS (SELECT sum(ctf::HUGEINT * ctf) AS c_sq FROM corpus),
        |ps AS (
        |  SELECT tf.source,
        |    count(*)::BIGINT AS n_vocab_terms,
        |    sum(tf.tf)::BIGINT AS n_vocab_tokens,
        |    sum(tf.tf::HUGEINT * c.ctf) AS dot,
        |    sum(tf.tf::HUGEINT * tf.tf) AS s_sq
        |  FROM tf JOIN corpus c USING (term) GROUP BY 1)
        |SELECT source, n_vocab_terms, n_vocab_tokens,
        |  round(dot::DOUBLE / (sqrt(s_sq::DOUBLE) * sqrt(c_sq::DOUBLE)), 6)
        |    AS cos_vs_corpus
        |FROM ps CROSS JOIN cn ORDER BY source""".stripMargin,
    "q_vocab_coverage" ->
      """WITH cnt AS (
        |  SELECT term, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |    FROM documents) GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS total_tokens FROM cnt),
        |ranked AS (
        |  SELECT c,
        |    row_number() OVER (ORDER BY c DESC, term) AS rank,
        |    sum(c) OVER (ORDER BY c DESC, term ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM cnt),
        |sizes AS (SELECT unnest([5, 10, 20, 30, 40])::BIGINT AS vocab_size)
        |SELECT vocab_size,
        |  max(cum)::BIGINT AS covered_tokens,
        |  max(rank)::BIGINT AS n_terms_used,
        |  total_tokens,
        |  (max(cum) * 10000 // total_tokens)::BIGINT AS coverage_e4
        |FROM ranked JOIN sizes ON rank <= vocab_size CROSS JOIN tot
        |GROUP BY vocab_size, total_tokens ORDER BY vocab_size""".stripMargin,
    "q_source_mixture" ->
      """WITH ps AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_split_to_array(lower(text), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens,
        |               sum(sqrt(n_tokens::DOUBLE)) AS sum_sqrt FROM ps)
        |SELECT source, n_docs, n_tokens,
        |  (n_tokens * 10000 // total_tokens)::BIGINT AS share_e4,
        |  round(sqrt(n_tokens::DOUBLE) / sum_sqrt, 4) AS weight,
        |  round(sqrt(n_tokens::DOUBLE) / sum_sqrt * 1000000, 0)::BIGINT AS target_tokens
        |FROM ps CROSS JOIN tot ORDER BY source""".stripMargin,
    "q_mixture_budget" ->
      """WITH ps AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_split_to_array(lower(text), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(sqrt(n_tokens::DOUBLE)) AS sum_sqrt FROM ps),
        |targets AS (
        |  SELECT source,
        |    round(sqrt(n_tokens::DOUBLE) / sum_sqrt * 2000, 0)::BIGINT AS target_tokens
        |  FROM ps CROSS JOIN tot),
        |d AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
        |  FROM d),
        |kept AS (
        |  SELECT w.source, t.target_tokens, w.n_tokens
        |  FROM w JOIN targets t USING (source)
        |  WHERE w.cum_before < t.target_tokens)
        |SELECT source, target_tokens,
        |  count(*)::BIGINT AS n_docs_kept,
        |  sum(n_tokens)::BIGINT AS n_tokens_kept,
        |  (sum(n_tokens) * 10000 // target_tokens)::BIGINT AS fill_e4
        |FROM kept GROUP BY 1, 2 ORDER BY source""".stripMargin,
    "q_mixture_epochs" ->
      """WITH ps AS (
        |  SELECT source,
        |    sum(len(regexp_split_to_array(lower(text), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(sqrt(n_tokens::DOUBLE)) AS sum_sqrt FROM ps),
        |targets AS (
        |  SELECT source, n_tokens AS source_tokens,
        |    round(sqrt(n_tokens::DOUBLE) / sum_sqrt * 60000, 0)::BIGINT AS target_tokens
        |  FROM ps CROSS JOIN tot WHERE n_tokens > 0),
        |d AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS cum_before
        |  FROM d),
        |plan AS (
        |  SELECT w.doc_id, w.source, w.n_tokens,
        |    (t.target_tokens // t.source_tokens
        |     + CASE WHEN w.cum_before < t.target_tokens % t.source_tokens
        |            THEN 1 ELSE 0 END)::BIGINT AS n_copies
        |  FROM w JOIN targets t USING (source))
        |SELECT doc_id, source, n_tokens, n_copies
        |FROM plan WHERE n_copies > 0 ORDER BY doc_id""".stripMargin,
    "q_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
        |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c)::DOUBLE AS total FROM cnt),
        |model AS (SELECT term, ln(c::DOUBLE / total) AS logp FROM cnt CROSS JOIN tot)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens, round(avg(logp), 4) AS avg_logprob
        |FROM tok JOIN model USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bigram_logprob" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
        |pos AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM tok),
        |big AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |bi AS (SELECT w1, w2, count(*) AS c_bi FROM big GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c_bi) AS c_ctx FROM bi GROUP BY 1),
        |uni AS (SELECT w AS w2, count(*) AS c_uni FROM pos GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS total FROM pos),
        |model AS (
        |  SELECT bi.w1, bi.w2,
        |    ln(0.8 * (c_bi::DOUBLE / c_ctx::DOUBLE)
        |       + 0.2 * (c_uni::DOUBLE / total)) AS logp
        |  FROM bi JOIN ctx USING (w1) JOIN uni USING (w2) CROSS JOIN tot)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(avg(logp), 4) AS avg_logprob
        |FROM big JOIN model USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bpe_merges" -> Tokenizer.bpeOracleSql(steps = 8),
    "q_bpe_encode" -> Tokenizer.bpeEncodeOracleSql(steps = 8),
    "q_bpe_fertility" -> Tokenizer.bpeFertilityOracleSql(steps = 8),
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(0::BIGINT,
        |        list_transform(string_split(word, ''), c -> ord(c)::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 1024 AS b
        |  FROM (SELECT doc_id, source,
        |          unnest(regexp_split_to_array(lower(text), '\s+')) AS word
        |        FROM documents)
        |  WHERE word <> ''),
        |db AS MATERIALIZED (
        |  SELECT doc_id, source, b, count(*)::BIGINT AS cnt
        |  FROM tok GROUP BY 1, 2, 3),
        |tgt AS (SELECT min(source) AS s FROM documents),
        |q AS (SELECT b, sum(cnt)::BIGINT AS qc FROM db GROUP BY 1),
        |t AS (SELECT b, sum(cnt)::BIGINT AS tc
        |      FROM db, tgt WHERE source = tgt.s GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cnt) FROM db) AS qt,
        |               (SELECT sum(cnt) FROM db, tgt WHERE source = tgt.s) AS tt),
        |model AS (
        |  SELECT q.b,
        |    ln(((coalesce(t.tc, 0) + 1) * (tot.qt + 1024))::DOUBLE /
        |       ((q.qc + 1) * (tot.tt + 1024))::DOUBLE) AS w
        |  FROM q LEFT JOIN t USING (b), tot)
        |SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
        |       sum(round(cnt * w * 10000)::BIGINT)::BIGINT AS dsir_e4
        |FROM db JOIN model USING (b)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_typo_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w0
        |  FROM documents),
        |w AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS c
        |  FROM (SELECT CASE WHEN doc_id % 5 = 0 AND len(w0) > 3
        |               THEN substr(w0, 1, len(w0) - 1) ELSE w0 END AS word
        |        FROM tok)
        |  WHERE word <> '' GROUP BY 1),
        |k AS MATERIALIZED (
        |  SELECT word, c,
        |    unnest(list_prepend(word, list_transform(range(1, len(word) + 1),
        |      i -> substr(word, 1, i - 1) || substr(word, i + 1)))) AS key
        |  FROM w)
        |SELECT w1, w2, c1, c2 FROM (
        |  SELECT a.word AS w1, b.word AS w2, a.c AS c1, b.c AS c2
        |  FROM k a JOIN k b ON a.key = b.key AND a.word < b.word
        |  GROUP BY 1, 2, 3, 4)
        |WHERE levenshtein(w1, w2) = 1 ORDER BY w1, w2""".stripMargin,
    "q_logprob_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
        |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c)::DOUBLE AS total FROM cnt),
        |model AS (SELECT term, ln(c::DOUBLE / total) AS logp FROM cnt CROSS JOIN tot),
        |perdoc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_tokens, round(avg(logp), 4) AS avg_logprob
        |  FROM tok JOIN model USING (term) GROUP BY doc_id)
        |SELECT floor(avg_logprob * 10.0)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
        |FROM perdoc GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_line_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN chr(10) || 'subscribe to the newsletter for updates' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN chr(10) || 'all rights reserved by the publisher' ELSE '' END
        |    || chr(10) || 'ref ' || doc_id::VARCHAR AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted)),
        |freq AS (
        |  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 50),
        |kept AS (
        |  SELECT l.* FROM lines l ANTI JOIN freq f ON l.line = f.line),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY pos) AS kept_text
        |  FROM kept GROUP BY doc_id)
        |SELECT p.doc_id, len(string_split(p.text, chr(10)))::BIGINT AS n_lines,
        |  coalesce(a.n_kept, 0)::BIGINT AS n_lines_kept,
        |  md5(coalesce(a.kept_text, '')) AS kept_md5
        |FROM planted p LEFT JOIN agg a USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,
    "q_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS end_offset
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  (end_offset - n_tokens)::BIGINT AS start_offset,
        |  ((end_offset - n_tokens) // 512)::BIGINT AS bin_id,
        |  ((end_offset - n_tokens) % 512)::BIGINT AS bin_offset
        |FROM w ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    regexp_split_to_array(lower(text), '\s+') AS toks,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS end_offset
        |  FROM t),
        |pieces AS (
        |  SELECT shard, doc_id, toks,
        |    (end_offset - n_tokens) AS start_offset, end_offset,
        |    unnest(generate_series(((end_offset - n_tokens) // 512)::BIGINT,
        |                           ((end_offset - 1) // 512)::BIGINT)) AS bin_id
        |  FROM w WHERE n_tokens > 0),
        |cut AS (
        |  SELECT shard, bin_id, doc_id,
        |    greatest(bin_id * 512, start_offset) AS piece_from,
        |    least((bin_id + 1) * 512, end_offset) AS piece_to,
        |    (piece_to - piece_from) AS piece_len,
        |    (piece_from % 512) AS start_in_bin,
        |    array_to_string(list_slice(toks,
        |      (piece_from - start_offset + 1)::INT,
        |      (piece_to - start_offset)::INT), ' ') AS piece_text
        |  FROM pieces)
        |SELECT shard::BIGINT AS shard, bin_id::BIGINT AS bin_id,
        |  count(*)::BIGINT AS n_docs, sum(piece_len)::BIGINT AS n_tokens,
        |  string_agg(doc_id::VARCHAR || ':' || start_in_bin::VARCHAR || ':'
        |    || piece_len::VARCHAR, ' ' ORDER BY start_in_bin) AS doc_spans,
        |  md5(string_agg(piece_text, ' ' ORDER BY start_in_bin)) AS bin_md5
        |FROM cut GROUP BY shard, bin_id ORDER BY shard, bin_id""".stripMargin,
    "q_pack_shuffled" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(doc_id::VARCHAR || ':3', ''),
        |        c -> ord(c)::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h,
        |    regexp_split_to_array(lower(text), '\s+') AS toks,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT *, (h % 8) AS shard,
        |    sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS end_offset
        |  FROM t),
        |pieces AS (
        |  SELECT shard, doc_id, toks,
        |    (end_offset - n_tokens) AS start_offset, end_offset,
        |    unnest(generate_series(((end_offset - n_tokens) // 512)::BIGINT,
        |                           ((end_offset - 1) // 512)::BIGINT)) AS bin_id
        |  FROM w WHERE n_tokens > 0),
        |cut AS (
        |  SELECT shard, bin_id, doc_id,
        |    greatest(bin_id * 512, start_offset) AS piece_from,
        |    least((bin_id + 1) * 512, end_offset) AS piece_to,
        |    (piece_to - piece_from) AS piece_len,
        |    (piece_from % 512) AS start_in_bin,
        |    array_to_string(list_slice(toks,
        |      (piece_from - start_offset + 1)::INT,
        |      (piece_to - start_offset)::INT), ' ') AS piece_text
        |  FROM pieces)
        |SELECT shard::BIGINT AS shard, bin_id::BIGINT AS bin_id,
        |  count(*)::BIGINT AS n_docs, sum(piece_len)::BIGINT AS n_tokens,
        |  string_agg(doc_id::VARCHAR || ':' || start_in_bin::VARCHAR || ':'
        |    || piece_len::VARCHAR, ' ' ORDER BY start_in_bin) AS doc_spans,
        |  md5(string_agg(piece_text, ' ' ORDER BY start_in_bin)) AS bin_md5
        |FROM cut GROUP BY shard, bin_id ORDER BY shard, bin_id""".stripMargin,
    "q_corpus_curation" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |    len(toks)::BIGINT AS n_tokens,
        |    round((
        |      CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0
        |           WHEN n_chars < 100 THEN n_chars / 100.0
        |           ELSE 450.0 / n_chars END
        |      + least(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) * 10.0, 1.0)
        |      + len(list_distinct(toks))::DOUBLE / len(toks)
        |    ) / 3.0, 4) AS quality
        |  FROM (SELECT doc_id, lang, text, n_chars,
        |          regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)),
        |keepers AS (SELECT fp, min(doc_id) AS keep_id FROM scored GROUP BY fp)
        |SELECT s.doc_id, s.lang, s.n_tokens, s.quality
        |FROM scored s JOIN keepers k ON s.fp = k.fp AND s.doc_id = k.keep_id
        |WHERE s.quality >= 0.5 AND s.n_tokens BETWEEN 30 AND 120
        |ORDER BY s.doc_id""".stripMargin,
    "q_domain_cap" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    round((
        |      CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0
        |           WHEN n_chars < 100 THEN n_chars / 100.0
        |           ELSE 450.0 / n_chars END
        |      + least(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) * 10.0, 1.0)
        |      + len(list_distinct(toks))::DOUBLE / len(toks)
        |    ) / 3.0, 4) AS quality
        |  FROM (SELECT doc_id, source, n_chars,
        |          regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)),
        |ranked AS (
        |  SELECT source,
        |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk,
        |    doc_id, quality
        |  FROM scored)
        |SELECT source, rk, doc_id, quality FROM ranked
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "q_corpus_split" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 10000 AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN h < 9000 THEN 'train' WHEN h < 9500 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM fp ORDER BY doc_id""".stripMargin,
    "q_incremental_join" ->
      """SELECT c_nationkey,
        |  count(*)::BIGINT AS n_orders,
        |  sum((CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT)::BIGINT
        |    AS revenue_cents,
        |  sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' AND c_custkey <= 750
        |           THEN 1 ELSE 0 END)::BIGINT AS n_old,
        |  sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01' AND c_custkey <= 750
        |           THEN 1 ELSE 0 END)::BIGINT AS n_delta_orders,
        |  sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' AND c_custkey > 750
        |           THEN 1 ELSE 0 END)::BIGINT AS n_delta_cust,
        |  sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01' AND c_custkey > 750
        |           THEN 1 ELSE 0 END)::BIGINT AS n_delta_both
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "q_weighted_sample" ->
      """WITH h AS (SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS hkey,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |        (hkey * 1000000 // n_tokens)::BIGINT AS priority FROM h)
        |SELECT row_number() OVER (ORDER BY priority, doc_id)::BIGINT AS rnk,
        |  doc_id, n_tokens, priority
        |FROM p ORDER BY priority, doc_id LIMIT 100""".stripMargin,
    "q_sample_k" ->
      """WITH h AS (SELECT doc_id, source,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS hkey
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS rnk
        |      FROM h)
        |SELECT doc_id, source, rnk::BIGINT AS rnk FROM r
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    "q_split_leakage" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (SELECT doc_a, doc_b
        |      FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |      WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.5),
        |f AS (SELECT doc_id,
        |        CASE WHEN h < 9000 THEN 'train' WHEN h < 9500 THEN 'validation'
        |             ELSE 'test' END AS split
        |      FROM (SELECT doc_id,
        |              list_reduce(list_prepend(0::BIGINT,
        |                list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |                (a, b) -> (a * 31 + b) % 1000000007) % 10000 AS h
        |            FROM t)),
        |j AS (SELECT least(fa.split, fb.split) AS split_lo,
        |             greatest(fa.split, fb.split) AS split_hi
        |      FROM p JOIN f fa ON p.doc_a = fa.doc_id JOIN f fb ON p.doc_b = fb.doc_id)
        |SELECT split_lo, split_hi, count(*)::BIGINT AS n_pairs,
        |  split_lo <> split_hi AS cross_split
        |FROM j GROUP BY split_lo, split_hi ORDER BY split_lo, split_hi""".stripMargin,
    "q_datacard" ->
      """WITH e AS (SELECT source, lang,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_toks,
        |    length(text)::BIGINT AS doc_chars,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |t AS (SELECT count(*)::BIGINT AS total_docs FROM documents)
        |SELECT source, lang,
        |  count(*)::BIGINT AS n_docs,
        |  sum(n_toks)::BIGINT AS n_tokens,
        |  sum(doc_chars)::BIGINT AS n_chars,
        |  count(DISTINCT fp)::BIGINT AS distinct_texts,
        |  (count(*) - count(DISTINCT fp))::BIGINT AS dup_docs,
        |  (sum(n_toks) * 100 // count(*))::BIGINT AS avg_tokens_e2,
        |  (count(*) * 10000 // total_docs)::BIGINT AS share_e4
        |FROM e CROSS JOIN t
        |GROUP BY source, lang, total_docs
        |ORDER BY source, lang""".stripMargin,
    "q_curriculum" ->
      """WITH s AS (SELECT doc_id,
        |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS score
        |  FROM documents),
        |h AS (SELECT score, count(*) AS n FROM s GROUP BY score),
        |c AS (SELECT score, sum(n) OVER (ORDER BY score) - n AS cum_before FROM h),
        |t AS (SELECT count(*) AS total FROM s),
        |p AS (SELECT score, least((cum_before * 4) // total, 3)::BIGINT AS phase
        |      FROM c CROSS JOIN t)
        |SELECT s.doc_id, s.score, p.phase FROM s JOIN p USING (score)
        |ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" ->
      """WITH fp AS (
        |  SELECT lang,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 10000 AS h
        |  FROM documents),
        |kept AS (
        |  SELECT lang, count(*) AS n_kept FROM fp
        |  WHERE h < CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500
        |                      WHEN 'zh' THEN 1000 ELSE 10000 END
        |  GROUP BY 1),
        |input AS (SELECT lang, count(*) AS n_input FROM documents GROUP BY 1)
        |SELECT i.lang, n_input, coalesce(n_kept, 0)::BIGINT AS n_kept,
        |  (coalesce(n_kept, 0) * 10000 // n_input)::BIGINT AS kept_rate_e4
        |FROM input i LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin,
    "q_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, text, regexp_split_to_array(lower(text), '\s+') AS t
        |  FROM documents),
        |leaders AS (
        |  SELECT doc_id AS bench_id, array_to_string(t[1:16], ' ') AS snippet
        |  FROM toks WHERE doc_id % 50 = 0),
        |planted AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 10 = 3 THEN d.text || ' ' || l.snippet
        |         ELSE d.text END AS text
        |  FROM documents d
        |  JOIN leaders l ON ((d.doc_id // 50) * 50)::BIGINT = l.bench_id),
        |ptoks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM planted),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 6),
        |    i -> array_to_string(t[i : i + 7], ' '))) AS shingles
        |  FROM ptoks WHERE len(t) >= 8),
        |corpus AS (
        |  SELECT doc_id, len(shingles)::BIGINT AS n_shingles,
        |    unnest(shingles) AS shingle
        |  FROM sh WHERE doc_id % 50 <> 0),
        |bench AS (
        |  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 50 = 0)
        |SELECT doc_id, n_shingles, count(*)::BIGINT AS n_overlap,
        |  (count(*) * 10000 // n_shingles)::BIGINT AS overlap_frac_e4
        |FROM corpus JOIN bench USING (shingle)
        |GROUP BY 1, 2
        |HAVING (count(*) * 10000 // n_shingles)::BIGINT >= 500
        |ORDER BY doc_id""".stripMargin,
    "q_curation_funnel" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |    len(toks)::BIGINT AS n_tokens,
        |    round((
        |      CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0
        |           WHEN n_chars < 100 THEN n_chars / 100.0
        |           ELSE 450.0 / n_chars END
        |      + least(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) * 10.0, 1.0)
        |      + len(list_distinct(toks))::DOUBLE / len(toks)
        |    ) / 3.0, 4) AS quality
        |  FROM (SELECT doc_id, text, n_chars,
        |          regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)),
        |g AS (SELECT fp, count(*) AS n_in_group,
        |        arg_min(quality, doc_id) AS kq,
        |        arg_min(n_tokens, doc_id) AS kt
        |      FROM scored GROUP BY fp),
        |a AS (SELECT sum(n_in_group)::BIGINT AS input,
        |        sum(CASE WHEN kq >= 0.5 AND kt BETWEEN 30 AND 120
        |            THEN 1 ELSE 0 END)::BIGINT AS kept
        |      FROM g)
        |SELECT stage, n_docs FROM (
        |  SELECT 'input' AS stage, input AS n_docs FROM a
        |  UNION ALL SELECT 'kept', kept FROM a
        |  UNION ALL SELECT 'dropped', input - kept FROM a)
        |ORDER BY stage""".stripMargin,
    "q_corpus_curation_neardup" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, lang, n_chars,
        |        regexp_split_to_array(lower(text), '\s+') AS toks,
        |        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |      FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |          WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT doc_id, doc_id AS other FROM documents
        |  UNION
        |  SELECT reach.doc_id, e.b FROM reach JOIN edges e ON reach.other = e.a),
        |lab AS (SELECT doc_id, min(other) AS cluster_id FROM reach GROUP BY doc_id),
        |scored AS (
        |  SELECT doc_id, lang, fp,
        |    len(toks)::BIGINT AS n_tokens,
        |    round((
        |      CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0
        |           WHEN n_chars < 100 THEN n_chars / 100.0
        |           ELSE 450.0 / n_chars END
        |      + least(len(list_filter(toks, tk -> tk IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) * 10.0, 1.0)
        |      + len(list_distinct(toks))::DOUBLE / len(toks)
        |    ) / 3.0, 4) AS quality
        |  FROM t),
        |keepers AS (SELECT fp, min(doc_id) AS keep_id FROM scored GROUP BY fp),
        |gated AS (
        |  SELECT s.doc_id, s.lang, s.n_tokens, s.quality, lab.cluster_id
        |  FROM scored s
        |  JOIN keepers k ON s.fp = k.fp AND s.doc_id = k.keep_id
        |  JOIN lab ON s.doc_id = lab.doc_id
        |  WHERE s.quality >= 0.5 AND s.n_tokens BETWEEN 30 AND 120),
        |ck AS (SELECT cluster_id, min(doc_id) AS keep2 FROM gated GROUP BY cluster_id)
        |SELECT g.doc_id, g.lang, g.n_tokens, g.quality
        |FROM gated g JOIN ck ON g.doc_id = ck.keep2
        |ORDER BY g.doc_id""".stripMargin,
    "q_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin,
    "q_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, ' ' || text || '  ' AS text
        |  FROM d WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 2000000, text || ' batchnew'
        |  FROM d WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 3000000, text || ' batchnew'
        |  FROM d WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 4000000, text || ' solo'
        |  FROM d WHERE doc_id % 10 = 2),
        |c AS (SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |        min(doc_id) AS corpus_keeper FROM d GROUP BY 1),
        |b AS (SELECT doc_id,
        |        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |      FROM batch),
        |bk AS (SELECT fp, min(doc_id) AS batch_keeper FROM b GROUP BY 1)
        |SELECT b.doc_id,
        |  CASE WHEN c.corpus_keeper IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN b.doc_id = bk.batch_keeper THEN 'kept'
        |       ELSE 'dup_in_batch' END AS status,
        |  coalesce(c.corpus_keeper, bk.batch_keeper) AS keeper_id
        |FROM b LEFT JOIN c USING (fp) JOIN bk USING (fp)
        |ORDER BY b.doc_id""".stripMargin,
    // bloom pre-filter changes the PLAN, not the semantics — same oracle
    "q_bloom_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, ' ' || text || '  ' AS text
        |  FROM d WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 2000000, text || ' batchnew'
        |  FROM d WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 3000000, text || ' batchnew'
        |  FROM d WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 4000000, text || ' solo'
        |  FROM d WHERE doc_id % 10 = 2),
        |c AS (SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |        min(doc_id) AS corpus_keeper FROM d GROUP BY 1),
        |b AS (SELECT doc_id,
        |        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |      FROM batch),
        |bk AS (SELECT fp, min(doc_id) AS batch_keeper FROM b GROUP BY 1)
        |SELECT b.doc_id,
        |  CASE WHEN c.corpus_keeper IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN b.doc_id = bk.batch_keeper THEN 'kept'
        |       ELSE 'dup_in_batch' END AS status,
        |  coalesce(c.corpus_keeper, bk.batch_keeper) AS keeper_id
        |FROM b LEFT JOIN c USING (fp) JOIN bk USING (fp)
        |ORDER BY b.doc_id""".stripMargin,
    "q_sample_allocation" ->
      """WITH s AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    (max(n_chars) - min(n_chars))::BIGINT AS range_chars
        |  FROM documents GROUP BY 1),
        |m AS (SELECT *, n_docs * range_chars AS m FROM s),
        |d AS (SELECT sum(m)::BIGINT AS den FROM m),
        |b AS (
        |  SELECT source, n_docs, range_chars,
        |    (m * 1000) // den AS base, (m * 1000) % den AS rem,
        |    (m * 10000 // den)::BIGINT AS weight_e4
        |  FROM m CROSS JOIN d),
        |x AS (SELECT (1000 - sum(base))::BIGINT AS extras FROM b),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM b)
        |SELECT source, n_docs, range_chars, weight_e4,
        |  (base + CASE WHEN rk <= extras THEN 1 ELSE 0 END)::BIGINT AS alloc
        |FROM r CROSS JOIN x ORDER BY source""".stripMargin,
    "q_dedup_threshold_sweep" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b, round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |              JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.05),
        |g AS (SELECT unnest([500, 1000, 2000, 3000, 5000, 8000, 9000])::BIGINT
        |        AS t_e4),
        |h AS (SELECT t_e4, doc_a, doc_b
        |      FROM p CROSS JOIN g WHERE jaccard >= t_e4::DOUBLE / 10000.0),
        |np AS (SELECT t_e4, count(*)::BIGINT AS n_pairs FROM h GROUP BY 1),
        |nd AS (SELECT t_e4, count(DISTINCT d)::BIGINT AS n_docs_touched
        |       FROM (SELECT t_e4, unnest([doc_a, doc_b]) AS d FROM h)
        |       GROUP BY 1)
        |SELECT g.t_e4, coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
        |  coalesce(nd.n_docs_touched, 0)::BIGINT AS n_docs_touched
        |FROM g LEFT JOIN np ON g.t_e4 = np.t_e4
        |       LEFT JOIN nd ON g.t_e4 = nd.t_e4
        |ORDER BY g.t_e4""".stripMargin,
    "q_lsh_tuning" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (
        |  SELECT round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |              JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.05),
        |hist AS (SELECT CAST(round(jaccard * 10000, 0) AS BIGINT) AS j_e4,
        |           count(*)::BIGINT AS n_pairs
        |         FROM p GROUP BY 1),
        |g AS (SELECT (128 // r)::BIGINT AS bands, r::BIGINT AS rows_per_band
        |      FROM (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS r)),
        |sc AS (SELECT bands, rows_per_band, j_e4, n_pairs,
        |         CAST(round((1.0 - pow(1.0 - pow(j_e4::DOUBLE / 10000.0,
        |           rows_per_band::DOUBLE), bands::DOUBLE)) * 1000000, 0)
        |           AS BIGINT) AS p_e6
        |       FROM hist CROSS JOIN g),
        |agg AS (SELECT bands, rows_per_band,
        |          sum(n_pairs)::BIGINT AS n_pairs_total,
        |          sum(n_pairs * p_e6)::BIGINT AS exp_caught_e6,
        |          sum(CASE WHEN j_e4 >= 8000 THEN n_pairs * (1000000 - p_e6)
        |              ELSE 0 END)::BIGINT AS exp_missed_high_e6,
        |          sum(CASE WHEN j_e4 < 5000 THEN n_pairs * p_e6
        |              ELSE 0 END)::BIGINT AS exp_fp_e6
        |        FROM sc GROUP BY 1, 2)
        |SELECT g.bands, g.rows_per_band,
        |  coalesce(a.n_pairs_total, 0)::BIGINT AS n_pairs_total,
        |  coalesce(a.exp_caught_e6, 0)::BIGINT AS exp_caught_e6,
        |  coalesce(a.exp_missed_high_e6, 0)::BIGINT AS exp_missed_high_e6,
        |  coalesce(a.exp_fp_e6, 0)::BIGINT AS exp_fp_e6
        |FROM g LEFT JOIN agg a USING (bands, rows_per_band)
        |ORDER BY g.rows_per_band""".stripMargin,
    "q_kmv_distinct" -> Sketch.kmvDistinctOracleSql(),
    "q_kmv_union" -> Sketch.kmvUnionOracleSql(),
    "q_quantile_sketch" -> Sketch.quantileSketchOracleSql(),
    "q_kmv_intersect" -> Sketch.kmvIntersectOracleSql(),
    "q_countmin" -> Sketch.countMinOracleSql(),
    "q_kmv_diff" -> Sketch.kmvDiffOracleSql(),
    "q_ams_f2" -> Sketch.amsF2OracleSql(),
    "q_skyline" -> Relational.skylineOracleSql,
    "q_fuzzy_join" -> Dedup.fuzzyJoinOracleSql(),
    "q_bh_fdr" -> Analytics.bhFdrOracleSql(),
    "q_change_points" -> Analytics.changePointsOracleSql,
    "q_sliding_distinct" -> Analytics.slidingDistinctOracleSql(),
    "q_shortest_paths" -> Graph.shortestPathsOracleSql(),
    "q_tree_split" -> Analytics.treeSplitOracleSql(),
    "q_phrase_search" -> TextAnalysis.phraseSearchOracleSql(),
    "q_removal_effect" -> Analytics.removalEffectOracleSql(),
    "q_cep_pattern" -> Analytics.cepPatternOracleSql(),
    "q_cusum" -> Analytics.cusumOracleSql(),
    "q_interval_coalesce" -> Intervals.intervalCoalesceOracleSql,
    "q_surge_windows" -> Intervals.surgeWindowTrafficOracleSql,
    "q_compaction_plan" -> Layout.compactionPlanOracleSql(),
    "q_ols_multi" -> Analytics.olsMultiOracleSql,
    "q_nb_langid" -> TextAnalysis.naiveBayesLangIdOracleSql,
    "q_dbscan" -> Spatial.dbscanOracleSql(),
    "q_kneser_ney" -> TextAnalysis.kneserNeyScoreOracleSql,
    "q_ols_by_group" -> Modeling.olsByGroupOracleSql,
    "q_corr_matrix" -> Modeling.corrMatrixOracleSql,
    "q_mutual_info" -> Modeling.mutualInfoOracleSql,
    "q_isotonic" -> Modeling.isotonicCalibrationOracleSql,
    "q_entity_resolution" -> Identity.entityResolutionOracleSql,
    "q_margin_pairs" -> Similarity.marginPairsOracleSql(),
    "q_hubness" -> Similarity.hubnessHistogramOracleSql(),
    "q_hubness_sampled" -> Similarity.hubnessHistogramOracleSql(sampleMod = 4),
    "q_kcore" -> Graph.kCoreOracleSql(),
    "q_ktruss" -> Graph.kTrussOracleSql(k = 3),
    "q_connected_components" -> Graph.connectedComponentsOracleSql(),
    "q_local_clustering" -> Graph.localClusteringOracleSql(),
    "q_lof" -> Similarity.lofOutliersOracleSql(),
    "q_lof_sampled" -> Similarity.lofOutliersOracleSql(sampleMod = 4),
    "q_containment" -> Dedup.containmentPairsOracleSql(),
    "q_sprt" -> Analytics.sprtTestOracleSql,
    "q_weighted_quantiles" -> Analytics.weightedQuantilesOracleSql,
    "q_emd_drift" -> Analytics.emdDriftOracleSql(),
    "q_boosted_stumps" -> Analytics.boostedStumpsOracleSql(),
    "q_set_cover" -> Corpus.setCoverSelectOracleSql(),
    "q_rendezvous" -> Layout.rendezvousRebalanceOracleSql(),
    "q_did" -> Analytics.didEstimateOracleSql,
    "q_ratio_delta" -> Analytics.ratioMetricDeltaOracleSql,
    "q_dispersion" -> Analytics.dispersionIndexOracleSql,
    "q_bucketed_join" -> Layout.bucketedJoinOracleSql,
    "q_aa_calibration" -> Analytics.aaCalibrationOracleSql(),
    "q_mahalanobis" -> Analytics.mahalanobisOutliersOracleSql(),
    "q_heaps_law" -> TextAnalysis.heapsLawOracleSql(),
    "q_powerlaw_alpha" -> Graph.powerLawAlphaOracleSql(),
    "q_simpsons" -> Modeling.simpsonsCheckOracleSql,
    "q_hourly_value_bands" -> Analytics.hourlyValueBandsOracleSql,
    "q_retention_halflife" -> Analytics.retentionHalflifeOracleSql(),
    "q_rbo" -> TextAnalysis.rankBiasedOverlapOracleSql(),
    "q_ab_power" -> Analytics.abPowerOracleSql(),
    "q_theilsen" -> Analytics.theilSenOracleSql,
    "q_native_session_window" -> Analytics.nativeSessionWindowOracleSql(),
    "q_mann_whitney" -> Analytics.mannWhitneyOracleSql,
    "q_welch_ttest" -> Analytics.welchTTestOracleSql,
    "q_target_encoding" -> Analytics.targetEncodingOracleSql,
    "q_funnel_arm_test" -> Analytics.funnelArmTestOracleSql(),
    "q_fold_stability" -> Analytics.foldStabilityOracleSql(),
    "q_uplift_deciles" -> Analytics.upliftDecilesOracleSql(),
    "q_feature_hash" -> TextAnalysis.featureHashAuditOracleSql(),
    "q_ndcg" -> TextAnalysis.ndcgEvalOracleSql(),
    "q_nucleus_vocab" -> TextAnalysis.nucleusVocabOracleSql(),
    "q_cohen_kappa" -> TextAnalysis.cohenKappaOracleSql(),
    "q_krippendorff" -> TextAnalysis.krippendorffAlphaOracleSql,
    "q_mcnemar" -> TextAnalysis.mcnemarOracleSql(),
    "q_golden_records" -> Identity.goldenRecordsOracleSql,
    "q_bloom_sizing" -> Dedup.bloomSizingOracleSql(),
    "q_spatial_join" -> Spatial.spatialNeighborsOracleSql(),
    "q_median_ci" -> Relational.medianCIOracleSql,
    "q_journey_prefixes" -> Analytics.journeyPrefixesOracleSql(),
    "q_table_checksum" -> Analytics.tableChecksumOracleSql,
    "q_sql_script" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n_events FROM events),
        |p AS (SELECT unnest(list_transform(range(0, 40),
        |        i -> (1::BIGINT << i::INT))) AS pw)
        |SELECT n_events,
        |  (SELECT max(pw) FROM p WHERE pw <= n_events)::BIGINT AS pow2_floor
        |FROM n""".stripMargin,
    "q_sql_udf" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_sql_group_by_all" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
        |FROM orders
        |GROUP BY ALL ORDER BY ALL""".stripMargin,
    "q_poisson_bootstrap" -> Relational.poissonBootstrapOracleSql(),
    "q_kcenter_select" -> Similarity.kCenterOracleSql(),
    "q_kcenter_sampled" -> Similarity.kCenterSampledOracleSql(),
    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.05
        |ORDER BY doc_a, doc_b""".stripMargin,
    // prefix filtering is exact, so the naive inverted-list join IS the
    // specification — identical SQL at the operating threshold
    "q_setsim_prefix" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_incremental_lsh" ->
      """WITH corp AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |bat AS (SELECT doc_id + 1000000 AS doc_id,
        |        regexp_split_to_array(lower(text || ' batchdup'), '\s+') AS toks
        |        FROM documents WHERE doc_id % 5 = 0),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |        FROM corp WHERE len(toks) >= 3),
        |shb AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |        FROM bat WHERE len(toks) >= 3),
        |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS sz FROM shb GROUP BY 1),
        |inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id, count(*) AS i
        |          FROM shc c JOIN shb b ON c.shingle = b.shingle GROUP BY 1, 2)
        |SELECT corpus_id, batch_id,
        |  round(i::DOUBLE / (sc.sz + sb.sz - i), 4) AS jaccard
        |FROM inter JOIN szc sc ON corpus_id = sc.doc_id JOIN szb sb ON batch_id = sb.doc_id
        |WHERE round(i::DOUBLE / (sc.sz + sb.sz - i), 4) >= 0.5
        |ORDER BY corpus_id, batch_id""".stripMargin,
    // exact incremental near-dup: the prefix filter is recall-1, so the
    // naive cross jaccard IS the specification (identical SQL to the
    // LSH twin — there the same SQL is an oracle only via the banding
    // argument; here it is one by theorem)
    "q_incremental_setsim" ->
      """WITH corp AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |bat AS (SELECT doc_id + 1000000 AS doc_id,
        |        regexp_split_to_array(lower(text || ' batchdup'), '\s+') AS toks
        |        FROM documents WHERE doc_id % 5 = 0),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |        FROM corp WHERE len(toks) >= 3),
        |shb AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |        FROM bat WHERE len(toks) >= 3),
        |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS sz FROM shb GROUP BY 1),
        |inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id, count(*) AS i
        |          FROM shc c JOIN shb b ON c.shingle = b.shingle GROUP BY 1, 2)
        |SELECT corpus_id, batch_id,
        |  round(i::DOUBLE / (sc.sz + sb.sz - i), 4) AS jaccard
        |FROM inter JOIN szc sc ON corpus_id = sc.doc_id JOIN szb sb ON batch_id = sb.doc_id
        |WHERE round(i::DOUBLE / (sc.sz + sb.sz - i), 4) >= 0.5
        |ORDER BY corpus_id, batch_id""".stripMargin,
    "q_minhash_lsh" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_neardup_clusters" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |          WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT doc_id, doc_id AS other FROM documents
        |  UNION
        |  SELECT reach.doc_id, e.b FROM reach JOIN edges e ON reach.other = e.a),
        |lab AS (SELECT doc_id, min(other) AS cluster_id FROM reach GROUP BY doc_id)
        |SELECT l.doc_id, l.cluster_id, c.cluster_size
        |FROM lab l JOIN (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1) c USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    "q_simhash_pairs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
        |       FROM t WHERE len(toks) >= 3),
        |hv AS (SELECT doc_id,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(string_split(s, ''), c -> ord(c)::BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007)
        |       + list_reduce(list_prepend(0::BIGINT, list_transform(string_split(s, ''), c -> ord(c)::BIGINT)),
        |                     (a, b) -> (a * 131 + b) % 1000000009) * 1073741824 AS h
        |       FROM sh),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j::INT) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |         FROM hv CROSS JOIN generate_series(0, 59) AS g(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, sum(CASE WHEN cnt > 0 THEN 1::BIGINT << j::INT ELSE 0 END)::BIGINT AS sig
        |        FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_repeated_spans" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |pos AS (SELECT doc_id, unnest(range(0, len(toks) - 8 + 1)) AS p, toks
        |        FROM t WHERE len(toks) >= 8),
        |gs AS (SELECT doc_id, p, array_to_string(toks[p+1:p+8], ' ') AS gram FROM pos),
        |hv AS (SELECT doc_id, p,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(string_split(gram, ''), c -> ord(c)::BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007)
        |       + list_reduce(list_prepend(0::BIGINT, list_transform(string_split(gram, ''), c -> ord(c)::BIGINT)),
        |                     (a, b) -> (a * 131 + b) % 1000000009) * 1073741824 AS h
        |       FROM gs),
        |dup AS (SELECT h FROM hv GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, p FROM hv JOIN dup USING (h)),
        |isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM m)
        |SELECT doc_id, min(p)::BIGINT AS span_start, (max(p) + 7)::BIGINT AS span_end,
        |  (max(p) - min(p) + 8)::BIGINT AS span_tokens, count(*)::BIGINT AS n_grams
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    "q_span_cut" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |pos AS (SELECT doc_id, unnest(range(0, len(toks) - 8 + 1)) AS p, toks
        |        FROM t WHERE len(toks) >= 8),
        |gs AS (SELECT doc_id, p, array_to_string(toks[p+1:p+8], ' ') AS gram FROM pos),
        |hv AS (SELECT doc_id, p,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(string_split(gram, ''), c -> ord(c)::BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007)
        |       + list_reduce(list_prepend(0::BIGINT, list_transform(string_split(gram, ''), c -> ord(c)::BIGINT)),
        |                     (a, b) -> (a * 131 + b) % 1000000009) * 1073741824 AS h
        |       FROM gs),
        |dup AS (SELECT h FROM hv GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |occ AS (SELECT doc_id, p, h,
        |          row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
        |        FROM hv JOIN dup USING (h)),
        |rem AS (SELECT DISTINCT doc_id, ti
        |        FROM (SELECT doc_id, unnest(range(p, p + 8)) AS ti FROM occ WHERE rn > 1)),
        |tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS ti, toks FROM t),
        |kept AS (SELECT tk.doc_id, tk.ti, tk.toks[tk.ti + 1] AS tok
        |         FROM tok tk LEFT JOIN rem r ON tk.doc_id = r.doc_id AND tk.ti = r.ti
        |         WHERE r.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text FROM kept GROUP BY doc_id),
        |remcnt AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  len(t.toks)::BIGINT AS n_tokens, coalesce(r.n_removed, 0)::BIGINT AS n_removed
        |FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN remcnt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
        |      / sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q_embedding_neardup_lsh" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT vec_id, embedding FROM base
        |      UNION ALL
        |      SELECT vec_id + 2000000, embedding FROM base WHERE vec_id % 7 = 0)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
        |      / sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))) >= 0.9
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q_semantic_dedup" ->
      """WITH RECURSIVE
        |base AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT vec_id, embedding FROM base
        |      UNION ALL
        |      SELECT vec_id + 2000000, list_transform(embedding, x -> (x * 0.5)::FLOAT)
        |      FROM base WHERE vec_id % 7 = 0),
        |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |      FROM c a JOIN c b ON a.vec_id < b.vec_id
        |      WHERE list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |            / sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
        |            / sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))) >= 0.9),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
        |          UNION ALL SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT vec_id AS doc_id, vec_id AS other FROM c
        |  UNION
        |  SELECT reach.doc_id, e.b FROM reach JOIN edges e ON reach.other = e.a),
        |lab AS (SELECT doc_id, min(other) AS cluster_id FROM reach GROUP BY doc_id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT l.doc_id AS vec_id, l.cluster_id, s.cluster_size,
        |  l.doc_id = l.cluster_id AS keeper
        |FROM lab l JOIN sz s USING (cluster_id)
        |ORDER BY vec_id""".stripMargin,
    "q_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS cos
        |  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id)
        |SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT query_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk,
        |    vec_id AS neighbor_id
        |  FROM scored) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q_hybrid_search" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl, toks FROM t),
        |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        |sc AS (SELECT doc_id,
        |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) * 10000.0, 0)::BIGINT AS score_e4
        |       FROM tf JOIN df USING (term) CROSS JOIN s),
        |bm AS (SELECT doc_id, sum(score_e4)::BIGINT AS score_e4 FROM sc GROUP BY doc_id
        |       ORDER BY score_e4 DESC, doc_id LIMIT 20),
        |lex AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY score_e4 DESC, doc_id)::BIGINT AS lex_rank
        |        FROM bm),
        |cv AS (SELECT e.vec_id, e.embedding FROM embeddings e
        |       JOIN documents dd ON e.vec_id = dd.doc_id),
        |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT c.vec_id,
        |    list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS cos
        |  FROM cv c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |sem AS (SELECT vec_id AS doc_id, rnk AS sem_rank FROM (
        |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id)::BIGINT AS rnk
        |  FROM scored) WHERE rnk <= 20)
        |SELECT doc_id, lex_rank, sem_rank,
        |  (coalesce(round(1000000000.0 / (60 + lex_rank), 0)::BIGINT, 0)
        |   + coalesce(round(1000000000.0 / (60 + sem_rank), 0)::BIGINT, 0)) AS rrf_e9
        |FROM lex FULL OUTER JOIN sem USING (doc_id)
        |ORDER BY rrf_e9 DESC, doc_id LIMIT 10""".stripMargin,
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, c.vec_id, c.label,
        |    list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS cos
        |  FROM embeddings c CROSS JOIN q WHERE c.label <> q.q_label)
        |SELECT query_id, rnk, neighbor_id, neighbor_label FROM (
        |  SELECT query_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk,
        |    vec_id AS neighbor_id, label AS neighbor_label
        |  FROM scored) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS cos
        |  FROM embeddings c CROSS JOIN q
        |  WHERE c.label = 3 AND c.vec_id <> q.query_id)
        |SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT query_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk,
        |    vec_id AS neighbor_id
        |  FROM scored) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q_ann_lsh" -> annPlantedOracleSql,
    "q_ann_ivf" -> annPlantedOracleSql,
    "q_cluster_sample" ->
      """WITH cents AS MATERIALIZED (
        |  SELECT vec_id AS cell, embedding AS cent,
        |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cnorm
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |scored AS MATERIALIZED (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * c.cent[i]::DOUBLE)) / c.cnorm AS cos
        |  FROM embeddings e CROSS JOIN cents c),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
        |    FROM scored) WHERE rn = 1),
        |keyed AS (
        |  SELECT cell, vec_id, (vec_id * 2654435761) % 2147483648 AS skey FROM asg)
        |SELECT cell, rnk, vec_id FROM (
        |  SELECT cell, vec_id,
        |    row_number() OVER (PARTITION BY cell ORDER BY skey, vec_id)::BIGINT AS rnk
        |  FROM keyed) WHERE rnk <= 25 ORDER BY cell, rnk""".stripMargin,
    "q_ann_ivfpq" -> annPlantedOracleSql,
    "q_centroid_norms" ->
      """WITH pos AS (SELECT label, generate_subscripts(embedding, 1) AS j, unnest(embedding) AS v FROM embeddings),
        |sums AS (SELECT label, j, sum(v::DOUBLE) AS s FROM pos GROUP BY label, j),
        |cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
        |SELECT cnt.label::BIGINT AS label, cnt.n AS n_vectors,
        |  round(sqrt(sum((s / cnt.n) * (s / cnt.n))), 4) AS centroid_norm
        |FROM sums JOIN cnt ON sums.label = cnt.label
        |GROUP BY cnt.label, cnt.n ORDER BY label""".stripMargin,
    "q_quantize_embeddings" ->
      """WITH r AS (
        |  SELECT vec_id, embedding,
        |    list_min(embedding)::DOUBLE AS mn, list_max(embedding)::DOUBLE AS mx
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, len(embedding)::BIGINT AS n_dims,
        |    list_transform(embedding, x -> CASE WHEN mx > mn
        |      THEN floor((x::DOUBLE - mn) * 255.0 / (mx - mn))::BIGINT
        |      ELSE 0 END) AS codes
        |  FROM r)
        |SELECT vec_id, n_dims, list_sum(codes)::BIGINT AS code_sum,
        |  list_min(codes)::BIGINT AS code_min, list_max(codes)::BIGINT AS code_max
        |FROM c ORDER BY vec_id""".stripMargin,
    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id % 25 = 0),
        |c AS (SELECT * FROM embeddings WHERE vec_id % 25 <> 0),
        |scored AS (
        |  SELECT q.query_id, c.vec_id, c.label,
        |    list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS cos
        |  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |nb AS (SELECT query_id, label, rnk FROM (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM scored) WHERE rnk <= 5),
        |votes AS (SELECT query_id, label, count(*) AS votes, min(rnk) AS best_rnk
        |          FROM nb GROUP BY 1, 2)
        |SELECT query_id, predicted_label, votes, best_rnk FROM (
        |  SELECT query_id, label::BIGINT AS predicted_label, votes, best_rnk,
        |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, best_rnk, label) AS pos
        |  FROM votes) WHERE pos = 1 ORDER BY query_id""".stripMargin,
    "q_pca_variance" ->
      """WITH x AS (SELECT t.d - 1 AS dim, e.embedding[t.d]::DOUBLE AS v
        |           FROM embeddings e, range(1, 65) t(d)),
        |s AS (SELECT dim, avg(v) AS mean, var_pop(v) AS variance FROM x GROUP BY dim)
        |SELECT dim, round(mean, 6) AS mean, round(variance, 6) AS variance,
        |  round(variance / sum(variance) OVER (), 6) AS var_share
        |FROM s ORDER BY dim""".stripMargin,
    "q_embedding_cov" ->
      """SELECT i.d - 1 AS dim_i, j.d - 1 AS dim_j,
        |  round(covar_pop(e.embedding[i.d]::DOUBLE, e.embedding[j.d]::DOUBLE), 6) AS cov
        |FROM embeddings e, range(1, 9) i(d), range(1, 9) j(d)
        |WHERE i.d <= j.d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ngram_diversity" ->
      """WITH t AS (SELECT source, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |       FROM t WHERE len(toks) >= 3),
        |g AS (SELECT source, count(*) AS total_trigrams,
        |        count(DISTINCT shingle) AS distinct_trigrams FROM sh GROUP BY 1),
        |tk AS (SELECT source, unnest(toks) AS tok FROM t),
        |g2 AS (SELECT source, count(*) AS total_tokens,
        |         count(DISTINCT tok) AS distinct_tokens FROM tk GROUP BY 1)
        |SELECT source, total_trigrams, distinct_trigrams,
        |  (distinct_trigrams * 10000) // total_trigrams AS diversity_e4,
        |  total_tokens, distinct_tokens,
        |  (distinct_tokens * 10000) // total_tokens AS ttr_e4
        |FROM g JOIN g2 USING (source) ORDER BY source""".stripMargin,
    "q_zipf_slope" ->
      """WITH tk AS (SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |            FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM tk GROUP BY 1, 2),
        |r AS (SELECT source, ln(rnk::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM (
        |  SELECT source, cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rnk
        |  FROM c) WHERE rnk <= 100),
        |a AS (SELECT source, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x * y) AS sxy, sum(x * x) AS sxx FROM r GROUP BY 1)
        |SELECT source, n::BIGINT AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4) AS intercept
        |FROM a ORDER BY source""".stripMargin,
    "q_token_entropy" ->
      """WITH tk AS (SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |            FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM tk GROUP BY 1, 2),
        |a AS (SELECT source, count(*) AS vocab_size, sum(cnt)::BIGINT AS total_tokens,
        |        sum(cnt::DOUBLE * ln(cnt::DOUBLE)) AS sclogc FROM c GROUP BY 1)
        |SELECT source, vocab_size, total_tokens,
        |  round(ln(total_tokens::DOUBLE) - sclogc / total_tokens::DOUBLE, 4) AS entropy,
        |  CASE WHEN vocab_size > 1
        |    THEN round((ln(total_tokens::DOUBLE) - sclogc / total_tokens::DOUBLE)
        |               / ln(vocab_size::DOUBLE), 4)
        |    ELSE 0.0 END AS norm_entropy
        |FROM a ORDER BY source""".stripMargin,
    "q_quality_classifier" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    1.0 AS x0,
        |    ln(1.0 + len(toks)::DOUBLE) AS x1,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS x2,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))::DOUBLE
        |      / len(toks)::DOUBLE AS x3,
        |    length(text)::DOUBLE / len(toks)::DOUBLE AS x4
        |  FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\s+') AS toks
        |        FROM documents))
        |SELECT doc_id,
        |  round((1.0 / (1.0 + exp(-((x0 * -3.0) + (x1 * 0.6) + (x2 * 2.0)
        |    + (x3 * 3.0) + (x4 * 0.1))))) * 10000, 0)::BIGINT AS score_e4,
        |  round((1.0 / (1.0 + exp(-((x0 * -3.0) + (x1 * 0.6) + (x2 * 2.0)
        |    + (x3 * 3.0) + (x4 * 0.1))))) * 10000, 0)::BIGINT >= 5000 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_pmi_collocations" ->
      """WITH t AS (SELECT regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |p AS (SELECT unnest(list_transform(range(2, len(toks) + 1),
        |        i -> {'x': toks[i-1], 'y': toks[i]})) AS pr
        |      FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT pr.x AS x, pr.y AS y, count(*) AS c_xy
        |       FROM p GROUP BY 1, 2 HAVING count(*) >= 5),
        |u AS (SELECT unnest(toks) AS term FROM t),
        |uc AS (SELECT term, count(*) AS c FROM u GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS nn FROM u)
        |SELECT x, y, c_xy,
        |  round(ln(nn * c_xy / (ux.c::DOUBLE * uy.c::DOUBLE)) * 10000, 0)::BIGINT AS pmi_e4
        |FROM bg JOIN uc ux ON bg.x = ux.term JOIN uc uy ON bg.y = uy.term CROSS JOIN n
        |ORDER BY pmi_e4 DESC, x, y LIMIT 50""".stripMargin,
    "q_label_silhouette" ->
      """WITH pos AS (SELECT label, vec_id, generate_subscripts(embedding, 1) AS j,
        |               unnest(embedding) AS v FROM embeddings),
        |cent AS (SELECT label, j, sum(v::DOUBLE) / count(*) AS m FROM pos GROUP BY label, j),
        |cl AS (SELECT label, array_agg(m ORDER BY j) AS centroid FROM cent GROUP BY label),
        |d AS (SELECT e.vec_id, e.label, c.label AS clabel,
        |        list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          i -> (e.embedding[i]::DOUBLE - c.centroid[i])
        |             * (e.embedding[i]::DOUBLE - c.centroid[i]))) AS dist2
        |      FROM embeddings e CROSS JOIN cl c),
        |agg AS (SELECT vec_id, label,
        |          min(CASE WHEN label = clabel THEN dist2 END) AS own,
        |          min(CASE WHEN label <> clabel THEN dist2 END) AS other
        |        FROM d GROUP BY 1, 2),
        |s AS (SELECT label,
        |        (sqrt(other) - sqrt(own)) / greatest(sqrt(other), sqrt(own)) AS sil
        |      FROM agg)
        |SELECT label::BIGINT AS label, count(*) AS n_vectors,
        |  round(avg(sil), 4) AS mean_silhouette
        |FROM s GROUP BY 1 ORDER BY label""".stripMargin
  )
}

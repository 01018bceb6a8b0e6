package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation — the composition the individual
  * §7.4 operators exist for: quality-score the corpus, drop boilerplate
  * duplicates (exact, content-addressed), bound document length, keep
  * the deterministic representative per duplicate group.
  *
  * Every stage is a deterministic, SQL-expressible transform, so the
  * WHOLE pipeline is oracle-verifiable end-to-end (q_corpus_curation).
  * The probabilistic near-dup stages (MinHash/SimHash/embedding-LSH)
  * slot in between `dedup` and `select` at scale; they're exercised
  * separately because their outputs are probabilistic.
  *
  * Plan shape at 100 TB: stages 1-3 are narrow (row-local scoring +
  * fingerprints), the dedup keeper is one hash-partitioned aggregate on
  * the fingerprint, and the final join is fingerprint-co-partitioned —
  * two shuffles total regardless of corpus size.
  */
object Corpus {

  /** Row-local scoring + content fingerprint — the shared narrow stage of
    * [[curate]] and [[curationFunnel]].
    */
  private def scoreAndFingerprint(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stopHits = size(filter(toks,
      t => t.isInCollection(Seq("the", "a", "of", "and", "to", "in")))).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok.cast("double")
    val lenScore: Column = when(col("n_chars").between(100, 450), lit(1.0))
      .when(col("n_chars") < 100, col("n_chars").cast("double") / 100.0)
      .otherwise(lit(450.0) / col("n_chars").cast("double"))
    val stopScore = least(stopHits / nTok.cast("double") * 10.0, lit(1.0))
    val quality = round((lenScore + stopScore + diversity) / 3.0, 4)

    // `source` rides through only when the input has it: curate callers
    // legitimately score frames without one; domainCap requires it
    val srcCol =
      if (docs.columns.contains("source")) Seq(col("source")) else Seq.empty
    docs.select(Seq(col("doc_id"), col("lang")) ++ srcCol ++ Seq(
      md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fp"),
      nTok.as("n_tokens"),
      quality.as("quality")): _*)
  }

  /** Per-source cap — the over-representation guard: keep at most
    * `maxPerSource` docs per source, best quality first (ties broken by
    * doc_id, so the result is deterministic on the 4-dp-rounded score).
    * Without a cap, one crawled domain's boilerplate can dominate a
    * mixture; with it, every source contributes a bounded, quality-ranked
    * slice.
    *
    * Scale shape: rank-≤-k over a row_number window triggers Spark's
    * WindowGroupLimit rewrite — each map partition keeps only its local
    * top-k per source BEFORE the exchange (pinned in PlanShapeSpec), so
    * the shuffle carries O(sources × k), not the corpus; a hot source
    * costs k rows per upstream partition, never its full row count.
    */
  def domainCap(docs: DataFrame, maxPerSource: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scoreAndFingerprint(docs)
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rk") <= maxPerSource)
      // BIGINT like the oracle's row_number (the driver compare is
      // dtype-sensitive); cast AFTER the filter so the rewrite still
      // sees the raw row_number() <= k pattern
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("quality"))
      .orderBy(col("source"), col("rk"))
  }

  /** Survivors of the curation gauntlet with their audit columns. */
  def curate(
      docs: DataFrame,
      minQuality: Double = 0.5,
      minTokens: Int = 30,
      maxTokens: Int = 120): DataFrame = {
    val scored = scoreAndFingerprint(docs)

    // one representative per content fingerprint: lowest doc_id
    val keepers = scored.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"))

    scored
      .join(keepers,
        scored("fp") === keepers("fp") && scored("doc_id") === keepers("keep_id"))
      .filter(col("quality") >= minQuality &&
        col("n_tokens").between(minTokens, maxTokens))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** The capstone upgraded with the NEAR-dup stage: exact dedup's
    * fingerprint keeper can't see reworded boilerplate, so survivors
    * additionally pass through connected-component clustering over the
    * verified near-dup pair set ([[Dedup.minHashLsh]] at its recall-(1-ε)
    * operating point → [[Dedup.nearDupClusters]]), keeping the minimum
    * doc_id per cluster. End-to-end deterministic, so the WHOLE composed
    * pipeline — score → exact-dedup → near-dup-cluster-keeper → gates —
    * is oracle-verified (q_corpus_curation_neardup; the oracle recomputes
    * the clusters with a recursive CTE).
    *
    * The cluster representative is chosen among GATE SURVIVORS (minimum
    * surviving doc_id per cluster), not among all members: if the
    * cluster-wide minimum fails the quality/token gates, the cluster's
    * good content must not vanish with it.
    *
    * `pairs`: a precomputed near-dup pair set (doc_a, doc_b) — pass it
    * when the run already materialized one (the 100 TB shape: a dedup
    * run computes the pair set exactly once and threads it through every
    * consumer — clustering, cross-source audit, curation). When None the
    * pair set is computed inline at [[Dedup.minHashLsh]]'s `jaccard`
    * operating point, which re-runs the LSH if a sibling query already
    * did.
    *
    * Added cost over [[curate]]: the LSH band join (zero when `pairs`
    * is supplied) + the label propagation, both on the pair graph, not
    * the corpus.
    */
  def curateNearDup(
      docs: DataFrame,
      minQuality: Double = 0.5,
      minTokens: Int = 30,
      maxTokens: Int = 120,
      jaccard: Double = 0.5,
      pairs: Option[DataFrame] = None): DataFrame = {
    val clusters = Dedup.nearDupClusters(
      docs, pairs.getOrElse(Dedup.minHashLsh(docs, jaccard, bands = 32)))
    val gated = curate(docs, minQuality, minTokens, maxTokens)
      .join(clusters.select(col("doc_id"), col("cluster_id")), "doc_id")
    val keepers = gated.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("keep_id"))
    gated
      .join(keepers, gated("doc_id") === keepers("keep_id"))
      .select(gated("doc_id"), col("lang"), col("n_tokens"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Curation funnel report: how many documents each gate removes —
    * the ops dashboard for a curation run. Fully lazy, single pass: one
    * fingerprint aggregate carrying each group's size and its keeper's
    * gate columns (`min_by` = the keeper is the min-doc_id member), one
    * global conditional aggregate, then an explode back to (stage, n)
    * rows. No driver-side actions — equivalent to `docs.count()` +
    * `curate(...).count()` but one job instead of two table scans.
    */
  def curationFunnel(
      docs: DataFrame,
      minQuality: Double = 0.5,
      minTokens: Int = 30,
      maxTokens: Int = 120): DataFrame = {
    val perFp = scoreAndFingerprint(docs)
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("n_in_group"),
        min_by(struct(col("quality"), col("n_tokens")), col("doc_id")).as("keeper"))
    perFp
      .agg(
        // coalesce: sum() over ZERO groups is NULL — an empty corpus
        // must report a 0/0/0 funnel, not a NULL one
        coalesce(sum(col("n_in_group")), lit(0L)).as("input"),
        coalesce(sum(when(col("keeper.quality") >= minQuality &&
          col("keeper.n_tokens").between(minTokens, maxTokens), 1L)
          .otherwise(0L)), lit(0L)).as("kept"))
      .select(explode(array(
        struct(lit("input").as("stage"), col("input").cast("long").as("n_docs")),
        struct(lit("kept").as("stage"), col("kept").cast("long").as("n_docs")),
        struct(lit("dropped").as("stage"),
          (col("input") - col("kept")).cast("long").as("n_docs")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.n_docs").as("n_docs"))
      .orderBy(col("stage"))
  }

  /** Deterministic stratified downsampling — corpus rebalancing (cap the
    * over-represented languages/sources) without `rand()`: a document is
    * kept iff `rolling_content_hash mod 1e4 < rateE4(lang)`. The decision
    * is content-addressed, so it is identical on every run, every
    * cluster, and in the DuckDB oracle (the rolling polynomial hash is
    * engine-replicable — same recurrence as q_rolling_fingerprint).
    * Row-local filter: no shuffle, no state, linear at 100 TB.
    */
  /** The data card — the per-(source, lang) release report every corpus
    * ships with: volumes (docs, tokens, chars), exact-duplicate load
    * (docs minus distinct normalized fingerprints), and corpus shares.
    * Every column is exact integer arithmetic (averages and shares as
    * e2/e4 integer divisions), so the report is bit-stable across
    * engines and partitionings. One hash-partitioned aggregate over
    * (source, lang) — a dimension — plus a 1-row broadcast total.
    */
  def dataCard(docs: DataFrame): DataFrame = {
    val enriched = docs.select(
      col("source"), col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"),
      length(col("text")).cast("long").as("doc_chars"),
      graft.ops.Dedup.contentFingerprint(col("text")).as("fp"))
    val total = docs.agg(count(lit(1)).as("total_docs"))
    enriched.groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("doc_chars")).as("n_chars"),
        count_distinct(col("fp")).as("distinct_texts"))
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("distinct_texts"),
        (col("n_docs") - col("distinct_texts")).as("dup_docs"),
        expr("(n_tokens * 100) div n_docs").as("avg_tokens_e2"),
        expr("(n_docs * 10000) div total_docs").as("share_e4"))
      .orderBy(col("source"), col("lang"))
  }

  /** Exactly-k-per-group deterministic sample — eval-set construction:
    * order each group by the replicable content hash (doc_id tiebreak)
    * and keep the first k. Content-addressed like [[splitByContent]],
    * so the same corpus yields the same sample on any cluster or
    * re-run, with no quality bias (the unbiased counterpart to
    * [[domainCap]]'s quality-ordered cap). Stays in Spark's
    * WindowGroupLimit rewrite: map-side per-group top-k BEFORE the
    * exchange, so the shuffle carries O(groups × k), never the corpus.
    */
  def sampleKPerGroup(
      docs: DataFrame,
      groupCol: String = "source",
      k: Int = 5): DataFrame = {
    require(k >= 1, "k must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("hkey"), col("doc_id"))
    docs.select(col("doc_id"), col(groupCol),
        TextAnalysis.rollingFingerprint(col("text")).as("hkey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col(groupCol), col("rnk"))
      .orderBy(col(groupCol), col("rnk"))
  }

  /** Stratified sample-budget allocation (Neyman-shaped): split a fixed
    * eval budget across sources proportionally to N_h·R_h (stratum size
    * × value range — the integer-exact stand-in for size × std-dev, so
    * the whole allocation is engine-exact with no float weight ever).
    * Rounding is largest-remainder (Hamilton), which by construction
    * sums EXACTLY to the budget — the property a downstream sampler
    * actually needs; floors-only or independent rounding would drift.
    *
    * Shape: one collapse to the source dimension; the remainder ranking
    * and the base-sum scalar both live on that ≤|sources| frame.
    */
  def sampleAllocation(docs: DataFrame, budget: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("n_chars")) - min(col("n_chars"))).as("range_chars"))
      .withColumn("m", col("n_docs") * col("range_chars"))
    val den = s.agg(sum(col("m")).as("den"))
    val based = s.crossJoin(broadcast(den))
      .withColumn("num", col("m") * budget)
      .withColumn("base", expr("num div den"))
      .withColumn("rem", expr("num % den"))
      .withColumn("weight_e4", expr("m * 10000 div den"))
    val extras = based.agg((lit(budget) - sum(col("base"))).as("extras"))
    based.crossJoin(broadcast(extras))
      .withColumn("rk",
        row_number().over(Window.orderBy(desc("rem"), col("source"))).cast("long"))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("extras"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("range_chars"),
        col("weight_e4"), col("alloc"))
      .orderBy(col("source"))
  }

  /** Token-weighted document sample — sequential Poisson sampling
    * (Ohlsson): each doc draws a deterministic content-hash "uniform"
    * and competes on priority = u div weight; the GLOBAL bottom-k then
    * includes docs with probability ≈ proportional to token count. The
    * weighted counterpart to [[sampleKPerGroup]]'s uniform draw and the
    * fixed-stride [[systematicSample]]: one pass, no prefix sum, and a
    * new doc only ever displaces one incumbent — replay-stable.
    *
    * Arithmetic is integer end to end (hash·10⁶ div tokens — the e6
    * scale keeps distinct priorities across the hash range), so the
    * selection is bit-identical on any engine; ties (same priority)
    * break by doc_id. Shape at 100 TB: priorities are row-local, the
    * bottom-k is TakeOrderedAndProject (per-partition top-k, k-row
    * merge on the driver) — the corpus is never globally sorted.
    */
  def weightedSample(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 1, "k must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val picked = docs.select(
        col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        TextAnalysis.rollingFingerprint(col("text")).as("hkey"))
      .withColumn("priority", expr("hkey * 1000000 div n_tokens"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)
    // rank window runs on the k-row result, not the corpus
    picked
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("priority"), col("doc_id")))
          .cast("long"))
      .select(col("rnk"), col("doc_id"), col("n_tokens"), col("priority"))
      .orderBy(col("rnk"))
  }

  /** Split-leakage report — the release check that pairs the split with
    * the near-dup pipeline: how many near-duplicate pairs STRADDLE
    * splits (a train/test straddle means the model effectively sees
    * test data). Buckets are order-insensitive (least/greatest), so
    * (train, test) and (test, train) count as one leak class. Shape:
    * two id-keyed broadcast-or-hash joins against the (doc_id, split)
    * frame + a 9-row-max aggregate — pair-graph-sized, never
    * corpus-sized. Exact dups can't leak under [[splitByContent]]
    * (identical text → identical bucket); near-dups can, which is
    * precisely what this measures.
    */
  def splitLeakage(splits: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .select(
        least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_split", col("split_lo") =!= col("split_hi"))
      .orderBy(col("split_lo"), col("split_hi"))

  /** Deterministic content-addressed train/validation/test split — the
    * leakage-guard shape: the bucket is a hash of the TEXT (same
    * replicable rolling hash as [[stratifiedSample]]), so byte-identical
    * documents land in the same split no matter which shard, ingest
    * batch, or re-run produced them, and re-splitting after corpus
    * growth never moves an existing doc across the boundary. Splits are
    * e4 fractions over the 10000-bucket space, assigned by cumulative
    * upper bound in the given order. Row-local: no shuffle, no state,
    * linear at 100 TB. (Near-duplicate leakage is the near-dup
    * pipeline's job — run the split AFTER dedup.)
    */
  def splitByContent(
      docs: DataFrame,
      splitsE4: Seq[(String, Long)] =
        Seq("train" -> 9000L, "validation" -> 500L, "test" -> 500L)): DataFrame = {
    require(splitsE4.nonEmpty && splitsE4.forall(_._2 > 0),
      "each split needs a positive e4 weight")
    require(splitsE4.map(_._2).sum == 10000L, "split weights must sum to 10000 (e4)")
    val bucket = pmod(TextAnalysis.rollingFingerprint(col("text")), lit(10000L))
    val uppers = splitsE4.map(_._2).scanLeft(0L)(_ + _).tail
    val label = splitsE4.zip(uppers).init
      .foldRight(lit(splitsE4.last._1): Column) {
        case (((name, _), ub), els) => when(bucket < ub, lit(name)).otherwise(els)
      }
    docs.select(col("doc_id"), label.as("split")).orderBy(col("doc_id"))
  }

  /** Curriculum phase assignment over an INTEGER difficulty score
    * (token count, quality score, perplexity bucket — anything already
    * integer-valued): docs are ranked into `nPhases` quantile phases
    * (phase 0 = easiest) so training can feed them easy→hard.
    *
    * Quantiles come from the score HISTOGRAM, not a global sort: one
    * dimension-sized aggregate (score classes, not docs), a running sum
    * over that tiny frame, and a broadcast join back — the corpus never
    * sorts globally and never shuffles beyond the score aggregate. A
    * whole score class lands in one phase (the phase of its first
    * member), so boundary docs are never split arbitrarily by id and
    * the assignment is engine-replicable integer arithmetic.
    */
  def curriculumPhases(
      docs: DataFrame,
      scoreCol: Column,
      nPhases: Int = 4): DataFrame = {
    require(nPhases >= 2, "a curriculum needs at least 2 phases")
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), scoreCol.cast("long").as("score"))
    val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("n"))
    // single-partition window is fine HERE: it runs over score classes
    // (a dimension), never over documents
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = scored.agg(count(lit(1)).as("total"))
    val phased = hist
      .withColumn("cum_before", sum(col("n")).over(w) - col("n"))
      .crossJoin(broadcast(total))
      .withColumn("phase",
        least(expr(s"(cum_before * $nPhases) div total"), lit((nPhases - 1).toLong)))
      .select(col("score"), col("phase"))
    scored.join(broadcast(phased), "score")
      .select(col("doc_id"), col("score"), col("phase"))
      .orderBy(col("doc_id"))
  }

  def stratifiedSample(
      docs: DataFrame,
      ratesE4: Map[String, Long],
      defaultRateE4: Long = 10000L): DataFrame = {
    require((ratesE4.values ++ Seq(defaultRateE4)).forall(r => r >= 0 && r <= 10000),
      "sampling rates are e4 fractions in [0, 10000]")
    val rate = ratesE4.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultRateE4): Column) { case (els, (lang, r)) =>
        when(col("lang") === lang, lit(r)).otherwise(els)
      }
    docs.filter(
      pmod(TextAnalysis.rollingFingerprint(col("text")), lit(10000L)) < rate)
  }

  /** Temperature-based source mixture — how multi-source training
    * corpora are weighted: raw token shares are flattened with
    * temperature τ=2 (weight_i ∝ share_i^(1/2)), up-weighting small
    * high-quality sources relative to proportional sampling. The
    * exponent is fixed at 1/2 because IEEE-754 REQUIRES sqrt to be
    * correctly rounded — a general pow(x, 1/τ) is only faithfully
    * rounded, so the oracle engine could disagree in the last ulp;
    * sqrt cannot. Residual risk (same class as unigramLogProb's): the
    * DENOMINATOR sum(sqrt(...)) is a float reduction whose partial-
    * aggregation merge order differs from a sequential engine's, so
    * round(weight, 4) could in principle flip at an exact half-ulp
    * decimal boundary. Sources are a dimension (dozens of summands), the
    * sqrt terms are well-scaled, and no boundary case exists in the test
    * corpus — accepted, not eliminated.
    *
    * Output per source: doc/token counts, the exact e4 proportional
    * share, the temperature weight, and the token draw for
    * `tokenBudget`. Shape at 100 TB: one source-keyed aggregate
    * (sources are a dimension — dozens, not corpus-scaled) + a 1-row
    * broadcast of the totals.
    */
  def sourceMixture(docs: DataFrame, tokenBudget: Long = 1000000L): DataFrame = {
    val perSource = docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("total_tokens"),
      sum(sqrt(col("n_tokens").cast("double"))).as("sum_sqrt"))
    val w = sqrt(col("n_tokens").cast("double")) / col("sum_sqrt")
    perSource.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 10000) div total_tokens").as("share_e4"),
        round(w, 4).as("weight"),
        round(w * tokenBudget, 0).cast("long").as("target_tokens"))
      .orderBy(col("source"))
  }

  /** (doc_id, source, n_tokens): the token sizing every draw scans. */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))

  /** Materialize the [[sourceMixture]] draw — the step between computing
    * temperature weights and actually emitting a training corpus: per
    * source, documents are taken in deterministic doc_id order while the
    * source's running token count has not yet reached its target; the
    * straddling document is kept, so every source with a nonzero target
    * contributes at least one document. Reports per source: the target,
    * what was actually drawn (docs + tokens), and the exact e4 fill
    * fraction. A source whose target rounds to zero draws nothing and is
    * absent from the report.
    *
    * Shape at 100 TB: the target table is dimension-sized (broadcast),
    * and the per-source running sum `cum_before` is [[Scan.exclusive]]
    * keyed on source — a window partitioned by source alone would pull
    * each source's entire slice through one task; `shardWidth` is the
    * kernel's block width.
    */
  def applyMixtureBudget(
      docs: DataFrame,
      tokenBudget: Long = 1000000L,
      shardWidth: Long = 65536L): DataFrame = {
    val targets = sourceMixture(docs, tokenBudget)
      .select(col("source"), col("target_tokens"))
    Scan.exclusive(docTokens(docs), Seq("source"), "doc_id", "n_tokens",
        shardWidth, Scan.Sum, "cum_before")
      .join(broadcast(targets), "source")
      .filter(col("cum_before") < col("target_tokens"))
      .groupBy(col("source"), col("target_tokens"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_tokens")).as("n_tokens_kept"))
      .select(col("source"), col("target_tokens"), col("n_docs_kept"),
        col("n_tokens_kept"),
        expr("(n_tokens_kept * 10000) div target_tokens").as("fill_e4"))
      .orderBy(col("source"))
  }

  /** Epoch-aware mixture draw — what [[applyMixtureBudget]] cannot do:
    * when a source's temperature target EXCEEDS its available tokens
    * (the entire point of sqrt flattening is to over-sample small
    * sources), the budget draw silently under-fills. Real training
    * mixtures repeat the source instead: every document is drawn
    * `target div source_tokens` full epochs, and the remainder
    * `target mod source_tokens` is a partial epoch drawn in the same
    * deterministic doc_id order as the budget draw (straddling doc
    * kept). Emits the per-document repeat plan a sampler consumes —
    * `doc_id, source, n_tokens, n_copies` for every doc with
    * n_copies ≥ 1 — exact integer arithmetic throughout, so
    * `sum(n_tokens * n_copies)` per source lands within one straddling
    * document of the target.
    *
    * Shape at 100 TB: identical to [[applyMixtureBudget]] — the
    * hierarchical [[Scan.exclusive]] prefix sum (no per-source
    * single-task window), a broadcast dimension-sized target table,
    * row-local copy arithmetic. Emitting one row per doc (not per
    * copy) keeps the output corpus-sized regardless of epoch counts.
    */
  def applyMixtureEpochs(
      docs: DataFrame,
      tokenBudget: Long = 1000000L,
      shardWidth: Long = 65536L): DataFrame = {
    val targets = sourceMixture(docs, tokenBudget)
      .select(col("source"), col("n_tokens").as("source_tokens"),
        col("target_tokens"))
      .filter(col("source_tokens") > 0)
      .withColumn("n_epochs_full", expr("target_tokens div source_tokens"))
      .withColumn("rem_tokens", expr("target_tokens % source_tokens"))
    Scan.exclusive(docTokens(docs), Seq("source"), "doc_id", "n_tokens",
        shardWidth, Scan.Sum, "cum_before")
      .join(broadcast(targets), "source")
      .withColumn("n_copies",
        col("n_epochs_full") +
          when(col("cum_before") < col("rem_tokens"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Line-level corpus dedup (CCNet/RefinedWeb-style): drop every line
    * that appears in ≥ `minDf` distinct documents — navigation chrome,
    * cookie banners, boilerplate footers — while keeping each document's
    * remaining lines in their original order.
    *
    * Shape at 100 TB: the line document-frequency is one hash-partitioned
    * aggregate on the line key; the frequent-line set is the corpus's
    * heavy hitters (df ≥ minDf), which by construction is orders of
    * magnitude smaller than the line table, so the anti-join's build side
    * is small and AQE picks a broadcast at runtime — no unconditional
    * hint (the set's size is data-dependent; see the round-2 verdict on
    * hard-coded broadcasts). Reassembly is one per-doc aggregate sorting
    * the surviving (pos, line) pairs row-locally.
    *
    * `hashKeys = true` is the petabyte-scale variant: the frequency
    * aggregate and the anti-join run on the 60-bit
    * [[graft.functions.PolyHashArray]] key, so the exchange feeding the
    * document-frequency aggregate carries an 8-byte long instead of the
    * line string (pinned in PlanShapeSpec; line strings then ride only
    * the per-doc reassembly shuffle, which carries the output itself).
    * Collision risk is the 60-bit birthday bound (~1e9 distinct lines
    * for even-odds of ONE collision corpus-wide — and a collision
    * merely over-counts one line's df). Default stays string-keyed so
    * the DuckDB oracle pairing is readable; CorpusSpec pins both paths
    * value-identical.
    *
    * Output: one row per input document — `doc_id, n_lines,
    * n_lines_kept, kept_text` (empty string when every line was
    * boilerplate, so downstream gates see the doc rather than losing it).
    */
  def lineDedup(
      docs: DataFrame,
      minDf: Long = 50L,
      hashKeys: Boolean = false): DataFrame = {
    require(minDf >= 2, "minDf < 2 would delete every line in the corpus")
    val rawLines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val lines =
      if (hashKeys) rawLines.withColumn("line_k",
        element_at(graft.functions.HashFunctions.polyHashArray(
          array(col("line"))), 1))
      else rawLines.withColumn("line_k", col("line"))
    // the frequency branch drops the line string BEFORE the aggregate's
    // exchange — with hashKeys its shuffle rows are (long, long)
    val frequent = lines.select(col("line_k"), col("doc_id"))
      .groupBy(col("line_k"))
      .agg(count_distinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select(col("line_k"))
    val keptPerDoc = lines.join(frequent, Seq("line_k"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          "\n").as("kept_text"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(keptPerDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Boilerplate phrase mining — the corpus-level report feeding a
    * line/phrase blocklist: the top-k n-gram shingles by document
    * frequency. Deterministic ordering (df desc, shingle asc) so the
    * cutoff is engine-independent.
    *
    * Shape at 100 TB: shingling is row-local and distinct-within-doc
    * (native [[graft.functions.WordShingles]], so count(*) per shingle
    * IS the document frequency — no count-distinct pass); the df
    * aggregate hash-partitions on the shingle key; top-k is a global
    * TakeOrdered of k rows. Nothing corpus-sized moves to the driver.
    */
  def boilerplatePhrases(
      docs: DataFrame,
      n: Int = 3,
      minDf: Long = 5L,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col("text"))
    docs
      .select(col("doc_id"),
        explode(graft.functions.ShingleFunctions.wordShingles(toks, n))
          .as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(desc("df"), col("shingle"))
      .limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(desc("df"), col("shingle"))).cast("long"))
      .select(col("rnk"), col("shingle"), col("df"))
      .orderBy(col("rnk"))
  }

  /** Cross-source duplicate audit — where a corpus's near-duplicates
    * come from: the verified near-dup pair set ([[Dedup.minHashLsh]] at
    * its recall-(1-ε) operating point) joined back to each endpoint's
    * source, reduced to one row of within- vs cross-source counts. A
    * high cross-source count means mirrors/syndication between feeds; a
    * high within-source count means a feed re-crawling itself.
    *
    * Shape at 100 TB: the pair set is duplicate-graph-sized (≪ corpus);
    * the two enrichment joins shuffle on the doc key with the pair side
    * small — AQE picks broadcast when it fits, nothing is hint-forced.
    */
  def crossSourceDupReport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("doc_a", "source_a"), "doc_a")
      .join(src.toDF("doc_b", "source_b"), "doc_b")
      .agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("source_a") === col("source_b"), 1L)
          .otherwise(0L)), lit(0L)).as("n_same_source"),
        coalesce(sum(when(col("source_a") =!= col("source_b"), 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_source"))
  }

  /** Sequence packing (concat-and-cut) — the step that turns a curated
    * corpus into fixed-length training sequences: documents are
    * concatenated in deterministic order within hash shards and cut into
    * `budget`-token bins; each document reports the shard-local stream
    * offset where it starts, the bin that offset falls in, and its
    * offset inside that bin (a document may straddle into the next bin —
    * the standard GPT-style packing, chosen over first-fit exactly
    * because it is a pure running sum: first-fit's bin state is a
    * sequential recursion no window can express).
    *
    * Shape at 100 TB: the ONLY window is partitioned by shard — packing
    * is embarrassingly parallel across shards, and each shard's sort is
    * a partition-local sort, never a global order funneling the corpus
    * through one task (which is also how real packers run: one packer
    * per output shard). Everything is exact integer arithmetic —
    * engine-independent by construction.
    */
  def packTokenBudget(
      docs: DataFrame,
      budget: Long = 2048L,
      nShards: Int = 8): DataFrame = {
    require(budget > 0, "token budget must be positive")
    require(nShards > 0, "shard count must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .withColumn("start_offset", col("end_offset") - col("n_tokens"))
      .withColumn("bin_id", expr(s"start_offset div $budget"))
      .withColumn("bin_offset", pmod(col("start_offset"), lit(budget)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("start_offset"), col("bin_id"), col("bin_offset"))
      .orderBy(col("doc_id"))
  }

  /** Packed-sequence MATERIALIZATION — the emit step on top of
    * [[packTokenBudget]]'s offsets: per (shard, bin_id), the actual
    * concatenated token stream a trainer consumes, plus the doc-span
    * map (`doc_id:start_in_bin:len`, space-joined in stream order)
    * that lets a loss mask or attention-reset follow document
    * boundaries inside the packed sequence.
    *
    * A straddling document is split at the bin boundary: each bin gets
    * exactly the token slice whose global offsets fall inside it, so
    * the bins tile the shard stream with no gap or overlap and every
    * bin except a shard's last holds exactly `budget` tokens.
    *
    * Shape at 100 TB: ONE corpus-sized exchange — the shard-partitioned
    * running-sum window (same as [[packTokenBudget]]; the token arrays
    * ride this shuffle once, unavoidable for materialization). Bin
    * assembly groups on (shard, bin_id) but Catalyst proves
    * hashpartitioning(shard) already clusters it, so no second data
    * exchange (pinned in PlanShapeSpec). The bin-overlap explode is
    * row-local and emits ~1 row per doc (ceil(n_tokens/budget)+1 worst
    * case); each assembled bin is ≤ budget tokens — row-sized, never
    * driver-sized. Parallelism is nShards-bounded, a tuning knob: at
    * 100 TB you run thousands of output shards, not 8.
    */
  def packSequences(
      docs: DataFrame,
      budget: Long = 2048L,
      nShards: Int = 8): DataFrame =
    packSequencesImpl(docs, budget, nShards, shuffleEpoch = None)

  /** Epoch-shuffled packing — the missing link in the trainer chain
    * (curate → mixture → SHUFFLE → pack): training runs re-draw the
    * document order every epoch so batches decorrelate from crawl
    * order, and the shuffle must be DETERMINISTIC (resumable, and
    * reproducible across engines) rather than a `rand()` sort. The
    * order key is the replicable PolyHash (base 31, mod 1e9+7 — the
    * q_rolling_fingerprint family) of `"<doc_id>:<epoch>"`: shard
    * assignment and within-shard order both follow the hash, so each
    * epoch re-deals docs across shards and re-orders them inside,
    * while any (doc, epoch) pair maps to one fixed position. Ties on
    * the hash break by doc_id — total order, engine-independent.
    *
    * Same output schema and scale shape as [[packSequences]].
    */
  def packSequencesShuffled(
      docs: DataFrame,
      budget: Long = 2048L,
      nShards: Int = 8,
      epoch: Long = 0L): DataFrame =
    packSequencesImpl(docs, budget, nShards, shuffleEpoch = Some(epoch))

  private def packSequencesImpl(
      docs: DataFrame,
      budget: Long,
      nShards: Int,
      shuffleEpoch: Option[Long]): DataFrame = {
    require(budget > 0, "token budget must be positive")
    require(nShards > 0, "shard count must be positive")
    import org.apache.spark.sql.expressions.Window
    // identity order: key IS doc_id, so shard/order match the
    // sequential packSequences contract exactly (no extra sort column)
    val orderKey = shuffleEpoch match {
      case Some(e) => graft.functions.HashFunctions.polyHash(
        concat(col("doc_id").cast("string"), lit(s":$e")), 31L, 1000000007L)
      case None => col("doc_id")
    }
    // identity path orders by doc_id alone (ord_key IS doc_id — a
    // second sort column would be redundant); shuffled path needs the
    // doc_id tiebreak for a total order under hash collisions
    val orderCols =
      if (shuffleEpoch.isDefined) Seq(col("ord_key"), col("doc_id"))
      else Seq(col("doc_id"))
    val w = Window.partitionBy(col("shard")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pieces = docs
      .select(col("doc_id"), orderKey.as("ord_key"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("shard", pmod(col("ord_key"), lit(nShards.toLong)))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .withColumn("start_offset", col("end_offset") - col("n_tokens"))
      .filter(col("n_tokens") > 0)
      // bins this doc overlaps: [start div budget, (end-1) div budget]
      .withColumn("bin_id", explode(expr(
        s"sequence(start_offset div $budget, (end_offset - 1) div $budget)")))
      // the doc's token slice whose global offsets land in this bin
      .withColumn("piece_from",
        greatest(col("bin_id") * lit(budget), col("start_offset")))
      .withColumn("piece_to",
        least((col("bin_id") + lit(1L)) * lit(budget), col("end_offset")))
      .withColumn("piece_len", col("piece_to") - col("piece_from"))
      .withColumn("piece_toks", expr(
        "slice(toks, cast(piece_from - start_offset + 1 as int), cast(piece_len as int))"))
      .withColumn("start_in_bin", pmod(col("piece_from"), lit(budget)))
    pieces
      .groupBy(col("shard"), col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("piece_len")).as("n_tokens"),
        // pieces tile the bin disjointly, so start_in_bin is unique in
        // the group and the struct sort reconstructs stream order
        sort_array(collect_list(struct(
          col("start_in_bin"), col("doc_id"), col("piece_len"),
          col("piece_toks")))).as("ps"))
      .select(col("shard"), col("bin_id"), col("n_docs"), col("n_tokens"),
        expr("concat_ws(' ', transform(ps, p -> concat(" +
          "cast(p.doc_id as string), ':', cast(p.start_in_bin as string), " +
          "':', cast(p.piece_len as string))))").as("doc_spans"),
        flatten(expr("transform(ps, p -> p.piece_toks)")).as("tokens"))
      .orderBy(col("shard"), col("bin_id"))
  }

  /** Benchmark decontamination — the check every LLM training pipeline
    * runs before a corpus ships: flag training documents that share
    * n-gram spans with an evaluation/benchmark set. Standard practice is
    * long shingles (n = 8..13) exactly because chance collisions vanish:
    * any hit is a real contamination span, not vocabulary coincidence.
    *
    * `benchmarkPred` partitions the input into benchmark (true) and
    * corpus (false) rows. A corpus doc is reported when ≥
    * `minOverlapE4`/1e4 of its distinct n-gram shingles appear anywhere
    * in the benchmark set. Exact integer e4 fraction — no float rounding
    * to disagree across engines. Docs shorter than n tokens produce no
    * shingles and simply never explode a row — no explicit guard needed.
    * The shingle column sits behind an [[graft.functions
    * .OptimizerBarrier]]: `InferFiltersFromGenerate` derives
    * `size(shingles) > 0` predicates from the explodes, and without the
    * barrier predicate pushdown substitutes the WHOLE
    * tokenize-and-shingle expression into join conditions (~4 extra
    * evaluations per row — same class of bug as EventPipeline's
    * round-1 from_json duplication). Behind the barrier the inferred
    * filters stay cheap attribute tests next to each Generate.
    *
    * Shape at 100 TB: shingling is row-local (native [[graft.functions
    * .WordShingles]], distinct within doc); the overlap is an equi-join
    * on the shingle key between the exploded corpus and the DISTINCT
    * benchmark shingle set, then one per-doc aggregate — all
    * hash-partitioned on shingle/doc keys, nothing corpus-sized on the
    * driver or broadcast.
    *
    * `hashKeys = true` is the petabyte-scale variant: BOTH sides of the
    * overlap join carry `poly_hash_array(shingles)` 60-bit longs — the
    * output needs no shingle strings at all, so 8-gram strings
    * (~50-100 bytes each) never ride ANY exchange, an order-of-magnitude
    * cut in overlap-join shuffle bytes (pinned in PlanShapeSpec). A
    * collision can only over-count one doc's `n_overlap` by 1 at the
    * 60-bit birthday bound. The default stays string-keyed so the
    * DuckDB oracle pairing is readable; CorpusSpec pins both paths
    * value-identical.
    */
  def contaminationCheck(
      docs: DataFrame,
      benchmarkPred: Column,
      n: Int = 8,
      minOverlapE4: Long = 500,
      hashKeys: Boolean = false): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val keyed =
      if (hashKeys)
        graft.functions.HashFunctions.polyHashArray(
          graft.functions.ShingleFunctions.wordShingles(toks, n))
      else graft.functions.ShingleFunctions.wordShingles(toks, n)
    val shingled = docs
      .select(col("doc_id"), benchmarkPred.as("is_bench"),
        graft.functions.BarrierFunctions.barrier(keyed).as("shingles"))
    val corpus = shingled.filter(!col("is_bench"))
      .select(col("doc_id"),
        size(col("shingles")).cast("long").as("n_shingles"),
        explode(col("shingles")).as("shingle"))
    val bench = shingled.filter(col("is_bench"))
      .select(explode(col("shingles")).as("shingle"))
      .distinct()
    corpus.join(bench, "shingle")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("overlap_frac_e4", expr("(n_overlap * 10000) div n_shingles"))
      .filter(col("overlap_frac_e4") >= minOverlapE4)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        col("overlap_frac_e4"))
      .orderBy(col("doc_id"))
  }

  /** Systematic (low-discrepancy) token-weighted sampling: place `k`
    * equally-spaced sampling positions over the corpus's total token mass
    * `W` and give each document one copy per position falling inside its
    * token interval `[cum_before, cum_before + n_tokens)`:
    *
    *   n_copies = ⌊cum_after·k/W⌋ − ⌊cum_before·k/W⌋
    *
    * This is the deterministic counterpart of weighted reservoir
    * sampling (Efraimidis–Spirakis): inclusion is exactly proportional
    * to token count (a doc with ≥ W/k tokens is ALWAYS drawn, possibly
    * multiple times — that's epoching, not a bug), the draw is exactly
    * `k` copies total (the floors telescope to ⌊W·k/W⌋ = k, pinned in
    * CorpusSpec), and — unlike u^(1/w) keys, whose pow() is not
    * IEEE-correctly-rounded and can differ across engines in the last
    * ulp — every step is integer arithmetic the oracle reproduces
    * bit-identically.
    *
    * Shape at 100 TB: the prefix sum is [[Scan.exclusive]] with no key
    * (data-parallel across id shards, no global sort, no
    * corpus-through-one-task window); the total `W` is a 1-row
    * broadcast; the copy arithmetic is row-local, widened to
    * DECIMAL(38,0) so `cum·k` cannot overflow at petabyte token counts
    * (BIGINT dies at W·k > 9.2e18 — e.g. 1e13 tokens × 1e6 samples).
    * Emits one row per drawn doc (`n_copies ≥ 1`), never one per copy.
    */
  def systematicSample(
      docs: DataFrame,
      k: Long = 200L,
      shardWidth: Long = 65536L): DataFrame = {
    require(k > 0, "sample size must be positive")
    val sized = docTokens(docs)
    val total = sized.agg(sum(col("n_tokens")).as("w_total"))
    Scan.exclusive(sized, Nil, "doc_id", "n_tokens", shardWidth, Scan.Sum,
        "cum_before")
      .crossJoin(broadcast(total))
      .withColumn("n_copies",
        expr(s"CAST(cum_before + n_tokens AS DECIMAL(38,0)) * $k DIV w_total") -
          expr(s"CAST(cum_before AS DECIMAL(38,0)) * $k DIV w_total"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Source×source n-gram containment matrix — the FINE-grained leakage
    * audit next to [[crossSourceDupReport]]'s doc-level counts: for each
    * source pair, how many distinct word `n`-grams they share, and what
    * fraction of EACH side's shingle vocabulary that overlap is
    * (containment is asymmetric — a small feed mirrored inside a big one
    * shows near-10⁴ e4 on its own side and near-zero on the other's).
    * The readout that catches syndication and template reuse BEFORE
    * doc-level dedup ever fires.
    *
    * Shape at 100 TB: shingles explode row-locally (native
    * [[graft.functions.WordShingles]], per-doc distinct); ONE hash
    * exchange on the shingle key builds the per-shingle source set
    * (bounded by #sources, a few hundred at worst); pairs explode
    * row-locally from each sorted set; the pair aggregate and the two
    * size joins run on the source²-dimension frame. The corpus never
    * self-joins on raw shingles (the all-pairs trap) — sets first, pairs
    * after.
    */
  def sourceNgramOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    // two consumers (pair sets + per-source sizes) share the one
    // tokenize+shingle explosion via a lazy persist — the basketPairs
    // pattern; Bench/Verify clear the pool
    val sh = Par.widen(docs, col("doc_id")).select(col("source"),
      explode(graft.functions.ShingleFunctions.wordShingles(toks, n))
        .as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted (source-dimension, a handful of rows): BOTH containment
    // joins read it — unshared, the 1.3 s countDistinct pass over the
    // shingle cache ran once per join side (r13 profiling)
    val sizes = sh.groupBy(col("source"))
      .agg(countDistinct(col("shingle")).as("sz"))
      .persist()
    val pairs = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      // row-local ordered-pair explode from the sorted set: (a, b), a < b
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "b -> struct(a AS src_a, b AS src_b))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))),
        "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))),
        "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        expr("n_shared * 10000 div sz_a").as("containment_a_e4"),
        expr("n_shared * 10000 div sz_b").as("containment_b_e4"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** GREEDY MAXIMUM-COVERAGE SELECTION: pick `k` documents that together
    * cover the most distinct vocabulary, one greedy round at a time —
    * the classic (1−1/e)-approximate set-cover step behind eval-set
    * construction, seed-corpus picking, and "smallest demo corpus that
    * exercises the tokenizer" questions. Each round scores every
    * remaining document by its MARGINAL gain (terms not yet covered) and
    * takes the argmax (gain desc, doc_id asc).
    *
    * Shape at 100 TB: the term frame materializes once (persisted); a
    * round is one anti-join against the covered-vocabulary frame
    * (vocab-sized, NOT corpus-sized) + one per-doc count + a 1-row
    * argmax (the [[Similarity]] k-center discipline: k model-sized
    * collects is the greedy algorithm's inherent cost, documented). The
    * covered frame is localCheckpoint'ed per round so lineage stays flat.
    * k rounds ⇒ k passes over the TERM frame — greedy set cover cannot
    * do better without sketching; this is the exact baseline.
    */
  def setCoverSelect(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    // cover word TRIGRAMS, not unigrams: the unigram vocabulary of a
    // template-generated corpus fits inside one long document and the
    // greedy loop would stop after one pick; trigram coverage keeps the
    // marginal-gain structure non-trivial
    val terms = Par.widen(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 3)).as("term"))
      .distinct()
      .persist()
    // The covered vocabulary lives DRIVER-SIDE: it is k docs' distinct
    // trigrams — document-scale, bounded by the greedy budget — and
    // holding it as a local Set replaces the per-round union + distinct
    // + localCheckpoint maintenance jobs (and the checkpointed frame's
    // unknown-size anti-join planning hazard the old broadcast hint
    // worked around) with ZERO jobs: each round is now exactly one
    // anti-join-aggregate pass over the persisted term frame plus one
    // doc-sized term fetch (both bounded sync points, the 1-row-argmax
    // discipline). Gain arithmetic and tie-breaks are unchanged.
    val covered = scala.collection.mutable.HashSet.empty[String]
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var rnk = 1L
    var coveredTotal = 0L
    var exhausted = false
    while (rnk <= k && !exhausted) {
      val coveredDf = broadcast(
        covered.toSeq.sorted.toDF("term")) // sorted: deterministic plan
      val gains = terms
        .join(coveredDf, Seq("term"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), col("doc_id"))
        .limit(1)
        .collect() // 1-row argmax: the greedy step's inherent sync point
      if (gains.isEmpty) exhausted = true
      else {
        val row = gains.head
        val docId = row.getLong(0)
        covered ++= terms.filter(col("doc_id") === docId)
          .select(col("term")).as[String].collect()
        // the anti-join makes gain EXACTLY the newly covered terms (the
        // picked doc's terms are distinct), so the running total needs
        // no extra count() action over the covered frame
        coveredTotal += row.getLong(1)
        picks += ((rnk, docId, row.getLong(1), coveredTotal))
        rnk += 1
      }
    }
    picks.toSeq.toDF("rnk", "doc_id", "gain", "covered_total")
      .orderBy(col("rnk"))
  }

  /** DuckDB oracle for [[setCoverSelect]] — the greedy chain unrolled to
    * k CTE layers (gains → 1-row argmax → covered union), identical
    * tie-breaks.
    */
  def setCoverSelectOracleSql(k: Int = 5): String = {
    require(k >= 1)
    val head =
      """WITH terms AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS term
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)
        |  WHERE len(toks) >= 3),
        |cov0 AS MATERIALIZED (SELECT term FROM terms WHERE 1 = 0)""".stripMargin
    val rounds = (1 to k).map { t =>
      s"""sel$t AS MATERIALIZED (
         |  SELECT ${t}::BIGINT AS rnk, doc_id, count(*)::BIGINT AS gain
         |  FROM terms WHERE term NOT IN (SELECT term FROM cov${t - 1})
         |  GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
         |cov$t AS MATERIALIZED (
         |  SELECT term FROM cov${t - 1}
         |  UNION
         |  SELECT term FROM terms JOIN sel$t USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map { t =>
      s"""SELECT rnk, doc_id, gain,
         |  (SELECT count(*) FROM cov$t)::BIGINT AS covered_total
         |FROM sel$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$head,
       |$rounds
       |$out
       |ORDER BY rnk""".stripMargin
  }
}

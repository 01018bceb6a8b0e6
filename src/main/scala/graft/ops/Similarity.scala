package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (ARRAY<FLOAT>, dim 64). Two paths:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline
  *    and the DuckDB-oracle query. Broadcast the (small) query set against
  *    the corpus: one pass, per-partition top-k, no corpus shuffle.
  *  - [[lshTopK]]: random-hyperplane LSH — the 100 TB path. Signatures are
  *    row-local; candidates come from band-key equi-joins, so compared
  *    pairs scale with bucket density, not corpus size².
  */
object Similarity {

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, s"$sfDir/embeddings.parquet")

  /** Exact top-k neighbors for each query vector. Query side is broadcast;
    * ranking is a window over qid (k small ⇒ per-partition heap via
    * rank-filter). Ties broken by vec_id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      Dedup.vecNorm(col("embedding")).as("q_norm"))
    val scored = corpus
      .withColumn("c_norm", Dedup.vecNorm(col("embedding")))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        vecDot(col("q_emb"), col("embedding")) / col("q_norm") / col("c_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Metadata-filtered exact top-k: neighbors restricted to corpus rows
    * satisfying `pred` — the "filtered vector search" shape (top-k
    * within one language / source / label). PRE-filtering: the predicate
    * lands on the corpus scan (parquet footer pruning; on a
    * label-partitioned layout, directory pruning), scoring touches only
    * qualifying rows, and k results are guaranteed. The alternative —
    * post-filtering an unfiltered top-k — returns < k rows the moment
    * the filter is selective, which is exactly when filtering matters.
    */
  def bruteForceTopKFiltered(
      corpus: DataFrame,
      queries: DataFrame,
      pred: Column,
      k: Int = 10): DataFrame =
    bruteForceTopK(corpus.filter(pred), queries, k)

  /** Hybrid retrieval: BM25 lexical candidates and brute-force cosine
    * semantic candidates over the SAME document corpus (documents whose
    * doc_id has an embedding row), fused by reciprocal-rank fusion
    * RRF(d) = Σ_systems 1/(rrfK + rank_system(d)) — the
    * industry-standard fusion that needs no score calibration between
    * systems. Per-system contributions quantize to e9 BIGINT before the
    * sum (one IEEE division + round each — order-independent exact
    * integer fusion, the [[TextAnalysis.bm25Search]] discipline), so
    * the fused ranking is oracle-exact.
    *
    * Shape at 100 TB: each retriever keeps its own at-scale shape
    * (BM25: pre-agg term filter + broadcast df stats + top-k heaps;
    * semantic: broadcast 1-row query, narrow scoring, rank-capped
    * exchange — or the IVF index path when brute-force outgrows);
    * fusion then runs on two ≤ kEach-row frames — driver-sized by
    * construction.
    */
  def hybridSearch(
      docs: DataFrame,
      embs: DataFrame,
      queryTerms: Seq[String],
      queryVecId: Long = 0L,
      k: Int = 10,
      kEach: Int = 20,
      rrfK: Int = 60): DataFrame = {
    require(queryTerms.nonEmpty, "hybrid search needs query terms")
    require(k > 0 && kEach >= k, "need 0 < k <= kEach")
    // the hybrid store: only embedded documents are semantically visible
    val corpusVecs = embs.join(
      docs.select(col("doc_id").as("vec_id")), "vec_id")
    val query = embs.filter(col("vec_id") === queryVecId)
      .select(col("vec_id"), col("embedding"))
    val sem = bruteForceTopK(corpusVecs, query, kEach)
      .select(col("neighbor_id").as("doc_id"), col("rnk").as("sem_rank"))
    val wl = Window.orderBy(desc("score_e4"), col("doc_id"))
    val lex = TextAnalysis.bm25Search(docs, queryTerms, kEach)
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_e9",
        coalesce(expr(s"CAST(round(1000000000.0 / ($rrfK + lex_rank), 0) AS BIGINT)"), lit(0L)) +
          coalesce(expr(s"CAST(round(1000000000.0 / ($rrfK + sem_rank), 0) AS BIGINT)"), lit(0L)))
      .orderBy(desc("rrf_e9"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"), col("rrf_e9"))
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors with a DIFFERENT label — lexically
    * "near but wrong", exactly the examples a contrastive loss needs.
    * The cross-label condition rides the broadcast join predicate
    * itself (never a post-rank filter, which would under-fill k the
    * moment a query's own class dominates its neighborhood).
    *
    * Shape at 100 TB: identical to [[bruteForceTopK]] — the query batch
    * broadcasts, the corpus streams through one narrow scoring stage,
    * per-query rank caps the exchange at queries × k rows. The same
    * label-mismatch predicate composes with [[ivfTopKFiltered]]'s
    * per-query probed cells when the corpus side outgrows brute force.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val q = queries.select(
      col("vec_id").as("query_id"), col("label").as("q_label"),
      col("embedding").as("q_emb"),
      Dedup.vecNorm(col("embedding")).as("q_norm"))
    val scored = corpus
      .withColumn("c_norm", Dedup.vecNorm(col("embedding")))
      .join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("cos",
        vecDot(col("q_emb"), col("embedding")) / col("q_norm") / col("c_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Filtered IVF search: centroids are trained on (a sample of) the
    * FULL corpus — the index is built once, filters vary per query — and
    * the predicate prunes candidates before cell assignment. Assignment
    * is row-local, so filtering first is plan-equivalent to filtering
    * within probed cells but lets the predicate reach the scan. A
    * selective predicate thins every cell, so hold recall by raising
    * `nProbe` (the spec measures recall vs [[bruteForceTopKFiltered]] as
    * selectivity drops). On the persisted index
    * ([[ivfSearchIndexed]]), the same predicate simply composes with the
    * DPP-pruned per-cell directories.
    */
  def ivfTopKFiltered(
      corpus: DataFrame,
      queries: DataFrame,
      pred: Column,
      k: Int = 10,
      nCells: Int = 10,
      nProbe: Int = 3,
      maxIters: Int = 5,
      shiftEpsilon: Double = 1e-3,
      trainSampleMod: Int = 4): DataFrame = {
    val cents = trainCentroids(corpus, nCells, maxIters, shiftEpsilon,
      trainSampleMod = trainSampleMod)
    searchAssigned(assignToCell(corpus.filter(pred), cents), queries, cents,
      k, nProbe)
  }

  /** nBits-bit random-hyperplane signature, packed into a long bitmask —
    * a single codegen'd loop ([[graft.functions.RhpSig]]); bands become
    * bit-shift extractions. Row-local, no stored model.
    */
  def rhpSignature(emb: Column, nBits: Int): Column =
    graft.functions.VectorFunctions.rhpSig(emb, nBits)

  /** ANN top-k via banded RHP-LSH: vectors sharing any signature band are
    * candidates; exact cosine ranks candidates. Recall < 1 by design —
    * the spec measures it against [[bruteForceTopK]]. Band sizing follows
    * [[Dedup.embeddingNearDupLsh]]: 8-bit band keys (256 buckets per
    * band), so unrelated vectors collide on some band with P ≈ 0.03
    * instead of the near-cross-join coarse keys produce. Norms ride
    * through the explode so the verify stage does one dot per pair.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nBits: Int = 64,
      bands: Int = 8): DataFrame = {
    val rowsPerBand = nBits / bands
    val mask = (1L << rowsPerBand) - 1L
    // ids-only band frames: the corpus embeddings are NOT exploded ×bands
    // through the candidate shuffle (8× the corpus at scale) — candidates
    // are (query_id, vec_id) pairs, and vectors re-join by id afterwards
    // (queries broadcast: the query set is small by contract).
    def bandedIds(df: DataFrame, idCol: String, embCol: String) = {
      val bandKeys = array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * rowsPerBand).bitwiseAND(lit(mask))): _*)
      df.select(col(idCol), rhpSignature(col(embCol), nBits).as("sig"))
        .select(col(idCol), posexplode(bandKeys))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_key")
    }

    val c = bandedIds(corpus, "vec_id", "embedding")
    val q = bandedIds(
      queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), "query_id", "q_emb")

    val candidates = c.as("c")
      .join(q.as("q"),
        col("c.band") === col("q.band") &&
          col("c.band_key") === col("q.band_key") &&
          col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("c.vec_id"))
      .dropDuplicates("query_id", "vec_id")

    val cv = corpus.select(col("vec_id"), col("embedding"),
      Dedup.vecNorm(col("embedding")).as("c_norm"))
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), Dedup.vecNorm(col("embedding")).as("q_norm"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    candidates
      .join(cv, "vec_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cos",
        graft.functions.VectorFunctions.vecDot(col("q_emb"), col("embedding"))
          / col("q_norm") / col("c_norm"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Lloyd training loop for the IVF coarse quantizer: nCells seeds
    * (lowest vec_ids — deterministic), then up to `maxIters`
    * assign→per-cell-mean refinements, stopping early once the largest
    * centroid L2 shift drops below `shiftEpsilon`. The model is
    * nCells × dim floats — it lives on the driver between iterations
    * (the standard IVF "train" step, NOT a data collect); each iteration
    * is one narrow assignment plus one aggregate over the training set.
    * Cells that lose all members keep their previous centroid.
    *
    * `trainSampleMod` > 1 trains on the deterministic 1/mod id-sample of
    * the corpus (`vec_id % mod == 0`) — the standard IVF practice (FAISS
    * trains its quantizer on a sample): centroid quality needs only a
    * representative sample, and at 100 TB a full-corpus Lloyd pass per
    * iteration is the dominant index-build cost. The sample is persisted
    * across iterations so the loop re-scans a cached projection, not the
    * source files.
    */
  /** Per-vector int8 scalar quantization — the compression step before
    * an ANN index ships at scale (4× smaller than float32, SIMD-friendly
    * codes). Each vector maps to uint8 codes in 0..255 over its own
    * [min, max] range (the top endpoint lands on 255 or — when
    * (a·255.0)/a rounds just below 255 — on 254; both engines compute the
    * identical double expression, so the oracle pairing is unaffected);
    * a constant vector degenerates to all-zero codes.
    *
    * Row-local Column algebra: no shuffle, linear at 100 TB. The audit
    * columns are chosen for ENGINE-INDEPENDENT verification: code_sum /
    * code_min / code_max are exact integers, and every float enters the
    * arithmetic through an exact float→double cast with the expression
    * tree mirrored verbatim in the oracle SQL, so IEEE-754 determinism
    * makes both engines floor identical doubles.
    */
  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val v = col("embedding")
    val mn = array_min(v).cast("double")
    val mx = array_max(v).cast("double")
    val codes = transform(v, x =>
      when(mx > mn,
        floor((x.cast("double") - mn) * 255.0 / (mx - mn)).cast("long"))
        .otherwise(lit(0L)))
    emb.select(
        col("vec_id"),
        size(v).cast("long").as("n_dims"),
        aggregate(codes, lit(0L), (a, b) => a + b).as("code_sum"),
        array_min(codes).as("code_min"),
        array_max(codes).as("code_max"))
      .orderBy(col("vec_id"))
  }

  private[graft] def trainCentroids(
      corpus: DataFrame,
      nCells: Int,
      maxIters: Int = 5,
      shiftEpsilon: Double = 1e-3,
      dim: Int = 64,
      trainSampleMod: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def toDf(cs: Seq[(Long, Seq[Float])]): DataFrame =
      cs.toDF("cell", "centroid")
    def seedsOf(df: DataFrame): Seq[(Long, Seq[Float])] =
      df.orderBy(col("vec_id")).limit(nCells)
        .as[(Long, Seq[Float])].collect().toSeq
    // NOT widened (measured, r13): the coarse iteration's per-row work is
    // one codegen'd vecDot argmax over nCells centroids — microseconds per
    // row — so the stage is overhead-bound, and a 32-way repartition of
    // the sample cost more in task scheduling per iteration than it
    // bought in parallel compute (q_ann_ivf 2.2 → 3.5 s). Contrast
    // trainPqCodebooks, whose iteration IS interpreted-HOF dense.
    var train = (if (trainSampleMod > 1)
        corpus.filter(pmod(col("vec_id"), lit(trainSampleMod.toLong)) === 0L)
      else corpus)
      .select(col("vec_id"), col("embedding"))
      .persist()
    try {
      var cents: Seq[(Long, Seq[Float])] = seedsOf(train)
      if (trainSampleMod > 1 && cents.size < nCells) {
        // degenerate id-sample (e.g. no vec_id divisible by mod after an
        // upstream filter): fall back to full-corpus training rather than
        // silently searching with an empty/undersized quantizer
        train.unpersist()
        train = corpus.select(col("vec_id"), col("embedding")).persist()
        cents = seedsOf(train)
      }
      if (cents.isEmpty) return toDf(cents) // empty corpus: nothing to train
      var iter = 0
      var shift = Double.MaxValue
      while (iter < maxIters && shift > shiftEpsilon) {
        val means = assignToCell(train, toDf(cents))
          .groupBy(col("cell"))
          .agg(array((0 until dim).map(j =>
            avg(element_at(col("embedding"), j + 1).cast("double")).cast("float")): _*)
            .as("centroid"))
          .as[(Long, Seq[Float])].collect().toMap
        val next = cents.map { case (cell, old) =>
          cell -> means.getOrElse(cell, old) }
        shift = cents.zip(next).map { case ((_, o), (_, n)) =>
          math.sqrt(o.zip(n).map { case (a, b) =>
            val d = a.toDouble - b.toDouble; d * d }.sum) }.max
        cents = next
        iter += 1
      }
      toDf(cents)
    } finally train.unpersist()
  }

  /** IVF (inverted-file) ANN top-k — the 100 TB scale path.
    *
    * Train: [[trainCentroids]] — seeded Lloyd iterations to convergence
    * (bounded by maxIters / shiftEpsilon), on the deterministic 1/4
    * id-sample of the corpus by default (`trainSampleMod`): quantizer
    * quality needs a representative sample, not every vector. The
    * centroid model is tiny (nCells × dim) and broadcast everywhere.
    *
    * Search: every corpus vector is assigned to its nearest centroid
    * (broadcast join — narrow); each query probes its nProbe nearest
    * cells and computes exact cosine only against those cells' vectors.
    *
    * Scale shape: assignment is a narrow map (see [[assignToCell]]); the
    * probe join broadcasts the tiny (query × nProbe) side, so the corpus
    * never shuffles — only the surviving candidates (~nProbe/nCells of
    * the corpus) are exchanged for the per-query top-k. At 100 TB the
    * assignment would be persisted/bucketed by cell, making re-search
    * free. Recall < 1 by design; the spec measures it against
    * [[bruteForceTopK]].
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCells: Int = 10,
      nProbe: Int = 3,
      maxIters: Int = 5,
      shiftEpsilon: Double = 1e-3,
      trainSampleMod: Int = 4): DataFrame =
    ivfSearch(corpus, queries,
      trainCentroids(corpus, nCells, maxIters, shiftEpsilon,
        trainSampleMod = trainSampleMod), k, nProbe)

  /** Search phase against a PRE-TRAINED centroid model — split out so a
    * recall sweep over nProbe reuses one training run (retraining per
    * sweep point would both waste work and blur the comparison:
    * float-mean aggregation order can perturb centroids between runs).
    */
  private[graft] def ivfSearch(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      k: Int,
      nProbe: Int): DataFrame =
    searchAssigned(assignToCell(corpus, centroids), queries, centroids, k, nProbe)

  /** Search over an ALREADY cell-assigned corpus — shared by the
    * in-memory path ([[ivfSearch]]) and the persisted index
    * ([[ivfSearchIndexed]]). Probes nProbe cells per query, exact cosine
    * within. Norms precomputed per side: one dot per (query, candidate)
    * pair. The probe side is cast to the assignment's `cell` dtype (a
    * persisted index reads `cell` back as a hive-partition INT) so the
    * join never puts a cast on the partitioned side — that would break
    * dynamic partition pruning.
    */
  private def searchAssigned(
      assignment: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val cellType = assignment.schema("cell").dataType
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), Dedup.vecNorm(col("embedding")).as("q_norm"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(desc("cdot"), col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdot", Dedup.cosine(col("q_emb"), col("centroid")))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        col("cell").cast(cellType).as("cell"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    assignment.withColumn("c_norm", Dedup.vecNorm(col("embedding")))
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.vecDot(col("q_emb"), col("embedding"))
          / col("q_norm") / col("c_norm"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Materialize the IVF index: the trained centroid model plus the
    * corpus assignment written as parquet PARTITIONED BY cell. This is
    * the real 100 TB serving shape the in-line [[ivfTopK]] only
    * simulates: build once (train + one narrow assignment pass), then
    * every search reads ONLY the probed cells' directories — dynamic
    * partition pruning turns the probe join into directory pruning, so
    * search IO is ~nProbe/nCells of the corpus regardless of corpus
    * size. Returns the centroid model for callers that probe manually.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      path: String,
      nCells: Int = 10,
      maxIters: Int = 5,
      shiftEpsilon: Double = 1e-3,
      trainSampleMod: Int = 4): DataFrame = {
    val centroids =
      trainCentroids(corpus, nCells, maxIters, shiftEpsilon,
        trainSampleMod = trainSampleMod)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    assignToCell(corpus, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    centroids
  }

  /** ANN top-k against a [[buildIvfIndex]]-materialized index. */
  def ivfSearchIndexed(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 10,
      nProbe: Int = 3): DataFrame =
    searchAssigned(
      Tables.read(spark, s"$path/cells"),
      queries,
      Tables.read(spark, s"$path/centroids"),
      k, nProbe)

  /** Incremental index maintenance: append a batch of new vectors to a
    * [[buildIvfIndex]] table WITHOUT retraining — one narrow assign-only
    * pass against the STORED centroid model, dynamic-partition-appended
    * into only the cell directories the batch touches. This is the
    * standard serving-index shape (train once, add forever): at 100 TB
    * re-running Lloyd per arriving batch is the dominant cost, and
    * assignment quality for new vectors equals the base build's as long
    * as the data distribution hasn't drifted. Measure THAT with
    * [[ivfIndexStaleness]] and retrain when the drift says so, not on a
    * timer. Existing cells are never read or rewritten.
    */
  def appendToIvfIndex(
      spark: SparkSession,
      path: String,
      newVectors: DataFrame): Unit =
    assignToCell(newVectors, Tables.read(spark, s"$path/centroids"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")

  /** Staleness report for a [[buildIvfIndex]] table — the retrain signal
    * for [[appendToIvfIndex]]: per cell, the current member count, the
    * mean cosine distance of members to the STORED centroid, and the
    * centroid SHIFT (L2 distance between the stored centroid and the
    * current member mean — exactly the quantity one more Lloyd step
    * would correct). A freshly converged index reports shift ≈ 0;
    * appended batches that drift the distribution raise it, cell by
    * cell. One aggregate over the index, centroids broadcast; the
    * centroid cast follows the assignment's dtype (a persisted index
    * reads `cell` back as a hive-partition INT — cast-direction trap
    * pinned in SimilaritySpec).
    */
  def ivfIndexStaleness(
      spark: SparkSession,
      path: String,
      dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val cells = Tables.read(spark, s"$path/cells")
    val cellType = cells.schema("cell").dataType
    val cents = Tables.read(spark, s"$path/centroids")
      .select(col("cell").cast(cellType).as("cell"), col("centroid"),
        Dedup.vecNorm(col("centroid")).as("cnorm"))
    cells
      .join(broadcast(cents), "cell")
      .withColumn("cosd",
        lit(1.0) - vecDot(col("embedding"), col("centroid"))
          / Dedup.vecNorm(col("embedding")) / col("cnorm"))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg(col("cosd")), 6).as("mean_cos_dist"),
        array((0 until dim).map(j =>
          avg(element_at(col("embedding"), j + 1).cast("double"))): _*)
          .as("cur_mean"),
        first(col("centroid")).as("centroid"))
      .withColumn("centroid_shift",
        round(sqrt(aggregate(
          zip_with(col("cur_mean"), col("centroid"),
            (m, c) => (m - c.cast("double")) * (m - c.cast("double"))),
          lit(0.0), (acc, v) => acc + v)), 6))
      .select(col("cell").cast("long").as("cell"), col("n_vectors"),
        col("mean_cos_dist"), col("centroid_shift"))
      .orderBy(col("cell"))
  }

  /** Nearest-centroid assignment, genuinely narrow on the corpus side:
    * the centroid table collapses to ONE row holding an array of
    * (cell, centroid, norm) structs, broadcast-nested-loop joined onto the
    * corpus, and the argmax is a row-local `transform` + `array_max` —
    * no window, no corpus shuffle at any scale. (The earlier
    * crossJoin+window formulation hash-exchanged corpus×nCells rows on
    * vec_id — the component's scale-killer per round-1 review.)
    *
    * Two row-local tricks keep it one dot product per (vector, centroid):
    * centroid norms are precomputed inside the packed structs (no CSE
    * across lambda boundaries in Catalyst), and the corpus vector's own
    * norm is never divided out — it is a positive per-row constant, so
    * the cosine argmax equals the `dot/centroid_norm` argmax. Ties break
    * to the smallest cell id via max-of-(cdot, -cell), matching the old
    * window `orderBy(desc(cdot), cell)`.
    *
    * Output keeps the embedding: (vec_id, embedding, cell) — callers need
    * it for the Lloyd mean and candidate scoring, and carrying it avoids a
    * corpus self-join.
    */
  private[graft] def assignToCell(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val packed = centroids.agg(
      sort_array(collect_list(struct(
        col("cell"), col("centroid"),
        Dedup.vecNorm(col("centroid")).as("cnorm")))).as("cents"))
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(packed))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(
          (vecDot(col("embedding"), c.getField("centroid")) / c.getField("cnorm"))
            .as("cdot"),
          (-c.getField("cell")).as("neg_cell")))))
      .select(col("vec_id"), col("embedding"), (-col("best.neg_cell")).as("cell"))
  }

  /** Per-subspace product-quantization codebooks: the embedding is cut
    * into `m` contiguous `dim/m`-dim subvectors and each subspace gets
    * its own `pqK`-centroid Lloyd quantizer (trained by the same
    * [[trainCentroids]] loop on the sliced corpus, deterministic seeds).
    * The whole model is m × pqK × (dim/m) floats — KILOBYTES (8×16×8 =
    * 1024 floats at the defaults), broadcast everywhere like the IVF
    * coarse centroids. Returns (subspace, code, centroid).
    */
  private[graft] def trainPqCodebooks(
      corpus: DataFrame,
      m: Int,
      pqK: Int,
      dim: Int = 64,
      maxIters: Int = 5,
      shiftEpsilon: Double = 1e-3,
      trainSampleMod: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dim / m
    // ALL m subspace quantizers train in ONE Lloyd loop — m separate
    // trainCentroids chains would run m× the Spark jobs per iteration
    // (measured: the 8-chain form cost ~10 s of q_ann_ivfpq's ~14 s).
    // Each iteration: explode the sample ×m (mi, subvector), assign each
    // row to its subspace's nearest current centroid, average per
    // (subspace, code) — one job, then a model-sized collect.
    // widened like trainCentroids' sample: the ×m subspace explode +
    // pqK-way argmin per row is the training loop's dominant compute and
    // otherwise runs at the source scan's 1-2 task width (r13 profiling:
    // a 1.2 s 2-task stage per iteration under q_ann_ivfpq)
    var train = Par.widen(
      (if (trainSampleMod > 1)
        corpus.filter(pmod(col("vec_id"), lit(trainSampleMod.toLong)) === 0L)
      else corpus)
      .select(col("vec_id"), col("embedding")), col("vec_id"))
      .persist()
    try {
      var seeds = train.orderBy(col("vec_id")).limit(pqK)
        .select(col("embedding")).as[Seq[Float]].collect().toSeq
      if (trainSampleMod > 1 && seeds.size < pqK) {
        // degenerate id-sample: fall back to the full corpus (same rule
        // as trainCentroids)
        train.unpersist()
        train = Par.widen(corpus.select(col("vec_id"), col("embedding")),
          col("vec_id")).persist()
        seeds = train.orderBy(col("vec_id")).limit(pqK)
          .select(col("embedding")).as[Seq[Float]].collect().toSeq
      }
      // cents keyed (subspace, code) with codes dense 0..seeds-1 so the
      // encoder's positional pack lookup (subspace*pqK + code) holds
      var cents: Map[(Int, Long), Seq[Float]] = (for {
        (emb, ci) <- seeds.zipWithIndex
        mi <- 0 until m
      } yield (mi, ci.toLong) -> emb.slice(mi * dsub, mi * dsub + dsub)).toMap
      def toDf(cs: Map[(Int, Long), Seq[Float]]): DataFrame =
        cs.toSeq.map { case ((mi, c), v) => (mi, c, v) }.sortBy(t => (t._1, t._2))
          .toDF("subspace", "code", "centroid")
      if (cents.isEmpty) return toDf(cents)
      var iter = 0
      var shift = Double.MaxValue
      while (iter < maxIters && shift > shiftEpsilon) {
        val packed = toDf(cents).agg(sort_array(collect_list(struct(
          col("subspace"), col("code"), col("centroid")))).as("pq"))
        val means = train
          .select(col("embedding"),
            explode(sequence(lit(0), lit(m - 1))).as("mi"))
          .withColumn("sub", expr(s"slice(embedding, mi * $dsub + 1, $dsub)"))
          .crossJoin(broadcast(packed))
          .withColumn("code", array_min(transform(
            slice(col("pq"), col("mi") * pqK + 1, lit(pqK)), p =>
              struct(aggregate(zip_with(col("sub"), p.getField("centroid"),
                (x, y) => (x.cast("double") - y.cast("double"))
                  * (x.cast("double") - y.cast("double"))),
                lit(0.0), (acc, v) => acc + v).as("d"),
                p.getField("code").as("code")))).getField("code"))
          .groupBy(col("mi"), col("code"))
          .agg(array((0 until dsub).map(j =>
            avg(element_at(col("sub"), j + 1).cast("double")).cast("float")): _*)
            .as("centroid"))
          .as[(Int, Long, Seq[Float])].collect()
          .map { case (mi, c, v) => (mi, c) -> v }.toMap
        val next = cents.map { case (key, old) =>
          key -> means.getOrElse(key, old) } // empty cells keep centroids
        shift = cents.map { case (key, o) =>
          val n = next(key)
          math.sqrt(o.zip(n).map { case (a, b) =>
            val d = a.toDouble - b.toDouble; d * d }.sum)
        }.max
        cents = next
        iter += 1
      }
      toDf(cents)
    } finally train.unpersist()
  }

  /** IVF-PQ ANN top-k — the memory-bounded 100 TB serving shape: coarse
    * IVF cells prune the scan to ~nProbe/nCells of the corpus, and
    * inside the probed cells candidates are compared by their PRODUCT-
    * QUANTIZED codes (m bytes per vector vs dim×4 — a 32× memory cut at
    * the defaults), so the candidate scan never touches raw vectors.
    * The ADC (asymmetric distance) pass ranks candidates by summed
    * per-subspace L2² table lookups — each query computes its m×pqK
    * distance table ONCE, row-locally, against the broadcast codebooks —
    * and only the `shortlist` best per query are re-ranked with exact
    * cosine against their true embeddings (an id-join on the tiny
    * shortlist), which is how production IVF-PQ serves: approximate
    * scan, exact tail.
    *
    * Scale shape: both models (coarse centroids, PQ codebooks) are
    * kilobyte broadcasts; encoding and the per-query distance table are
    * row-local Column algebra (at 100 TB the per-row HOF would graduate
    * to a codegen'd Expression like FloatVecDot — same contract);
    * candidates carry (vec_id, cell, codes) only — the corpus's raw
    * embeddings cross the wire just once, for the shortlist re-rank
    * join. PQ is trained on raw vectors (not residuals) — the residual
    * refinement is a documented follow-up, not a semantic change.
    *
    * Exactness on the planted-twin oracle corpus: a twin's codes equal
    * the query's own encoding, so its ADC distance is the global
    * minimum and every twin tops the shortlist; the exact re-rank then
    * reproduces brute force, which is what lets q_ann_ivfpq carry the
    * same exact DuckDB oracle as q_ann_lsh/q_ann_ivf. Continuum recall
    * is measured in SimilaritySpec instead.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCells: Int = 10,
      nProbe: Int = 3,
      m: Int = 8,
      pqK: Int = 16,
      shortlist: Int = 50,
      dim: Int = 64,
      maxIters: Int = 5,
      pqMaxIters: Int = 3,
      shiftEpsilon: Double = 1e-3,
      trainSampleMod: Int = 4): DataFrame = {
    // The two trainings are INDEPENDENT (both read only the corpus
    // sample) — overlap them as concurrent driver threads (guide §2.6):
    // each training is a chain of small sequential jobs with driver
    // sync points, so run alone it leaves the executor pool mostly
    // idle; overlapped, one training's jobs back-fill the other's
    // sync gaps. Results are unchanged — the loops themselves are
    // untouched and deterministic.
    // PQ codebooks get a LOOSER iteration budget than the coarse
    // quantizer: sub-quantizer error is absorbed by the exact re-rank
    // (only the shortlist ordering depends on it), where coarse-cell
    // quality decides which candidates exist at all
    val pqExec = java.util.concurrent.Executors.newSingleThreadExecutor()
    val booksFut = pqExec.submit(
      new java.util.concurrent.Callable[DataFrame] {
        override def call(): DataFrame =
          trainPqCodebooks(corpus, m, pqK, dim, pqMaxIters,
            shiftEpsilon, trainSampleMod)
      })
    val coarse = try {
      trainCentroids(corpus, nCells, maxIters, shiftEpsilon,
        trainSampleMod = trainSampleMod)
    } finally pqExec.shutdown()
    val books = booksFut.get()
    val packed = packBooks(books)
    // Par.widen on the encode pass: pqEncodeExpr is m × pqK interpreted
    // slice/zip_with/aggregate evaluations PER ROW (HigherOrderFunctions
    // are CodegenFallback) — the corpus-scan width (1-2 tasks off a
    // 1-row-group file) serializes ~1 s of real compute at sf0.1, and the
    // downstream ADC scan inherits the same width (guide §2.5). Widened
    // BEFORE assignToCell: widen's partition probe needs the
    // exchange-free scan, not the broadcast-joined assignment.
    val coded = assignToCell(Par.widen(corpus, col("vec_id")), coarse)
      .crossJoin(broadcast(packed))
      .select(col("vec_id"), col("cell"),
        pqEncodeExpr(col("embedding"), m, pqK, dim / m).as("codes"))
    pqSearch(coded, coarse, packed, corpus, queries, k, nProbe, m, pqK,
      dim / m, shortlist)
  }

  /** One-row broadcast pack of the codebooks, sorted (subspace, code)
    * so positional lookups are well-defined: entry = subspace*pqK+code.
    */
  private def packBooks(books: DataFrame): DataFrame =
    books.agg(sort_array(collect_list(struct(
      col("subspace"), col("code"), col("centroid")))).as("pq"))

  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Per-subspace argmin-L2 codebook entry (code tiebreak via the
    * struct sort) — row-local against the broadcast `pq` pack.
    */
  private def pqEncodeExpr(emb: Column, m: Int, pqK: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), mi =>
      array_min(transform(
        slice(col("pq"), mi * pqK + 1, lit(pqK)), p =>
          struct(l2sq(slice(emb, mi * dsub + 1, lit(dsub)), p.getField("centroid"))
            .as("d"), p.getField("code").as("code"))))
        .getField("code"))

  /** ADC scan + exact re-rank against a codes-only candidate table —
    * shared by the in-memory path ([[ivfPqTopK]]) and the persisted
    * index ([[ivfPqSearchIndexed]]). The probe side casts `cell` to the
    * candidate table's dtype (a persisted index reads it back as a
    * hive-partition INT) — same DPP-preserving rule as searchAssigned.
    */
  private def pqSearch(
      coded: DataFrame,
      coarse: DataFrame,
      packed: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      m: Int,
      pqK: Int,
      dsub: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must cover the final top-k")
    val cellType = coded.schema("cell").dataType
    // probes: nProbe best coarse cells per query (same rule as IVF) +
    // the per-query ADC table dt[subspace*pqK + code] = L2²(q_sub, c)
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(desc("cdot"), col("cell"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), Dedup.vecNorm(col("embedding")).as("q_norm"))
    val probes = q.crossJoin(broadcast(coarse))
      .withColumn("cdot", Dedup.cosine(col("q_emb"), col("centroid")))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nProbe)
      .crossJoin(broadcast(packed))
      .select(col("query_id"), col("cell").cast(cellType).as("cell"),
        transform(col("pq"), p =>
          l2sq(slice(col("q_emb"),
            p.getField("subspace") * dsub + 1, lit(dsub)), p.getField("centroid")))
          .as("dt"))

    // ADC scan over probed cells: codes only, no raw vectors
    val adcW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    val short = coded.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)), (c, mi) =>
          element_at(col("dt"), (mi * pqK + c + 1).cast("int"))),
        lit(0.0), (acc, v) => acc + v))
      .withColumn("srnk", row_number().over(adcW))
      .filter(col("srnk") <= shortlist)
      .select(col("query_id"), col("vec_id"))

    // exact re-rank of the tiny shortlist against true embeddings: the
    // raw vectors come from the row store (the corpus table) via an
    // id-join on the shortlist — the index itself never stores floats
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(short), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos",
        graft.functions.VectorFunctions.vecDot(col("q_emb"), col("embedding"))
          / col("q_norm") / Dedup.vecNorm(col("embedding")))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Materialize the IVF-PQ index: coarse centroids + codebooks +
    * the CODES-ONLY candidate table partitioned by cell. This is the
    * serving memory story made durable — the index holds m bytes per
    * vector (32× under raw float32 at the defaults) and searches read
    * only the probed cells' directories (dynamic partition pruning,
    * same as [[buildIvfIndex]]); raw vectors stay in the source table
    * and are touched only by the shortlist re-rank id-join.
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      path: String,
      nCells: Int = 10,
      m: Int = 8,
      pqK: Int = 16,
      dim: Int = 64,
      maxIters: Int = 5,
      pqMaxIters: Int = 3,
      shiftEpsilon: Double = 1e-3,
      trainSampleMod: Int = 4): Unit = {
    val coarse = trainCentroids(corpus, nCells, maxIters, shiftEpsilon,
      trainSampleMod = trainSampleMod)
    val books = trainPqCodebooks(corpus, m, pqK, dim, pqMaxIters,
      shiftEpsilon, trainSampleMod)
    coarse.write.mode("overwrite").parquet(s"$path/centroids")
    books.write.mode("overwrite").parquet(s"$path/codebooks")
    assignToCell(corpus, coarse).crossJoin(broadcast(packBooks(books)))
      .select(col("vec_id"),
        pqEncodeExpr(col("embedding"), m, pqK, dim / m).as("codes"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
  }

  /** Incremental IVF-PQ maintenance — [[appendToIvfIndex]]'s twin for
    * the codes-only index: assign + encode new vectors against the
    * STORED models (no retraining of either quantizer), dynamic-
    * partition-appended into only the touched cell directories. Drift
    * still reports through [[ivfIndexStaleness]] on the coarse level —
    * PQ codebooks drift strictly slower than the coarse cells they
    * subdivide, so the coarse signal is the retrain trigger for both.
    */
  def appendToIvfPqIndex(
      spark: SparkSession,
      path: String,
      newVectors: DataFrame,
      m: Int = 8,
      pqK: Int = 16,
      dim: Int = 64): Unit =
    assignToCell(newVectors, Tables.read(spark, s"$path/centroids"))
      .crossJoin(broadcast(packBooks(Tables.read(spark, s"$path/codebooks"))))
      .select(col("vec_id"),
        pqEncodeExpr(col("embedding"), m, pqK, dim / m).as("codes"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")

  /** ANN top-k against a [[buildIvfPqIndex]]-materialized index.
    * `corpus` is the row store the shortlist re-rank joins for true
    * embeddings; m/pqK/dim must match the build (the codebook table
    * carries them implicitly — sizes are validated by the pack).
    */
  def ivfPqSearchIndexed(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nProbe: Int = 3,
      m: Int = 8,
      pqK: Int = 16,
      dim: Int = 64,
      shortlist: Int = 50): DataFrame =
    pqSearch(
      Tables.read(spark, s"$path/codes"),
      Tables.read(spark, s"$path/centroids"),
      packBooks(Tables.read(spark, s"$path/codebooks")),
      corpus, queries, k, nProbe, m, pqK, dim / m, shortlist)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the IVF coarse
    * quantizer ([[trainCentroids]]), generate candidate pairs ONLY within
    * a cell, verify each candidate with exact cosine ≥ `threshold`, then
    * resolve transitive duplicate groups with min-label connected
    * components ([[Dedup.nearDupClusters]]). Keeper = the min-id member
    * of each group; a training pipeline keeps `keeper` rows and drops
    * the rest. Catches semantic duplicates exact-hash dedup misses
    * (e.g. rescaled embeddings: cosine is scale-invariant).
    *
    * Scale shape: training is sample-based Lloyd with a driver-held
    * nCells×dim model; assignment is the narrow broadcast map of
    * [[assignToCell]] (angular argmax — positively-scaled copies of a
    * vector land in the SAME cell, bit-deterministically, since a
    * power-of-two scale commutes exactly with IEEE rounding through the
    * dot, the division and the argmax). Pairing is one equi-join on the
    * cell key, O(Σ cellᵢ²) not O(N²); at 100 TB nCells grows ~√N so
    * cells stay bounded and the join key cardinality keeps every
    * partition busy. The CC step runs on the duplicate graph only
    * (≪ corpus). Recall vs the all-pairs baseline is < 1 exactly when a
    * qualifying pair straddles cells — at near-dup thresholds (≥ 0.9)
    * duplicates are near-collinear and co-assign; the spec measures
    * recall against [[Dedup.embeddingNearDup]].
    */
  def semanticDedup(
      embeddings: DataFrame,
      threshold: Double = 0.9,
      nCells: Int = 10,
      maxIters: Int = 5,
      trainSampleMod: Int = 4): DataFrame = {
    // sample-trained like ivfTopK: the keeper OUTPUT is invariant to the
    // centroid model (duplicates co-cell under ANY centroids by the
    // scale-invariance argument above; non-duplicates are cosine-gated),
    // so training cost buys only cell balance — sample it
    import graft.functions.VectorFunctions.vecDot
    val cents = trainCentroids(embeddings, nCells, maxIters,
      trainSampleMod = trainSampleMod)
    // persisted PRE-PARTITIONED on the cell key with an explicit N
    // (the session's shuffle partitions): the cell self-join below then
    // reuses the cached hash(cell) layout on BOTH sides — zero-exchange
    // join — at ~nCells-way parallelism instead of the ONE task the
    // 1-row-group scan's narrow assignment would give it
    val np = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val e = assignToCell(embeddings, cents)
      .select(col("cell"), col("vec_id"), col("embedding"),
        Dedup.vecNorm(col("embedding")).as("norm"))
      .repartition(np, col("cell"))
      .persist()
    try {
      val pairs = e.as("a")
        .join(e.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          vecDot(col("a.embedding"), col("b.embedding")) /
            col("a.norm") / col("b.norm"))
        .filter(col("cos") >= threshold)
        .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      // nearDupClusters counts the edge set and checkpoints its labels
      // eagerly, so the persisted assignment is consumed before the
      // finally-unpersist
      Dedup.nearDupClusters(
        embeddings.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"),
          col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("keeper"))
        .orderBy(col("vec_id"))
    } finally e.unpersist()
  }

  /** Centroid stats per label — the IVF-style partition profile: shows how
    * the corpus would shard into coarse cells (here the given labels) for
    * inverted-file ANN.
    */
  def labelCentroidNorms(embeddings: DataFrame): DataFrame = {
    val dim = 64
    val sums = embeddings
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        array((0 until dim).map(j =>
          sum(element_at(col("embedding"), j + 1).cast("double"))): _*)
          .as("sum_vec"))
    sums
      .withColumn("centroid_norm",
        round(
          sqrt(aggregate(col("sum_vec"), lit(0.0),
            (acc, v) => acc + (v / col("n_vectors")) * (v / col("n_vectors")))),
          4))
      .select(col("label").cast("long").as("label"),
        col("n_vectors"), col("centroid_norm"))
      .orderBy(col("label"))
  }

  /** Cluster-balanced sampling — the embedding-space twin of
    * [[Corpus.stratifiedSample]]: partition the corpus into `k` cosine
    * cells and keep an exact `perCluster`-size deterministic sample per
    * cell, so the drawn subset covers embedding space instead of
    * over-representing the densest mode (the DCLM/"topic-balanced"
    * curation shape).
    *
    * Centroids are the `k` LOWEST-vec_id embeddings — the deterministic
    * seed step of k-means|| — so the oracle can replay the assignment
    * verbatim; a production run would hand the seeds to
    * [[trainCentroids]] first, which changes centroid VALUES but not any
    * plan shape. Assignment reuses [[assignToCell]] (broadcast packed
    * centroids, row-local argmax of dot/‖c‖ with ties to the lowest
    * cell). The per-cell draw orders by a multiplicative-hash spread key
    * ((vec_id · 2654435761) mod 2³¹ — Knuth's constant, exact integer
    * math on both engines) so the sample is content-addressed, not a
    * prefix of the id space.
    *
    * Shape at 100 TB: centroids are a broadcast k-row model; assignment
    * never shuffles; the per-cell limit is a rank window over k cells,
    * which WindowGroupLimit pre-filters map-side (the q_domain_cap
    * precedent pinned in CorpusSpec) — every map task emits ≤ k·perCluster
    * rows, so the k-key exchange carries samples, not the corpus.
    */
  def clusterBalancedSample(
      embeddings: DataFrame, k: Int = 8, perCluster: Int = 25): DataFrame = {
    require(k > 0 && perCluster > 0, "k and perCluster must be positive")
    val centroids = embeddings.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val assigned = assignToCell(
      embeddings.select(col("vec_id"), col("embedding")), centroids)
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("skey"), col("vec_id"))
    assigned
      .select(col("cell"), col("vec_id"),
        expr("(vec_id * 2654435761L) % 2147483648L").as("skey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= perCluster)
      .select(col("cell"), col("rnk"), col("vec_id"))
      .orderBy(col("cell"), col("rnk"))
  }

  /** Per-label simplified-silhouette report — the standard cluster-
    * coherence check before trusting labels for stratified sampling or
    * contrastive training: for each vector, a = L2 distance to its own
    * label centroid, b = distance to the nearest OTHER label centroid,
    * silhouette = (b − a)/max(a, b) ∈ [−1, 1]; the report is each
    * label's mean (≈1 tight and separated, ≈0 overlapping, <0
    * misassigned).
    *
    * Shape at 100 TB: centroids are ONE label-keyed aggregate (partial
    * map-side sums, labels × dim doubles on the wire); the per-vector
    * scoring crossJoins a single broadcast row packing all centroids
    * (labels × dim doubles — kilobytes) and is otherwise row-local; the
    * final mean is a labels-keyed aggregate. The corpus is read twice
    * and never shuffled beyond label keys.
    */
  def labelSilhouette(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val cents = embeddings
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        array((0 until dim).map(j =>
          (sum(element_at(col("embedding"), j + 1).cast("double")) / count(lit(1)))
            .as(s"m$j")): _*).as("centroid"))
    val packed = cents.agg(
      sort_array(collect_list(struct(col("label"), col("centroid")))).as("cents"))
    val d2 = (c: Column) => aggregate(
      zip_with(col("embedding"), c, (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
      lit(0.0), (acc, v) => acc + v)
    val scored = embeddings
      .crossJoin(broadcast(packed))
      .withColumn("own",
        d2(element_at(filter(col("cents"),
          c => c.getField("label") === col("label")), 1).getField("centroid")))
      .withColumn("other",
        array_min(transform(filter(col("cents"),
            c => c.getField("label") =!= col("label")),
          c => d2(c.getField("centroid")))))
      .withColumn("sil",
        (sqrt(col("other")) - sqrt(col("own"))) /
          greatest(sqrt(col("other")), sqrt(col("own"))))
    scored.groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("sil")), 4).as("mean_silhouette"))
      .orderBy(col("label"))
  }

  /** k-NN label classification (weak labeling / label propagation): for
    * each unlabeled query vector, the majority label among its `k`
    * nearest labeled corpus vectors by cosine — the standard cheap
    * labeler a curation pipeline uses to extend a small seed taxonomy
    * over a large corpus (quality tiers, topic buckets, language
    * families).
    *
    * Winner selection is fully deterministic: votes desc, then the
    * label whose best (lowest-rank) neighbor is nearest, then label
    * asc — every key an integer, so the oracle pairing is exact even
    * though the underlying cosines are floats (ranks inherit
    * [[bruteForceTopK]]'s `(cos desc, vec_id)` tie-break).
    *
    * Shape at 100 TB: identical to [[bruteForceTopK]] — query batch
    * broadcasts, corpus streams through one narrow scoring stage, the
    * per-query rank cap bounds the exchange at queries × k rows, and
    * the vote/winner stages run on that queries × k frame (map-side
    * partial counts on (query, label), then a queries-keyed window).
    * When the corpus outgrows brute force, swap the neighbor stage for
    * [[ivfSearchIndexed]] — the voting tail is unchanged.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      Dedup.vecNorm(col("embedding")).as("q_norm"))
    val scored = corpus
      .withColumn("c_norm", Dedup.vecNorm(col("embedding")))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        vecDot(col("q_emb"), col("embedding")) / col("q_norm") / col("c_norm"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    val neighbors = scored
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("label"), col("rnk"))
    val votes = neighbors
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rnk")).as("best_rnk"))
    val wWin = Window.partitionBy(col("query_id"))
      .orderBy(desc("votes"), col("best_rnk"), col("label"))
    votes
      .withColumn("pos", row_number().over(wWin))
      .filter(col("pos") === 1)
      .select(col("query_id"),
        col("label").cast("long").as("predicted_label"),
        col("votes"), col("best_rnk"))
      .orderBy(col("query_id"))
  }

  /** Per-dimension embedding statistics — the diagonal of the
    * distributed-PCA covariance pass: mean, population variance, and
    * each dimension's share of total variance. The standard
    * embedding-health report (dead dimensions, anisotropy, whether a
    * whitening step is warranted) and the exact aggregate a PCA /
    * whitening fit starts from.
    *
    * Shape at 100 TB: posexplode is row-local (64 narrow rows per
    * vector), the aggregate partial-combines map-side onto 64 keys, and
    * the variance-share window runs over a 64-row frame — corpus never
    * shuffles more than its per-partition partial sums.
    */
  def pcaVariance(embeddings: DataFrame): DataFrame = {
    val exploded = embeddings.select(
      posexplode(col("embedding")).as(Seq("dim", "v")))
    val stats = exploded
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(
        avg(col("v").cast("double")).as("mean"),
        var_pop(col("v").cast("double")).as("variance"))
    stats
      .withColumn("var_share",
        round(col("variance") / sum(col("variance")).over(Window.partitionBy()), 6))
      .select(col("dim"), round(col("mean"), 6).as("mean"),
        round(col("variance"), 6).as("variance"), col("var_share"))
      .orderBy(col("dim"))
  }

  /** Full covariance matrix of the embedding distribution via ONE
    * typed-Aggregator pass: each partition accumulates (n, Σx — d
    * doubles, Σxxᵀ upper triangle — d(d+1)/2 doubles), partials merge
    * associatively, and cov(i,j) = Σxᵢxⱼ/n − x̄ᵢx̄ⱼ comes out of the
    * final buffer — the Gram-matrix formulation every distributed PCA
    * (MLlib's `RowMatrix.computeCovariance` included) reduces to.
    * Returns the upper triangle as (dim_i, dim_j, cov) rows.
    *
    * Shape at 100 TB: the buffer is a fixed ~17 KB double array per
    * partition regardless of row count; the corpus is read once with no
    * shuffle at all (partial aggregation to a single 1-row final). The
    * driver never sees vectors — only the d×d model, which is what a
    * downstream eigen-solve ([[pcaTopComponent]]) needs anyway.
    */
  def covarianceMatrix(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    import embeddings.sparkSession.implicits._
    val agg = new graft.functions.CovarianceAggregator(dim)
    val buf = embeddings.select(col("embedding"))
      .as[Seq[Float]]
      .select(agg.toColumn.name("buf"))
    // buf: (n, sums[d], prods[d(d+1)/2]) -> upper-triangle rows
    buf.select(explode(col("buf")).as("entry"))
      .select(
        col("entry.i").cast("long").as("dim_i"),
        col("entry.j").cast("long").as("dim_j"),
        round(col("entry.cov"), 6).as("cov"))
      .orderBy(col("dim_i"), col("dim_j"))
  }

  /** Top principal component by power iteration on the [[covarianceMatrix]]
    * model: the d×d matrix collects to the driver (d=64 → 32 KB — a
    * model, not data), iterate v ← Cv/‖Cv‖ from a deterministic start
    * until the Rayleigh quotient stabilizes. Returns (eigenvalue,
    * eigenvector) — the whitening/projection direction. Corpus cost is
    * exactly the one covariance pass; the eigen-solve is O(d²·iters)
    * driver arithmetic.
    */
  def pcaTopComponent(embeddings: DataFrame, dim: Int = 64,
      iters: Int = 50): (Double, Array[Double]) = {
    val entries = covarianceMatrix(embeddings, dim)
      .collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getDouble(2)))
      .toMap
    val c = Array.tabulate(dim, dim) { (i, j) =>
      entries.getOrElse((math.min(i, j), math.max(i, j)), 0.0)
    }
    var v = Array.tabulate(dim)(i => 1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val cv = Array.tabulate(dim)(i =>
        (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val norm = math.sqrt(cv.map(x => x * x).sum)
      v = cv.map(_ / norm)
      lambda = norm
      it += 1
    }
    (lambda, v)
  }

  /** Per-dimension embedding drift between two cohorts (split by id
    * parity here; in production, by snapshot): the audit that catches a
    * re-trained or silently-updated encoder before mixed-vintage vectors
    * poison an ANN index — mean shift per dimension, largest first.
    *
    * Exactness: each float is e6-quantized to an integer AT THE ROW
    * level, so the per-dimension sums are exact and merge-order-free;
    * means are integer divisions. Shape: posexplode fans each vector
    * into (dim, value) — the standard reduce for per-dim stats — and
    * everything aggregates onto the 64-row dimension axis.
    */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val q = emb
      .select((col("vec_id") % 2).as("cohort"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("cohort"), col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)").as("v_e6"))
    q.groupBy(col("dim"))
      .agg(
        sum(when(col("cohort") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 0L, col("v_e6")).otherwise(0L)).as("s_a"),
        sum(when(col("cohort") === 1L, col("v_e6")).otherwise(0L)).as("s_b"))
      .withColumn("mean_a_e6", expr("s_a div n_a"))
      .withColumn("mean_b_e6", expr("s_b div n_b"))
      .withColumn("delta_e6", abs(col("mean_a_e6") - col("mean_b_e6")))
      .select(col("dim"), col("n_a"), col("n_b"),
        col("mean_a_e6"), col("mean_b_e6"), col("delta_e6"))
      .orderBy(col("dim"))
  }

  /** Matryoshka truncation audit (Kusupati et al., NeurIPS'22): how much
    * cosine structure survives keeping only the first d dimensions of
    * each embedding? Truncated retrieval (d of 64 floats) cuts ANN index
    * and shuffle bytes ~8× — IF the similarity it computes still agrees
    * with the full vectors. Per candidate width: mean/max absolute
    * cosine error and the share of pairs distorted beyond 0.05, over the
    * deterministic consecutive-id pair sample.
    *
    * Exactness: cosines are IEEE-deterministic (sequential fold in
    * [[graft.functions.FloatVecDot]], division order pinned dot/‖a‖/‖b‖
    * mirrored in the oracle), each pair's error is e6-quantized to an
    * integer BEFORE aggregation, so merge order can't leak in. Shape:
    * the pair sample is one id-shifted equi-join; widths explode
    * row-locally (4× fan-out of id pairs, embeddings never duplicated
    * across the grid); one width-sized aggregate.
    */
  def matryoshkaAudit(
      emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val dimsSql = dims.mkString(",")
    def cos(a: Column, b: Column): Column = {
      val nx = sqrt(vecDot(a, a))
      val ny = sqrt(vecDot(b, b))
      when(nx === 0.0 || ny === 0.0, lit(0.0))
        .otherwise(vecDot(a, b) / nx / ny)
    }
    val pairs = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(emb.select((col("vec_id") - 1).as("id_a"),
        col("embedding").as("eb")), "id_a")
    pairs
      .select(col("id_a"), col("ea"), col("eb"),
        explode(expr(s"array($dimsSql)")).as("d"))
      .withColumn("d", col("d").cast("long"))
      .withColumn("cos_full", cos(col("ea"), col("eb")))
      .withColumn("cos_d",
        cos(slice(col("ea"), lit(1), col("d")),
          slice(col("eb"), lit(1), col("d"))))
      .withColumn("err_e6",
        abs(expr("CAST(round((cos_full - cos_d) * 1000000, 0) AS BIGINT)")))
      .groupBy(col("d"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("sum(err_e6) div count(1)").as("mean_err_e6"),
        max(col("err_e6")).as("max_err_e6"),
        sum(when(col("err_e6") > 50000L, 1L).otherwise(0L)).as("n_distorted"))
      .withColumn("distorted_e4", expr("n_distorted * 10000 div n_pairs"))
      .orderBy(col("d"))
  }

  /** Greedy k-center (farthest-point traversal) diverse subset selection —
    * the coreset primitive of data curation: pick the k embeddings that
    * COVER the corpus, i.e. minimize (2-approximately, Gonzalez 1985) the
    * maximum distance of any point to its nearest selected center. Used to
    * seed diverse fine-tuning subsets, pick eval exemplars, and initialize
    * k-means++-style clustering without the randomness.
    *
    * Algorithm: seed with the minimum vec_id; then k−1 rounds of "select
    * the point farthest from everything selected so far". Each round is
    * ONE pass: the newest center (a kilobyte broadcast) updates a running
    * per-point min-distance, and the argmax is a 1-row TakeOrdered — the
    * canonical distributed shape for farthest-point (k passes total; k is
    * small by definition). State is localCheckpoint'd per round so round
    * t does not replay rounds 1..t−1's lineage.
    *
    * Determinism: distances are e6-quantized integers (cosine distance,
    * the [[matryoshkaAudit]] IEEE discipline: sequential-fold dot,
    * division order pinned, mirrored in the oracle); argmax ties break on
    * minimum vec_id; selected ids are excluded explicitly so zero-distance
    * duplicates can never re-win. Output: selection order, id, and the
    * covering radius at selection time (−1 for the seed) — the radius
    * column is the coverage curve a curator reads k off of.
    *
    * COST — k FULL CORPUS SCANS (the [[graft.ops.Dedup.ngramJaccardPairs]]
    * honesty convention): greedy farthest-point is inherently sequential —
    * round t's argmax depends on round t−1's center — so the corpus is
    * re-scanned once per selected center. Bounded and cheap for the small
    * k the primitive is for (k=8 default; lineage is localCheckpoint-cut
    * per round), but at 100 TB × large k this is the wrong tool: use
    * [[kCenterSampled]], which runs the greedy rounds on a bottom-k-hash
    * sample and pays ONE exact full-corpus pass for the coverage report.
    */
  def kCenterSelect(emb: DataFrame, k: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    require(k >= 1, "k must be at least 1")
    val spark = emb.sparkSession
    def finish(rows: Seq[(Long, Long, Long)]): DataFrame =
      spark.createDataFrame(rows).toDF("rnk", "vec_id", "min_dist_e6")
        .orderBy(col("rnk"))
    val base = emb.select(col("vec_id"), col("embedding"),
      sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .persist()
    val seed = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id")).collect()
    if (seed.isEmpty) { base.unpersist(); return finish(Nil) }
    val distE6 = expr(
      """CAST(1000000 - round((CASE WHEN nrm = 0.0 OR w_nrm = 0.0 THEN 0.0
        |  ELSE dot / nrm / w_nrm END) * 1000000, 0) AS BIGINT)""".stripMargin)
    def updated(state: DataFrame, wid: Long): DataFrame = {
      val w = base.filter(col("vec_id") === wid)
        .select(col("embedding").as("w_emb"), col("nrm").as("w_nrm"))
      state.crossJoin(broadcast(w))
        .withColumn("dot", vecDot(col("embedding"), col("w_emb")))
        .withColumn("d", distE6)
        .withColumn("mind",
          if (state.columns.contains("mind")) least(col("mind"), col("d"))
          else col("d"))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("mind"))
        .localCheckpoint(true)
    }
    val chosen = scala.collection.mutable.ListBuffer(
      (1L, seed.head.getLong(0), -1L))
    var state = updated(base, chosen.head._2)
    var step = 2
    var exhausted = false
    while (step <= k && !exhausted) {
      val ids = chosen.map(_._2).toSeq
      val win = state.filter(!col("vec_id").isInCollection(ids))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("mind")).collect()
      if (win.isEmpty) exhausted = true
      else {
        val wid = win.head.getLong(0)
        chosen += ((step.toLong, wid, win.head.getLong(1)))
        if (step < k) state = updated(state, wid)
        step += 1
      }
    }
    base.unpersist()
    finish(chosen.toSeq)
  }

  /** The 100 TB regime's k-center: greedy farthest-point over a
    * deterministic bottom-k-hash SAMPLE (so the k sequential scans touch
    * `sampleSize` rows, not the corpus), then ONE exact full-corpus pass
    * for the coverage report — per selected center, how many corpus
    * points it is nearest to (ties to the lowest selection rank) and the
    * exact max distance inside its cell. The report is what a curator
    * actually reads (did the sampled centers still cover the corpus?),
    * and it is the only part that touches all the data.
    *
    * Sample membership is engine-exact: an LCG key
    * `(vec_id * 2654435761) mod 1000000007` ranked bottom-`sampleSize`
    * (ties on vec_id) — pure integer arithmetic DuckDB reproduces
    * digit-for-digit, unlike a hash builtin. Distances reuse
    * [[kCenterSelect]]'s e6 discipline.
    */
  def kCenterSampled(
      emb: DataFrame, k: Int = 8, sampleSize: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    require(k >= 1 && sampleSize >= 1)
    val corp = emb.select(col("vec_id"), col("embedding"),
      sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
    val sample = corp
      .withColumn("skey",
        pmod(col("vec_id") * lit(2654435761L), lit(1000000007L)))
      .orderBy(col("skey"), col("vec_id")).limit(sampleSize)
      .select(col("vec_id"), col("embedding"))
    val centers = kCenterSelect(sample, k).select(col("rnk"), col("vec_id"))
    // k driver-held rows join their embeddings back and broadcast —
    // the exact pass is corpus × k, one scan, no shuffle of embeddings
    val cdat = centers
      .join(corp.select(col("vec_id"), col("embedding").as("w_emb"),
        col("nrm").as("w_nrm")), "vec_id")
      .select(col("rnk").as("c_rnk"), col("w_emb"), col("w_nrm"))
    val distE6 = expr(
      """CAST(1000000 - round((CASE WHEN nrm = 0.0 OR w_nrm = 0.0 THEN 0.0
        |  ELSE dot / nrm / w_nrm END) * 1000000, 0) AS BIGINT)""".stripMargin)
    val assigned = corp.crossJoin(broadcast(cdat))
      .withColumn("dot", vecDot(col("embedding"), col("w_emb")))
      .withColumn("d", distE6)
      .groupBy(col("vec_id"))
      // lexicographic struct-min = ORDER BY (d, rnk) LIMIT 1 — ties to
      // the lowest selection rank, mirrored in the oracle's row_number
      .agg(min(struct(col("d"), col("c_rnk"))).as("best"))
      .select(col("best.c_rnk").as("rnk"), col("best.d").as("d"))
      .groupBy(col("rnk"))
      .agg(count(lit(1)).as("n_assigned"), max(col("d")).as("radius_e6"))
    centers.join(assigned, Seq("rnk"), "left")
      .select(col("rnk"), col("vec_id"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        coalesce(col("radius_e6"), lit(-1L)).as("radius_e6"))
      .orderBy(col("rnk"))
  }

  /** DuckDB oracle for [[kCenterSelect]] — the greedy rounds unrolled as a
    * CTE chain (the [[Graph.pageRankOracleSql]] pattern), with the dot
    * product, division order, and e6 quantization mirroring the Spark
    * side element-for-element.
    */
  private def kcDist(p: String, w: String): String =
    s"""(1000000 - round((CASE WHEN $p.nrm = 0 OR $w.nrm = 0 THEN 0
       |  ELSE list_sum(list_transform(range(1, len($p.e) + 1),
       |         i -> $p.e[i] * $w.e[i])) / $p.nrm / $w.nrm END)
       |  * 1000000, 0))::BIGINT""".stripMargin

  /** The unrolled greedy chain (sel1..selK CTEs, no leading WITH) over a
    * relation `e(vec_id, e, nrm)` the caller's head CTE defines — shared
    * by the full and sampled oracles.
    */
  private def kCenterChainCtes(k: Int): String = {
    def dist(p: String, w: String): String = kcDist(p, w)
    def exclusion(upTo: Int): String =
      (1 to upTo).map(t => s"SELECT wid FROM sel$t").mkString(" UNION ALL ")
    val head =
      s"""sel1 AS MATERIALIZED (
         |  SELECT 1::BIGINT AS rnk, vec_id AS wid, (-1)::BIGINT AS mind
         |  FROM e ORDER BY vec_id LIMIT 1),
         |s1 AS MATERIALIZED (
         |  SELECT p.vec_id, ${dist("p", "w")} AS mind
         |  FROM e p CROSS JOIN
         |    (SELECT ee.e, ee.nrm FROM e ee JOIN sel1 ON ee.vec_id = sel1.wid) w)"""
        .stripMargin
    val steps = (2 to k).map { t =>
      val sel =
        s"""sel$t AS MATERIALIZED (
           |  SELECT ${t}::BIGINT AS rnk, s.vec_id AS wid, s.mind
           |  FROM s${t - 1} s
           |  WHERE s.vec_id NOT IN (${exclusion(t - 1)})
           |  ORDER BY s.mind DESC, s.vec_id LIMIT 1)""".stripMargin
      val st = if (t < k)
        s""",
           |s$t AS MATERIALIZED (
           |  SELECT s.vec_id, least(s.mind, ${dist("p", "w")}) AS mind
           |  FROM s${t - 1} s JOIN e p ON p.vec_id = s.vec_id
           |  CROSS JOIN
           |    (SELECT ee.e, ee.nrm FROM e ee JOIN sel$t ON ee.vec_id = sel$t.wid) w)"""
          .stripMargin
      else ""
      sel + st
    }.mkString(",\n")
    s"$head,\n$steps"
  }

  private def kCenterUnion(k: Int): String =
    (1 to k).map(t => s"SELECT * FROM sel$t").mkString(" UNION ALL ")

  def kCenterOracleSql(k: Int = 8): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS e,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |${kCenterChainCtes(k)}
       |SELECT rnk, wid AS vec_id, mind AS min_dist_e6
       |FROM (${kCenterUnion(k)}) ORDER BY rnk""".stripMargin

  /** DuckDB oracle for [[kCenterSampled]] — the chain runs over the
    * LCG-ranked sample CTE; the coverage report recomputes assignment
    * exactly over the full corpus with the same (d, rnk) tie order.
    */
  def kCenterSampledOracleSql(k: Int = 8, sampleSize: Int = 64): String =
    s"""WITH corp AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS e,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT vec_id, e, nrm FROM corp
       |  ORDER BY (vec_id * 2654435761) % 1000000007, vec_id
       |  LIMIT $sampleSize),
       |${kCenterChainCtes(k)},
       |cent AS (SELECT rnk, wid FROM (${kCenterUnion(k)})),
       |cdat AS (SELECT c.rnk, ee.e, ee.nrm
       |         FROM cent c JOIN corp ee ON ee.vec_id = c.wid),
       |dists AS (
       |  SELECT p.vec_id, c.rnk, ${kcDist("p", "c")} AS d
       |  FROM corp p CROSS JOIN cdat c),
       |a AS (
       |  SELECT vec_id, rnk, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, rnk) AS rn
       |  FROM dists),
       |cell AS (
       |  SELECT rnk, count(*)::BIGINT AS n_assigned, max(d)::BIGINT AS radius_e6
       |  FROM a WHERE rn = 1 GROUP BY rnk)
       |SELECT cent.rnk, cent.wid AS vec_id,
       |  coalesce(cell.n_assigned, 0)::BIGINT AS n_assigned,
       |  coalesce(cell.radius_e6, -1)::BIGINT AS radius_e6
       |FROM cent LEFT JOIN cell ON cent.rnk = cell.rnk
       |ORDER BY cent.rnk""".stripMargin

  /** MARGIN-BASED PAIR MINING (the Artetxe & Schwenk 2019 bitext-mining
    * criterion): candidate cross-pool pairs scored by
    *   margin(x, y) = cos(x, y) / ( (Σ NN_k(x) cos)/2k + (Σ NN_k(y) cos)/2k )
    * — raw cosine is NOT comparable across query vectors (hub vectors
    * score high against everything); dividing by the mean similarity of
    * each side's own k-neighborhood cancels the hubness and is the
    * standard criterion for mining aligned pairs (translation pairs,
    * near-duplicate captions, question↔answer alignment) from two
    * embedding pools. Pools here are the label-parity halves of the
    * corpus (a deterministic stand-in for source/target languages); the
    * OPERATOR is generic over any two frames.
    *
    * Candidates are the union of forward and backward best matches
    * (x's top-1 in B, y's top-1 in A) — the mutual-best subset scores
    * highest, one-directional bests keep recall.
    *
    * Exactness: cosines quantize to e9 integers immediately (the
    * [[lofOutliers]] discipline — one rounded double per pair);
    * neighborhood sums are exact BIGINT; the margin is ONE integer
    * division  cos_e9·2k·10⁶ div max(S_x + S_y, 1)  (the max guards
    * degenerate all-orthogonal neighborhoods), so ranking and values
    * are digit-exact against the oracle.
    *
    * Shape: the all-pairs scoring here is the exact correctness
    * baseline (pools are oracle-scale); at 100 TB the candidate pass
    * swaps for [[ivfTopK]] per pool — margins only need each side's
    * top-k list, everything downstream is k-bounded per vector. The
    * scored frame persists once and serves both direction windows.
    */
  def marginPairs(corpus: DataFrame, k: Int = 4, topN: Int = 50): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val a = corpus.filter(pmod(col("label"), lit(2)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        Dedup.vecNorm(col("embedding")).as("a_norm"))
    val b = corpus.filter(pmod(col("label"), lit(2)) === 1)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        Dedup.vecNorm(col("embedding")).as("b_norm"))
    val scored = b.join(broadcast(a), col("a_id") =!= col("b_id"))
      .withColumn("cos",
        vecDot(col("a_emb"), col("b_emb")) / col("a_norm") / col("b_norm"))
      .select(col("a_id"), col("b_id"),
        expr("CAST(round(cos * 1000000000) AS BIGINT)").as("cos_e9"))
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(desc("cos_e9"), col("b_id"))
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(desc("cos_e9"), col("a_id"))
    val ranked = scored
      .withColumn("rka", row_number().over(wa))
      .withColumn("rkb", row_number().over(wb))
      .persist()
    val sa = ranked.filter(col("rka") <= k)
      .groupBy(col("a_id")).agg(sum(col("cos_e9")).as("sa"))
    val sb = ranked.filter(col("rkb") <= k)
      .groupBy(col("b_id")).agg(sum(col("cos_e9")).as("sb"))
    ranked.filter(col("rka") === 1 || col("rkb") === 1)
      .select(col("a_id"), col("b_id"), col("cos_e9"))
      .join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"), col("cos_e9"),
        expr(s"(cos_e9 * ${2 * k} * 1000000L) div " +
          "greatest(sa + sb, 1L)").as("margin_e6"))
      .orderBy(desc("margin_e6"), col("a_id"), col("b_id"))
      .limit(topN)
  }

  /** DuckDB oracle for [[marginPairs]] — identical e9 cosine
    * quantization, exact neighborhood sums, and the same single
    * integer-division margin.
    */
  def marginPairsOracleSql(k: Int = 4, topN: Int = 50): String =
    s"""WITH a AS (
       |  SELECT vec_id AS a_id, embedding AS ae FROM embeddings
       |  WHERE label % 2 = 0),
       |b AS (
       |  SELECT vec_id AS b_id, embedding AS be FROM embeddings
       |  WHERE label % 2 = 1),
       |s AS MATERIALIZED (
       |  SELECT a_id, b_id,
       |    CAST(round((
       |      list_sum(list_transform(range(1, len(ae) + 1), i -> ae[i]::DOUBLE * be[i]::DOUBLE))
       |      / sqrt(list_sum(list_transform(range(1, len(ae) + 1), i -> ae[i]::DOUBLE * ae[i]::DOUBLE)))
       |      / sqrt(list_sum(list_transform(range(1, len(be) + 1), i -> be[i]::DOUBLE * be[i]::DOUBLE)))
       |    ) * 1000000000) AS BIGINT) AS cos_e9
       |  FROM b CROSS JOIN a WHERE a_id <> b_id),
       |r AS MATERIALIZED (
       |  SELECT a_id, b_id, cos_e9,
       |    row_number() OVER (PARTITION BY a_id ORDER BY cos_e9 DESC, b_id) AS rka,
       |    row_number() OVER (PARTITION BY b_id ORDER BY cos_e9 DESC, a_id) AS rkb
       |  FROM s),
       |sa AS (SELECT a_id, sum(cos_e9)::BIGINT AS sa FROM r
       |       WHERE rka <= $k GROUP BY 1),
       |sb AS (SELECT b_id, sum(cos_e9)::BIGINT AS sb FROM r
       |       WHERE rkb <= $k GROUP BY 1)
       |SELECT r.a_id, r.b_id, r.cos_e9,
       |  ((r.cos_e9 * ${2 * k} * 1000000) // greatest(sa.sa + sb.sb, 1))::BIGINT
       |    AS margin_e6
       |FROM r JOIN sa USING (a_id) JOIN sb USING (b_id)
       |WHERE r.rka = 1 OR r.rkb = 1
       |ORDER BY margin_e6 DESC, a_id, b_id LIMIT $topN""".stripMargin

  /** HUBNESS DIAGNOSTIC: the k-occurrence distribution — for every
    * vector, how many OTHER vectors' exact top-k lists it appears in,
    * histogrammed. High-dimensional corpora grow "hubs" (vectors that
    * are everyone's neighbor) and "anti-hubs" (occ = 0, unreachable by
    * kNN); a skewed k-occurrence histogram is the standard early warning
    * that cosine retrieval quality will degrade (Radovanović et al.,
    * JMLR 2010). This is the ANN-plane health check that runs BEFORE
    * trusting [[bruteForceTopK]]/IVF recall numbers.
    *
    * Shape: all-vs-all exact kNN with the corpus itself as the query
    * side — quadratic BY DEFINITION, so above `maxExactRows` this
    * diagnostic runs on the deterministic vec_id-mod sample (the IVF
    * `trainSampleMod` discipline, :246): `sampleMod = 0` (the default)
    * counts the corpus once and picks the smallest power-of-two modulus
    * that bounds the sampled side — at 100 TB the pair budget stays
    * ~maxExactRows² no matter how the corpus grows, and the histogram
    * still collapses to ≤ occ_max rows. `sampleMod = 1` forces the
    * exact form (the oracle pair); `sampleMod ≥ 2` forces that rate.
    * The anti-hub row (occ = 0) comes from a left join back to the
    * (sampled) corpus — vectors appearing in no list are exactly the
    * ones a count-only pass would silently drop.
    */
  def hubnessHistogram(
      corpus: DataFrame,
      k: Int = 10,
      sampleMod: Int = 0,
      maxExactRows: Long = DiagExactMaxRows): DataFrame = {
    val base = diagSample(corpus, sampleMod, maxExactRows)
    val occ = bruteForceTopK(base, base, k)
      .groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("occ"))
    base.select(col("vec_id"))
      .join(occ, col("vec_id") === col("neighbor_id"), "left")
      .select(col("vec_id"), coalesce(col("occ"), lit(0L)).as("occ"))
      .groupBy(col("occ"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("occ"))
  }

  /** Quadratic-diagnostic budget: corpora at or under this row count run
    * [[hubnessHistogram]]/[[lofOutliers]] exactly; above it the auto
    * path (`sampleMod = 0`) samples down to ≤ this many rows.
    */
  val DiagExactMaxRows: Long = 1024L

  /** The deterministic id-sample the quadratic diagnostics run on:
    * `sampleMod` ≥ 2 keeps `vec_id % sampleMod = 0` (the
    * `trainSampleMod` discipline — reproducible across runs AND
    * engines, so the sampled form stays oracle-pairable); 1 keeps
    * everything; 0 auto-sizes via [[autoSampleMod]] (one bounded
    * count() at plan-construction time).
    */
  private def diagSample(
      corpus: DataFrame, sampleMod: Int, maxExactRows: Long): DataFrame = {
    val m = if (sampleMod > 0) sampleMod else autoSampleMod(corpus, maxExactRows)
    // Par.widen: the diagnostics stream this frame through an all-pairs
    // broadcast join — off a 1-row-group scan the whole O(n²) scoring
    // ran as ONE task (measured 4.85 s of q_hubness's 5.4 s at sf0.1)
    Par.widen(
      if (m > 1) corpus.filter(pmod(col("vec_id"), lit(m.toLong)) === 0L)
      else corpus,
      col("vec_id"))
  }

  /** Smallest power-of-two modulus m with n/m ≤ `maxRows` — the id-mod
    * sample rate that holds a quadratic diagnostic to a fixed pair
    * budget as the corpus grows (n = 10⁹, maxRows = 1024 → m = 2²⁰,
    * ~10⁶ pairs instead of 10¹⁸).
    */
  def autoSampleMod(corpus: DataFrame, maxRows: Long): Int = {
    require(maxRows > 0, "maxRows must be positive")
    val n = corpus.count()
    var m = 1L
    while (n / m > maxRows && m < (1L << 30)) m *= 2
    m.toInt
  }

  /** DuckDB oracle for [[hubnessHistogram]] — the [[bruteForceTopK]]
    * oracle's scoring with the (sampled) corpus as queries, folded to
    * the same occurrence histogram (anti-hubs restored by the left
    * join). `sampleMod` must match the Spark side's RESOLVED modulus
    * (the auto path resolves to 1 at oracle scale by construction:
    * sf0.01 is under [[DiagExactMaxRows]]).
    */
  def hubnessHistogramOracleSql(sampleMod: Int = 1): String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE vec_id % $sampleMod = 0),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |    list_sum(list_transform(range(1, len(q.embedding) + 1), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |    / sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
      |    / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS cos
      |  FROM emb c CROSS JOIN emb q WHERE c.vec_id <> q.vec_id),
      |topk AS (
      |  SELECT query_id, vec_id AS neighbor_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      |    FROM scored) WHERE rnk <= 10),
      |occ AS (SELECT neighbor_id, count(*) AS occ FROM topk GROUP BY neighbor_id),
      |per_vec AS (
      |  SELECT e.vec_id, coalesce(occ.occ, 0) AS occ
      |  FROM emb e LEFT JOIN occ ON e.vec_id = occ.neighbor_id)
      |SELECT occ::BIGINT AS occ, count(*)::BIGINT AS n_vecs
      |FROM per_vec GROUP BY occ ORDER BY occ""".stripMargin

  /** LOCAL OUTLIER FACTOR (Breunig et al., SIGMOD 2000) over cosine
    * distance: score each vector by how much sparser its neighborhood is
    * than its neighbors' neighborhoods — THE density-relative outlier
    * detector for embedding QA (a global distance cutoff flags whole
    * sparse clusters; LOF flags only points that are outliers RELATIVE
    * to their local cluster). Top `topN` scores returned.
    *
    * Exactness discipline: distances quantize to integer e9 immediately
    * (one rounded double per pair); k-distances, reachability distances
    * (max of two integers) and their per-point sums S_p are then exact
    * BIGINT arithmetic; the reciprocal 1/S_o quantizes to an integer
    * per-TERM at e15 before the neighbor sum (order-free, the micro-nat
    * discipline); the final score makes one double excursion through the
    * identical literal `S_p · Σ 1/S_o / k²`, rounded at e6.
    *
    * Shape at 100 TB: the quadratic candidate pass caps itself — above
    * `maxExactRows` the auto path (`sampleMod = 0`, the default) runs
    * on the deterministic vec_id-mod sample ([[diagSample]], the same
    * discipline as [[hubnessHistogram]]), so the pair budget stays
    * ~maxExactRows² and LOF scores density RELATIVE TO THE SAMPLE —
    * the right semantics for a corpus-health diagnostic (outliers are
    * flagged against sampled local density, not absolute distance).
    * `sampleMod = 1` forces the exact form (the oracle pair);
    * `sampleMod ≥ 2` forces that rate. For per-point (not diagnostic)
    * scoring at scale, swap the candidate pass for the IVF/LSH
    * candidate graph ([[ivfTopK]]) — everything downstream is
    * unchanged: LOF needs only each point's kNN list (k rows/point) and
    * one id-keyed re-join to pull the neighbors' sums — two k-bounded
    * shuffles on a kNN-sized frame, never n².
    */
  def lofOutliers(
      corpus: DataFrame,
      k: Int = 10,
      topN: Int = 50,
      sampleMod: Int = 0,
      maxExactRows: Long = DiagExactMaxRows): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val base = diagSample(corpus, sampleMod, maxExactRows)
    val q = base.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      Dedup.vecNorm(col("embedding")).as("q_norm"))
    val dists = base
      .withColumn("c_norm", Dedup.vecNorm(col("embedding")))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        vecDot(col("q_emb"), col("embedding")) / col("q_norm") / col("c_norm"))
      .select(col("query_id"), col("vec_id").as("nbr_id"),
        expr("CAST(round((1.0 - cos) * 1000000000) AS BIGINT)").as("dist_e9"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_e9"), col("nbr_id"))
    val knn = dists
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .persist()
    val kdist = knn.groupBy(col("query_id"))
      .agg(max(col("dist_e9")).as("kdist_e9"))
    val reach = knn
      .join(kdist.select(col("query_id").as("nbr_id"),
        col("kdist_e9").as("nbr_kdist")), "nbr_id")
      .select(col("query_id"),
        greatest(col("dist_e9"), col("nbr_kdist")).as("reach_e9"))
    // greatest(s, 1): a point whose k neighbors all sit at distance 0
    // (duplicated vectors) would otherwise divide by zero downstream
    val sums = reach.groupBy(col("query_id"))
      .agg(greatest(sum(col("reach_e9")), lit(1L)).as("s"))
    val terms = knn.select(col("query_id"), col("nbr_id"))
      .join(sums.select(col("query_id").as("nbr_id"), col("s").as("s_o")),
        "nbr_id")
      .select(col("query_id"),
        expr("CAST(round(1e15 / CAST(s_o AS DOUBLE)) AS BIGINT)")
          .as("t"))
      .groupBy(col("query_id")).agg(sum(col("t")).as("tsum"))
    sums.join(terms, "query_id").join(kdist, "query_id")
      .select(col("query_id").as("vec_id"),
        expr(s"CAST(round(CAST(s AS DOUBLE) * CAST(tsum AS DOUBLE) / " +
          s"(${k * k} * 1e15) * 1000000) AS BIGINT)")
          .as("lof_e6"),
        col("kdist_e9"))
      .orderBy(desc("lof_e6"), col("vec_id"))
      .limit(topN)
  }

  /** DuckDB oracle for [[lofOutliers]] — identical e9 distance
    * quantization, exact integer reach sums, per-term e15 reciprocals,
    * and the character-identical final score literal. `sampleMod` must
    * match the Spark side's RESOLVED modulus (auto resolves to 1 at
    * oracle scale — sf0.01 is under [[DiagExactMaxRows]]).
    */
  def lofOutliersOracleSql(
      k: Int = 10, topN: Int = 50, sampleMod: Int = 1): String =
    s"""WITH emb AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % $sampleMod = 0),
       |dists AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
       |    CAST(round((1.0 - (
       |      list_sum(list_transform(range(1, len(q.embedding) + 1), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |      / sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
       |      / sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))
       |    )) * 1000000000) AS BIGINT) AS dist_e9
       |  FROM emb c CROSS JOIN emb q WHERE c.vec_id <> q.vec_id),
       |knn AS (
       |  SELECT query_id, nbr_id, dist_e9 FROM (
       |    SELECT query_id, nbr_id, dist_e9,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist_e9, nbr_id) AS rnk
       |    FROM dists) WHERE rnk <= $k),
       |kd AS (SELECT query_id, max(dist_e9) AS kdist_e9 FROM knn GROUP BY query_id),
       |reach AS (
       |  SELECT knn.query_id, greatest(knn.dist_e9, nk.kdist_e9) AS reach_e9
       |  FROM knn JOIN kd nk ON knn.nbr_id = nk.query_id),
       |sums AS (
       |  SELECT query_id, greatest(sum(reach_e9), 1)::BIGINT AS s
       |  FROM reach GROUP BY query_id),
       |terms AS (
       |  SELECT knn.query_id,
       |    sum(CAST(round(1e15 / CAST(so.s AS DOUBLE)) AS BIGINT))::BIGINT AS tsum
       |  FROM knn JOIN sums so ON knn.nbr_id = so.query_id
       |  GROUP BY knn.query_id)
       |SELECT sums.query_id AS vec_id,
       |  CAST(round(CAST(s AS DOUBLE) * CAST(tsum AS DOUBLE) / (${k * k} * 1e15) * 1000000) AS BIGINT) AS lof_e6,
       |  kd.kdist_e9
       |FROM sums JOIN terms USING (query_id) JOIN kd USING (query_id)
       |ORDER BY lof_e6 DESC, vec_id LIMIT $topN""".stripMargin
}

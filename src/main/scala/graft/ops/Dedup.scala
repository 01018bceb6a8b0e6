package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions.{minhashSig, simhash64}
import graft.functions.VectorFunctions.vecDot

/** Deduplication operators for a training-data pipeline (SURVEY §7.4-1).
  *
  * Scale design: every signature (shingles, MinHash, SimHash) is computed
  * row-locally with array algebra — zero shuffle until the candidate join.
  * Candidate generation joins on compact band keys (LSH), so the shuffle
  * volume is O(docs × bands), never O(docs²). Exact-pair verification runs
  * only on candidates. The all-pairs variants exist as oracle baselines
  * for small data, not as the scale path.
  */
object Dedup {

  /** Word n-gram shingles (default 3), distinct, lowercase, row-local —
    * a single-pass native expression over the tokenized text
    * ([[graft.functions.WordShingles]]). Documents shorter than n tokens
    * yield an empty array.
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.ShingleFunctions.wordShingles(split(lower(text), "\\s+"), n)

  /** Exact dedup with a deterministic keeper: group identical normalized
    * texts, keep min(doc_id). At scale: hash-partitioned single shuffle on
    * the fingerprint, no sort.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp",
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))
      .orderBy(col("keep_id"))

  /** Incremental exact dedup — the ingest-time shape: annotate a NEW
    * batch against an EXISTING corpus without re-deduplicating the
    * corpus. Each batch doc gets a status:
    *  - `dup_of_corpus`: its normalized text already exists in the
    *    corpus (keeper = the corpus's min doc_id for that text);
    *  - `kept`: first occurrence within the batch of a corpus-new text
    *    (keeper = itself) — these are the rows to append;
    *  - `dup_in_batch`: a later in-batch occurrence of a kept text
    *    (keeper = the batch's min doc_id).
    *
    * Scale shape: the corpus rides the join as (16-byte fp, 8-byte id)
    * only — text never leaves its scan. At petabyte scale the corpus
    * fingerprint index is the artifact you PERSIST (bucketed by fp, à
    * la [[graft.stream.Pipeline]]'s bucketed upsert), so each daily
    * batch joins against it shuffle-free on the corpus side and the
    * index update is just the `kept` rows' fingerprints appended. The
    * batch side is two partial-agg'd exchanges on fp, both batch-sized,
    * corpus-size-independent.
    */
  /** The normalized content fingerprint every exact-dedup surface keys
    * on: md5 of the lowercased, whitespace-collapsed text.
    */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
    incrementalDedupAgainstIndex(
      corpus
        .select(contentFingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("corpus_keeper")),
      batch)

  /** [[incrementalDedup]] against a PRE-BUILT fingerprint index
    * (fp, corpus_keeper) — the entry point when the index is a persisted
    * table maintained across ingests (see [[graft.stream.IngestDedup]])
    * rather than recomputed from corpus text each run.
    */
  def incrementalDedupAgainstIndex(
      corpusIdx: DataFrame,
      batch: DataFrame): DataFrame = {
    val b = batch.select(col("doc_id"), contentFingerprint(col("text")).as("fp"))
    val batchKeeper = b.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("batch_keeper"))
    b.join(corpusIdx, Seq("fp"), "left")
      .join(batchKeeper, Seq("fp"))
      .select(
        col("doc_id"),
        when(col("corpus_keeper").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") === col("batch_keeper"), lit("kept"))
          .otherwise(lit("dup_in_batch")).as("status"),
        coalesce(col("corpus_keeper"), col("batch_keeper")).as("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** [[incrementalDedupAgainstIndex]] with a Bloom pre-filter on the
    * corpus probe — the shape that keeps a mostly-new daily batch off
    * the corpus join entirely. The filter is built over the index's
    * fingerprints with Spark's own `BloomFilterAggregate` (the sketch
    * behind runtime row-level filtering) and rides the batch scan as a
    * literal: a batch row whose fp misses the bloom CANNOT be in the
    * corpus (no false negatives), so only bloom-positive fps — true
    * dups plus an fpp-bounded trickle of false positives — ever reach
    * the index join. False positives cost a join probe, never
    * correctness: the inner join against the real index discards them,
    * so the output is exactly [[incrementalDedupAgainstIndex]]'s (the
    * verified query shares q_incremental_dedup's oracle SQL).
    *
    * Scale: the bloom is a driver-held model, not data — ~1.2 MB per
    * 1M index entries at fpp 0.01, the same bounded-collect budget as
    * the IVF centroid tables. At petabyte scale you persist it beside
    * the fingerprint index and rebuild it on compaction; each ingest
    * then reads the full index only for the bloom-positive slice.
    * An empty index yields no bloom — fall straight through to the
    * plain path (everything is corpus-new).
    */
  def bloomIncrementalDedup(
      corpusIdx: DataFrame,
      batch: DataFrame,
      expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val bloom = buildFpBloom(corpusIdx, expectedItems, fpp)
    if (bloom == null) incrementalDedupAgainstIndex(corpusIdx, batch)
    else incrementalDedupWithBloom(corpusIdx, batch, bloom)
  }

  /** Distributed Bloom build over a frame's `fp` column (keys are
    * `xxhash64(fp)` longs — [[incrementalDedupWithBloom]] probes with
    * the same hash). Returns the serialized sketch
    * (`BloomFilter.writeTo` format, ~1.2 MB per 1M items at fpp 0.01)
    * or null for an empty frame. Sketches built with the SAME
    * (expectedItems, fpp) are mergeable — the persisted-per-batch
    * layout [[graft.stream.IngestDedup]] uses.
    */
  private[graft] def buildFpBloom(
      fps: DataFrame,
      expectedItems: Long,
      fpp: Double): Array[Byte] = {
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    require(expectedItems > 0, "expectedItems must be positive")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomAgg = Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("fp"))),
        Bridge.expression(lit(expectedItems)),
        Bridge.expression(lit(optimalNumBits(expectedItems, fpp)))).toAggregateExpression())
    fps.select(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
  }

  private[graft] def optimalNumBits(expectedItems: Long, fpp: Double): Long =
    math.max(64L,
      (-expectedItems.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

  /** The gate half of [[bloomIncrementalDedup]], for callers holding a
    * PREBUILT serialized bloom (e.g. the streaming ingest's persisted
    * per-batch sketches, merged at read): only bloom-positive batch
    * fingerprints join the index; the inner join discards the fpp
    * false-positive trickle, so output equals
    * [[incrementalDedupAgainstIndex]] exactly.
    */
  private[graft] def incrementalDedupWithBloom(
      corpusIdx: DataFrame,
      batch: DataFrame,
      bloom: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val mightBeCorpus = Bridge.column(BloomFilterMightContain(
      Bridge.expression(lit(bloom)),
      Bridge.expression(xxhash64(col("fp")))))
    val prunedFps = batch
      .select(contentFingerprint(col("text")).as("fp"))
      .filter(mightBeCorpus)
      .distinct()
    incrementalDedupAgainstIndex(corpusIdx.join(prunedFps, Seq("fp")), batch)
  }

  /** All-pairs n-gram Jaccard ≥ threshold (oracle baseline; O(n²) —
    * small-data only, the scale path is [[minHashLsh]]). Pairs are built
    * by an equi-join on exploded shingles, so only pairs sharing ≥1
    * shingle are ever materialized.
    *
    * `maxDf`: drop shingles whose document frequency exceeds the cutoff
    * BEFORE the self-join — the boilerplate-hot-key guard for corpora
    * where headers/footers appear in thousands of docs (a df-D shingle
    * contributes D² join rows). Sizes are recomputed on the filtered
    * sets, so the score is a true Jaccard over the informative-shingle
    * space. Left OFF in the verified query: the test corpus's max df is
    * 25 (no hot keys), and a cutoff below that inflates Jaccard through
    * shrunken unions — measured, not assumed (round-2 analysis; the
    * spec demonstrates the guard on a planted-boilerplate corpus
    * instead).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double = 0.8,
      n: Int = 3,
      maxDf: Option[Int] = None): DataFrame = {
    // cached lazily: read by sizes and by BOTH sides of the self-join.
    // persist() (not localCheckpoint) keeps the library function lazy —
    // building or explaining the query runs no jobs; the cache populates
    // at first action and both branches read one materialization.
    // Par.widen: the 100-200x shingle explode is compute-dense (guide
    // §2.5) — off a 1-row-group scan it ran as ONE task
    val shAll = Par.widen(docs, col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
      .persist()
    val sh = maxDf match {
      case None => shAll
      case Some(cut) =>
        // df ≤ cut survivors; the df table is tiny (distinct shingles ×
        // long) and the join is a hash join on the shingle key
        val df = shAll.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= cut)
          .select(col("shingle"))
        // the filtered frame feeds sizes + both self-join sides: pin it
        // too, or the keep-join (and the df aggregate feeding it) runs
        // once per consumer
        shAll.join(df, "shingle").persist()
    }
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/All-Pairs family: Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08) — the DETERMINISTIC scale path between the two existing
    * answers: [[ngramJaccardPairs]] materializes every shingle-sharing
    * pair (exact but O(Σdf²) candidates), [[minHashLsh]] is near-linear
    * but probabilistic (a banding-recall miss floor by construction).
    * Prefix filtering is both: exact — provably zero false negatives —
    * and candidate-sparse.
    *
    * The theorem: order every universe token by a global total order
    * (ascending document frequency, rarest first; lexical tiebreak) and
    * sort each document's token set by it. If J(A,B) ≥ t then A and B
    * must share a token inside their PREFIXES of length
    * |X| − ⌈t·|X|⌉ + 1 (else the best-case remaining overlap
    * min(⌈t·|A|⌉, ⌈t·|B|⌉) − 1 … is too small to reach t). Candidates
    * are therefore generated by an equi-join on PREFIX tokens only —
    * and because the global order puts RARE tokens first, prefixes land
    * on exactly the tokens with tiny document frequency: boilerplate
    * shingles shared by thousands of docs sit at the back of every
    * sorted set and never generate a candidate. The ⌈t·|X|⌉ arithmetic
    * is integer e4 ((sz·tE4 + 9999) div 10000) — a double `ceil` at a
    * boundary like 0.7·10 could round the prefix SHORT and silently
    * drop true pairs.
    *
    * Verification joins candidates to per-doc sorted shingle arrays and
    * intersects row-locally (`array_intersect`, codegen'd) — O(|A|+|B|)
    * per candidate, never a corpus-scale shuffle. A cheap length filter
    * (min·1e4 ≥ tE4·max, integer) prunes size-incompatible candidates
    * before the arrays are even fetched.
    *
    * Output contract: IDENTICAL rows to [[ngramJaccardPairs]] at the
    * same (threshold, n) — the all-pairs form is the specification;
    * SetSimJoinSpec pins the equality on the real corpus across
    * thresholds.
    *
    * Shape at 100 TB: one shuffle by shingle (df counts + candidate
    * join), one by doc_id (per-doc sort windows + verify arrays); the
    * per-doc window partitions are document-sized. No global rank is
    * ever materialized — the order (df, shingle) is used directly as a
    * sort key, so there is no single-partition window anywhere.
    */
  def setSimJoinPrefix(
      docs: DataFrame,
      threshold: Double = 0.7,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // t = 0 would silently degenerate to the all-pairs join (prefix =
    // whole set); t > 1 is vacuous. Both are caller bugs — refuse.
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    val tE4 = math.round(threshold * 10000).toInt
    // shingles are per-doc-distinct by construction (WordShingles);
    // persisted once, read by df counts, prefixes, and verify arrays
    val sh = Par.widen(docs, col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
      .persist()
    val dfTab = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    // persisted: feeds the prefixes AND the verify arrays — and because
    // the window already hash-partitioned by doc_id, the docSets
    // aggregate below reuses that partitioning with NO new exchange
    val ranked = sh.join(dfTab, "shingle")
      .withColumn("sz", count(lit(1)).over(byDoc))
      .withColumn("pos", row_number()
        .over(byDoc.orderBy(col("df"), col("shingle"))))
      .persist()
    // prefix length p = sz − ⌈t·sz⌉ + 1, integer-exact in e4
    val prefix = ranked.filter(
      col("pos") <= col("sz") -
        expr(s"CAST((sz * $tE4 + 9999) div 10000 AS BIGINT)") + 1L)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(
        least(col("a.sz"), col("b.sz")) * 10000L >=
          greatest(col("a.sz"), col("b.sz")) * tE4.toLong)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .distinct()
    val docSets = ranked.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("set"))
    cand
      .join(docSets.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docSets.as("db"), col("doc_b") === col("db.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("da.set"), col("db.set"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-dup threshold sweep — the tuning readout for the dedup plane:
    * per candidate Jaccard cutoff, how many pairs fire and how many
    * distinct documents they touch. Dedup thresholds are usually picked
    * by folklore (0.8, 0.85); this sweep shows the actual knee on YOUR
    * corpus before a 100 TB dedup run commits to one.
    *
    * Shape: the exact pair set materializes ONCE (ngramJaccardPairs at
    * the permissive floor, shingle frame persisted inside); the sweep is
    * a broadcast threshold grid over that pair-graph-sized frame —
    * pairs-per-threshold monotonically shrink by construction.
    */
  def dedupThresholdSweep(
      docs: DataFrame,
      thresholdsE4: Seq[Long] =
        Seq(500L, 1000L, 2000L, 3000L, 5000L, 8000L, 9000L)): DataFrame = {
    val pairs = ngramJaccardPairs(docs, threshold = 0.05)
    val grid = docs.sparkSession
      .createDataFrame(thresholdsE4.map(Tuple1(_))).toDF("t_e4")
    val hit = pairs.crossJoin(broadcast(grid))
      .filter(col("jaccard") >= col("t_e4").cast("double") / 10000.0)
    val nPairs = hit.groupBy(col("t_e4")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit
      .select(col("t_e4"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("t_e4"))
      .agg(countDistinct(col("d")).as("n_docs_touched"))
    grid.join(nPairs, Seq("t_e4"), "left")
      .join(nDocs, Seq("t_e4"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_touched"))
      .orderBy(col("t_e4"))
  }

  /** MinHash signature: one xxhash64 pass over the shingles, then k
    * permutation minima in a single codegen'd loop ([[graft.functions.MinHashSig]]).
    * Row-local, no shuffle, no UDF.
    */
  def minHashSignature(shingleArr: Column, numHashes: Int): Column =
    minhashSig(transform(shingleArr, s => xxhash64(s)), numHashes)

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    *
    * bands × rowsPerBand hashes; docs sharing any band key become
    * candidates; candidates are verified with exact shingle Jaccard so the
    * output contains no false positives. With (16 bands × 4 rows) the
    * probability of missing a Jaccard-0.9 pair is (1-0.9⁴)¹⁶ ≈ 3e-8.
    *
    * Scale: the only shuffles are (a) the band-key self-join — O(docs ×
    * bands) rows of (long, long) — and (b) the candidate verification join,
    * proportional to true-positive density. AQE handles hot buckets
    * (boilerplate-heavy corpora) via skew-join splitting.
    *
    * Oracle-ability: candidates are exact-verified, so output ⊆ the exact
    * Jaccard-≥threshold pair set always; the only gap is banding recall.
    * At threshold 0.5 with 32 bands × 2 rows, P(miss) = (1-J²)^32 ≤ 1e-4
    * at the J=0.5 boundary and ≈ 7e-15 at J=0.8 — so against a corpus
    * whose near-dup pairs sit at J ≥ 0.8 (ours: nothing between 0.15 and
    * 0.8), the output EQUALS the exact pair set and pairs with the plain
    * exact-Jaccard oracle.
    */
  def minHashLsh(
      docs: DataFrame,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")

    // cached lazily (persist, not localCheckpoint — construction stays
    // job-free): read by the band branch and by BOTH sides of the
    // verification join — the "persist the signature table" step an
    // at-scale dedup run does before candidate generation
    val withSh = Par.widen(docs, col("doc_id"))
      .select(col("doc_id"), shingles(col("text"), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    val withSig = withSh.withColumn("sig", minHashSignature(col("sh"), numHashes))

    // band key = hash of the band's signature slice + band index.
    // The banded frame carries IDS ONLY: exploding the shingle arrays
    // ×bands through the candidate shuffle would duplicate every doc's
    // content 32× — at 100 TB that shuffle, not the join, is the cost.
    // The shingle sets are re-joined by id for verification instead
    // (recomputing them is a narrow row-local pass; at scale the
    // signature table would be persisted once and both branches read it).
    val bandKeys = array((0 until bands).map(b =>
      hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)
    val banded = withSig
      .select(col("doc_id"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")

    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    candidates
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental MinHash-LSH: near-dup pairs between a NEW batch and an
    * EXISTING corpus — the ingest-time twin of [[minHashLsh]] (which is
    * within-one-dataset). Returns (corpus_id, batch_id, jaccard) for
    * every cross pair with exact Jaccard ≥ threshold; batch docs that
    * appear in no pair are genuinely new material. In-batch near-dups
    * are [[minHashLsh]] on the batch alone — kept separate so each run
    * stays batch-sized.
    *
    * Scale shape: the corpus band table (band, band_key, doc_id — three
    * longs per doc per band) is the PERSISTED INDEX of a 100 TB corpus;
    * here it is recomputed because the test corpus is small, but the
    * frame is exactly what you'd `bucketBy(band_key).saveAsTable` once
    * and reuse every ingest. The candidate join then shuffles only the
    * batch side (batch bands are re-bucketed to the index's layout), the
    * verification join touches corpus shingles for candidate ids only,
    * and nothing corpus-sized moves per batch. Recall follows
    * [[minHashLsh]]'s banding argument — at the caller's operating point
    * the output equals the exact cross-pair set and is value-oracle-able.
    */
  /** (doc_id, sh): distinct word shingles per doc, empty docs dropped —
    * the frame every signature/verification path starts from.
    */
  private[graft] def shingleFrame(docs: DataFrame, shingleSize: Int): DataFrame =
    Par.widen(docs, col("doc_id"))
      .select(col("doc_id"), shingles(col("text"), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (doc_id, band, band_key): the ids-only banded LSH frame — exactly
    * what a deployment persists as the corpus band index.
    */
  private[graft] def bandFrame(
      sh: DataFrame,
      numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val sig = minHashSignature(col("sh"), numHashes)
    val bandKeys = array((0 until bands).map(b =>
      hash(slice(sig, b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)
    sh.select(col("doc_id"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
  }

  def incrementalMinHashLsh(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame = {
    // lazy persist like minHashLsh: the shingle frames are read by the
    // band branch and the verification join; released with the session
    val shC = shingleFrame(corpus, shingleSize).persist()
    val shB = shingleFrame(batch, shingleSize).persist()
    val candidates = bandFrame(shC, numHashes, bands).as("c")
      .join(bandFrame(shB, numHashes, bands).as("b"),
        col("c.band") === col("b.band") &&
          col("c.band_key") === col("b.band_key"))
      .select(col("c.doc_id").as("corpus_id"), col("b.doc_id").as("batch_id"))
      .dropDuplicates("corpus_id", "batch_id")
    candidates
      .join(shC.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")), "corpus_id")
      .join(shB.select(col("doc_id").as("batch_id"), col("sh").as("sh_b")), "batch_id")
      .withColumn("inter", size(array_intersect(col("sh_c"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_c")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("batch_id"), col("jaccard"))
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** EXACT incremental near-dup: annotate a new batch against an
    * existing corpus with every cross pair at Jaccard ≥ `threshold` —
    * zero false negatives, completing the dedup-plane 2×2 the other
    * three cells already fill: exact batch ([[setSimJoinPrefix]]),
    * probabilistic batch ([[minHashLsh]]), probabilistic incremental
    * ([[incrementalMinHashLsh]] — recall rests on the banding argument),
    * exact incremental (this). When an ingest gate must PROVE it never
    * admits a ≥ t duplicate (contractual dedup, benchmark
    * decontamination), the banding miss floor is a liability; this
    * path's prefix-filter theorem is recall-1 by construction.
    *
    * Cross-set prefix filtering: the theorem (prefixes of length
    * |X| − ⌈t·|X|⌉ + 1 under one shared total order must intersect when
    * J ≥ t) never requires the two sets to come from the same
    * collection — only that BOTH prefixes use the SAME order. The order
    * here is (corpus df asc, shingle): exactly what a deployment
    * freezes when it builds the index, with batch-novel shingles at
    * df = 0 (rarest; they cannot match the corpus, so they only shrink
    * the probe's candidate surface further).
    *
    * Shape at 100 TB: the corpus side materializes ONCE as the
    * (shingle, corpus_id, sz) PREFIX INDEX — `bucketBy(shingle)` it and
    * every later ingest shuffles only the batch probe to the index
    * layout. Verification fetches corpus shingle arrays for candidate
    * ids only. Nothing corpus-sized moves per batch, and unlike the
    * band index there is no recall knob to tune — the same integer-e4
    * prefix arithmetic as [[setSimJoinPrefix]] guarantees the pair set.
    */
  def incrementalSetSimPrefix(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double = 0.5,
      shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    val tE4 = math.round(threshold * 10000).toInt
    // lazy persists, the incrementalMinHashLsh discipline: each shingle
    // frame feeds its prefix branch and the verification join
    val shC = shingleFrame(corpus, shingleSize).persist()
    val shB = shingleFrame(batch, shingleSize).persist()
    val expC = shC.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dfTab = expC.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    def prefixOf(exp: DataFrame): DataFrame = {
      val byDoc = Window.partitionBy(col("doc_id"))
      exp.join(dfTab, Seq("shingle"), "left")
        .na.fill(0L, Seq("df"))
        .withColumn("sz", count(lit(1)).over(byDoc))
        .withColumn("pos", row_number()
          .over(byDoc.orderBy(col("df"), col("shingle"))))
        .filter(col("pos") <= col("sz") -
          expr(s"CAST((sz * $tE4 + 9999) div 10000 AS BIGINT)") + 1L)
        .select(col("doc_id"), col("shingle"), col("sz"))
    }
    val index = prefixOf(expC)
    val probe = prefixOf(
      shB.select(col("doc_id"), explode(col("sh")).as("shingle")))
    val cand = index.as("c")
      .join(probe.as("b"), col("c.shingle") === col("b.shingle"))
      .filter(least(col("c.sz"), col("b.sz")) * 10000L >=
        greatest(col("c.sz"), col("b.sz")) * tE4.toLong)
      .select(col("c.doc_id").as("corpus_id"), col("b.doc_id").as("batch_id"))
      .dropDuplicates("corpus_id", "batch_id")
    cand
      .join(shC.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
        "corpus_id")
      .join(shB.select(col("doc_id").as("batch_id"), col("sh").as("sh_b")),
        "batch_id")
      .withColumn("inter", size(array_intersect(col("sh_c"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_c")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("batch_id"), col("jaccard"))
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, blocked by
    * 8-bit chunks: any pair within distance 7 must agree on ≥1 of 8
    * chunks (pigeonhole), so candidates come from an equi-join on chunk
    * values, never a cross join. Verified with exact bit_count(xor), and
    * because the blocking is pigeonhole-COMPLETE (not probabilistic), the
    * output is exactly "all pairs at distance ≤ maxDist" — an oracle-able
    * semantics. Shingle hashes come from
    * [[graft.functions.PolyHashArray]] — two polynomial rolling hashes
    * packed as h1 | h2 << 30 (60 effective bits; bits 60-63 are
    * constant-zero) — every step replicable in DuckDB SQL
    * (`list_reduce` fold + `ord` + bit ops), which is what lets this
    * query carry a full value-level oracle instead of a rows-only check.
    */
  def simHashPairs(docs: DataFrame, maxDist: Int = 7): DataFrame = {
    // persist (lazy): both sides of the chunk self-join read the same
    // signature table — cached once at first action, halving the
    // shingle+hash compute, without running jobs at construction time
    val sigDf = Par.widen(docs, col("doc_id"))
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig",
        simhash64(graft.functions.HashFunctions.polyHashArray(col("sh"))))
      .select(col("doc_id").as("id"), col("sig"))
      .persist()
    hammingPairs(sigDf, maxDist)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** All (id_a, id_b, hamming) pairs with Hamming distance ≤ maxDist over
    * a 64-bit signature frame (id, sig) — the pigeonhole-complete 8-bit
    * chunk equi-join shared by [[simHashPairs]] (text SimHash) and
    * [[Multimodal.mediaNearDup]] (perceptual hash): any pair within
    * distance 7 agrees on ≥ 1 of 8 chunks, so candidates never need a
    * cross join, and exact bit_count verification makes the output the
    * complete ≤ maxDist pair set. Only (id, sig, chunk byte) rides the
    * ×8 exchange.
    */
  private[graft] def hammingPairs(sigDf: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 7, "8-chunk blocking guarantees recall only to distance 7")
    val chunks = array((0 until 8).map(c =>
      shiftright(col("sig"), c * 8).bitwiseAND(lit(255L))): _*)
    val chunked = sigDf.select(col("id"), col("sig"), posexplode(chunks))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")

    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over near-dup pairs — the step a dedup pipeline
    * runs AFTER pair generation: transitively-linked documents form one
    * cluster (keep one doc per cluster, drop the rest); cluster_id = min
    * doc_id in the component, by the [[Components.minLabel]] kernel
    * (~log₂ D rounds for a chain of diameter D; non-convergence within
    * `maxIters` throws rather than returning labels that would corrupt
    * downstream keeper logic). The kernel runs on the INDUCED SUBGRAPH
    * only — a doc with no near-dup edge can never change label, so the
    * state is the pair endpoints (≪ corpus at 100 TB) and singletons
    * rejoin at the end. Oracle: DuckDB recursive CTE closure.
    */
  def nearDupClusters(
      docs: DataFrame,
      pairs: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val labels = Components.minLabel(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")),
      maxIters, "nearDupClusters")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    // singletons: every doc with no near-dup edge is its own cluster
    val singletons = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .unionByName(singletons)
      .orderBy(col("doc_id"))
  }

  /** Repeated-substring spans — the exact-substring dedup family
    * (ExactSubstr in the deduplicate-training-data literature),
    * approximated at word granularity: find every MAXIMAL token span
    * whose k-gram windows all occur in ≥ `minDocs` distinct documents.
    * A downstream cut step removes all-but-one occurrence; this
    * operator is the detection half, emitting per-doc
    * (span_start, span_end) in 0-based token offsets plus the window
    * count inside the span.
    *
    * Shape: per position p, the k-gram `toks[p..p+k-1]` hashes through
    * the replicable 60-bit PolyHash pack (same family as
    * [[simHashPairs]] — every step a DuckDB `list_reduce` can replay,
    * so the query carries a full value-level oracle). Gram STRINGS are
    * transient row-local values — only (doc_id, pos, hash) = ~20 B per
    * token position ever reaches an exchange. Cross-doc frequency is
    * one partial-agg'd groupBy on the 8-byte hash (count_distinct
    * partial-deduplicates map-side, so a boilerplate gram present in
    * every doc does not funnel raw rows to one reducer); marked
    * positions come back via a co-partitioned hash join (both sides
    * already exchanged on `h`), and adjacent positions fold to maximal
    * spans with a per-doc gaps-and-islands window — hash-partitioned
    * on doc_id, never global. The exploded frame is persisted lazily
    * because frequency and mark-back both read it; released with the
    * session like [[minHashLsh]]'s shingle frames.
    */
  def repeatedSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, "a 1-gram span is just token frequency; use k >= 2")
    require(minDocs >= 2, "minDocs < 2 would flag every position")
    val gramHashes = graft.functions.HashFunctions.polyHashArray(
      transform(
        sequence(lit(0), size(col("toks")) - k),
        i => array_join(slice(col("toks"), i + lit(1), lit(k)), " ")))
    val exploded = docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(gramHashes))
      .withColumnRenamed("pos", "p")
      .withColumnRenamed("col", "h")
      .persist()
    val dupHashes = exploded.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    exploded.join(dupHashes, "h")
      .select(col("doc_id"), col("p"))
      .withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + lit(k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"),
        col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The cut half of exact-substring dedup: remove every occurrence of a
    * cross-doc-repeated k-gram window EXCEPT the corpus-first one
    * (minimum (doc_id, position)), and rebuild each document's text from
    * the surviving tokens. Output text is token-normalized (lowercased,
    * single-spaced) — the cut operates on the same token stream the
    * detection hashes.
    *
    * Scale shape: shares [[repeatedSpans]]'s exploded (doc_id, pos,
    * hash) frame and dup-hash aggregate. The keeper per hash is a
    * `min(struct(doc_id, p))` AGGREGATE, not a row_number window — the
    * partial-agg handles a boilerplate gram present in billions of docs
    * without funneling its occurrence list through one reducer. Removed
    * windows expand to per-doc token-index sets (bounded by doc length,
    * collected per doc_id), and the rebuild is a row-local indexed
    * filter over the token array — no further shuffle.
    */
  def cutRepeatedSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, "a 1-gram span is just token frequency; use k >= 2")
    require(minDocs >= 2, "minDocs < 2 would flag every position")
    val gramHashes = graft.functions.HashFunctions.polyHashArray(
      transform(
        sequence(lit(0), size(col("toks")) - k),
        i => array_join(slice(col("toks"), i + lit(1), lit(k)), " ")))
    val tokenized = docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .persist()
    val exploded = tokenized
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(gramHashes))
      .withColumnRenamed("pos", "p")
      .withColumnRenamed("col", "h")
      .persist()
    val keepers = exploded.groupBy(col("h"))
      .agg(
        count_distinct(col("doc_id")).as("nd"),
        min(struct(col("doc_id"), col("p"))).as("keep"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), col("keep.doc_id").as("kd"), col("keep.p").as("kp"))
    val removalSets = exploded.join(keepers, "h")
      .filter(!(col("doc_id") === col("kd") && col("p") === col("kp")))
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + lit(k - 1))).as("ti"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(collect_set(col("ti")).as("rem"))
    tokenized.join(removalSets, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("toks"),
        coalesce(col("rem"), array().cast("array<int>")).as("rem"))
      .select(
        col("doc_id"),
        array_join(
          filter(col("toks"), (_, i) => !array_contains(col("rem"), i)),
          " ").as("clean_text"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("rem")).cast("long").as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Cosine similarity of two float-array columns, computed in double with
    * a fixed left-to-right summation order (deterministic, oracle-stable —
    * bit-identical to the `aggregate(zip_with(...))` formulation, but a
    * codegen'd loop via [[graft.functions.FloatVecDot]]).
    */
  def cosine(a: Column, b: Column): Column =
    vecDot(a, b) / sqrt(vecDot(a, a)) / sqrt(vecDot(b, b))

  /** The vector's own norm, precomputed once per row before a join —
    * `vecDot(a,b) / norm_a / norm_b` is bit-identical to [[cosine]] but
    * does one dot per PAIR instead of three.
    */
  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Embedding-cosine near-dup pairs ≥ threshold. All-pairs (oracle
    * baseline — the ANN path in [[Similarity]] is the 100 TB variant).
    * Norms are precomputed once per vector before the join.
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.45): DataFrame = {
    // Par.widen: the O(n²) scoring streams one side of a nested-loop
    // join — off a 1-row-group scan it ran as ONE task
    val e = Par.widen(embeddings, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        vecNorm(col("embedding")).as("norm"))
    e.as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        vecDot(col("a.embedding"), col("b.embedding")) / col("a.norm") / col("b.norm"))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Embedding near-dup, LSH-bucketed — the 100 TB path for
    * [[embeddingNearDup]]: candidates share at least one band of a packed
    * random-hyperplane signature ([[graft.functions.RhpSig]]), verified
    * with exact cosine. Shuffle volume is O(vectors × bands), never
    * O(vectors²); recall < 1 by design (the spec measures it against the
    * all-pairs baseline).
    */
  /** Band sizing: rowsPerBand bits per band key ⇒ 2^rowsPerBand buckets
    * per band. 8-bit bands (the default) give 256 buckets — at
    * near-duplicate thresholds (cos ≳ 0.9, bit-agreement ≈ 0.86) a pair
    * matches some band with P ≈ 1-(1-0.86^8)^8 ≈ 0.93, while unrelated
    * vectors (agreement ≈ 0.5) collide with P ≈ 0.03 — the pruning that
    * makes this the scale path. Coarser bands raise recall at low
    * thresholds but collapse the buckets (2-bit bands = 4 buckets ⇒
    * near-cross-join).
    */
  def embeddingNearDupLsh(
      embeddings: DataFrame,
      threshold: Double = 0.45,
      nBits: Int = 64,
      bands: Int = 8): DataFrame = {
    val rowsPerBand = nBits / bands
    require(bands * rowsPerBand == nBits, "bands must divide nBits")
    val mask = (1L << rowsPerBand) - 1L
    val sig = graft.functions.VectorFunctions.rhpSig(col("embedding"), nBits)
    val bandKeys = array((0 until bands).map(b =>
      shiftrightunsigned(col("sig"), b * rowsPerBand).bitwiseAND(lit(mask))): _*)
    // ids-only band frame: exploding the 64-float embeddings ×bands
    // through the candidate shuffle would move the corpus 8× — vectors
    // are re-joined by id for the exact-cosine verify instead
    val banded = embeddings
      .select(col("vec_id"), sig.as("sig"))
      .select(col("vec_id"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    val vecs = embeddings.select(col("vec_id"), col("embedding"),
      vecNorm(col("embedding")).as("norm"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("norm").as("norm_a")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b")), "vec_b")
      .withColumn("cos",
        vecDot(col("emb_a"), col("emb_b")) / col("norm_a") / col("norm_b"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Bloom-filter sizing audit — the capacity study behind
    * [[bloomGatedDedup]]'s driver-held filter: for each (bits m, hashes
    * k) candidate, the expected false-positive probability at THIS
    * corpus's actual key count, fpp = (1 − (1 − 1/m)^{kn})^k, plus
    * bits-per-key. A 100 TB incremental dedup sizes its gate from this
    * table, not from a guessed n. Companion to [[lshTuningSweep]]
    * (banding) and [[graft.ops.TextAnalysis.featureHashAudit]] (hash
    * tables) in the sizing-audit family.
    *
    * Exactness: n is the exact distinct-fingerprint count; fpp
    * evaluates once per 12-cell grid with both engines running the
    * same literal pow expression, e9-quantized ([[lshTuningSweep]]
    * pow precedent). Shape: one distinct collapse, a broadcast grid
    * over a 1-row stats frame.
    */
  def bloomSizing(
      docs: DataFrame,
      bitSizes: Seq[Long] = Seq(1L << 16, 1L << 18, 1L << 20),
      hashCounts: Seq[Long] = Seq(1L, 3L, 5L, 7L)): DataFrame = {
    val n = docs
      .select(md5(regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        .as("fp"))
      .agg(countDistinct(col("fp")).as("n_keys"))
    val grid = docs.sparkSession.createDataFrame(
      for (m <- bitSizes.sorted; k <- hashCounts.sorted) yield (m, k))
      .toDF("m_bits", "k_hashes")
    n.crossJoin(broadcast(grid))
      .withColumn("bpk_e2", expr(
        "CASE WHEN n_keys > 0 THEN m_bits * 100 div n_keys END"))
      .withColumn("fpp_e9", expr(
        """CAST(round(pow(1.0 - pow(1.0 - 1.0 / CAST(m_bits AS DOUBLE),
          |  CAST(k_hashes * n_keys AS DOUBLE)), CAST(k_hashes AS DOUBLE))
          |  * 1000000000, 0) AS BIGINT)""".stripMargin))
      .select(col("m_bits"), col("k_hashes"), col("n_keys"), col("bpk_e2"),
        col("fpp_e9"))
      .orderBy(col("m_bits"), col("k_hashes"))
  }

  /** DuckDB oracle for [[bloomSizing]]. */
  def bloomSizingOracleSql(
      bitSizes: Seq[Long] = Seq(1L << 16, 1L << 18, 1L << 20),
      hashCounts: Seq[Long] = Seq(1L, 3L, 5L, 7L)): String = {
    val gridRows = (for (m <- bitSizes.sorted; k <- hashCounts.sorted)
      yield s"($m, $k)").mkString(", ")
    s"""WITH n AS (
       |  SELECT count(DISTINCT md5(regexp_replace(trim(lower(text)),
       |    '\\s+', ' ', 'g')))::BIGINT AS n_keys
       |  FROM documents),
       |g AS (SELECT * FROM (VALUES $gridRows) t(m_bits, k_hashes))
       |SELECT m_bits::BIGINT AS m_bits, k_hashes::BIGINT AS k_hashes, n_keys,
       |  (CASE WHEN n_keys > 0 THEN m_bits * 100 // n_keys END)::BIGINT
       |    AS bpk_e2,
       |  CAST(round(pow(1.0 - pow(1.0 - 1.0 / m_bits::DOUBLE,
       |    (k_hashes * n_keys)::DOUBLE), k_hashes::DOUBLE)
       |    * 1000000000, 0) AS BIGINT) AS fpp_e9
       |FROM n CROSS JOIN g ORDER BY m_bits, k_hashes""".stripMargin
  }

  /** LSH parameter tuning on YOUR corpus — the S-curve made data-driven.
    * For every (bands b, rows-per-band r) split of a fixed hash budget
    * b·r = totalHashes, a pair with Jaccard s is caught with probability
    * p = 1 − (1 − sʳ)ᵇ. Folklore picks (16, 8); this sweep scores every
    * split against the corpus's OWN similarity histogram: expected pairs
    * caught, expected misses among true near-dups (s ≥ 0.8), expected
    * false-positive candidates (s < 0.5) — the recall/verify-cost frontier
    * a 100 TB dedup run should pick its banding from. Companion to
    * [[dedupThresholdSweep]] (which tunes the cutoff; this tunes the index).
    *
    * Exactness: pair similarities collapse FIRST onto the 4-dp Jaccard
    * dimension (≤ 10⁴ distinct values) with integer pair counts; the
    * S-curve evaluates once per (j_e4, config) cell — e6-quantized to an
    * integer before the count-weighted sums, so no raw double is ever
    * aggregated. Shape: the exact pair set materializes once
    * ([[ngramJaccardPairs]] at the permissive floor, shingle frame
    * persisted inside); everything downstream runs on the collapsed
    * histogram crossed with an 8-row broadcast grid.
    */
  def lshTuningSweep(
      docs: DataFrame,
      totalHashes: Int = 128): DataFrame = {
    require(totalHashes > 0, "totalHashes must be positive")
    val configs = (0 to 30)
      .map(1 << _).takeWhile(_ <= totalHashes)
      .filter(totalHashes % _ == 0)
      .map(r => (totalHashes / r, r.toLong))
      .map { case (b, r) => (b.toLong, r) }
    val spark = docs.sparkSession
    val grid = spark.createDataFrame(configs).toDF("bands", "rows_per_band")
    val hist = ngramJaccardPairs(docs, threshold = 0.05)
      .select(expr("CAST(round(jaccard * 10000, 0) AS BIGINT)").as("j_e4"))
      .groupBy(col("j_e4")).agg(count(lit(1)).as("n_pairs"))
    val scored = hist.crossJoin(broadcast(grid))
      .withColumn("p_e6", expr(
        """CAST(round((1.0 - pow(1.0 - pow(CAST(j_e4 AS DOUBLE) / 10000.0,
          |  CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)))
          |  * 1000000, 0) AS BIGINT)""".stripMargin))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(
        sum(col("n_pairs")).as("n_pairs_total"),
        sum(col("n_pairs") * col("p_e6")).as("exp_caught_e6"),
        sum(when(col("j_e4") >= 8000L,
          col("n_pairs") * (lit(1000000L) - col("p_e6"))).otherwise(0L))
          .as("exp_missed_high_e6"),
        sum(when(col("j_e4") < 5000L, col("n_pairs") * col("p_e6"))
          .otherwise(0L)).as("exp_fp_e6"))
    grid.join(scored, Seq("bands", "rows_per_band"), "left")
      .na.fill(0L, Seq("n_pairs_total", "exp_caught_e6",
        "exp_missed_high_e6", "exp_fp_e6"))
      .orderBy(col("rows_per_band"))
  }

  /** EDIT-DISTANCE similarity join — record linkage between a clean
    * catalog and a dirty feed under levenshtein ≤ `dmax`, blocked with
    * the PassJoin pigeonhole scheme (Li, Deng & Feng, EDBT'11): split
    * each indexed string into dmax+1 contiguous chunks; ≤ dmax edit ops
    * cannot touch all dmax+1 chunks, so a true match must contain at
    * least one chunk VERBATIM, shifted by at most dmax positions. The
    * probe side therefore emits, for each plausible indexed length
    * l ∈ [m−dmax, m+dmax] and chunk slot, only the substrings inside
    * that ±dmax window — O((2d+1)²(d+1)) short equi-join keys per
    * probe, never an all-pairs comparison. Candidates that share a
    * (length, slot, chunk) key pay one exact levenshtein; everything
    * else never meets. This is the scheme's guarantee, not a heuristic:
    * zero false negatives, so the blocked join returns EXACTLY the
    * exhaustive join's pairs (the oracle runs the exhaustive quadratic
    * form — the shape this operator exists to avoid).
    *
    * The demo corrupts a deterministic twin of the part catalog (drop
    * the 4th label character) so both engines derive the same dirty
    * feed; real deployments feed two genuinely distinct sources
    * ([[crossSourceDups]] is the set-similarity sibling; this is the
    * character-level one typos and OCR noise need).
    *
    * Shape at 100 TB — three deliberate moves on top of the scheme:
    *  1. CANONICALIZE FIRST: the join runs on DISTINCT labels, not rows
    *     (catalogs repeat strings massively; collapsing before the
    *     expansion shrinks every hot chunk key quadratically), and the
    *     id sets re-attach to the surviving label pairs at the end —
    *     two equi-joins against frames the size of the inputs.
    *  2. VERIFY BEFORE DEDUP: candidates flow join → codegen'd
    *     levenshtein → filter map-side; only the (tiny) verified pair
    *     set pays a distinct. Deduplicating candidates first would
    *     shuffle the full candidate stream — the only corpus-scale
    *     exchange the naive plan has, deleted here.
    *  3. Chunks and probes are linear expansions (≤ (2d+1)²(d+1) keys
    *     per probe string) over equi-join keys; a residual hot chunk
    *     (shared boilerplate suffixes) is a skewed key that AQE
    *     skew-split handles — it inflates candidates, never correctness.
    */
  def fuzzyJoin(part: DataFrame, dmax: Int = 2): DataFrame = {
    require(dmax >= 1, "dmax must be at least 1")
    val nChunks = dmax + 1
    val labeled = part.select(col("p_partkey").cast("long").as("id"),
      concat(col("p_name"), lit(" "), col("p_brand"), lit(" "),
        col("p_type")).as("lab"))
    val clean = labeled
      .select(col("id").as("clean_id"), col("lab").as("clean_label"))
    val dirty = labeled.filter(col("id") % 2 === 0)
      .select(col("id").as("dirty_id"),
        concat(substring(col("lab"), 1, 3), expr("substr(lab, 5)"))
          .as("dirty_label"))
    val chunks = clean.select(col("clean_label")).distinct()
      .withColumn("l", length(col("clean_label")))
      .filter(col("l") >= nChunks)
      .withColumn("slot", explode(sequence(lit(0), lit(nChunks - 1))))
      .withColumn("cs", expr(s"slot * l div $nChunks + 1"))
      .withColumn("clen",
        expr(s"(slot + 1) * l div $nChunks - slot * l div $nChunks"))
      .withColumn("chunk", expr("substr(clean_label, cs, clen)"))
      .select(col("clean_label"), col("l"), col("slot"), col("chunk"))
    val probes = dirty.select(col("dirty_label")).distinct()
      .withColumn("m", length(col("dirty_label")))
      .withColumn("l", explode(sequence(col("m") - dmax, col("m") + dmax)))
      .filter(col("l") >= nChunks)
      .withColumn("slot", explode(sequence(lit(0), lit(nChunks - 1))))
      .withColumn("cs", expr(s"slot * l div $nChunks + 1"))
      .withColumn("clen",
        expr(s"(slot + 1) * l div $nChunks - slot * l div $nChunks"))
      .withColumn("p", explode(sequence(col("cs") - dmax, col("cs") + dmax)))
      .filter(col("p") >= 1 && col("p") <= col("m") - col("clen") + 1)
      .withColumn("chunk", expr("substr(dirty_label, p, clen)"))
      .select(col("dirty_label"), col("l"), col("slot"), col("chunk"))
    // verify MAP-SIDE, straight off the candidate join: the BANDED
    // threshold levenshtein — O(d·n) with early exit instead of the
    // full O(n²) table, exact for every distance ≤ dmax (above it
    // returns -1, which the filter drops) — runs before anything is
    // exchanged, so the only post-join shuffle is the distinct over the
    // (small) VERIFIED pair set. A hot chunk key skews the join itself,
    // which is AQE skew-split territory; an explicit pre-verify
    // repartition (shipped through round 9) re-shuffled the full
    // candidate stream for a ~7% slowdown at sf0.1.
    // PIN the candidate join's parallelism at the session's configured
    // shuffle partitions (guide §2.5): the join INPUT is label-space
    // bytes (small) but the join OUTPUT × levenshtein verify is the
    // dominant compute, so AQE's byte-based coalescing under-parallelizes
    // it — profiling measured the whole verify as ONE 7.1 s task at
    // sf0.1/local[32]. An explicit-N repartition on the join keys is not
    // coalescable, both sides share the one exchange pair, and the number
    // is the session conf the static planner would have used — no new
    // constant, no extra exchange.
    val np = part.sparkSession.sessionState.conf.numShufflePartitions
    val labelPairs = probes.repartition(np, col("l"), col("slot"), col("chunk"))
      .join(chunks.repartition(np, col("l"), col("slot"), col("chunk")),
        Seq("l", "slot", "chunk"))
      .select(col("dirty_label"), col("clean_label"))
      .withColumn("dist",
        levenshtein(col("dirty_label"), col("clean_label"), dmax)
          .cast("long"))
      .filter(col("dist") >= 0L && col("dist") <= dmax)
      .distinct()
    labelPairs
      .join(dirty, Seq("dirty_label"))
      .join(clean, Seq("clean_label"))
      .select(col("dirty_id"), col("clean_id"), col("dist"))
      .orderBy(col("dirty_id"), col("clean_id"))
  }

  /** DuckDB oracle for [[fuzzyJoin]] — the exhaustive quadratic
    * levenshtein join the pigeonhole blocking provably equals.
    */
  def fuzzyJoinOracleSql(dmax: Int = 2): String =
    s"""WITH clean AS (
       |  SELECT p_partkey::BIGINT AS clean_id,
       |    p_name || ' ' || p_brand || ' ' || p_type AS clean_label
       |  FROM part),
       |dirty AS (
       |  SELECT p_partkey::BIGINT AS dirty_id,
       |    concat(substr(p_name || ' ' || p_brand || ' ' || p_type, 1, 3),
       |      substr(p_name || ' ' || p_brand || ' ' || p_type, 5))
       |      AS dirty_label
       |  FROM part WHERE p_partkey % 2 = 0)
       |SELECT d.dirty_id, c.clean_id,
       |  levenshtein(d.dirty_label, c.clean_label)::BIGINT AS dist
       |FROM dirty d CROSS JOIN clean c
       |WHERE levenshtein(d.dirty_label, c.clean_label) <= $dmax
       |ORDER BY dirty_id, clean_id""".stripMargin

  /** SORTED-NEIGHBORHOOD dedup blocking (Hernández & Stolfo, SIGMOD'95)
    * — the third blocking discipline next to the pigeonhole chunks of
    * [[fuzzyJoin]] and the LSH bands of [[minHashLsh]]: sort the
    * canonical keys once, slide a window of `w`, and verify only
    * window-adjacent pairs. Same clean ∪ corrupted-twin population as
    * [[fuzzyJoin]] so the two blocking strategies are directly
    * comparable on recall; candidates come from `w` lead() columns
    * (never a self-join), verification is the banded threshold
    * levenshtein. SNM trades the pigeonhole's exactness for ONE sort —
    * a typo in the first character defeats it (the classic SNM caveat,
    * visible here as pairs fuzzyJoin finds and this op misses).
    *
    * Shape at 100 TB: one range-partitioned sort of the KEY dimension
    * (ids + labels only — never payload), a narrow lead() window, and a
    * candidate stream of n·w rows. No quadratic anything.
    */
  def sortedNeighborhood(
      part: DataFrame, window: Int = 3, dmax: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 1, "window must be at least 1")
    val labeled = part.select(col("p_partkey").cast("long").as("id"),
      concat(col("p_name"), lit(" "), col("p_brand"), lit(" "),
        col("p_type")).as("lab"))
    val dirty = labeled.filter(col("id") % 2 === 0)
      .select((col("id") + 1000000L).as("id"),
        concat(substring(col("lab"), 1, 3), expr("substr(lab, 5)"))
          .as("lab"))
    val all = labeled.unionByName(dirty)
    val w = Window.orderBy(col("lab"), col("id"))
    val leadCols = Seq(col("id"), col("lab")) ++ (1 to window).map(i =>
      struct(lead(col("id"), i).over(w).as("nid"),
        lead(col("lab"), i).over(w).as("nlab")).as(s"n$i"))
    val withLeads = all.select(leadCols: _*)
    withLeads
      .select(col("id"), col("lab"),
        explode(array((1 to window).map(i => col(s"n$i")): _*)).as("nb"))
      .filter(col("nb.nid").isNotNull)
      .withColumn("dist",
        levenshtein(col("lab"), col("nb.nlab"), dmax).cast("long"))
      .filter(col("dist") >= 0L && col("dist") <= dmax)
      .select(
        least(col("id"), col("nb.nid")).as("id_a"),
        greatest(col("id"), col("nb.nid")).as("id_b"),
        col("dist"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of [[sortedNeighborhood]] — same sorted window, plain
    * levenshtein (agrees with the banded form for kept pairs).
    */
  def sortedNeighborhoodOracleSql(window: Int = 3, dmax: Int = 2): String = {
    val leads = (1 to window).map(i =>
      s"lead(id, $i) OVER w AS nid$i, lead(lab, $i) OVER w AS nlab$i")
      .mkString(",\n       |    ")
    val arms = (1 to window).map(i =>
      s"SELECT id, lab, nid$i AS nid, nlab$i AS nlab FROM leads")
      .mkString("\n       |  UNION ALL ")
    s"""WITH labeled AS (
       |  SELECT p_partkey::BIGINT AS id,
       |    p_name || ' ' || p_brand || ' ' || p_type AS lab
       |  FROM part),
       |dirty AS (
       |  SELECT id + 1000000 AS id,
       |    concat(substr(lab, 1, 3), substr(lab, 5)) AS lab
       |  FROM labeled WHERE id % 2 = 0),
       |al AS (SELECT * FROM labeled UNION ALL SELECT * FROM dirty),
       |leads AS (
       |  SELECT id, lab,
       |    $leads
       |  FROM al WINDOW w AS (ORDER BY lab, id)),
       |cand AS (
       |  $arms),
       |hits AS (
       |  SELECT least(id, nid) AS id_a, greatest(id, nid) AS id_b,
       |    levenshtein(lab, nlab)::BIGINT AS dist
       |  FROM cand WHERE nid IS NOT NULL
       |    AND levenshtein(lab, nlab) <= $dmax)
       |SELECT DISTINCT id_a, id_b, dist FROM hits
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** N-GRAM CONTAINMENT pairs: |A∩B| / |A| per ORDERED document pair —
    * the ASYMMETRIC near-dup measure Jaccard misses. A short document
    * quoted whole inside a long one has low Jaccard (the union is huge)
    * but containment ≈ 1 in the quote direction; CCNet/C4-style
    * curation keeps the long doc and drops the contained one, so the
    * direction matters. Emits both directions of every intersecting
    * unordered pair, thresholded.
    *
    * Shape: shares [[ngramJaccardPairs]]'s skeleton — one shingle
    * explode (persisted, read by sizes and both join sides), a maxDf
    * hot-shingle guard bounding the self-join's per-key fan-out, and a
    * single pair aggregate; the only addition is the second (cheap,
    * pair-frame-sized) projection for the reverse direction.
    * Containment itself is one rounded division of exact counts.
    */
  def containmentPairs(
      docs: DataFrame,
      thresholdE6: Long = 400000L,
      n: Int = 3,
      maxDf: Int = 100): DataFrame = {
    val shAll = Par.widen(docs, col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
      .persist()
    val keep = shAll.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    // pinned like the shAll explode: sizes + both self-join sides read
    // the filtered frame, and the keep-join would otherwise replay per
    // consumer
    val sh = shAll.join(keep, "shingle").persist()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("u"), col("b.doc_id").as("v"))
      .agg(count(lit(1)).as("inter"))
    // direction flip as a row-local explode (the assocRules fix): the
    // unionAll form planned the unpersisted shingle self-join +
    // intersection aggregate twice (r13 profiling: two identical
    // 1.25M-record candidate stages)
    val directed = inter
      .select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("d"),
        col("inter"))
      .select(col("d.src").as("src"), col("d.dst").as("dst"), col("inter"))
    directed
      .join(sizes.select(col("doc_id").as("src"), col("sz").as("src_sz")),
        "src")
      .select(col("src"), col("dst"), col("inter"), col("src_sz"),
        expr("CAST(round(CAST(inter AS DOUBLE) / CAST(src_sz AS DOUBLE) " +
          "* 1000000) AS BIGINT)").as("containment_e6"))
      .filter(col("containment_e6") >= thresholdE6)
      .orderBy(col("src"), col("dst"))
  }

  /** The DuckDB row form of [[shingles]] over the documents table:
    * distinct word 3-grams, one row per (doc_id, shingle) — the same
    * projection every shingle-based oracle in this file writes inline.
    */
  private def shingleRowsSql(n: Int): String = {
    require(n == 3, "the oracle SQL literal is written for n = 3")
    """SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)
      |  WHERE len(toks) >= 3""".stripMargin
  }

  /** DuckDB oracle for [[containmentPairs]] — identical shingle rows,
    * maxDf guard, and rounded division.
    */
  def containmentPairsOracleSql(
      thresholdE6: Long = 400000L,
      n: Int = 3,
      maxDf: Int = 100): String =
    s"""WITH sh_all AS (${shingleRowsSql(n)}),
       |keep AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= $maxDf),
       |sh AS (SELECT sh_all.* FROM sh_all JOIN keep USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |directed AS (
       |  SELECT u AS src, v AS dst, inter FROM inter
       |  UNION ALL SELECT v, u, inter FROM inter),
       |scored AS (
       |  SELECT d.src, d.dst, d.inter, s.sz AS src_sz,
       |    CAST(round(CAST(d.inter AS DOUBLE) / CAST(s.sz AS DOUBLE) * 1000000) AS BIGINT) AS containment_e6
       |  FROM directed d JOIN sizes s ON d.src = s.doc_id)
       |SELECT src, dst, inter::BIGINT AS inter, src_sz::BIGINT AS src_sz,
       |  containment_e6
       |FROM scored WHERE containment_e6 >= $thresholdE6
       |ORDER BY src, dst""".stripMargin
}

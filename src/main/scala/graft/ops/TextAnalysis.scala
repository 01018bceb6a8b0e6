package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars). All pure
  * Column algebra — codegen'd, shuffle-free per-document transforms that
  * scale linearly with input splits at 100 TB.
  */
object TextAnalysis {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, s"$sfDir/documents.parquet")

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Per-document stats: token count, distinct-token count, type/token
    * ratio, mean token length — the standard text-quality raw features.
    */
  def docStats(df: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    df.select(
        col("doc_id"),
        col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"))
      .withColumn("type_token_ratio",
        round(col("n_distinct_tokens").cast("double") / col("n_tokens"), 4))
      .orderBy(col("doc_id"))
  }

  /** Corpus rollup per language. */
  def langStats(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("total_tokens"),
        round(avg(length(col("text"))), 4).as("avg_chars"))
      .orderBy(col("lang"))

  /** BPE-ish token counting: split on letter-runs / digit-runs / single
    * non-space symbols — a deterministic stand-in for a subword tokenizer
    * (the regex mirrors the common GPT-2-style pre-tokenizer classes).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .cast("long")

  def tokenCounts(df: DataFrame): DataFrame =
    df.select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        bpeishTokenCount(col("text")).as("bpeish_tokens"))
      .orderBy(col("doc_id"))

  /** NEGATIVE-SAMPLING TABLE (word2vec discipline): per-token sampling
    * weight count^{3/4} — the unigram-distribution flattening Mikolov et
    * al. (NeurIPS 2013) use so frequent tokens don't dominate negative
    * draws; every contrastive-training pipeline materializes exactly
    * this table before sampling. Emits the `topK` most frequent tokens
    * with raw count, the e6-quantized weight, and the normalized
    * sampling probability p_e9 (weight over the FULL vocabulary's
    * weight total, not just the emitted rows).
    *
    * Exactness: pow(count, 0.75) is the same literal double expression
    * in both engines, e6-quantized per term BEFORE any sum (the
    * [[graft.ops.Dedup.lshTuningSweep]] pow discipline); the normalizer
    * is then an exact integer sum and p_e9 one integer division. Ties
    * in the top-k cut break on (count desc, token asc) — total order.
    *
    * Shape: one explode + token-dimension aggregate (the [[tokenCounts]]
    * scan), a 1-row weight-total broadcast, TakeOrderedAndProject top-k.
    */
  def negativeSamplingTable(docs: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 1)
    val counts = docs
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("w_e6",
        expr("CAST(round(pow(CAST(cnt AS DOUBLE), 0.75) * 1000000) AS BIGINT)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.agg(sum(col("w_e6")).as("sw"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("cnt"), col("w_e6"),
        // decimal numerator: w_e6 ~ 1e10 at corpus scale, ×1e9 would
        // wrap a Long (the DuckDB side is HUGEINT for the same reason)
        expr("cast(w_e6 as decimal(38,0)) * 1000000000 div sw")
          .cast("long").as("p_e9"))
      .orderBy(desc("cnt"), col("token"))
      .limit(topK)
  }

  /** DuckDB twin of [[negativeSamplingTable]] — identical pow literal,
    * per-term quantization, and top-k tie-break.
    */
  def negativeSamplingTableOracleSql(topK: Int = 50): String =
    s"""WITH tok AS (
       |  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
       |  FROM documents),
       |counts AS (
       |  SELECT token, count(*)::BIGINT AS cnt,
       |    CAST(round(pow(count(*)::DOUBLE, 0.75) * 1000000) AS BIGINT)
       |      AS w_e6
       |  FROM tok WHERE token <> '' GROUP BY 1),
       |tot AS (SELECT sum(w_e6)::BIGINT AS sw FROM counts)
       |SELECT token, cnt, w_e6,
       |  (w_e6::HUGEINT * 1000000000 // sw)::BIGINT AS p_e9
       |FROM counts CROSS JOIN tot
       |ORDER BY cnt DESC, token LIMIT $topK""".stripMargin

  /** Language-ID marker words. Tiny per-language stopword lists: the
    * n-gram/stopword-hit heuristic standard for coarse lang-ID. Scoring is
    * CASE-sum algebra so the same formula is expressible in ANSI SQL for
    * the oracle.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "de", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Count of marker-token occurrences over a token array (row-local,
    * SQL twin: len(list_filter(toks, t -> t IN (...)))).
    */
  private def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers))).cast("long")

  /** Row-local language prediction: appends `predicted_lang` +
    * `marker_hits` to the input (all original columns kept, no shuffle)
    * — the shared core of [[langId]] and [[langConfusion]].
    */
  private def withLangPrediction(df: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = df.withColumn("toks", toks)
    val withScores = langMarkers.foldLeft(scored) { case (d, (code, ms)) =>
      d.withColumn(s"hits_$code", markerHits(col("toks"), ms))
    }
    val best = langMarkers.map { case (code, _) =>
      struct(col(s"hits_$code").as("hits"), lit(code).as("code"))
    }
    // greatest() on (hits, code) structs: max hits, then max code — to make
    // ties deterministic and SQL-expressible we instead pick the FIRST code
    // with the max hits via a chained CASE.
    val maxHits = best.map(_.getField("hits"))
      .reduce((a, b) => when(a >= b, a).otherwise(b))
    val firstArgmax = langMarkers.map { case (code, _) =>
      (col(s"hits_$code"), lit(code))
    }.foldRight(lit("und")) { case ((hits, code), els) =>
      when(hits === maxHits && maxHits > 0, code).otherwise(els)
    }
    withScores
      .withColumn("predicted_lang", firstArgmax)
      .withColumn("marker_hits", maxHits)
  }

  /** Predict language = argmax marker-hit count, ties broken by language
    * code order, all-zero → "und" (undetermined).
    */
  def langId(df: DataFrame): DataFrame =
    withLangPrediction(df)
      .select(col("doc_id"), col("predicted_lang"), col("marker_hits"))
      .orderBy(col("doc_id"))

  /** Label-noise audit: confusion matrix of the DECLARED `lang` column
    * against the marker-based prediction — the check that catches a
    * mislabeled feed before it skews per-language sampling rates. One
    * row-local prediction pass + one (lang, predicted_lang) aggregate;
    * no join, nothing corpus-sized anywhere.
    */
  def langConfusion(df: DataFrame): DataFrame =
    withLangPrediction(df)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))

  /** Character trigrams of the lowercased text (positions 1..len-2).
    * `text` is a plain attribute inside the lambda, so there is no
    * re-evaluation hazard (only computed subexpressions suffer from the
    * no-CSE-across-lambdas behavior).
    */
  def charTrigrams(text: Column): Column = {
    val lc = lower(text)
    when(length(lc) >= 3,
      transform(sequence(lit(1), length(lc) - 2), i => lc.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
  }

  /** Characteristic char-trigram sets per language (with their leading/
    * trailing spaces as word-boundary signals) — the classic n-gram
    * profile heuristic at minimal size.
    */
  val charMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", " th", "he ", "ing", "and"),
    "de" -> Seq("der", "ein", "ich", "sch", "und"),
    "es" -> Seq(" el", "los", "ión", "que", "ado"),
    "fr" -> Seq(" le", "les", "eur", "ait", "oux"))

  /** Language ID via char-trigram profile hits: argmax over languages,
    * first-listed wins ties, all-zero → "und". The word-marker variant
    * ([[langId]]) is the cheaper heuristic; this one also fires on text
    * without clean token boundaries.
    */
  def langIdCharNgram(df: DataFrame): DataFrame = {
    val scored = df.withColumn("tg", charTrigrams(col("text")))
    val withScores = charMarkers.foldLeft(scored) { case (d, (code, ms)) =>
      d.withColumn(s"chits_$code",
        size(filter(col("tg"), t => t.isInCollection(ms))).cast("long"))
    }
    val maxHits = charMarkers.map { case (code, _) => col(s"chits_$code") }
      .reduce((a, b) => when(a >= b, a).otherwise(b))
    val firstArgmax = charMarkers.map { case (code, _) =>
      (col(s"chits_$code"), lit(code))
    }.foldRight(lit("und")) { case ((hits, code), els) =>
      when(hits === maxHits && maxHits > 0, code).otherwise(els)
    }
    withScores
      .select(col("doc_id"), firstArgmax.as("predicted_lang"),
        maxHits.as("trigram_hits"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic quality score in [0,1]: length band + stopword ratio +
    * lexical diversity — the standard cheap pre-filter for training data.
    * Pure arithmetic on exact integer counts → deterministic.
    */
  /** The three row-local quality signals over (text, n_chars) — shared
    * by the per-doc report and the yield curve so neither pays a second
    * tokenizing scan.
    */
  private def qualityScoreSignals: (Column, Column, Column) = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopHits = markerHits(toks, Seq("the", "a", "of", "and", "to", "in"))
      .cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val lenScore = when(col("n_chars").between(100, 450), lit(1.0))
      .when(col("n_chars") < 100, col("n_chars").cast("double") / 100.0)
      .otherwise(lit(450.0) / col("n_chars").cast("double"))
    val stopScore = least(stopHits / nTok * 10.0, lit(1.0))
    (lenScore, stopScore, diversity)
  }

  def qualityScore(df: DataFrame): DataFrame = {
    val (lenScore, stopScore, diversity) = qualityScoreSignals
    df.select(
        col("doc_id"),
        round(lenScore, 4).as("len_score"),
        round(stopScore, 4).as("stopword_score"),
        round(diversity, 4).as("diversity"),
        round((lenScore + stopScore + diversity) / 3.0, 4).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Quality yield curve: what fraction of the corpus's DOCUMENTS and
    * TOKENS survives each quality cutoff — the threshold-picking readout
    * a curation run reads before freezing its [[qualityScore]] gate
    * (cut at 0.8 and keep 12% of tokens, or at 0.6 and keep 55%?).
    * Buckets are e2 floors of the score; the cumulative columns read
    * top-down: a row's cum_* is the corpus surviving a cut at that
    * bucket's score.
    *
    * Shape at 100 TB: per-doc scoring is row-local; ONE aggregate onto
    * the ≤101-row score-bucket dimension; the cumulative window runs
    * only there (single partition of a hundred rows, not a corpus
    * sort — the collapse-then-window discipline).
    */
  def qualityYieldCurve(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (lenScore, stopScore, diversity) = qualityScoreSignals
    val w = Window.orderBy(col("score_e2").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // quality and token mass are functions of the SAME row: one
    // projection, no join of two corpus scans (round-4-then-floor is
    // identical to qualityScore's published score, so the curve buckets
    // exactly what the per-doc report shows)
    df.select(
        floor(round((lenScore + stopScore + diversity) / 3.0, 4) * 100)
          .cast("long").as("score_e2"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("score_e2"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .withColumn("cum_token_share_e4",
        expr("cum_tokens * 10000 div sum(tokens) over ()"))
      .select(col("score_e2"), col("n_docs"), col("tokens"), col("cum_docs"),
        col("cum_tokens"), col("cum_token_share_e4"))
      .orderBy(col("score_e2").desc)
  }

  /** The logistic-classifier feature vector: (1, ln(1+n_tokens),
    * type/token ratio, stopword ratio, mean token chars) — the cheap
    * row-local features a fastText-style quality model consumes. Shared
    * by scoring and training so the two can never skew.
    */
  private def classifierFeatures(df: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    df.select(col("doc_id"), col("text"), toks.as("toks"))
      .select(col("doc_id"),
        lit(1.0).as("x0"),
        log(lit(1.0) + size(col("toks")).cast("double")).as("x1"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("x2"),
        (size(filter(col("toks"), t => t.isInCollection(
          Seq("the", "a", "of", "and", "to", "in")))).cast("double") /
          size(col("toks")).cast("double")).as("x3"),
        (length(col("text")).cast("double") /
          size(col("toks")).cast("double")).as("x4"))
  }

  /** Model-based quality scoring with FROZEN weights — the production
    * shape of a learned quality filter (CCNet / GPT-style "looks like
    * reference text" classifiers): the model is a literal broadcast into
    * the expression tree, scoring is one codegen'd row-local pass, and
    * the score quantizes to e4 BIGINT before any comparison so the
    * oracle agrees exactly. Weights default to [[defaultQualityWeights]]
    * (hand-set to reward length + diversity + stopword naturality);
    * [[trainQualityWeights]] produces refreshed weights from labeled
    * data — frozen here as literals exactly like a deployed model.
    *
    * Shape at 100 TB: zero shuffles before the final order — features,
    * dot product, and sigmoid are all row-local.
    */
  val defaultQualityWeights: Seq[Double] = Seq(-3.0, 0.6, 2.0, 3.0, 0.1)

  def logisticQuality(df: DataFrame,
      weights: Seq[Double] = defaultQualityWeights): DataFrame = {
    require(weights.length == 5, "model has 5 weights (bias + 4 features)")
    classifierFeatures(df)
      .select(col("doc_id"),
        expr(s"CAST(round((1.0 / (1.0 + exp(-(${zSql(weights)})))) * 10000, 0) AS BIGINT)")
          .as("score_e4"))
      .withColumn("keep", (col("score_e4") >= 5000L).cast("boolean"))
      .orderBy(col("doc_id"))
  }

  private def zSql(w: Seq[Double]): String =
    Seq("x0", "x1", "x2", "x3", "x4").zip(w)
      .map { case (c, wi) => s"($c * $wi)" }.mkString(" + ")

  /** Classifier evaluation report — the missing half of the learned-
    * filter loop ([[trainQualityWeights]] → [[logisticQuality]] → THIS):
    * per source, rank-exact ROC-AUC plus precision/recall/accuracy of
    * the frozen model at its 0.5 operating point, against a caller-
    * supplied label (default: `lang = 'en'`, the "looks like reference
    * text" proxy a CCNet-style filter is actually trained for).
    *
    * AUC is the Mann–Whitney rank statistic computed with MIDRANKS, so
    * tied e4 scores contribute the canonical ½ and the number is
    * order-independent: with 2·midrank = min_rnk + max_rnk (integers),
    *   auc_e4 = (Σ_pos(min+max) − n_pos(n_pos+1)) · 10⁴
    *            div (2 · n_pos · n_neg)
    * — every term exact, no float anywhere. Ranks ride per-source window
    * partitions (bounded like every per-group window here); at a corpus
    * where one source dwarfs memory, the sharded prefix-sum of
    * [[Corpus.applyMixtureBudget]] is the drop-in rank substitute.
    */
  /** (doc_id, source, y, score_e4): the frozen logistic quality score
    * next to a binary label — shared by [[classifierEval]] and
    * [[prCurve]] so the two readouts can never disagree on the model.
    */
  private[ops] def scoredDocs(
      df: DataFrame,
      labelCol: Column,
      weights: Seq[Double]): DataFrame = {
    require(weights.length == 5, "model has 5 weights (bias + 4 features)")
    val toks = tokens(col("text"))
    df.select(col("doc_id"), col("source"), labelCol.cast("int").as("y"),
        col("text"), toks.as("toks"))
      .select(col("doc_id"), col("source"), col("y"),
        lit(1.0).as("x0"),
        log(lit(1.0) + size(col("toks")).cast("double")).as("x1"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("x2"),
        (size(filter(col("toks"), t => t.isInCollection(
          Seq("the", "a", "of", "and", "to", "in")))).cast("double") /
          size(col("toks")).cast("double")).as("x3"),
        (length(col("text")).cast("double") /
          size(col("toks")).cast("double")).as("x4"))
      .select(col("doc_id"), col("source"), col("y"),
        expr(s"CAST(round((1.0 / (1.0 + exp(-(${zSql(weights)})))) * 10000, 0) AS BIGINT)")
          .as("score_e4"))
  }

  def classifierEval(
      df: DataFrame,
      labelCol: Column = col("lang") === "en",
      weights: Seq[Double] = defaultQualityWeights): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scoredDocs(df, labelCol, weights)
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("score_e4"), col("doc_id"))
    val wTie = Window.partitionBy(col("source"), col("score_e4"))
    val ranked = scored
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("mid2", min(col("rnk")).over(wTie) + max(col("rnk")).over(wTie))
    ranked.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("n_pos"),
        sum(when(col("y") === 1, col("mid2")).otherwise(0L)).as("s2"),
        sum(when(col("y") === 1 && col("score_e4") >= 5000, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("score_e4") >= 5000, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1 && col("score_e4") < 5000, 1L).otherwise(0L)).as("fn"))
      .select(col("source"), col("n"), col("n_pos"),
        expr("""CASE WHEN n_pos = 0 OR n_pos = n THEN NULL
               |  ELSE (s2 - n_pos * (n_pos + 1)) * 10000
               |       div (2 * n_pos * (n - n_pos)) END""".stripMargin)
          .as("auc_e4"),
        expr("CASE WHEN tp + fp = 0 THEN NULL " +
          "ELSE tp * 10000 div (tp + fp) END").as("precision_e4"),
        expr("CASE WHEN tp + fn = 0 THEN NULL " +
          "ELSE tp * 10000 div (tp + fn) END").as("recall_e4"),
        expr("(n - fp - fn) * 10000 div n").as("accuracy_e4"))
      .orderBy(col("source"))
  }

  /** Precision-recall curve of the frozen quality model over a fixed
    * threshold grid — the tuning readout between [[classifierEval]]'s
    * single 0.5-cut row and [[calibrationCurve]]'s probability check:
    * where to actually SET the filter cutoff for a target precision or
    * recall. F1 is computed as 2·tp ÷ (2·tp + fp + fn) directly from
    * counts, not from the rounded precision/recall, so it stays exact.
    *
    * Shape: scores collapse once onto the ≤10⁴-row e4-score dimension;
    * the threshold sweep is a broadcast grid over that — the corpus is
    * scanned once no matter how many cutpoints.
    */
  def prCurve(
      df: DataFrame,
      labelCol: Column = col("lang") === "en",
      weights: Seq[Double] = defaultQualityWeights,
      thresholds: Seq[Long] = 500L to 9500L by 500L): DataFrame = {
    val cells = scoredDocs(df, labelCol, weights)
      .groupBy(col("score_e4"))
      .agg(sum(col("y")).cast("long").as("pos"), count(lit(1)).as("n"))
    val grid = df.sparkSession
      .createDataFrame(thresholds.map(Tuple1(_))).toDF("t")
    cells.crossJoin(broadcast(grid))
      .groupBy(col("t"))
      .agg(
        sum(when(col("score_e4") >= col("t"), col("pos")).otherwise(0L))
          .as("tp"),
        sum(when(col("score_e4") >= col("t"), col("n") - col("pos"))
          .otherwise(0L)).as("fp"),
        sum(when(col("score_e4") < col("t"), col("pos")).otherwise(0L))
          .as("fn"))
      .withColumn("precision_e4", expr(
        "CASE WHEN tp + fp = 0 THEN NULL ELSE tp * 10000 div (tp + fp) END"))
      .withColumn("recall_e4", expr(
        "CASE WHEN tp + fn = 0 THEN NULL ELSE tp * 10000 div (tp + fn) END"))
      .withColumn("f1_e4", expr(
        "CASE WHEN 2 * tp + fp + fn = 0 THEN NULL " +
          "ELSE 2 * tp * 10000 div (2 * tp + fp + fn) END"))
      .orderBy(col("t"))
  }

  /** Calibration (reliability) curve for the frozen quality model — the
    * companion readout to [[classifierEval]]'s AUC: ranking quality says
    * nothing about whether "score 0.8" MEANS 80%, which is what a
    * pipeline thresholding on the score actually assumes. Scores land in
    * 8 fixed-width e4 bins by INTEGER division (no boundary float ever),
    * each reporting observed positive rate vs mean predicted score —
    * a calibrated model tracks the diagonal.
    *
    * Shape: row-local scoring + one 8-row aggregate; every output column
    * is exact integer arithmetic.
    */
  def calibrationCurve(
      df: DataFrame,
      labelCol: Column = col("lang") === "en",
      weights: Seq[Double] = defaultQualityWeights): DataFrame = {
    require(weights.length == 5, "model has 5 weights (bias + 4 features)")
    val toks = tokens(col("text"))
    df.select(col("doc_id"), labelCol.cast("long").as("y"),
        col("text"), toks.as("toks"))
      .select(col("y"),
        lit(1.0).as("x0"),
        log(lit(1.0) + size(col("toks")).cast("double")).as("x1"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("x2"),
        (size(filter(col("toks"), t => t.isInCollection(
          Seq("the", "a", "of", "and", "to", "in")))).cast("double") /
          size(col("toks")).cast("double")).as("x3"),
        (length(col("text")).cast("double") /
          size(col("toks")).cast("double")).as("x4"))
      .select(col("y"),
        expr(s"CAST(round((1.0 / (1.0 + exp(-(${zSql(weights)})))) * 10000, 0) AS BIGINT)")
          .as("score_e4"))
      .groupBy(expr("least(7L, score_e4 div 1250)").as("bin"))
      .agg(count(lit(1)).as("n"),
        expr("sum(score_e4) div count(1)").as("mean_score_e4"),
        expr("sum(y) * 10000 div count(1)").as("frac_pos_e4"))
      .orderBy(col("bin"))
  }

  /** Distributed logistic-regression training by full-batch gradient
    * descent: each iteration is ONE aggregate over the corpus computing
    * the 5-component gradient Σ (σ(w·x) − y)·x (map-side partial sums,
    * 5 doubles per partition on the wire), the driver applies the step,
    * and the updated weights ride back into the next iteration's
    * expression tree as literals — the same model-is-a-broadcast,
    * data-never-moves loop as [[Similarity.trainCentroids]]. Labels come
    * from a caller-supplied predicate (e.g. "is reference text").
    *
    * Returns the weight vector; callers freeze it into
    * [[logisticQuality]]. Driver state is 5 doubles — nothing
    * corpus-sized ever leaves the executors.
    */
  def trainQualityWeights(df: DataFrame, labelCol: Column,
      iters: Int = 30, lr: Double = 0.5): Seq[Double] = {
    val withY = df.select(col("doc_id"), col("text"),
      labelCol.cast("double").as("y"))
    val feats = classifierFeatures(withY)
      .join(withY.select(col("doc_id"), col("y")), "doc_id")
      .select(col("x0"), col("x1"), col("x2"), col("x3"), col("x4"), col("y"))
      .persist()
    val n = feats.count().toDouble
    var w = Seq(0.0, 0.0, 0.0, 0.0, 0.0)
    var it = 0
    while (it < iters) {
      val z = Seq("x0", "x1", "x2", "x3", "x4").zip(w)
        .map { case (c, wi) => col(c) * lit(wi) }.reduce(_ + _)
      val err = lit(1.0) / (lit(1.0) + exp(-z)) - col("y")
      val g = feats.agg(
        sum(err * col("x0")), sum(err * col("x1")), sum(err * col("x2")),
        sum(err * col("x3")), sum(err * col("x4"))).head()
      w = w.zipWithIndex.map { case (wi, i) => wi - lr * g.getDouble(i) / n }
      it += 1
    }
    feats.unpersist()
    w
  }

  /** Document fingerprint: MD5 over whitespace-normalized lowercase text.
    * Content-addressed identity for exact dedup across shards — hash is
    * engine-independent (oracle: DuckDB md5()).
    */
  def fingerprint(df: DataFrame): DataFrame =
    df.select(
        col("doc_id"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " "))
          .as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Rolling (polynomial) document fingerprint: h ← (h·31 + codepoint)
    * mod 1e9+7 over the text's characters — the Rabin-Karp-style content
    * hash, engine-independent by construction (plain modular arithmetic,
    * reproducible in ANSI-ish SQL via list_reduce). Row-local, one pass.
    */
  /** TF-IDF top-k terms per document — the corpus-weighting operator a
    * training-data pipeline uses for keyword extraction / quality
    * features. Shape at scale: token TF is a (doc, term) aggregate, DF a
    * (term) aggregate, and the weighting join shuffles on the term key —
    * all hash-partitioned, no broadcast of anything corpus-sized (the
    * 1-row doc count is the only broadcast). Ranking happens on the
    * ROUNDED score so tie order (then term asc) is deterministic and
    * engine-independent.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("term"))
    val tf = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), col("term"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** BM25 retrieval over the corpus — the mining step a training
    * pipeline runs to pull topical documents (Robertson idf,
    * `ln((N - df + ½)/(df + ½) + 1)`, k1/b normalization). Scores are
    * emitted as exact e4 integers: each per-term score rounds to 4
    * decimals as `round(x·10⁴)` BIGINT BEFORE the per-doc sum, so the
    * aggregate is integer (order-independent — a raw double sum would
    * drift by addition order across engines and partitionings).
    *
    * Scale shape: the query-term filter lands directly on the exploded
    * token stream, so the tf aggregate sees only matching tokens; doc
    * length is computed row-locally from the token array (no second
    * corpus aggregate); df (≤ |query| rows) and the 1-row (N, avgdl)
    * stats broadcast; final top-k is TakeOrderedAndProject. avgdl stays
    * deterministic because token counts are integer-valued doubles —
    * their sum is exact in any order.
    */
  def bm25Search(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val withDl = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = withDl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val termScore = idf * col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score_e4", round(termScore * 10000.0, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_e4")).as("score_e4"))
      .orderBy(desc("score_e4"), col("doc_id"))
      .limit(k)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the public
    * hashed-n-gram variant): fit bag-of-hashed-unigram models over a
    * TARGET slice (here the lexicographically-first source, a
    * deterministic stand-in for "the high-quality domain") and the full
    * corpus as proposal, then weight every document by
    * `Σ_b cnt_b(doc) · ln(p̂_target(b) / q̂_proposal(b))` with add-1
    * smoothing over the `buckets` hash cells. High weight = the
    * document looks like the target domain; resampling by these weights
    * is the selection step.
    *
    * Buckets come from the replicable PolyHash ([[rollingFingerprint]])
    * mod `buckets`, so the DuckDB oracle replays the identical hash.
    * Per-(doc, bucket) contributions quantize to e4 BIGINT BEFORE the
    * per-doc sum (order-independent integer aggregation, the
    * [[bm25Search]] pattern).
    *
    * Shape at 100 TB: ONE corpus-scale explode reduced immediately to
    * per-(doc, source, bucket) counts (map-side combinable), which is
    * localCheckpointed and feeds everything else: the two bucket models
    * are `buckets`-sized aggregates of it, the totals are 1-row, and the
    * scoring join is against a broadcast `buckets`-row model. No second
    * corpus pass, no corpus-scale shuffle beyond the one aggregate.
    */
  def dsirWeights(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    require(buckets > 0)
    val docBucket = docs
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .withColumn("b", pmod(rollingFingerprint(col("word")), lit(buckets.toLong)))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val tgt = docs.agg(min(col("source")).as("tgt_source"))
    val inTarget = docBucket.crossJoin(broadcast(tgt))
      .filter(col("source") === col("tgt_source"))
    val qCounts = docBucket.groupBy(col("b")).agg(sum(col("cnt")).as("qc"))
    val tCounts = inTarget.groupBy(col("b")).agg(sum(col("cnt")).as("tc"))
    val totals = docBucket.agg(sum(col("cnt")).as("q_total"))
      .crossJoin(inTarget.agg(sum(col("cnt")).as("t_total")))
    val model = qCounts
      .join(tCounts, Seq("b"), "left")
      .na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(totals))
      .select(col("b"), log(
        ((col("tc") + 1L) * (col("q_total") + buckets.toLong)).cast("double") /
          ((col("qc") + 1L) * (col("t_total") + buckets.toLong)).cast("double"))
        .as("w"))
    docBucket
      .join(broadcast(model), "b")
      .withColumn("score_e4", round(col("cnt") * col("w") * 10000.0, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"), sum(col("score_e4")).as("dsir_e4"))
      .orderBy(col("doc_id"))
  }

  /** Cohen's κ between the two shipped quality filters — the heuristic
    * gate ([[qualityScore]] ≥ 0.6) and the logistic model
    * ([[logisticQuality]] keep). Raw agreement flatters any pair of
    * filters that mostly say "keep"; κ subtracts the agreement their
    * marginals would produce by chance, which is the number that tells
    * you whether running BOTH filters adds information or redundancy.
    * All four confusion cells and both κ terms are exact integers; the
    * single division goes through FLOOR of a double quotient (κ can be
    * negative, and Spark's `div` truncates while DuckDB's `//` floors —
    * the [[graft.ops.Analytics.theilSen]] alignment; exactness holds
    * because numerator·10⁴ < 2⁵³ and a non-integer quotient sits ≥ 1/den
    * from any integer, far beyond one ulp).
    *
    * Shape: both labels are row-local projections joined on doc_id and
    * collapsed to one confusion row; a production run would fuse them
    * into one scan — the join is doc_id-equi and spark collapses the
    * common scan under exchange reuse.
    */
  def cohenKappa(docs: DataFrame, cutE4: Long = 6000L): DataFrame = {
    val a = qualityScore(docs).select(col("doc_id"),
      (expr("CAST(round(quality * 10000, 0) AS BIGINT)") >= cutE4).as("la"))
    val b = logisticQuality(docs).select(col("doc_id"), col("keep").as("lb"))
    val pe = "((n_kk + n_kd) * (n_kk + n_dk) + (n_dk + n_dd) * (n_kd + n_dd))"
    a.join(b, "doc_id")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("la") && col("lb"), 1L).otherwise(0L)).as("n_kk"),
        sum(when(col("la") && !col("lb"), 1L).otherwise(0L)).as("n_kd"),
        sum(when(!col("la") && col("lb"), 1L).otherwise(0L)).as("n_dk"),
        sum(when(!col("la") && !col("lb"), 1L).otherwise(0L)).as("n_dd"))
      .withColumn("agree_e4",
        expr("CASE WHEN n > 0 THEN (n_kk + n_dd) * 10000 div n END"))
      .withColumn("kappa_e4", expr(
        s"""CASE WHEN n > 0 AND n * n - $pe <> 0 THEN
           |  CAST(FLOOR((n * (n_kk + n_dd) - $pe) * 10000.0
           |    / (n * n - $pe)) AS BIGINT)
           |END""".stripMargin))
  }

  /** McNEMAR'S TEST on the same paired labelers as [[cohenKappa]] — the
    * question κ does not answer: not "do the two filters agree" but "is
    * one filter systematically more permissive than the other on the
    * SAME documents" (Dietterich 1998's recommended paired-classifier
    * test). Only the discordant cells matter: b = heuristic-keep /
    * model-drop, c = heuristic-drop / model-keep; under H₀ they split
    * 50/50 and χ² = (b−c)²/(b+c) ~ χ²(1). Everything is exact integers
    * — (b−c)²·10⁴ div (b+c) needs no float at all (no continuity
    * correction, so the two engines share one integer formula).
    *
    * Shape: identical to [[cohenKappa]] — two row-local label
    * projections, one doc-keyed join, a 1-row aggregate.
    */
  def mcnemar(docs: DataFrame, cutE4: Long = 6000L): DataFrame = {
    val a = qualityScore(docs).select(col("doc_id"),
      (expr("CAST(round(quality * 10000, 0) AS BIGINT)") >= cutE4).as("la"))
    val b = logisticQuality(docs).select(col("doc_id"), col("keep").as("lb"))
    a.join(b, "doc_id")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("la") && !col("lb"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("la") && col("lb"), 1L).otherwise(0L)).as("n_c"))
      .select(col("n"), col("n_b"), col("n_c"),
        expr("""CASE WHEN n_b + n_c > 0 THEN
               |  (n_b - n_c) * (n_b - n_c) * 10000 div (n_b + n_c)
               |END""".stripMargin).as("chi2_e4"))
  }

  /** DuckDB oracle for [[mcnemar]] — the [[cohenKappaOracleSql]] labeler
    * CTEs with the discordant-cell χ².
    */
  def mcnemarOracleSql(cutE4: Long = 6000L): String = {
    val labelers = cohenKappaLabelerCtes(cutE4)
    s"""$labelers,
       |c AS (SELECT count(*)::BIGINT AS n,
       |        sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END)::BIGINT AS n_b,
       |        sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END)::BIGINT AS n_c
       |      FROM qa JOIN qb USING (doc_id))
       |SELECT n, n_b, n_c,
       |  (CASE WHEN n_b + n_c > 0 THEN
       |    (n_b - n_c) * (n_b - n_c) * 10000 // (n_b + n_c)
       |  END)::BIGINT AS chi2_e4
       |FROM c""".stripMargin
  }

  /** DuckDB oracle for [[cohenKappa]] — both labelers' SQL joined, same
    * FLOOR semantics.
    */
  /** The shared labeler CTE prefix (`t`/`qa`/`qb`) of
    * [[cohenKappaOracleSql]] and [[mcnemarOracleSql]] — one definition
    * so the two paired tests cannot drift on what "the two filters"
    * mean.
    */
  private def cohenKappaLabelerCtes(cutE4: Long): String =
    s"""WITH t AS (SELECT doc_id, text, n_chars,
       |             regexp_split_to_array(lower(text), '\\s+') AS toks
       |           FROM documents),
       |qa AS (
       |  SELECT doc_id,
       |    round(round((CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0
       |           WHEN n_chars < 100 THEN n_chars / 100.0
       |           ELSE 450.0 / n_chars END
       |      + least(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) * 10.0, 1.0)
       |      + len(list_distinct(toks))::DOUBLE / len(toks)) / 3.0, 4)
       |      * 10000, 0)::BIGINT >= $cutE4 AS la
       |  FROM t),
       |qb AS (
       |  SELECT doc_id,
       |    round((1.0 / (1.0 + exp(-((1.0 * -3.0)
       |      + (ln(1.0 + len(toks)::DOUBLE) * 0.6)
       |      + (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE * 2.0)
       |      + (len(list_filter(toks, x -> x IN ('the','a','of','and','to','in')))::DOUBLE / len(toks)::DOUBLE * 3.0)
       |      + (length(text)::DOUBLE / len(toks)::DOUBLE * 0.1)))))
       |      * 10000, 0)::BIGINT >= 5000 AS lb
       |  FROM t)""".stripMargin

  def cohenKappaOracleSql(cutE4: Long = 6000L): String = {
    val pe = "((n_kk + n_kd) * (n_kk + n_dk) + (n_dk + n_dd) * (n_kd + n_dd))"
    s"""${cohenKappaLabelerCtes(cutE4)},
       |c AS (SELECT count(*)::BIGINT AS n,
       |        sum(CASE WHEN la AND lb THEN 1 ELSE 0 END)::BIGINT AS n_kk,
       |        sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END)::BIGINT AS n_kd,
       |        sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END)::BIGINT AS n_dk,
       |        sum(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END)::BIGINT AS n_dd
       |      FROM qa JOIN qb USING (doc_id))
       |SELECT n, n_kk, n_kd, n_dk, n_dd,
       |  (CASE WHEN n > 0 THEN (n_kk + n_dd) * 10000 // n END)::BIGINT
       |    AS agree_e4,
       |  (CASE WHEN n > 0 AND n * n - $pe <> 0 THEN
       |    CAST(FLOOR((n * (n_kk + n_dd) - $pe) * 10000.0 / (n * n - $pe))
       |      AS BIGINT)
       |  END) AS kappa_e4
       |FROM c""".stripMargin
  }

  /** KRIPPENDORFF'S ALPHA (nominal) across three deterministic
    * annotators — the multi-rater agreement statistic [[cohenKappa]]
    * cannot provide (κ is pairwise; labeling campaigns run 3+ raters
    * and report α, Krippendorff 2004). The three raters are the
    * deterministic heuristics a curation pipeline actually disagrees
    * over: a length band (n_chars), a vocabulary-diversity band
    * (distinct/total tokens), and a stopword-density band — each
    * mapping every document to a nominal class {0, 1, 2}.
    *
    * Exactness: every rating is integer-banded (integer `div`, no
    * float); with a CONSTANT m = 3 raters per unit the per-unit
    * coincidence divisor (m−1) = 2 is uniform, so the doubled
    * coincidence matrix o2_ck = Σ_u (n_uc·n_uk − δ_ck·n_uc) is exact
    * BIGINT, and with n_c the category marginals, n = Σ n_c:
    *   α = 1 − (n−1)·D_o2 / (2·(n² − Σ n_c²))
    * — one positive integer floor division, digit-exact in both
    * engines. The (n−1)·D_o2·10⁶ numerator and the n² / Σ n_c² terms
    * exceed 2⁶³ around ~700k documents, so they widen to
    * DECIMAL(38,0) on the Spark side and HUGEINT in the oracle (the
    * spearman/negativeSamplingTable discipline) — `div` semantics are
    * unchanged (all terms positive). Documents with no tokens are
    * excluded from ALL raters symmetrically (keeps m constant).
    *
    * Shape at 100 TB: ratings are three row-local projections of one
    * scan; n_uc is a (doc, category) aggregate; the coincidence matrix
    * is a per-doc self-join on ≤ 3 rows per doc collapsing to ≤ 9
    * cells; everything after is category-dimension arithmetic.
    */
  def krippendorffAlpha(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        expr("CASE WHEN n_chars < 200 THEN 0L WHEN n_chars < 400 THEN 1L " +
          "ELSE 2L END").as("cat_len"),
        expr("least(2L, size(array_distinct(toks)) * 3L div size(toks))")
          .as("cat_vocab"),
        expr("least(2L, size(filter(toks, x -> x IN " +
          "('the','a','of','and','to','in'))) * 10L div size(toks))")
          .as("cat_stop"))
    val ratings = base.select(col("doc_id"), col("cat_len").as("cat"))
      .unionAll(base.select(col("doc_id"), col("cat_vocab").as("cat")))
      .unionAll(base.select(col("doc_id"), col("cat_stop").as("cat")))
    val nuc = ratings.groupBy(col("doc_id"), col("cat"))
      .agg(count(lit(1)).as("cnt"))
    val coin = nuc.as("a")
      .join(nuc.as("b"), "doc_id")
      .groupBy(col("a.cat").as("c"), col("b.cat").as("k"))
      .agg(sum(col("a.cnt") * col("b.cnt") -
        when(col("a.cat") === col("b.cat"), col("a.cnt")).otherwise(0L))
        .as("o2"))
    val do2 = coin.filter(col("c") =!= col("k"))
      .agg(coalesce(sum(col("o2")), lit(0L)).as("d_o_x2"))
    val marg = ratings.groupBy(col("cat")).agg(count(lit(1)).as("nc"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("nc")).as("n_ratings"),
        sum(expr("CAST(nc AS DECIMAL(38,0)) * nc")).as("sum_nc_sq"))
    marg.crossJoin(broadcast(do2))
      .select(
        (col("n_ratings") / 3L).cast("long").as("n_units"),
        col("n_ratings"), col("n_categories"), col("d_o_x2"),
        expr("""CASE WHEN CAST(n_ratings AS DECIMAL(38,0)) * n_ratings
               |    - sum_nc_sq = 0 THEN NULL
               |  ELSE 1000000L - CAST(n_ratings - 1 AS DECIMAL(38,0))
               |    * d_o_x2 * 1000000
               |    div (2L * (CAST(n_ratings AS DECIMAL(38,0)) * n_ratings
               |      - sum_nc_sq))
               |END""".stripMargin).as("alpha_e6"))
  }

  /** DuckDB oracle for [[krippendorffAlpha]] — the identical three
    * banded raters, doubled coincidence matrix, and integer α.
    */
  def krippendorffAlphaOracleSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
      |      ELSE 2 END::BIGINT AS cat_len,
      |    least(2, len(list_distinct(toks)) * 3 // len(toks))::BIGINT
      |      AS cat_vocab,
      |    least(2, len(list_filter(toks, x -> x IN
      |      ('the','a','of','and','to','in'))) * 10 // len(toks))::BIGINT
      |      AS cat_stop
      |  FROM (SELECT doc_id, n_chars,
      |          regexp_split_to_array(lower(text), '\s+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 1),
      |ratings AS (
      |  SELECT doc_id, cat_len AS cat FROM base
      |  UNION ALL SELECT doc_id, cat_vocab FROM base
      |  UNION ALL SELECT doc_id, cat_stop FROM base),
      |nuc AS (SELECT doc_id, cat, count(*)::BIGINT AS cnt
      |        FROM ratings GROUP BY 1, 2),
      |coin AS (
      |  SELECT a.cat AS c, b.cat AS k,
      |    sum(a.cnt * b.cnt
      |      - CASE WHEN a.cat = b.cat THEN a.cnt ELSE 0 END)::BIGINT AS o2
      |  FROM nuc a JOIN nuc b USING (doc_id) GROUP BY 1, 2),
      |do2 AS (SELECT coalesce(sum(o2), 0)::BIGINT AS d_o_x2
      |        FROM coin WHERE c <> k),
      |marg AS (
      |  SELECT count(*)::BIGINT AS n_categories,
      |    sum(nc)::BIGINT AS n_ratings,
      |    sum(nc::HUGEINT * nc)::HUGEINT AS sum_nc_sq
      |  FROM (SELECT cat, count(*)::BIGINT AS nc FROM ratings GROUP BY 1))
      |SELECT (n_ratings // 3)::BIGINT AS n_units, n_ratings, n_categories,
      |  d_o_x2,
      |  (CASE WHEN n_ratings::HUGEINT * n_ratings - sum_nc_sq = 0 THEN NULL
      |    ELSE 1000000 - (n_ratings - 1)::HUGEINT * d_o_x2 * 1000000
      |      // (2 * (n_ratings::HUGEINT * n_ratings - sum_nc_sq))
      |  END)::BIGINT AS alpha_e6
      |FROM marg CROSS JOIN do2""".stripMargin

  /** 10⁹/log₂(i+1) for ranks 1..k — the DCG discounts as exact integer
    * constants computed once and embedded in both engines (the
    * [[graft.ops.Relational.poissonBootstrapSE]] constant discipline).
    */
  private def ndcgDiscE9(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1e9 * math.log(2.0) / math.log(i + 1.0)))

  /** nDCG@k of the BM25 ranking — the retrieval-quality eval that closes
    * the search loop ([[bm25Search]] ranks; this grades the ranking).
    * Relevance is the graded count of distinct query terms a document
    * contains (0..|terms|) — a deterministic stand-in for editorial
    * judgments; the ideal ordering is relevance-descending. DCG sums
    * rel·disc with e9 integer discounts, so DCG, IDCG and the final e4
    * ratio are exact integers.
    *
    * Shape: the BM25 ranking is the existing top-k pipeline; relevance
    * is one term-filtered collapse; both DCG sums are k-row broadcast
    * joins. Nothing beyond the BM25 scan touches the corpus.
    */
  def ndcgEval(
      docs: DataFrame,
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val disc = spark.createDataFrame(
      ndcgDiscE9(k).zipWithIndex.map { case (d, i) => (i + 1L, d) })
      .toDF("pos", "disc_e9")
    val rel = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("rel"))
    val ranked = bm25Search(docs, queryTerms, k)
      .withColumn("pos", row_number().over(
        Window.orderBy(desc("score_e4"), col("doc_id"))).cast("long"))
    val dcg = ranked
      .join(rel, Seq("doc_id"), "left").na.fill(0L, Seq("rel"))
      .join(broadcast(disc), "pos")
      .agg(coalesce(sum(col("rel") * col("disc_e9")), lit(0L)).as("dcg_e9"))
    val idcg = rel
      .withColumn("pos", row_number().over(
        Window.orderBy(desc("rel"), col("doc_id"))).cast("long"))
      .filter(col("pos") <= k)
      .join(broadcast(disc), "pos")
      .agg(coalesce(sum(col("rel") * col("disc_e9")), lit(0L)).as("idcg_e9"))
    dcg.crossJoin(idcg)
      .select(lit(k.toLong).as("k"), col("dcg_e9"), col("idcg_e9"),
        expr("CASE WHEN idcg_e9 > 0 THEN dcg_e9 * 10000 div idcg_e9 END")
          .as("ndcg_e4"))
  }

  /** DuckDB oracle for [[ndcgEval]] — the q_bm25_search pipeline plus
    * the same embedded discount constants.
    */
  def ndcgEvalOracleSql(
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      k: Int = 10): String = {
    val termList = queryTerms.map(t => s"'$t'").mkString(", ")
    val discRows = ndcgDiscE9(k).zipWithIndex
      .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
       |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl, toks FROM t),
       |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
       |tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |       WHERE term IN ($termList) GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |sc AS (SELECT doc_id,
       |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
       |               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) * 10000.0, 0)::BIGINT AS score_e4
       |       FROM tf JOIN df USING (term) CROSS JOIN s),
       |top AS (SELECT doc_id, sum(score_e4)::BIGINT AS score_e4
       |        FROM sc GROUP BY doc_id
       |        ORDER BY score_e4 DESC, doc_id LIMIT $k),
       |ranked AS (SELECT doc_id,
       |             row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS pos
       |           FROM top),
       |rel AS (SELECT doc_id, count(DISTINCT term)::BIGINT AS rel
       |        FROM (SELECT doc_id, unnest(toks) AS term FROM t)
       |        WHERE term IN ($termList) GROUP BY doc_id),
       |disc AS (SELECT * FROM (VALUES $discRows) x(pos, disc_e9)),
       |dcg AS (SELECT coalesce(sum(coalesce(rel, 0) * disc_e9), 0)::BIGINT
       |          AS dcg_e9
       |        FROM ranked LEFT JOIN rel USING (doc_id)
       |        JOIN disc USING (pos)),
       |ideal AS (SELECT doc_id, rel,
       |            row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
       |          FROM rel),
       |idcg AS (SELECT coalesce(sum(rel * disc_e9), 0)::BIGINT AS idcg_e9
       |         FROM ideal JOIN disc USING (pos) WHERE ideal.pos <= $k)
       |SELECT $k::BIGINT AS k, dcg_e9, idcg_e9,
       |  (CASE WHEN idcg_e9 > 0 THEN dcg_e9 * 10000 // idcg_e9 END)::BIGINT
       |    AS ndcg_e4
       |FROM dcg CROSS JOIN idcg""".stripMargin
  }

  /** MRR / MAP@k RETRIEVAL EVAL — the rank-sensitive complements of
    * [[ndcgEval]]: reciprocal rank grades WHERE the first hit lands,
    * average precision grades the whole precision profile. One row per
    * query term: the query is the term's own BM25 ranking, a document
    * is RELEVANT when it mentions the term at least twice (the stricter
    * criterion keeps precision non-degenerate — every retrieved doc
    * trivially contains the term once). Exact integers throughout:
    * RR = 10⁶ div first_rel_rank, P@i = hits_i·10⁶ div i summed at
    * relevant positions, AP = that sum div min(R, k).
    *
    * Shape at 100 TB: the scan collapses to the query-term slice of the
    * postings (|terms| · matching docs); the per-term rank window runs
    * on that slice, never the corpus. Corpus-wide relevant counts ride
    * the same collapsed frame.
    */
  def retrievalEval(
      docs: DataFrame,
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty, "retrieval eval needs at least one term")
    val withDl = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = withDl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val termScore = idf * col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score_e4", round(termScore * 10000.0, 0).cast("long"))
      .withColumn("rel", when(col("tf") >= 2.0, 1L).otherwise(0L))
    val relTotals = scored.groupBy(col("term")).agg(sum(col("rel")).as("n_rel"))
    val ranked = scored
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(desc("score_e4"), col("doc_id"))).cast("long"))
      .filter(col("pos") <= k)
      .withColumn("hits", sum(col("rel")).over(
        Window.partitionBy(col("term")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.groupBy(col("term"))
      .agg(
        min(when(col("rel") === 1L, col("pos"))).as("first_rel_rank"),
        sum(col("rel")).as("hits_at_k"),
        sum(when(col("rel") === 1L, expr("hits * 1000000 div pos"))
          .otherwise(0L)).as("ap_num_e6"))
      .join(broadcast(relTotals), "term")
      .select(col("term"), col("n_rel"), col("first_rel_rank"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("rr_e6"),
        col("hits_at_k"),
        coalesce(expr(s"ap_num_e6 div nullif(least(n_rel, $k), 0)"), lit(0L))
          .as("ap_e6"))
      .orderBy(col("term"))
  }

  /** DuckDB twin of [[retrievalEval]] — the q_bm25_search per-term score
    * CTE plus the same integer RR/AP arithmetic.
    */
  def retrievalEvalOracleSql(
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      k: Int = 10): String = {
    val termList = queryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+')
       |             AS toks FROM documents),
       |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl, toks FROM t),
       |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
       |tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |       WHERE term IN ($termList) GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |sc AS (SELECT doc_id, term,
       |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf
       |           * (1.2 + 1.0) / (tf + 1.2 * ((1.0 - 0.75)
       |           + 0.75 * dl / avgdl)) * 10000.0, 0)::BIGINT AS score_e4,
       |         (CASE WHEN tf >= 2.0 THEN 1 ELSE 0 END)::BIGINT AS rel
       |       FROM tf JOIN df USING (term) CROSS JOIN s),
       |rt AS (SELECT term, sum(rel)::BIGINT AS n_rel FROM sc GROUP BY term),
       |ranked AS (
       |  SELECT term, rel,
       |    row_number() OVER (PARTITION BY term
       |      ORDER BY score_e4 DESC, doc_id)::BIGINT AS pos
       |  FROM sc),
       |topk AS (
       |  SELECT term, rel, pos,
       |    sum(rel) OVER (PARTITION BY term ORDER BY pos)::BIGINT AS hits
       |  FROM ranked WHERE pos <= $k),
       |ag AS (
       |  SELECT term,
       |    min(CASE WHEN rel = 1 THEN pos END)::BIGINT AS first_rel_rank,
       |    sum(rel)::BIGINT AS hits_at_k,
       |    sum(CASE WHEN rel = 1 THEN hits * 1000000 // pos ELSE 0 END)
       |      ::BIGINT AS ap_num_e6
       |  FROM topk GROUP BY term)
       |SELECT ag.term, rt.n_rel, ag.first_rel_rank,
       |  coalesce(1000000 // ag.first_rel_rank, 0)::BIGINT AS rr_e6,
       |  ag.hits_at_k,
       |  coalesce(ag.ap_num_e6 // nullif(least(rt.n_rel, $k), 0), 0)::BIGINT
       |    AS ap_e6
       |FROM ag JOIN rt USING (term) ORDER BY ag.term""".stripMargin
  }

  /** EXPECTED CALIBRATION ERROR — the scalar that summarizes the
    * [[calibrationCurve]] the way AUC summarizes the ROC: the
    * bin-size-weighted mean |observed − predicted| gap, plus the worst
    * single-bin gap (the MCE). The number a model gate thresholds on
    * when "is score 0.8 really 80%?" must be answered automatically.
    * Pure integer arithmetic over the 8-bin curve frame.
    */
  def expectedCalibrationError(
      df: DataFrame,
      labelCol: Column = col("lang") === "en",
      weights: Seq[Double] = defaultQualityWeights): DataFrame =
    calibrationCurve(df, labelCol, weights)
      .groupBy(lit(1).as("_g"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("n")).as("n_total"),
        expr("sum(n * abs(frac_pos_e4 - mean_score_e4)) div sum(n)")
          .as("ece_e4"),
        max(abs(col("frac_pos_e4") - col("mean_score_e4"))).as("mce_e4"))
      .drop("_g")

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversification pass between retrieval and the
    * user: greedily pick k results maximizing
    *   λ·relevance − (1−λ)·max-similarity-to-already-picked,
    * so near-duplicate hits stop crowding the page. Relevance is the
    * BM25 score normalized to e6 (one integer division against the max);
    * inter-document similarity is the exact token-set Jaccard (e6);
    * λ = 0.7 enters as the integer pair (7, 3), so every greedy round
    * is exact integer arithmetic with a (score, doc_id) tie-break — the
    * whole trajectory replays digit-exact in ANSI SQL.
    *
    * Shape at 100 TB: the corpus-scale work is the BM25 top-`nCand` cut;
    * the candidate frame (≤ nCand rows), its nCand² similarity grid, and
    * the k greedy argmax rounds are all model-sized by construction.
    */
  def mmrDiversify(
      docs: DataFrame,
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      nCand: Int = 50,
      k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cand = bm25Search(docs, queryTerms, nCand)
    val relMax = cand.agg(max(col("score_e4")).as("mx"))
    val rel = cand.crossJoin(broadcast(relMax))
      .select(col("doc_id"), expr("score_e4 * 1000000 div mx").as("rel_e6"))
      .localCheckpoint(true) // two consumers: the tk join + the collect
    val tk = docs.join(rel.select(col("doc_id")), "doc_id")
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("tk"))
    val sim = tk.as("a").join(tk.as("b"),
        col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"),
        expr("""size(array_intersect(a.tk, b.tk)) * 1000000L div
          |  size(array_union(a.tk, b.tk))""".stripMargin).as("jac_e6"))
    // The greedy trajectory runs DRIVER-SIDE (guide §1.2 — per-task work
    // only after the job shape is right): every frame it touches is
    // model-sized BY CONSTRUCTION (rel ≤ nCand rows, sim ≤ nCand² —
    // kilobytes at nCand = 50), yet the Spark-loop form paid ~6 jobs ×
    // (k−1) rounds of scheduling/AQE barriers on those kilobytes —
    // 69 jobs, the whole query's cost at sf0.1. Two bounded collects
    // (the k-means-seed / 1-row-argmax discipline) and the identical
    // integer recurrence — 7·rel − 3·maxsim, (mmr desc, doc_id asc)
    // tie-break — replay the exact same picks; the oracle pins it.
    val relLocal = rel.as[(Long, Long)].collect().sortBy(_._1)
    val simLocal = sim.as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (s, a) =>
        s -> a.map { case (_, d, j) => d -> j }.toMap }
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (t <- 1 to k) {
      val remaining = relLocal.filter { case (d, _) => !chosen.contains(d) }
      val scored = remaining.map { case (d, r) =>
        val ms = if (chosen.isEmpty) 0L
          else chosen.map(c => simLocal.get(d).flatMap(_.get(c)).getOrElse(0L)).max
        (d, r, 7L * r - 3L * ms)
      }
      if (scored.nonEmpty) {
        val (d, r, m) = scored.minBy { case (d, _, m) => (-m, d) }
        // round 1 records mmr_x10 = 7·rel (no similarity term yet) —
        // same as the Spark form's first-pick projection
        picks += ((t.toLong, d, r, if (t == 1) 7L * r else m))
        chosen += d
      }
    }
    picks.toSeq.toDF("pick_rank", "doc_id", "rel_e6", "mmr_x10")
      .orderBy(col("pick_rank"))
  }

  /** DuckDB twin of [[mmrDiversify]] — the BM25 candidate CTE plus one
    * chained CTE per greedy round (the [[graft.ops.Graph]] iteration
    * discipline).
    */
  def mmrDiversifyOracleSql(
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      nCand: Int = 50,
      k: Int = 10): String = {
    val termList = queryTerms.map(t => s"'$t'").mkString(", ")
    val rounds = (2 to k).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT * FROM s${t - 1}
         |  UNION ALL
         |  SELECT * FROM (
         |    SELECT $t::BIGINT AS pick_rank, r.doc_id, r.rel_e6,
         |      (7 * r.rel_e6 - 3 * coalesce((
         |        SELECT max(sim.jac_e6) FROM sim
         |        JOIN s${t - 1} p ON sim.dst = p.doc_id
         |        WHERE sim.src = r.doc_id), 0))::BIGINT AS mmr_x10
         |    FROM rel r
         |    WHERE r.doc_id NOT IN (SELECT doc_id FROM s${t - 1})
         |    ORDER BY mmr_x10 DESC, r.doc_id LIMIT 1))""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+')
       |             AS toks FROM documents),
       |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl, toks FROM t),
       |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
       |tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |       WHERE term IN ($termList) GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |sc AS (SELECT doc_id,
       |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf
       |           * (1.2 + 1.0) / (tf + 1.2 * ((1.0 - 0.75)
       |           + 0.75 * dl / avgdl)) * 10000.0, 0)::BIGINT AS score_e4
       |       FROM tf JOIN df USING (term) CROSS JOIN s),
       |cand AS (SELECT doc_id, sum(score_e4)::BIGINT AS score_e4
       |         FROM sc GROUP BY doc_id
       |         ORDER BY score_e4 DESC, doc_id LIMIT $nCand),
       |mx AS (SELECT max(score_e4)::BIGINT AS mx FROM cand),
       |rel AS MATERIALIZED (
       |  SELECT doc_id, (score_e4 * 1000000 // mx)::BIGINT AS rel_e6
       |  FROM cand CROSS JOIN mx),
       |tk AS (SELECT t.doc_id, list_distinct(t.toks) AS tk
       |       FROM t JOIN rel ON t.doc_id = rel.doc_id),
       |sim AS MATERIALIZED (
       |  SELECT a.doc_id AS src, b.doc_id AS dst,
       |    (len(list_intersect(a.tk, b.tk)) * 1000000
       |      // len(list_distinct(list_concat(a.tk, b.tk))))::BIGINT
       |      AS jac_e6
       |  FROM tk a JOIN tk b ON a.doc_id <> b.doc_id),
       |s1 AS MATERIALIZED (
       |  SELECT 1::BIGINT AS pick_rank, doc_id, rel_e6,
       |    (7 * rel_e6)::BIGINT AS mmr_x10
       |  FROM rel ORDER BY rel_e6 DESC, doc_id LIMIT 1),
       |$rounds
       |SELECT pick_rank, doc_id, rel_e6, mmr_x10 FROM s$k
       |ORDER BY pick_rank""".stripMargin
  }

  /** KENDALL RANK CORRELATION (τ-a) between the frequency ranking and
    * the document-frequency ranking of the top-N terms — do bursty
    * terms (high tf, few docs) distort the head of the vocabulary? The
    * two rankings are tie-free by construction (count desc, then term),
    * so τ-a = (C − D) / (n(n−1)/2) is exact: concordant/discordant
    * counts come from the n(n−1)/2 pair grid and the readout is one
    * integer division at e6.
    *
    * Shape at 100 TB: the corpus collapses once to (term, tf, df); the
    * top-N cut is a TakeOrdered; the quadratic pair join runs on the
    * N-row frame (N=100 → 4950 pairs) — model-sized by construction,
    * the [[graft.ops.Analytics]] value-domain discipline.
    */
  def kendallTau(docs: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), col("term")).limit(topN)
      .withColumn("r1", row_number().over(
        Window.orderBy(desc("tf"), col("term"))).cast("long"))
      .withColumn("r2", row_number().over(
        Window.orderBy(desc("df"), col("term"))).cast("long"))
    val pairs = terms.as("x")
      .join(terms.select(col("term").as("term2"), col("r1").as("r1b"),
        col("r2").as("r2b")).as("y"), expr("term < term2"))
      .select(
        when((col("r1") - col("r1b")) * (col("r2") - col("r2b")) > 0, 1L)
          .otherwise(0L).as("conc"),
        when((col("r1") - col("r1b")) * (col("r2") - col("r2b")) < 0, 1L)
          .otherwise(0L).as("disc"))
    terms.agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") > 1)
      .crossJoin(pairs.agg(
        coalesce(sum(col("conc")), lit(0L)).as("concordant"),
        coalesce(sum(col("disc")), lit(0L)).as("discordant")))
      .select(col("n_items"), col("concordant"), col("discordant"),
        expr("(concordant - discordant) * 1000000 div (n_items * (n_items - 1) div 2)")
          .as("tau_e6"))
  }

  /** DuckDB twin of [[kendallTau]]. */
  def kendallTauOracleSql(topN: Int = 100): String =
    s"""WITH tc AS (
       |  SELECT term, count(*)::BIGINT AS tf,
       |    count(DISTINCT doc_id)::BIGINT AS df
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text),
       |          '\\s+')) AS term FROM documents)
       |  GROUP BY term ORDER BY tf DESC, term LIMIT $topN),
       |ranked AS (
       |  SELECT term,
       |    row_number() OVER (ORDER BY tf DESC, term)::BIGINT AS r1,
       |    row_number() OVER (ORDER BY df DESC, term)::BIGINT AS r2
       |  FROM tc),
       |pairs AS (
       |  SELECT sum(CASE WHEN (x.r1 - y.r1) * (x.r2 - y.r2) > 0
       |           THEN 1 ELSE 0 END)::BIGINT AS concordant,
       |         sum(CASE WHEN (x.r1 - y.r1) * (x.r2 - y.r2) < 0
       |           THEN 1 ELSE 0 END)::BIGINT AS discordant
       |  FROM ranked x JOIN ranked y ON x.term < y.term),
       |n AS (SELECT count(*)::BIGINT AS n_items FROM ranked
       |      HAVING count(*) > 1)
       |SELECT n_items, coalesce(concordant, 0) AS concordant,
       |  coalesce(discordant, 0) AS discordant,
       |  ((coalesce(concordant, 0) - coalesce(discordant, 0)) * 1000000
       |    // (n_items * (n_items - 1) // 2))::BIGINT AS tau_e6
       |FROM n CROSS JOIN pairs""".stripMargin

  /** FLESCH READING-EASE PROFILE per source — the classic readability
    * screen (Flesch 1948) a curation pipeline uses to route text to
    * grade-level buckets: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), computed on per-source aggregate counts.
    * Sentences are [.!?]+ runs (min 1 per doc), syllables approximate
    * as vowel-group runs — the standard heuristic; both engines run the
    * SAME regexes and the score quantizes at e2.
    *
    * Shape at 100 TB: three regexp counts per row inside one narrow
    * projection, then a per-source aggregate — one scan, no shuffle
    * beyond the group-by.
    */
  def readability(docs: DataFrame): DataFrame = {
    val counted = docs.select(
      col("source"),
      size(tokens(col("text"))).cast("long").as("w"),
      greatest(lit(1L),
        size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
        .as("s"),
      size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long").as("y"))
    counted.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"),
        sum(col("y")).as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_e2",
        round((lit(206.835) -
          lit(1.015) * col("n_words").cast("double") /
            col("n_sentences").cast("double") -
          lit(84.6) * col("n_syllables").cast("double") /
            col("n_words").cast("double")) * 100, 0).cast("long"))
      .orderBy(col("source"))
  }

  /** DuckDB twin of [[readability]]. */
  def readabilityOracleSql: String =
    """WITH c AS (
      |  SELECT source,
      |    len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS w,
      |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS s,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS y
      |  FROM documents)
      |SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(w)::BIGINT AS n_words, sum(s)::BIGINT AS n_sentences,
      |  sum(y)::BIGINT AS n_syllables,
      |  round((206.835 - 1.015 * sum(w)::DOUBLE / sum(s)::DOUBLE
      |    - 84.6 * sum(y)::DOUBLE / sum(w)::DOUBLE) * 100, 0)::BIGINT
      |    AS flesch_e2
      |FROM c GROUP BY source HAVING sum(w) > 0 ORDER BY source""".stripMargin

  /** Nucleus-vocabulary coverage — per source, how many distinct tokens
    * cover p of the token mass (the top-p "nucleus" of the unigram
    * distribution)? A tight nucleus means boilerplate-dominated text; a
    * wide one, diverse prose — the corpus-health twin of [[zipfSlope]],
    * and the same cumulative-mass cut LLM nucleus sampling applies at
    * inference. Integer threshold comparison (cum_before·10⁴ < p·total),
    * deterministic (count desc, token) ordering.
    *
    * Shape: one (source, token) collapse; the prefix window runs per
    * source over its vocab-sized frequency table, never over raw tokens.
    */
  def nucleusVocab(docs: DataFrame, pE4: Long = 9000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val tot = freq.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab_size"), sum(col("cnt")).as("total_tokens"))
    freq
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("source"))
          .orderBy(desc("cnt"), col("word"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(tot, Seq("source"))
      .filter((col("cum") - col("cnt")) * 10000L < lit(pE4) * col("total_tokens"))
      .groupBy(col("source"), col("vocab_size"), col("total_tokens"))
      .agg(count(lit(1)).as("nucleus_size"))
      .withColumn("nucleus_share_e4",
        expr("nucleus_size * 10000 div vocab_size"))
      .select(col("source"), col("vocab_size"), col("total_tokens"),
        col("nucleus_size"), col("nucleus_share_e4"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[nucleusVocab]]. */
  def nucleusVocabOracleSql(pE4: Long = 9000L): String =
    s"""WITH f AS (
       |  SELECT source, w AS word, count(*)::BIGINT AS cnt
       |  FROM (SELECT source,
       |          unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE w <> '' GROUP BY 1, 2),
       |t AS (SELECT source, count(*)::BIGINT AS vocab_size,
       |        sum(cnt)::BIGINT AS total_tokens
       |      FROM f GROUP BY 1),
       |c AS (SELECT source, cnt,
       |        sum(cnt) OVER (PARTITION BY source ORDER BY cnt DESC, word
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM f)
       |SELECT c.source, vocab_size, total_tokens,
       |  count(*)::BIGINT AS nucleus_size,
       |  (count(*) * 10000 // vocab_size)::BIGINT AS nucleus_share_e4
       |FROM c JOIN t ON c.source = t.source
       |WHERE (cum - cnt) * 10000 < $pE4 * total_tokens
       |GROUP BY 1, 2, 3 ORDER BY c.source""".stripMargin

  /** Feature-hashing collision audit — the sizing study behind the
    * hashing trick ([[dsirWeights]] commits to 1024 buckets; this is the
    * evidence for that choice). For each candidate table size 2^bits:
    * how many of the corpus's distinct tokens survive as distinct
    * buckets, and what share collide? Collisions alias features — a
    * hashed classifier trades memory against exactly this rate, so the
    * audit is run once per corpus before fixing the width everywhere.
    *
    * Shape: ONE vocabulary collapse (distinct tokens — partial-agg
    * friendly), hashed once with the replicable PolyHash; the size grid
    * is a broadcast fan-out of that vocab-sized frame with a distinct
    * count per cell. No second corpus pass.
    */
  def featureHashAudit(
      docs: DataFrame, bits: Seq[Int] = Seq(8, 10, 12, 14)): DataFrame = {
    val vocab = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .distinct()
      .withColumn("h", rollingFingerprint(col("word")))
    val grid = docs.sparkSession.createDataFrame(
      bits.sorted.map(b => (b.toLong, 1L << b))).toDF("bits", "n_buckets")
    vocab.crossJoin(broadcast(grid))
      .groupBy(col("bits"), col("n_buckets"))
      .agg(count(lit(1)).as("vocab_size"),
        countDistinct(col("h") % col("n_buckets")).as("occupied"))
      .withColumn("collision_share_e4",
        expr("(vocab_size - occupied) * 10000 div vocab_size"))
      .orderBy(col("bits"))
  }

  /** DuckDB oracle for [[featureHashAudit]]. */
  def featureHashAuditOracleSql(bits: Seq[Int] = Seq(8, 10, 12, 14)): String = {
    val gridRows = bits.sorted
      .map(b => s"($b, ${1L << b})").mkString(", ")
    s"""WITH w AS (
       |  SELECT DISTINCT unnest(regexp_split_to_array(lower(text), '\\s+'))
       |    AS word
       |  FROM documents),
       |v AS (SELECT word,
       |        list_reduce(list_prepend(0::BIGINT,
       |          list_transform(string_split(word, ''), c -> ord(c)::BIGINT)),
       |          (a, b) -> (a * 31 + b) % 1000000007) AS h
       |      FROM w WHERE word <> ''),
       |g AS (SELECT * FROM (VALUES $gridRows) t(bits, n_buckets))
       |SELECT bits::BIGINT AS bits, n_buckets::BIGINT AS n_buckets,
       |  count(*)::BIGINT AS vocab_size,
       |  count(DISTINCT h % n_buckets)::BIGINT AS occupied,
       |  ((count(*) - count(DISTINCT h % n_buckets)) * 10000
       |    // count(*))::BIGINT AS collision_share_e4
       |FROM v CROSS JOIN g GROUP BY 1, 2 ORDER BY bits""".stripMargin
  }

  def rollingFingerprint(text: Column, mod: Long = 1000000007L): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => pmod(h * 31L + c, lit(mod)))

  def rollingFingerprints(df: DataFrame): DataFrame =
    df.select(col("doc_id"), rollingFingerprint(col("text")).as("rolling_fp"))
      .orderBy(col("doc_id"))

  /** PII patterns for training-data scrubbing: (name, regex, replacement).
    * The regexes stay inside the portable RE2 ∩ java.util.regex subset
    * (no backrefs, no \b) so the DuckDB oracle runs the identical pattern
    * strings.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  /** PII redaction — the scrub step every LLM training pipeline runs
    * before anything else. Counts matches per category on the ORIGINAL
    * text, then rewrites all of them (email → phone → ip; the patterns
    * are mutually non-overlapping on realistic text, and replacement
    * tokens contain no digits so later passes cannot re-match earlier
    * rewrites). Pure row-local regex Column algebra: codegen'd,
    * shuffle-free, linear at 100 TB.
    */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (d, (name, pat, _)) =>
      d.withColumn(s"n_${name}s",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
    }
    val redacted = piiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    counted.withColumn("redacted", redacted)
  }

  /** Gopher-style repetition signals — the standard filters for
    * boilerplate/spam in web-scale corpora: duplicate-word fraction,
    * duplicate-2-gram fraction, and the most-frequent-word share. All
    * ratios are exact e4 integers (`(x*10000) div y`) so no engine pair
    * can disagree in a rounded decimal.
    *
    * Shape at scale: per-term counts are one (doc, term) hash aggregate
    * re-aggregated per doc; the 2-gram distinct count rides row-local on
    * the native [[graft.functions.WordShingles]] (distinct shingles, one
    * pass, no lambda re-evaluation); the two doc-level frames join on the
    * doc key. Nothing corpus-sized is broadcast or collected.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val rowLocal = docs.select(
      col("doc_id"),
      size(graft.functions.ShingleFunctions.wordShingles(toks, 2))
        .cast("long").as("n_distinct_2grams"))
    val termCounts = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val perDoc = termCounts.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("c")).as("top_word_count"))
    perDoc.join(rowLocal, "doc_id")
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("top_word_count"),
        expr("((n_tokens - n_distinct_tokens) * 10000) div n_tokens")
          .as("dup_word_frac_e4"),
        when(col("n_tokens") >= 2,
          expr("((n_tokens - 1 - n_distinct_2grams) * 10000) div (n_tokens - 1)"))
          .otherwise(0L).as("dup_2gram_frac_e4"),
        expr("(top_word_count * 10000) div n_tokens").as("top_word_share_e4"))
      .orderBy(col("doc_id"))
  }

  /** Unigram language-model scoring — the perplexity-lite quality
    * feature (KenLM-style pipelines use a real LM; the unigram model is
    * the deterministic, self-contained stand-in): train P(t) =
    * count(t)/total on the corpus itself, then score each document by
    * its mean token log-probability. Common words → high (less
    * negative) scores; rare-token gibberish → low.
    *
    * Shape at 100 TB: the model is a (term) hash aggregate — vocabulary-
    * sized, not corpus-sized; the only broadcast is the 1-row total; the
    * scoring join shuffles tokens and model on the term key, and the
    * stopword heavy hitters land on AQE's skew-join split (pinned in
    * SkewSpec) — which needs the explicit model-side exchange below; the
    * final per-doc aggregate is partial+final. Nothing corpus-sized on
    * the driver.
    *
    * avg() over doubles follows the q_event_summary precedent: rounded
    * to 4 decimals, where partial-aggregation order cannot surface.
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    // total token count = sum of row-local token-array sizes: the same
    // value as sum(c) over the model, WITHOUT re-running the explode +
    // term aggregate a second time (subplans are not shared across the
    // scalar branch, so deriving it from `counts` would recompute them)
    val total = docs.agg(
      sum(size(tokens(col("text"))).cast("long")).as("total"))
    val model = counts.crossJoin(broadcast(total))
      .select(col("term"),
        log(col("c").cast("double") / col("total").cast("double"))
          .as("logp"))
    // the model must reach the join through a REAL exchange: AQE's
    // OptimizeSkewedJoin pattern-matches sort-over-shuffle-stage on BOTH
    // join children, and the model's term-keyed aggregate already
    // satisfies the join's distribution, so no exchange is planned and
    // the token side's stopword hot partitions can never be split — at
    // ANY scale, a structural property of the plan shape, not a sizing
    // threshold. An explicit .repartition(term) does not help either:
    // AQE removes it as redundant against the aggregate's partitioning.
    // The OptimizerBarrier alias is the one thing that works — it hides
    // the child partitioning from EnsureRequirements, forcing a plain
    // exchange of the vocabulary-sized model (noise at any scale) and
    // buying the skew split on the corpus-sized side. All three facts —
    // split engaging here, the relational baseline, and results being
    // join-identical — are pinned in SkewSpec.
    toks.join(model.select(
        graft.functions.BarrierFunctions.barrier(col("term")).as("term"),
        col("logp")), "term")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(col("logp")), 4).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Corpus quality histogram over the LM score — the perplexity-bucket
    * report a curation run reads before choosing its quality cutoffs:
    * documents bucketed by floor(10 × mean token log-prob) — deci-nat
    * buckets, fine enough that a natural corpus (whose scores cluster
    * within ~1 nat) spreads over several — with doc and token mass per
    * bucket. Composes [[unigramLogProb]]; the bucket key is the floor
    * of a product of the already-4dp-rounded score with an exact small
    * constant, so both engines floor bit-identical doubles
    * (engine-independent by the same argument as the underlying query's
    * hash pairing). One extra dimension-sized aggregate over the
    * per-doc scores.
    */
  def logProbBuckets(docs: DataFrame): DataFrame =
    unigramLogProb(docs)
      .select(col("n_tokens"),
        floor(col("avg_logprob") * 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("bucket"))

  /** Jelinek-Mercer interpolated bigram language model — the standard
    * step up from [[unigramLogProb]] for perplexity-based quality
    * filtering: per token at positions 2..n the score is
    * ln(0.8 · c(w1 w2)/c(w1 ·) + 0.2 · c(w2)/N), i.e. the bigram MLE
    * backed off into the unigram distribution, averaged per document.
    * Documents with fewer than two tokens have no bigram and are absent
    * from the output (inner-join semantics, engine-independent).
    *
    * The mixture weights are SPELLED 0.8/0.2 (not λ and 1−λ computed at
    * runtime): 1.0−0.8 in IEEE doubles is 0.19999999999999996, a
    * different double from the literal 0.2 the oracle SQL parses, and
    * the hash pairing needs both engines to evaluate the identical
    * expression. Rounded to 4 decimals like every avg-of-doubles row
    * (q_event_summary precedent).
    *
    * Shape at 100 TB: bigram extraction is ROW-LOCAL (a transform over
    * the token array — no per-doc window, no positional self-join, no
    * shuffle); the three model aggregates (bigram, history, unigram
    * counts) are observed-vocabulary-sized; model assembly joins are
    * model-sized, co-partitioned on w1 / w2. The one corpus-sized
    * exchange is the scoring join on (w1, w2), which reuses the
    * OptimizerBarrier skew pattern pinned in SkewSpec: the barrier hides
    * the model aggregate's partitioning so EnsureRequirements plans a
    * real exchange, and AQE's skew split stays armed for stopword-pair
    * hot partitions ("of the", "in the").
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    // row-local bigram structs: toks[i], toks[i+1] for i in 1..n-1.
    // sequence(1, n-1) DESCENDS when n = 1 (Spark generates [1, 0]), so
    // short docs are gated to an empty array explicitly.
    val bigramsCol = expr(
      """transform(
        |  case when size(toks) < 2 then array()
        |       else sequence(1, size(toks) - 1) end,
        |  i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2))
        |""".stripMargin)
    val bigrams = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(bigramsCol).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val biCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bi"))
    // history counts: occurrences of w1 as a bigram left side (= unigram
    // count minus doc-final positions) — the bigram MLE denominator.
    // Derived from biCounts (model-sized), not by re-exploding the corpus.
    val ctxCounts = biCounts.groupBy(col("w1")).agg(sum(col("c_bi")).as("c_ctx"))
    val uniCounts = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c_uni"))
    val total = docs.agg(
      sum(size(tokens(col("text"))).cast("long")).as("total"))
    val model = biCounts
      .join(ctxCounts, "w1")
      .join(uniCounts.withColumnRenamed("term", "w2"), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        log(lit(0.8) * (col("c_bi").cast("double") / col("c_ctx").cast("double"))
          + lit(0.2) * (col("c_uni").cast("double") / col("total").cast("double")))
          .as("logp"))
    bigrams.join(model.select(
        graft.functions.BarrierFunctions.barrier(col("w1")).as("w1"),
        col("w2"), col("logp")), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(col("logp")), 4).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Top-N vocabulary + per-document out-of-vocabulary rate — the
    * tokenizer-coverage check a training pipeline runs before committing
    * to a vocab: rank terms by corpus frequency (ties by term asc, so
    * the cutoff is deterministic and engine-independent), then measure
    * the fraction of each document's tokens outside the top
    * `vocabSize`.
    *
    * Shape at 100 TB: term counts are one vocabulary-sized hash
    * aggregate; the top-N is TakeOrderedAndProject (per-partition heaps,
    * N rows to the driver — N is the vocab size, not the corpus); the
    * membership join broadcasts those N terms; the per-doc aggregate is
    * partial+final. The corpus never shuffles for the join.
    */
  def vocabOovRate(docs: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("term"))
      .limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate_e4", expr("(n_oov * 10000) div n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** C4-style blocklist quality gate: per document, how many tokens hit
    * a (small, fixed) blocklist, the e4 hit ratio, and the hard-drop
    * verdict (`kept` = zero hits — C4 drops a page on ANY badword). The
    * doc is reported either way so the filter funnel stays visible.
    *
    * Shape at 100 TB: the blocklist is list-sized (hundreds of terms) and
    * rides into the plan as a literal array — the scan → count → verdict
    * chain is entirely row-local inside one codegen stage, ZERO
    * exchanges except the presentation sort (pinned in PlanShapeSpec).
    * This is the degenerate-broadcast end of the dim-join spectrum: a
    * dimension small enough to constant-fold never needs a join at all.
    */
  def blocklistStats(
      docs: DataFrame,
      blocklist: Seq[String] = Seq("slow", "dup", "corrupt", "spam")): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    val toks = tokens(col("text"))
    docs.select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isInCollection(blocklist)))
          .cast("long").as("n_hits"))
      .withColumn("hit_ratio_e4",
        when(col("n_tokens") > 0, expr("(n_hits * 10000) div n_tokens"))
          .otherwise(lit(0L)))
      .withColumn("kept", col("n_hits") === 0L)
      .orderBy(col("doc_id"))
  }

  /** Per-source distributional drift: cosine similarity between each
    * source's term-frequency vector and the corpus-wide vector, over the
    * top-`vocabSize` corpus terms (deterministic selection: count desc,
    * term asc). The mixture-health readout — a source whose cosine sags
    * is lexically off-distribution and a candidate for re-weighting or
    * inspection before it trains.
    *
    * Determinism across engines, by construction: dot products and
    * squared norms are EXACT integer sums (widened to DECIMAL(38,0) so
    * tf² survives petabyte counts); sqrt is IEEE-754 correctly-rounded
    * everywhere (same trick as [[Corpus.sourceMixture]]'s τ=2); one
    * multiply and one divide of exact doubles close the cosine — no
    * pow/ln anywhere, so the oracle agrees to the last bit before the
    * presentation rounding.
    *
    * Shape at 100 TB: (source, term) counts are one partial+final hash
    * aggregate (vocab × sources rows); the corpus vector derives from
    * that same aggregate (vocab rows — never a second corpus scan); the
    * top-N vocab is TakeOrderedAndProject; everything after the first
    * aggregate is dimension-sized.
    */
  def sourceSimilarity(docs: DataFrame, vocabSize: Int = 500): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val corpus = st.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      .orderBy(desc("ctf"), col("term"))
      .limit(vocabSize)
    val corpusNorm = corpus
      .agg(sum(expr("CAST(ctf AS DECIMAL(38,0)) * ctf")).as("c_sq"))
    st.join(broadcast(corpus), "term")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_vocab_terms"),
        sum(col("tf")).as("n_vocab_tokens"),
        sum(expr("CAST(tf AS DECIMAL(38,0)) * ctf")).as("dot"),
        sum(expr("CAST(tf AS DECIMAL(38,0)) * tf")).as("s_sq"))
      .crossJoin(broadcast(corpusNorm))
      .select(col("source"), col("n_vocab_terms"), col("n_vocab_tokens"),
        round(col("dot").cast("double") /
          (sqrt(col("s_sq").cast("double")) * sqrt(col("c_sq").cast("double"))), 6)
          .as("cos_vs_corpus"))
      .orderBy(col("source"))
  }

  /** Vocabulary coverage curve: for each candidate vocab size N, what
    * fraction of ALL corpus tokens the top-N terms (count desc, term asc
    * — the same deterministic cutoff as [[vocabOovRate]]) would cover.
    * The tokenizer-budgeting readout: where this curve flattens is where
    * growing the vocab stops paying.
    *
    * Shape at 100 TB: one partial+final term aggregate (vocab-sized),
    * top-max(N) via TakeOrderedAndProject (per-partition heaps — the
    * corpus never sorts), then rank/prefix-sum windows over THAT bounded
    * table (max(N) rows — dimension-sized by construction, so the
    * unpartitioned window is a deliberate non-issue), a broadcast join
    * against the requested sizes, and a 1-row total.
    */
  def vocabCoverage(
      docs: DataFrame,
      sizes: Seq[Int] = Seq(5, 10, 20, 30)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ > 0), "vocab sizes must be positive")
    import org.apache.spark.sql.expressions.Window
    val cnt = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val total = cnt.agg(sum(col("c")).as("total_tokens"))
    val top = cnt.orderBy(desc("c"), col("term")).limit(sizes.max)
    val ord = Window.orderBy(desc("c"), col("term"))
    val ranked = top
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum",
        sum(col("c")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    val spark = docs.sparkSession
    import spark.implicits._
    val sizesDf = sizes.map(_.toLong).toDF("vocab_size")
    ranked.join(broadcast(sizesDf), col("rank") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(max(col("cum")).as("covered_tokens"),
        max(col("rank")).as("n_terms_used"))
      .crossJoin(broadcast(total))
      .withColumn("coverage_e4",
        expr("(covered_tokens * 10000) div total_tokens"))
      .orderBy(col("vocab_size"))
  }

  /** Overlapping token-window chunking — how long documents become
    * context-window-sized training samples. Chunk c covers tokens
    * [c·stride+1, c·stride+chunkSize]; starts walk the token array at
    * `stride`, so consecutive chunks overlap by chunkSize − stride
    * tokens and every token lands in ≥1 chunk. The explode is over chunk
    * STARTS (⌈n/stride⌉ per doc, not per token), and the slice happens
    * after the explode as plain per-row projection — no array lambda, so
    * the tokenization is never re-evaluated per element.
    */
  def chunkDocuments(docs: DataFrame, chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), size(col("toks")), lit(stride))))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        least(lit(chunkSize), size(col("toks")) - col("col") + 1)
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("col"), lit(chunkSize)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Per-source n-gram diversity: the fraction of a source's trigram
    * mass that is unique across the source — the standard template /
    * boilerplate detector at corpus granularity (a crawl dump whose
    * pages share headers scores low; diverse prose scores high). Also
    * reports token-level type/token ratio for the same read.
    *
    * `diversity_e4` = ⌊distinct_trigrams · 10⁴ / total_trigrams⌋ — the
    * repo's exact-integer-quantization discipline, so the oracle cannot
    * disagree in a float ulp.
    *
    * Shape at 100 TB: trigrams come from the row-local
    * [[Dedup.shingles]] expression; both aggregates partial-combine
    * map-side (per-source counts, then (source, shingle)-keyed distinct
    * with source-count final) — the only exchange carries (source,
    * shingle) partial rows, never document text.
    */
  def ngramDiversity(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("source"),
      explode(Dedup.shingles(col("text"))).as("shingle"))
    val perSource = sh.groupBy(col("source")).agg(
      count(lit(1)).as("total_trigrams"),
      countDistinct(col("shingle")).as("distinct_trigrams"))
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
    val tokStats = toks.groupBy(col("source")).agg(
      count(lit(1)).as("total_tokens"),
      countDistinct(col("tok")).as("distinct_tokens"))
    perSource.join(tokStats, "source")
      .select(col("source"),
        col("total_trigrams"), col("distinct_trigrams"),
        expr("(distinct_trigrams * 10000) div total_trigrams").as("diversity_e4"),
        col("total_tokens"), col("distinct_tokens"),
        expr("(distinct_tokens * 10000) div total_tokens").as("ttr_e4"))
      .orderBy(col("source"))
  }

  /** Zipf-law fit per source: least-squares slope and intercept of
    * ln(count) against ln(rank) over the source's top-`topN` terms —
    * the classic sanity check that a text source is natural language
    * (slope ≈ −1) rather than templated or synthetic output (flat or
    * cliff-shaped rank curves). Ranks are deterministic: count desc,
    * term asc.
    *
    * The regression is written as the explicit closed form
    * (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) with x = ln(rank), y = ln(count)
    * — the same expression tree the oracle evaluates, summed over only
    * `topN` values, so double rounding at the 4th decimal is stable.
    *
    * Shape at 100 TB: term counts partial-combine onto the vocabulary
    * (bounded, not corpus-sized); the rank window runs per source over
    * vocabulary-sized groups, and WindowGroupLimit prunes each map task
    * to its local top-`topN` before the exchange; the regression itself
    * aggregates sources × topN rows — driver-free throughout.
    */
  /** PMI collocation mining: the corpus's top-k adjacent-token pairs by
    * pointwise mutual information ln(N·c(x,y) / (c(x)·c(y))) with a
    * minimum pair count — the classic multi-word-expression detector
    * (tokenizer vocab candidates, boilerplate phrase seeds). PMI
    * quantizes to e4 BIGINT before ranking so the oracle ordering is
    * exact; ties break lexicographically.
    *
    * Shape at 100 TB: pairs are row-local (one transform over the token
    * array); both count aggregates partial-combine onto vocabulary /
    * bigram keys; the unigram join is term-keyed (never broadcast — the
    * vocabulary can be large); the final top-k is a
    * TakeOrderedAndProject heap over the minCount-thinned bigram table.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, k: Int = 50): DataFrame = {
    val toksDf = docs.select(tokens(col("text")).as("toks"))
    val pairs = toksDf
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS x, toks[i] AS y))"))
        .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val bigrams = pairs.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uni = toksDf.select(explode(col("toks")).as("term"))
    val uc = uni.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val n = uni.agg(count(lit(1)).cast("double").as("nn"))
    bigrams
      .join(uc.select(col("term").as("x"), col("c").as("c_x")), "x")
      .join(uc.select(col("term").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("c_xy"),
        round(log(col("nn") * col("c_xy") /
          (col("c_x").cast("double") * col("c_y").cast("double"))) * 10000, 0)
          .cast("long").as("pmi_e4"))
      .orderBy(desc("pmi_e4"), col("x"), col("y"))
      .limit(k)
  }

  /** Per-source token Shannon entropy: H = −Σ (c/N)·ln(c/N) over the
    * source's term distribution, plus the normalized form H/ln(V) in
    * [0,1] — the information-theoretic twin of [[ngramDiversity]]
    * (low entropy = a few templated terms dominate; ≈1 normalized =
    * uniformly diverse vocabulary). A standard corpus-mixture health
    * feature next to [[zipfSlope]].
    *
    * Shape at 100 TB: one vocabulary-keyed count aggregate (map-side
    * partial combine), then a source-keyed sum over vocabulary-sized
    * rows — the corpus text never reaches an exchange.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(col("cnt")).as("total_tokens"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double"))).as("sclogc"))
      // H = ln N − (Σ c·ln c)/N: one pass, no second join against N
      .select(col("source"), col("vocab_size"), col("total_tokens"),
        round(log(col("total_tokens").cast("double")) -
          col("sclogc") / col("total_tokens").cast("double"), 4).as("entropy"),
        when(col("vocab_size") > 1,
          round((log(col("total_tokens").cast("double")) -
            col("sclogc") / col("total_tokens").cast("double")) /
            log(col("vocab_size").cast("double")), 4))
          .otherwise(lit(0.0)).as("norm_entropy"))
      .orderBy(col("source"))
  }

  def zipfSlope(docs: DataFrame, topN: Int = 100): DataFrame = {
    require(topN > 1, "need at least 2 ranks to fit a slope")
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source"))
      .orderBy(desc("cnt"), col("term"))
    val ranked = counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .select(col("source"),
        log(col("rnk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n").cast("long").as("n_terms"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"), 4)
          .as("intercept"))
      .orderBy(col("source"))
  }

  /** POSITIONAL-INDEX PHRASE SEARCH — exact consecutive-token retrieval,
    * the operator a term-level index ([[bm25Search]]) cannot answer:
    * "docs containing this exact k-word phrase". The classic inverted-
    * index-with-positions intersection, as equi-joins:
    *
    *  1. postings: one posexplode to (doc, term, pos) — the positional
    *     index, built once and shared by derivation and search;
    *  2. query phrases: the corpus's own top-`nPhrases` trigrams by
    *     occurrence (deterministic: ties break on the phrase string), so
    *     the demo needs no external query set;
    *  3. the GENERIC k-slot intersection: phrases unpivot to
    *     (phrase, slot, term) and join the postings ON TERM; each hit
    *     proposes start = pos − slot, and a (phrase, doc, start) group
    *     matching ALL k slots — count(*) = k, since (start, pos) fixes
    *     the slot — is an occurrence. Works unchanged for any phrase
    *     length; overlapping occurrences count separately (the LIKE
    *     trick can't do that — and LIKE scans text per phrase, k× the
    *     corpus per query batch, which is the shape this index avoids).
    *
    * Shape at 100 TB: postings are the one corpus-scale frame; the
    * phrase-term table is query-batch-sized and BROADCASTS into the
    * postings scan, so search costs one term-filtered pass + one
    * (phrase, doc, start)-keyed aggregate — no text ever re-scans per
    * phrase. A stopword-heavy slot is a hot join key: the term filter
    * keeps only query terms (pushable), and AQE skew-split covers the
    * residue.
    */
  def phraseSearch(docs: DataFrame, nPhrases: Int = 5): DataFrame = {
    require(nPhrases >= 1)
    val postings = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "term")))
      .persist()
    // corpus top trigrams: three position-chained self-joins (the same
    // intersection the search runs, specialized to adjacent slots)
    val tri = postings.as("a")
      .join(postings.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") === col("a.pos") + 1)
      .join(postings.as("c"), col("a.doc_id") === col("c.doc_id") &&
        col("c.pos") === col("a.pos") + 2)
      .groupBy(concat(col("a.term"), lit(" "), col("b.term"), lit(" "),
        col("c.term")).as("phrase"))
      .agg(count(lit(1)).as("occ"))
    val top = tri
      .orderBy(col("occ").desc, col("phrase")).limit(nPhrases)
      .select(col("phrase"))
    val phraseTerms = top
      .select(col("phrase"),
        posexplode(split(col("phrase"), " ")).as(Seq("slot", "term")))
    val k = 3 // trigram queries; the slot join itself is length-generic
    val hits = postings
      .join(broadcast(phraseTerms), Seq("term"))
      .groupBy(col("phrase"), col("doc_id"),
        (col("pos") - col("slot")).as("start"))
      .agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") === k)
    hits.groupBy(col("phrase"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .orderBy(col("phrase"))
  }

  /** DuckDB oracle for [[phraseSearch]] — the same postings zip, trigram
    * derivation, and slot-complete occurrence count.
    */
  def phraseSearchOracleSql(nPhrases: Int = 5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(l) AS term,
       |    unnest(generate_series(0, len(l) - 1)) AS pos
       |  FROM (SELECT doc_id,
       |          string_split_regex(trim(text), '\\s+') AS l
       |        FROM documents)),
       |tri AS (
       |  SELECT a.term || ' ' || b.term || ' ' || c.term AS phrase,
       |    count(*)::BIGINT AS occ
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
       |  GROUP BY 1),
       |top AS (SELECT phrase FROM tri
       |        ORDER BY occ DESC, phrase LIMIT $nPhrases),
       |pterms AS (
       |  SELECT phrase, unnest(generate_series(0, 2)) AS slot,
       |    unnest(string_split(phrase, ' ')) AS term
       |  FROM top),
       |hits AS (
       |  SELECT p.phrase, t.doc_id, t.pos - p.slot AS start
       |  FROM toks t JOIN pterms p ON p.term = t.term
       |  GROUP BY 1, 2, 3 HAVING count(*) = 3)
       |SELECT phrase, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  count(*)::BIGINT AS n_occurrences
       |FROM hits GROUP BY 1 ORDER BY phrase""".stripMargin

  /** MULTINOMIAL NAIVE BAYES LANGUAGE CLASSIFIER — the LEARNED
    * counterpart to [[langConfusion]]'s fixed trigram heuristic: train
    * add-one-smoothed token likelihoods per language on the corpus, score
    * every document, and report the resubstitution confusion matrix. This
    * is the "train a cheap classifier on the corpus itself" primitive
    * (quality filtering à la fastText, domain classification) at its
    * smallest honest size.
    *
    * Cross-engine log-sum discipline: summing doubles is
    * accumulation-order-dependent, so per-document Σ log p would never
    * hash-match across engines. Instead each MODEL CELL quantizes its
    * log-likelihood to integer micro-nats FIRST —
    * round(1e6 · ln((c+1)/(N_l+V))) is a per-row scalar both engines
    * evaluate identically — and the per-document score is an exact BIGINT
    * sum of those integers: order-free, digit-exact, and still the argmax
    * of the true model to 1e-6 nat resolution. Ties break to the
    * lexicographically first language (deterministic row_number).
    *
    * Shape at 100 TB: the model is (vocab × n_langs) — model-plane, not
    * data-plane (explicitly densified so unseen (term, lang) cells score
    * their smoothing floor). Scoring joins the exploded corpus to the
    * model on term — the one corpus-sized exchange, partial-aggregated
    * per (doc, lang) before the argmax. Zero-token documents have no
    * score rows and drop out (inner-join semantics, engine-independent).
    */
  def naiveBayesLangId(docs: DataFrame): DataFrame = {
    // persisted: FOUR consumers (vocab, per-lang token mass, model
    // counts, scoring) otherwise re-run the corpus explode each — the
    // minHashLsh shingle-frame discipline. (Par.widen here was measured
    // and REJECTED, r13: the 1-task explode parallelized, but the four
    // consumers' extra 32-task stages cost more than the explode saved —
    // interleaved A/B 2.0-2.6 s unwidened vs 2.7-3.2 s widened.)
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))
      .persist()
    val vocab = toks.select(col("term")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val langs = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs_l"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs_all"))))
      .withColumn("prior_lp_e6", expr(
        "CAST(round(ln(CAST(n_docs_l AS DOUBLE) / CAST(n_docs_all AS DOUBLE)) * 1000000) AS BIGINT)"))
    val langTokens = toks.groupBy(col("lang")).agg(count(lit(1)).as("n_tok_l"))
    val counts = toks.groupBy(col("term"), col("lang")).agg(count(lit(1)).as("c"))
    val model = vocab
      .crossJoin(broadcast(langTokens.join(langs.select(col("lang"), col("prior_lp_e6")), "lang")))
      .crossJoin(broadcast(vsize))
      .join(counts, Seq("term", "lang"), "left")
      .select(col("term"), col("lang"), col("prior_lp_e6"),
        expr("CAST(round(ln(CAST(coalesce(c, 0L) + 1 AS DOUBLE) / CAST(n_tok_l + v AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("lp_e6"))
    val scores = toks.select(col("doc_id"), col("lang").as("true_lang"), col("term"))
      .join(model, "term")
      .groupBy(col("doc_id"), col("true_lang"), col("lang"))
      .agg((first(col("prior_lp_e6")) + sum(col("lp_e6"))).as("score_e6"))
    val pred = scores
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_e6").desc, col("lang"))))
      .filter(col("rn") === 1)
    pred.groupBy(col("true_lang"), col("lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  /** DuckDB oracle for [[naiveBayesLangId]] — identical densified model,
    * identical e6 quantization, exact integer score sum.
    */
  def naiveBayesLangIdOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_split_to_array(lower(text), '\s+')) AS term
      |  FROM documents),
      |vocab AS (SELECT DISTINCT term FROM toks),
      |vs AS (SELECT count(*) AS v FROM vocab),
      |langs AS (
      |  SELECT lang, count(*) AS n_docs_l FROM documents GROUP BY 1),
      |alld AS (SELECT count(*) AS n_docs_all FROM documents),
      |priors AS (
      |  SELECT lang,
      |    CAST(round(ln(CAST(n_docs_l AS DOUBLE) / CAST(n_docs_all AS DOUBLE)) * 1000000) AS BIGINT) AS prior_lp_e6
      |  FROM langs CROSS JOIN alld),
      |ltok AS (SELECT lang, count(*) AS n_tok_l FROM toks GROUP BY 1),
      |cnt AS (SELECT term, lang, count(*) AS c FROM toks GROUP BY 1, 2),
      |model AS (
      |  SELECT vocab.term, ltok.lang, priors.prior_lp_e6,
      |    CAST(round(ln(CAST(coalesce(cnt.c, 0) + 1 AS DOUBLE) / CAST(ltok.n_tok_l + vs.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp_e6
      |  FROM vocab CROSS JOIN ltok CROSS JOIN vs
      |  JOIN priors ON priors.lang = ltok.lang
      |  LEFT JOIN cnt ON cnt.term = vocab.term AND cnt.lang = ltok.lang),
      |scores AS (
      |  SELECT t.doc_id, t.lang AS true_lang, m.lang,
      |    any_value(m.prior_lp_e6) + sum(m.lp_e6) AS score_e6
      |  FROM toks t JOIN model m ON m.term = t.term
      |  GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT doc_id, true_lang, lang,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_e6 DESC, lang) AS rn
      |  FROM scores)
      |SELECT true_lang, lang AS pred_lang, count(*)::BIGINT AS n_docs
      |FROM pred WHERE rn = 1
      |GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin

  /** INTERPOLATED KNESER-NEY BIGRAM SCORING — the modern-smoothing
    * upgrade of [[bigramLogProb]]'s Jelinek-Mercer mixture, and the LM
    * quality filter closest to what perplexity-based corpus pruning
    * actually runs. Absolute discount D = 0.75 (exactly representable in
    * binary — 3/4 — so both engines hold the identical double) moves
    * mass from observed bigrams to the CONTINUATION distribution:
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1·)
    *            + D·T(w1·)/c(w1·) · T(·w2)/T(··)
    *
    * where T(w1·)/T(·w2)/T(··) are distinct-bigram-type counts — the
    * "how many contexts" statistics that make KN rank "francisco" low
    * despite its raw frequency. Scored bigrams are observed in training
    * (resubstitution), so c ≥ 1 and the discounted term stays positive.
    *
    * Cross-engine discipline: every model cell quantizes its log to
    * integer micro-nats (the [[naiveBayesLangId]] rule), per-document
    * totals are exact BIGINT sums, and the average is integer division —
    * no double ever crosses an accumulation order.
    *
    * Shape at 100 TB: four model-sized aggregates off ONE bigram-count
    * frame (types-left, types-right, context totals, grand total — all
    * derived from biCounts, never re-scanning the corpus); scoring is
    * the same skew-aware (w1, w2) join as [[bigramLogProb]].
    */
  def kneserNeyScore(docs: DataFrame): DataFrame = {
    val bigramsCol = expr(
      """transform(
        |  case when size(toks) < 2 then array()
        |       else sequence(1, size(toks) - 1) end,
        |  i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2))
        |""".stripMargin)
    // persisted: the model counts AND the per-doc scoring join both read
    // the exploded bigram frame
    val bigrams = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(bigramsCol).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .persist()
    val biCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bi"))
      .localCheckpoint()
    val ctx = biCounts.groupBy(col("w1"))
      .agg(sum(col("c_bi")).as("c_ctx"), count(lit(1)).as("t_left"))
    val cont = biCounts.groupBy(col("w2")).agg(count(lit(1)).as("t_right"))
    val total = biCounts.agg(count(lit(1)).as("t_all"))
    val model = biCounts
      .join(ctx, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        expr("CAST(round(ln((CAST(c_bi AS DOUBLE) - 0.75) / CAST(c_ctx AS DOUBLE) + " +
          "0.75 * CAST(t_left AS DOUBLE) / CAST(c_ctx AS DOUBLE) * " +
          "(CAST(t_right AS DOUBLE) / CAST(t_all AS DOUBLE))) * 1000000) AS BIGINT)")
          .as("lp_e6"))
    bigrams.join(model.select(
        graft.functions.BarrierFunctions.barrier(col("w1")).as("w1"),
        col("w2"), col("lp_e6")), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("lp_e6")).as("sum_lp_e6"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[kneserNeyScore]] — identical type/context
    * statistics and the character-identical quantized log expression.
    */
  def kneserNeyScoreOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i
      |  FROM t),
      |bg AS (
      |  SELECT a.doc_id, a.w AS w1, b.w AS w2
      |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
      |bi AS (SELECT w1, w2, count(*) AS c_bi FROM bg GROUP BY 1, 2),
      |ctx AS (
      |  SELECT w1, sum(c_bi) AS c_ctx, count(*) AS t_left
      |  FROM bi GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS t_right FROM bi GROUP BY 1),
      |tot AS (SELECT count(*) AS t_all FROM bi),
      |model AS (
      |  SELECT bi.w1, bi.w2,
      |    CAST(round(ln((CAST(c_bi AS DOUBLE) - 0.75) / CAST(c_ctx AS DOUBLE) +
      |      0.75 * CAST(t_left AS DOUBLE) / CAST(c_ctx AS DOUBLE) *
      |      (CAST(t_right AS DOUBLE) / CAST(t_all AS DOUBLE))) * 1000000) AS BIGINT) AS lp_e6
      |  FROM bi JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot)
      |SELECT bg.doc_id,
      |  count(*)::BIGINT AS n_bigrams,
      |  sum(m.lp_e6)::BIGINT AS sum_lp_e6
      |FROM bg JOIN model m ON m.w1 = bg.w1 AND m.w2 = bg.w2
      |GROUP BY 1 ORDER BY bg.doc_id""".stripMargin

  /** RANK-BIASED OVERLAP (Webber et al., TOIS 2010) between two document
    * rankings — the top-weighted agreement measure for comparing ranker
    * versions (a plain intersection treats rank 1 and rank 1000 alike;
    * RBO discounts depth d by p^(d−1)). Here the two deterministic
    * rankings are by raw length (n_chars) and by distinct-token count —
    * the "does tokenization change the corpus's notion of BIG?"
    * diagnostic; the OPERATOR takes any two (doc_id, rank) frames.
    *
    * RBO@k = Σ_{d≤k} (1−p)·p^(d−1)·|A_d ∩ B_d|/d. Per-depth terms
    * quantize to e9 integers (pow + one division each — the
    * [[bm25Search]] discipline), the prefix sum is exact.
    *
    * Shape at 100 TB: rankings come from top-k heaps
    * (TakeOrderedAndProject), so both frames are k-row; the depth grid
    * join is k² at most — model-sized end to end after the two ranking
    * scans.
    */
  def rankBiasedOverlap(
      docs: DataFrame,
      k: Int = 20,
      pE3: Long = 900): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        expr("size(array_distinct(split(lower(text), '\\\\s+')))").cast("long")
          .as("dtoks"))
    // deterministic rankings; ties by doc_id. Model-sized top-k frames.
    val byLen = toks
      .withColumn("rank_a", row_number().over(
        Window.orderBy(desc("len"), col("doc_id"))).cast("long"))
      .filter(col("rank_a") <= k).select(col("doc_id"), col("rank_a"))
    val byToks = toks
      .withColumn("rank_b", row_number().over(
        Window.orderBy(desc("dtoks"), col("doc_id"))).cast("long"))
      .filter(col("rank_b") <= k).select(col("doc_id"), col("rank_b"))
    val both = byLen.join(byToks, "doc_id")
    val depths = (1L to k.toLong).map(Tuple1(_)).toDF("d")
    val overlaps = depths.crossJoin(both)
      .filter(col("rank_a") <= col("d") && col("rank_b") <= col("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("overlap"))
    val terms = depths.join(overlaps, Seq("d"), "left")
      .select(col("d"), coalesce(col("overlap"), lit(0L)).as("overlap"))
      .withColumn("term_e9", expr(
        s"CAST(round((1.0 - ${pE3 / 1000.0}) * pow(${pE3 / 1000.0}, d - 1) " +
          "* CAST(overlap AS DOUBLE) / CAST(d AS DOUBLE) * 1000000000) AS BIGINT)"))
    terms
      .withColumn("rbo_prefix_e9", sum(col("term_e9")).over(
        Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("d"))
  }

  /** DuckDB oracle for [[rankBiasedOverlap]] — identical rankings,
    * depth-grid overlaps, and quantized term literal.
    */
  def rankBiasedOverlapOracleSql(k: Int = 20, pE3: Long = 900): String =
    s"""WITH toks AS (
       |  SELECT doc_id, length(text)::BIGINT AS len,
       |    len(list_distinct(regexp_split_to_array(lower(text), '\\s+')))::BIGINT AS dtoks
       |  FROM documents),
       |ra AS (
       |  SELECT doc_id, rank_a FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY len DESC, doc_id) AS rank_a
       |    FROM toks) WHERE rank_a <= $k),
       |rb AS (
       |  SELECT doc_id, rank_b FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY dtoks DESC, doc_id) AS rank_b
       |    FROM toks) WHERE rank_b <= $k),
       |bo AS (SELECT ra.doc_id, rank_a, rank_b FROM ra JOIN rb USING (doc_id)),
       |depths AS (SELECT unnest(range(1, ${k + 1}))::BIGINT AS d),
       |ov AS (
       |  SELECT d, count(*) AS overlap
       |  FROM depths JOIN bo ON rank_a <= d AND rank_b <= d
       |  GROUP BY d),
       |terms AS (
       |  SELECT depths.d, coalesce(ov.overlap, 0) AS overlap,
       |    CAST(round((1.0 - ${pE3 / 1000.0}) * pow(${pE3 / 1000.0}, depths.d - 1) * CAST(coalesce(ov.overlap, 0) AS DOUBLE) / CAST(depths.d AS DOUBLE) * 1000000000) AS BIGINT) AS term_e9
       |  FROM depths LEFT JOIN ov ON depths.d = ov.d)
       |SELECT d, overlap::BIGINT AS overlap, term_e9,
       |  sum(term_e9) OVER (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS rbo_prefix_e9
       |FROM terms ORDER BY d""".stripMargin

  /** HEAPS' LAW vocabulary-growth curve: distinct vocabulary V(m) as a
    * function of corpus prefix size m, at 8 doc-id-value checkpoints,
    * plus the fitted log-log slope β (V ≈ K·mᵝ; β ≈ 0.4–0.6 for natural
    * text, ≈ 0 for template spam, ≈ 1 for random noise) — the companion
    * diagnostic to [[zipfSlope]] that tells a corpus buyer how much NEW
    * vocabulary another 10× of this source actually adds.
    *
    * The at-scale trick: V(m) for ALL checkpoints from ONE aggregate —
    * each term collapses to its FIRST-SEEN doc id (min), and V(m) is
    * then a count over the first-seen frame; no per-checkpoint re-scan,
    * no global document sort (checkpoints are doc-id VALUE thresholds
    * from a 1-row min/max aggregate, not ranks). Log points quantize to
    * e6 integers per checkpoint BEFORE the slope's OLS sums (order-free,
    * the micro-nat discipline); the slope is one double excursion.
    */
  def heapsLaw(docs: DataFrame, checkpoints: Int = 8): DataFrame = {
    require(checkpoints >= 2)
    val spark = docs.sparkSession
    import spark.implicits._
    // trigram vocabulary: the template corpus's UNIGRAM vocabulary fits
    // in one document (growth curve flat, slope degenerate); trigrams
    // keep growing the way real open-vocabulary text does
    val terms = docs
      .select(col("doc_id"),
        explode(graft.ops.Dedup.shingles(col("text"), 3)).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
    val bounds = docs.agg(min(col("doc_id")).as("mn"),
      max(col("doc_id")).as("mx"))
    val grid = (1L to checkpoints.toLong).map(Tuple1(_)).toDF("ckpt")
      .crossJoin(broadcast(bounds))
      .select(col("ckpt"),
        expr(s"mn + (mx - mn + 1) * ckpt div $checkpoints - 1").as("cut"))
    val docCounts = docs.select(col("doc_id")).crossJoin(broadcast(grid))
      .filter(col("doc_id") <= col("cut"))
      .groupBy(col("ckpt"), col("cut")).agg(count(lit(1)).as("n_docs"))
    val vocabCounts = terms.crossJoin(broadcast(grid))
      .filter(col("first_doc") <= col("cut"))
      .groupBy(col("ckpt")).agg(count(lit(1)).as("vocab"))
    val points = docCounts.join(vocabCounts, "ckpt")
      .select(col("ckpt"), col("n_docs"), col("vocab"),
        expr("CAST(round(ln(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("ln_docs_e6"),
        expr("CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("ln_vocab_e6"))
    val slope = points.agg(
      count(lit(1)).as("k"),
      sum(col("ln_docs_e6")).as("sx"), sum(col("ln_vocab_e6")).as("sy"),
      sum(expr("CAST(ln_docs_e6 * ln_docs_e6 AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(ln_docs_e6 * ln_vocab_e6 AS DECIMAL(38,0))")).as("sxy"))
      .selectExpr(
        "CAST(round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000) AS BIGINT) AS beta_e6")
    points.crossJoin(broadcast(slope)).orderBy(col("ckpt"))
      .select(col("ckpt"), col("n_docs"), col("vocab"),
        col("ln_docs_e6"), col("ln_vocab_e6"), col("beta_e6"))
  }

  /** N-GRAM NOVELTY per ingest batch — the dataset-freshness readout a
    * continuously-fed corpus publishes next to [[heapsLaw]]'s growth
    * curve: for each arrival batch (doc_id div `batchSize`), what share
    * of its distinct trigrams was never seen in ANY earlier batch? A
    * collapsing novelty rate means new data is re-treading old content
    * (time to rebalance sources); a flat high rate means the corpus is
    * still exploring. Exact integers: one first-seen collapse, counts,
    * one e4 division.
    *
    * Shape at 100 TB: (batch, term) distinct collapse → term-keyed
    * first-seen aggregate → batch-keyed counts; every exchange is keyed
    * on the term or batch dimension, nothing quadratic, no window.
    */
  def ngramNovelty(docs: DataFrame, batchSize: Int = 50): DataFrame = {
    val bt = docs.select(expr(s"doc_id div $batchSize").as("batch"),
      col("doc_id"), col("text"))
    val tb = bt
      .select(col("batch"),
        explode(graft.ops.Dedup.shingles(col("text"), 3)).as("term"))
      .distinct()
    val first = tb.groupBy(col("term")).agg(min(col("batch")).as("fb"))
    val novelty = tb.join(first, "term")
      .groupBy(col("batch"))
      .agg(
        count(lit(1)).as("n_distinct_terms"),
        sum(when(col("batch") === col("fb"), 1L).otherwise(0L))
          .as("n_new_terms"))
    bt.groupBy(col("batch")).agg(count(lit(1)).as("n_docs"))
      .join(novelty, Seq("batch"), "left")
      .na.fill(0L, Seq("n_distinct_terms", "n_new_terms"))
      .select(col("batch"), col("n_docs"), col("n_distinct_terms"),
        col("n_new_terms"),
        expr("n_new_terms * 10000 div nullif(n_distinct_terms, 0)")
          .as("novelty_e4"))
      .orderBy(col("batch"))
  }

  /** DuckDB twin of [[ngramNovelty]]. */
  def ngramNoveltyOracleSql(batchSize: Int = 50): String =
    s"""WITH bt AS (
       |  SELECT doc_id // $batchSize AS batch, doc_id, text FROM documents),
       |tb AS (
       |  SELECT DISTINCT batch, term FROM (
       |    SELECT batch, unnest(list_distinct(list_transform(
       |      range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS term
       |    FROM (SELECT batch, regexp_split_to_array(lower(text), '\\s+')
       |            AS toks FROM bt)
       |    WHERE len(toks) >= 3)),
       |first AS (SELECT term, min(batch) AS fb FROM tb GROUP BY term),
       |nov AS (
       |  SELECT batch, count(*)::BIGINT AS n_distinct_terms,
       |    sum(CASE WHEN batch = fb THEN 1 ELSE 0 END)::BIGINT
       |      AS n_new_terms
       |  FROM tb JOIN first USING (term) GROUP BY batch)
       |SELECT b.batch::BIGINT AS batch, count(*)::BIGINT AS n_docs,
       |  coalesce(max(n_distinct_terms), 0)::BIGINT AS n_distinct_terms,
       |  coalesce(max(n_new_terms), 0)::BIGINT AS n_new_terms,
       |  (coalesce(max(n_new_terms), 0) * 10000
       |    // nullif(coalesce(max(n_distinct_terms), 0), 0))::BIGINT
       |    AS novelty_e4
       |FROM bt b LEFT JOIN nov ON b.batch = nov.batch
       |GROUP BY b.batch ORDER BY batch""".stripMargin

  /** DuckDB oracle for [[heapsLaw]] — identical first-seen collapse,
    * value thresholds, per-point quantization, and slope literal.
    */
  def heapsLawOracleSql(checkpoints: Int = 8): String =
    s"""WITH terms AS (
       |  SELECT term, min(doc_id) AS first_doc FROM (
       |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS term
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents)
       |    WHERE len(toks) >= 3) GROUP BY term),
       |bounds AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
       |grid AS (
       |  SELECT ckpt, mn + (mx - mn + 1) * ckpt // $checkpoints - 1 AS cut
       |  FROM (SELECT unnest(range(1, ${checkpoints + 1}))::BIGINT AS ckpt)
       |  CROSS JOIN bounds),
       |dc AS (
       |  SELECT g.ckpt, g.cut, count(*) AS n_docs
       |  FROM documents d JOIN grid g ON d.doc_id <= g.cut GROUP BY 1, 2),
       |vc AS (
       |  SELECT g.ckpt, count(*) AS vocab
       |  FROM terms t JOIN grid g ON t.first_doc <= g.cut GROUP BY 1),
       |points AS (
       |  SELECT ckpt, n_docs, vocab,
       |    CAST(round(ln(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS ln_docs_e6,
       |    CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT) AS ln_vocab_e6
       |  FROM dc JOIN vc USING (ckpt)),
       |s AS (
       |  SELECT count(*) AS k, sum(ln_docs_e6) AS sx, sum(ln_vocab_e6) AS sy,
       |    sum(ln_docs_e6 * ln_docs_e6) AS sxx,
       |    sum(ln_docs_e6 * ln_vocab_e6) AS sxy
       |  FROM points)
       |SELECT ckpt, n_docs::BIGINT AS n_docs, vocab::BIGINT AS vocab,
       |  ln_docs_e6, ln_vocab_e6,
       |  CAST(round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000) AS BIGINT) AS beta_e6
       |FROM points CROSS JOIN s ORDER BY ckpt""".stripMargin
}

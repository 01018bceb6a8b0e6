package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.EventSchema

/** The reference's core per-record pipeline — the `ParsePubSubMessage`
  * DoFn (Streamingdag.py:159-236) — decomposed into pure Column algebra
  * so Catalyst can push, prune, fold and codegen every step. No UDFs.
  *
  * Steps (SURVEY.md §2.3–2.4):
  *   P1 bytes→string decode        — source-level (text source is string)
  *   P2 JSON parse                 — from_json, PERMISSIVE (corrupt-record column)
  *   P4 processing-time stamp      — current_timestamp()
  *   P5 type coercion + defaulting — value → double, default 0.0
  *   P6 optional-field projection  — schema-declared nullables
  *   P7 message_length             — length(message)
  *   P8 event_hour                 — hour(to_timestamp(...)), error→0
  *   P9 data_quality_score         — four +25 conditions
  *   F1–F4 gates, one ordered list — corrupt_json, missing_required_field,
  *                                   low_quality, unparseable_timestamp
  *
  * [[classify]] runs the chain once and names each row's first failing
  * gate; the main sink ([[fromRawJson]]) keeps the rows with none and the
  * dead-letter ([[deadLetter]]) the rest, so each row lands in one.
  *
  * The whole chain is one narrow (shuffle-free) map stage: at 100 TB it
  * scales linearly with input splits — no driver-side work, no state.
  */
object EventPipeline {

  /** Wire schema + PERMISSIVE corrupt-record column: from_json yields a
    * struct of nulls for malformed input (not a null struct), so corrupt
    * rows are only distinguishable via columnNameOfCorruptRecord.
    */
  private val corruptCol = "_corrupt_record"
  private val parseSchema =
    EventSchema.wireSchema.add(corruptCol, org.apache.spark.sql.types.StringType)
  private val parseOpts = Map("columnNameOfCorruptRecord" -> corruptCol)

  /** P2: the one JSON parse — `value` → struct `e`, the line kept as
    * `raw`. Unknown keys are dropped by construction (ignoreUnknownValues,
    * Streamingdag.py:319). The parse sits behind an
    * [[graft.functions.OptimizerBarrier]] so the gates can't be
    * substituted through the projection — without it the pushed Filter
    * carried ~12 copies of `from_json`.
    */
  private def parsed(raw: DataFrame): DataFrame =
    raw.select(col("value").as("raw"),
      graft.functions.BarrierFunctions.barrier(
        from_json(col("value"), parseSchema, parseOpts)).as("e"))

  /** The four gates as (reject reason, reject predicate), in the order a
    * row is tested; the only place they are written. `corrupt_json` reads
    * the parsed struct `e`, the rest read top-level wire and enrichment
    * columns. No predicate is ever null, so "first gate that holds" (a
    * CASE) and "no gate holds" (a conjunction) split rows the same way.
    */
  private val gates: Seq[(String, Column)] = Seq(
    // F1 (Streamingdag.py:233-234): a null line parses to a null struct,
    // malformed JSON to one whose corrupt-record column is set
    "corrupt_json" -> (col("e").isNull || col(s"e.$corruptCol").isNotNull),
    // F2 (Streamingdag.py:175-181): the reference checks key presence, so
    // a JSON null id would pass as "None"; null counts as missing here
    // (divergence documented in SURVEY §7.5)
    "missing_required_field" ->
      EventSchema.requiredFields.map(col(_).isNull).reduce(_ || _),
    // F3 (Streamingdag.py:227-231)
    "low_quality" -> (col("data_quality_score") < 50),
    // F4: the typed sink needs a real TIMESTAMP (BigQuery's streaming
    // insert rejects such rows in the reference, SURVEY §7.5); the
    // enrichment still gives them event_hour=0
    "unparseable_timestamp" -> try_to_timestamp(col("timestamp")).isNull)
  private val rejects: Map[String, Column] = gates.toMap

  /** P2+F1: the parsed wire fields of every row that is not corrupt JSON. */
  def parse(raw: DataFrame): DataFrame =
    parsed(raw).filter(!rejects("corrupt_json")).select("e.*").drop(corruptCol)

  /** F2 over parsed wire fields. */
  def validate(df: DataFrame): DataFrame = df.filter(!rejects("missing_required_field"))

  /** P8: event_hour with the reference's error→0 fallback
    * (Streamingdag.py:207-212). try_to_timestamp parses ISO-8601 with 'Z'
    * natively (the reference's Z→+00:00 fixup, Streamingdag.py:209);
    * unparseable input → null → 0 (try_* keeps this semantics under
    * Spark 4's default ANSI mode).
    */
  def eventHour(tsString: Column): Column =
    coalesce(hour(try_to_timestamp(tsString)), lit(0)).cast("int")

  /** P9: data-quality score (Streamingdag.py:214-225). Four independent
    * +25 conditions; Python truthiness requires explicit empty-string
    * checks, not just null checks.
    */
  def qualityScore(
      userId: Column,
      message: Column,
      value: Column,
      timestamp: Column): Column = {
    val c1 = when(userId.isNotNull && userId =!= "" && userId =!= "unknown", 25)
      .otherwise(0)
    val c2 = when(message.isNotNull && message =!= "", 25).otherwise(0)
    val c3 = when(value > 0, 25).otherwise(0)
    val c4 = when(timestamp.isNotNull && timestamp.cast("string") =!= "", 25)
      .otherwise(0)
    (c1 + c2 + c3 + c4).cast("int")
  }

  /** P4–P9 over a parsed (wire-schema) DataFrame → sink-schema rows.
    * `deterministic = true` replaces processed_at's current_timestamp()
    * with the parsed event timestamp so oracle comparisons stay stable
    * (SURVEY §7.5: processed_at nondeterminism).
    */
  def enrich(df: DataFrame, deterministic: Boolean = false): DataFrame = {
    val ts = try_to_timestamp(col("timestamp"))
    val processedAt = if (deterministic) ts else current_timestamp()
    df.withColumn("value", coalesce(col("value").cast("double"), lit(0.0)))
      .withColumn("processed_at", processedAt)
      .withColumn("message_length", length(col("message")).cast("int"))
      .withColumn("event_hour", eventHour(col("timestamp")))
      .withColumn(
        "data_quality_score",
        qualityScore(col("user_id"), col("message"), col("value"),
          col("timestamp")))
  }

  /** F3 over enriched rows. */
  def qualityFilter(df: DataFrame): DataFrame = df.filter(!rejects("low_quality"))

  /** One pass of the whole chain over raw JSON lines (column `value`):
    * `raw` (the line), the sink columns with a typed `timestamp`, and
    * `reject_reason` — the first gate the row fails, null when it passes
    * all four. Both sinks are filters over this frame.
    */
  def classify(raw: DataFrame, deterministic: Boolean = false): DataFrame = {
    val (firstReason, firstHolds) = gates.head
    val rejectReason = gates.tail.foldLeft(when(firstHolds, firstReason)) {
      case (chain, (reason, holds)) => chain.when(holds, reason)
    }
    enrich(parsed(raw).select(col("raw"), col("e"), col("e.*")), deterministic)
      .withColumn("reject_reason", rejectReason)
      .withColumn("timestamp", try_to_timestamp(col("timestamp")))
      .select(col("raw") +: EventSchema.sinkColumns.map(col) :+ col("reject_reason"): _*)
  }

  /** Full chain: raw JSON lines → the sink rows that pass every gate
    * (the Spark twin of the whole Beam pipeline body,
    * Streamingdag.py:285-308). Works identically on batch and streaming
    * DataFrames — the same logical plan is incrementalized by Structured
    * Streaming.
    */
  def fromRawJson(raw: DataFrame, deterministic: Boolean = false): DataFrame =
    classify(raw, deterministic).filter(col("reject_reason").isNull)
      .select(EventSchema.sinkColumns.map(col): _*)

  /** K4: dead-letter split — every row `fromRawJson` drops, as the raw
    * line and its `reject_reason`, for a quarantine sink
    * (Streamingdag.py:179-181, :230-231, :233-236 log-and-drop paths,
    * made durable).
    */
  def deadLetter(raw: DataFrame): DataFrame =
    classify(raw).filter(col("reject_reason").isNotNull)
      .select(col("raw"), col("reject_reason"))
}

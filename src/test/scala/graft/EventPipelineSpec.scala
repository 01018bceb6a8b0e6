package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops.EventPipeline

/** Reference-semantics tests for the parse→validate→enrich→filter chain.
  * Edge cases are the reference's own error paths (SURVEY §5.2-1):
  * corrupt JSON dropped (Streamingdag.py:233-234), missing required field
  * dropped (:175-181), unparseable timestamp → event_hour=0 (:207-212),
  * score boundaries and the ≥50 gate (:214-229), unknown keys ignored
  * (:319).
  */
class EventPipelineSpec extends SparkTestBase {
  import spark.implicits._

  // The control-plane smoke events (Streamingdag.py:384-404 observable
  // shape): one minimal, one with optional purchase fields.
  private val dagMsg1 =
    """{"id":"test-dag-001","timestamp":"2024-01-15T10:00:00Z","message":"DAG test message 1","user_id":"dag_tester","event_type":"test","value":1.0,"source":"airflow_dag"}"""
  private val dagMsg2 =
    """{"id":"test-dag-002","timestamp":"2024-01-15T10:05:00Z","message":"DAG test message 2","user_id":"dag_tester","event_type":"purchase","value":99.99,"source":"airflow_dag","product_id":"test_product"}"""

  private def run(msgs: String*) =
    EventPipeline.fromRawJson(msgs.toDF("value"), deterministic = true)

  test("DAG smoke messages flow through with score 100") {
    val out = run(dagMsg1, dagMsg2).orderBy("id").collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert(r1.getAs[String]("id") == "test-dag-001")
    assert(r1.getAs[Int]("data_quality_score") == 100)
    assert(r1.getAs[Int]("event_hour") == 10)
    assert(r1.getAs[Int]("message_length") == "DAG test message 1".length)
    assert(r1.getAs[String]("source") == "airflow_dag")
    assert(out(1).getAs[String]("product_id") == "test_product")
    assert(out(1).getAs[Double]("value") == 99.99)
  }

  test("corrupt JSON is dropped") {
    assert(run("{not json", dagMsg1).count() == 1)
  }

  test("missing required field is dropped") {
    val noUser =
      """{"id":"x","timestamp":"2024-01-15T10:00:00Z","message":"m","event_type":"t","value":5.0}"""
    assert(run(noUser).count() == 0)
  }

  test("unknown JSON keys are ignored (BigQuery ignoreUnknownValues twin)") {
    val extra =
      """{"id":"x","timestamp":"2024-01-15T10:00:00Z","message":"m","user_id":"u","event_type":"t","value":5.0,"mystery_key":"zap"}"""
    val out = run(extra)
    assert(out.count() == 1)
    assert(!out.columns.contains("mystery_key"))
  }

  test("quality score boundaries and the >=50 gate") {
    def msg(user: String, message: String, value: Double) =
      s"""{"id":"x","timestamp":"2024-01-15T10:00:00Z","message":"$message","user_id":"$user","event_type":"t","value":$value}"""
    // all four conditions hold → 100
    assert(run(msg("u", "m", 1.0)).select("data_quality_score").as[Int].head() == 100)
    // value=0 fails its check (+25 lost) → 75
    assert(run(msg("u", "m", 0.0)).select("data_quality_score").as[Int].head() == 75)
    // value=0 and user "unknown" → 50, still passes the gate
    assert(run(msg("unknown", "m", 0.0)).select("data_quality_score").as[Int].head() == 50)
    // empty message too → 25 → dropped by the gate
    assert(run(msg("unknown", "", 0.0)).count() == 0)
  }

  test("unparseable timestamp → event_hour=0 in the enrichment (pre-typed form)") {
    val bad = Seq(("x", "not-a-timestamp", "m", "u", "t", 1.0))
      .toDF("id", "timestamp", "message", "user_id", "event_type", "value")
    val enriched = EventPipeline.enrich(bad, deterministic = true)
    assert(enriched.select("event_hour").as[Int].head() == 0)
    // ...and the typed sink path drops it (needs a real TIMESTAMP)
    val asJson =
      """{"id":"x","timestamp":"not-a-timestamp","message":"m","user_id":"u","event_type":"t","value":1.0}"""
    assert(run(asJson).count() == 0)
  }

  test("dead-letter split tags each drop reason") {
    val lowQ =
      """{"id":"x","timestamp":"2024-01-15T10:00:00Z","message":"","user_id":"unknown","event_type":"t","value":0.0}"""
    val noField = """{"id":"x","timestamp":"2024-01-15T10:00:00Z"}"""
    val badTs =
      """{"id":"x","timestamp":"not-a-date","message":"m","user_id":"u","event_type":"t","value":1.0}"""
    def msg(fields: String) =
      s"""{"id":"x","message":"m","user_id":"u","event_type":"t",$fields}"""
    // each input with the first gate it fails, in the declared order
    // corrupt_json → missing_required_field → low_quality → unparseable_timestamp
    // (None: accepted)
    val cases: Seq[(String, Option[String])] = Seq(
      "{corrupt" -> Some("corrupt_json"),
      noField -> Some("missing_required_field"),
      lowQ -> Some("low_quality"),
      badTs -> Some("unparseable_timestamp"),
      dagMsg1 -> None,
      (null: String) -> Some("corrupt_json"),
      "" -> Some("corrupt_json"),
      s"[$dagMsg1]" -> Some("corrupt_json"),
      msg(""""timestamp":"2024-01-15T10:00:00Z","value":"ten"""") -> Some("corrupt_json"),
      """{"id":"x","timestamp":"2024-01-15T10:00:00Z","message":"m","user_id":null,"event_type":"t","value":1.0}"""
        -> Some("missing_required_field"),
      msg(""""timestamp":"","value":1.0""") -> Some("unparseable_timestamp"),
      msg(""""timestamp":1705312800,"value":1.0""") -> Some("unparseable_timestamp"),
      // fails two gates: no message (F2) and a score of 25 (F3)
      """{"id":"x","timestamp":"2024-01-15T10:00:00Z","user_id":"unknown","event_type":"t","value":0.0}"""
        -> Some("missing_required_field"),
      // fails two gates: a score of 25 (F3) and a junk timestamp (F4)
      """{"id":"x","timestamp":"junk","message":"","user_id":"unknown","event_type":"t","value":0.0}"""
        -> Some("low_quality"))
    val input = cases.map(_._1).toDF("value")
    val dl = EventPipeline.deadLetter(input)
    val byReason = dl.groupBy("reject_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byReason ==
      cases.flatMap(_._2).groupBy(identity).map { case (r, rs) => r -> rs.size.toLong })
    assert(dl.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      cases.collect { case (line, Some(reason)) => (line, reason) }.toSet)
    // main-path + dead-letter outputs partition the input: nothing vanishes
    val kept = EventPipeline.fromRawJson(input, deterministic = true).count()
    assert(kept == cases.count(_._2.isEmpty))
    assert(kept + byReason.values.sum == cases.size)
  }

  test("sink schema column order matches the declared 19-column table") {
    val out = run(dagMsg1)
    assert(out.columns.toSeq == graft.schema.EventSchema.sinkColumns)
  }
}

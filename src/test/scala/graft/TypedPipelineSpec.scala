package graft

import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import graft.ops.{EventPipeline, TypedPipeline}

/** SURVEY §2.12 cross-check: the typed DoFn twin must be row-for-row
  * identical to the declarative Column pipeline over a generator-driven
  * wire corpus that covers every drop path (corrupt JSON, missing
  * required keys, non-numeric value, unparseable/empty timestamps, low
  * quality) and the coercion corners (numeric ids, null optionals,
  * multiple timestamp formats).
  */
class TypedPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new ObjectMapper

  private def corpus(seed: Int, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    val timestamps = Seq(
      "2024-01-15T10:00:00Z",
      "2024-02-01T03:04:05.123456Z",
      "2024-01-15 10:00:00",
      "2024-01-15T23:59:59",
      "2024-03-10",
      "not a timestamp",
      "")
    (0 until n).map { i =>
      rnd.nextInt(12) match {
        case 0 => s"{corrupt json $i"
        case 1 => // missing required key (no id)
          s"""{"timestamp":"2024-01-15T10:00:00Z","message":"m","user_id":"u","event_type":"t"}"""
        case 2 => // JSON-null required key counts as missing
          s"""{"id":null,"timestamp":"2024-01-15T10:00:00Z","message":"m","user_id":"u","event_type":"t"}"""
        case 3 => // non-numeric value poisons the row (PERMISSIVE parity)
          s"""{"id":"bad-val-$i","timestamp":"2024-01-15T10:00:00Z","message":"m","user_id":"u","event_type":"t","value":"not-a-number"}"""
        case 4 => "[1, 2, 3]" // non-object JSON
        case _ =>
          val node = mapper.createObjectNode
          if (rnd.nextBoolean()) node.put("id", s"id-$i")
          else node.put("id", i) // numeric id → stringified by both paths
          node.put("timestamp", timestamps(rnd.nextInt(timestamps.length)))
          node.put("message",
            // includes a non-BMP emoji: length() counts code points, and
            // the typed twin must agree (codePointCount, not String.length)
            Seq(s"msg $i", "", """he said "hi" there""", "🎉 party")(rnd.nextInt(4)))
          node.put("user_id", Seq(s"user_$i", "", "unknown")(rnd.nextInt(3)))
          node.put("event_type", "click")
          rnd.nextInt(3) match {
            case 0 => node.put("value", rnd.nextDouble() * 100)
            case 1 => node.putNull("value")
            case 2 => () // absent
          }
          if (rnd.nextBoolean()) node.put("product_id", s"p$i")
          if (rnd.nextBoolean()) node.putNull("source")
          node.toString
      }
    }
  }

  test("typed DoFn twin is row-for-row identical to the Column pipeline") {
    val lines = corpus(seed = 7, n = 500)
    val ds = spark.createDataset(lines)
    val typed = TypedPipeline.parseEvents(ds, deterministic = true).toDF()
    val column = EventPipeline.fromRawJson(ds.toDF(), deterministic = true)
    assert(typed.columns.toSeq == column.columns.toSeq)
    val a = typed.collect().map(_.toString).sorted.toSeq
    val b = column.collect().map(_.toString).sorted.toSeq
    assert(a.size == b.size, s"typed=${a.size} column=${b.size}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\ntyped : $x\ncolumn: $y") }
    assert(a.nonEmpty) // the corpus must actually exercise the keep path
  }

  test("every drop reason drops in both implementations") {
    val drops = Seq(
      "{nope",
      """{"timestamp":"2024-01-15T10:00:00Z","message":"m","user_id":"u","event_type":"t"}""",
      """{"id":"a","timestamp":"","message":"","user_id":"","event_type":"t","value":0}""",
      """{"id":"a","timestamp":"junk","message":"m","user_id":"u","event_type":"t","value":1}""",
      """{"id":"a","timestamp":"2024-01-15T10:00:00Z","message":"m","user_id":"u","event_type":"t","value":"x"}""")
    val ds = spark.createDataset(drops)
    // "junk" ts keeps score 100 but fails the typed-sink gate; the rest
    // die earlier — both paths must agree the keep-count is zero
    assert(TypedPipeline.parseEvents(ds, deterministic = true).count() == 0)
    assert(EventPipeline.fromRawJson(ds.toDF(), deterministic = true).count() == 0)
  }
}

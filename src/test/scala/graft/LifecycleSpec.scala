package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.stream.{Lifecycle, Pipeline}

/** The control-plane helpers on finished and file-sinked queries: the
  * status sensor answers a terminated query at once, and the dropped-row
  * counter only compares input with sinks that report their output.
  */
class LifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private def wire(id: String): String =
    s"""{"id":"$id","timestamp":"2024-01-15T10:00:00Z","message":"lifecycle test $id","user_id":"lc_tester","event_type":"test","value":1.0,"source":"spec"}"""

  /** Waits for the listener bus to deliver `n` input rows to `m`. */
  private def awaitInput(m: Lifecycle.PipelineMetrics, n: Long): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (m.inputRows.get < n && System.nanoTime() < deadline) Thread.sleep(20)
    assert(m.inputRows.get == n)
  }

  private def textSource(dir: String, msgs: Seq[String]): String = {
    val srcDir = s"$dir/in"
    new java.io.File(srcDir).mkdirs()
    Files.writeString(Paths.get(s"$srcDir/batch.jsonl"), msgs.mkString("", "\n", "\n"))
    srcDir
  }

  test("awaitActive returns within seconds for an AvailableNow query that finished") {
    val dir = Files.createTempDirectory("graft_lifecycle_avnow").toString
    val q = Pipeline.startSink(
      Pipeline.process(Pipeline.fromTextDir(spark, textSource(dir, Seq(wire("a"), wire("b"))))),
      s"$dir/out", s"$dir/ckpt", trigger = Trigger.AvailableNow())
    try {
      assert(q.awaitTermination(60000), "AvailableNow query did not stop on its own")
      val t0 = System.nanoTime()
      val active = Lifecycle.awaitActive(q, timeoutMs = 60000)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(active, "a query that made progress and ended cleanly reads as true")
      assert(secs < 5.0, f"awaitActive took $secs%.1f s on a terminated query")
    } finally if (q.isActive) q.stop()
  }

  test("droppedRows counts filtered rows on a memory sink and none on a parquet sink") {
    implicit val ctx = spark.sqlContext
    val msgs = Seq(wire("m1"), wire("m2"), "{corrupt json")

    val mem = Lifecycle.register(spark)
    val input = MemoryStream[String]
    val mq = Pipeline.process(input.toDF())
      .writeStream.format("memory").queryName("lifecycle_dropped_sink")
      .outputMode("append").start()
    try {
      input.addData(msgs: _*)
      mq.processAllAvailable()
      awaitInput(mem, 3)
      assert(mem.outputRows.get == 2)
      assert(mem.droppedRows == 1, "the corrupt row is the one dropped")
    } finally {
      mq.stop()
      spark.streams.removeListener(mem)
    }

    // the parquet file sink reports numOutputRows = -1: its rows are not
    // known to be dropped, so they must not count as such
    val dir = Files.createTempDirectory("graft_lifecycle_parquet").toString
    val file = Lifecycle.register(spark)
    val fq = Pipeline.startSink(
      Pipeline.process(Pipeline.fromTextDir(spark, textSource(dir, msgs))),
      s"$dir/out", s"$dir/ckpt", trigger = Trigger.AvailableNow())
    try {
      assert(fq.awaitTermination(60000))
      awaitInput(file, 3)
      assert(file.droppedRows == 0)
      assert(spark.read.parquet(s"$dir/out").count() == 2)
    } finally {
      if (fq.isActive) fq.stop()
      spark.streams.removeListener(file)
    }
  }
}

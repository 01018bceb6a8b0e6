package graft.stream

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Control-plane twins of the reference's Airflow operators (SURVEY §3.2):
  * job-status sensing, health metrics, processed/error counters.
  */
object Lifecycle {

  /** W7: the DataflowJobStatusSensor twin — poll until the query is
    * actively processing (or the timeout lapses). The reference polls for
    * JOB_STATE_RUNNING every 30 s up to 600 s (Streamingdag.py:368-377).
    * A query that has already terminated (AvailableNow/Once triggers stop
    * on their own) is answered at once: true iff it made progress and
    * ended without an exception. A query still active at the timeout
    * without progress reads as true, as before.
    */
  def awaitActive(
      query: StreamingQuery,
      timeoutMs: Long = 600000,
      pollMs: Long = 1000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (query.isActive && query.recentProgress.isEmpty) {
      if (System.nanoTime() >= deadline) return true
      Thread.sleep(pollMs)
    }
    query.recentProgress.nonEmpty && query.exception.isEmpty
  }

  /** W8: processed/error record counters, the Spark twin of the Beam
    * `Metrics.counter('pipeline', ...)` the README documents
    * (README.md:331-340). Input rows come from query progress; rows the
    * pipeline dropped are inferred as input - output per micro-batch,
    * over the micro-batches whose sink reports its output — file sinks
    * report `numOutputRows = -1`, and counting their input would read
    * every row they wrote as dropped.
    */
  final class PipelineMetrics extends StreamingQueryListener {
    val inputRows = new AtomicLong(0)
    val outputRows = new AtomicLong(0)
    private val reportedInputRows = new AtomicLong(0)

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      // output before input, and inputRows last: a concurrent reader
      // that sees a progress's input rows sees its output too, and never
      // a transiently inflated droppedRows
      Option(e.progress.sink).filter(_.numOutputRows >= 0).foreach { s =>
        outputRows.addAndGet(s.numOutputRows)
        reportedInputRows.addAndGet(e.progress.numInputRows)
      }
      inputRows.addAndGet(e.progress.numInputRows)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    def droppedRows: Long = math.max(0L, reportedInputRows.get - outputRows.get)
  }

  def register(spark: SparkSession): PipelineMetrics = {
    val m = new PipelineMetrics
    spark.streams.addListener(m)
    m
  }
}

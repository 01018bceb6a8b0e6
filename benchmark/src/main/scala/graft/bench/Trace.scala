package graft.bench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * precision; `parent` is the id of the enclosing span, -1 for a root.
  * `attrs` carries counters (tasks, task time, bytes) for job and stage
  * spans and input rows for micro-batch spans.
  */
final case class Span(
    id: Int,
    name: String,
    kind: String,
    start: Double,
    end: Double,
    var parent: Int,
    attrs: mutable.Map[String, Double] = mutable.Map.empty) {
  def ms: Double = end - start
}

/** In-memory span recorder fed by the harness and by three Spark
  * listeners (jobs/stages/tasks, Catalyst phases of each executed plan,
  * streaming progress). Nothing here changes what the program does: the
  * listeners only read events Spark already posts.
  *
  * Attribution: jobs of a micro-batch carry the streaming query id and
  * batch id as local properties and hang under that batch's span. Every
  * other job, and every plan's phases, hang under the harness span that
  * contains their start time within the current call ([[beginCall]]).
  */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Records a finished interval. */
  def record(name: String, kind: String, start: Double, end: Double,
      parent: Int = -1): Span = synchronized {
    val s = Span(spans.size, name, kind, start, end, parent)
    spans += s
    s
  }

  // ---- call context (one query call at a time: a single closed-loop client)
  private val unplaced = mutable.ArrayBuffer.empty[Span]

  /** Starts attributing listener spans to a new call. */
  def beginCall(): Unit = synchronized { unplaced.clear() }

  /** Places the call's listener spans under the tightest of `harness`
    * spans containing their start (ms clock granularity tolerated).
    */
  def endCall(harness: Seq[Span]): Unit = synchronized {
    unplaced.foreach { s =>
      val within = harness.filter(h => s.start >= h.start - 1 && s.start <= h.end + 1)
      if (within.nonEmpty) s.parent = within.minBy(_.ms).id
    }
    unplaced.clear()
  }

  // ---- job/stage/task listener
  private val jobSpans = mutable.Map.empty[Int, (Double, Seq[Int], Option[(String, Long)])]
  private val stageAttrs = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val stageSpans = mutable.Map.empty[Int, Span]
  private val batchSpans = mutable.Map.empty[(String, Long), Span]
  private val pendingJobs = mutable.Map.empty[(String, Long), mutable.ArrayBuffer[Span]]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val stream = for {
        p <- props
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield (q, b.toLong)
      jobSpans(e.jobId) = (e.time.toDouble, e.stageIds, stream)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpans.remove(e.jobId).foreach { case (start, stageIds, stream) =>
        val job = record(s"job ${e.jobId}", "job", start, e.time.toDouble)
        Seq("stages", "tasks", "task_ms", "shuffle_read_bytes", "shuffle_write_bytes",
          "spill_bytes").foreach(job.attrs(_) = 0.0)
        stageIds.foreach { sid =>
          stageSpans.remove(sid).foreach(_.parent = job.id)
          stageAttrs.remove(sid).foreach { a =>
            job.attrs("stages") += 1
            a.foreach { case (k, v) => if (k != "stages") job.attrs(k) += v }
          }
        }
        stream match {
          case Some(key) => batchSpans.get(key) match {
            case Some(b) => job.parent = b.id
            case None => pendingJobs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += job
          }
          case None => unplaced += job
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        val a = stageAttrs.getOrElseUpdate(i.stageId, mutable.Map.empty[String, Double])
        a("tasks") = a.getOrElse("tasks", 0.0) + i.numTasks
        for (s <- i.submissionTime; c <- i.completionTime) {
          val st = record(s"stage ${i.stageId}", "stage", s.toDouble, c.toDouble)
          st.attrs ++= a
          stageSpans(i.stageId) = st
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      Option(e.taskMetrics).foreach { m =>
        val a = stageAttrs.getOrElseUpdate(e.stageId, mutable.Map.empty[String, Double])
        def inc(k: String, v: Double): Unit = a(k) = a.getOrElse(k, 0.0) + v
        inc("task_ms", m.executorRunTime.toDouble)
        inc("shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        inc("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  // ---- Catalyst phases of every executed plan
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        qe.tracker.phases.foreach { case (phase, p) =>
          unplaced += record(phase, phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- streaming progress: one span per micro-batch, phases laid out in
  // execution order inside it (progress reports durations, not offsets)
  val streamPhases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
  /** Query id → the label the harness gave it ("main", "dlq"). */
  val streamNames = new java.util.concurrent.ConcurrentHashMap[String, String]()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val label = Option(streamNames.get(p.id.toString)).getOrElse(p.id.toString)
        val b = record(s"$label batch ${p.batchId}", "batch", start,
          start + d.getOrElse("triggerExecution", 0.0))
        b.attrs("rows") = p.numInputRows.toDouble
        var t = start
        streamPhases.foreach { ph =>
          val ms = d.getOrElse(ph, 0.0)
          record(ph, ph, t, t + ms, b.id)
          t += ms
        }
        val key = (p.id.toString, p.batchId)
        batchSpans(key) = b
        pendingJobs.remove(key).foreach(_.foreach(_.parent = b.id))
      }
  }

  /** The program's own input/output row counter (`Lifecycle.register`). */
  @volatile var pipelineMetrics: Option[graft.stream.Lifecycle.PipelineMetrics] = None

  def register(spark: SparkSession): Unit = {
    pipelineMetrics = Some(graft.stream.Lifecycle.register(spark))
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Removes the listeners `register` added; the spans stay. */
  def unregister(spark: SparkSession): Unit = {
    pipelineMetrics.foreach(spark.streams.removeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def all: Seq[Span] = synchronized(spans.toList)

  def children(of: Span): Seq[Span] = synchronized(spans.filter(_.parent == of.id).toList)

  /** Descendants of `root` (excluding it), depth first. */
  def under(root: Span): Seq[Span] = synchronized {
    val byParent = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] =
      byParent.getOrElse(s.id, Nil).toSeq.flatMap(c => c +: go(c))
    go(root)
  }

  /** Span duration minus the union of its children's intervals. */
  def selfMs(s: Span): Double = {
    val cs = children(s).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    cs.foreach { case (a, b) =>
      if (hi.isNaN || a > hi) {
        if (!hi.isNaN) covered += hi - lo
        lo = a; hi = b
      } else hi = math.max(hi, b)
    }
    if (!hi.isNaN) covered += hi - lo
    math.max(0.0, s.ms - covered)
  }

  /** Self time summed per span kind, over the trees under `roots`. */
  def selfByKind(roots: Seq[Span]): Map[String, Double] = {
    val spansIn = roots.flatMap(r => r +: under(r))
    spansIn.groupBy(_.kind).map { case (k, ss) => k -> ss.map(selfMs).sum }
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "attrs" -> s.attrs.toMap))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

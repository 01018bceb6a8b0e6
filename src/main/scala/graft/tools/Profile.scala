package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1): per-stage breakdown of named queries.
  *
  * Mirrors Bench's session + isolation discipline (caches cleared before
  * every pass, untimed warm-up, timed passes) and prints, for the first
  * timed pass only, each stage's wall time, task count, input/shuffle
  * volumes — the evidence that says whether a slow query is compute,
  * exchange, or job-count bound. Optionally dumps explain("formatted") next to the numbers.
  *
  *   sbt "runMain graft.tools.Profile /root/testdata/sf0.1 q_a,q_b [plandir]"
  */
object Profile {
  private case class StageRow(
      id: Int, name: String, ms: Long, tasks: Int,
      inMb: Double, srMb: Double, swMb: Double, outRec: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val planDir = if (args.length > 2) Some(args(2)) else None
    val spark = graft.Session.local()
    // dev aid: A/B a runtime conf hypothesis without recompiling —
    // SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2" (a static conf throws here)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })

    val stages = ArrayBuffer.empty[StageRow]
    var jobs = 0
    var record = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (record) jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = s.stageInfo
          val m = i.taskMetrics
          val ms = (for {a <- i.completionTime; b <- i.submissionTime}
            yield a - b).getOrElse(-1L)
          stages += StageRow(i.stageId, i.name.takeWhile(_ != '\n'), ms,
            i.numTasks,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.outputMetrics.recordsWritten max m.shuffleWriteMetrics.recordsWritten)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // SPARK_GRAFT_PLAN_ONLY=1: dump explain("formatted") per query and
    // skip execution — the plans/r12 before/after artifact generator
    val planOnly = sys.env.get("SPARK_GRAFT_PLAN_ONLY").contains("1")
    // every pass starts with empty caches, outside its timed window, so
    // no pass reads (or re-caches) what an earlier one persisted
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      graft.SparkEntry.clearCaches()
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      planDir.foreach { d =>
        clearCaches()
        Files.createDirectories(Paths.get(d))
        val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
        val df = fn(spark, sfDir)
        Files.writeString(Paths.get(d, s"$name$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      if (planOnly) {
        println(s"[profile] plan-only: $name")
      } else {
      clearCaches()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        System.err.println(s"[profile] $name warm-up failed: ${e.getMessage}") }
      // THREE timed passes (the Bench throughput probe's best-of
      // discipline): per-query sf0.1 times swing ±40% run-to-run on this
      // host, so a single pass cannot support a before/after claim; the
      // min is the engine's capability. Stage breakdown is of pass 1.
      val times = (1 to 3).map { pass =>
        clearCaches()
        System.gc()
        if (pass == 1) { stages.clear(); jobs = 0; record = true }
        spark.sparkContext.setJobDescription(s"profile:$name")
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          System.err.println(s"[profile] $name failed: ${e.getMessage}") }
        val sec = (System.nanoTime() - t0) / 1e9
        record = false
        spark.sparkContext.setJobDescription(null)
        sec
      }
      // listener events are async; let the queue drain before reading
      Thread.sleep(300)
      val sec = times.min
      println(f"%n== $name%s  total=$sec%.3f s  passes=${times.map(t => f"$t%.3f").mkString("/")}%s  jobs=$jobs%d  stages=${stages.size}%d")
      val byTime = stages.sortBy(-_.ms)
      val sumMs = stages.map(_.ms).sum
      println(f"   stage-ms-sum=$sumMs%d (parallel stages overlap)")
      byTime.take(14).foreach { s =>
        println(f"   ${s.ms}%6d ms  t=${s.tasks}%3d  in=${s.inMb}%8.1f MB  sr=${s.srMb}%8.1f MB  sw=${s.swMb}%8.1f MB  rec=${s.outRec}%10d  [${s.id}%d] ${s.name.take(90)}%s")
      }
      }
    }
    spark.stop()
  }
}

package graft.bench

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.EventPipeline
import graft.stream.Pipeline

/** The streaming plane: a text-directory source drained by the main sink
  * (`Pipeline.startSink`, date-partitioned parquet) and the dead-letter
  * sink (`Pipeline.startDeadLetterSink`) together, as a deployment runs
  * them. All times are epoch milliseconds.
  */
object Ingest {
  // ingest_backlog: one drain is this many files of this many events
  val BacklogFiles = 20
  val BacklogPerFile = 10000
  val MinDrains = 4
  val DrainMs = 3000.0 // about one drain on a 4-core host
  // ingest_paced: open-loop schedule and the sinks' trigger interval
  val PacedIntervalMs = 50.0
  val PacedPerFile = 350
  val PacedTriggerMs = 1000L

  /** One run of both sinks over a source directory. */
  final case class Sinks(dir: Path, main: StreamingQuery, dlq: StreamingQuery) {
    def mainPath: Path = dir.resolve("main")
    def dlqPath: Path = dir.resolve("dlq")
    def ckpt(q: String): Path = dir.resolve(s"ckpt-$q")
    def await(): Unit = { main.awaitTermination(); dlq.awaitTermination() }
    def stop(): Unit = { main.stop(); dlq.stop() }
  }

  def start(spark: SparkSession, src: Path, dir: Path, trigger: Trigger,
      trace: Option[Trace]): Sinks = {
    val raw = Pipeline.fromTextDir(spark, src.toString)
    val main = Pipeline.startSink(Pipeline.process(raw), dir.resolve("main").toString,
      dir.resolve("ckpt-main").toString, trigger)
    val dlq = Pipeline.startDeadLetterSink(raw, dir.resolve("dlq").toString,
      dir.resolve("ckpt-dlq").toString, trigger = trigger)
    trace.foreach { t =>
      t.streamNames.put(main.id.toString, "main")
      t.streamNames.put(dlq.id.toString, "dlq")
    }
    Sinks(dir, main, dlq)
  }

  private def mtimeMs(p: Path): Double =
    Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0

  private def logFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.list(dir))(_.iterator.asScala.toList)
      .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))

  /** Batch id → time its commit was written, from the checkpoint's commit log. */
  def commitTimes(ckpt: Path): Map[Long, Double] =
    logFiles(ckpt.resolve("commits"))
      .map(p => p.getFileName.toString.toLong -> mtimeMs(p)).toMap

  /** Batch id → time its offsets were logged, i.e. the batch began. */
  def batchStarts(ckpt: Path): Map[Long, Double] =
    logFiles(ckpt.resolve("offsets"))
      .map(p => p.getFileName.toString.toLong -> mtimeMs(p)).toMap

  /** Source file name → batch id that read it, from the file source's log. */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    logFiles(ckpt.resolve("sources").resolve("0")).flatMap { p =>
      Files.readAllLines(p).asScala.collect {
        case entry(path, batch) => path.split('/').last -> batch.toLong
      }
    }.toMap
  }

  /** Counts actually sunk, per source file: accepted rows in the main sink
    * and dead-letter rows per reason.
    */
  def sunk(spark: SparkSession, s: Sinks): (Map[Int, Long], Map[(Int, String), Long]) = {
    // event ids embed the source file: s<seed>-f<file>-e<n>
    val fileOf = (c: String) => regexp_extract(col(c), "s\\d+-f(\\d+)-e", 1).cast("int")
    val main = spark.read.parquet(s.mainPath.toString)
      .groupBy(fileOf("id").as("f")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val dlq = spark.read.parquet(s.dlqPath.toString)
      .groupBy(fileOf("raw").as("f"), col("reject_reason")).count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    (main, dlq)
  }

  /** Files whose sunk counts differ from what the generator wrote. */
  def wrongFiles(spark: SparkSession, s: Sinks, expected: Map[Int, Wire.Expected]): Seq[Int] = {
    val (main, dlq) = sunk(spark, s)
    val known = expected.keySet
    val strays = (main.keySet ++ dlq.keySet.map(_._1)).diff(known).toSeq
    val bad = expected.toSeq.collect {
      case (f, e) if main.getOrElse(f, 0L) != e.accepted ||
          Wire.Reasons.exists(r => dlq.getOrElse((f, r), 0L) != e.rejected(r)) ||
          e.accepted + e.rejected.values.sum != e.events => f
    }
    (bad ++ strays).sorted
  }

  /** Parquet files and bytes both sinks wrote. */
  def sinkFiles(s: Sinks): (Int, Long) = {
    val files = Seq(s.mainPath, s.dlqPath).filter(Files.isDirectory(_)).flatMap { d =>
      Using.resource(Files.walk(d))(_.iterator.asScala.toList)
        .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata"))
    }
    (files.size, files.map(Files.size).sum)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Using.resource(Files.walk(p))(_.iterator.asScala.toList).reverse.foreach(Files.delete)
  }

  /** Open-loop generator: file k is published at `t0 + k * intervalMs`
    * whatever the system does, on its own thread; content is rendered
    * ahead of the due time, so only the atomic move sits on the schedule.
    * `late` holds, per file, how far past its due time the move landed.
    */
  final class Generator(seed: Long, files: Int, perFile: Int, intervalMs: Double,
      src: Path, staging: Path, clock: () => Double) extends Thread("bench-generator") {
    val due = new Array[Double](files)
    val late = new Array[Double](files)
    @volatile var expected: Map[Int, Wire.Expected] = Map.empty
    @volatile var t0: Double = 0.0
    setDaemon(true)

    override def run(): Unit = {
      val exp = Map.newBuilder[Int, Wire.Expected]
      var k = 0
      while (k < files) {
        val (bytes, e) = Wire.render(seed, k, perFile)
        exp += k -> e
        due(k) = t0 + k * intervalMs
        var wait = due(k) - clock()
        while (wait > 0) {
          LockSupport.parkNanos((wait * 1e6).toLong)
          wait = due(k) - clock()
        }
        Wire.publish(bytes, staging, src, Wire.fileName(k))
        late(k) = clock() - due(k)
        k += 1
      }
      expected = exp.result()
    }
  }

  private def lastCommit(s: Sinks): Double =
    (commitTimes(s.ckpt("main")).values ++ commitTimes(s.ckpt("dlq")).values).max

  /** ingest_backlog: drain a pre-written backlog under AvailableNow, again
    * and again into fresh sinks, as many times as make a run of `seconds`.
    */
  object Backlog extends IngestWorkload {
    def run(c: Ctx, r: Result): Double = {
      val src = c.work.resolve("backlog")
      deleteTree(src)
      val expected = Wire.writeBacklog(c.seed, BacklogFiles, BacklogPerFile, src,
        c.work.resolve("staging"))
      val events = Wire.total(expected).events.toDouble
      val rates, opMs, fresh = mutable.ArrayBuffer.empty[Double]
      var (files, bytes, dlqRows) = (0, 0L, 0L)
      val drains = c.ops(DrainMs, MinDrains)
      while (rates.size < drains) {
        val dir = c.work.resolve(s"drain-${rates.size}")
        val t0 = Clock.now()
        val s = Ingest.start(c.spark, src, dir, Trigger.AvailableNow(), c.trace)
        s.await()
        val drainMs = lastCommit(s) - t0
        rates += events / (drainMs / 1000.0)
        opMs += drainMs
        // every backlog file was there when the drain started and all of
        // them land in one main-sink commit: one freshness sample per drain
        fresh += commitTimes(s.ckpt("main")).values.max - t0
        r.attempted += 1
        val bad = wrongFiles(c.spark, s, expected)
        if (bad.nonEmpty) r.fail(s"drain ${rates.size}: wrong counts for files ${bad.take(5)}")
        val (f, b) = sinkFiles(s)
        files += f
        bytes += b
        if (c.trace.nonEmpty) dlqRows += c.spark.read.parquet(s.dlqPath.toString).count()
        deleteTree(dir)
      }
      r.samples("events_per_s") = rates.toSeq
      r.samples("op_ms") = opMs.toSeq
      r.samples("ops_per_s") = Seq(opMs.size / (opMs.sum / 1000.0))
      r.samples("freshness_ms") = fresh.toSeq
      r.detail("windows") = rates.size
      c.trace.foreach(t => streamLayers(t, r, events * rates.size, rates.size, files, bytes,
        dlqRows))
      1000.0 / Stats.median(rates.toSeq)
    }
  }

  /** ingest_paced: a generator thread publishes small files on a fixed
    * schedule while both sinks run on a short processing-time trigger.
    */
  object Paced extends IngestWorkload {
    def run(c: Ctx, r: Result): Double = {
      val src = Files.createDirectories(c.work.resolve("paced-src"))
      val staging = Files.createDirectories(c.work.resolve("paced-staging"))
      val dir = c.work.resolve("paced")
      deleteTree(dir)
      Using.resource(Files.list(src))(_.iterator.asScala.toList).foreach(Files.delete)
      val s = Ingest.start(c.spark, src, dir, Trigger.ProcessingTime(PacedTriggerMs), c.trace)
      // both queries are up and idle before the first file is due
      val deadline = Clock.now() + 30000
      while (Seq(s.main, s.dlq).exists(!_.status.message.startsWith("Waiting")) &&
          Clock.now() < deadline) Thread.sleep(20)
      val files = (c.seconds * 1000 / PacedIntervalMs).toInt
      val gen = new Generator(c.seed, files, PacedPerFile, PacedIntervalMs, src, staging,
        () => Clock.now())
      gen.t0 = Clock.now() + 50
      gen.start()
      gen.join()
      s.main.processAllAvailable()
      s.dlq.processAllAvailable()
      s.stop()

      val batchOf = fileBatches(s.ckpt("main"))
      val commits = commitTimes(s.ckpt("main"))
      val fresh = (0 until files).flatMap { k =>
        batchOf.get(Wire.fileName(k)).flatMap(commits.get).map(_ - gen.due(k))
      }
      r.attempted += files
      if (fresh.size < files) r.fail(s"${files - fresh.size} files never committed by the main sink")
      val bad = wrongFiles(c.spark, s, gen.expected)
      bad.take(10).foreach(f => r.fail(s"file $f: wrong sunk counts"))
      r.failed += math.max(0, bad.size - 10)
      val events = Wire.total(gen.expected).events.toDouble
      val mainStarts = batchStarts(s.ckpt("main"))
      val firstBatch = (mainStarts.values ++ batchStarts(s.ckpt("dlq")).values).min
      val windowMs = lastCommit(s) - firstBatch
      r.samples("events_per_s") = Seq(events / (windowMs / 1000.0))
      // an operation is one main-sink micro-batch, offsets logged to commit
      val batchMs = commits.toSeq.flatMap { case (b, end) => mainStarts.get(b).map(end - _) }
      r.samples("op_ms") = batchMs
      r.samples("ops_per_s") = Seq(batchMs.size / (windowMs / 1000.0))
      r.samples("freshness_ms") = fresh
      r.detail("offered_events_per_s") = PacedPerFile * 1000.0 / PacedIntervalMs
      r.detail("trigger_ms") = PacedTriggerMs
      r.layers("gen.late_ms_p99") = Stats.pct(gen.late.toSeq, 0.99)
      r.layers("gen.late_ms_max") = gen.late.max
      c.trace.foreach { t =>
        val (f, b) = sinkFiles(s)
        streamLayers(t, r, events, 1, f, b,
          c.spark.read.parquet(s.dlqPath.toString).count())
      }
      Stats.median(fresh)
    }
  }

  // ---- ops/EventPipeline stage costs, outside any stream

  /** Cumulative-prefix stage timings over a persisted wire frame: each
    * prefix is written to the no-op sink, which evaluates every column
    * (a count() would let Catalyst prune the enrichment away).
    */
  def stageCosts(spark: SparkSession, wireDir: Path, reps: Int): Map[String, Double] = {
    val wire = spark.read.text(wireDir.toString).persist()
    val rowsIn = wire.count().toDouble
    def timed(df: => DataFrame): Double = {
      val ms = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }
    val parse = () => EventPipeline.parse(wire)
    timed(EventPipeline.fromRawJson(wire)) // JIT and codegen warm-up
    val out = Map(
      "pipeline.parse_ms" -> timed(parse()),
      "pipeline.validate_ms" -> timed(EventPipeline.validate(parse())),
      "pipeline.enrich_ms" -> timed(EventPipeline.enrich(EventPipeline.validate(parse()))),
      "pipeline.accept_ms" -> timed(EventPipeline.fromRawJson(wire)),
      "pipeline.dead_letter_ms" -> timed(EventPipeline.deadLetter(wire)),
      "pipeline.rows_in" -> rowsIn,
      "pipeline.rows_accepted" -> EventPipeline.fromRawJson(wire).count().toDouble) ++
      EventPipeline.deadLetter(wire).groupBy("reject_reason").count().collect()
        .map(r => s"pipeline.rejected.${r.getString(0)}" -> r.getLong(1).toDouble)
    // the same chain as one task: the single-thread baseline
    val singleMs = timed(EventPipeline.fromRawJson(wire.coalesce(1)))
    wire.unpersist(blocking = true)
    out + ("pipeline.single_core_events_per_s" -> rowsIn / (singleMs / 1000.0))
  }
}

/** Set-up and warm-up shared by both ingest workloads: drain a backlog of
  * 5,000-event files through both sinks (4 files as the set-up operation;
  * 3 drains of 60 files to warm the JIT).
  */
trait IngestWorkload extends Workload {
  def firstOp(spark: SparkSession, work: Path, warmData: String, seed: Long): Unit =
    drain(spark, work, seed, 4)

  // the parse and write paths keep speeding up for the first million or so
  // events a JVM ingests, by about a third; the timed drains still sit on
  // the end of that slope, which is why a run does a fixed number of them
  def warm(spark: SparkSession, work: Path, data: String, seed: Long): Unit =
    (1 to 3).foreach(_ => drain(spark, work, seed, 60))

  private def drain(spark: SparkSession, work: Path, seed: Long, files: Int): Unit = {
    val src = work.resolve("src")
    Wire.writeBacklog(seed, files, 5000, src, work.resolve("staging"))
    Ingest.start(spark, src, work.resolve("sinks"), Trigger.AvailableNow(), None).await()
    Ingest.deleteTree(work)
  }

  /** Per-layer metrics of the streaming plane over `windows` measured
    * windows: micro-batch phases from the traced progress events, and
    * sink output counted on disk.
    */
  def streamLayers(t: Trace, r: Result, events: Double, windows: Int,
      sinkFiles: Int, sinkBytes: Double, dlqRows: Double): Unit = {
    val batches = t.all.filter(b => b.kind == "batch" && b.attrs.getOrElse("rows", 0.0) > 0)
    val byPhase = t.all.filter(s => s.parent >= 0 && batches.exists(_.id == s.parent))
      .groupBy(_.kind)
    val names = Map("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
      "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
      "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
    names.foreach { case (phase, n) =>
      val ms = byPhase.getOrElse(phase, Nil).map(_.ms)
      r.layers(s"stream.${n}_ms.p50") = Stats.median(ms)
      r.layers(s"stream.${n}_ms.sum") = ms.sum / windows
    }
    r.layers("stream.trigger_ms.p50") = Stats.median(batches.map(_.ms))
    r.layers("stream.trigger_ms.sum") = batches.map(_.ms).sum / windows
    r.layers("stream.batches") = batches.size.toDouble / windows
    r.layers("stream.rows_per_batch_p50") = Stats.median(batches.map(_.attrs("rows")))
    r.layers("stream.reads_per_event") = batches.map(_.attrs("rows")).sum / events
    r.layers("sink.files") = sinkFiles.toDouble / windows
    r.layers("sink.bytes_per_event") = sinkBytes / events
    r.layers("sink.files_per_batch") = sinkFiles.toDouble / batches.size
    r.layers("lifecycle.dropped_rows") =
      t.pipelineMetrics.map(_.droppedRows.toDouble).getOrElse(Double.NaN) / windows
    r.layers("lifecycle.dlq_rows") = dlqRows / windows
    r.detail("stream_batches") = batches.map(b => Map("name" -> b.name, "ms" -> b.ms,
      "rows" -> b.attrs("rows")))
  }
}


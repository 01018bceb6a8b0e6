package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

/** What one workload run hands back: operation counts, raw samples for
  * the end-to-end metrics, per-layer values (traced runs) and details.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val calls = mutable.ArrayBuffer.empty[Queries.Call]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def fail(why: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += why
  }

  /** Adds another result's operations to this one. */
  def absorb(o: Result): Unit = {
    attempted += o.attempted
    failed += o.failed
    failures ++= o.failures
    calls ++= o.calls
  }
}

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    work: Path,
    data: String,
    cpus: Int,
    trace: Option[Trace]) {

  /** How many operations of a nominal `opMs` make a run of `seconds`, at
    * least `min`. A run does this fixed amount of work, not as much as
    * fits in the time, so every run of the same code measures the same
    * operations at the same point of the JVM's warm-up, whatever the
    * host's load.
    */
  def ops(opMs: Double, min: Int): Int = math.max(min, math.ceil(seconds * 1000 / opMs).toInt)
}

/** A workload: its set-up operation (the first thing a fresh session
  * does), its JIT warm-up, and its measured run, which returns a cost in
  * ms (higher is slower) used to report tracing overhead.
  */
trait Workload {
  def firstOp(spark: SparkSession, work: Path, warmData: String, seed: Long): Unit
  def warm(spark: SparkSession, work: Path, data: String, seed: Long): Unit
  def run(c: Ctx, r: Result): Double
}

/** Benchmark JVM entry point. Arguments (all required):
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --cpus <n>
  *  --work <dir> --data <dir> --warm-data <dir> --out <file>`.
  * Writes one JSON result to `--out`; run.py turns it into metrics.
  */
object Main {
  val SetUps = 3

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    hwm / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = a("cpus").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val w: Workload = a("workload") match {
      case "ingest_backlog" => Ingest.Backlog
      case "ingest_paced" => Ingest.Paced
      case "query_light" => new QueryWorkload(Queries.Light, passMs = 6000)
      case "query_loops" => new QueryWorkload(Queries.Loops, passMs = 29000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(work)

    // Set-up, several times: build a fresh session and run the workload's
    // first operation on it; the first set-up also pays JVM start. Then
    // warm the JIT on every code path the run takes (not part of set-up).
    var spark: SparkSession = null
    val setups = (0 until SetUps).map { i =>
      val t0 = if (i == 0) jvmStart else Clock.now()
      if (spark != null) { SparkEntry.clearCaches(); spark.stop() }
      spark = session(cpus, work)
      w.firstOp(spark, work.resolve(s"setup-$i"), a("warm-data"), seed)
      (Clock.now() - t0) / 1000.0
    }
    val warmStart = Clock.now()
    w.warm(spark, work.resolve("warm"), a("data"), seed)
    val warmS = (Clock.now() - warmStart) / 1000.0
    Queries.clearCaches(spark)

    val r = new Result
    // wall seconds of each phase of this JVM, for the result file
    val phases = mutable.LinkedHashMap[String, Double]("setup" -> setups.sum, "warm" -> warmS)
    var mark = Clock.now()
    def phase(name: String): Unit = {
      val now = Clock.now()
      phases(name) = (now - mark) / 1000.0
      mark = now
      println(f"[bench] $name ${phases(name)}%.1f s")
    }
    // a traced run spends half the time traced and half untraced
    val seconds = a("seconds").toDouble / (if (traced) 2 else 1)
    def ctx(t: Option[Trace]) = Ctx(spark, seed, seconds, work, a("data"), cpus, t)
    if (!traced) { w.run(ctx(None), r); phase("run") }
    else {
      // untraced, traced, untraced: the gap between the traced phase and
      // the mean of the untraced ones around it is the tracing overhead.
      // The JVM still speeds up during the run, so an untraced phase run
      // only before the traced one made the overhead read negative.
      def plain(name: String): Double = {
        val p = new Result
        val cost = w.run(ctx(None).copy(seconds = seconds / 2), p)
        r.absorb(p)
        phase(name)
        Queries.clearCaches(spark)
        cost
      }
      val before = plain("run")
      val t = new Trace
      t.register(spark)
      val tracedCost = w.run(ctx(Some(t)), r)
      t.drain(spark)
      t.unregister(spark)
      phase("traced run")
      Queries.clearCaches(spark)
      val after = plain("run after")
      r.layers("trace.overhead_pct") = (tracedCost / ((before + after) / 2) - 1) * 100
      r.layers("trace.spans") = t.all.size.toDouble
      // self time per span kind, per measured window (pass or drain)
      val windows = r.detail.getOrElse("windows", 1).asInstanceOf[Int].toDouble
      // (harness work outside query calls and micro-batches is left out)
      val self = t.selfByKind(t.all.filter(s => s.parent < 0 && Set("query", "batch")(s.kind)))
      Seq("query", "build", "execute", "job", "stage", "batch").foreach { k =>
        r.layers(s"self.${k}_ms") = self.getOrElse(k, 0.0) / windows
      }
      if (a("workload") == "query_light") {
        // the loop kernels' layers (ops/Graph, Dedup, Spatial, Identity,
        // Par): one call of each convergence-loop query over the small
        // warm-up tables, the first in this JVM (on the timed tables the
        // calls and their oracle check would not fit the run's time limit)
        val loops = new Result
        t.register(spark)
        Queries.run(ctx(Some(t)).copy(data = a("warm-data")), Queries.Loops, 1,
          loops, "loops")
        t.drain(spark)
        t.unregister(spark)
        r.absorb(loops)
        r.layers ++= loops.layers
        phase("loops traced")
      }
      t.write(work.resolve("spans.jsonl").toString)
      Queries.clearCaches(spark)
      val wire = work.resolve("stage-wire")
      Wire.writeBacklog(seed, 2, 25000, wire, work.resolve("stage-staging"))
      r.layers ++= Ingest.stageCosts(spark, wire, reps = 3)
      phase("stage costs")
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"),
      "seed" -> seed,
      "traced" -> traced,
      "setup_s" -> setups,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failures,
      "samples" -> r.samples,
      "calls" -> r.calls.map(c =>
        Map("query" -> c.query, "pass" -> c.pass, "ms" -> c.ms, "ok" -> c.ok)),
      "layers" -> r.layers,
      "detail" -> r.detail,
      "phases_s" -> phases,
      "peak_rss_mb" -> peakRssMb(),
      "jvm" -> System.getProperty("java.vm.version"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "spark" -> spark.version)
    SparkEntry.clearCaches()
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json(out))
  }
}

/** A closed query loop over `names`; a pass over the mix takes about
  * `passMs` on a 4-core host.
  */
final class QueryWorkload(names: Seq[String], passMs: Double) extends Workload {
  def firstOp(spark: SparkSession, work: Path, warmData: String, seed: Long): Unit =
    Queries.warm(spark, names.take(1), warmData)
  // the first pass over the timed tables pays codegen and class loading,
  // and the second still ran about 20% slower than the passes after it
  def warm(spark: SparkSession, work: Path, data: String, seed: Long): Unit =
    (1 to 2).foreach(_ => Queries.warm(spark, names, data))
  def run(c: Ctx, r: Result): Double = Queries.run(c, names, c.ops(passMs, min = 1), r)
}

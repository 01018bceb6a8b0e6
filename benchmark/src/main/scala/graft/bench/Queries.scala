package graft.bench

import java.math.MathContext
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** The query plane: one closed-loop client calling `SparkEntry.queries`
  * and collecting each result, as the reference's client receives rows.
  * Every call starts with empty caches, so no call reads what an earlier
  * one persisted.
  */
object Queries {
  val Light: Seq[String] = Seq("q_event_pipeline", "q_event_summary",
    "q_quality_histogram", "q_verification_count", "q_health_check", "q_type_counts",
    "q_hourly_counts", "q_dashboard_metrics", "q_recent_events", "q_tumbling_counts",
    "q_sliding_counts", "q_value_stats", "q_revenue_by_nation", "q_shipping_priority",
    "q_top_orders_per_customer")

  val Loops: Seq[String] = Seq("q_connected_components", "q_neardup_clusters",
    "q_dbscan", "q_entity_resolution", "q_golden_records", "q_semantic_dedup",
    "q_pagerank", "q_label_propagation")

  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    SparkEntry.clearCaches()
  }

  /** Runs each query once over `dir` (JIT and codegen warm-up). */
  def warm(spark: SparkSession, names: Seq[String], dir: String): Unit =
    names.foreach { n =>
      clearCaches(spark)
      SparkEntry.queries(n)(spark, dir).collect()
    }

  /** Canonical digest of a result: rows rendered with doubles to 12
    * significant digits, then sorted, so two calls compare equal exactly
    * when they returned the same multiset of rows.
    */
  def fingerprint(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new MathContext(12)).stripTrailingZeros.toPlainString
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  final case class Call(query: String, pass: Int, ms: Double, ok: Boolean)

  /** Per-call layer breakdown, from the traced call's spans. */
  private def layers(t: Trace, root: Span, build: Span, rows: Int, cores: Int,
      prefix: String): Map[String, Double] = {
    val inside = t.under(root)
    val jobs = inside.filter(_.kind == "job")
    def sum(k: String): Double = jobs.map(_.attrs.getOrElse(k, 0.0)).sum
    def phase(k: String): Double = inside.filter(_.kind == k).map(_.ms).sum
    Map(
      "build_ms" -> build.ms,
      "build_jobs" -> jobs.count(_.parent == build.id).toDouble,
      "analysis_ms" -> phase("analysis"),
      "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"),
      "execute_ms" -> (root.ms - build.ms),
      "jobs" -> jobs.size.toDouble,
      "stages" -> sum("stages"),
      "tasks" -> sum("tasks"),
      "task_ms" -> sum("task_ms"),
      "core_util" -> sum("task_ms") / (root.ms * cores),
      "shuffle_read_bytes" -> sum("shuffle_read_bytes"),
      "shuffle_write_bytes" -> sum("shuffle_write_bytes"),
      "spill_bytes" -> sum("spill_bytes"),
      "result_rows" -> rows.toDouble).map { case (k, v) => s"$prefix.$k" -> v }
  }

  /** Closed loop over `names`: `passes` whole passes, each in a seeded
    * order. The first good result of each query is kept as its reference
    * (written to `work/results-<prefix>/<query>` for the oracle check);
    * every later call must match it.
    */
  def run(c: Ctx, names: Seq[String], passes: Int, r: Result,
      prefix: String = "query"): Double = {
    val spark = c.spark
    val reference = mutable.Map.empty[String, (String, Array[Row], org.apache.spark.sql.types.StructType)]
    val calls = mutable.ArrayBuffer.empty[Call]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]
    val rnd = new scala.util.Random(c.seed)
    var pass = 0
    while (pass < passes) {
      rnd.shuffle(names).foreach { name =>
        clearCaches(spark)
        c.trace.foreach(_.beginCall())
        val t0 = Clock.now()
        var t1 = t0
        val got = try {
          val df = SparkEntry.queries(name)(spark, c.data)
          t1 = Clock.now()
          Right((df.collect(), df.schema))
        } catch { case e: Throwable => Left(e) }
        val t2 = Clock.now()
        r.attempted += 1
        val ok = got match {
          case Left(e) =>
            r.fail(s"$name threw: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
            false
          case Right((rows, schema)) =>
            val fp = fingerprint(rows)
            reference.get(name) match {
              case None => reference(name) = (fp, rows, schema); true
              case Some((ref, _, _)) if ref == fp => true
              case Some(_) => r.fail(s"$name returned a result unlike its first call"); false
            }
        }
        calls += Call(name, pass, t2 - t0, ok)
        c.trace.foreach { t =>
          t.drain(spark)
          val root = t.record(s"query $name", "query", t0, t2)
          val build = t.record("build", "build", t0, t1, root.id)
          val exec = t.record("execute", "execute", t1, t2, root.id)
          t.endCall(Seq(root, build, exec))
          val rows = got.map(_._1.length).getOrElse(0)
          perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
            layers(t, root, build, rows, c.cpus, prefix)
        }
      }
      pass += 1
    }
    // reference results and their oracle SQL go to disk outside the timed
    // loop, under work/results-<prefix>/ for run.py's oracle check
    val results = Files.createDirectories(c.work.resolve(s"results-$prefix"))
    reference.foreach { case (name, (_, rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(name).toString)
    }
    Files.writeString(results.resolve("oracle_sql.json"),
      Json(names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap))
    Files.writeString(results.resolve("data_dir"), c.data)

    r.calls ++= calls
    r.detail(s"${prefix}_passes") = pass
    r.detail("windows") = pass
    c.trace.foreach { t =>
      // per query: the median call; per workload: the sum over the mix
      val medians = perQuery.map { case (q, xs) =>
        q -> xs.head.keys.map(k => k -> Stats.median(xs.map(_(k)).toSeq)).toMap
      }
      r.detail(s"${prefix}_layers") = medians
      medians.values.flatMap(_.keys).toSet.foreach { (k: String) =>
        r.layers(k) = if (k.endsWith(".core_util")) Stats.median(medians.values.map(_(k)).toSeq)
          else medians.values.map(_(k)).sum
      }
    }
    Stats.median(calls.filter(_.ok).map(_.ms).toSeq)
  }
}

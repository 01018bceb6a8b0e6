package graft.tools

import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.ops.Tables

/** Operational readiness check — `runMain graft.tools.Doctor [sfDir]`.
  *
  * One command that answers "can this environment run the engine
  * against this data RIGHT NOW", built from the round-8 postmortem:
  * the events-timestamp physical type silently drifted between rounds
  * and nothing runtime-facing said so until 34 queries threw. Checks:
  *
  *  1. every expected table exists and is non-empty;
  *  2. events.ts arrives as a type the schema-adaptive reader handles
  *     (raw-nanos LongType / TIMESTAMP_NTZ / TIMESTAMP), and says WHICH
  *     — so a future drift is a one-line diagnosis, not an excavation;
  *  3. the flagship query plans AND returns rows;
  *  4. every conf `graft.Session.local` sets (`Session.confs`) is in force.
  *
  * Exit code 0 = ready; 1 = at least one check failed (wired for CI).
  */
object Doctor {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local()
    var failed = 0
    def check(name: String)(body: => String): Unit =
      try println(f"  ok   $name%-28s ${body}")
      catch { case e: Exception =>
        failed += 1
        println(f"  FAIL $name%-28s ${Option(e.getMessage).getOrElse(e.toString).take(160)}")
      }

    println(s"[doctor] $sfDir")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      check(s"table $t") {
        val n = Tables.read(spark, s"$sfDir/$t.parquet").count()
        require(n > 0, "empty table")
        s"$n rows"
      }
    }
    check("events.ts storage type") {
      Tables.schema(spark, s"$sfDir/events.parquet")("ts").dataType match {
        case LongType => "raw nanos as LONG (legacy nanosAsLong path)"
        case TimestampNTZType => "TIMESTAMP_NTZ (micros, cast path)"
        case TimestampType => "TIMESTAMP (native path, filters push down)"
        case other => throw new IllegalStateException(
          s"UNHANDLED type $other — extend Analytics.events before running")
      }
    }
    check("session confs") {
      val want = graft.Session.confs(graft.Session.envCpus)
      val wrong = want.filter { case (k, v) => spark.conf.getOption(k) != Some(v) }
      require(wrong.isEmpty, wrong.map { case (k, v) =>
        s"$k=${spark.conf.getOption(k).orNull} (want $v)" }.mkString(", "))
      s"${want.size} factory confs in force"
    }
    check("flagship query") {
      val n = graft.SparkEntry.entry(spark).count()
      require(n > 0, "flagship returned no rows")
      s"$n rows"
    }
    println(if (failed == 0) "[doctor] READY" else s"[doctor] $failed CHECKS FAILED")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

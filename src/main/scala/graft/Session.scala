package graft

import org.apache.spark.sql.SparkSession

/** The one local session the entry points (Bench, Verify, the tools) and
  * the test suites build, so its confs cannot drift between them.
  */
object Session {

  /** Cores for an entry point's session: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Every conf [[local]] sets at build (tools/Doctor checks each): one
    * shuffle partition per core, a UTC session clock, both events-ts
    * drift confs (see Analytics.events: nanosAsLong reads the
    * TIMESTAMP(NANOS) shape as raw longs, inferTimestampNTZ=false reads
    * timestamp[us] as TIMESTAMP so time predicates push to the scan),
    * UI off.
    */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled" -> "false")

  /** `local[cpus]` with [[confs]], log level WARN. */
  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config(confs(cpus).toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

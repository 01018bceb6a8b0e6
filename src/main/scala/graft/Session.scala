package graft

import org.apache.spark.sql.SparkSession

/** The one local session the entry points (Bench, Verify, the tools) and
  * the test suites build, so its confs cannot drift between them.
  */
object Session {

  /** Cores for an entry point's session: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** `local[cpus]` with one shuffle partition per core, a UTC session
    * clock, and both events-ts drift confs set at build (see
    * Analytics.events: nanosAsLong reads the TIMESTAMP(NANOS) shape as
    * raw longs, inferTimestampNTZ=false reads timestamp[us] as TIMESTAMP
    * so time predicates push to the scan). UI off, log level WARN.
    */
  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

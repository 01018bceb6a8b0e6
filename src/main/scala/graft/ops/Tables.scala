package graft.ops

import scala.collection.concurrent.TrieMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The query plane's one parquet table reader. `spark.read.parquet(path)`
  * infers the schema by reading file footers in a Spark job — about
  * 85–125 ms of driver-side build per read at sf0.01, paid again by every
  * query that names the table. Here a path's schema is resolved ONCE, by
  * Spark's own inference, and every later read hands it back with
  * `spark.read.schema(resolved)`, which plans the scan without a job —
  * the shape of the reference's declared BigQuery schema
  * (`autodetect: False`, SURVEY §1.2) and of any production catalog.
  *
  * A resolved schema is reused only while everything inference depends
  * on is unchanged: the session, the path, the file listing under it as
  * (file, length, modification time), and every `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` conf in effect. A table rewritten in
  * place, or a session whose `nanosAsLong` / `inferTimestampNTZ` setting
  * flips, resolves again. The cache holds schema metadata only, never
  * data, so it is independent of `SparkEntry.clearCaches()`; entries of
  * stopped sessions are evicted.
  */
object Tables {

  private type Fingerprint = (Seq[(String, Long, Long)], Map[String, String])

  private val resolved = TrieMap.empty[(SparkSession, String), (Fingerprint, StructType)]

  /** The parquet table at `path`, read with its resolved schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` would infer, resolved once per
    * (session, path, listing, parquet confs).
    */
  def schema(spark: SparkSession, path: String): StructType = {
    resolved.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
    val fp = fingerprint(spark, path)
    resolved.get((spark, path)) match {
      case Some((seen, s)) if seen == fp => s
      case _ =>
        val s = spark.read.parquet(path).schema
        resolved.put((spark, path), (fp, s))
        s
    }
  }

  /** Sessions that currently hold a resolved schema. */
  private[graft] def cachedSessions: Set[SparkSession] = resolved.keySet.map(_._1).toSet

  private def fingerprint(spark: SparkSession, path: String): Fingerprint = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: the LocatedFileStatus that listFiles builds
    // copies each file's permissions, which the local file system reads by
    // starting a process per file (Spark's own listing avoids it too)
    def walk(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    // a missing path lists as empty; inference then raises Spark's own error
    val files = if (fs.exists(p)) walk(fs.getFileStatus(p)) else Nil
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    (files.sorted, confs)
  }
}

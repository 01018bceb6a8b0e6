package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
import graft.ops.{Analytics, Tables}

/** The schema-once parquet reader: a resolved schema is reused (no
  * inference job) exactly while the path's listing and the session's
  * parquet confs are unchanged, and the events `ts` adaptation still
  * reads the same rows for every storage shape.
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private val ntzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("a second read of an unchanged path runs no Spark job") {
    val path = s"${tmp("graft_tables_jobs")}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    val first = jobsDuring(Tables.read(spark, path))
    assert(first >= 1, "the first read should infer the schema with a job")
    var df: DataFrame = null
    assert(jobsDuring { df = Tables.read(spark, path) } == 0)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.orderBy("k").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("rewriting the path with a different schema resolves the new schema") {
    val path = s"${tmp("graft_tables_rewrite")}/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    assert(Tables.schema(spark, path).fieldNames.toSeq == Seq("k", "v"))
    Seq((1L, 2.5, true)).toDF("k", "x", "flag").write.mode("overwrite").parquet(path)
    assert(Tables.schema(spark, path).fieldNames.toSeq == Seq("k", "x", "flag"))
    assert(Tables.read(spark, path).as[(Long, Double, Boolean)].collect().toSeq ==
      Seq((1L, 2.5, true)))
  }

  test("flipping inferTimestampNTZ re-resolves events.ts") {
    val dir = tmp("graft_tables_ntz")
    writeEvents(dir, "TIMESTAMP(MICROS,false)", Seq((1L, "2024-01-10T08:00:00Z", 1.0)))
    val path = s"$dir/events.parquet"
    def tsType: DataType = Tables.schema(spark, path)("ts").dataType
    withConf(ntzConf, "false")(assert(tsType == TimestampType))
    withConf(ntzConf, "true")(assert(tsType == TimestampNTZType))
    withConf(ntzConf, "false")(assert(tsType == TimestampType))
  }

  test("a stopped session's entries are evicted") {
    // a second, stoppable SparkContext cannot coexist with the shared
    // one, so the probe runs in its own JVM on this classpath
    val dir = tmp("graft_tables_evict")
    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val opens = runtime.getInputArguments.asScala.toSeq.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.TablesEvictionProbe", dir)
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    assert(out.contains("probe cachedA=true evictedA=true cachedB=true"),
      out.takeRight(40).mkString("\n"))
  }

  test("Analytics.events reads the same rows for every ts storage shape") {
    val rows = Seq(
      (1L, "2024-01-10T08:00:00Z", 1.5),
      (2L, "2024-01-20T12:30:00.123456Z", 2.5),
      (3L, "2024-01-30T23:59:59Z", 3.5))
    val micros = rows.map { case (_, iso, _) =>
      val i = java.time.Instant.parse(iso)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    val nanosDir = tmp("graft_tables_nanos")
    writeEvents(nanosDir, "TIMESTAMP(NANOS,true)", rows)
    val microsDir = tmp("graft_tables_micros")
    writeEvents(microsDir, "TIMESTAMP(MICROS,false)", rows)

    def readBack(dir: String, since: String): (DataType, Seq[(Long, Long, Double)], Seq[Long]) = {
      val ev = Analytics.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      val all = ev.select(col("event_id"), unix_micros(col("ts")), col("value"))
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      val recent = Analytics.eventsSince(spark, dir, since)
        .select(col("event_id")).as[Long].collect().toSeq.sorted
      (Tables.schema(spark, s"$dir/events.parquet")("ts").dataType, all, recent)
    }
    val expected = rows.zip(micros).map { case ((id, _, v), us) => (id, us, v) }
    val since = "2024-01-20T00:00:00Z"
    val shapes = Seq(
      readBack(nanosDir, since),
      withConf(ntzConf, "true")(readBack(microsDir, since)),
      withConf(ntzConf, "false")(readBack(microsDir, since)))
    assert(shapes.map(_._1) == Seq(LongType, TimestampNTZType, TimestampType))
    shapes.foreach { case (shape, all, recent) =>
      assert(all == expected, s"$shape")
      assert(recent == Seq(2L, 3L), s"$shape")
    }
  }

  /** events.parquet with `ts` as the int64 parquet timestamp `tsType`,
    * written without Spark's schema metadata, as the testdata generator
    * writes it: TIMESTAMP(NANOS) — which Spark's writer cannot produce —
    * reads as LongType under nanosAsLong; TIMESTAMP(MICROS,false) reads
    * as TimestampNTZType or TimestampType by inferTimestampNTZ.
    */
  private def writeEvents(dir: String, tsType: String, rows: Seq[(Long, String, Double)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
        |  required int64 event_id;
        |  required int64 ts ($tsType);
        |  required double value;
        |}""".stripMargin)
    val perSecond = if (tsType.contains("NANOS")) 1000000000L else 1000000L
    val file = new Path(s"$dir/events.parquet/part-00000.parquet")
    val writer = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, iso, v) =>
      val i = java.time.Instant.parse(iso)
      writer.write(groups.newGroup()
        .append("event_id", id)
        .append("ts", i.getEpochSecond * perSecond + i.getNano / (1000000000L / perSecond))
        .append("value", v))
    } finally writer.close()
  }
}

/** Runs in its own JVM for [[TablesSpec]]: resolves a schema in one
  * session, stops it, resolves in a fresh session, and prints whether the
  * stopped session's entry is gone.
  */
object TablesEvictionProbe {
  def main(args: Array[String]): Unit = {
    val path = s"${args(0)}/t.parquet"
    def session(): SparkSession = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    val a = session()
    a.sparkContext.setLogLevel("ERROR")
    a.range(3).write.parquet(path)
    Tables.schema(a, path)
    val cachedA = Tables.cachedSessions.contains(a)
    a.stop()
    val b = session()
    b.sparkContext.setLogLevel("ERROR")
    Tables.schema(b, path)
    val evictedA = !Tables.cachedSessions.contains(a)
    val cachedB = Tables.cachedSessions.contains(b)
    b.stop()
    println(s"probe cachedA=$cachedA evictedA=$evictedA cachedB=$cachedB")
  }
}

package graft.tools

/** Dev tool: print schema + sample rows for every testdata table. */
object Inspect {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val df = graft.ops.Tables.read(spark, s"$sfDir/$t.parquet")
      println(s"=== $t (${df.count()} rows) ===")
      df.printSchema()
      df.show(3, truncate = 60)
    }
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Analytics.events(spark, sfDir)
    ev.select(min("ts"), max("ts")).show(truncate = false)
    spark.stop()
  }
}

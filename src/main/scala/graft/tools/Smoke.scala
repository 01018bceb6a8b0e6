package graft.tools

/** Dev tool: smoke-run SparkEntry.entry the way the driver does (rows>0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"entry() rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
  }
}

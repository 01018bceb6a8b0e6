package graft.tools

/** Dev aid: print the executed plan of one SparkEntry query by name —
  * `runMain graft.tools.AdhocPlan <q_name> [sfDir]`. Keeps plan-pin
  * debugging out of throwaway console sessions.
  */
object AdhocPlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Session.local()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}

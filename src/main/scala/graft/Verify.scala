package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // aid — the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // A thrown query must be LOUD: round 7/8 lost 34 queries invisibly
    // because failures went only to stderr and the correctness file just
    // shrank. Record every failure (name → message) and the full selected
    // query list so scripts/check_oracle.py can prove
    // queries == dumped dirs ∪ failures and exit 1 otherwise.
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      // each query starts from an empty cache, as in Bench: a frame an
      // earlier query persisted must not serve (or re-cache under) a
      // later one
      spark.catalog.clearCache()
      SparkEntry.clearCaches()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg.take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/_queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    println(s"[verify] ${selected.size - failures.size}/${selected.size} queries dumped" +
      (if (failures.nonEmpty) s"; FAILED: ${failures.keys.mkString(", ")}" else ""))
    SparkEntry.clearCaches()
    spark.stop()
  }
}

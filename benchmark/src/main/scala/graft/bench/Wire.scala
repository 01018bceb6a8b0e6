package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** The ingest load: seeded JSON-lines files in the reference's wire format
  * (FIXTURES.md §1). About 10% of events are rejects, 2.5% for each
  * dead-letter reason, so every gate of the chain is exercised; which
  * events are rejects, and why, is fixed by (seed, file index).
  */
object Wire {
  val Reasons: Seq[String] =
    Seq("corrupt_json", "missing_required_field", "low_quality", "unparseable_timestamp")

  /** Expected outcome of ingesting some files: rows the main sink must hold
    * and dead-letter rows per reason.
    */
  final case class Expected(events: Long, accepted: Long, rejected: Map[String, Long]) {
    def +(o: Expected): Expected = Expected(events + o.events, accepted + o.accepted,
      Reasons.map(r => r -> (rejected(r) + o.rejected(r))).toMap)
  }
  val NoEvents: Expected = Expected(0, 0, Reasons.map(_ -> 0L).toMap)

  private val types = Array("login", "logout", "purchase", "page_view", "search", "add_to_cart")
  // 2024-03-01T00:00:00Z; events are 50 ms apart in event time
  private val baseMs = 1709251200000L
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  /** File `file` of a load with `perFile` events per file. Event ids are
    * `s<seed>-f<file>-e<n>`, so every sink row names the file it came from.
    */
  def render(seed: Long, file: Int, perFile: Int): (Array[Byte], Expected) = {
    val rnd = new SplittableRandom(seed * 1000003L + file)
    val sb = new java.lang.StringBuilder(perFile * 200)
    var accepted = 0L
    val rejected = Array.fill(Reasons.size)(0L)
    var i = 0
    while (i < perFile) {
      val id = s"s$seed-f$file-e$i"
      val ts = fmt.format(java.time.Instant.ofEpochMilli(
        baseMs + (file.toLong * perFile + i) * 50L))
      val tpe = types(rnd.nextInt(types.length))
      val user = s"user_${rnd.nextInt(5000)}"
      val value = (rnd.nextInt(50000) + 1) / 100.0
      val extra = tpe match {
        case "purchase" => s""","product_id":"prod_${rnd.nextInt(900)}","currency":"USD""""
        case "page_view" => s""","page":"/p/${rnd.nextInt(200)}","referrer":"search""""
        case _ => ""
      }
      val draw = rnd.nextInt(1000)
      val reason = if (draw < 100) draw / 25 else -1
      reason match {
        case 0 => sb.append(s"""{"id":"$id","timestamp":"$ts","message":"truncated""")
        case 1 => sb.append(s"""{"id":"$id","timestamp":"$ts","message":"$tpe event","event_type":"$tpe","value":$value,"source":"bench"}""")
        case 2 => sb.append(s"""{"id":"$id","timestamp":"$ts","message":"","user_id":"unknown","event_type":"$tpe","value":0,"source":"bench"}""")
        case 3 => sb.append(s"""{"id":"$id","timestamp":"day ${i % 7}","message":"$tpe event","user_id":"$user","event_type":"$tpe","value":$value,"source":"bench"}""")
        case _ => sb.append(s"""{"id":"$id","timestamp":"$ts","message":"$tpe by $user","user_id":"$user","event_type":"$tpe","value":$value,"source":"bench"$extra}""")
      }
      sb.append('\n')
      if (reason >= 0) rejected(reason) += 1 else accepted += 1
      i += 1
    }
    (sb.toString.getBytes(UTF_8),
      Expected(perFile, accepted, Reasons.zip(rejected).toMap))
  }

  /** Writes `bytes` under `staging`, then moves it atomically into `dir`,
    * so a streaming source never lists a half-written file.
    */
  def publish(bytes: Array[Byte], staging: Path, dir: Path, name: String): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def fileName(file: Int): String = f"part-$file%06d.json"

  /** Writes a whole backlog of `files` files at once; expected outcome per file. */
  def writeBacklog(seed: Long, files: Int, perFile: Int, dir: Path,
      staging: Path): Map[Int, Expected] = {
    Files.createDirectories(dir)
    Files.createDirectories(staging)
    (0 until files).map { f =>
      val (bytes, exp) = render(seed, f, perFile)
      publish(bytes, staging, dir, fileName(f))
      f -> exp
    }.toMap
  }

  def total(per: Map[Int, Expected]): Expected = per.values.foldLeft(NoEvents)(_ + _)
}

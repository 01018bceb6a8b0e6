package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.EventPipeline

/** The streaming data plane — Spark twin of the reference's Beam pipeline
  * (Pub/Sub → parse/validate/enrich/score/filter → 60 s windows → BigQuery
  * append; Streamingdag.py:285-323).
  *
  * Design (SURVEY §3.1 Spark-native trace):
  *  - the transform chain is EXACTLY the batch `EventPipeline` — Structured
  *    Streaming incrementalizes the same logical plan, so batch tests prove
  *    streaming semantics;
  *  - the reference's 60 s window-without-aggregation is modeled as the
  *    sink trigger (`Trigger.ProcessingTime`), not a `groupBy(window)` —
  *    its windows never changed row contents (SURVEY §7.5);
  *  - the parquet sink is date-partitioned (reference D6 advice,
  *    README.md:353): at 100 TB this gives partition pruning for every
  *    time-ranged query in §2.4;
  *  - watermark policy (the reference has none — SURVEY W3): 10 minutes,
  *    applied only where state exists (windowed aggregation), bounding
  *    state at scale.
  */
object Pipeline {

  val DefaultWatermark = "10 minutes"
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("60 seconds")

  /** S1 test twin: unbounded read of a directory of JSON-lines text files
    * (prod twin: Kafka with the same downstream chain — the source swaps,
    * the plan doesn't).
    */
  def fromTextDir(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text").load(dir)

  /** S1 prod twin: Kafka topic → raw JSON strings. The `value` cast is
    * the P1 bytes→string decode (Kafka values are BINARY, exactly like
    * Pub/Sub message data — Streamingdag.py:288-294, :166-172); the
    * downstream chain is IDENTICAL to the text-dir and MemoryStream
    * sources — the source swaps, the plan above it doesn't (asserted by
    * StreamingSpec's source-agnosticism test).
    *
    * The sandbox ships no kafka connector jar or broker, so this is
    * compile-verified + wiring-tested only: calling it without the
    * connector on the classpath fails at source resolution with Spark's
    * standard "find the kafka artifact" guidance.
    */
  def fromKafka(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value").cast("string").as("value"))

  /** The full per-record chain. Works on streaming and batch frames. */
  def process(raw: DataFrame): DataFrame = EventPipeline.fromRawJson(raw)

  /** Stream-stream interval join: each purchase joined to the same
    * user's page views in the `gap` before it. Both sides carry
    * watermarks, and the join condition bounds view_ts to
    * [purchase_ts - gap, purchase_ts], so Spark can size the state store
    * and evict rows once the watermark passes — state is bounded by
    * (gap + watermark) of per-user traffic, never unbounded.
    *
    * Inner join ⇒ matches emit as soon as both sides arrive (append
    * mode); the watermark only governs state eviction. Batch twin with
    * the DuckDB oracle: [[graft.ops.Analytics.purchaseAttribution]].
    */
  def viewPurchaseJoin(
      events: DataFrame,
      gap: String = "10 minutes",
      watermark: String = DefaultWatermark,
      joinType: String = "inner"): DataFrame = {
    val views = events
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("id").as("view_id"),
        col("timestamp").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("id").as("purchase_id"),
        col("timestamp").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    // purchases are the preserved side: joinType "left_outer" emits an
    // unmatched purchase (null view columns) once the watermark passes
    // purchase_ts + gap and no view can still arrive
    purchases.join(views,
        col("user_id") === col("v_user_id") &&
          col("view_ts") <= col("purchase_ts") &&
          col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $gap"),
        joinType)
      .select(col("purchase_id"), col("user_id"),
        col("view_id"), col("view_ts"), col("purchase_ts"))
  }

  /** K1: append sink — date-partitioned parquet, 60 s micro-batches. */
  def startSink(
      events: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    events
      .withColumn("event_date", to_date(col("timestamp")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_date")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** K4: dead-letter quarantine sink — the reference's log-and-drop paths
    * (Streamingdag.py:179-181, :230-231, :233-236) made durable: the raw
    * line and its `reject_reason` for every row [[process]] drops, so the
    * two sinks together hold each input row once. It is its own query
    * over `raw`, so running it beside [[startSink]] reads and parses each
    * row twice; both read the same gates ([[EventPipeline.classify]]).
    */
  def startDeadLetterSink(
      raw: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    EventPipeline.deadLetter(raw)
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** W8 depth: attach named observed metrics to the enriched stream —
    * per-micro-batch row count, mean quality, and sub-threshold count,
    * computed inside the running plan (no second scan, no extra action).
    * Surfaces in `StreamingQueryProgress.observedMetrics("graft_metrics")`
    * (streaming) or via `Observation` (batch) — the Spark twin of the
    * reference's documented `Metrics.counter` instrumentation
    * (README.md:331-340).
    */
  def withQualityMetrics(events: DataFrame): DataFrame =
    events.observe("graft_metrics",
      count(lit(1)).as("rows"),
      avg(col("data_quality_score")).as("avg_quality"),
      sum(when(col("data_quality_score") < 50, 1L).otherwise(0L))
        .as("low_quality_rows"))

  /** foreachBatch fan-out sink: each micro-batch writes its rows to the
    * main sink AND a one-row batch summary (batch id, row count, mean
    * quality) to a stats sink — the per-batch custom logic surface
    * (multi-sink, merge, side effects) that a declarative
    * `writeStream.format(...)` can't express.
    *
    * foreachBatch gives at-least-once batch execution, so each write is
    * made IDEMPOTENT by overwriting that batch's own `batch-N`
    * subdirectory: a retried batch replaces its previous (possibly
    * partial) output instead of double-appending. batch_id rides INSIDE
    * the data as an explicit LongType column (a hive-style `batch_id=`
    * directory would surface through partition inference as an
    * IntegerType column that silently widens past 2^31 batches, and
    * would vanish entirely when reading one batch directory directly).
    * event_date stays a DATA column here too: readers use
    * `recursiveFileLookup` over the root (which disables partition
    * discovery), and the date-pruned layout is [[startSink]]'s job — this
    * sink demonstrates the per-batch custom-logic surface. The batch
    * DataFrame is written twice, so it is persisted for the duration of
    * the batch.
    */
  def startFanoutSink(
      events: DataFrame,
      mainPath: String,
      statsPath: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    events
      .withColumn("event_date", to_date(col("timestamp")))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .parquet(s"$mainPath/batch-$batchId")
          batch.agg(
              count(lit(1)).as("n_rows"),
              round(avg(col("data_quality_score")), 4).as("avg_quality"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$statsPath/batch-$batchId")
        } finally batch.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** foreachBatch keyed UPSERT sink — the MERGE-by-key serving-table
    * layout the append-only sinks can't express: the table converges to
    * ONE row per key, the newest version of each key winning.
    *
    * Layout: the table is hash-bucketed on the key; each micro-batch
    * merges only the buckets its keys touch and writes them as a new
    * `v-<batchId>/bucket-<b>` directory (existing-minus-incoming ∪
    * incoming). A bucket's current state is its highest committed
    * version. Properties:
    *  - rewrite cost is proportional to TOUCHED BUCKETS, not table size
    *    — the 100 TB shape (a transactional table format does the same
    *    dance with a metadata log);
    *  - idempotent under at-least-once foreachBatch: a re-delivered
    *    batch re-merges from the versions below its own batchId and
    *    OVERWRITES `v-<batchId>` — convergent, never double-appended;
    *  - within a batch, the newest row per key wins (`orderCol` desc,
    *    content-hash tiebreak so retries pick the same row even on ts
    *    ties); across batches, incoming beats existing (MERGE update);
    *  - versions below a bucket's merge source are deleted after the
    *    write — at most two versions per bucket live at once.
    * `bucket` rides as an explicit data column (hive-style partition
    * inference would drop/narrow it — see [[startFanoutSink]]).
    */
  def startUpsertSink(
      events: DataFrame,
      key: String,
      path: String,
      checkpoint: String,
      nBuckets: Int = 16,
      orderCol: String = "timestamp",
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, key, path, batchId, nBuckets, orderCol)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** One MERGE step of [[startUpsertSink]] — public so tests (and batch
    * backfills) can drive re-delivery deterministically.
    */
  def upsertBatch(
      batch: DataFrame,
      key: String,
      path: String,
      batchId: Long,
      nBuckets: Int = 16,
      orderCol: String = "timestamp"): Unit = {
    require(nBuckets > 0)
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val cols = batch.columns
    val reserved = Seq("bucket", "__tie", "__rn").filter(cols.contains)
    require(reserved.isEmpty,
      s"upsert input must not carry reserved column(s) ${reserved.mkString(", ")} " +
        "— they would be silently overwritten by the bucketing/tiebreak machinery")
    // newest row per key in this batch; content-hash tiebreak keeps the
    // choice deterministic across retries when orderCol ties
    val w = Window.partitionBy(col(key))
      .orderBy(desc(orderCol), desc("__tie"))
    val incoming = batch
      .withColumn("__tie", xxhash64(struct(cols.map(col): _*)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols.map(col): _*)
      .withColumn("bucket", pmod(xxhash64(col(key)), lit(nBuckets)).cast("int"))
      .persist()
    try {
      // ≤ nBuckets small ints to the driver — bounded, not a data collect
      val touched = incoming.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      // resolve interrupted-compaction leftovers FIRST: an orphan .compact
      // hides its version from latestBucketVersion, and merging from the
      // version below it would silently drop that batch's rows
      healInterruptedCompactions(fs, path)
      // batchIds must move forward: a committed version ABOVE this batch
      // means the query was restarted against an existing table with a
      // FRESH checkpoint (batchId reset to 0) — merging from below would
      // silently clobber low-numbered versions while readers keep
      // serving the old high ones. Refuse loudly; a retry of the
      // CURRENT batch (own version == batchId) is still allowed.
      val maxCommitted = tableMaxVersion(fs, path)
      maxCommitted.filter(_ > batchId).foreach { v =>
        throw new IllegalStateException(
          s"upsert table at $path already holds committed version v-$v > " +
            s"batch $batchId — the streaming checkpoint was reset against an " +
            "existing table; resume with the original checkpoint or point the " +
            "sink at a fresh table path")
      }
      touched.foreach { b =>
        val source = latestBucketVersion(fs, path, b, below = Some(batchId))
        val inc = incoming.filter(col("bucket") === b)
        val merged = source match {
          case Some(v) =>
            spark.read.parquet(s"$path/v-$v/bucket-$b")
              .join(inc.select(col(key)), Seq(key), "left_anti")
              .unionByName(inc)
          case None => inc
        }
        merged.write.mode("overwrite").parquet(s"$path/v-$batchId/bucket-$b")
        // retention: anything below the merge source can no longer be a
        // retry's source — drop it (and any compaction aside it left).
        // Deliberately UNCHECKED: these are garbage-collection deletes
        // (correctness never reads below the merge source), and a batch
        // must not fail over a GC hiccup — a missed delete is retried by
        // the same rule on the next batch that touches the bucket.
        source.foreach { v =>
          bucketVersions(fs, path, b).filter(_ < v).foreach { old =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$path/v-$old/bucket-$b"), true)
            fs.delete(new org.apache.hadoop.fs.Path(
              s"$path/v-$old/bucket-$b.compact"), true)
          }
        }
      }
    } finally incoming.unpersist()
  }

  /** Current state of the upsert table: per bucket, its highest
    * committed version. A table with no committed version yields
    * `spark.emptyDataFrame` (zero columns) — callers that project
    * specific columns must handle the never-written case themselves.
    */
  def readUpsertTable(spark: SparkSession, path: String, nBuckets: Int = 16): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    healInterruptedCompactions(fs, path, bestEffort = true)
    val dirs = (0 until nBuckets).flatMap(b =>
      latestBucketVersion(fs, path, b, below = None).map(v => s"$path/v-$v/bucket-$b"))
    if (dirs.isEmpty)
      spark.emptyDataFrame
    else
      dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  /** Highest version with at least one committed bucket, if any. */
  private def tableMaxVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v-"))
      .flatMap(s => s.getPath.getName.stripPrefix("v-").toLongOption
        .filter { _ =>
          fs.listStatus(s.getPath).exists(b =>
            b.getPath.getName.startsWith("bucket-") &&
              fs.exists(new org.apache.hadoop.fs.Path(b.getPath, "_SUCCESS")))
        })
      .maxOption
  }

  private def bucketVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String,
      bucket: Int): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v-"))
      .flatMap(s => s.getPath.getName.stripPrefix("v-").toLongOption)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/v-$v/bucket-$bucket/_SUCCESS")))
  }

  private def latestBucketVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String,
      bucket: Int,
      below: Option[Long]): Option[Long] = {
    val vs = bucketVersions(fs, path, bucket)
    val eligible = below.fold(vs)(b => vs.filter(_ < b))
    if (eligible.isEmpty) None else Some(eligible.max)
  }

  /** Per-bucket maintenance stats for an upsert table: the bucket's
    * current committed version plus file count and bytes in it — the
    * signal a compaction scheduler watches (every micro-batch merge adds
    * part files; scan cost goes metadata-bound long before it goes
    * IO-bound). Filesystem metadata only — no data is read.
    */
  final case class UpsertBucketStats(
      bucket: Int, version: Long, nFiles: Int, bytes: Long)

  def upsertTableStats(
      spark: SparkSession,
      path: String,
      nBuckets: Int = 16): Seq[UpsertBucketStats] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    healInterruptedCompactions(fs, path, bestEffort = true)
    (0 until nBuckets).flatMap { b =>
      latestBucketVersion(fs, path, b, below = None).map { v =>
        val files = fs.listStatus(
            new org.apache.hadoop.fs.Path(s"$path/v-$v/bucket-$b"))
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        UpsertBucketStats(b, v, files.length, files.map(_.getLen).sum)
      }
    }
  }

  /** Finish or discard leftovers of an interrupted [[compactUpsertTable]]
    * run. Runs at EVERY table entry point (upsert, read, stats) — not just
    * the next compaction — because an orphan `.compact` hides its version
    * from `latestBucketVersion`: an upsert racing ahead of the heal would
    * merge from an older version and silently drop the hidden rows. Rules
    * per `v-<v>/bucket-<b>.compact`:
    *  - original dir present → NO-OP. The aside may belong to a LIVE
    *    compaction sitting between write-aside and delete — deleting it
    *    here would make the compactor's delete→rename lose the version.
    *    Stale asides with a surviving original are cleaned by the actors
    *    that can tell them apart: the next compaction of that bucket
    *    (pre-write delete) or retention (sibling delete). This also
    *    makes the common healthy-table case mutation-free, so read-path
    *    healing normally touches nothing.
    *  - orphan, committed, and v is still ≥ the bucket's latest committed
    *    version → crash hit between delete and rename: finish the swap.
    *    (A reader healing this while the crashed-then-restarted compactor
    *    retries its own rename is still safe: whichever rename runs
    *    second finds the destination present and fails without effect.)
    *  - orphan but superseded (bucket committed a newer version since) →
    *    delete; renaming would resurrect a version retention already
    *    pruned;
    *  - orphan, uncommitted → crashed mid-write garbage: delete.
    *
    * `bestEffort = true` (read paths) swallows per-aside IO failures — a
    * read-only caller that cannot rename simply keeps serving the
    * bucket's previous committed version (stale but consistent) until a
    * writer heals the table. Write paths pass `false`: merging ahead of
    * an unhealed orphan would lose rows, so there the failure must
    * propagate.
    */
  private def healInterruptedCompactions(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String,
      bestEffort: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    if (!fs.exists(root)) return
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v-"))
      .foreach { vDir =>
        val v = vDir.getPath.getName.stripPrefix("v-").toLongOption
        fs.listStatus(vDir.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".compact"))
          .foreach { tmp =>
            val bucketName = tmp.getPath.getName.stripSuffix(".compact")
            val orig = new Path(vDir.getPath, bucketName)
            val bucket = bucketName.stripPrefix("bucket-").toIntOption
            try {
              if (!fs.exists(orig)) {
                val committed = fs.exists(new Path(tmp.getPath, "_SUCCESS"))
                val latest = bucket.flatMap(b =>
                  latestBucketVersion(fs, path, b, below = None))
                val isCurrent = (v, latest) match {
                  case (Some(tv), Some(lv)) => tv >= lv
                  case (Some(_), None) => true
                  case _ => false
                }
                if (committed && isCurrent) FsOps.renameOrThrow(fs, tmp.getPath, orig)
                else FsOps.deleteOrThrow(fs, tmp.getPath, recursive = true)
              }
            } catch {
              case scala.util.control.NonFatal(e) if bestEffort => // see scaladoc
            }
          }
      }
  }

  final case class UpsertCompaction(
      bucket: Int, version: Long, filesBefore: Int, filesAfter: Int)

  /** Compact every bucket's current version down to `targetFiles` part
    * files — the streaming-table OPTIMIZE step: micro-batch merges
    * accrete small files, compaction rewrites them without changing
    * content or version. Per bucket: write the coalesced data aside as
    * `bucket-<b>.compact`, delete the original directory, rename the
    * compacted one in. `coalesce` (not repartition) keeps it
    * shuffle-free. Crash-safe by construction:
    *  - a reader racing the delete→rename instant falls back to the
    *    bucket's previous committed version (stale but consistent);
    *  - a crash BEFORE the delete leaves a stale `.compact` that the
    *    heal sweep deletes (the original stays authoritative);
    *  - a crash BETWEEN delete and rename leaves an orphan `.compact`
    *    with no original — [[healInterruptedCompactions]] completes the
    *    swap, and it runs at EVERY table entry point (upsert, read,
    *    stats), so a following upsertBatch can never merge from the
    *    version below the hidden one and drop its rows.
    * Buckets already at ≤ targetFiles are skipped. Returns what was
    * rewritten.
    */
  def compactUpsertTable(
      spark: SparkSession,
      path: String,
      nBuckets: Int = 16,
      targetFiles: Int = 1): Seq[UpsertCompaction] = {
    require(targetFiles > 0)
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // upsertTableStats starts with the healInterruptedCompactions sweep,
    // so stale/orphan .compact leftovers are resolved before we look at
    // current state
    upsertTableStats(spark, path, nBuckets)
      .filter(_.nFiles > targetFiles)
      .map { st =>
        val orig = s"$path/v-${st.version}/bucket-${st.bucket}"
        val tmp = new Path(s"$orig.compact")
        if (fs.exists(tmp)) FsOps.deleteOrThrow(fs, tmp, recursive = true)
        spark.read.parquet(orig).coalesce(targetFiles)
          .write.parquet(tmp.toString)
        // checked: a false-returning delete followed by a rename into
        // the still-existing dir would NEST the compact dir inside the
        // bucket (HDFS rename semantics) — fail loudly instead; readers
        // fall back to the previous committed version and the heal
        // sweep finishes the swap on the next entry
        FsOps.deleteOrThrow(fs, new Path(orig), recursive = true)
        FsOps.renameOrThrow(fs, tmp, new Path(orig))
        val after = fs.listStatus(new Path(orig))
          .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
        UpsertCompaction(st.bucket, st.version, st.nFiles, after)
      }
  }

  /** Streaming exact dedup (§7.4-1 in streaming form): drop events whose
    * `id` was already seen, with state bounded by the watermark —
    * duplicates arriving within the watermark window are suppressed,
    * state for older ids is reclaimed.
    */
  def dedupStream(
      events: DataFrame,
      watermark: String = DefaultWatermark): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("id")

  /** W2 as a TRUE streaming aggregation (the part the reference's windows
    * only gestured at): tumbling event-time windows with a watermark so
    * state is bounded — per-window per-type counts and value sums.
    * Append output mode: a window emits once, when the watermark passes
    * its end.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "60 seconds",
      watermark: String = DefaultWatermark): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** TIERED windowed aggregation — TWO chained stateful operators in
    * ONE streaming query (multiple-stateful-operator support, the
    * Spark ≥ 3.5 capability that replaces the old two-job + intermediate
    * sink topology): a fine window aggregate feeds a coarse window
    * aggregate directly, `window(window, coarse)` re-windowing the fine
    * window's struct column. Both tiers share the source watermark;
    * append mode emits a coarse row once the watermark closes it.
    *
    * Why it matters at 100 TB: the fine tier's partial aggregation
    * collapses the stream BEFORE the coarse tier's state — coarse state
    * is per (coarse window × type), independent of event volume, and
    * the intermediate sink + re-read of the legacy topology (a full
    * serialize/deserialize of the fine tier) disappears.
    */
  def tieredCounts(
      events: DataFrame,
      fine: String = "60 seconds",
      coarse: String = "10 minutes",
      watermark: String = DefaultWatermark): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), fine), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("window"), coarse), col("event_type"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("n_fine_windows"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("n_fine_windows"))
}

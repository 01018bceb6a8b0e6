package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.stream.{Lifecycle, Pipeline}

/** Streaming twins of the reference's operational smoke tests (SURVEY
  * §5.2-2): feed the DAG test messages through the full chain via
  * MemoryStream, assert sink contents — the Spark equivalent of the
  * BigQueryCheckOperator (Streamingdag.py:422-432) — plus watermarked
  * windowed aggregation with late data (the W3 semantics we add).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val msg1 =
    """{"id":"test-dag-001","timestamp":"2024-01-15T10:00:00Z","message":"DAG test message 1","user_id":"dag_tester","event_type":"test","value":1.0,"source":"airflow_dag"}"""
  private val msg2 =
    """{"id":"test-dag-002","timestamp":"2024-01-15T10:05:00Z","message":"DAG test message 2","user_id":"dag_tester","event_type":"purchase","value":99.99,"source":"airflow_dag","product_id":"test_product"}"""

  test("end-to-end micro-batch: raw JSON stream → enriched sink rows") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val metrics = Lifecycle.register(spark)
    val q = Pipeline.process(input.toDF())
      .writeStream.format("memory").queryName("stream_sink")
      .outputMode("append").start()
    try {
      input.addData(msg1, msg2, "{corrupt json")
      q.processAllAvailable()
      val rows = spark.table("stream_sink").orderBy("id").collect()
      assert(rows.length == 2) // corrupt row dropped
      assert(rows.map(_.getAs[Int]("data_quality_score")).toSeq == Seq(100, 100))
      assert(rows(1).getAs[String]("product_id") == "test_product")
      assert(metrics.inputRows.get() == 3)
    } finally {
      q.stop()
      spark.streams.removeListener(metrics)
    }
  }

  test("windowed aggregation with watermark emits closed windows, drops late data") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"u","event_type":"click","value":1.0}"""
    val input = MemoryStream[String]
    val agg = Pipeline.windowedCounts(
      Pipeline.process(input.toDF()),
      windowLength = "60 seconds", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_sink")
      .outputMode("append").start()
    try {
      // two events in the 10:00:00 window, one in 10:01
      input.addData(
        ev("a", "2024-01-15T10:00:10Z"), ev("b", "2024-01-15T10:00:40Z"),
        ev("c", "2024-01-15T10:01:10Z"))
      q.processAllAvailable()
      // advance the watermark past 10:01 + 10 min → first windows close
      input.addData(ev("d", "2024-01-15T10:20:00Z"))
      q.processAllAvailable()
      val closed = spark.table("win_sink")
        .collect().map(r => r.getAs[Timestamp]("window_start").toString -> r.getAs[Long]("n")).toMap
      assert(closed("2024-01-15 10:00:00.0") == 2)
      assert(closed("2024-01-15 10:01:00.0") == 1)
      // an event 25 min behind the watermark arrives → dropped as late
      input.addData(ev("late", "2024-01-15T09:55:00Z"))
      input.addData(ev("flush", "2024-01-15T10:40:00Z"))
      q.processAllAvailable()
      val after = spark.table("win_sink")
        .collect().map(r => r.getAs[Timestamp]("window_start").toString).toSet
      assert(!after.contains("2024-01-15 09:55:00.0"))
    } finally q.stop()
  }

  test("streaming dedup suppresses duplicate ids within the watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val q = Pipeline.dedupStream(Pipeline.process(input.toDF()))
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try {
      input.addData(msg1, msg2, msg1) // msg1 duplicated in-batch
      q.processAllAvailable()
      input.addData(msg1) // and again in a later batch, still in watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_sink").collect().map(_.getAs[String]("id"))
      assert(ids.sorted.toSeq == Seq("test-dag-001", "test-dag-002"))
    } finally q.stop()
  }

  test("stream-static join enriches events with a broadcast dimension table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val userDim = Seq(("dag_tester", "ops-team"), ("someone", "web-team"))
      .toDF("user_id", "team")
    val input = MemoryStream[String]
    val enriched = Pipeline.process(input.toDF())
      .join(broadcast(userDim), Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("join_sink")
      .outputMode("append").start()
    try {
      input.addData(msg1, msg2)
      q.processAllAvailable()
      val teams = spark.table("join_sink")
        .select($"id", $"team").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(teams("test-dag-001") == "ops-team")
      assert(teams("test-dag-002") == "ops-team")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap timeout") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, user: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"$user","event_type":"click","value":1.0}"""
    val input = MemoryStream[String]
    val sessions = graft.stream.Sessionize.userSessions(
      Pipeline.process(input.toDF()), gapMinutes = 5, watermark = "1 minute")
    val q = sessions.toDF()
      .writeStream.format("memory").queryName("session_sink")
      .outputMode("append").start()
    try {
      input.addData(
        ev("a", "u1", "2024-01-15T10:00:00Z"),
        ev("b", "u1", "2024-01-15T10:00:30Z"),
        ev("c", "u2", "2024-01-15T10:00:10Z"),
        // u4: two events in ONE micro-batch, 10 min apart — must split
        // into two sessions even though no timeout fires between them
        ev("f", "u4", "2024-01-15T10:00:00Z"),
        ev("g", "u4", "2024-01-15T10:10:00Z"))
      q.processAllAvailable()
      val afterBatch1 = spark.table("session_sink").collect()
        .map(r => r.getAs[String]("user_id") -> r.getAs[Long]("n_events")).toMap
      // u4's first session split out within the batch (u1/u2 may also have
      // closed already: u4's 10:10 event advanced the watermark past their
      // gap, firing their event-time timeouts inside processAllAvailable)
      assert(afterBatch1("u4") == 1L)
      // advance the watermark far past u1/u2's last-event + gap
      input.addData(ev("d", "u3", "2024-01-15T11:00:00Z"))
      q.processAllAvailable()
      // u3's next event is > gap after its last: the open session closes
      // on arrival (cross-batch split), not only via timeout
      input.addData(ev("e", "u3", "2024-01-15T11:30:00Z"))
      q.processAllAvailable()
      val closed = spark.table("session_sink").collect()
        .map(r => r.getAs[String]("user_id") -> r.getAs[Long]("n_events")).toMap
      assert(closed("u1") == 2)
      assert(closed("u2") == 1)
      assert(closed("u3") == 1) // the 11:00 session; 11:30 still open
    } finally q.stop()
  }

  test("streaming daily actives: closed day emits sketch count matching exact at small N") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, user: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"$user","event_type":"click","value":1.0}"""
    val input = MemoryStream[String]
    val actives = graft.stream.Actives.dailyActives(
      Pipeline.process(input.toDF()), watermark = "1 hour")
    val q = actives
      .writeStream.format("memory").queryName("dau_sink")
      .outputMode("append").start()
    try {
      // day 1: three distinct users, one repeated — DAU 3
      input.addData(
        ev("a", "u1", "2024-01-15T10:00:00Z"),
        ev("b", "u2", "2024-01-15T11:00:00Z"),
        ev("c", "u1", "2024-01-15T12:00:00Z"),
        ev("d", "u3", "2024-01-15T13:00:00Z"))
      q.processAllAvailable()
      // advance the watermark past day 1 + 1 h → the daily window closes
      input.addData(ev("e", "u9", "2024-01-16T02:00:00Z"))
      q.processAllAvailable()
      val rows = spark.table("dau_sink").collect()
        .map(r => (r.getAs[Long]("day_us"), r.getAs[Long]("n_active_approx")))
      val day1 = java.time.Instant.parse("2024-01-15T00:00:00Z").toEpochMilli * 1000L
      // HLL++ is exact at cardinalities this small
      assert(rows.toSeq == Seq((day1, 3L)), rows.toSeq)
    } finally q.stop()
  }

  test("streaming funnel: late signup retro-unlocks depth; same-instant step rejected") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, user: String, typ: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"$user","event_type":"$typ","value":1.0}"""
    val input = MemoryStream[String]
    val reached = graft.stream.Funnel.stepCompletions(
      Pipeline.process(input.toDF()), watermark = "60 minutes")
    val q = reached.toDF()
      .writeStream.format("memory").queryName("funnel_sink")
      .outputMode("update").start()
    try {
      // batch 1: u1 has view+purchase but NO signup yet → depth 0, no rows;
      // u2 signup and view at the SAME instant → strict '>' stops at 1
      input.addData(
        ev("a", "u1", "view", "2024-01-15T10:01:00Z"),
        ev("b", "u1", "purchase", "2024-01-15T10:02:00Z"),
        ev("c", "u2", "signup", "2024-01-15T10:00:00Z"),
        ev("d", "u2", "view", "2024-01-15T10:00:00Z"))
      q.processAllAvailable()
      val after1 = spark.table("funnel_sink").collect()
        .map(r => (r.getAs[String]("user_id"), r.getAs[Long]("step_idx")))
      assert(!after1.exists(_._1 == "u1"), s"u1 has no signup yet: ${after1.toSeq}")
      assert(after1.filter(_._1 == "u2").map(_._2).toSeq == Seq(1L),
        s"u2 must stop at step 1: ${after1.toSeq}")
      // batch 2: u1's signup arrives LATE (inside the watermark) and
      // earlier than the buffered view/purchase — depth jumps 0 → 3 in
      // one batch, with the original event times as reach times
      input.addData(ev("e", "u1", "signup", "2024-01-15T10:00:00Z"))
      q.processAllAvailable()
      val u1 = spark.table("funnel_sink").collect()
        .filter(_.getAs[String]("user_id") == "u1")
        .map(r => (r.getAs[Long]("step_idx"), r.getAs[String]("step"),
          r.getAs[Timestamp]("reach_ts").getTime)).sortBy(_._1)
      val base = java.time.Instant.parse("2024-01-15T10:00:00Z").toEpochMilli
      assert(u1.toSeq == Seq(
        (1L, "signup", base),
        (2L, "view", base + 60000L),
        (3L, "purchase", base + 120000L)), u1.toSeq)
    } finally q.stop()
  }

  test("state scale: 1M session keys through RocksDB, watermark evicts to bounded state") {
    implicit val ctx = spark.sqlContext
    // the 100 TB posture for wide key spaces: a million distinct users'
    // session state lives in RocksDB, and once the watermark passes
    // every open session's gap the event-time timeouts EVICT it — state
    // tracks concurrent activity, not history. Peak and post-expiry
    // state row counts come from the query's own progress metrics.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long)]
      val events = input.toDF().toDF("user_id", "ts_us")
        .withColumn("timestamp",
          org.apache.spark.sql.functions.timestamp_micros($"ts_us"))
      val sessions = graft.stream.Sessionize.userSessions(
        events, gapMinutes = 5, watermark = "10 minutes")
      val q = sessions.toDF().writeStream.format("noop")
        .outputMode("append").start()
      try {
        val t0 = 1700000000000000L // µs
        val nKeys = 1000000
        input.addData((0 until nKeys).map(i => (s"u$i", t0)))
        q.processAllAvailable()
        val peak = q.lastProgress.stateOperators(0).numRowsTotal
        assert(peak == nKeys.toLong, s"expected $nKeys state rows, got $peak")
        // two more batches: the first carries an event 1 h ahead (its
        // max event time becomes the NEXT batch's watermark), the second
        // triggers the batch in which every t0 session times out
        input.addData(Seq(("late_a", t0 + 3600L * 1000000L)))
        q.processAllAvailable()
        input.addData(Seq(("late_b", t0 + 3600L * 1000000L + 1000000L)))
        q.processAllAvailable()
        val after = q.lastProgress.stateOperators(0).numRowsTotal
        assert(after <= 2L,
          s"watermark must evict the 1M expired sessions, $after rows remain")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionization: late event more than gap BEFORE the open session forms its own") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, user: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"$user","event_type":"click","value":1.0}"""
    val input = MemoryStream[String]
    val sessions = graft.stream.Sessionize.userSessions(
      Pipeline.process(input.toDF()), gapMinutes = 5, watermark = "10 minutes")
    val q = sessions.toDF()
      .writeStream.format("memory").queryName("ooo_session_sink")
      .outputMode("append").start()
    try {
      input.addData(ev("a", "u1", "2024-01-15T10:10:00Z"))
      q.processAllAvailable()
      // late arrival INSIDE the 10-min watermark but > gap before the
      // open session's start: islands-and-gaps puts it in its OWN session
      input.addData(ev("b", "u1", "2024-01-15T10:02:00Z"))
      q.processAllAvailable()
      // advance the watermark far past both sessions to close them
      input.addData(ev("c", "u9", "2024-01-15T11:00:00Z"))
      q.processAllAvailable()
      input.addData(ev("d", "u9", "2024-01-15T12:00:00Z"))
      q.processAllAvailable()
      val u1 = spark.table("ooo_session_sink")
        .filter($"user_id" === "u1")
        .select($"n_events", $"session_start").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString)).toSet
      assert(u1 == Set(
        (1L, "2024-01-15T10:02:00Z"),
        (1L, "2024-01-15T10:10:00Z")), u1.toString)
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to preceding views") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, user: String, typ: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"$user","event_type":"$typ","value":1.0}"""
    val input = MemoryStream[String]
    val joined = Pipeline.viewPurchaseJoin(
      Pipeline.process(input.toDF()), gap = "10 minutes", watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("attrib_sink")
      .outputMode("append").start()
    try {
      input.addData(
        ev("v1", "u1", "view", "2024-01-15T10:00:00Z"),
        ev("p1", "u1", "purchase", "2024-01-15T10:05:00Z"),
        ev("p2", "u1", "purchase", "2024-01-15T11:00:00Z"), // no view in gap
        ev("v2", "u2", "view", "2024-01-15T10:30:00Z"),     // other user
        ev("p3", "u3", "purchase", "2024-01-15T10:31:00Z")) // no view at all
      q.processAllAvailable()
      val rows = spark.table("attrib_sink")
        .select($"purchase_id", $"view_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("p1", "v1")))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched purchases after the watermark") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, user: String, typ: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"$user","event_type":"$typ","value":1.0}"""
    val input = MemoryStream[String]
    val joined = Pipeline.viewPurchaseJoin(
      Pipeline.process(input.toDF()), gap = "10 minutes",
      watermark = "1 minute", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("attrib_outer_sink")
      .outputMode("append").start()
    try {
      input.addData(
        ev("v1", "u1", "view", "2024-01-15T10:00:00Z"),
        ev("p1", "u1", "purchase", "2024-01-15T10:05:00Z"), // matched
        ev("p2", "u2", "purchase", "2024-01-15T10:06:00Z")) // no view
      q.processAllAvailable()
      // push the watermark far past p2's ts + gap so the unmatched row
      // can be finalized as a null-padded emit. The global watermark is
      // the MIN across both sides' watermark nodes, so BOTH the view and
      // purchase branches need late traffic to advance it.
      input.addData(
        ev("z", "u9", "view", "2024-01-15T12:00:00Z"),
        ev("zp", "u9", "purchase", "2024-01-15T12:00:00Z"))
      q.processAllAvailable()
      input.addData(
        ev("z2", "u9", "view", "2024-01-15T13:00:00Z"),
        ev("z2p", "u9", "purchase", "2024-01-15T13:00:00Z"))
      q.processAllAvailable()
      val rows = spark.table("attrib_outer_sink")
        .select($"purchase_id", $"view_id").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(rows.contains(("p1", Some("v1"))), rows.toString)
      assert(rows.contains(("p2", None)), rows.toString)
    } finally q.stop()
  }

  test("chained stateful operators: fine windows feed coarse windows in one query") {
    implicit val ctx = spark.sqlContext
    def ev(id: String, tsIso: String) =
      s"""{"id":"$id","timestamp":"$tsIso","message":"m","user_id":"u","event_type":"click","value":1.0}"""
    val input = MemoryStream[String]
    val tiered = Pipeline.tieredCounts(
      Pipeline.process(input.toDF()),
      fine = "60 seconds", coarse = "10 minutes", watermark = "1 minute")
    val q = tiered.writeStream.format("memory").queryName("tiered_sink")
      .outputMode("append").start()
    try {
      // three events across two fine windows inside ONE coarse window
      input.addData(
        ev("a", "2024-01-15T10:00:10Z"), ev("b", "2024-01-15T10:00:40Z"),
        ev("c", "2024-01-15T10:03:10Z"))
      q.processAllAvailable()
      // watermark still inside the coarse window → nothing emitted yet
      assert(spark.table("tiered_sink").isEmpty)
      // advance past 10:10 + watermark → the coarse window closes
      input.addData(ev("d", "2024-01-15T10:30:00Z"))
      q.processAllAvailable()
      val rows = spark.table("tiered_sink")
        .select($"window_start".cast("string"), $"n", $"n_fine_windows")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSet == Set(("2024-01-15 10:00:00", 3L, 2L)), rows.toSeq)
    } finally q.stop()
  }

  test("fromKafka reaches Spark's kafka source resolution (no connector here)") {
    // the sandbox ships no kafka connector jar; the wiring is correct iff
    // Spark's DataSource lookup is what rejects it, with its standard
    // deploy-the-artifact guidance
    val e = intercept[Exception] {
      Pipeline.fromKafka(spark, "localhost:9092", "events_topic")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("downstream chain is source-agnostic: memory and text sources plan identically") {
    implicit val ctx = spark.sqlContext
    def norm(plan: String): String = plan
      .replaceAll("#\\d+", "#")
      .split("\n")
      .filterNot(l => l.contains("MemoryStream") || l.contains("Relation"))
      .mkString("\n")
    val memPlan = Pipeline.process(MemoryStream[String].toDF())
      .queryExecution.analyzed.toString
    val dir = java.nio.file.Files.createTempDirectory("graft_srcswap").toString
    val txtPlan = Pipeline.process(Pipeline.fromTextDir(spark, dir))
      .queryExecution.analyzed.toString
    assert(norm(memPlan) == norm(txtPlan),
      s"source swap changed the chain:\n$memPlan\nvs\n$txtPlan")
  }

  test("file-source streaming with date-partitioned parquet sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/batch1.jsonl"), s"$msg1\n$msg2\n")
    val q = Pipeline.startSink(
      Pipeline.process(Pipeline.fromTextDir(spark, srcDir)),
      outDir, ckpt, trigger = Trigger.AvailableNow())
    try {
      assert(Lifecycle.awaitActive(q, timeoutMs = 60000) || !q.isActive)
      q.awaitTermination(60000)
      val out = spark.read.parquet(outDir)
      assert(out.count() == 2)
      // D6: sink is physically partitioned by event_date
      assert(out.columns.contains("event_date"))
      val dirs = new java.io.File(outDir).list().filter(_.startsWith("event_date="))
      assert(dirs.nonEmpty)
    } finally if (q.isActive) q.stop()
  }

  test("AvailableNow drains a multi-file backlog in bounded batches and self-terminates") {
    // the catch-up posture at 100 TB: a restarted job finds a deep
    // backlog and must drain it in BOUNDED batches (maxFilesPerTrigger
    // caps per-batch work so no single batch needs backlog-sized
    // memory), then stop on its own — no always-on cluster for batch
    // catch-up. AvailableNow + the cap is exactly that contract.
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/backlog$i.jsonl"),
        msg1.replace("test-dag-001", s"test-dag-a$i") + "\n" +
          msg2.replace("test-dag-002", s"test-dag-b$i") + "\n")
    }
    val src = spark.readStream.format("text")
      .option("maxFilesPerTrigger", 1).load(srcDir)
    val q = Pipeline.startSink(Pipeline.process(src), outDir, ckpt,
      trigger = Trigger.AvailableNow())
    try {
      q.awaitTermination(120000)
      assert(!q.isActive, "AvailableNow must stop on its own")
      // the cap held: the drain took one batch per file
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches == 3, s"expected 3 bounded batches, saw $batches")
      assert(spark.read.parquet(outDir).count() == 6)
    } finally if (q.isActive) q.stop()
  }

  test("transformWithState running counts (RocksDB state store)") {
    implicit val ctx = spark.sqlContext
    // the transformWithState API requires the RocksDB provider — state
    // lives on disk, the 100 TB posture for wide key spaces
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[String]
      val counts = graft.stream.RunningCounts.perUser(Pipeline.process(input.toDF()))
      val q = counts.toDF().writeStream.format("memory").queryName("tws_sink")
        .outputMode("update").start()
      try {
        input.addData(msg1, msg2) // both dag_tester
        q.processAllAvailable()
        input.addData(msg2.replace("test-dag-002", "test-dag-003"))
        q.processAllAvailable()
        val rows = spark.table("tws_sink").collect()
          .map(r => (r.getString(0), r.getLong(1)))
        // update mode: one row per batch for the active user — running
        // count reaches 3 and passes through 2
        assert(rows.toSet == Set(("dag_tester", 2L), ("dag_tester", 3L)), rows.mkString(","))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming as-of twin: purchases enriched with latest view, batch parity") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long, String, Long, Double)]
      val events = input.toDF()
        .toDF("user_id", "event_id", "event_type", "ts_us", "value")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros($"ts_us"))
      val q = graft.stream.AsOfEnrich.enrich(events).toDF()
        .writeStream.format("memory").queryName("asof_sink")
        .outputMode("append").start()
      try {
        // batch 1: u1's views arrive OUT of event-time order, purchase
        // at 400 must still see the ts-300 view; u2 purchases view-less
        input.addData(
          ("u1", 3L, "view", 300L, 3.0), ("u1", 1L, "view", 100L, 1.0),
          ("u1", 4L, "purchase", 400L, 99.0), ("u2", 5L, "purchase", 50L, 9.0))
        q.processAllAvailable()
        // batch 2: a LATE view (ts 200 < state 300) must not regress
        // state; then a fresh view moves it forward
        input.addData(
          ("u1", 2L, "view", 200L, 2.0), ("u1", 6L, "purchase", 500L, 98.0),
          ("u1", 7L, "view", 600L, 6.0), ("u1", 8L, "purchase", 700L, 97.0),
          ("u3", 20L, "view", 1000L, 20.0))
        q.processAllAvailable()
        // batch 3: an EQUAL-ts view with a LOWER event_id arrives in a
        // later batch — the batch twin's (ts, event_id) order says the
        // id-20 view still wins
        input.addData(
          ("u3", 19L, "view", 1000L, 19.0), ("u3", 21L, "purchase", 1100L, 96.0))
        q.processAllAvailable()
        val got = spark.table("asof_sink").collect().map(r =>
          (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) null else r.getLong(2),
            if (r.isNullAt(3)) null else r.getDouble(3))).toSet
        // batch twin over the SAME eight events
        val batchDf = Seq(
          ("u1", 3L, "view", 300L, 3.0), ("u1", 1L, "view", 100L, 1.0),
          ("u1", 4L, "purchase", 400L, 99.0), ("u2", 5L, "purchase", 50L, 9.0),
          ("u1", 2L, "view", 200L, 2.0), ("u1", 6L, "purchase", 500L, 98.0),
          ("u1", 7L, "view", 600L, 6.0), ("u1", 8L, "purchase", 700L, 97.0),
          ("u3", 20L, "view", 1000L, 20.0), ("u3", 19L, "view", 1000L, 19.0),
          ("u3", 21L, "purchase", 1100L, 96.0))
          .toDF("user_id", "event_id", "event_type", "ts_us", "value")
          .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros($"ts_us"))
        val expected = graft.ops.Analytics.asofLastView(batchDf).collect().map(r =>
          (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) null else r.getLong(2),
            if (r.isNullAt(3)) null else r.getDouble(3))).toSet
        assert(got == expected, s"got=$got expected=$expected")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("complete output mode re-emits the full aggregate each batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val counts = Pipeline.process(input.toDF())
      .groupBy($"event_type").count()
    val q = counts.writeStream.format("memory").queryName("complete_sink")
      .outputMode("complete").start()
    try {
      input.addData(msg1, msg2)
      q.processAllAvailable()
      input.addData(msg2.replace("test-dag-002", "test-dag-003"))
      q.processAllAvailable()
      val m = spark.table("complete_sink").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == Map("test" -> 1L, "purchase" -> 2L))
    } finally q.stop()
  }

  test("observed metrics report per-batch rows and quality inside the plan") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    @volatile var seen: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("graft_metrics") && m.get("graft_metrics").getAs[Long]("rows") > 0)
          seen = Some(m.get("graft_metrics"))
      }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q = Pipeline.withQualityMetrics(Pipeline.process(input.toDF()))
      .writeStream.format("memory").queryName("obs_sink")
      .outputMode("append").start()
    try {
      input.addData(msg1, msg2)
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30e9.toLong
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val m = seen.get
      assert(m.getAs[Long]("rows") == 2)
      assert(m.getAs[Double]("avg_quality") == 100.0)
      assert(m.getAs[Long]("low_quality_rows") == 0)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("foreachBatch fan-out writes rows to the main sink and summaries to stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    val srcDir = s"$dir/in"; val mainDir = s"$dir/main"
    val statsDir = s"$dir/stats"; val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/batch1.jsonl"), s"$msg1\n$msg2\n")
    val q = Pipeline.startFanoutSink(
      Pipeline.process(Pipeline.fromTextDir(spark, srcDir)),
      mainDir, statsDir, ckpt, trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val main = spark.read.option("recursiveFileLookup", "true").parquet(mainDir)
    assert(main.count() == 2)
    // batch_id is an explicit LongType DATA column (stable type, present
    // even when reading one batch directory directly)
    assert(main.schema("batch_id").dataType.typeName == "long")
    val stats = spark.read.option("recursiveFileLookup", "true")
      .parquet(statsDir).collect()
    assert(stats.map(_.getAs[Long]("n_rows")).sum == 2)
    assert(stats.forall(_.getAs[Double]("avg_quality") == 100.0))
    assert(stats.map(_.getAs[Long]("batch_id")).distinct.nonEmpty)
  }

  test("foreachBatch keyed upsert: updates and re-delivery converge to one row per key") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.timestamp_micros
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val ckpt = s"$dir/ckpt"; val table = s"$dir/table"
    val input = MemoryStream[(Long, String, Double, Long)]
    val events = input.toDF().toDF("id", "name", "value", "ts_us")
      .withColumn("timestamp", timestamp_micros($"ts_us")).drop("ts_us")
    val q = Pipeline.startUpsertSink(events, "id", table, ckpt, nBuckets = 4,
      trigger = Trigger.ProcessingTime(100))
    try {
      input.addData((1L, "a", 10.0, 100L), (2L, "b", 20.0, 200L))
      q.processAllAvailable()
      // batch 2: update key 2, insert key 3 twice (newest ts must win)
      input.addData((2L, "b2", 25.0, 300L), (3L, "c", 30.0, 300L),
        (3L, "c2", 35.0, 400L))
      q.processAllAvailable()
    } finally q.stop()
    // at-least-once: re-deliver batch 1 (same batchId) after the fact —
    // the merge must overwrite its own version, not double-append
    val redelivered = Seq(
      (2L, "b2", 25.0, 300L), (3L, "c", 30.0, 300L), (3L, "c2", 35.0, 400L))
      .toDF("id", "name", "value", "ts_us")
      .withColumn("timestamp", timestamp_micros($"ts_us")).drop("ts_us")
    Pipeline.upsertBatch(redelivered, "id", table, batchId = 1L, nBuckets = 4)
    val rows = Pipeline.readUpsertTable(spark, table, nBuckets = 4)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[Double]("value"))).toSet
    assert(rows == Set((1L, "a", 10.0), (2L, "b2", 25.0), (3L, "c2", 35.0)),
      rows.toString)
    // a RESET checkpoint (batchId below the committed head) must refuse
    // rather than silently clobber low versions behind the readers
    val ex = intercept[IllegalStateException] {
      Pipeline.upsertBatch(redelivered, "id", table, batchId = 0L, nBuckets = 4)
    }
    assert(ex.getMessage.contains("checkpoint"), ex.getMessage)
  }

  test("upsert compaction: one file per bucket, same rows, self-healing swap") {
    import org.apache.spark.sql.functions.timestamp_micros
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val table = s"$dir/table"
    def batch(rows: (Long, String, Double, Long)*) =
      rows.toDF("id", "name", "value", "ts_us")
        .withColumn("timestamp", timestamp_micros($"ts_us")).drop("ts_us")
    // three merges over 8 keys / 2 buckets: existing ∪ incoming unions
    // accrete part files per bucket
    Pipeline.upsertBatch(batch((1L, "a", 1.0, 100L), (2L, "b", 2.0, 100L),
      (3L, "c", 3.0, 100L), (4L, "d", 4.0, 100L)), "id", table, 0L, nBuckets = 2)
    Pipeline.upsertBatch(batch((5L, "e", 5.0, 200L), (6L, "f", 6.0, 200L)),
      "id", table, 1L, nBuckets = 2)
    Pipeline.upsertBatch(batch((1L, "a2", 1.5, 300L), (7L, "g", 7.0, 300L),
      (8L, "h", 8.0, 300L)), "id", table, 2L, nBuckets = 2)
    def contents() = Pipeline.readUpsertTable(spark, table, nBuckets = 2)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[Double]("value"))).toSet
    val before = contents()
    assert(before.size == 8 && before.contains((1L, "a2", 1.5)))
    val statsBefore = Pipeline.upsertTableStats(spark, table, nBuckets = 2)
    assert(statsBefore.map(_.nFiles).sum > 2,
      s"expected accreted small files, got $statsBefore")
    val done = Pipeline.compactUpsertTable(spark, table, nBuckets = 2)
    assert(done.nonEmpty && done.forall(_.filesAfter == 1))
    val statsAfter = Pipeline.upsertTableStats(spark, table, nBuckets = 2)
    assert(statsAfter.forall(_.nFiles == 1), statsAfter.toString)
    assert(contents() == before)
    // compaction is content-idempotent: nothing left to rewrite
    assert(Pipeline.compactUpsertTable(spark, table, nBuckets = 2).isEmpty)
    // crash between delete and rename = orphan .compact, no original:
    // the recovery sweep at the start of the next run completes the swap
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(table), spark.sparkContext.hadoopConfiguration)
    val st = statsAfter.head
    val orig = new org.apache.hadoop.fs.Path(
      s"$table/v-${st.version}/bucket-${st.bucket}")
    fs.rename(orig, new org.apache.hadoop.fs.Path(s"$orig.compact"))
    assert(!fs.exists(orig))
    Pipeline.compactUpsertTable(spark, table, nBuckets = 2)
    assert(fs.exists(orig))
    assert(contents() == before)
    // the dangerous interleaving: crash-window orphan followed by an
    // UPSERT (not a compaction) — the entry-point heal must restore the
    // hidden version before the merge picks its source, or the orphaned
    // rows silently vanish from the new version
    fs.rename(orig, new org.apache.hadoop.fs.Path(s"$orig.compact"))
    // four fresh keys so BOTH buckets are (deterministically) touched and
    // the orphaned bucket's merge path actually runs
    Pipeline.upsertBatch(batch((9L, "i", 9.0, 400L), (10L, "j", 10.0, 400L),
      (11L, "k", 11.0, 400L), (12L, "l", 12.0, 400L)), "id", table, 3L, nBuckets = 2)
    val healed = contents()
    assert(healed == before ++ Set((9L, "i", 9.0), (10L, "j", 10.0),
      (11L, "k", 11.0), (12L, "l", 12.0)), healed.toString)
    // an ORPHAN committed .compact at a SUPERSEDED version (no original
    // dir — the state left if retention is interrupted between its two
    // deletes) must be discarded by the sweep, not renamed in:
    // resurrecting it would undo retention. Version 0 is strictly below
    // every bucket's current committed version here.
    val statsNow = Pipeline.upsertTableStats(spark, table, nBuckets = 2)
    val b = statsNow.head.bucket
    assert(statsNow.head.version > 0L)
    val staleDir = new org.apache.hadoop.fs.Path(s"$table/v-0/bucket-$b.compact")
    fs.delete(new org.apache.hadoop.fs.Path(s"$table/v-0/bucket-$b"), true)
    fs.mkdirs(staleDir)
    fs.create(new org.apache.hadoop.fs.Path(staleDir, "_SUCCESS")).close()
    Pipeline.compactUpsertTable(spark, table, nBuckets = 2)
    assert(!fs.exists(staleDir), "superseded orphan .compact was not discarded")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/v-0/bucket-$b")),
      "superseded orphan .compact must not be resurrected as a bucket dir")
    assert(contents() == healed)
    // and a stale aside WITH a surviving original is left for the owning
    // compactor/retention (live-compaction race safety), then ignored by
    // reads
    val cur = Pipeline.upsertTableStats(spark, table, nBuckets = 2).head
    val curOrig = s"$table/v-${cur.version}/bucket-${cur.bucket}"
    val curAside = new org.apache.hadoop.fs.Path(s"$curOrig.compact")
    fs.mkdirs(curAside)
    fs.create(new org.apache.hadoop.fs.Path(curAside, "_SUCCESS")).close()
    assert(contents() == healed) // read path: no-op on orig-present asides
    assert(fs.exists(curAside), "orig-present aside must NOT be deleted by heal")
    fs.delete(curAside, true)
  }

  test("checkpoint restart is exactly-once: no duplicates, new data picked up") {
    // K1 reliability semantics: the file sink's manifest + the source's
    // checkpointed offsets make stop/restart idempotent — re-running from
    // the same checkpoint must not re-emit batch 1, and must emit the
    // files that arrived while the query was down
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/batch1.jsonl"), s"$msg1\n")
    val q1 = Pipeline.startSink(
      Pipeline.process(Pipeline.fromTextDir(spark, srcDir)),
      outDir, ckpt, trigger = Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() == 1)
    // new data lands while the query is DOWN
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/batch2.jsonl"), s"$msg2\n")
    val q2 = Pipeline.startSink(
      Pipeline.process(Pipeline.fromTextDir(spark, srcDir)),
      outDir, ckpt, trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val ids = spark.read.parquet(outDir).select($"id").as[String].collect().sorted
    assert(ids.toSeq == Seq("test-dag-001", "test-dag-002"), ids.mkString(","))
  }

  test("deduplicated ingest: cross-batch and in-batch dups dropped, replay idempotent") {
    import graft.stream.IngestDedup
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.startIngest(
      input.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      input.addData((1L, "alpha doc"), (2L, "beta doc"))
      q.processAllAvailable()
      // batch 2: a re-crawl of doc 1 (case/whitespace variant), an
      // in-batch duplicated new text, and a genuinely new doc
      input.addData(
        (10L, "  Alpha   DOC "), (11L, "gamma doc"),
        (12L, "gamma doc"), (13L, "delta doc"))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(corpus == Seq(1L, 2L, 11L, 13L),
      s"corpus must hold one doc per normalized text: $corpus")
    val idx = IngestDedup.readIndex(spark, root).collect()
    assert(idx.length == 4 && idx.map(_.getString(0)).distinct.length == 4)
    // at-least-once replay of the last batch must converge, not duplicate:
    // recomputes against index versions < 1 and overwrites its own dirs
    val replay = Seq(
      (10L, "  Alpha   DOC "), (11L, "gamma doc"),
      (12L, "gamma doc"), (13L, "delta doc")).toDF("doc_id", "text")
    IngestDedup.ingestBatch(replay, root, batchId = 1L)
    val after = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(after == corpus, s"replay changed the corpus: $after")
  }

  test("near-dup ingest: corpus near-dups dropped via the band index, in-batch clustered, replay idempotent") {
    import graft.stream.IngestDedup
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ingest-nd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest-nd-ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val other = "completely different words about spark catalyst plans and shuffles everywhere"
    val fresh = "novel training corpus sentences mention embeddings tokens and quality signals"
    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.startIngestNearDup(
      input.toDF().toDF("doc_id", "text"), root, ckpt, threshold = 0.5)
    try {
      input.addData((1L, base), (2L, other))
      q.processAllAvailable()
      // batch 2: near-dup of corpus doc 1 (one appended token), an exact
      // dup of doc 2, an in-batch near-dup pair of a NEW text, and a
      // genuinely new doc
      input.addData(
        (10L, base + " extra"), (11L, other),
        (12L, fresh), (13L, fresh + " appended"),
        (14L, "tiny doc"))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(corpus == Seq(1L, 2L, 12L, 14L),
      s"expected corpus-near-dup 10, exact-dup 11 and in-batch-near-dup 13 dropped: $corpus")
    // band index covers every survivor with shingles (14 is sub-shingle)
    val bandDocs = spark.read
      .parquet(s"$root/band-index/v-0", s"$root/band-index/v-1")
      .select($"doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(bandDocs == Seq(1L, 2L, 12L))
    // replay converges
    IngestDedup.ingestBatchNearDup(
      Seq((10L, base + " extra"), (11L, other), (12L, fresh),
        (13L, fresh + " appended"), (14L, "tiny doc")).toDF("doc_id", "text"),
      root, batchId = 1L, threshold = 0.5)
    val after = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(after == corpus, s"replay changed the corpus: $after")
  }

  test("bloom-gated ingest: same corpus as plain ingest, per-batch sketches, replay idempotent, uncovered history falls back") {
    import graft.stream.IngestDedup
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ingest-bl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest-bl-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.startIngestBloom(
      input.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      input.addData((1L, "first unique doc"), (2L, "second unique doc"))
      q.processAllAvailable()
      input.addData(
        (10L, "First   UNIQUE doc"),   // normalizes to doc 1 → dropped
        (11L, "a genuinely new doc"),
        (12L, "a  genuinely new doc")) // in-batch dup of 11 → dropped
      q.processAllAvailable()
    } finally q.stop()
    val corpus = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(corpus == Seq(1L, 2L, 11L), s"got: $corpus")
    // one sketch per batch with kept docs
    val blooms = new java.io.File(s"$root/bloom-index").listFiles()
      .map(_.getName).filter(_.endsWith(".bloom")).sorted.toSeq
    assert(blooms == Seq("v-0.bloom", "v-1.bloom"))
    // replay converges (overwrites its own version dirs + sketch)
    IngestDedup.ingestBatchBloom(
      Seq((10L, "First   UNIQUE doc"), (11L, "a genuinely new doc"),
        (12L, "a  genuinely new doc")).toDF("doc_id", "text"),
      root, batchId = 1L)
    val after = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(after == corpus, s"replay changed the corpus: $after")
    // corrupt sketch → merge fails → gate disabled, plain join still
    // refuses the duplicate
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/bloom-index/v-0.bloom"),
      Array[Byte](1, 2, 3))
    IngestDedup.ingestBatchBloom(
      Seq((30L, "SECOND unique doc"), (31L, "a fourth new doc"))
        .toDF("doc_id", "text"),
      root, batchId = 2L)
    val afterTorn = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(afterTorn == Seq(1L, 2L, 11L, 31L), s"got: $afterTorn")
    // lost sketch → coverage guard falls back to the plain join and
    // still refuses a duplicate of covered-by-index-only history
    assert(new java.io.File(s"$root/bloom-index/v-0.bloom").delete())
    IngestDedup.ingestBatchBloom(
      Seq((20L, "FIRST unique  doc"), (21L, "brand new third doc"))
        .toDF("doc_id", "text"),
      root, batchId = 3L)
    val guarded = IngestDedup.corpus(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(guarded == Seq(1L, 2L, 11L, 21L, 31L), s"got: $guarded")
  }

  test("ingest index compaction folds history below max; interrupted swap heals") {
    import graft.stream.IngestDedup
    val root = java.nio.file.Files.createTempDirectory("ingest-c").toString
    for (b <- 0L to 3L)
      IngestDedup.ingestBatch(
        Seq((b * 10, s"doc number $b")).toDF("doc_id", "text"), root, b)
    val before = IngestDedup.readIndex(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(before.size == 4)
    // folds v-0..v-2 into v-2, leaves v-3 (replay-eligible) alone
    assert(IngestDedup.compactIndex(spark, root) == 2)
    val dirs = new java.io.File(s"$root/fp-index").listFiles()
      .map(_.getName).filter(_.startsWith("v-")).sorted.toSeq
    assert(dirs == Seq("v-2", "v-3"), dirs.mkString(","))
    assert(IngestDedup.readIndex(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == before)
    // a replay of the max batch still sees the full prior state
    IngestDedup.ingestBatch(
      Seq((30L, "doc number 3")).toDF("doc_id", "text"), root, 3L)
    assert(IngestDedup.readIndex(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == before)
    // simulate a crash between park and swap-in: live target missing,
    // committed staging + parked copy present → heal must roll FORWARD
    val fpDir = s"$root/fp-index"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(fpDir), spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$fpDir/v-2"),
      new org.apache.hadoop.fs.Path(s"$fpDir/.old-v-2"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$fpDir/.compact-v-2"))
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$fpDir/.old-v-2"), fs,
      new org.apache.hadoop.fs.Path(s"$fpDir/.compact-v-2"),
      false, true, spark.sparkContext.hadoopConfiguration)
    val healed = IngestDedup.readIndex(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(healed == before, s"heal lost rows: ${before -- healed}")
    assert(new java.io.File(s"$fpDir/v-2").exists)
    assert(!new java.io.File(s"$fpDir/.old-v-2").exists)
    assert(!new java.io.File(s"$fpDir/.compact-v-2").exists)
  }

  test("space-saving heavy hitters: hot keys exact across batches, capacity bounds state") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[String]
      val stream = input.toDF().toDF("event_type")
      // one bucket + capacity 3 exercises the displacement path hard
      val hh = graft.stream.HeavyHitters.topK(
        stream, keyCol = "event_type", capacity = 3, nBuckets = 1, emitK = 3)
      val q = hh.toDF().writeStream.format("memory").queryName("hh_sink")
        .outputMode("update").start()
      try {
        // batch 1: hot=5, warm=3, then 4 distinct cold keys fight over
        // the third counter
        input.addData(Seq.fill(5)("hot") ++ Seq.fill(3)("warm") ++
          Seq("c1", "c2", "c3", "c4"): _*)
        q.processAllAvailable()
        // batch 2: hot keeps flowing — its count must carry over exactly
        input.addData(Seq.fill(4)("hot"): _*)
        q.processAllAvailable()
        val rows = spark.table("hh_sink").collect()
          .map(r => (r.getLong(2 /* count is field 2 after bucket,key */),
            r.getString(1), r.getLong(3)))
        // counts are monotone per key, so max-per-key = the final summary
        val lastBatch = spark.table("hh_sink").collect()
          .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
          .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
        // hot was tracked from its first row: exact 9, zero overestimate
        assert(lastBatch("hot") == (("hot", 9L, 0L)), lastBatch.toString)
        // warm was tracked from its first row too (slot 2): exact 3
        assert(lastBatch("warm")._2 == 3L && lastBatch("warm")._3 == 0L)
        // every emitted counter respects the space-saving invariant:
        // overestimate < count, and per batch at most capacity rows
        assert(rows.forall { case (c, _, o) => o < c })
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("change capture stream: intra-batch disorder sorts out, versions match the batch twin") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp, Long, String)]
      val stream = input.toDF().toDF("user_id", "ts", "event_id", "event_type")
      val cc = graft.stream.ChangeCapture.changes(stream)
      val q = cc.toDF().writeStream.format("memory").queryName("cc_sink")
        .outputMode("append").start()
      // instants from epoch millis — TZ-proof (Timestamp.valueOf would
      // parse in the JVM's local zone and skew the *_us assertions)
      val base = 1704067200000L // 2024-01-01T00:00:00Z
      def t(sec: Int) = new Timestamp(base + sec * 1000L)
      try {
        // batch 1 arrives OUT of order: B@t3 first, then A@t1, A@t2 —
        // sorted application must yield A(v1)@t1, B(v2)@t3 and no
        // spurious version from the disorder
        input.addData(
          (3L, t(3), 13L, "B"),
          (3L, t(1), 11L, "A"),
          (3L, t(2), 12L, "A"))
        q.processAllAvailable()
        // batch 2: same-type row suppressed, C opens v3, and a LATE row
        // older than the open version must not retract anything
        input.addData(
          (3L, t(4), 14L, "B"),
          (3L, t(5), 15L, "C"),
          (3L, t(0), 10L, "Z"))
        q.processAllAvailable()
        val rows = spark.table("cc_sink").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
            r.getAs[String]("event_type"), r.getAs[Long]("valid_from_us")))
          .sortBy(r => (r._1, r._2))
        assert(rows.toSeq == Seq(
          (3L, 1L, "A", 1704067201000000L),
          (3L, 2L, "B", 1704067203000000L),
          (3L, 3L, "C", 1704067205000000L)))
        // parity with the batch twin on the SAME rows (late Z excluded by
        // the stream's no-retraction contract; the batch replay sees it)
        val batchIn = Seq(
          (11L, 3L, t(1), "A"),
          (12L, 3L, t(2), "A"),
          (13L, 3L, t(3), "B"),
          (14L, 3L, t(4), "B"),
          (15L, 3L, t(5), "C")
        ).toDF("event_id", "user_id", "ts", "event_type")
        val batch = graft.ops.Analytics.changeCapture(batchIn, userMod = 1)
          .collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
            r.getAs[String]("event_type"), r.getAs[Long]("valid_from_us")))
        assert(batch.toSeq == rows.toSeq)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("bottom-k sample stream: order-scrambled batches converge to the batch sample") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = (1 to 12).map(i =>
        (i.toLong, s"doc body number $i", if (i % 2 == 0) "web" else "book"))
      val input = MemoryStream[(Long, String, String)]
      val stream = input.toDF().toDF("doc_id", "text", "source")
      val bk = graft.stream.BottomKSample.perGroup(stream, "source", k = 3)
      val q = bk.toDF().writeStream.format("memory").queryName("bk_sink")
        .outputMode("update").start()
      try {
        // adversarial split: later half first, plus a duplicate doc that
        // must not occupy two sample slots
        input.addData(docs.drop(6): _*)
        q.processAllAvailable()
        input.addData(docs.take(6) :+ docs(7): _*)
        q.processAllAvailable()
        val all = spark.table("bk_sink").collect()
          .map(r => (r.getAs[String]("group"), r.getAs[Long]("gen"),
            r.getAs[Long]("rnk"), r.getAs[Long]("doc_id")))
        // current sample = each group's max-gen emission
        val maxGen = all.groupBy(_._1).map { case (g, v) => g -> v.map(_._2).max }
        val streamed = all
          .filter { case (g, gen, _, _) => gen == maxGen(g) }
          .map { case (g, _, rnk, id) => (g, rnk, id) }.sortBy(identity)
        // batch twin over the SAME corpus (duplicate included — set
        // semantics must collapse it there too via distinct doc_id rows)
        val batchDf = (docs ++ Seq(docs(7)))
          .toDF("doc_id", "text", "source")
        val batch = graft.ops.Corpus
          .sampleKPerGroup(batchDf.dropDuplicates("doc_id"), "source", k = 3)
          .collect()
          .map(r => (r.getAs[String]("source"), r.getAs[Long]("rnk"),
            r.getAs[Long]("doc_id"))).sortBy(identity)
        assert(streamed.toSeq == batch.toSeq)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("drift monitor: reference-like traffic reads ~0, shifted traffic alarms, unknown type flags") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // reference trained on a batch frame: A uniform over bins 0 and 15
      val refDf = (Seq.fill(8)(("A", 0.0)) ++ Seq.fill(8)(("A", 16.0)))
        .toDF("event_type", "value")
      val refs = graft.stream.DriftMonitor.referenceHistograms(refDf)
      assert(refs("A").counts.sum == 16L)
      val input = MemoryStream[(String, Double)]
      val stream = input.toDF().toDF("event_type", "value")
      val dm = graft.stream.DriftMonitor.monitor(stream, refs)
      val q = dm.toDF().writeStream.format("memory").queryName("dm_sink")
        .outputMode("update").start()
      try {
        // batch 1: same mixture as the reference → near-zero PSI
        input.addData(Seq.fill(4)(("A", 0.0)) ++ Seq.fill(4)(("A", 16.0)): _*)
        q.processAllAvailable()
        // batch 2: everything piles into the top bin → cumulative drift;
        // plus a type the reference never saw → sentinel row
        input.addData(Seq.fill(24)(("A", 16.0)) :+ (("Z", 1.0)): _*)
        q.processAllAvailable()
        val rows = spark.table("dm_sink").collect()
          .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("gen"),
            r.getAs[Long]("n_seen"), r.getAs[Long]("psi_e4")))
        val a = rows.filter(_._1 == "A").sortBy(_._2)
        // gen 1: balanced 4+4 sample of a balanced reference — PSI is not
        // exactly 0 (smoothing over 14 empty bins) but far below alarm
        assert(a(0)._3 == 8L && a(0)._4 < 1000L, a.toString)
        // gen 2: cumulative 4 vs 28 split against a 8/8 reference → alarm
        assert(a(1)._3 == 32L && a(1)._4 > 2500L, a.toString)
        val z = rows.filter(_._1 == "Z")
        assert(z.toSeq == Seq(("Z", -1L, 0L, Long.MaxValue)), z.toString)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("disorder monitor: cumulative lateness counters match the batch audit on per-type traffic") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sec = 1000000L
      val input = MemoryStream[(Long, String, Long)]
      val stream = input.toDF().toDF("event_id", "event_type", "ts_us")
        .selectExpr("event_id", "event_type", "timestamp_micros(ts_us) AS ts")
      val q = graft.stream.DisorderMonitor.monitor(stream).toDF()
        .writeStream.format("memory").queryName("dis_sink")
        .outputMode("update").start()
      try {
        // batch 1 (ids 1-4): on-time, 50 s late, fresh max, 0.5 s late
        input.addData((1L, "x", 100 * sec), (2L, "x", 50 * sec),
          (3L, "x", 200 * sec), (4L, "x", 199 * sec + 500000L))
        q.processAllAvailable()
        // batch 2 (ids 5-6): 110 s late vs the CARRIED max; second type
        input.addData((5L, "x", 90 * sec), (6L, "y", 300 * sec))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("dis_sink").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_late"), r.getAs[Long]("n_late_1s"),
          r.getAs[Long]("n_late_1m"), r.getAs[Long]("max_late_us"),
          r.getAs[Long]("avg_late_us"), r.getAs[Long]("late_share_e4")))
        .groupBy(_._1).map { case (t, rs) => rs.maxBy(_._2) }.toSeq.sortBy(_._1)
      // same numbers the batch disorderProfile computes for type x alone
      // (per-type traffic ⇒ per-type and global running max coincide)
      assert(last == Seq(
        ("x", 5L, 3L, 2L, 1L, 110 * sec,
          (50 * sec + 500000L + 110 * sec) / 5, 6000L),
        ("y", 1L, 0L, 0L, 0L, 0L, 0L, 0L)), last.toString)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("dropDuplicatesWithinWatermark: native bounded-state dedup emits each id once") {
    // the built-in sibling of IngestDedup's exact stage: state for an id
    // is retained only within the watermark horizon, so the dedup is
    // bounded without a custom processor — the API a user reaches for
    // before graduating to the persisted-index pipeline
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Long)]
      val stream = input.toDF().toDF("event_id", "ts_us")
        .selectExpr("event_id", "timestamp_micros(ts_us) AS ts")
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark("event_id")
      val q = stream.writeStream.format("memory").queryName("ddww_sink")
        .outputMode("append").start()
      try {
        val sec = 1000000L
        input.addData((1L, 1 * sec), (2L, 2 * sec), (1L, 3 * sec))
        q.processAllAvailable()
        // batch 2: a replay of id 2 within the horizon plus a fresh id
        input.addData((2L, 4 * sec), (3L, 5 * sec))
        q.processAllAvailable()
      } finally q.stop()
      val ids = spark.table("ddww_sink").collect()
        .map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), ids.toString)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("distinct monitor: replayed KMV state matches the batch sketch exactly") {
    implicit val ctx = spark.sqlContext
    import graft.ops.Sketch
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long)]
      val stream = input.toDF().toDF("event_type", "user_id")
      val q = graft.stream.DistinctMonitor.monitor(stream, k = 4).toDF()
        .writeStream.format("memory").queryName("kmv_sink")
        .outputMode("update").start()
      try {
        input.addData((1 to 6).map(u => ("x", u.toLong)): _*)
        q.processAllAvailable()
        // second batch: duplicates plus new users, and a small type
        input.addData(((4 to 10).map(u => ("x", u.toLong)) ++
          Seq(("y", 1L), ("y", 2L), ("y", 3L))): _*)
        q.processAllAvailable()
      } finally q.stop()
      // latest reading per type = smallest k-th hash (the sketch only
      // tightens as users fold in; a tie means identical readings)
      val last = spark.table("kmv_sink").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("kth_hash"), r.getAs[Long]("est_distinct")))
        .groupBy(_._1)
        .map { case (_, rs) => rs.maxBy(x => (x._2, -x._3)) }.toSeq.sortBy(_._1)
      // the batch sketch over the same replayed frame — identical columns
      val batch = Sketch.kmvDistinct(
        ((1 to 10).map(u => (1L, u.toLong, "x", 0.0)) ++
          (1 to 3).map(u => (1L, u.toLong, "y", 0.0)))
          .toDF("event_id", "user_id", "event_type", "value"), k = 4)
        .collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("kth_hash"), r.getAs[Long]("est_distinct")))
        .toSeq.sortBy(_._1)
      assert(last == batch, s"stream=$last batch=$batch")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("checksum monitor: running fingerprint equals the batch rollup after replay") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = (1 to 30).map(i =>
        (i.toLong, (i % 7).toLong, if (i % 3 == 0) "view" else "click",
          i * 1.25, i * 1000000L))
      val input = MemoryStream[(Long, Long, String, Double, Long)]
      val stream = input.toDF()
        .toDF("event_id", "user_id", "event_type", "value", "ts_us")
        .selectExpr("event_id", "user_id", "event_type", "value",
          "timestamp_micros(ts_us) AS ts")
      val q = graft.stream.ChecksumMonitor.monitor(stream).toDF()
        .writeStream.format("memory").queryName("chk_sink")
        .outputMode("update").start()
      try {
        val (b1, b2) = rows.splitAt(17)
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("chk_sink").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("checksum")))
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSeq.sortBy(_._1)
      val batch = graft.ops.Analytics.tableChecksum(
        rows.toDF("event_id", "user_id", "event_type", "value", "ts_us")
          .selectExpr("event_id", "user_id", "event_type", "value",
            "timestamp_micros(ts_us) AS ts")).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("checksum")))
        .filter(_._1 != "TOTAL").toSeq.sortBy(_._1)
      assert(last == batch, s"stream=$last batch=$batch")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("cep monitor: NFA match counts equal the batch regex across batch cuts") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // journeys exercising the equivalence edges: greedy run (vcvp),
      // back-to-back runs (vpvp), failure mid-run (vvevp), never-buys
      val journeys = Map(
        1L -> "vcvp", 2L -> "vpvp", 3L -> "vvevp", 4L -> "cc", 5L -> "pv")
      val types = Map('v' -> "view", 'c' -> "click", 'p' -> "purchase",
        'e' -> "error")
      // event_id DESCENDS as ts ascends within each journey: the stream's
      // (ts_us, event_id) intra-batch sort must follow event TIME like
      // the batch journey assembly — an id-ordered replay would reverse
      // every journey and miss the motifs
      val rows = journeys.toSeq.flatMap { case (u, j) =>
        j.zipWithIndex.map { case (ch, i) =>
          (u * 100L + (10L - i), new java.sql.Timestamp(u * 100000L + i * 1000L),
            u, types(ch)) }
      }.sortBy(r => (r._3, r._2.getTime))
      val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      val stream = input.toDF().toDF("event_id", "ts", "user_id", "event_type")
      val q = graft.stream.CepMonitor.monitor(stream).toDF()
        .writeStream.format("memory").queryName("cep_sink")
        .outputMode("update").start()
      try {
        // split MID-JOURNEY so runs straddle the state boundary
        val (b1, b2) = rows.splitAt(rows.length / 2)
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("cep_sink").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("journey_len"),
          r.getAs[Long]("n_matches")))
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
        .filter(_._3 >= 1).toSeq.sortBy(_._1)
      val batch = graft.ops.Analytics.cepPattern(
        rows.toDF("event_id", "ts", "user_id", "event_type")).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("journey_len"),
          r.getAs[Long]("n_matches"))).toSeq.sortBy(_._1)
      assert(last == batch, s"stream=$last batch=$batch")
      assert(batch.map(x => (x._1, x._3)) == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("state store reader: a stopped query's aggregation state is queryable offline") {
    // the operational debugging surface: when a stateful stream
    // misbehaves in production, you read its checkpointed state AS A
    // DATAFRAME instead of guessing — here a keyed count's state is
    // inspected after the query stops and must equal what the sink saw
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_state_rd").toString
    val input = MemoryStream[String]
    val counts = input.toDF().toDF("event_type")
      .groupBy($"event_type").count()
    val q = counts.writeStream.format("memory").queryName("ssr_sink")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      input.addData("a", "a", "b")
      q.processAllAvailable()
      input.addData("a", "c")
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
      .selectExpr("key.event_type", "value.count")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(state.toSeq == Seq(("a", 3L), ("b", 1L), ("c", 1L)), state.mkString(","))
  }

  test("quantile monitor: one-bin-width error bound holds across batches; clips counted") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Double)]
      val stream = input.toDF().toDF("event_type", "value")
      // unit-width bins over [0, 128): estimate = exact upper bin edge
      val qm = graft.stream.Quantiles.monitor(stream, lo = 0.0, hi = 128.0,
        nBins = 128)
      val q = qm.toDF().writeStream.format("memory").queryName("qm_sink")
        .outputMode("update").start()
      try {
        // values 1..100 split across two unordered batches + one clip
        val vals = (1 to 100).map(_.toDouble)
        val (b2, b1) = vals.partition(_ % 3 == 0)
        input.addData(b1.map(("A", _)): _*)
        q.processAllAvailable()
        input.addData((b2.map(("A", _)) :+ (("A", 999.0))): _*)
        q.processAllAvailable()
        val last = spark.table("qm_sink").collect()
          .map(r => (r.getAs[Long]("n"), r.getAs[Long]("n_clipped"),
            r.getAs[Double]("p50"), r.getAs[Double]("p95"),
            r.getAs[Double]("p99"))).maxBy(_._1)
        // v ∈ [i, i+1) → bin i; cum hits ⌈q·100⌉ at bin q·100 → edge +1
        assert(last == ((100L, 1L, 51.0, 96.0, 100.0)), last.toString)
        // exact percentiles of 1..100 are 50.5 / 95.05 / 99.01 — each
        // estimate sits within one bin width, the documented bound
        assert(math.abs(last._3 - 50.5) <= 1.0)
        assert(math.abs(last._4 - 95.05) <= 1.0)
        assert(math.abs(last._5 - 99.01) <= 1.0)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("arrival SLO: micro-batch latency leaves 10x margin inside the reference's 10-minute bound") {
    // the reference's operational plane is SLO-shaped: events must land in
    // the sink within 10 minutes of publish (Streamingdag.py:428 checks
    // timestamp >= NOW() - 10 min), with the pipeline itself on a 60 s
    // window cadence. Under a 60 s trigger, worst-case arrival latency ≈
    // trigger interval + batch execution time; this pins that batch
    // execution over the full parse→validate→enrich→score chain is a
    // small fraction of the SLO, so the 60 s cadence meets 10 min with
    // an order of magnitude to spare. Measured from the engine's own
    // StreamingQueryProgress.durationMs — the same source Bench reports
    // p50/p99 from.
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    // a meaty batch: 20k wire events through the whole chain — added
    // BEFORE start (AvailableNow snapshots the available data at start)
    val events = (0 until 20000).map(i =>
      s"""{"id":"slo-$i","timestamp":"2024-01-15T10:00:00Z","message":"m$i","user_id":"u${i % 100}","event_type":"view","value":$i.0}""")
    input.addData(events: _*)
    val q = Pipeline.process(input.toDF())
      .writeStream.format("noop")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val durs = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      assert(durs.nonEmpty, "no non-empty batch progress recorded")
      val worst = durs.max
      val sloMs = 600000L // 10 minutes
      val triggerMs = 60000L // the reference's 60 s cadence
      // sustainability: a batch must clear well inside its own trigger
      // interval, or batches queue and latency compounds unboundedly
      assert(worst < triggerMs / 2,
        s"worst batch ${worst}ms must clear half the 60 s trigger interval")
      // arrival: trigger wait + worst batch ≤ half the 10-min SLO
      assert(triggerMs + worst < sloMs / 2,
        s"worst-case arrival ${triggerMs + worst}ms must leave 2x margin inside the 10-min SLO")
    } finally q.stop()
  }
}

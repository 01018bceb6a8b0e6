package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.{Analytics, Relational}

/** Wave-9.4 operators: sweep-line backlog, Q15 top supplier, supply
  * concentration, SCD2 point-in-time lookup, time-weighted averages,
  * median/MAD outliers, entry→exit flows, cohort LTV. Each test pins the
  * semantic corner the oracle pairing can't isolate (boundary rows, tie
  * handling, dropped tails).
  */
class TemporalOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, uid: Long, typ: String, v: Double) =
    (id, ts(t), uid, typ, v, "{}")

  private def events(rows: (Long, Timestamp, Long, String, Double, String)*) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  // ---- orderBacklog -------------------------------------------------------

  test("orderBacklog: closing day stays open, day after closes; lineless orders never enter") {
    val orders = Seq(
      (1L, 10L, "O", 100.0, ts("2024-01-01 00:00:00"), "1-URGENT"),
      (2L, 10L, "O", 100.0, ts("2024-01-02 00:00:00"), "1-URGENT"),
      (3L, 20L, "O", 100.0, ts("2024-01-05 00:00:00"), "1-URGENT") // no lines
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val li = Seq(
      (1L, ts("2024-01-03 00:00:00")), // order 1 open Jan 1–3
      (2L, ts("2024-01-02 00:00:00")), // order 2 open Jan 2 only
      (1L, ts("2024-01-01 00:00:00"))
    ).toDF("l_orderkey", "l_shipdate")
    val out = Relational.orderBacklog(orders, li)
      .select(from_unixtime(col("day_us") / 1000000).cast("date").cast("string"),
        col("open_orders"))
      .as[(String, Long)].collect().toMap
    assert(out("2024-01-01") == 1) // order 1 opened
    assert(out("2024-01-02") == 2) // both open
    assert(out("2024-01-03") == 1) // order 2 closed after its ship day; 1 still open
    assert(out("2024-01-04") == 0) // order 1's close lands the day after last ship
    assert(!out.contains("2024-01-05")) // lineless order contributes nothing
  }

  // ---- topSupplier --------------------------------------------------------

  test("topSupplier keeps every supplier tied at the exact decimal max") {
    val li = Seq(
      // suppliers 1 and 2 tie at revenue 190.00; supplier 3 lower; row
      // outside the quarter ignored
      (1L, 1L, 1L, 1, 1.0, 200.0, 0.05, 0.0, "N", "O", ts("1996-02-01 00:00:00")),
      (2L, 1L, 2L, 1, 1.0, 100.0, 0.05, 0.0, "N", "O", ts("1996-02-01 00:00:00")),
      (3L, 1L, 2L, 1, 1.0, 100.0, 0.05, 0.0, "N", "O", ts("1996-03-31 00:00:00")),
      (4L, 1L, 3L, 1, 1.0, 100.0, 0.50, 0.0, "N", "O", ts("1996-02-01 00:00:00")),
      (5L, 1L, 3L, 1, 1.0, 900.0, 0.00, 0.0, "N", "O", ts("1996-04-01 00:00:00"))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
    val supplier = Seq((1L, "S1", 0, 0.0), (2L, "S2", 0, 0.0), (3L, "S3", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val out = Relational.topSupplier(li, supplier)
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "S1", 190.0), (2L, "S2", 190.0)))
  }

  // ---- supplierConcentration ---------------------------------------------

  test("supplierConcentration: strict integer boundary at mult× fair share") {
    val mk = (ok: Long, pk: Long, sk: Long, qty: Double) =>
      (ok, pk, sk, 1, qty, 1.0, 0.0, 0.0, "N", "O", ts("1996-01-01 00:00:00"))
    val li = Seq(
      // part 1: supplier 1 ships 60 of 100 across 4 suppliers → share·n =
      // 240 > 2·100 at mult=2 (strict pass); supplier 2 ships exactly
      // 50 of 100 → 200 = 2·100 → strict > fails
      mk(1L, 1L, 1L, 60.0), mk(2L, 1L, 2L, 20.0),
      mk(3L, 1L, 3L, 10.0), mk(4L, 1L, 4L, 10.0),
      mk(5L, 2L, 1L, 50.0), mk(6L, 2L, 2L, 50.0)
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
    val out = Relational.supplierConcentration(li, mult = 2)
      .select(col("l_partkey"), col("l_suppkey"), col("share_e4"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 6000L))) // 60/100 → 0.6 → 6000 e4
  }

  // ---- scd2Lookup ---------------------------------------------------------

  test("scd2Lookup resolves each purchase to its tiling version (boundary inclusive at valid_from)") {
    val df = events(
      ev(1, "2024-01-01 00:00:00", 3, "view", 1.0),
      ev(2, "2024-01-01 01:00:00", 3, "purchase", 5.0), // starts version 2
      ev(3, "2024-01-01 02:00:00", 3, "view", 1.0),
      ev(4, "2024-01-01 03:00:00", 3, "purchase", 7.0)  // version 4 starts here
    )
    val out = Analytics.scd2Lookup(df)
      .select(col("event_id"), col("version"), col("state_type"))
      .as[(Long, Long, String)].collect().toSeq
    // purchase 2 AT its own valid_from → version 2 ("purchase");
    // purchase 4 likewise starts version 4
    assert(out == Seq((2L, 2L, "purchase"), (4L, 4L, "purchase")))
  }

  // ---- timeWeightedValue --------------------------------------------------

  test("twap: value holds until next event; each user's last event drops") {
    val df = events(
      // user 1: 10.00 held 3600 s, then 30.00 held 1800 s, last drops
      ev(1, "2024-01-01 00:00:00", 1, "click", 10.0),
      ev(2, "2024-01-01 01:00:00", 1, "click", 30.0),
      ev(3, "2024-01-01 01:30:00", 1, "click", 99.0),
      // user 2: single event → no holds at all
      ev(4, "2024-01-01 00:00:00", 2, "click", 50.0)
    )
    val out = Analytics.timeWeightedValue(df)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(out.length == 1)
    val (typ, n, total, twap, avg) = out.head
    assert(typ == "click" && n == 2 && total == 5400L * 1000000)
    // (10·3600 + 30·1800) / 5400 = 90000/5400 = 16.666667
    assert(twap == 16.666667)
    assert(avg == 20.0)
  }

  // ---- madOutliers --------------------------------------------------------

  test("madOutliers: dyadic median/MAD, strict k·MAD boundary") {
    // values 1,2,3,4,100 → median 3, deviations 2,1,0,1,97 → MAD 1
    // k=3: flagged iff |x−3| > 3 → only 100
    val df = events(
      ev(1, "2024-01-01 00:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 00:01:00", 1, "click", 2.0),
      ev(3, "2024-01-01 00:02:00", 1, "click", 3.0),
      ev(4, "2024-01-01 00:03:00", 1, "click", 4.0),
      ev(5, "2024-01-01 00:04:00", 1, "click", 100.0)
    )
    val out = Analytics.madOutliers(df)
      .as[(String, Long, Double, Double, Long)].collect().head
    assert(out == (("click", 5L, 3.0, 1.0, 1L)))
    // boundary strictness: values 1,2,3 → median 2, MAD 1; |3−2| = 1·k at
    // k=1 is NOT an outlier (strict >)
    val b = events(
      ev(1, "2024-01-01 00:00:00", 1, "e", 1.0),
      ev(2, "2024-01-01 00:01:00", 1, "e", 2.0),
      ev(3, "2024-01-01 00:02:00", 1, "e", 3.0)
    )
    val bo = Analytics.madOutliers(b, k = 1)
      .as[(String, Long, Double, Double, Long)].collect().head
    assert(bo._5 == 0L)
  }

  // ---- entryExitFlows -----------------------------------------------------

  test("entryExitFlows: single-event users land on the diagonal; ties break by event_id") {
    val df = events(
      ev(1, "2024-01-01 00:00:00", 1, "view", 1.0),
      ev(2, "2024-01-01 01:00:00", 1, "purchase", 1.0),
      ev(3, "2024-01-01 00:00:00", 2, "click", 1.0), // lone event
      // user 3: two events at the SAME ts — event_id orders them
      ev(4, "2024-01-02 00:00:00", 3, "error", 1.0),
      ev(5, "2024-01-02 00:00:00", 3, "view", 1.0)
    )
    val out = Analytics.entryExitFlows(df)
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("view", "purchase", 1L), ("click", "click", 1L),
      ("error", "view", 1L)))
  }

  // ---- attributionSplit ---------------------------------------------------

  test("attributionSplit: integer credits telescope to the purchase; remainder goes to recency") {
    val df = events(
      // purchase of 1.00 (100 cents) with 3 views in the window:
      // 100 div 3 = 33, rem 1 → most recent view gets 34
      ev(1, "2024-01-01 10:00:00", 1, "view", 0.0),
      ev(2, "2024-01-01 10:20:00", 1, "view", 0.0),
      ev(3, "2024-01-01 10:40:00", 1, "view", 0.0),
      ev(4, "2024-01-01 10:50:00", 1, "purchase", 1.00),
      // view OUTSIDE the 60-min window never credited
      ev(5, "2024-01-02 00:00:00", 2, "view", 0.0),
      ev(6, "2024-01-02 02:00:00", 2, "purchase", 9.99)
    )
    val out = Analytics.attributionSplit(df)
      .as[(Long, Long, Long)].collect().toSeq
    // all credits land on Jan 1; purchase 6 has no in-window views
    assert(out == Seq((1704067200000000L, 3L, 100L)))
    // and per-view split is 33/33/34 — check via a 2-view purchase with
    // odd cents: 5 cents over 2 views → 2 + 3
    val odd = events(
      ev(1, "2024-01-01 10:00:00", 1, "view", 0.0),
      ev(2, "2024-01-01 10:30:00", 1, "view", 0.0),
      ev(3, "2024-01-01 10:45:00", 1, "purchase", 0.05)
    )
    val o = Analytics.attributionSplit(odd).as[(Long, Long, Long)].collect()
    assert(o.head._3 == 5L)
  }

  // ---- userBursts ---------------------------------------------------------

  test("userBursts: tumbling 5-min buckets, per-user max, histogram") {
    val df = events(
      // user 1: 3 events inside one bucket, 1 in the next → max 3
      ev(1, "2024-01-01 00:00:10", 1, "click", 0.0),
      ev(2, "2024-01-01 00:01:00", 1, "click", 0.0),
      ev(3, "2024-01-01 00:04:59", 1, "click", 0.0),
      ev(4, "2024-01-01 00:05:00", 1, "click", 0.0), // next bucket
      // user 2: singleton
      ev(5, "2024-01-01 00:00:00", 2, "click", 0.0)
    )
    val out = Analytics.userBursts(df).as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L), (3L, 1L)))
  }

  // ---- rollingHourCount ---------------------------------------------------

  test("rollingHourCount: RANGE frame includes the boundary hour and peers") {
    val df = events(
      ev(1, "2024-01-01 09:00:00", 1, "view", 0.0),  // exactly 1 h before
      ev(2, "2024-01-01 09:30:00", 1, "view", 0.0),
      ev(3, "2024-01-01 10:00:00", 1, "purchase", 1.0), // counts 1,2,itself,4
      ev(4, "2024-01-01 10:00:00", 1, "view", 0.0),     // peer timestamp
      ev(5, "2024-01-01 08:00:00", 1, "view", 0.0)      // outside the hour
    )
    val out = Analytics.rollingHourCount(df)
      .select(col("event_id"), col("n_last_hour"))
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((3L, 4L)))
  }

  // ---- soleBlameSuppliers -------------------------------------------------

  test("soleBlameSuppliers: only sole-late suppliers on multi-supplier orders take blame") {
    val mk = (ok: Long, sk: Long, ship: String) =>
      (ok, 1L, sk, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts(ship))
    val li = Seq(
      // order 1: suppliers 1 (late) and 2 (on time) → supplier 1 blamed
      mk(1L, 1L, "1996-06-01 00:00:00"), mk(1L, 2L, "1996-01-15 00:00:00"),
      // order 2: both late → nobody blamed (n_late_supp = 2)
      mk(2L, 1L, "1996-06-01 00:00:00"), mk(2L, 2L, "1996-06-01 00:00:00"),
      // order 3: single-supplier late → not blamed (n_supp = 1)
      mk(3L, 1L, "1996-06-01 00:00:00"),
      // order 4: supplier 2 late on one line, on time on another — max()
      // makes the supplier late for the order; supplier 3 on time
      mk(4L, 2L, "1996-06-01 00:00:00"), mk(4L, 2L, "1996-01-10 00:00:00"),
      mk(4L, 3L, "1996-01-10 00:00:00")
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
    val orders = (1L to 4L).map(k =>
      (k, 10L, "O", 1.0, ts("1996-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val supplier = Seq((1L, "S1", 0, 0.0), (2L, "S2", 0, 0.0), (3L, "S3", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val out = Relational.soleBlameSuppliers(li, orders, supplier)
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "S1", 1L), (2L, "S2", 1L)))
  }

  // ---- throttle -----------------------------------------------------------

  test("throttle keeps the deterministic first per (user, type, bucket) and counts suppressions") {
    val df = events(
      // same bucket (10 min): 3 purchases → keep earliest, 2 suppressed
      ev(3, "2024-01-01 00:00:00", 1, "purchase", 1.0),
      ev(1, "2024-01-01 00:05:00", 1, "purchase", 1.0),
      ev(2, "2024-01-01 00:09:59", 1, "purchase", 1.0),
      // next bucket boundary: kept
      ev(4, "2024-01-01 00:10:00", 1, "purchase", 1.0),
      // other type never leaks into the purchase output
      ev(5, "2024-01-01 00:01:00", 1, "view", 1.0)
    )
    val out = Analytics.throttle(df)
      .select(col("event_id"), col("n_suppressed"))
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((3L, 2L), (4L, 0L)))
  }

  // ---- seasonalDecompose / userGrowth -------------------------------------

  test("seasonalDecompose: constant series → flat trend, zero seasonal/residual; edges null") {
    // 10 days × 2 events/day, perfectly flat
    val rows = (0 until 10).flatMap { d =>
      val day = f"2024-01-${d + 1}%02d"
      Seq(ev(d * 2 + 1L, s"$day 08:00:00", 1, "click", 1.0),
        ev(d * 2 + 2L, s"$day 16:00:00", 1, "click", 1.0))
    }
    val out = Analytics.seasonalDecompose(events(rows: _*))
      .select(col("trend_e4"), col("seasonal_e4"), col("residual_e4"))
      .collect()
    assert(out.length == 10)
    // first/last 3 days: incomplete centered window → null trend+residual
    val (edge, mid) = (out.take(3) ++ out.takeRight(3), out.slice(3, 7))
    edge.foreach { r => assert(r.isNullAt(0) && r.isNullAt(2)) }
    mid.foreach { r =>
      assert(r.getAs[Long]("trend_e4") == 20000L)
      assert(r.getAs[Long]("seasonal_e4") == 0L)
      assert(r.getAs[Long]("residual_e4") == 0L)
    }
    // identity holds wherever trend is defined: n·10⁴ = trend + seasonal + residual
    val full = Analytics.seasonalDecompose(events(rows: _*)).collect()
    full.filter(r => !r.isNullAt(r.fieldIndex("trend_e4"))).foreach { r =>
      assert(r.getAs[Long]("n") * 10000 ==
        r.getAs[Long]("trend_e4") + r.getAs[Long]("seasonal_e4") +
          r.getAs[Long]("residual_e4"))
    }
  }

  test("userGrowth: first-touch per day, cumulative total hits the distinct user count") {
    val df = events(
      ev(1, "2024-01-01 00:00:00", 1, "view", 0.0),
      ev(2, "2024-01-01 05:00:00", 2, "view", 0.0),
      ev(3, "2024-01-02 00:00:00", 1, "view", 0.0), // returning, not new
      ev(4, "2024-01-03 00:00:00", 3, "view", 0.0))
    val out = Analytics.userGrowth(df).as[(Long, Long, Long)].collect().toSeq
    assert(out.map(r => (r._2, r._3)) == Seq((2L, 2L), (1L, 3L)))
  }

  // ---- paretoFrontier -----------------------------------------------------

  test("paretoFrontier: strict-domination semantics, per-brand isolation, tied pairs both survive") {
    val parts = Seq(
      // brand A: (100, 10) and (200, 20) on the frontier; (150, 5)
      // dominated by (100, 10); (200, 10) dominated by (100, 10)
      (1L, "p", "A", "t", 10, 100.0),
      (2L, "p", "A", "t", 20, 200.0),
      (3L, "p", "A", "t", 5, 150.0),
      (4L, "p", "A", "t", 10, 200.0),
      // brand B: identical (price, size) twins — neither dominates the
      // other (domination needs one strict edge), both survive
      (5L, "p", "B", "t", 7, 50.0),
      (6L, "p", "B", "t", 7, 50.0),
      // pricier but bigger → frontier; also proves brand isolation
      // (A's (100, 10) must not shadow B's rows)
      (7L, "p", "B", "t", 30, 60.0)
    ).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
    val out = Relational.paretoFrontier(parts)
      .select(col("p_brand"), col("p_partkey"))
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("A", 1L), ("A", 2L), ("B", 5L), ("B", 6L), ("B", 7L)))
  }

  // ---- streaming throttle twin --------------------------------------------

  test("streaming throttle: in-order arrival matches the batch keep set; state is watermark-bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val stream = input.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val th = graft.stream.Throttle.throttled(stream, bucketSeconds = 600)
      val q = th.writeStream.format("memory").queryName("thr_sink")
        .outputMode("append").start()
      val base = 1704067200000L
      def t(sec: Int) = new Timestamp(base + sec * 1000L)
      try {
        input.addData(
          (3L, t(0), 1L, "purchase", 1.0),
          (1L, t(300), 1L, "purchase", 1.0)) // same 10-min bucket: dropped
        q.processAllAvailable()
        input.addData(
          (4L, t(600), 1L, "purchase", 1.0), // next bucket: kept
          (5L, t(60), 1L, "view", 1.0))      // other type: kept
        q.processAllAvailable()
        val kept = spark.table("thr_sink").collect()
          .map(_.getAs[Long]("event_id")).sorted
        assert(kept.toSeq == Seq(3L, 4L, 5L))
        // batch parity on the purchase plane (in-order arrival)
        val batchIn = events(
          ev(3, "2024-01-01 00:00:00", 1, "purchase", 1.0),
          ev(1, "2024-01-01 00:05:00", 1, "purchase", 1.0),
          ev(4, "2024-01-01 00:10:00", 1, "purchase", 1.0),
          ev(5, "2024-01-01 00:01:00", 1, "view", 1.0))
        val batchKept = Analytics.throttle(batchIn)
          .select(col("event_id")).as[Long].collect().sorted
        assert(batchKept.toSeq == kept.filter(_ != 5L).toSeq)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // ---- media shard planning -----------------------------------------------

  test("shardPlan: every asset exactly once, contiguous id ranges, block decomposition exact") {
    val assets = graft.ops.Multimodal.syntheticAssets(spark).toDF()
    // blockWidth intentionally misaligned with the data to stress the
    // carry join (1000 ids / 7-wide blocks)
    val plan = graft.ops.Multimodal.shardPlan(assets, blockWidth = 7L)
      .collect()
    assert(plan.map(_.getAs[Long]("n_assets")).sum == 1000L)
    // shards tile the id space contiguously in order
    val ranges = plan.map(r =>
      (r.getAs[Long]("first_asset"), r.getAs[Long]("last_asset")))
    assert(ranges.head._1 == 0L && ranges.last._2 == 999L)
    ranges.sliding(2).foreach { case Array((_, lastA), (firstB, _)) =>
      assert(firstB == lastA + 1)
    case _ => }
    // capacity respected up to the one-asset overhang the div rule allows
    val maxAsset = 64 + 190 // byte-length formula ceiling
    plan.foreach { r =>
      assert(r.getAs[Long]("shard_bytes") <= 4096L + maxAsset)
    }
    // decomposition is width-invariant: a different block width yields
    // the IDENTICAL plan (the hierarchical sum is exact, not approximate);
    // 1 takes every prefix from the carry, Long.MaxValue is one block
    Seq(1L, 256L, Long.MaxValue).foreach { w =>
      val alt = graft.ops.Multimodal.shardPlan(assets, blockWidth = w)
        .collect()
      assert(plan.map(_.toSeq).toSeq == alt.map(_.toSeq).toSeq,
        s"blockWidth=$w diverged")
    }
  }

  // ---- streaming new-user twin --------------------------------------------

  test("streaming new users: one emission per user ever, parity with the batch growth curve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp, Long)]
      val stream = input.toDF().toDF("event_id", "ts", "user_id")
      val nu = graft.stream.NewUsers.firstTouches(stream)
      val q = nu.toDF().writeStream.format("memory").queryName("nu_sink")
        .outputMode("append").start()
      val base = 1704067200000L
      def t(sec: Int) = new Timestamp(base + sec * 1000L)
      try {
        input.addData((2L, t(60), 1L), (1L, t(0), 1L), (3L, t(0), 2L))
        q.processAllAvailable()
        input.addData((4L, t(120), 1L), (5L, t(200), 3L)) // 1 known, 3 new
        q.processAllAvailable()
        val rows = spark.table("nu_sink").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_ts_us")))
          .sortBy(_._1)
        // user 1's first touch is the batch-1 minimum despite disorder
        assert(rows.toSeq == Seq(
          (1L, 1704067200000000L), (2L, 1704067200000000L),
          (3L, 1704067400000000L)))
        // day-bucketed count of emissions == batch userGrowth on the
        // same rows
        val batchIn = events(
          ev(1, "2024-01-01 00:00:00", 1, "view", 0.0),
          ev(2, "2024-01-01 00:01:00", 1, "view", 0.0),
          ev(3, "2024-01-01 00:00:00", 2, "view", 0.0),
          ev(4, "2024-01-01 00:02:00", 1, "view", 0.0),
          ev(5, "2024-01-01 00:03:20", 3, "view", 0.0))
        val batch = Analytics.userGrowth(batchIn)
          .as[(Long, Long, Long)].collect().head
        assert(batch._2 == 3L && rows.length == 3)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // ---- checkpoint restart for the session's stateful twins ----------------

  test("twap stream restart: a hold spanning the stop/start boundary is emitted exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = java.nio.file.Files.createTempDirectory("twap_rs").toString
    val ckpt = s"$dir/ckpt"; val out = s"$dir/out"
    try {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val stream = input.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      // memory sinks can't recover a checkpoint — restart semantics need
      // the durable file sink, same as the pipeline's exactly-once test
      def start() = graft.stream.Twap.holds(stream).toDF()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val base = 1704067200000L
      def t(sec: Int) = new Timestamp(base + sec * 1000L)
      val q1 = start()
      try {
        input.addData((1L, t(0), 1L, "click", 10.0))
        q1.processAllAvailable()
      } finally q1.stop()
      // the open hold lives ONLY in checkpointed state; data arriving
      // while the query is down must close it after restart
      input.addData((2L, t(45), 1L, "view", 5.0))
      val q2 = start()
      try {
        q2.processAllAvailable()
        val rows = spark.read.parquet(out).collect()
          .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hold_us"),
            r.getAs[Long]("wcents")))
        // exactly one hold: the 45 s click-hold at 1000 cents — no
        // duplicate from batch-1 replay, no lost state
        assert(rows.toSeq == Seq(("click", 45000000L, 1000L * 45000000L)))
      } finally q2.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // ---- streaming TWAP twin ------------------------------------------------

  test("streaming twap: emitted holds converge to the batch twin; late rows never retract") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val stream = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          col("value"))
      val holds = graft.stream.Twap.holds(stream)
      val q = holds.toDF().writeStream.format("memory").queryName("twap_sink")
        .outputMode("append").start()
      val base = 1704067200000L // 2024-01-01T00:00:00Z
      def t(sec: Int) = new Timestamp(base + sec * 1000L)
      try {
        // batch 1 out of order WITHIN the batch: sorted application
        input.addData(
          (2L, t(60), 1L, "click", 30.0),
          (1L, t(0), 1L, "click", 10.0))
        q.processAllAvailable()
        // batch 2: closes the 30.0 hold; adds a LATE row older than the
        // open hold (dropped, counted, never retracts emitted mass)
        input.addData(
          (3L, t(90), 1L, "view", 99.0),
          (9L, t(10), 1L, "error", 1000.0))
        q.processAllAvailable()
        val rows = spark.table("twap_sink").collect()
          .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hold_us"),
            r.getAs[Long]("wcents")))
          .sortBy(_._2)
        assert(rows.toSeq == Seq(
          ("click", 60000000L, 1000L * 60000000L),
          ("click", 30000000L, 3000L * 30000000L)).sortBy(_._2))
        // parity: batch twin over the SAME applied rows (late row excluded)
        val batchIn = events(
          ev(1, "2024-01-01 00:00:00", 1, "click", 10.0),
          ev(2, "2024-01-01 00:01:00", 1, "click", 30.0),
          ev(3, "2024-01-01 00:01:30", 1, "view", 99.0))
        val batch = Analytics.timeWeightedValue(batchIn)
          .as[(String, Long, Long, Double, Double)].collect().head
        val streamedByType = rows.groupBy(_._1).view.mapValues(h =>
          (h.length.toLong, h.map(_._2).sum)).toMap
        assert(streamedByType("click") == ((batch._2, batch._3)))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // ---- orderLatency -------------------------------------------------------

  test("orderLatency: first/last ship days per priority, dyadic p50") {
    val orders = Seq(
      (1L, 10L, "O", 1.0, ts("1996-01-01 00:00:00"), "1-URGENT"),
      (2L, 10L, "O", 1.0, ts("1996-01-01 00:00:00"), "1-URGENT")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val li = Seq(
      (1L, ts("1996-01-03 00:00:00")), (1L, ts("1996-01-11 00:00:00")),
      (2L, ts("1996-01-05 00:00:00"))
    ).toDF("l_orderkey", "l_shipdate")
    val out = Relational.orderLatency(orders, li).collect().head
    // first_days: order1 → 2, order2 → 4; p50 = 3.0 (dyadic midpoint);
    // mean_e4 = 6*10000 div 2 = 30000; full_days: 10 and 4 → p50 7.0
    assert(out.getAs[Long]("n_orders") == 2)
    assert(out.getAs[Double]("p50_first") == 3.0)
    assert(out.getAs[Long]("mean_first_e4") == 30000L)
    assert(out.getAs[Double]("p50_full") == 7.0)
  }

  // ---- qualityYieldCurve --------------------------------------------------

  test("qualityYieldCurve: cumulative survival reads top-down and closes at the full corpus") {
    val docs = Seq(
      (1L, "the a of and to in the a of and", "en", "A", 30L), // high stop ratio
      (2L, "x y z", "en", "A", 5L),
      (3L, "p q r s t u v w", "en", "B", 15L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ops.TextAnalysis.qualityYieldCurve(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // rows are score-desc; the last row's cumulative cols cover everything
    val last = out.last
    assert(last._4 == 3L) // cum_docs
    assert(last._5 == out.map(_._3).sum) // cum_tokens = Σ tokens
    assert(last._6 == 10000L) // full corpus share
    // cum_docs strictly non-decreasing top-down
    assert(out.map(_._4) == out.map(_._4).sorted)
  }

  // ---- sourceNgramOverlap -------------------------------------------------

  test("sourceNgramOverlap: asymmetric containment, shared-trigram counting") {
    val docs = Seq(
      // src A vocabulary: trigrams {a b c, b c d} (one doc)
      (1L, "a b c d", "en", "A", 7L),
      // src B: {a b c} only → shares 1 trigram with A
      (2L, "a b c", "en", "B", 5L),
      // src C: no overlap
      (3L, "x y z w", "en", "C", 7L),
      // a 2-token doc contributes no trigrams at all
      (4L, "a b", "en", "B", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ops.Corpus.sourceNgramOverlap(docs)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // A∩B = {a b c}: containment A-side 1/2 → 5000 e4, B-side 1/1 → 10000
    assert(out == Seq(("A", "B", 1L, 5000L, 10000L)))
  }

  // ---- streaming attribution twin -----------------------------------------

  test("streaming attribution: credits telescope per purchase and match the batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val stream = input.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          col("value"))
      val credits = graft.stream.Attribution.credits(stream)
      val q = credits.toDF().writeStream.format("memory").queryName("attr_sink")
        .outputMode("append").start()
      val base = 1704067200000L // 2024-01-01T00:00:00Z
      def t(min: Int) = new Timestamp(base + min * 60000L)
      try {
        // batch 1: three views (one out of order in the batch)
        input.addData(
          (2L, t(20), 1L, "view", 0.0),
          (1L, t(0), 1L, "view", 0.0),
          (3L, t(40), 1L, "view", 0.0))
        q.processAllAvailable()
        // batch 2: purchase of 1.00 at t50 → 100 cents over 3 views:
        // 33 each, remainder 1 to the most recent (view 3)
        input.addData((4L, t(50), 1L, "purchase", 1.00))
        q.processAllAvailable()
        // batch 3, a DIFFERENT user: view and purchase at the SAME
        // timestamp with the view's event_id LARGER — the batch join's
        // v_ts <= p_ts credits it, so the stream must apply the view
        // first (kind-ordered sort) and emit the full credit
        input.addData(
          (5L, t(100), 2L, "purchase", 0.50),
          (9L, t(100), 2L, "view", 0.0))
        q.processAllAvailable()
        val all = spark.table("attr_sink").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
            r.getAs[Long]("credit_cents")))
        val rows = all.filter(_._1 == 1L).map(r => (r._2, r._3)).sortBy(_._1)
        assert(rows.toSeq == Seq((1L, 33L), (2L, 33L), (3L, 34L)))
        assert(all.filter(_._1 == 2L).map(r => (r._2, r._3)).toSeq ==
          Seq((9L, 50L)))
        // batch parity on the same rows: per-day credited cents agree
        val batchIn = events(
          ev(1, "2024-01-01 00:00:00", 1, "view", 0.0),
          ev(2, "2024-01-01 00:20:00", 1, "view", 0.0),
          ev(3, "2024-01-01 00:40:00", 1, "view", 0.0),
          ev(4, "2024-01-01 00:50:00", 1, "purchase", 1.00))
        val batch = Analytics.attributionSplit(batchIn)
          .as[(Long, Long, Long)].collect().head
        assert(batch == ((1704067200000000L, 3L, 100L)))
        assert(rows.map(_._2).sum == batch._3)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // ---- cohortLtv ----------------------------------------------------------

  test("cohortLtv: first-touch cohorts, cumulative cents per offset") {
    val df = events(
      ev(1, "2024-01-01 00:00:00", 1, "view", 0.0),      // cohort day 1
      ev(2, "2024-01-01 12:00:00", 1, "purchase", 10.50),
      ev(3, "2024-01-03 00:00:00", 1, "purchase", 5.25), // offset 2
      ev(4, "2024-01-03 00:00:00", 2, "purchase", 1.00)  // cohort day 3
    )
    val out = Analytics.cohortLtv(df)
      .select(col("day_offset"), col("n_buyers"), col("revenue_cents"),
        col("cum_revenue_cents"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 1L, 1050L, 1050L), (2L, 1L, 525L, 1575L),
      (0L, 1L, 100L, 100L)))
  }

  // ---- intervalCoalesce ---------------------------------------------------

  test("intervalCoalesce: overlap, exact-touch and nesting merge; gaps split") {
    // durations are 5 + event_id % 120 minutes, so ids pick the length:
    // id 0 → 5 min, id 5 → 10 min, id 55 → 60 min, id 115 → 120 min,
    // id 120 → 5 min
    val df = events(
      ev(0, "2024-01-01 10:00:00", 1, "view", 0.0),   // [10:00, 10:05)
      ev(115, "2024-01-01 10:03:00", 1, "view", 0.0), // [10:03, 12:03) overlap
      ev(120, "2024-01-01 12:03:00", 1, "view", 0.0), // [12:03, 12:08) touch
      ev(5, "2024-01-01 13:00:00", 1, "view", 0.0),   // [13:00, 13:10) gap
      ev(55, "2024-01-01 09:00:00", 2, "view", 0.0),  // [09:00, 10:00)
      ev(121, "2024-01-01 09:10:00", 2, "view", 0.0)  // [09:10, 09:16) nested
    )
    val out = graft.ops.Intervals.intervalCoalesce(df)
      .select(col("user_id"), col("n_blocks"), col("n_intervals"),
        col("covered_minutes"), col("longest_minutes"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // user 1: touch at exactly pmax merges (s_us > pmax starts a block,
    // equality does not) → one 128-min block + one 10-min block
    assert(out == Seq((1L, 2L, 4L, 138L, 128L), (2L, 1L, 2L, 60L, 60L)))
  }
}

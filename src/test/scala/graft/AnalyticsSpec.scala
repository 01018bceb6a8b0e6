package graft

import java.sql.Timestamp
import graft.ops.Analytics

/** Batch ops over the events sink table that have no other unit home —
  * the DuckDB oracle is the primary gate; these pin exact boundary
  * semantics oracles can silently agree past.
  */
class AnalyticsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(us: Long) = new Timestamp(us / 1000) // µs → ms precision

  test("userSessions: gap == threshold opens a new session; gap below merges") {
    val gapUs = 1000000L // 1 s threshold for the test
    val events = Seq(
      // user 1: events at 0s, 0.5s (merge), 1.5s (gap exactly 1s → NEW)
      (1L, 10L, ts(0L)), (2L, 10L, ts(500000L)), (3L, 10L, ts(1500000L)),
      // user 2: single event → one 1-event session
      (4L, 20L, ts(42000000L))
    ).toDF("event_id", "user_id", "ts")
    val out = Analytics.userSessions(events, gapUs).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("session_start_us"), r.getAs[Long]("session_end_us"),
        r.getAs[Long]("n_events")))
    assert(out.toSeq == Seq(
      (10L, 1L, 0L, 500000L, 2L),
      (10L, 2L, 1500000L, 1500000L, 1L),
      (20L, 1L, 42000000L, 42000000L, 1L)))
  }

  test("healthCheckApprox: HLL distincts within 5% of exact on real data") {
    // q_health_check_approx is the one permanently no_oracle row (sketch
    // estimates differ across engines) — this bound is its regression
    // guard: exact-agreeing counters, sketch distincts within the
    // documented HLL error envelope (default rsd 5%)
    val events = Analytics.events(spark, "/root/testdata/sf0.01")
    val exact = Analytics.healthCheck(events).head()
    val approx = Analytics.healthCheckApprox(events).head()
    assert(approx.getAs[Long]("total_events") == exact.getAs[Long]("total_events"))
    assert(approx.getAs[Long]("latest_event_us") == exact.getAs[Long]("latest_event_us"))
    for (c <- Seq("unique_users", "unique_event_types")) {
      val e = exact.getAs[Long](c).toDouble
      val a = approx.getAs[Long](c).toDouble
      assert(math.abs(a - e) / e <= 0.05,
        s"$c: sketch $a vs exact $e exceeds the 5% HLL envelope")
    }
  }

  test("stepFunnel: strict min-after ordering — pre-step events never count") {
    val events = Seq(
      // user 1: signup(1s) → view(2s) → purchase(3s): full funnel
      (1L, 10L, "signup", ts(1000000L)), (2L, 10L, "view", ts(2000000L)),
      (3L, 10L, "purchase", ts(3000000L)),
      // user 2: view BEFORE signup, purchase after — view must not count
      // (funnel is ordered), so user 2 stops at step 1
      (4L, 20L, "view", ts(1000000L)), (5L, 20L, "signup", ts(2000000L)),
      (6L, 20L, "purchase", ts(3000000L)),
      // user 3: view AT exactly the signup instant — strict '>' rejects it
      (7L, 30L, "signup", ts(5000000L)), (8L, 30L, "view", ts(5000000L)),
      // user 4: never signed up — enters no step
      (9L, 40L, "view", ts(1000000L)), (10L, 40L, "purchase", ts(2000000L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Analytics.stepFunnel(events).collect()
      .map(r => (r.getAs[Long]("step_idx"), r.getAs[String]("step"),
        r.getAs[Long]("n_users"), r.getAs[Long]("conv_vs_first_e4")))
    assert(out.toSeq == Seq(
      (1L, "signup", 3L, 10000L),   // users 1, 2, 3
      (2L, "view", 1L, 3333L),      // only user 1 viewed after signup
      (3L, "purchase", 1L, 3333L))) // and completed
  }

  test("retentionCohorts: UTC-day cohort, sparse offsets, distinct users per cell") {
    val day = 86400L * 1000000L
    val events = Seq(
      // cohort day 0: users 10, 20; user 10 returns day 2 (twice — still 1)
      (1L, 10L, ts(1000L)), (2L, 20L, ts(2000L)),
      (3L, 10L, ts(2 * day + 1000L)), (4L, 10L, ts(2 * day + 5000L)),
      // cohort day 1: user 30, active again day 1 only
      (5L, 30L, ts(day + 1000L)), (6L, 30L, ts(day + 9000L))
    ).toDF("event_id", "user_id", "ts")
    val out = Analytics.retentionCohorts(events).collect()
      .map(r => (r.getAs[Long]("cohort_day_us"), r.getAs[Long]("day_offset"),
        r.getAs[Long]("n_active")))
    assert(out.toSeq == Seq(
      (0L, 0L, 2L),       // both day-0 users active on their cohort day
      (0L, 2L, 1L),       // user 10 back on day 2 — counted once
      (day, 0L, 1L)))     // day-1 cohort
  }

  test("stepFunnel windowed: first-touch anchoring — an expired chain is not re-anchored") {
    val hour = 3600L * 1000000L
    val events = Seq(
      // user 1: signup@0 → view@0.5h (inside 1 h) → depth 2
      (1L, 10L, "signup", ts(0L)), (2L, 10L, "view", ts(hour / 2)),
      // user 2: signups at 0 and 2h, view at 2.5h. FIRST-TOUCH anchors
      // the 0h signup, whose 1 h window expires before the view — the
      // later signup would qualify but must NOT re-anchor → depth 1
      (3L, 20L, "signup", ts(0L)), (4L, 20L, "signup", ts(2 * hour)),
      (5L, 20L, "view", ts(2 * hour + hour / 2))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Analytics.stepFunnel(events, stepWithinUs = Some(hour)).collect()
      .map(r => (r.getAs[Long]("step_idx"), r.getAs[Long]("n_users")))
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 0L)), out.toSeq)
  }

  test("keySkew: hand-computed Gini — skewed keys score, uniform keys score zero") {
    val events = Seq(
      // user_id counts: u1→2, u2→1, u3→1 (sorted 1,1,2 → gini 1666)
      // event_type counts: a→2, b→2 (uniform → gini 0)
      (1L, 1L, "a", ts(0L)), (2L, 1L, "b", ts(1L)),
      (3L, 2L, "a", ts(2L)), (4L, 3L, "b", ts(3L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val rows = Analytics.keySkew(events).collect()
      .map(r => (r.getAs[String]("dim"), r.getAs[Long]("n_keys"),
        r.getAs[Long]("top_share_e4"), r.getAs[Long]("gini_e4")))
    assert(rows.toSeq == Seq(
      ("event_type", 2L, 5000L, 0L),
      // Σ(2i−1)c over (1,1,2) = 14; (14 − 3·4)·10⁴ ÷ 12 = 1666
      ("user_id", 3L, 5000L, 1666L)))
  }

  test("dataContract: planted violations land on the right rules, clean rows on none") {
    val events = Seq(
      // clean row
      (1L, Some(10L), "view", 5.0, ts(1000L)),
      // null user_id
      (2L, None, "click", 1.0, ts(2000L)),
      // negative value AND unknown type (one row, two rule hits)
      (3L, Some(11L), "mystery", -2.0, ts(3000L)),
      // duplicate event_id pair
      (4L, Some(12L), "purchase", 9.0, ts(4000L)),
      (4L, Some(13L), "purchase", 9.0, ts(5000L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = Analytics.dataContract(events).collect()
      .map(r => (r.getAs[String]("rule"), r.getAs[Long]("n_violations"))).toMap
    assert(out == Map(
      "event_id_not_null" -> 0L,
      "user_id_not_null" -> 1L,
      "ts_in_sensible_range" -> 5L, // epoch-1970 test stamps are out of range
      "value_non_negative" -> 1L,
      "event_type_in_enum" -> 1L,
      "event_id_unique" -> 1L), out)
  }

  test("activeUsers: trailing windows count distinct actives on observed days only") {
    val day = 86400L * 1000000L
    val events = Seq(
      // user 10 active on days 0 (twice) and 8; user 20 on day 0 only
      (1L, 10L, ts(1000L)), (2L, 10L, ts(2000L)), (3L, 20L, ts(5000L)),
      (4L, 10L, ts(8 * day + 1000L))
    ).toDF("event_id", "user_id", "ts")
    val out = Analytics.activeUsers(events, windows = Seq(1, 7)).collect()
      .map(r => (r.getAs[Long]("day_us") / day, r.getAs[Long]("window_days"),
        r.getAs[Long]("n_active")))
    // day 8 is outside day 0's 7-day trail (days 0..6 carry it, none
    // observed besides day 0 itself), so day 8 counts only user 10;
    // double activity on day 0 still counts each user once
    assert(out.toSeq == Seq(
      (0L, 1L, 2L), (0L, 7L, 2L),
      (8L, 1L, 1L), (8L, 7L, 1L)))
  }

  test("hourlyAnomalies: planted spike scores a hand-computed z; flat history filtered") {
    val hourUs = 3600L * 1000000L
    // hours 0..23 alternate 9/11 events (mean 10, variance exactly 1);
    // hour 24 spikes to 30 → z = (30−10)/1 = 20 → z_e4 = 200000
    val rows = (0 until 24).flatMap { h =>
      val c = if (h % 2 == 0) 9 else 11
      (0 until c).map(i => (h * 100L + i, ts(h * hourUs + i * 1000000L), "click", 1.0))
    } ++ (0 until 30).map(i => (9000L + i, ts(24 * hourUs + i * 1000000L), "click", 1.0))
    val events = rows.toDF("event_id", "ts", "event_type", "value")
    val out = Analytics.hourlyAnomalies(events).collect()
      .map(r => (r.getAs[Long]("hour_us") / hourUs, r.getAs[Long]("c"),
        r.getAs[Long]("n"), r.getAs[Long]("z_e4"), r.getAs[Boolean]("is_anomaly")))
    // only hours with ≥12 trailing observations score: hours 12..24
    assert(out.map(_._1).toSeq == (12L to 24L), out.toSeq)
    val spike = out.last
    assert(spike == (24L, 30L, 24L, 200000L, true), spike)
    // an ordinary 11-count hour (23 trailing obs: s1=229, s2=2303):
    // z = (11·23−229)/23 / √(528/529) = 1.04446… → 10445, not anomalous
    val h23 = out.find(_._1 == 23L).get
    assert(h23._4 == 10445L && !h23._5, h23)
  }

  test("gapFillHourly: empty hours appear with n=0 and the last sum carried forward") {
    val hour = 3600L * 1000000L
    val events = Seq(
      // type "a": hours 0 and 3 observed — hours 1, 2 must be filled
      (1L, ts(0L), "a", 10.0), (2L, ts(1000L), "a", 2.5),
      (3L, ts(3 * hour + 5L), "a", 7.0),
      // type "b": a single hour — no gaps, spine of one
      (4L, ts(2 * hour), "b", 1.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val out = Analytics.gapFillHourly(events).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_us"),
        r.getAs[Long]("n"), r.getAs[Double]("filled_value")))
    assert(out.toSeq == Seq(
      ("a", 0L, 2L, 12.5),
      ("a", hour, 0L, 12.5),     // filled: no events, carries hour-0 sum
      ("a", 2 * hour, 0L, 12.5), // filled
      ("a", 3 * hour, 1L, 7.0),
      ("b", 2 * hour, 1L, 1.0)))
  }

  test("campaignWindowJoin: bucket-crossing and overlapping windows match hand counts") {
    val min = 60L * 1000000L
    val h10 = 600L * min // 10:00 as µs offset into the (UTC) epoch day
    val events = Seq(
      // hour 10 — 3 events, anchor = max event_id (3) at 10:50 →
      // window 1 = [10:05, 11:35): CROSSES the 11:00 bucket boundary
      (1L, 100L, ts(h10 + 10 * min), 1.5),
      (2L, 101L, ts(h10 + 20 * min), 1.5),
      (3L, 100L, ts(h10 + 50 * min), 1.5),
      // hour 11 — 2 events, anchor = id 5 at 11:40 →
      // window 2 = [10:55, 12:25): OVERLAPS window 1 (both hold id 4)
      (4L, 102L, ts(h10 + 90 * min), 1.5),
      (5L, 103L, ts(h10 + 100 * min), 1.5),
      // hour 20 — 1 event, below the top-2 cut
      (6L, 104L, ts(h10 + 600 * min), 1.5)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Analytics.campaignWindowJoin(events, topK = 2).collect()
      .map(r => (r.getAs[Long]("window_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_users"), r.getAs[Long]("value_e4")))
    assert(out.toSeq == Seq(
      // window 1: ids 1,2,3 (hour 10) + id 4 (11:30 < 11:35, next bucket)
      (1L, 4L, 3L, 60000L),
      // window 2: ids 4,5 only — id 3 at 10:50 is before 10:55
      (2L, 2L, 2L, 30000L)))
  }

  test("changeCapture: only type changes survive, versions tile [from, to) with an open tail") {
    val events = Seq(
      // user 3: A, A (suppressed), B, A — three versions
      (1L, 3L, ts(1000000L), "A"), (2L, 3L, ts(2000000L), "A"),
      (3L, 3L, ts(3000000L), "B"), (4L, 3L, ts(4000000L), "A"),
      // user 6: single event → one open version
      (5L, 6L, ts(9000000L), "C"),
      // user 7: NOT divisible by userMod=3 → excluded entirely
      (6L, 7L, ts(1000000L), "D")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Analytics.changeCapture(events, userMod = 3).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("event_type"), r.getAs[Long]("valid_from_us"),
        Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong)))
    assert(out.toSeq == Seq(
      (3L, 1L, "A", 1000000L, Some(3000000L)),
      (3L, 2L, "B", 3000000L, Some(4000000L)),
      (3L, 3L, "A", 4000000L, None),
      (6L, 1L, "C", 9000000L, None)))
  }

  test("chiSquare: 2×2 hand table — uniform margins, exact contributions") {
    // A: 3 on Sunday, 1 on Monday; B mirrored → N=8, all margins 4,
    // every expected cell 2 (e4 20000), every contribution
    // (o·8 − 16)²·10⁶ div 128 = 500000 (χ² = 2.0)
    def t(day: String) = java.sql.Timestamp.valueOf(s"2024-01-0$day")
    val events = (Seq.fill(3)(("A", t("7 10:00:00"))) ++ Seq(("A", t("8 10:00:00"))) ++
      Seq(("B", t("7 10:00:00"))) ++ Seq.fill(3)(("B", t("8 10:00:00"))))
      .toDF("event_type", "ts")
    val out = Analytics.chiSquare(events).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("dow"),
        r.getAs[Long]("observed"), r.getAs[Long]("expected_e4"),
        r.getAs[Long]("contrib_e6")))
    assert(out.toSeq == Seq(
      ("A", 1L, 3L, 20000L, 500000L), ("A", 2L, 1L, 20000L, 500000L),
      ("B", 1L, 1L, 20000L, 500000L), ("B", 2L, 3L, 20000L, 500000L)))
  }

  test("trimmedStats: outliers dropped by the trim, clamped by the winsorize") {
    // 20 values: -50, 2..18, 60, 999 → t = 1 each side; kept 2..18 and 60
    // trimmed mean = 230e4 div 18 = 127777; winsorized clamps the
    // dropped extremes to (2, 60): (230e4 + 2e4 + 60e4) div 20 = 146000
    val vals = Seq(-50.0) ++ (2 to 18).map(_.toDouble) ++ Seq(60.0, 999.0)
    val events = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, "A", v) }
      .toDF("event_id", "event_type", "value")
    val r = Analytics.trimmedStats(events).head()
    assert(r.getAs[Long]("n") == 20L)
    assert(r.getAs[Long]("n_trimmed_each") == 1L)
    assert(r.getAs[Long]("trimmed_mean_e4") == 127777L)
    assert(r.getAs[Long]("winsorized_mean_e4") == 146000L)
  }

  test("ksTest: disjoint supports hit the maximum, identical distributions score zero") {
    def run(rows: Seq[(String, Double)]) =
      Analytics.ksTest(rows.toDF("event_type", "value")).collect()
        .map(r => r.getAs[String]("event_type") ->
          Option(r.getAs[java.lang.Long]("ks_e4")).map(_.toLong)).toMap
    // A on {1,2}, B on {3,4}: CDFs never overlap → D = 1.0 both ways
    val disjoint = run(Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)))
    assert(disjoint == Map("A" -> Some(10000L), "B" -> Some(10000L)))
    // identical value multisets → every CDF gap is zero
    val same = run(Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 2.0)))
    assert(same == Map("A" -> Some(0L), "B" -> Some(0L)))
  }

  test("psiDrift: identical halves read zero, a full shift reads the hand formula") {
    def mk(rows: Seq[(String, Double, Int)]) = rows.zipWithIndex.map {
      case ((t, v, p), i) =>
        (i.toLong, t, v, ts(if (p == 0) 1000000L else 20L * 86400000000L))
    }.toDF("event_id", "event_type", "value", "ts")
    // test timestamps are epoch-1970-based, so split mid-January 1970
    val cut = "1970-01-10 00:00:00"
    // identical distributions in both periods → every bin contributes 0
    val stable = Analytics.psiDrift(mk(
      Seq(("A", 1.0, 0), ("A", 9.0, 0), ("A", 1.0, 1), ("A", 9.0, 1))), cut).head()
    assert(stable.getAs[Long]("psi_e4") == 0L)
    // full shift: P0 all at vmin (bin 0), P1 all at vmax (bin 15);
    // expected = Σ round((p−q)·ln(p/q)·1e4) computed independently here
    val shifted = Analytics.psiDrift(mk(
      Seq.fill(8)(("A", 0.0, 0)) ++ Seq.fill(8)(("A", 16.0, 1))), cut).head()
    def side(c0: Long, c1: Long) = {
      val p = (c0 + 1).toDouble / 24; val q = (c1 + 1).toDouble / 24
      math.round((p - q) * math.log(p / q) * 10000)
    }
    val expected = side(8, 0) + side(0, 8) + 14 * side(0, 0)
    assert(shifted.getAs[Long]("psi_e4") == expected,
      s"got ${shifted.getAs[Long]("psi_e4")}, want $expected")
    assert(shifted.getAs[Long]("psi_e4") > 2500L) // well past the 0.25 alarm
  }

  test("incrementalRollup: a group straddling the cut merges to the flat aggregate") {
    val hour = 3600L * 1000000L
    // one (type, day) group with rows on BOTH sides of a mid-day cut —
    // the algebraic merge must recombine them exactly
    val events = Seq(
      (1L, "a", 1.5, ts(2 * hour)), (2L, "a", 2.5, ts(10 * hour)),
      (3L, "a", 4.0, ts(14 * hour)), (4L, "b", 1.0, ts(20 * hour))
    ).toDF("event_id", "event_type", "value", "ts")
    val out = Analytics.incrementalRollup(events, "1970-01-01 12:00:00")
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Long]("sum_e4"), r.getAs[Long]("avg_e4"),
        r.getAs[Long]("latest_us")))
    assert(out.toSeq == Seq(
      ("a", 3L, 80000L, 26666L, 14 * hour),
      ("b", 1L, 10000L, 10000L, 20 * hour)))
  }

  test("typeAffinity: hand-computed Jaccard over user sets") {
    // users 10, 20 do both A and B; user 30 only A → J = 2/(3+2−2)
    val events = Seq(
      (1L, 10L, "A"), (2L, 10L, "B"), (3L, 20L, "A"),
      (4L, 20L, "B"), (5L, 30L, "A"), (6L, 10L, "A") // repeat collapses
    ).toDF("event_id", "user_id", "event_type")
    val out = Analytics.typeAffinity(events).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("n_both"), r.getAs[Long]("jaccard_e4")))
    assert(out.toSeq == Seq(("A", "B", 3L, 2L, 2L, 6666L)))
  }

  test("eventTrigrams: per-user consecutive triples only, global share") {
    val events = Seq(
      (1L, 10L, ts(1000000L), "A"), (2L, 10L, ts(2000000L), "B"),
      (3L, 10L, ts(3000000L), "A"), (4L, 10L, ts(4000000L), "B"),
      (5L, 20L, ts(1000000L), "C") // too short for any triple
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Analytics.eventTrigrams(events).collect()
      .map(r => (r.getAs[String]("t1"), r.getAs[String]("t2"),
        r.getAs[String]("t3"), r.getAs[Long]("n"), r.getAs[Long]("share_e4")))
    assert(out.toSeq == Seq(
      ("A", "B", "A", 1L, 5000L), ("B", "A", "B", 1L, 5000L)))
  }

  test("volumeAcf: an alternating series reads −1 at lag 1 and +1 at lag 2") {
    val hour = 3600L * 1000000L
    // hourly counts 1,2,1,2,1,2 → perfect anti-phase at lag 1, perfect
    // phase at lag 2
    val events = (0 until 6).flatMap { h =>
      (0 until (if (h % 2 == 0) 1 else 2)).map(i =>
        ((h * 10 + i).toLong, ts(h * hour + i * 1000000L)))
    }.toDF("event_id", "ts")
    val out = Analytics.volumeAcf(events, maxLag = 2).collect()
      .map(r => (r.getAs[Long]("lag"), r.getAs[Long]("n"),
        Option(r.getAs[java.lang.Long]("r_e4")).map(_.toLong)))
    assert(out.toSeq == Seq(
      (1L, 5L, Some(-10000L)), (2L, 4L, Some(10000L))))
  }

  test("cramersV: a perfectly type-determined day reads V = 1; independence reads 0") {
    val day = 86400L * 1000000L
    // 2x2, perfect association: type a only on Sunday-epoch day 3,
    // type b only on day 4 (different dow); chi2 = n, V = 1
    val perfect = Seq(
      (1L, "a", ts(3 * day)), (2L, "a", ts(3 * day + 1000000L)),
      (3L, "b", ts(4 * day)), (4L, "b", ts(4 * day + 1000000L))
    ).toDF("event_id", "event_type", "ts")
    val r = Analytics.cramersV(perfect).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("r") == 2L && r.getAs[Long]("c") == 2L)
    assert(r.getAs[Long]("v_e4") == 10000L)
    // identical type mix on both days -> every cell matches its
    // expectation exactly -> chi2 = 0, V = 0
    val indep = Seq(
      (1L, "a", ts(3 * day)), (2L, "b", ts(3 * day + 1000000L)),
      (3L, "a", ts(4 * day)), (4L, "b", ts(4 * day + 1000000L))
    ).toDF("event_id", "event_type", "ts")
    val i = Analytics.cramersV(indep).collect().head
    assert(i.getAs[Long]("chi2_e6") == 0L)
    assert(i.getAs[Long]("v_e4") == 0L)
  }

  test("mannKendall: strictly rising series hand-computes; flat series has zero S and null z on zero variance") {
    val day = 86400L * 1000000L
    // daily counts 1,2,3,4 -> all 6 pairs positive: S = 6; no ties:
    // var*18 = 4*3*13 = 156; z = (6-1)/sqrt(156/18) = 5/2.94392 = 1.6984
    val rising = (0 until 4).flatMap { d =>
      (0 to d).map(i => ((d * 10 + i).toLong, ts(d * day + i * 1000000L)))
    }.toDF("event_id", "ts")
    val r = Analytics.mannKendall(rising).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("s") == 6L)
    assert(r.getAs[Long]("var_x18") == 156L)
    assert(r.getAs[Long]("z_e4") == 16984L)
    // constant series: S = 0 and the tie polynomial cancels the
    // variance entirely -> z must be NULL, not a 0/0
    val flat = (0 until 3).map(d => (d.toLong, ts(d * day)))
      .toDF("event_id", "ts")
    val f = Analytics.mannKendall(flat).collect().head
    assert(f.getAs[Long]("s") == 0L)
    assert(f.getAs[Long]("var_x18") == 0L)
    assert(f.isNullAt(f.fieldIndex("z_e4")))
  }

  test("spearman: perfect monotone nonlinear relation scores 1; ties get averaged mid-ranks") {
    // users 1..4: counts 1,2,3,4 with spends 1,8,27,64 (monotone,
    // non-linear -> Pearson < 1, Spearman exactly 1)
    val mono = (1 to 4).flatMap { u =>
      (0 until u).map(i => ((u * 10 + i).toLong, u.toLong,
        if (i == 0) u * u * u * 1.0 else 0.0, ts(i * 1000000L)))
    }.toDF("event_id", "user_id", "value", "ts")
    val r = Analytics.spearman(mono).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("rho_e4") == 10000L)
    // tie case, hand-computed: per-user counts (1,1,2), spend cents
    // (1000,2000,3000). a mid-ranks x2: tie at 1 -> (3,3), then 6;
    // b distinct -> (2,4,6). Pearson((3,3,6),(2,4,6)) = 18/sqrt(18*24)
    // = 0.86602 -> 8660
    val tied = Seq(
      (1L, 1L, 10.0, ts(0L)),
      (2L, 2L, 20.0, ts(0L)),
      (3L, 3L, 15.0, ts(0L)), (4L, 3L, 15.0, ts(1000000L))
    ).toDF("event_id", "user_id", "value", "ts")
    val r2 = Analytics.spearman(tied).collect().head
    assert(r2.getAs[Long]("rho_e4") == 8660L)
  }

  test("logRank: symmetric arms score 0; one-sided conversion hand-computes to 3.0") {
    val day = 86400L * 1000000L
    // symmetric: each arm converts one user on day 1 and one on day 2
    val sym = Seq(
      (1L, 1L, "view", ts(0L)), (2L, 2L, "view", ts(0L)),
      (3L, 3L, "view", ts(0L)), (4L, 4L, "view", ts(0L)),
      (5L, 1L, "purchase", ts(day)), (6L, 2L, "purchase", ts(day)),
      (7L, 3L, "purchase", ts(2 * day)), (8L, 4L, "purchase", ts(2 * day))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val r0 = Analytics.logRank(sym).collect().head
    assert(r0.getAs[Long]("chi2_e4") == 0L)
    // one-sided: only the even arm converts (day 1); odd users censor.
    // day 1: d=2, d1=2, n1=2, n=4 -> E1 = 1, V = 16/48 -> chi2 = 3.0
    val oneSided = Seq(
      (1L, 1L, "view", ts(0L)), (2L, 2L, "view", ts(0L)),
      (3L, 3L, "view", ts(0L)), (4L, 4L, "view", ts(0L)),
      (5L, 2L, "purchase", ts(day)), (6L, 4L, "purchase", ts(day))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val r1 = Analytics.logRank(oneSided).collect().head
    assert(r1.getAs[Long]("n1_total") == 2L)
    assert(r1.getAs[Long]("o1") == 2L)
    assert(r1.getAs[Long]("e1_e6") == 1000000L)
    assert(r1.getAs[Long]("v_e6") == 333333L)
    assert(r1.getAs[Long]("chi2_e4") == 30000L)
  }

  test("crossCorrelation: a one-hour-shifted copy peaks at lag +1; lag 0 is hand-checked") {
    val hour = 3600L * 1000000L
    // views follow pattern 1,3,2,5 over hours 0..3; purchases repeat the
    // SAME pattern one hour later -> CCF is exactly 1 at lag +1
    val pattern = Seq(1, 3, 2, 5)
    val events = (pattern.zipWithIndex.flatMap { case (c, h) =>
      (0 until c).map(i =>
        ((h * 100 + i).toLong, "view", ts(h * hour + i * 1000000L)))
    } ++ pattern.zipWithIndex.flatMap { case (c, h) =>
      (0 until c).map(i =>
        ((1000 + h * 100 + i).toLong, "purchase",
          ts((h + 1) * hour + i * 1000000L)))
    }).toDF("event_id", "event_type", "ts")
    val out = Analytics.crossCorrelation(events, maxLag = 2).collect()
      .map(r => r.getAs[Long]("lag") ->
        ((r.getAs[Long]("n"), Option(r.getAs[java.lang.Long]("r_e4"))
          .map(_.toLong)))).toMap
    assert(out(1L) == ((4L, Some(10000L))))
    // lag 0 overlap: v [3,2,5] vs p [1,3,2] -> r = -3/sqrt(84) -> -3273
    assert(out(0L) == ((3L, Some(-3273L))))
  }

  test("conversionLatency: earliest post-view purchase counts; pre-view purchases never do") {
    val events = Seq(
      // u10: view at 0, purchases at 10 s and 5 s → latency = 5 s
      (1L, 10L, "view", ts(0L)), (2L, 10L, "purchase", ts(10000000L)),
      (3L, 10L, "purchase", ts(5000000L)),
      // u20: views, never buys
      (4L, 20L, "view", ts(0L)),
      // u30: bought BEFORE its first view — must not convert
      (5L, 30L, "purchase", ts(1000000L)), (6L, 30L, "view", ts(2000000L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val r = Analytics.conversionLatency(events).head()
    assert(r.getAs[Long]("n_viewers") == 3L)
    assert(r.getAs[Long]("n_converted") == 1L)
    assert(r.getAs[Long]("conversion_e4") == 3333L)
    assert(r.getAs[Long]("p50_us") == 5000000L)
    assert(r.getAs[Long]("max_us") == 5000000L)
  }

  test("markovEval: lexicographic tie-break, boundary pairs dropped, unseen from_type scores 0") {
    val sec = 1000000L
    val events = Seq(
      // user 10 train (< 10 s): A→B, B→A, A→C  (from A: B and C tie → B)
      (1L, 10L, "A", ts(0L)), (2L, 10L, "B", ts(1 * sec)),
      (3L, 10L, "A", ts(2 * sec)), (4L, 10L, "C", ts(3 * sec)),
      // boundary pair C@3s → A@11s spans the split: in NEITHER phase
      (5L, 10L, "A", ts(11 * sec)), (6L, 10L, "B", ts(12 * sec)),
      (7L, 10L, "A", ts(13 * sec)), (8L, 10L, "C", ts(14 * sec)),
      // user 20 eval-only: D unseen in train → no prediction, 0 hits
      (9L, 20L, "D", ts(20 * sec)), (10L, 20L, "A", ts(21 * sec))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Analytics.markovEval(events, "1970-01-01 00:00:10").collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("predicted"),
        r.getAs[Long]("n_train_top"), r.getAs[Long]("n_eval"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("acc_e4"))).toSeq
    assert(out == Seq(
      // eval pairs from A: A→B (hit) and A→C (miss)
      ("A", "B", 1L, 2L, 1L, 5000L),
      ("B", "A", 1L, 1L, 1L, 10000L),
      ("D", null, 0L, 1L, 0L, 0L)))
  }

  test("disorderProfile: lateness vs the strictly-prior running max, block-width invariant") {
    val sec = 1000000L
    val events = Seq(
      (1L, 1L, "x", ts(100 * sec)), // first arrival: never late
      (2L, 1L, "x", ts(50 * sec)),  // 50 s behind wm=100 s
      (3L, 1L, "x", ts(200 * sec)),
      (4L, 1L, "x", ts(199 * sec + 500000L)), // 0.5 s late (≤ 1 s bucket)
      (5L, 1L, "x", ts(90 * sec)),  // 110 s behind wm=200 s (> 1 m)
      (6L, 1L, "y", ts(300 * sec))  // ahead of wm → on time
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.disorderProfile(events, blockWidth = 2L)
      .collect()
    val x = out.find(_.getAs[String]("event_type") == "x").get
    assert(x.getAs[Long]("n_events") == 5L)
    assert(x.getAs[Long]("n_late") == 3L)
    assert(x.getAs[Long]("n_late_1s") == 2L)
    assert(x.getAs[Long]("n_late_1m") == 1L)
    assert(x.getAs[Long]("n_late_10m") == 0L)
    assert(x.getAs[Long]("max_late_us") == 110 * sec)
    assert(x.getAs[Long]("avg_late_us") == (50 * sec + 500000L + 110 * sec) / 5)
    assert(x.getAs[Long]("late_share_e4") == 6000L)
    val y = out.find(_.getAs[String]("event_type") == "y").get
    assert(y.getAs[Long]("n_late") == 0L && y.getAs[Long]("max_late_us") == 0L)
    // the hierarchical decomposition is exact: any block width, same answer
    // (1: every prefix comes from the carry; Long.MaxValue: one block, the
    // sequential window)
    Seq(1L, 1000L, Long.MaxValue).foreach { w =>
      val alt = graft.ops.Analytics.disorderProfile(events, blockWidth = w)
        .collect()
      assert(out.map(_.toSeq).toSeq == alt.map(_.toSeq).toSeq,
        s"blockWidth=$w diverged")
    }
  }

  test("kAnonymity: cell risk and user diversity counted per threshold") {
    val events = Seq(
      // cell (a, day 0, hour 0): 3 rows, 2 distinct users
      (1L, 1L, "a", ts(0L)), (2L, 1L, "a", ts(1000000L)),
      (3L, 2L, "a", ts(2000000L)),
      // cell (b, day 0, hour 1): singleton
      (4L, 5L, "b", ts(3600L * 1000000L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Privacy.kAnonymity(events, Seq(2, 5)).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_cells"),
        r.getAs[Long]("risky_cells"), r.getAs[Long]("risky_rows"),
        r.getAs[Long]("lowdiv_cells"), r.getAs[Long]("lowdiv_rows"),
        r.getAs[Long]("risky_share_e4"))).toSeq
    assert(out == Seq(
      (2L, 2L, 1L, 1L, 1L, 1L, 2500L),
      (5L, 2L, 2L, 4L, 2L, 4L, 10000L)))
  }

  test("lDiversity: spend-band diversity per cell against the l-grid") {
    // cell (a, d0, h0): values 1.00, 1.00 → bands {0} (diversity 1)
    // cell (b, d0, h1): values 1.00, 30.00 → bands {0, 6} (diversity 2)
    val events = Seq(
      (1L, 1L, "a", 1.0, ts(0L)), (2L, 2L, "a", 1.0, ts(1000000L)),
      (3L, 3L, "b", 1.0, ts(3600L * 1000000L)),
      (4L, 4L, "b", 30.0, ts(3601L * 1000000L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Privacy.lDiversity(events, Seq(2, 3)).collect()
      .map(r => (r.getAs[Long]("l"), r.getAs[Long]("n_cells"),
        r.getAs[Long]("weak_cells"), r.getAs[Long]("weak_rows"),
        r.getAs[Long]("min_diversity"), r.getAs[Long]("weak_share_e4")))
      .toSeq
    assert(out == Seq(
      (2L, 2L, 1L, 2L, 1L, 5000L),
      (3L, 2L, 2L, 4L, 1L, 10000L)))
  }

  test("tCloseness: uniform cell scores 0, skewed cells score the exact EMD") {
    // global: band0 ×6, band1 ×2 (G=8, m=2)
    // cell a (band0 ×2, band1 ×2): cum = |2·8 − 6·4| = 8 → 8e6/(1·4·8) = 250000
    // cell b (band0 ×4): cum = |4·8 − 6·4| = 8 → 250000
    val events = Seq(
      (1L, 1L, "a", 1.0, ts(0L)), (2L, 2L, "a", 1.0, ts(1L)),
      (3L, 3L, "a", 6.0, ts(2L)), (4L, 4L, "a", 6.0, ts(3L)),
      (5L, 5L, "b", 1.0, ts(4L)), (6L, 6L, "b", 1.0, ts(5L)),
      (7L, 7L, "b", 1.0, ts(6L)), (8L, 8L, "b", 1.0, ts(7L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Privacy.tCloseness(events, Seq(100000, 300000))
      .collect()
      .map(r => (r.getAs[Long]("t_e6"), r.getAs[Long]("n_cells"),
        r.getAs[Long]("far_cells"), r.getAs[Long]("far_rows"),
        r.getAs[Long]("max_emd_e6"), r.getAs[Long]("far_share_e4"))).toSeq
    assert(out == Seq(
      (100000L, 2L, 2L, 8L, 250000L, 10000L),
      (300000L, 2L, 0L, 0L, 250000L, 0L)))
    // a cell identical to the global distribution scores exactly 0
    val uniform = Seq(
      (1L, 1L, "a", 1.0, ts(0L)), (2L, 2L, "a", 6.0, ts(1L)),
      (3L, 3L, "b", 1.0, ts(2L)), (4L, 4L, "b", 6.0, ts(3L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val u = graft.ops.Privacy.tCloseness(uniform, Seq(100000)).collect()
    assert(u.head.getAs[Long]("max_emd_e6") == 0L)
  }

  test("conformalInterval: order-statistic q̂ and held-out coverage on hand data") {
    import spark.implicits._
    val pre = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val post = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    def u(uid: Long, p: Double, q: Double) = Seq(
      (uid * 10, uid, "view", p, pre), (uid * 10 + 1, uid, "view", q, post))
    // cal (even): Σpre=100c, Σpost=200c → ŷ = 2·pre; resids {5:2, 10:1}
    // test (odd): resids 5 and 8
    val events = (u(2L, 0.30, 0.70) ++ u(4L, 0.30, 0.55) ++
      u(6L, 0.40, 0.75) ++ u(1L, 0.10, 0.25) ++ u(3L, 0.10, 0.28))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics
      .conformalInterval(events, alphasE6 = Seq(250000, 500000)).collect()
      .map(r => (r.getAs[Long]("alpha_e6"), r.getAs[Long]("n_cal"),
        r.getAs[Long]("k"), r.getAs[Long]("qhat_cents"),
        r.getAs[Long]("n_test"), r.getAs[Long]("coverage_e6"))).toSeq
    // α=0.25: k=⌈4·0.75⌉=3 → q̂=10, both test resids covered
    // α=0.50: k=⌈4·0.50⌉=2 → q̂=5, only resid 5 covered
    assert(out == Seq(
      (250000L, 3L, 3L, 10L, 2L, 1000000L),
      (500000L, 3L, 2L, 5L, 2L, 500000L)))
  }

  test("shapleyAttribution: exact ×n! credits and the efficiency identity") {
    import spark.implicits._
    val t0 = ts(0L)
    // converting journeys: {a}, {a,b}, {b}, {} — non-converting {a} excluded
    val events = Seq(
      (1L, 1L, "a", t0), (2L, 1L, "purchase", t0),
      (3L, 2L, "a", t0), (4L, 2L, "b", t0), (5L, 2L, "purchase", t0),
      (6L, 3L, "b", t0), (7L, 3L, "purchase", t0),
      (8L, 4L, "purchase", t0),
      (9L, 5L, "a", t0)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.shapleyAttribution(events).collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("n_fact"),
        r.getAs[Long]("phi_x_nfact"), r.getAs[Long]("share_e6"))).toSeq
    // v(∅)=1 v({a})=2 v({b})=2 v({a,b})=4 → φ_a×2! = (2−1)+(4−2) = 3 = φ_b
    assert(out == Seq(("a", 2L, 3L, 500000L), ("b", 2L, 3L, 500000L)))
    // efficiency: Σφ×n! = n!·(v(C) − v(∅)) = 2·(4−1) = 6
    assert(out.map(_._3).sum == 6L)
  }

  test("jsdDrift: identical periods score 0; disjoint periods score positive and bounded") {
    import spark.implicits._
    val before = ts(0L)
    val after = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    // type a: identical value mix both periods → every bin has p = q
    // type b: all mass moves from the bottom bin to the top bin
    val events = Seq(
      (1L, 1L, "a", 1.0, before), (2L, 2L, "a", 9.0, before),
      (3L, 3L, "a", 1.0, after), (4L, 4L, "a", 9.0, after),
      (5L, 5L, "b", 1.0, before), (6L, 6L, "b", 1.0, before),
      (7L, 7L, "b", 9.0, after), (8L, 8L, "b", 9.0, after)
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.jsdDrift(events).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("jsd_e6")))
      .toMap
    assert(out("a") == 0L)
    assert(out("b") > 0L && out("b") <= 693148L) // ≤ ln 2 (+rounding)
  }

  test("permTest: no effect is never significant; a constant series is maximally extreme") {
    import spark.implicits._
    val t0 = ts(0L)
    // identical spends in both arms: every reassignment reproduces
    // |T| = 0 ≥ |T_obs| = 0 → p = (B+1)/(B+1) = 1
    val flat = (1L to 20L).map(u => (u, u, "view", 1.0, t0))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val pFlat = graft.ops.Analytics.permTest(flat, nDraws = 99).collect().head
    assert(pFlat.getAs[Long]("obs_diff_cents") == 0L)
    assert(pFlat.getAs[Long]("n_draws") == 99L)
    assert(pFlat.getAs[Long]("p_e6") == 1000000L)
    // strong separation (odd uids spend 100×): the observed assignment
    // should be among the most extreme draws
    val strong = (1L to 40L).map(u =>
      (u, u, "view", if (u % 2 == 1) 100.0 else 1.0, t0))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val pStrong = graft.ops.Analytics.permTest(strong, nDraws = 99)
      .collect().head
    assert(pStrong.getAs[Long]("obs_diff_cents") == 9900L)
    assert(pStrong.getAs[Long]("p_e6") < 300000L)
  }

  test("stratifiedAte: within-stratum diffs, size weights, and the common-support trim") {
    import spark.implicits._
    val pre = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val post = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    def u(uid: Long, p: Double, q: Double) = Seq(
      (uid * 10, uid, "view", p, pre), (uid * 10 + 1, uid, "view", q, post))
    // stratum 0: treat u1 (post 300) vs ctrl u2 (post 100) → diff 200
    // stratum 1: treat u3+u5 (2200) vs ctrl u4 (600) → diff 500
    // stratum 4: treat-only u7 → trimmed
    val events = (u(1L, 1.00, 3.00) ++ u(2L, 1.50, 1.00) ++
      u(3L, 21.00, 10.00) ++ u(5L, 21.50, 12.00) ++ u(4L, 22.00, 6.00) ++
      u(7L, 90.00, 0.99))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.stratifiedAte(events).collect()
      .map(r => (r.getAs[Long]("stratum"), r.getAs[Long]("n_treat"),
        r.getAs[Long]("n_ctrl"), r.getAs[Long]("diff_cents"),
        r.getAs[Long]("weight_e6"), r.getAs[Long]("ate_cents"))).toSeq
    assert(out == Seq(
      (0L, 1L, 1L, 200L, 400000L, 380L),
      (1L, 2L, 1L, 500L, 600000L, 380L)))
  }

  test("quantileTreatmentEffects: deciles of a linear treated arm vs a constant control arm") {
    import spark.implicits._
    val t0 = ts(0L)
    // treat (odd uid 1..19): spends 100,200,...,1000 → q(d) = 100·d
    // ctrl (even uid 2..20): spend 50 everywhere → q(d) = 50
    val events = ((1L to 19L by 2).zipWithIndex.map { case (u, i) =>
      (u, u, "view", (i + 1) * 1.0, t0)
    } ++ (2L to 20L by 2).map(u => (u, u, "view", 0.5, t0)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.quantileTreatmentEffects(events).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("n_treat"),
        r.getAs[Long]("n_ctrl"), r.getAs[Long]("q_treat_cents"),
        r.getAs[Long]("q_ctrl_cents"), r.getAs[Long]("qte_cents"))).toSeq
    assert(out == (1L to 9L).map(d =>
      (d, 10L, 10L, 100L * d, 50L, 100L * d - 50L)))
  }

  test("personalizedPageRank: rank mass stays inside the seed's component") {
    import spark.implicits._
    val t0 = ts(0L)
    // uid 0 (≡ 0 mod 97) is the seed; uid 1 shares type a with it;
    // uid 2 sits in a disconnected component on type b
    val events = Seq(
      (1L, 0L, "a", t0), (2L, 1L, "a", t0), (3L, 2L, "b", t0)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Graph.personalizedPageRank(events).collect()
      .map(r => (r.getAs[String]("node"), r.getAs[Long]("rank")))
    assert(out.map(_._1).toSet == Set("u:0", "u:1", "t:a"))
    assert(out.head._1 == "u:0", s"seed must rank first: ${out.toSeq}")
  }

  test("ivWald: first stage, ITT, and LATE as exact integer ratios") {
    import spark.implicits._
    val t0 = ts(0L)
    // encouraged (uid%3=0): u0 click y=1000, u3 no-click y=200,
    // u6 click y=800 → d1=2, y1=2000. control: u1 y=300 d=0,
    // u2 click y=500 → d0=1, y0=800.
    val events = Seq(
      (1L, 0L, "click", 4.0, t0), (2L, 0L, "view", 6.0, t0),
      (3L, 3L, "view", 2.0, t0),
      (4L, 6L, "click", 8.0, t0),
      (5L, 1L, "view", 3.0, t0),
      (6L, 2L, "click", 5.0, t0)
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.ivWald(events).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_enc") == 3L)
    assert(r.getAs[Long]("n_ctrl") == 2L)
    // first stage (2·2 − 1·3)/6 = 1/6; ITT (2000·2 − 800·3)/6 = 266⅔;
    // LATE = 1600 div 1 = 1600
    assert(r.getAs[Long]("first_stage_e6") == 166666L)
    assert(r.getAs[Long]("itt_cents") == 266L)
    assert(r.getAs[Long]("late_cents") == 1600L)
  }

  test("ipsEss: uniform weights give ESS = n; skewed weights shrink it") {
    import spark.implicits._
    val t0 = ts(0L)
    // uniform: every segment contributes one purchase and one view →
    // equal action masses, equal weights, ESS = n_matched
    val uniform = (0L to 3L).flatMap(u => Seq(
      (u * 10, u, "purchase", 1.0, t0), (u * 10 + 1, u, "view", 1.0, t0)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val r0 = graft.ops.Analytics.ipsEss(uniform).collect().head
    assert(r0.getAs[Long]("n_matched") == 4L)
    assert(r0.getAs[Long]("ess_share_e4") == 10000L)
    // skewed: 3 purchases vs 1 view → weights 4/3 vs 4 → ESS 2 of 4
    val skewed = Seq(
      (1L, 0L, "purchase", 1.0, t0), (2L, 0L, "purchase", 1.0, t0),
      (3L, 0L, "purchase", 1.0, t0), (4L, 1L, "view", 1.0, t0))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val r1 = graft.ops.Analytics.ipsEss(skewed).collect().head
    assert(r1.getAs[Long]("n_matched") == 4L)
    assert(r1.getAs[Long]("ess") == 2L)
    assert(r1.getAs[Long]("ess_share_e4") == 5000L)
  }

  test("transitionEntropy: deterministic source scores 0; a fair binary source scores ln 2") {
    import spark.implicits._
    def ev(id: Long, u: Long, t: String, sec: Long) =
      (id, u, t, ts(sec * 1000000L))
    // a→b twice (deterministic); b→{a, c} once each (fair coin)
    val events = Seq(
      ev(1L, 1L, "a", 0), ev(2L, 1L, "b", 1), ev(3L, 1L, "a", 2),
      ev(4L, 2L, "a", 0), ev(5L, 2L, "b", 1), ev(6L, 2L, "c", 2)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.transitionEntropy(events).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[Long]("n_next_types"),
        r.getAs[Long]("n_transitions"), r.getAs[Long]("entropy_e6"),
        r.getAs[Long]("norm_entropy_e4"))).toSeq
    // per-cell e6 rounding: −½ln½ → 346574 each, so ln 2 lands at 693148
    assert(out == Seq(
      ("a", 1L, 2L, 0L, 0L),
      ("b", 2L, 2L, 693148L, 10000L)))
  }

  test("factorialInteraction: a constructed synergy shows up only in the interaction") {
    import spark.implicits._
    val t0 = ts(0L)
    // cell means (dollars): a0b0=1, a0b1=2, a1b0=3, a1b1=7 → B effect
    // +1 under a0, +4 under a1 → interaction +3 (=300 cents)
    // uids: a = uid%2, b = uid%3==0 → a0b0: 2; a0b1: 6; a1b0: 1; a1b1: 3
    val events = Seq(
      (1L, 2L, "view", 1.0, t0), (2L, 6L, "view", 2.0, t0),
      (3L, 1L, "view", 3.0, t0), (4L, 3L, "view", 7.0, t0)
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.factorialInteraction(events).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_users") == 4L)
    assert(r.getAs[Long]("b_effect_in_a1_cents") == 400L)
    assert(r.getAs[Long]("b_effect_in_a0_cents") == 100L)
    assert(r.getAs[Long]("interaction_cents") == 300L)
    // a cell missing entirely → empty report, not a null contrast
    val threeCells = events.filter(events("user_id") =!= 3L)
    assert(graft.ops.Analytics.factorialInteraction(threeCells).count() == 0)
  }

  test("cohensD: hand-computed pooled-SD effect size") {
    import spark.implicits._
    val t0 = ts(0L)
    // arm1 (odd): 100, 300 (mean 200, ss 20000); arm0 (even): 100, 100
    // (mean 100, ss 0) → pooled var 10000, sd 100 → d = 1.0
    val events = Seq(
      (1L, 1L, "view", 1.0, t0), (2L, 3L, "view", 3.0, t0),
      (3L, 2L, "view", 1.0, t0), (4L, 4L, "view", 1.0, t0)
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.cohensD(events).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n0") == 2L)
    assert(r.getAs[Long]("diff_cents") == 100L)
    assert(r.getAs[Long]("d_e4") == 10000L)
    // zero pooled variance → d undefined (null), not a crash
    val flat = Seq(
      (1L, 1L, "view", 1.0, t0), (2L, 3L, "view", 1.0, t0),
      (3L, 2L, "view", 1.0, t0), (4L, 4L, "view", 1.0, t0)
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val f = graft.ops.Analytics.cohensD(flat).collect().head
    assert(f.isNullAt(f.fieldIndex("d_e4")))
  }

  test("matchedAtt: 1-NN matching with duplicate-pre representatives and tie-breaks") {
    import spark.implicits._
    // controls (even uid): pre 100→post 50 (uid 2), pre 200→post 80
    // (uid 4), pre 100→post 70 (uid 6 — dup pre, rep stays uid 2)
    // treated (odd uid): pre 90→post 100 (matches 100, d=10),
    //   pre 150→post 60 (tie 100 vs 200 → lower pre, d=50),
    //   pre 300→post 200 (matches 200, d=100)
    // att = (50 + 10 + 120) div 3 = 60
    val pre = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val post = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    def u(uid: Long, p: Double, q: Double) = Seq(
      (uid * 10, uid, "view", p, pre), (uid * 10 + 1, uid, "view", q, post))
    val events = (u(2L, 1.0, 0.5) ++ u(4L, 2.0, 0.8) ++ u(6L, 1.0, 0.7) ++
      u(1L, 0.9, 1.0) ++ u(3L, 1.5, 0.6) ++ u(5L, 3.0, 2.0))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.matchedAtt(events).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_treated") == 3L)
    assert(r.getAs[Long]("n_controls") == 3L)
    assert(r.getAs[Long]("att_cents") == 60L)
    assert(r.getAs[Long]("mean_match_dist_cents") == 53L)
    assert(r.getAs[Long]("max_match_dist_cents") == 100L)
  }

  test("cupedLift: theta and adjusted means match the closed form on hand data") {
    val day = 86400000000L
    val events = Seq(
      // (user, pre-cents, post-cents): (0,100,1000) (1,200,1200)
      // (2,300,1400) (3,400,1800) → theta = 2.6, pooled mean pre = 250
      (1L, 0L, 1.0, ts(0L)), (2L, 0L, 10.0, ts(2 * day)),
      (3L, 1L, 2.0, ts(0L)), (4L, 1L, 12.0, ts(2 * day)),
      (5L, 2L, 3.0, ts(0L)), (6L, 2L, 14.0, ts(2 * day)),
      (7L, 3L, 4.0, ts(0L)), (8L, 3L, 18.0, ts(2 * day))
    ).toDF("event_id", "user_id", "value", "ts")
    val out = Analytics.cupedLift(events, "1970-01-02 00:00:00").collect()
      .map(r => (r.getAs[Long]("arm"), r.getAs[Long]("n_users"),
        r.getAs[Double]("mean_pre_cents"), r.getAs[Double]("mean_post_cents"),
        r.getAs[Double]("theta"), r.getAs[Double]("adjusted_mean_cents")))
      .toSeq
    // arm 0: 1200 − 2.6·(200−250) = 1330; arm 1: 1500 − 2.6·50 = 1370
    assert(out == Seq(
      (0L, 2L, 200.0, 1200.0, 2.6, 1330.0),
      (1L, 2L, 300.0, 1500.0, 2.6, 1370.0)))
  }

  test("srmCheck: balanced split passes, lopsided split flags") {
    val mk = (ids: Seq[Long]) => ids.zipWithIndex
      .map { case (u, i) => (i.toLong, u, ts(i * 1000000L)) }
      .toDF("event_id", "user_id", "ts")
    val ok = Analytics.srmCheck(mk(Seq(2L, 4L, 6L, 1L))).collect()
    // 3 even vs 1 odd of 4: chi² = (2·3−4)²/4 = 1.0 → below the 3.84 cut
    assert(ok.forall(r => r.getAs[Long]("chi2_e6") == 1000000L &&
      !r.getAs[Boolean]("srm_flag")))
    val bad = Analytics.srmCheck(mk((1L to 10L).map(_ * 2))).collect()
    // 10 even vs 0 odd: chi² = 10 → hard SRM flag
    assert(bad.length == 1 && bad.head.getAs[Boolean]("srm_flag"))
  }

  test("churnLabels: features strictly before the snapshot; post-only users excluded") {
    val day = 86400000000L
    val events = Seq(
      (1L, 1L, "view", 1.0, ts(0L)), (2L, 1L, "purchase", 2.0, ts(day / 2)),
      (3L, 1L, "view", 9.0, ts(2 * day)), // after snapshot → not churned
      (4L, 2L, "view", 5.0, ts(0L)),      // nothing after → churned
      (5L, 3L, "view", 7.0, ts(3 * day))  // first seen after snapshot → no row
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = Analytics.churnLabels(events, "1970-01-02 00:00:00").collect()
      .map(r => (r.getAs[Long]("user_id"), (r.getAs[Long]("n_events_feat"),
        r.getAs[Long]("n_purchases_feat"), r.getAs[Long]("n_days_feat"),
        r.getAs[Long]("value_cents_feat"), r.getAs[Boolean]("churned")))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == (2L, 1L, 1L, 300L, false))
    assert(out(2L) == (1L, 0L, 1L, 500L, true))
  }

  test("survivalCurve: textbook KM on hand data; all-convert day absorbs to zero") {
    val day = 86400000000L
    val events = Seq(
      (1L, 1L, "view", ts(0L)), (2L, 1L, "purchase", ts(1 * day)),
      (3L, 2L, "view", ts(0L)), (4L, 2L, "purchase", ts(1 * day)),
      (5L, 3L, "view", ts(0L)), (6L, 3L, "purchase", ts(3 * day)),
      (7L, 4L, "view", ts(0L)) // never converts → censored at day 4
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Analytics.survivalCurve(events, "1970-01-05 00:00:00").collect()
      .map(r => (r.getAs[Long]("t_days"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("d_events"), r.getAs[Long]("c_censored"),
        r.getAs[Long]("km_e4"))).toSeq
    // S(1) = 1·(1−2/4) = 0.5; S(3) = 0.5·(1−1/2) = 0.25; censor holds S
    assert(out == Seq((1L, 4L, 2L, 0L, 5000L), (3L, 2L, 1L, 0L, 2500L),
      (4L, 1L, 0L, 1L, 2500L)))
    // everyone converts on one day → the curve hits EXACTLY zero
    val all = Seq(
      (1L, 1L, "view", ts(0L)), (2L, 1L, "purchase", ts(2 * day)),
      (3L, 2L, "view", ts(0L)), (4L, 2L, "purchase", ts(2 * day))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val z = Analytics.survivalCurve(all, "1970-01-05 00:00:00").collect()
    assert(z.map(r => (r.getAs[Long]("t_days"), r.getAs[Long]("km_e4"))).toSeq
      == Seq((2L, 0L)))
  }

  test("stateSizing: sweep-line concurrency per gap candidate, hand-checked") {
    val sec = 1000000L
    val events = Seq(
      (1L, 1L, ts(0L)), (2L, 1L, ts(300 * sec)), (3L, 2L, ts(30 * sec))
    ).toDF("event_id", "user_id", "ts")
    val out = Analytics.stateSizing(events,
        gapsUs = Seq(60 * sec, 600 * sec)).collect()
      .map(r => (r.getAs[Long]("g"), (r.getAs[Long]("n_sessions"),
        r.getAs[Long]("peak_concurrent"), r.getAs[Long]("span_minutes"),
        r.getAs[Long]("mean_at_changes_e2")))).toMap
    // g=60 s: three 1-event sessions; two overlap in minute 0
    assert(out(60 * sec) == (3L, 2L, 6L, 75L))
    // g=600 s: user 1's events merge into one session
    assert(out(600 * sec) == (2L, 2L, 15L, 100L))
  }

  test("forgetAudit: dropped + left reconciles to total; distinct users counted once") {
    val events = Seq(
      (1L, 2L, "a", ts(0L)), (2L, 2L, "a", ts(1000000L)), // user 2: purged
      (3L, 3L, "a", ts(2000000L)),
      (4L, 4L, "b", ts(3000000L)), // user 4: purged
      (5L, 5L, "b", ts(4000000L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Privacy.forgetAudit(events, modulus = 2L).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_total"),
        r.getAs[Long]("n_dropped"), r.getAs[Long]("n_left"),
        r.getAs[Long]("n_users_dropped"), r.getAs[Long]("dropped_share_e4")))
      .toSeq
    assert(out == Seq(("a", 3L, 2L, 1L, 1L, 6666L), ("b", 2L, 1L, 1L, 1L, 5000L)))
  }

  test("pruneEffectiveness: date layout reads exactly the matching day; single arrival block reads everything") {
    val day10 = 1704844800000000L // 2024-01-10 in µs
    val day15 = 1705276800000000L
    val day30 = 1706572800000000L
    val events = Seq(
      (1L, 1L, "a", ts(day10)), (2L, 1L, "a", ts(day10 + 1000000L)),
      (3L, 1L, "a", ts(day15)), (4L, 1L, "a", ts(day30))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Layout.pruneEffectiveness(events, blockRows = 1000L)
      .collect()
      .map(r => ((r.getAs[String]("layout"), r.getAs[String]("pred")),
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("blocks_read"),
          r.getAs[Long]("rows_read"), r.getAs[Long]("rows_matched"),
          r.getAs[Long]("waste_e4")))).toMap
    // by_day + one_day: reads only the 2-row Jan-10 partition, zero waste
    assert(out(("by_day", "one_day")) == (3L, 1L, 2L, 2L, 0L))
    // arrival with one giant block: every predicate reads all 4 rows
    assert(out(("arrival", "one_day")) == (1L, 1L, 4L, 2L, 5000L))
    assert(out(("arrival", "last_day")) == (1L, 1L, 4L, 1L, 7500L))
    // by_day + last_half: Jan-15 and Jan-30 partitions only
    assert(out(("by_day", "last_half")) == (3L, 2L, 2L, 2L, 0L))
  }

  test("kmvDistinct: bottom-k sketch matches an independent recomputation and truth is exact") {
    import graft.ops.Sketch
    val events = (
      (1 to 100).map(u => (u.toLong, u.toLong, "a", ts(u * 1000000L))) ++
      (1 to 30).map(u => (u.toLong + 200L, u.toLong, "b", ts(u * 1000000L)))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Sketch.kmvDistinct(events, k = 16).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_hash"),
          r.getAs[Long]("est_distinct"), r.getAs[Long]("true_distinct"))).toMap
    def h(u: Long) =
      (u * Sketch.KmvMulA + Sketch.KmvAddC) % Sketch.KmvModulus
    def expected(users: Range) = {
      val bottom = users.map(u => h(u.toLong)).sorted.take(16)
      (16L, bottom.last, 15L * Sketch.KmvModulus / bottom.last,
        users.size.toLong)
    }
    assert(out("a") == expected(1 to 100))
    assert(out("b") == expected(1 to 30))
    // estimator sanity: within 3/sqrt(k-1) relative of truth on uniform ids
    val (_, _, est, truth) = out("a")
    assert(math.abs(est - truth).toDouble / truth < 3.0 / math.sqrt(15.0))
  }

  test("kmvIntersect: overlap estimate from member sets alone; exact truth rides along") {
    import graft.ops.Sketch
    // cohort a = users 1..80 (even days), cohort b = users 41..120 (odd
    // days) → true intersection 40
    val events = (
      (1 to 80).map(u => (u.toLong, u.toLong, "x", ts(86400000000L * 1))) ++ // Jan 2 (even day)
      (41 to 120).map(u => (u.toLong + 500L, u.toLong, "x", ts(86400000000L * 2))) // Jan 3 (odd)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val r = Sketch.kmvIntersect(events, k = 16).collect().head
    assert(r.getAs[Long]("true_a") == 80L)
    assert(r.getAs[Long]("true_b") == 80L)
    assert(r.getAs[Long]("true_intersect") == 40L)
    // independent recomputation of the estimator from first principles
    def h(u: Long) = (u * Sketch.KmvMulA + Sketch.KmvAddC) % Sketch.KmvModulus
    val mA = (1 to 80).map(u => h(u.toLong)).sorted.take(16).toSet
    val mB = (41 to 120).map(u => h(u.toLong)).sorted.take(16).toSet
    val uk = (mA ++ mB).toSeq.sorted.take(16)
    val nBoth = uk.count(x => mA(x) && mB(x)).toLong
    val estU = 15L * Sketch.KmvModulus / uk.max
    assert(r.getAs[Long]("n_both") == nBoth)
    assert(r.getAs[Long]("est_intersect") == nBoth * estU / uk.length)
  }

  test("kmvDiff: one-sided reach estimate from member sets alone; exact truth rides along") {
    import graft.ops.Sketch
    // cohort a = users 1..80 (even day), cohort b = users 41..120 (odd
    // day) → true a-only count 40
    val events = (
      (1 to 80).map(u => (u.toLong, u.toLong, "x", ts(86400000000L * 1))) ++
      (41 to 120).map(u => (u.toLong + 500L, u.toLong, "x", ts(86400000000L * 2)))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val r = Sketch.kmvDiff(events, k = 16).collect().head
    assert(r.getAs[Long]("true_diff") == 40L)
    // independent recomputation of the estimator from first principles
    def h(u: Long) = (u * Sketch.KmvMulA + Sketch.KmvAddC) % Sketch.KmvModulus
    val mA = (1 to 80).map(u => h(u.toLong)).sorted.take(16).toSet
    val mB = (41 to 120).map(u => h(u.toLong)).sorted.take(16).toSet
    val uk = (mA ++ mB).toSeq.sorted.take(16)
    val nOnlyA = uk.count(x => mA(x) && !mB(x)).toLong
    val estU = 15L * Sketch.KmvModulus / uk.max
    assert(r.getAs[Long]("n_only_a") == nOnlyA)
    assert(r.getAs[Long]("est_diff") == nOnlyA * estU / uk.length)
  }

  test("amsF2: counters, group means and median recompute bit-exactly; truth rides along") {
    import graft.ops.Sketch
    // users 1..10 with frequency = user id → F2 = 1²+…+10² = 385, F1 = 55
    val events = (1 to 10).flatMap(u => (1 to u).map(i =>
      ((u * 100 + i).toLong, u.toLong, "x", ts(i * 1000000L))))
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = Sketch.amsF2(events, groups = 3, perGroup = 4).collect().head
    assert(r.getAs[Long]("true_f2") == 385L)
    assert(r.getAs[Long]("n_rows") == 55L)
    assert(r.getAs[Long]("n_counters") == 12L)
    // first-principles recomputation of the tug-of-war estimator
    def sgn(u: Long, cr: Long): Long =
      if (((u * (Sketch.KmvMulA + (cr + 1) * Sketch.AmsStep)
        + Sketch.KmvAddC) % Sketch.KmvModulus) % 2 == 0) 1L else -1L
    val sketches = (0L until 12L).map(cr =>
      (1 to 10).map(u => sgn(u.toLong, cr) * u).sum.toLong)
    val means = sketches.grouped(4).map(g => g.map(x => x * x).sum / 4).toSeq
    val med = means.zipWithIndex.sortBy(x => (x._1, x._2)).apply(1)._1
    assert(r.getAs[Long]("est_f2") == med)
    // median-of-means on a pairwise family: loose envelope, est within
    // an order of magnitude of the truth
    assert(r.getAs[Long]("est_f2") >= 0L)
  }

  test("countMin: estimates never undercount and are exact without collisions") {
    // users 1..20 with frequency = user id — wide counter table (width
    // 256) over 20 keys: collisions possible per row but the MIN over 4
    // independent rows recovers exactness with high probability; the
    // invariant est >= truth holds unconditionally
    val events = (1 to 20).flatMap(u => (1 to u).map(i =>
      ((u * 100 + i).toLong, u.toLong, "x", ts(i * 1000000L))))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Sketch.countMin(events, topK = 5).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("true_cnt"),
        r.getAs[Long]("cm_est"))).toSeq
    assert(out.map(x => (x._1, x._2)) ==
      Seq((20L, 20L), (19L, 19L), (18L, 18L), (17L, 17L), (16L, 16L)))
    out.foreach { case (u, t, e) =>
      assert(e >= t, s"count-min undercounted user $u: $e < $t") }
  }

  test("bhFdr: step-up rejects BELOW the largest passing rank even when a smaller p fails its own cutoff") {
    // hand-built BALANCED cohorts (equal totals, so a type with equal
    // counts has an exactly-zero z): 'big_shift' and 'filler' move
    // massively, the null types not at all. Pins: ascending p-ranks,
    // the rejected set is a PREFIX of the p-ordering (the step-up
    // shape), and exact-zero-z types are never rejected.
    def mk(cohortDay: Long, tpe: String, n: Int, base: Long) =
      (0 until n).map(i =>
        (base + i, 1000L + i, tpe, ts(cohortDay * 86400000000L + i * 1000000L)))
    val events = (
      mk(2, "big_shift", 400, 0) ++ mk(3, "big_shift", 100, 10000) ++
      mk(2, "mid_even", 230, 20000) ++ mk(3, "mid_even", 230, 30000) ++
      mk(2, "null_1", 300, 40000) ++ mk(3, "null_1", 300, 50000) ++
      mk(2, "null_2", 300, 60000) ++ mk(3, "null_2", 300, 70000) ++
      mk(3, "filler", 300, 80000)
    ).map { case (id, uid, tpe, t) => (id.toLong, uid, tpe, t) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.bhFdr(events).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("k"),
        r.getAs[Long]("p_e6"), r.getAs[Boolean]("rejected")))
    // ranks are ascending in p and the big shift sorts first
    assert(out.map(_._2).toSeq == (1L to 5L), out.mkString(";"))
    assert(out.head._1 == "big_shift" && out.head._4)
    // nulls are never rejected; monotone property: rejected is a prefix
    val rej = out.map(_._4)
    assert(!rej.zip(rej.tail).exists { case (a, b) => !a && b },
      s"rejections must be a prefix of the p-ordering: ${out.mkString(";")}")
    assert(!out.filter(r => r._1.startsWith("null")).exists(_._4))
  }

  test("changePoints: the planted level shift is found exactly, then each side's secondary shift") {
    // 24 hours: level 10/hour for h<8, 40/hour for 8<=h<16, 41 for
    // h>=16. Global argmax must land at the 10→40 jump boundary (t=8);
    // right segment's best split lands at the 40→41 boundary.
    val events = (0 until 24).flatMap { h =>
      val lvl = if (h < 8) 10 else if (h < 16) 40 else 41
      (0 until lvl).map(i => ((h * 100 + i).toLong, 1L, "x",
        ts(h * 3600000000L + i * 1000000L)))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.changePoints(events).collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("t_index"),
        r.getAs[Long]("n_hours"), r.getAs[Long]("mean_before_e4"),
        r.getAs[Long]("mean_after_e4"))).toSeq.sortBy(_._1)
    val all = out.find(_._1 == "all").get
    assert(all._2 == 8L && all._3 == 24L, all)
    assert(all._4 == 100000L, all)                   // 10.0/hour before
    assert(all._5 == 405000L, all)                   // (8·40+8·41)/16 = 40.5
    val right = out.find(_._1 == "right").get
    assert(right._2 == 8L && right._3 == 16L, right) // 40→41 at its t=8
    assert(right._4 == 400000L && right._5 == 410000L, right)
    val left = out.find(_._1 == "left").get
    assert(left._3 == 8L, left)                      // flat 8-hour segment
    assert(left._4 == 100000L && left._5 == 100000L, left)
  }

  test("treeSplit: a perfectly separating feature scores Gini 0; ties break to the feature name") {
    // users 1-5: one zero-value 'view' (no errors → label 0); users
    // 6-10: three events, one an 'error' with value 100.0 (5·1 ≥ 3 →
    // label 1). n_events and value_cents both split perfectly (gini 0);
    // n_days is constant (no candidate split, no row). The struct
    // tie-break hands is_best to 'n_events'.
    val events = (
      (1 to 5).map(u => (u.toLong, u.toLong, "view", 0.0, ts(0L))) ++
      (6 to 10).flatMap(u => Seq(
        (u * 10L, u.toLong, "view", 0.0, ts(0L)),
        (u * 10L + 1, u.toLong, "error", 100.0, ts(1000000L)),
        (u * 10L + 2, u.toLong, "click", 0.0, ts(2000000L))))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.treeSplit(events).collect()
      .map(r => (r.getAs[String]("feature"), r.getAs[Long]("gini_e9"),
        r.getAs[Long]("n_left"), r.getAs[Long]("pos_left"),
        r.getAs[Long]("n_right"), r.getAs[Long]("pos_right"),
        r.getAs[Boolean]("is_best"))).toSeq
    assert(out.map(_._1) == Seq("n_events", "value_cents"), out.mkString(";"))
    assert(out.forall(r => r._2 == 0L && r._3 == 5L && r._4 == 0L &&
      r._5 == 5L && r._6 == 5L), out.mkString(";"))
    assert(out.map(_._7) == Seq(true, false), out.mkString(";"))
  }

  test("slidingDistinct: first-in-window rewrite equals brute force on a seeded random stream") {
    val rnd = new scala.util.Random(42)
    val W = 4 // 4-hour window keeps the brute force readable
    val events = (0 until 300).map { i =>
      (i.toLong, (rnd.nextInt(8) + 1).toLong, "x",
        ts(rnd.nextInt(48) * 3600000000L + rnd.nextInt(3600) * 1000000L))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val rows = events.collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts").getTime * 1000 / 3600000000L))
    val (lo, hi) = (rows.map(_._2).min, rows.map(_._2).max)
    val brute = (lo to hi).map { b =>
      (b * 3600000000L,
        rows.filter(e => e._2 >= b - (W - 1) && e._2 <= b).map(_._1).distinct.length.toLong)
    }
    val out = graft.ops.Analytics.slidingDistinct(events, windowHours = W)
      .collect().map(r => (r.getAs[Long]("hour_us"), r.getAs[Long]("n_active"))).toSeq
    assert(out == brute)
    // boundary pins: a user active in consecutive hours is counted once
    // per readout, and an hour with no events still reads trailing actives
    val dense = Seq(
      (1L, 7L, "x", ts(0L)), (2L, 7L, "x", ts(3600000000L)),
      (3L, 9L, "x", ts(0L)), (4L, 9L, "x", ts(5L * 3600000000L)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val d = graft.ops.Analytics.slidingDistinct(dense, windowHours = 4)
      .collect().map(r => (r.getAs[Long]("hour_us") / 3600000000L,
        r.getAs[Long]("n_active"))).toSeq
    // h0: {7,9}; h1: {7,9}(7 twice, once counted); h2,h3: both still in
    // window; h4: only 7 (9's h0 event aged out, 7's h1 alive); h5: 9
    assert(d == Seq((0L, 2L), (1L, 2L), (2L, 2L), (3L, 2L), (4L, 1L), (5L, 1L)), d)
  }

  test("KllAggregator: total weight is exactly preserved and ranks stay in the deterministic envelope") {
    val agg = new graft.functions.KllAggregator(64)
    // sequential reduce over a permuted stream, then a 3-way merge of
    // shards — both paths must conserve weight and keep rank error small
    val n = 20000
    val perm = (1 to n).map(i => ((i.toLong * 48271L) % n) + 1L)
    val full = perm.foldLeft(agg.zero)(agg.reduce)
    val sharded = perm.grouped(n / 3 + 1).toSeq
      .map(_.foldLeft(agg.zero)(agg.reduce))
      .reduce(agg.merge)
    for (buf <- Seq(full, sharded)) {
      val items = agg.finish(buf)
      assert(items.map(_._2).sum == n.toLong, "total weight must equal n")
      // rank check at three quantiles: estimate = smallest value whose
      // cumulative weight reaches ceil(phi*n); its TRUE rank (values are
      // the distinct longs 1..n) must sit within 5% of phi*n
      val sorted = items.sortBy(_._1)
      val cum = sorted.scanLeft(0L)(_ + _._2).tail
      for (phi <- Seq(0.1, 0.5, 0.9)) {
        val target = math.ceil(phi * n).toLong
        val est = sorted(cum.indexWhere(_ >= target))._1
        assert(math.abs(est - phi * n) <= 0.05 * n,
          s"phi=$phi est=$est out of envelope")
      }
    }
  }

  test("quantileSketch: envelope verdict true, exact quantiles rank-selected") {
    // orders with totalprice 0.01..150.00 (distinct cents 1..15000,
    // permuted, 8 partitions → real partial-sketch merges)
    val n = 15000
    val orders = (1 to n).map(i => (i.toLong, (((i.toLong * 48271L) % n) + 1L) / 100.0))
      .toDF("o_orderkey", "o_totalprice").repartition(8)
    val out = graft.ops.Sketch.quantileSketch(orders).collect()
      .map(r => (r.getAs[Long]("phi_e4"), r.getAs[Long]("n_orders"),
        r.getAs[Long]("exact_cents"), r.getAs[Boolean]("within_bound"))).toSeq
      .sortBy(_._1)
    // exact quantile of 1..15000 at phi: ceil(phi*n) (values ARE ranks)
    def ex(phiE4: Long) = (phiE4 * n + 9999) / 10000
    assert(out == Seq(
      (1000L, n.toLong, ex(1000), true),
      (5000L, n.toLong, ex(5000), true),
      (9000L, n.toLong, ex(9000), true),
      (9900L, n.toLong, ex(9900), true)))
  }

  test("removalEffect: hand-solved three-journey chain, exact e9 fixed point") {
    // u1: view→purchase; u2: view→click→purchase; u3: click (abandons)
    val events = Seq(
      (1L, 1L, "view", ts(1000000L)), (2L, 1L, "purchase", ts(2000000L)),
      (3L, 2L, "view", ts(1000000L)), (4L, 2L, "click", ts(2000000L)),
      (5L, 2L, "purchase", ts(3000000L)),
      (6L, 3L, "click", ts(1000000L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.removalEffect(events).collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("n_touch"),
        r.getAs[Long]("base_conv_e9"), r.getAs[Long]("removed_conv_e9"),
        r.getAs[Long]("effect_e9"), r.getAs[Long]("share_e4"))).toSeq
    // base: P(conv|START) = (2·P(view) + P(click))/3 with P(view) =
    // (1 + P(click))/2 = 3/4, P(click) = 1/2 → 2/3 → 666666666 e9.
    // remove view → START funnels 2/3 to NULL → 1/6; remove click →
    // only the view→CONV leg survives → 1/3.
    assert(out == Seq(
      ("click", 2L, 666666666L, 333333333L, 333333333L, 3999L),
      ("view", 2L, 666666666L, 166666666L, 500000000L, 6000L)))
  }

  test("tableChecksum: partition-free, and a one-cent mutation flips exactly its type's cell") {
    val base = Seq(
      (1L, 1L, "view", 1.0, ts(1000000L)),
      (2L, 2L, "view", 2.0, ts(2000000L)),
      (3L, 3L, "click", 3.0, ts(3000000L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    def sums(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Analytics.tableChecksum(df).collect()
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toMap
    val a = sums(base)
    // physical layout must not matter: same multiset, same checksum
    assert(sums(base.repartition(7)) == a)
    // one-cent change in a view row: view + TOTAL move, click does not
    val mutated = Seq(
      (1L, 1L, "view", 1.01, ts(1000000L)),
      (2L, 2L, "view", 2.0, ts(2000000L)),
      (3L, 3L, "click", 3.0, ts(3000000L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val b = sums(mutated)
    assert(a("click") == b("click"))
    assert(a("view")._1 == b("view")._1 && a("view")._2 != b("view")._2)
    assert(a("TOTAL")._2 != b("TOTAL")._2)
  }

  test("journeyPrefixes: opening sequences rank by traffic with exact conversion") {
    val events = Seq(
      (1L, 1L, "view", ts(1L)), (2L, 1L, "click", ts(2L)),
      (3L, 1L, "purchase", ts(3L)),
      (4L, 2L, "view", ts(1L)), (5L, 2L, "click", ts(2L)),
      (6L, 3L, "view", ts(1L)), (7L, 3L, "click", ts(2L)),
      (8L, 3L, "purchase", ts(3L)), (9L, 3L, "error", ts(4L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.journeyPrefixes(events).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("n_users"),
        r.getAs[Long]("n_converted"), r.getAs[Long]("conv_e4"))).toSeq
    assert(out == Seq(
      ("view>click>purchase", 2L, 2L, 10000L),
      ("view>click", 1L, 0L, 0L)))
  }

  test("cepPattern: browse-to-buy regex counts non-overlapping runs per user") {
    val events = Seq(
      // u1: vcvp → one greedy run; u2: vpvp → two runs
      (1L, 1L, "view", ts(1000000L)), (2L, 1L, "click", ts(2000000L)),
      (3L, 1L, "view", ts(3000000L)), (4L, 1L, "purchase", ts(4000000L)),
      (5L, 2L, "view", ts(1000000L)), (6L, 2L, "purchase", ts(2000000L)),
      (7L, 2L, "view", ts(3000000L)), (8L, 2L, "purchase", ts(4000000L)),
      // u3 never buys, u4 buys before viewing — both filtered out
      (9L, 3L, "click", ts(1000000L)), (10L, 3L, "click", ts(2000000L)),
      (11L, 4L, "purchase", ts(1000000L)), (12L, 4L, "view", ts(2000000L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.cepPattern(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("journey_len"),
        r.getAs[Long]("n_matches"))).toSeq
    assert(out == Seq((1L, 4L, 1L), (2L, 4L, 2L)))
  }

  test("cusum: prefix-min closed form reproduces the recursive statistic on a step series") {
    val day0 = 1704067200000000L // 2024-01-01
    val us = 86400000000L
    // 10 days at 10 events, then 5 days at 30: μ = 250 div 15 = 16,
    // slack = 0, h = 8
    val events = (
      (0 until 10).flatMap(d => (0 until 10).map(j =>
        (d * 100L + j, 1L, "a", ts(day0 + d * us + j * 1000000L)))) ++
      (10 until 15).flatMap(d => (0 until 30).map(j =>
        (d * 100L + j, 1L, "a", ts(day0 + d * us + j * 1000000L))))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.cusum(events).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        (r.getAs[Long]("x"), r.getAs[Long]("mu"), r.getAs[Long]("s_up"),
          r.getAs[Long]("s_dn"), r.getAs[Boolean]("flag_up"),
          r.getAs[Boolean]("flag_down")))).toMap
    assert(out.size == 15)
    // low phase: up-statistic pinned at 0, down-statistic ramps 6/day
    assert(out("2024-01-01") == (10L, 16L, 0L, 6L, false, false))
    assert(out("2024-01-02") == (10L, 16L, 0L, 12L, false, true))
    assert(out("2024-01-10") == (10L, 16L, 0L, 60L, false, true))
    // step up: S⁺ ramps 14/day and fires immediately; S⁻ drains 14/day
    assert(out("2024-01-11") == (30L, 16L, 14L, 46L, true, true))
    assert(out("2024-01-15") == (30L, 16L, 70L, 0L, true, false))
  }

  test("nativeSessionWindow: an exact gap-boundary hit merges; end = last + gap") {
    val gap = 600000000L // 10 min in µs
    val events = Seq(
      (1L, 1L, "a", ts(0L)), (2L, 1L, "a", ts(gap - 1L)), // strictly inside
      (3L, 1L, "a", ts(3L * gap)),                        // far out: new
      (4L, 2L, "a", ts(0L)), (5L, 2L, "a", ts(gap)),      // boundary: MERGES
      (6L, 2L, "a", ts(2L * gap + 1000L))                 // one µs-tick past
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.nativeSessionWindow(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSeq
    // µs truncation: ts() stores ms precision, so gap−1 µs floors to
    // gap−1000 µs — still strictly inside the first window. Spark's
    // session interval is CLOSED on the right: the event AT start+gap
    // extends the session (the oracle's islands rule mirrors diff > gap)
    assert(out == Seq(
      (1L, 0L, gap - 1000L + gap, 2L),
      (1L, 3L * gap, 4L * gap, 1L),
      (2L, 0L, 2L * gap, 2L),
      (2L, 2L * gap + 1000L, 3L * gap + 1000L, 1L)))
  }

  test("upliftDeciles: planted heterogeneity surfaces per decile, nets near zero on average") {
    // 20 users in 2 deciles of 10. Heavy browsers (users 1-10, 5 views):
    // treated (even) all convert, control none → uplift +10000. Light
    // browsers (11-20, 1 view): control converts, treated doesn't →
    // −10000. The ATE would read ~0.
    val events = (1 to 20).flatMap { u =>
      val views = if (u <= 10) 5 else 1
      val treats = u % 2 == 0
      val converts = (u <= 10 && treats) || (u > 10 && !treats)
      (1 to views).map(v => (u * 100L + v, u.toLong, "view",
        ts(u * 1000000L + v * 1000L))) ++
        (if (converts) Seq((u * 100L + 99L, u.toLong, "purchase",
          ts(u * 1000000L + 999000L))) else Nil)
    }.toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.upliftDeciles(events, deciles = 2)
      .collect()
      .map(r => (r.getAs[Long]("decile"),
        (r.getAs[Long]("n_t"), r.getAs[Long]("n_c"),
          r.getAs[Long]("uplift_e4")))).toMap
    assert(out(1L) == (5L, 5L, 10000L))
    assert(out(2L) == (5L, 5L, -10000L))
  }

  test("foldStability: constant metric has zero spread; varied metric a positive one") {
    val flat = (1 to 64).map(i =>
      (i.toLong, i.toLong, "purchase", 2.0, ts(0L)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val f = graft.ops.Analytics.foldStability(flat).collect().head
    assert(f.getAs[Long]("n_rows") == 64L)
    assert(f.getAs[Long]("fold_sd_cents") == 0L)
    assert(f.getAs[Long]("cv_e4") == 0L)
    assert(f.getAs[Long]("fold_mean_min_cents") == 200L)
    val varied = (1 to 64).map(i =>
      (i.toLong, i.toLong, "purchase", i * 1.0, ts(0L)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val v = graft.ops.Analytics.foldStability(varied).collect().head
    assert(v.getAs[Long]("fold_sd_cents") > 0L)
    assert(v.getAs[Long]("fold_mean_min_cents") <
      v.getAs[Long]("fold_mean_max_cents"))
  }

  test("targetEncoding: LOO spread and the naive-vs-LOO leakage gap are exact") {
    val events = Seq(
      (1L, 1L, "a", 1.0, ts(0L)), (2L, 2L, "a", 3.0, ts(0L)),
      (3L, 3L, "b", 9.0, ts(0L)) // singleton category: LOO undefined, dropped
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.targetEncoding(events).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "a")
    // naive = 200·e4/2 rows... mean 200 cents → 2000000 e4; LOO rows are
    // 300 and 100 cents → 3000000 / 1000000; gap = 1000000
    assert(r.getAs[Long]("n_c") == 2L)
    assert(r.getAs[Long]("naive_e4") == 2000000L)
    assert(r.getAs[Long]("loo_min_e4") == 1000000L)
    assert(r.getAs[Long]("loo_max_e4") == 3000000L)
    assert(r.getAs[Long]("loo_mean_e4") == 2000000L)
    assert(r.getAs[Long]("max_leak_gap_e4") == 1000000L)
  }

  test("funnelArmTest: per-step reach, conversion, and pooled z are exact") {
    val events = Seq(
      // arm0: u2 full journey, u4 view only
      (1L, 2L, "view", ts(1L)), (2L, 2L, "click", ts(2L)),
      (3L, 2L, "purchase", ts(3L)), (4L, 4L, "view", ts(1L)),
      // arm1: u1 view+click, u3 view only
      (5L, 1L, "view", ts(1L)), (6L, 1L, "click", ts(2L)),
      (7L, 3L, "view", ts(1L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.funnelArmTest(events).collect()
      .map(r => (r.getAs[Long]("step"),
        (r.getAs[Long]("from_a"), r.getAs[Long]("to_a"),
          r.getAs[Long]("from_b"), r.getAs[Long]("to_b"),
          r.getAs[Long]("conv_a_e4"), r.getAs[Long]("conv_b_e4"),
          r.getAs[Long]("z_e4")))).toMap
    // view→click: both arms 1 of 2 → z = 0 exactly
    assert(out(1L) == (2L, 1L, 2L, 1L, 5000L, 5000L, 0L))
    // click→purchase: 1/1 vs 0/1, pooled p = 1/2 → z = 1e4/√0.5 = 14142
    assert(out(2L) == (1L, 1L, 1L, 0L, 10000L, 0L, 14142L))
  }

  test("welchTTest: exact moments and a hand-checked statistic") {
    // arm0 (even users): {100, 300}; arm1: {200, 200, 500} cents
    val events = Seq(
      (1L, 2L, "purchase", 1.0, ts(0L)), (2L, 4L, "purchase", 3.0, ts(0L)),
      (3L, 1L, "purchase", 2.0, ts(0L)), (4L, 3L, "purchase", 2.0, ts(0L)),
      (5L, 5L, "purchase", 5.0, ts(0L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val r = graft.ops.Analytics.welchTTest(events).collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("mean_a_cents") == 200L)
    assert(r.getAs[Long]("mean_b_cents") == 300L)
    // var_a = ((100−200)²+(300−200)²)/1 = 20000; var_b = (100²+100²+200²)/2
    assert(r.getAs[Long]("var_a_c2") == 20000L)
    assert(r.getAs[Long]("var_b_c2") == 30000L)
    val expected = math.round(
      (200.0 - 300.0) * 10000.0 / math.sqrt(20000.0 / 2 + 30000.0 / 3))
    assert(r.getAs[Long]("t_e4") == expected)
  }

  test("mannWhitney: mid-ranks double to integers; hand-checked U and z") {
    // arm 0 = even users. purchases: arm0 {100, 200, 300}, arm1 {200, 400}
    val events = Seq(
      (1L, 2L, "purchase", 1.0, ts(0L)), (2L, 6L, "purchase", 2.0, ts(0L)),
      (3L, 4L, "purchase", 3.0, ts(0L)),
      (4L, 1L, "purchase", 2.0, ts(0L)), (5L, 3L, "purchase", 4.0, ts(0L)),
      (6L, 1L, "view", 9.0, ts(0L)) // not a purchase — excluded
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.mannWhitney(events).collect().head
    // ranks 1, 2.5 (tie), 4 for arm0 → R×2 = 15, U×2 = 15 − 12 = 3;
    // z = (1.5 − 3)/√(3·2·6/12) = −3/√12 → −8660 e4
    assert(out.getAs[Long]("n_a") == 3L)
    assert(out.getAs[Long]("n_b") == 2L)
    assert(out.getAs[Long]("r_a_x2") == 15L)
    assert(out.getAs[Long]("u_a_x2") == 3L)
    assert(out.getAs[Long]("z_e4") == -8660L)
  }

  test("theilSen: median pairwise slope shrugs off a single outlier day") {
    val day0 = 1704067200000000L // 2024-01-01
    val us = 86400000000L
    // days 0..5 ramp by exactly 2/day; day 6 is a 100-event outlier —
    // 15 of 21 pairwise slopes are exactly 2, so the median stays 2
    val ys = Seq(10, 12, 14, 16, 18, 20, 100)
    val events = ys.zipWithIndex.flatMap { case (y, d) =>
      (0 until y).map(j => (d * 1000L + j, 1L, "a",
        ts(day0 + d * us + j * 1000000L)))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Analytics.theilSen(events).collect().head
    assert(out.getAs[Long]("n_days") == 7L)
    assert(out.getAs[Long]("n_pairs") == 21L)
    assert(out.getAs[Long]("slope_e6") == 2000000L)
    // median residual y − 2x: six days at exactly 10, the outlier at 88
    assert(out.getAs[Long]("intercept_e6") == 10000000L)
  }

  test("abPower: sample size from exact mean/variance matches the closed form") {
    val events = Seq(
      (1L, 1L, "purchase", 1.0, ts(1000000L)),
      (2L, 2L, "purchase", 2.0, ts(1000000L)),
      (3L, 3L, "purchase", 3.0, ts(1000000L)),
      (4L, 4L, "purchase", 4.0, ts(1000000L)),
      (5L, 5L, "view", 9.0, ts(1000000L)) // revenue 0 — still in the universe
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.ops.Analytics.abPower(events, Seq(1000L)).collect().head
    // cents = {100, 200, 300, 400, 0}: n=5, μ=200, σ² = (5·300000 − 10⁶)/20
    assert(out.getAs[Long]("n_users") == 5L)
    assert(out.getAs[Long]("mean_cents") == 200L)
    assert(out.getAs[Long]("var_c2") == 25000L)
    assert(out.getAs[Long]("delta_cents") == 20L)
    val z2 = math.round(math.pow(1.959964 + 0.841621, 2) * 1e6)
    val den = 1000000L * 20L * 20L
    val expected = (2L * z2 * 25000L + den - 1L) / den
    assert(out.getAs[Long]("n_per_arm") == expected)
    assert(out.getAs[Long]("n_total") == 2L * expected)
  }

  test("kmvUnion: merged cohort sketches equal a direct whole-population sketch") {
    import graft.ops.Sketch
    val day2 = 1704153600000000L // 2024-01-02 (even day → cohort a)
    val day3 = 1704240000000000L // 2024-01-03 (odd day → cohort b)
    val events = (
      (1 to 50).map(u => (u.toLong, u.toLong, "e", ts(day2))) ++
      (26 to 75).map(u => (u.toLong + 100L, u.toLong, "e", ts(day3)))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Sketch.kmvUnion(events, k = 16).collect()
      .map(r => r.getAs[String]("part") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_hash"),
          r.getAs[Long]("est_distinct"), r.getAs[Long]("true_distinct")))
      .toMap
    def h(u: Long) = (u * Sketch.KmvMulA + Sketch.KmvAddC) % Sketch.KmvModulus
    def bottom(users: Seq[Long]) = users.map(h).distinct.sorted.take(16)
    def row(users: Seq[Long]) = {
      val b = bottom(users)
      (16L, b.last, 15L * Sketch.KmvModulus / b.last, users.size.toLong)
    }
    assert(out("a") == row((1 to 50).map(_.toLong)))
    assert(out("b") == row((26 to 75).map(_.toLong)))
    // merge identity: bottom-k of the two sketches' union == bottom-k of
    // the full population — the associativity the operator demonstrates
    val mergedExpected = {
      val b = (bottom((1 to 50).map(_.toLong)) ++
        bottom((26 to 75).map(_.toLong))).distinct.sorted.take(16)
      (16L, b.last, 15L * Sketch.KmvModulus / b.last, 75L)
    }
    assert(out("merged") == mergedExpected)
    assert(mergedExpected._2 == bottom((1 to 75).map(_.toLong)).last)
  }

  test("contributionBound: clipping arithmetic is exact per cap") {
    val events = (
      (1 to 5).map(i => (i.toLong, 1L, "a", ts(i * 1000L))) :+
      (6L, 2L, "a", ts(6000L))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Privacy.contributionBound(events, Seq(1, 2)).collect()
      .map(r => r.getAs[Long]("cap") ->
        (r.getAs[Long]("n_user_cells"), r.getAs[Long]("raw_rows"),
          r.getAs[Long]("kept_rows"), r.getAs[Long]("clipped_user_cells"),
          r.getAs[Long]("max_contrib"), r.getAs[Long]("dropped_share_e4")))
      .toMap
    // user 1 contributes 5 rows to cell (a, day); user 2 contributes 1
    assert(out(1L) == (2L, 6L, 2L, 1L, 5L, 6666L))
    assert(out(2L) == (2L, 6L, 3L, 1L, 5L, 5000L))
  }

  test("olsMulti: exact planar data recovers the betas to the e6 digit") {
    import spark.implicits._
    // y_cents = 1000 + 2·x1 + 3·x2 exactly, non-collinear features →
    // zero residual, so the closed form must return 2.000000/3.000000
    val rows = Seq((1L, 0L), (2L, 10L), (3L, 5L), (4L, 2L), (1L, 7L), (2L, 3L))
    val li = rows.map { case (x1, x2) =>
      (x1.toDouble, x2 / 100.0, (1000L + 2 * x1 + 3 * x2) / 100.0) }
      .toDF("l_quantity", "l_discount", "l_extendedprice")
    val out = graft.ops.Analytics.olsMulti(li).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n") == 6L)
    assert(out.head.getAs[Long]("beta1_e6") == 2000000L)
    assert(out.head.getAs[Long]("beta2_e6") == 3000000L)
  }

  test("policyEval: hand-computed IPS and SNIPS under global propensities") {
    import spark.implicits._
    // seg 0 (user 0, target purchase): purchase 100c, purchase 200c,
    //   view 500c → n_s=3, matched n=2 sum=300
    // seg 1 (user 1, target view): view 400c, click 100c → n_s=2,
    //   matched n=1 sum=400
    // global: n_tot=5, n_purchase=2, n_view=2
    // w_e6 = 1e6·5 div 2 = 2500000 for both targets
    // seg0: ips = 300·(5 div 2) div 3 = 200; snips = 300 div 2 = 150
    // seg1: ips = 400·(5 div 2) div 2 = 400; snips = 400
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq(
      (1L, ts, 0L, "purchase", 1.0, "{}"), (2L, ts, 0L, "purchase", 2.0, "{}"),
      (3L, ts, 0L, "view", 5.0, "{}"), (4L, ts, 1L, "view", 4.0, "{}"),
      (5L, ts, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ops.Analytics.policyEval(ev).collect()
      .map(r => (r.getAs[Long]("segment"), r.getAs[String]("target_action"),
        r.getAs[Long]("n_logged"), r.getAs[Long]("n_matched"),
        r.getAs[Long]("w_e6"), r.getAs[Long]("ips_cents"),
        r.getAs[Long]("snips_cents")))
    assert(out.toSeq == Seq(
      (0L, "purchase", 3L, 2L, 2500000L, 200L, 150L),
      (1L, "view", 2L, 1L, 2500000L, 400L, 400L)))
  }

  test("holtForecast extrapolates an exact linear series") {
    import spark.implicits._
    // y_d = 100 + 10·d for 28 consecutive days: Holt's recurrence is
    // EXACT on a line for any (α, β) given the l₁=y₁, b₁=y₂−y₁ init —
    // level_T = y_T, trend_T = slope, forecast_{T+h} = y_T + 10h
    val rows = for {
      d <- 0 until 28
      i <- 0 until (100 + 10 * d)
    } yield (d.toLong * 1000 + i,
      java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
      i.toLong, "view", 1.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ops.Analytics.holtForecast(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 7)
    // e12 weights introduce ≤ W·5e-13 relative rounding — at e3 display
    // precision the line must be EXACT
    val last = 100L + 10L * 27L // y at the newest day = 370
    out.foreach { case (h, level, trend, fc) =>
      assert(math.abs(level - last * 1000L) <= 1, (h, level))
      assert(math.abs(trend - 10000L) <= 1, (h, trend))
      assert(math.abs(fc - (last + 10 * h) * 1000L) <= 2, (h, fc))
    }
  }

  test("holtForecast refuses a gapped or short series (NULL, not a biased number)") {
    import spark.implicits._
    def series(days: Seq[Int]) = days.flatMap { d =>
      (0 until 100).map(i => (d.toLong * 1000 + i,
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
        i.toLong, "view", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // one missing day inside the 28-day window: every output NULL —
    // before the calendar-age guard this silently shifted older days
    // one weight younger and emitted a biased forecast
    val gapped = graft.ops.Analytics.holtForecast(
      series((0 until 28).filterNot(_ == 13))).collect()
    assert(gapped.length == 7 &&
      gapped.forall(_.isNullAt(gapped.head.fieldIndex("forecast_e3"))))
    // fewer than 28 days total: NULL too
    val short = graft.ops.Analytics.holtForecast(series(0 until 10)).collect()
    assert(short.length == 7 &&
      short.forall(_.isNullAt(short.head.fieldIndex("level_e3"))))
    // the exact 28-day run still forecasts (constant series → itself)
    val full = graft.ops.Analytics.holtForecast(series(0 until 28)).collect()
    assert(full.length == 7 && full.forall(r =>
      math.abs(r.getLong(r.fieldIndex("forecast_e3")) - 100000L) <= 2))
  }

  test("holt weight constants conserve mass: level weights sum to 1, trend to 0") {
    val ws = graft.ops.Analytics.holtWeightsE12
    assert(ws.length == graft.ops.Analytics.HoltWindow)
    // a constant series must forecast itself: Σwl = 1, Σwb = 0
    assert(math.abs(ws.map(_._2).sum - 1000000000000L) <= ws.length)
    assert(math.abs(ws.map(_._3).sum) <= ws.length)
  }

  test("holtWinters reproduces a pure weekly season exactly (zero trend)") {
    import spark.implicits._
    // y_d = 100 + saw(d mod 7), Σsaw = 0: the textbook init lands the
    // recurrence on its fixed point (l = 100, b = 0, s = saw), so every
    // forecast must equal the series continued — exactly, at e3
    val saw = Array(3, -2, 5, -4, 1, -1, -2) // sums to 0
    val rows = for {
      d <- 0 until 28
      i <- 0 until (100 + saw(d % 7))
    } yield (d.toLong * 1000 + i,
      java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
      i.toLong, "view", 1.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ops.Analytics.holtWintersForecast(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.length == 7)
    out.foreach { case (h, level, trend, season, fc) =>
      // day 28 has phase 27 % 7 = 6; horizon h lands on phase (27+h) % 7
      val expect = (100L + saw(((27 + h) % 7).toInt)) * 1000L
      assert(math.abs(level - 100000L) <= 1, (h, level))
      assert(math.abs(trend) <= 1, (h, trend))
      assert(math.abs(season - (expect - 100000L)) <= 2, (h, season))
      assert(math.abs(fc - expect) <= 2, (h, fc))
    }
  }

  test("holtWinters refuses gapped/short series and conserves weight mass") {
    import spark.implicits._
    val ws = graft.ops.Analytics.holtWintersWeightsE12
    assert(ws.length ==
      graft.ops.Analytics.HwPeriod * graft.ops.Analytics.HwWindow)
    for (h <- 1 to graft.ops.Analytics.HwPeriod) {
      val rows = ws.filter(_._1 == h)
      // constant series forecasts itself: Σwl = 1, Σwb = 0, Σws = 0
      assert(math.abs(rows.map(_._3).sum - 1000000000000L) <= rows.length, h)
      assert(math.abs(rows.map(_._4).sum) <= rows.length, h)
      assert(math.abs(rows.map(_._5).sum) <= rows.length, h)
    }
    def series(days: Seq[Int]) = days.flatMap { d =>
      (0 until 100).map(i => (d.toLong * 1000 + i,
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
        i.toLong, "view", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val gapped = graft.ops.Analytics.holtWintersForecast(
      series((0 until 28).filterNot(_ == 9))).collect()
    assert(gapped.length == 7 &&
      gapped.forall(_.isNullAt(gapped.head.fieldIndex("forecast_e3"))))
  }
}

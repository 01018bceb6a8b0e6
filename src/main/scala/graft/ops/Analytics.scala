package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The reference's query plane (SURVEY.md §2.5–2.6, §2.10-W2), re-anchored
  * onto the driver's `events` table
  * (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
  * value DOUBLE, props STRING-JSON).
  *
  * Time predicates anchor to literals inside the data range
  * (2024-01-01 → 2024-01-30) instead of current_timestamp() so results are
  * deterministic for the DuckDB oracle (SURVEY §7.2). At scale the same
  * predicates become parquet row-group min/max pruning + partition pruning
  * when the sink is date-partitioned.
  */
object Analytics {

  /** Schema-adaptive events reader. The testdata `ts` column has drifted
    * across environments — parquet TIMESTAMP(NANOS) in rounds ≤7, parquet
    * `timestamp[us]` (isAdjustedToUTC=false) since round 8 — and a reader
    * hard-wired to either shape silently breaks every downstream query
    * when the other shows up (the round-8 red round). So the table is read
    * through [[Tables]], which resolves the file's schema once per
    * (session, file listing, parquet confs) with Spark's own inference and
    * supplies it to every later read, and `ts` is normalized from the
    * RESOLVED type to TimestampType with micros-since-epoch-UTC semantics,
    * which under the UTC session the whole repo runs in is value-identical
    * to DuckDB's `epoch_us(ts)`. The branch is decided by the resolved
    * schema, so it is fixed until the file or the session's parquet confs
    * change — and then resolved again, never stale:
    *
    *  - LongType — TIMESTAMP(NANOS) read via the session conf
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (a SQLConf the parquet
    *    schema converter reads, not a per-read option; entry points set
    *    it at session build — a LIBRARY function silently flipping session
    *    state mid-query would surprise co-resident workloads, round-5
    *    review). Convert with integer division: `ts / 1000` through
    *    double would lose precision at 1.7e18.
    *  - TimestampNTZType — `timestamp[us]` under the Spark 4 default
    *    `spark.sql.parquet.inferTimestampNTZ.enabled=true`. Cast to
    *    TimestampType (identity on the stored micros under the UTC
    *    session).
    *  - TimestampType — same file read with inferTimestampNTZ disabled
    *    (what our entry points now set): already the target type, no
    *    conversion node in the plan at all, and time predicates push to
    *    the parquet scan natively.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsFrom(spark, sfDir, None)

  /** Time-bounded events scan with the predicate applied to the RAW column
    * at its storage type — a filter on a converted expression cannot reach
    * the parquet reader, but a literal of the scan's own type becomes a
    * pushed filter with row-group min/max pruning. At 100 TB (where the
    * sink is additionally date-partitioned) this is the difference between
    * scanning an hour and scanning the table.
    */
  def eventsSince(spark: SparkSession, sfDir: String, sinceIso: String): DataFrame =
    eventsFrom(spark, sfDir, Some(java.time.Instant.parse(sinceIso)))

  /** The one `ts` match behind [[events]] and [[eventsSince]]: per resolved
    * storage type, the literal a lower bound takes at that type (so it
    * pushes to the scan) and the conversion to TimestampType applied
    * after the filter.
    */
  private def eventsFrom(
      spark: SparkSession, sfDir: String, since: Option[java.time.Instant]): DataFrame = {
    val raw = Tables.read(spark, s"$sfDir/events.parquet")
    val (bound, normalize): (java.time.Instant => Any, DataFrame => DataFrame) =
      raw.schema("ts").dataType match {
        case LongType => // raw nanos: compare nanos, then convert
          (i => i.getEpochSecond * 1000000000L,
            _.withColumn("ts", expr("timestamp_micros(ts div 1000)")))
        case TimestampNTZType => // NTZ literal pushes; cast after the filter
          (i => java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC),
            _.withColumn("ts", col("ts").cast(TimestampType)))
        case TimestampType => // native timestamp literal pushes as-is
          (i => i, identity)
        case other => throw new IllegalStateException(
          s"events.ts: unsupported parquet-inferred type $other " +
            "(expected LongType via nanosAsLong, TimestampNTZType, or TimestampType)")
      }
    normalize(since.fold(raw)(i => raw.filter(col("ts") >= lit(bound(i)))))
  }

  /** F4-analog: "last hour" → last day of the dataset. */
  val recentDay: Column = col("ts") >= lit("2024-01-30 00:00:00").cast("timestamp")

  /** F5-analog: "last 24 h" → last half of the dataset. */
  val recentHalf: Column = col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp")

  /** A1 (README.md:186-195): event summary — count/avg/max per type over a
    * recent window, ordered by count. One shuffle (partial+final hash agg);
    * the time filter pushes to the parquet scan.
    */
  def eventSummary(df: DataFrame): DataFrame =
    df.filter(recentDay)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        // exact decimal sum / count: independent of partial-agg merge order
        round(sum(col("value").cast("decimal(12,2)")).cast("double") /
          count(lit(1)), 4).as("avg_value"),
        unix_micros(max(col("ts"))).as("latest_event_us"))
      .transform(Par.sortSmall(desc("event_count"), col("event_type")))

  /** A2 (README.md:197-205): data-quality histogram. The testdata events
    * table has no stored score, so the score is derived inline with the
    * reference's four-condition formula (user_id/message/value/timestamp →
    * user_id/props/value/ts here).
    */
  def qualityHistogram(df: DataFrame): DataFrame =
    df.filter(recentHalf)
      .withColumn("data_quality_score", derivedScore.cast("long"))
      .groupBy(col("data_quality_score"))
      .agg(
        count(lit(1)).as("record_count"),
        round(avg(length(col("props"))), 4).as("avg_message_length"))
      .transform(Par.sortSmall(desc("data_quality_score")))

  /** The §2.3-P9 scoring formula applied to the events table's columns. */
  val derivedScore: Column = {
    val uid = col("user_id").cast("string")
    EventPipeline.qualityScore(uid, col("props"), col("value"), col("ts"))
  }

  /** A3 (Streamingdag.py:424-429): verification count — equality filter +
    * time range, global count.
    */
  def verificationCount(df: DataFrame): DataFrame =
    df.filter(col("event_type") === "view" && recentDay)
      .agg(count(lit(1)).as("row_count"))

  /** A4 (Streamingdag.py:440-448): health check — total, distinct users,
    * distinct types, latest timestamp. Exact distincts here (oracle-able);
    * see [[healthCheckApprox]] for the 100 TB variant.
    */
  def healthCheck(df: DataFrame): DataFrame =
    df.filter(recentHalf)
      .agg(
        count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("unique_users"),
        countDistinct(col("event_type")).as("unique_event_types"),
        unix_micros(max(col("ts"))).as("latest_event_us"))

  /** A4 at scale: HLL-sketch distincts — one pass, no expand, bounded
    * memory regardless of cardinality. Not oracle-comparable (sketch
    * estimates differ across engines); benchmarked instead.
    */
  def healthCheckApprox(df: DataFrame): DataFrame =
    df.filter(recentHalf)
      .agg(
        count(lit(1)).as("total_events"),
        approx_count_distinct(col("user_id")).as("unique_users"),
        approx_count_distinct(col("event_type")).as("unique_event_types"),
        unix_micros(max(col("ts"))).as("latest_event_us"))

  /** The ORACLE-PAIRABLE form of [[healthCheckApprox]]: raw HLL
    * estimates can never hash-match across engines (Spark HLL++ vs
    * DuckDB's sketch are different implementations), so this audit
    * emits what CAN match exactly — the exact distincts plus a boolean
    * verdict that each engine's OWN sketch landed within `envelopePct`
    * of its own exact count. Both engines assert the same invariant
    * independently; agreeing (exact, true, true) rows are a real
    * bounded-error correctness check, not a rows-only count. The
    * production query stays [[healthCheckApprox]] (sketch only, no
    * exact-distinct expand); this form is the accuracy AUDIT a sketch
    * deployment runs on a sample before trusting the estimates.
    *
    * The Spark sketch is pinned to rsd = 0.015 so the 5% envelope is a
    * ≥ 3.3σ bound the sketch actually guarantees — at Spark's default
    * rsd (0.05) the envelope is a ~1σ coin-flip that can legitimately
    * fail on another dataset while DuckDB's higher-precision sketch
    * stays inside, hard-failing the digit-exact pairing spuriously.
    * DuckDB's HLL error is far below 5%, so its side is many-σ too.
    */
  def healthCheckApproxEnvelope(
      df: DataFrame, envelopePct: Int = 5): DataFrame =
    df.filter(recentHalf)
      .agg(
        count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("unique_users_exact"),
        countDistinct(col("event_type")).as("unique_event_types_exact"),
        approx_count_distinct(col("user_id"), 0.015).as("users_est"),
        approx_count_distinct(col("event_type"), 0.015).as("types_est"),
        unix_micros(max(col("ts"))).as("latest_event_us"))
      .select(col("total_events"), col("unique_users_exact"),
        col("unique_event_types_exact"), col("latest_event_us"),
        (abs(col("users_est") - col("unique_users_exact")) * 100 <=
          lit(envelopePct.toLong) * col("unique_users_exact"))
          .as("users_within_env"),
        (abs(col("types_est") - col("unique_event_types_exact")) * 100 <=
          lit(envelopePct.toLong) * col("unique_event_types_exact"))
          .as("types_within_env"))

  /** A5 (web-application.py:282-283): frequency count per event type. */
  def typeCounts(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .transform(Par.sortSmall(desc("n"), col("event_type")))

  /** A6 (web-application.py:288-290): events per hour-of-day. */
  def hourlyCounts(df: DataFrame): DataFrame =
    df.withColumn("hour_of_day", hour(col("ts")).cast("long"))
      .groupBy(col("hour_of_day"))
      .agg(count(lit(1)).as("n"))
      .transform(Par.sortSmall(col("hour_of_day")))

  /** Hourly volume anomaly score — the monitoring readout a pipeline
    * operator watches: per (event_type, hour) count z-scored against the
    * trailing `trailing` observed hours (current hour excluded). A
    * traffic spike or drought shows as |z| ≥ 3 (`is_anomaly`).
    *
    * Exactness across engines, by construction: the trailing moment sums
    * (n, Σc, Σc²) are INTEGER window aggregates widened to DECIMAL(38,0)
    * (c² survives petabyte hourly counts); variance = (n·Σc² − (Σc)²)/n²
    * closes with exact integer numerators, one double division, and a
    * correctly-rounded sqrt — the same no-pow/no-ln discipline as
    * [[graft.ops.TextAnalysis.sourceSimilarity]], so the DuckDB oracle
    * matches bit-for-bit before the e4 rounding.
    *
    * Shape at 100 TB: the corpus collapses FIRST to the (type, hour)
    * table — one partial+final hash aggregate; the trailing windows then
    * run on that dimension-sized frame (a year of hours × types is
    * ~10⁵ rows), so the per-type window partition is trivially small.
    * Scoring never touches raw events twice.
    */
  def hourlyAnomalies(
      df: DataFrame, trailing: Int = 24, minObs: Int = 12): DataFrame = {
    require(trailing > 0 && minObs > 0 && minObs <= trailing,
      "need 0 < minObs <= trailing")
    import org.apache.spark.sql.expressions.Window
    val hourly = df
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    val tw = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-trailing, -1)
    hourly
      .select(col("event_type"), unix_micros(col("hour")).as("hour_us"),
        col("c"),
        count(col("c")).over(tw).as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0))")).over(tw).as("s1"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).over(tw).as("s2"))
      .filter(col("n") >= minObs)
      .withColumn("var_num", expr("n * s2 - s1 * s1"))
      .filter(col("var_num") > 0)
      .withColumn("z_e4",
        expr("""CAST(round(
          (CAST(c * n - s1 AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt(CAST(var_num AS DOUBLE) / CAST(n * n AS DOUBLE))
          * 10000, 0) AS BIGINT)"""))
      .withColumn("is_anomaly", abs(col("z_e4")) >= 30000L)
      .select(col("event_type"), col("hour_us"), col("c"), col("n"),
        col("z_e4"), col("is_anomaly"))
      .transform(Par.sortSmall(col("event_type"), col("hour_us")))
  }

  /** A7+A8+A9 (web-application.py:309-322): dashboard metrics — total
    * count, recent count, global mean — in one pass (conditional agg
    * instead of three scans).
    */
  def dashboardMetrics(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("total_events"),
      sum(when(recentDay, 1L).otherwise(0L)).as("recent_events"),
      round(sum(col("value").cast("decimal(12,2)")).cast("double") /
        count(lit(1)), 4).as("avg_value"))

  /** O3+O4 (web-application.py:263-265, :296): most recent events, top-k.
    * Catalyst plans this as TakeOrderedAndProject — per-partition top-k,
    * no global sort, no full shuffle.
    */
  def recentEvents(df: DataFrame, k: Int = 100): DataFrame =
    df.select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .orderBy(desc("ts_us"), col("event_id"))
      .limit(k)

  /** X1 (Streamingdag.py:172): JSON field extraction from the props
    * payload — from_json against a declared schema (never inference).
    */
  def propsExtract(df: DataFrame): DataFrame =
    df.select(
        col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k"))
      .orderBy(col("event_id"))

  /** W2 batch-twin: tumbling event-time windows (60 s in the reference,
    * 1 h here so the oracle is a date_trunc GROUP BY). The window struct's
    * start is epoch-aligned — identical to date_trunc('hour') for hour
    * windows.
    */
  def tumblingCounts(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .transform(Par.sortSmall(col("window_start_us"), col("event_type")))

  /** W2 sliding variant: 1 h windows sliding every 30 min — each event
    * lands in two windows. Oracle form: epoch/1800 grid arithmetic.
    */
  def slidingCounts(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"), col("n"))
      .transform(Par.sortSmall(col("window_start_us")))

  /** Time-series gap fill (absent in reference — the resample step a
    * metrics/feature pipeline runs before model input): a DENSE hourly
    * spine per event_type across that type's observed [min, max] hour
    * range — empty hours appear with n = 0 and the hourly value sum
    * forward-filled from the last observed hour (the first spine hour
    * always has data, so the fill never reads an empty history).
    *
    * Scale shape: one hash aggregate to hourly grain, a tiny per-type
    * bounds aggregate, and a spine EXPLODE that is (types × hours) —
    * time ranges are bounded, so the spine is metadata-sized next to the
    * events scan no matter the corpus size. The forward fill is one
    * running window per type over the already-aggregated series, never
    * over raw events. Sum runs in DECIMAL (exact) and converts once.
    */
  def gapFillHourly(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000L
    val agg = df
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sv"))
    val spine = agg
      .groupBy(col("event_type"))
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hour_us"))
    spine.join(agg, Seq("event_type", "hour_us"), "left")
      .select(
        col("event_type"), col("hour_us"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("sv"), ignoreNulls = true).over(
          Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("filled_value"))
      .transform(Par.sortSmall(col("event_type"), col("hour_us")))
  }

  /** W4 stretch (absent in reference — SURVEY §2.10): session windows.
    * Events within `gap` of each other merge into one session per user;
    * works identically in batch and (with a watermark) streaming. Oracle
    * twin: islands-and-gaps via LAG + running SUM.
    */
  def sessionCounts(df: DataFrame, gap: String = "5 minutes"): DataFrame =
    df.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))

  /** §2.8 extension (absent in reference): set operations. Users seen in
    * both purchase and error events, minus signup-only users — exercises
    * INTERSECT/EXCEPT planning (left-semi/anti joins under AQE).
    */
  def setOps(df: DataFrame): DataFrame = {
    val purchasers = df.filter(col("event_type") === "purchase")
      .select(col("user_id"))
    val erroring = df.filter(col("event_type") === "error")
      .select(col("user_id"))
    purchasers.intersect(erroring).orderBy(col("user_id"))
  }

  /** Multiset (ALL) variants of the set operators — `intersect`/`except`
    * dedup; `intersectAll`/`exceptAll` keep multiplicities, which is what
    * duplicate-sensitive reconciliation (e.g. "how many MORE purchases
    * than errors per type") actually needs. Both branches aggregate to
    * (op, event_type, n) so the result stays compact at any scale —
    * ALL-op row counts are otherwise input-sized.
    */
  def multisetOps(df: DataFrame): DataFrame = {
    val early = df.filter(col("user_id") < 75).select(col("event_type"))
    val late = df.filter(col("user_id") >= 75).select(col("event_type"))
    def counted(op: String, d: DataFrame) =
      d.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .select(lit(op).as("op"), col("event_type"), col("n"))
    counted("except_all", early.exceptAll(late))
      .unionByName(counted("intersect_all", early.intersectAll(late)))
      .transform(Par.sortSmall(col("op"), col("event_type")))
  }

  /** §2.5 absent-in-reference aggregates, provided as engine surface:
    * dispersion + exact median per event type.
    */
  def valueStats(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(stddev_samp(col("value")), 4).as("stddev_value"),
        round(median(col("value")), 4).as("median_value"),
        round(min(col("value")), 4).as("min_value"),
        round(max(col("value")), 4).as("max_value"))
      .transform(Par.sortSmall(col("event_type")))

  /** Exact percentiles per type (linear interpolation — same formula as
    * DuckDB's quantile_cont; the engines' interpolations differ at the
    * ulp level, so agreement is at the rounded 4 decimals, not
    * bit-for-bit). Exact percentile is a sort-based aggregate: fine at
    * per-group cardinalities; at 100 TB switch to approx_percentile
    * (t-digest sketch, mergeable, one pass) — which is deliberately NOT
    * the verified query because sketches are engine-specific.
    */
  def valuePercentiles(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .transform(Par.sortSmall(col("event_type")))

  /** Multiple DISTINCT aggregates in one pass — Catalyst plans this with
    * an Expand (one input row fans into one row per distinct clause),
    * partial-deduped before the final shuffle; at scale this is the
    * planner shape to watch (row amplification = #distinct clauses).
    */
  def distinctProfile(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n"))
      .transform(Par.sortSmall(col("event_type")))

  /** Inter-event gaps per user via LAG — the time-series delta pattern:
    * one hash shuffle on user_id, per-partition sort, narrow everywhere
    * else. Deterministic tie order via (ts, event_id).
    */
  /** Data-contract validation — the batch twin of the pipeline's inline
    * validators (§2.3 P2/P5): evaluate each named invariant over the
    * sink table and report how many rows violate it, plus the one
    * non-row-local contract (event_id uniqueness) as the number of ids
    * holding more than one row. A monitoring job alerts when any
    * n_violations leaves zero; the report shape stays rule-count-sized
    * no matter the table.
    *
    * Shape at 100 TB: the row-local rules share ONE scan (conditional
    * aggregation — one partial+final aggregate, no per-rule passes);
    * uniqueness is one hash aggregate on the id. Unioned into the
    * rule-sized report frame.
    */
  def dataContract(df: DataFrame): DataFrame = {
    val rowRules: Seq[(String, Column)] = Seq(
      "event_id_not_null" -> col("event_id").isNull,
      "user_id_not_null" -> col("user_id").isNull,
      "ts_in_sensible_range" ->
        !col("ts").between(
          lit("2000-01-01 00:00:00").cast("timestamp"),
          lit("2100-01-01 00:00:00").cast("timestamp")),
      "value_non_negative" -> (col("value") < 0),
      "event_type_in_enum" ->
        !col("event_type").isInCollection(
          Seq("view", "click", "purchase", "signup", "error")))
    // coalesce: sum() over an EMPTY table is NULL — the contract report
    // must say 0 violations on empty input, not NULL (same bug class as
    // curationFunnel's zero-group sums)
    val rowReport = df.agg(
      count(lit(1)).as("_n"),
      rowRules.map { case (name, bad) =>
        coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as(name)
      }: _*)
    val long = rowRules.map { case (name, _) =>
      rowReport.select(lit(name).as("rule"), col(name).as("n_violations"))
    }.reduce(_.unionAll(_))
    val dupIds = df.groupBy(col("event_id"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("event_id_unique").as("rule"), col("n_violations"))
    long.unionAll(dupIds).orderBy(col("rule"))
  }

  /** Shuffle-key skew diagnostics — the operational readout behind the
    * salting/AQE machinery in [[graft.ops.Skew]]: for each candidate
    * shuffle dimension, the key cardinality, the heaviest key's e4
    * share, and the Gini coefficient of the key frequency distribution
    * (0 = uniform, →1 = one key owns the table). A dimension whose
    * top_share or gini spikes is the one that needs salting or an AQE
    * skew split BEFORE the job falls over at scale.
    *
    * Gini is exact integer arithmetic end to end: with counts c₁≤…≤cₙ
    * (ties broken by key for a deterministic rank),
    * G = Σ(2i−n−1)·cᵢ / (n·Σc) — the numerator and denominator are
    * exact BIGINTs and only the final e4 quotient divides.
    *
    * Shape at 100 TB: one partial+final count per dimension collapses
    * the stream to its key table; ranking and the Gini sums then run on
    * key-cardinality frames. Dimensions are evaluated independently and
    * unioned — each is one aggregate plus dimension-sized windows.
    */
  def keySkew(
      df: DataFrame,
      dims: Seq[String] = Seq("user_id", "event_type")): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension")
    import org.apache.spark.sql.expressions.Window
    dims.map { dim =>
      val counts = df.groupBy(col(dim).cast("string").as("key"))
        .agg(count(lit(1)).as("c"))
      val ord = Window.orderBy(col("c"), col("key"))
      counts
        .withColumn("i", row_number().over(ord).cast("long"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("top_count"),
          sum(expr("(2 * i - 1) * c")).as("gini_num_part"))
        .select(
          lit(dim).as("dim"), col("n_keys"), col("n_rows"),
          expr("(top_count * 10000) div n_rows").as("top_share_e4"),
          // Σ(2i−n−1)c = Σ(2i−1)c − n·Σc, all BIGINT
          expr("((gini_num_part - n_keys * n_rows) * 10000) div (n_keys * n_rows)")
            .as("gini_e4"))
    }.reduce(_.unionAll(_)).orderBy(col("dim"))
  }

  /** Trailing active-user counts (DAU/WAU/MAU generalized): for every
    * observed UTC day and window length w, the distinct users active in
    * the trailing w days `(day−w, day]` — the dashboard staple next to
    * [[retentionCohorts]].
    *
    * Shape at 100 TB: the stream collapses FIRST to the distinct
    * (user, day) table (one hash aggregate — user-days are orders of
    * magnitude smaller than events); each user-day then contributes to
    * at most Σw report days via a row-local `sequence` explode (≤38
    * rows per user-day for 1/7/30), and the per-(day, window) distinct
    * runs on that — an equi-join shape, never a range join of the
    * stream against a day spine. The exact distinct is the oracle
    * contract; `approx_count_distinct` is the documented at-scale swap
    * when user-days themselves are huge.
    */
  def activeUsers(
      df: DataFrame, windows: Seq[Int] = Seq(1, 7, 30)): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ > 0), "windows must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val userDays = df
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val observed = userDays.select(col("day").as("report_day")).distinct()
    val winDf = windows.map(_.toLong).toDF("window_days")
    userDays.crossJoin(broadcast(winDf))
      .select(col("user_id"), col("window_days"),
        explode(expr("sequence(day, date_add(day, CAST(window_days AS INT) - 1))"))
          .as("report_day"))
      .join(broadcast(observed), Seq("report_day"))
      .groupBy(col("report_day"), col("window_days"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(
        unix_micros(col("report_day").cast("timestamp")).as("day_us"),
        col("window_days"), col("n_active"))
      .transform(Par.sortSmall(col("day_us"), col("window_days")))
  }

  /** Per-user event-type transition matrix (first-order Markov counts):
    * for each consecutive (prev → next) pair in a user's (ts, event_id)
    * ordered stream, the transition count and the e4 row-conditional
    * probability — sequence statistics for next-event models and the
    * behavioral readout behind "what do users do after X".
    *
    * Shape at 100 TB: ONE user-keyed window (the same hash partitioning
    * every per-user operator here shares) produces the lagged pairs;
    * the transition aggregate is partial+final onto a type² table
    * (dozens of rows), and the row-probability normalization is a
    * window over THAT — dimension-sized by construction.
    */
  def eventTransitions(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    df.withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_e4",
        expr("(n * 10000) div sum(n) OVER (PARTITION BY from_type)"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_e4"))
      .transform(Par.sortSmall(col("from_type"), col("to_type")))
  }

  /** TRANSITION ENTROPY per source state — how PREDICTABLE is the next
    * event after each type? The information-theoretic readout over the
    * [[eventTransitions]] matrix: H(from) = −Σ p·ln p in micro-nats,
    * plus the ln(k)-normalized e4 form (1.0 = uniformly unpredictable,
    * 0 = deterministic). Per-cell terms round at e6 then integer-sum
    * (the log-prob discipline), so the readout pairs digit-exact. The
    * number a funnel designer reads before trusting a next-step model.
    *
    * Shape at 100 TB: the transition matrix is a |types|²-row frame off
    * one lag window; everything here is arithmetic on that frame.
    */
  def transitionEntropy(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    df.withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(
        Window.partitionBy(col("from_type"))))
      .withColumn("term_e6",
        round(-(col("n").cast("double") / col("tot")) *
          log(col("n").cast("double") / col("tot")) * 1000000, 0)
          .cast("long"))
      .groupBy(col("from_type"))
      .agg(
        count(lit(1)).as("n_next_types"),
        max(col("tot")).as("n_transitions"),
        sum(col("term_e6")).as("entropy_e6"))
      .withColumn("norm_entropy_e4",
        expr("""CASE WHEN n_next_types > 1 THEN
          |  cast(round(entropy_e6 / (ln(cast(n_next_types as double))
          |    * 1000000.0) * 10000) as bigint)
          |ELSE 0 END""".stripMargin))
      .transform(Par.sortSmall(col("from_type")))
  }

  /** DuckDB twin of [[transitionEntropy]]. */
  def transitionEntropyOracleSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS from_type
      |  FROM events),
      |m AS (
      |  SELECT from_type, event_type AS to_type, count(*)::BIGINT AS n
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |t AS (
      |  SELECT from_type, n,
      |    sum(n) OVER (PARTITION BY from_type)::BIGINT AS tot
      |  FROM m),
      |terms AS (
      |  SELECT from_type, tot,
      |    round(-(n::DOUBLE / tot) * ln(n::DOUBLE / tot) * 1000000,
      |      0)::BIGINT AS term_e6
      |  FROM t),
      |h AS (
      |  SELECT from_type, count(*)::BIGINT AS n_next_types,
      |    max(tot)::BIGINT AS n_transitions,
      |    sum(term_e6)::BIGINT AS entropy_e6
      |  FROM terms GROUP BY 1)
      |SELECT from_type, n_next_types, n_transitions, entropy_e6,
      |  CASE WHEN n_next_types > 1 THEN
      |    CAST(round(entropy_e6 / (ln(n_next_types::DOUBLE) * 1000000.0)
      |      * 10000) AS BIGINT)
      |  ELSE 0 END AS norm_entropy_e4
      |FROM h ORDER BY from_type""".stripMargin

  def eventGaps(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    df.withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        // INTEGER division of the exact BIGINT sum: at ~1e10 µs the
        // quotient's 4th decimal is at the double's ulp limit, where
        // engines' round() implementations legitimately disagree — the
        // floor-div is exact arithmetic end to end
        expr("sum(gap_us) div count(1)").as("avg_gap_us"))
      .orderBy(col("user_id"))
  }

  /** Batch sessionization — the gaps-and-islands pattern: an event opens
    * a new session when it is the user's first or arrives ≥ `gapUs` after
    * the previous one; the running sum of the new-session flags numbers
    * the sessions (1-based). Both window frames share one
    * (user_id)-partitioned sort, and the final per-session aggregate
    * needs NO further exchange — hash-partitioning on user_id already
    * clusters the (user_id, session_idx) group keys. The streaming twin
    * is `session_window` ([[sessionWindows]]); this is the replayable
    * batch formulation over the sink table.
    */
  def userSessions(df: DataFrame, gapUs: Long = 21600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) < gapUs, 0L)
          .otherwise(1L)) // NULL lag (first event) falls to otherwise → 1
      .withColumn("session_idx", sum(col("new_session")).over(wRun))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Session-level summary over [[userSessions]] — the dashboard row
    * next to the per-session table: session count, distinct sessioned
    * users, exact-integer mean events/duration per session (floor
    * division of exact sums — the [[eventGaps]] discipline), the longest
    * session, and the single-event-session share. One extra aggregate
    * over the session table (≪ events); everything upstream reuses the
    * sessionization's one user-keyed exchange.
    */
  def sessionStats(df: DataFrame, gapUs: Long = 21600000000L): DataFrame =
    userSessions(df, gapUs)
      .withColumn("dur_us", col("session_end_us") - col("session_start_us"))
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        expr("sum(n_events) div count(1)").as("avg_events_per_session"),
        expr("sum(dur_us) div count(1)").as("avg_duration_us"),
        max(col("dur_us")).as("max_duration_us"),
        expr("(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000) div count(1)")
          .as("single_event_share_e4"))

  /** Pivot: hour-of-day × event_type value sums (wide layout). Explicit
    * pivot values keep the schema static — never data-driven at plan
    * time (a full-scan hazard at 100 TB).
    */
  def hourlyTypePivot(df: DataFrame): DataFrame =
    df.withColumn("hour_of_day", hour(col("ts")).cast("long"))
      .groupBy(col("hour_of_day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double"))
      .transform(Par.sortSmall(col("hour_of_day")))

  /** collect_set surface: the distinct event types seen per user, sorted
    * for determinism and joined to a CSV string — the driver's pandas
    * compare can't hash ARRAY cells, and the flattened form is
    * hash-identical across engines.
    */
  def userEventSets(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("event_types"))
      .orderBy(col("user_id"))

  /** DISTINCT ON-style: each user's first event (by ts, event_id). A
    * min(struct(...)) aggregate rather than a rank-filter window: one
    * partial+final aggregate, no per-group sort of the full data.
    */
  def firstEventPerUser(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type"))).as("f"))
      .select(
        col("user_id"),
        unix_micros(col("f.ts")).as("first_ts_us"),
        col("f.event_id").as("first_event_id"),
        col("f.event_type").as("first_event_type"))
      .orderBy(col("user_id"))

  /** Ordered step funnel — the event-analytics staple the reference's
    * dashboard plane gestures at: how many users performed `steps` IN
    * ORDER (each step strictly after the user's first completion of the
    * previous one, the min-after semantics every funnel tool uses).
    * Emits one row per step: users reaching it, conversion vs the
    * previous step, and vs the funnel entry (e4 integers).
    *
    * Shape at 100 TB: stage i is a user-keyed equi-join between the
    * (type-pruned) event stream and the (user, t_reach) frontier — the
    * frontier only shrinks, every join and aggregate hashes on user_id
    * so Catalyst reuses one partitioning across all k−1 stages, and the
    * per-type event scans carry a pushed event_type filter. The final
    * assembly is k one-row aggregates unioned — driver-sized by
    * construction. No windows over the raw stream, no per-user arrays.
    */
  def stepFunnel(
      df: DataFrame,
      steps: Seq[String] = Seq("signup", "view", "purchase"),
      stepWithinUs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(stepWithinUs.forall(_ > 0), "step window must be positive")
    val ev = df.select(col("user_id"), col("event_type"), col("ts"))
    // optional per-step deadline (real funnels are time-bound: "purchase
    // within an hour of the view"): step i counts only in
    // (t_prev, t_prev + stepWithinUs]. Semantics are FIRST-TOUCH: the
    // chain anchors on each user's earliest completion of every step,
    // so a user whose first signup "expires" is not re-anchored on a
    // later signup (any-sequence funnels need per-user candidate sets —
    // the streaming twin's state — not a single frontier). First-touch
    // is the attribution mode the conversion ratios here describe.
    def inWindow: Column = stepWithinUs match {
      case Some(us) => col("ts") > col("t_reach") &&
        unix_micros(col("ts")) <= unix_micros(col("t_reach")) + us
      case None => col("ts") > col("t_reach")
    }
    val frontiers = steps.tail.scanLeft(
      ev.filter(col("event_type") === steps.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_reach"))) {
      (reached, step) =>
        ev.filter(col("event_type") === step)
          .join(reached, "user_id")
          .filter(inWindow)
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_reach"))
    }
    val counts = frontiers.zip(steps).zipWithIndex.map {
      case ((frontier, step), i) =>
        frontier.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1L).as("step_idx"), lit(step).as("step"),
            col("n_users"))
    }.reduce(_.unionAll(_))
    // conversion ratios over the k-row funnel table (driver-sized)
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("step_idx"))
    counts
      .withColumn("conv_vs_prev_e4",
        when(lag(col("n_users"), 1).over(ord) > 0,
          expr("(n_users * 10000) div lag(n_users, 1) OVER (ORDER BY step_idx)"))
          .otherwise(lit(null).cast("long")))
      .withColumn("conv_vs_first_e4",
        when(first(col("n_users")).over(ord) > 0,
          expr("(n_users * 10000) div first_value(n_users) OVER (ORDER BY step_idx)"))
          .otherwise(lit(null).cast("long")))
      .orderBy(col("step_idx"))
  }

  /** Daily retention cohorts — the other dashboard staple: users
    * cohorted by the UTC day of their first event; for each (cohort day,
    * day offset ≥ 0) the number of distinct cohort users active that
    * day. The classic triangular retention matrix, emitted sparse.
    *
    * Shape at 100 TB: first-touch is one user-keyed aggregate; the join
    * back to the stream is user-keyed (partitioning reused); the matrix
    * aggregate's distinct runs on (cohort, offset, user) — already
    * clustered by the join's partitioning. With a date-partitioned sink
    * (D6), the activity day derives from the partition column and the
    * first-touch frame is the incremental ingest-dedup index shape.
    */
  def retentionCohorts(df: DataFrame): DataFrame = {
    val firstDay = df.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), to_date(col("first_ts")).as("cohort_day"))
    df.select(col("user_id"), to_date(col("ts")).as("active_day"))
      .join(firstDay, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("active_day"), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(
        unix_micros(col("cohort_day").cast("timestamp")).as("cohort_day_us"),
        col("day_offset"), col("n_active"))
      .orderBy(col("cohort_day_us"), col("day_offset"))
  }

  /** §2.8 EXCEPT counterpart to [[setOps]]: users who viewed but never
    * purchased (EXCEPT → left-anti under the hood).
    */
  def viewersWithoutPurchase(df: DataFrame): DataFrame = {
    // last-day restriction keeps the result non-trivial at test densities
    val recent = df.filter(recentDay)
    val viewers = recent.filter(col("event_type") === "view").select(col("user_id"))
    val purchasers = recent.filter(col("event_type") === "purchase").select(col("user_id"))
    viewers.except(purchasers).orderBy(col("user_id"))
  }

  /** Batch twin of the stream-stream interval join
    * ([[graft.stream.Pipeline.viewPurchaseJoin]]): purchases attributed
    * to the same user's views in the preceding `gapMinutes`, aggregated
    * per purchase. Shape at scale: a fact⋈fact equi-join on user_id with
    * a range residual — both sides hash-partition on user_id once, the
    * time bound prunes inside each partition; no broadcast (both sides
    * are the events fact table), which is exactly what the streaming
    * form's state store does incrementally.
    */
  def purchaseAttribution(df: DataFrame, gapMinutes: Int = 60): DataFrame = {
    val p = df.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val v = df.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts").as("v_ts"))
    p.join(v,
        col("user_id") === col("v_user_id") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $gapMinutes MINUTES"))
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(
        count(lit(1)).as("n_views"),
        unix_micros(max(col("v_ts"))).as("last_view_us"))
      .orderBy(col("purchase_id"))
  }

  /** AS-OF join (engine-surface operator Spark lacks natively): each
    * purchase paired with the same user's most recent view AT OR BEFORE
    * it — LEFT semantics (purchases with no prior view keep nulls).
    *
    * Shape: the scalable distributed as-of is NOT a join at all — union
    * both sides with a side marker, ONE hash shuffle on the key, sort
    * (ts, marker) within partitions, and carry the right side forward
    * with a running `last(..., ignoreNulls)` window. Cost is one
    * exchange + one sort regardless of how many right rows precede each
    * left row; the naive interval-join+argmax pays O(matching pairs).
    * Marker ordering (views before purchases at equal ts) gives the
    * ≤ tie semantics, matching DuckDB's `ASOF LEFT JOIN ... ON v.ts <=
    * p.ts` oracle; event_id is the final sort key so equal-timestamp
    * views resolve deterministically (highest event_id wins) instead of
    * by partition order. (ASOF engines leave that tie unspecified — the
    * test corpus has no duplicate (user, ts) view pairs, but OUR pick
    * must not flip between runs.)
    */
  def asofLastView(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast("double").as("v_value"), lit(1).as("is_purchase"))
    val v = df.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("v_value"), lit(0).as("is_purchase"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_purchase"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionByName(v)
      .withColumn("last_view_ts",
        last(when(col("is_purchase") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("last_view_value",
        last(when(col("is_purchase") === 0, col("v_value")), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("last_view_ts")).as("last_view_us"),
        col("last_view_value"))
      .orderBy(col("purchase_id"))
  }

  /** percent_rank / cume_dist (§2.9 extension — the distribution-rank
    * functions the row_number/LAG queries don't cover): each event's
    * value rank within its user's history. Partitioned window — per-user
    * partitions are small and bounded, so the shape scales (a GLOBAL
    * ntile/rank would serialize the fact table; the exact-percentile
    * query covers that need as an aggregate). Unique (value, event_id)
    * ordering leaves no peer groups, so both functions are exact
    * rationals — deterministic to 6 dp on any engine.
    */
  def userValueRanks(df: DataFrame, maxUser: Long = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    df.filter(col("user_id") < maxUser)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Exact dedup (extension §7.4-1): deterministic keeper per key group —
    * min(event_id) — instead of dropDuplicates' arbitrary row.
    */
  def dedupExactEvents(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), col("event_type"))
      .agg(
        min(col("event_id")).as("keep_id"),
        count(lit(1)).as("dup_count"))
      .orderBy(col("user_id"), col("event_type"))

  /** Conversion latency: one summary row — how many viewers ever
    * purchase after their first view, and how long that takes (dyadic
    * p50/p75 so the percentile interpolation is float-exact, plus max).
    * The funnel queries count WHO converts; this measures HOW FAST,
    * which is what an SLA on recommendation freshness actually needs.
    *
    * Shape: first-view collapse (user-keyed aggregate), then an
    * equi-join on user with a one-sided time residual against the
    * purchase fact — the [[purchaseAttribution]] partition discipline —
    * then a min per user and a single summary aggregate. Deltas are
    * integer micros end to end.
    */
  def conversionLatency(df: DataFrame): DataFrame = {
    val firstView = df.filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_view"))
    val purchases = df.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val conv = firstView
      .join(purchases,
        col("user_id") === col("p_user") && col("p_ts") >= col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("p_ts")).as("first_purchase"))
      .select((unix_micros(col("first_purchase"))
        - unix_micros(col("first_view"))).as("delta_us"))
    val stats = conv.agg(
      count(lit(1)).as("n_converted"),
      expr("percentile(delta_us, array(0.5D, 0.75D))").as("ps"),
      max(col("delta_us")).as("max_us"))
    firstView.agg(count(lit(1)).as("n_viewers"))
      .crossJoin(broadcast(stats))
      .select(col("n_viewers"), col("n_converted"),
        expr("CASE WHEN n_viewers = 0 THEN NULL " +
          "ELSE n_converted * 10000 div n_viewers END").as("conversion_e4"),
        floor(element_at(col("ps"), 1)).cast("long").as("p50_us"),
        floor(element_at(col("ps"), 2)).cast("long").as("p75_us"),
        col("max_us"))
  }

  /** Autocorrelation (ACF) of hourly event volume at lags 1..`maxLag` —
    * the seasonality readout (a daily cycle shows as a lag-24 peak) that
    * tells a capacity planner whether yesterday's shape predicts today.
    *
    * Shape: the fact table collapses to the hour dimension once; lagged
    * pairs come from an EQUI-join of that dimension against itself on
    * `hour + k` (a lag × hour frame — still dimension-sized), NOT a
    * row-position lead, so missing hours leave holes instead of silently
    * misaligning the series. Pearson r per lag is exact integer sums +
    * one correctly-rounded sqrt/divide (the [[hourlyAnomalies]] float
    * discipline).
    */
  def volumeAcf(df: DataFrame, maxLag: Int = 24): DataFrame = {
    require(maxLag >= 1, "maxLag must be at least 1")
    // both join sides consume hourly but with different residual filters,
    // which defeats ReuseExchange — a lazy persist of the (tiny) hour
    // dimension keeps the fact scan single-pass
    val hourly = df
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lags = df.sparkSession.range(1, maxLag + 1).select(col("id").as("lag"))
    val pairs = hourly.crossJoin(broadcast(lags))
      .withColumn("target", expr("timestampadd(HOUR, CAST(lag AS INT), hour)"))
      .join(hourly.select(col("hour").as("target"), col("c").as("y")), "target")
      .select(col("lag"), col("c").as("x"), col("y"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n"),
        expr("""CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
               |  THEN NULL
               |  ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
               |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
               |           * CAST(n * syy - sy * sy AS DOUBLE)) * 10000, 0)
               |    AS BIGINT) END""".stripMargin).as("r_e4"))
      .orderBy(col("lag"))
  }

  /** CROSS-CORRELATION (CCF) between two event types' hourly volumes at
    * signed lags — the lead-lag readout [[volumeAcf]] cannot give: a
    * peak at positive lag k means `typeA` activity predicts `typeB`
    * activity k hours later (views lead purchases); the ACF only sees
    * each series against itself. Same exactness discipline as the ACF:
    * hour-equi-joined pairs (holes stay holes — no positional
    * misalignment), exact integer sufficient sums, one
    * correctly-rounded sqrt/divide per lag.
    *
    * Shape: the fact table collapses ONCE to the (hour, type) dimension
    * (persisted — both join sides and both type filters read it); lags
    * are a broadcast spine; everything after is lag-dimension sized.
    */
  def crossCorrelation(
      df: DataFrame,
      typeA: String = "view",
      typeB: String = "purchase",
      maxLag: Int = 6): DataFrame = {
    require(maxLag >= 1, "maxLag must be at least 1")
    val hourly = df
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = hourly.filter(col("event_type") === typeA)
      .select(col("hour"), col("c").as("x"))
    val b = hourly.filter(col("event_type") === typeB)
      .select(col("hour").as("bhour"), col("c").as("y"))
    val lags = df.sparkSession.range(-maxLag, maxLag + 1)
      .select(col("id").as("lag"))
    a.crossJoin(broadcast(lags))
      .withColumn("bhour", expr("timestampadd(HOUR, CAST(lag AS INT), hour)"))
      .join(b, "bhour")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n"),
        expr("""CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
               |  THEN NULL
               |  ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
               |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
               |           * CAST(n * syy - sy * sy AS DOUBLE)) * 10000, 0)
               |    AS BIGINT) END""".stripMargin).as("r_e4"))
      .orderBy(col("lag"))
  }

  /** DuckDB twin of [[crossCorrelation]] — identical hour-equi pairing
    * and integer-sums Pearson per lag.
    */
  def crossCorrelationOracleSql(
      typeA: String = "view",
      typeB: String = "purchase",
      maxLag: Int = 6): String =
    s"""WITH h AS (
       |  SELECT date_trunc('hour', ts) AS hour, event_type,
       |    count(*)::BIGINT AS c
       |  FROM events WHERE event_type IN ('$typeA', '$typeB')
       |  GROUP BY 1, 2),
       |a AS (SELECT hour, c AS x FROM h WHERE event_type = '$typeA'),
       |b AS (SELECT hour AS bhour, c AS y FROM h
       |      WHERE event_type = '$typeB'),
       |lags AS (SELECT range AS lag FROM range(-$maxLag, ${maxLag + 1})),
       |pairs AS (
       |  SELECT lag, x, y
       |  FROM a CROSS JOIN lags
       |  JOIN b ON b.bhour = a.hour + lag * INTERVAL 1 HOUR),
       |g AS (
       |  SELECT lag, count(*)::BIGINT AS n,
       |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
       |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
       |    sum(y * y)::BIGINT AS syy
       |  FROM pairs GROUP BY 1)
       |SELECT lag::BIGINT AS lag, n,
       |  (CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
       |    THEN NULL
       |    ELSE CAST(round((n * sxy - sx * sy)::DOUBLE
       |      / sqrt((n * sxx - sx * sx)::DOUBLE
       |             * (n * syy - sy * sy)::DOUBLE) * 10000, 0) AS BIGINT)
       |  END) AS r_e4
       |FROM g ORDER BY lag""".stripMargin

  /** Event-type affinity matrix: Jaccard overlap of each type pair's
    * USER sets — "do viewers also purchase?" as a number per pair, the
    * product-analytics counterpart of [[graft.ops.Relational.basketPairs]]
    * (co-occurrence by actor instead of by order).
    *
    * Shape: the same single-exchange set trick as the basket miner —
    * collapse to per-user sorted type sets (ONE user exchange; sets are
    * alphabet-bounded), explode pairs row-locally, aggregate onto the
    * type² dimension. Union sizes come from |A∪B| = |A|+|B|−|A∩B| —
    * exact integers, no second pass over users.
    */
  def typeAffinity(df: DataFrame): DataFrame = {
    val sets = df.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts_set"))
    val pairs = sets.select(explode(expr(
      """flatten(transform(ts_set, (x, i) ->
        |  transform(slice(ts_set, i + 2, size(ts_set)), y -> struct(x AS a, y AS b))))"""
        .stripMargin)).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val sizes = sets.select(explode(col("ts_set")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select(col("t").as("type_a"), col("n").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(sizes.select(col("t").as("type_b"), col("n").as("n_b"))),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        expr("n_both * 10000 div (n_a + n_b - n_both)").as("jaccard_e4"))
      .transform(Par.sortSmall(col("type_a"), col("type_b")))
  }

  /** Third-order event sequences (the step past [[eventTransitions]]'
    * first-order Markov pairs): per-user consecutive type TRIPLES with
    * counts and share — the n-gram mining every journey-analysis tool
    * runs. One user-keyed window (two LEADs share it), then an aggregate
    * onto the ≤ |types|³ dimension.
    */
  def eventTrigrams(df: DataFrame, minCount: Long = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    df.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .withColumn("share_e4", expr(
        "n * 10000 div sum(n) over ()"))
      .orderBy(col("t1"), col("t2"), col("t3"))
  }

  /** Incremental materialized-rollup maintenance — the warehouse pattern
    * that makes a 100 TB daily dashboard affordable: instead of
    * re-aggregating history every refresh, keep the (type, day) rollup
    * MATERIALIZED and fold in only the delta since the last cut. Works
    * because count/sum/max are ALGEBRAIC: merging partial states
    * (sum the counts and sums, max the maxes) is exact, so
    *   combine(rollup(< cut), rollup(≥ cut)) ≡ rollup(everything)
    * — which is precisely what the oracle pins: the query computes the
    * two halves separately and merges; DuckDB aggregates the whole
    * table flat. AVG is intentionally derived at read time (sum div
    * count) — averaging averages is the classic incremental-view bug.
    *
    * Shape: two scans prune to disjoint time ranges (pushed-filter
    * twins of F4/F5), each collapses map-side; the merge re-aggregates
    * the day-dimension union. In production the `< cut` branch is a
    * stored table, not a scan — the delta is the only fact-sized work.
    */
  def incrementalRollup(
      df: DataFrame, cutTs: String = "2024-01-16 00:00:00"): DataFrame = {
    val cut = lit(cutTs).cast("timestamp")
    def rollup(part: DataFrame): DataFrame = part
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(10000.0)).cast("long")).as("sum_e4"),
        unix_micros(max(col("ts"))).as("latest_us"))
    rollup(df.filter(col("ts") < cut))
      .unionByName(rollup(df.filter(col("ts") >= cut)))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("sum_e4")).as("sum_e4"),
        max(col("latest_us")).as("latest_us"))
      .select(col("event_type"), unix_micros(col("day")).as("day_us"),
        col("n"), col("sum_e4"),
        expr("sum_e4 div n").as("avg_e4"), col("latest_us"))
      .transform(Par.sortSmall(col("event_type"), col("day_us")))
  }

  /** Population Stability Index — THE production drift metric (credit-
    * scoring heritage, now the default "did my feature distribution
    * move" monitor): per event type, the value distribution of the
    * first half of the timeline (expected) vs the second half (actual)
    * over `nBins` equal-width bins, add-one smoothed.
    *
    * Shape: two corpus collapses share one scan — the global [min, max]
    * (1-row broadcast) and the (type, period, bin) counts — then
    * everything runs on a types × bins dimension frame. PSI per type is
    * the sum of PER-BIN contributions ROUNDED at e4 before summing:
    * per-bin rounding is the determinism contract (the same pattern as
    * [[chiSquare]]'s cells) — each contribution is one ln of an exact
    * rational, which both engines evaluate identically in practice (the
    * PMI/Zipf rows pin the same assumption), and summing already-rounded
    * integers cannot reorder-drift. Conventional read: < 0.10 stable,
    * 0.10–0.25 moderate shift, > 0.25 population change.
    */
  def psiDrift(
      df: DataFrame,
      splitTs: String = "2024-01-16 00:00:00",
      nBins: Int = 16): DataFrame = {
    val mm = df.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = df
      .join(broadcast(mm))
      .select(col("event_type"),
        when(col("ts") < lit(splitTs).cast("timestamp"), lit(0))
          .otherwise(lit(1)).as("period"),
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            floor((col("value") - col("vmin")) * nBins /
              (col("vmax") - col("vmin"))))).as("bin"))
      .groupBy(col("event_type"), col("period"), col("bin"))
      .agg(count(lit(1)).as("c"))
    // dense (type × bin) grid so empty bins still get their smoothed mass
    val grid = binned.select(col("event_type")).distinct()
      .crossJoin(df.sparkSession.range(nBins).select(col("id").as("bin")))
    val wide = grid
      .join(binned.filter(col("period") === 0)
        .select(col("event_type"), col("bin"), col("c").as("c0")),
        Seq("event_type", "bin"), "left")
      .join(binned.filter(col("period") === 1)
        .select(col("event_type"), col("bin"), col("c").as("c1")),
        Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("c0", "c1"))
      .withColumn("n0", sum(col("c0")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .withColumn("n1", sum(col("c1")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      // add-one smoothing keeps empty bins finite; p/q are exact
      // rationals evaluated in one double expression
      .withColumn("p", (col("c0") + 1).cast("double") / (col("n0") + nBins))
      .withColumn("q", (col("c1") + 1).cast("double") / (col("n1") + nBins))
      .withColumn("contrib_e4",
        round((col("p") - col("q")) * log(col("p") / col("q")) * 10000, 0)
          .cast("long"))
    wide.groupBy(col("event_type"))
      .agg(max(col("n0")).as("n_expected"), max(col("n1")).as("n_actual"),
        sum(col("contrib_e4")).as("psi_e4"))
      .transform(Par.sortSmall(col("event_type")))
  }

  /** JENSEN–SHANNON DIVERGENCE DRIFT — the bounded, symmetric member of
    * the drift family next to [[psiDrift]] (unbounded, blows up on
    * vanishing bins) and [[emdDrift]] (needs an ordered domain):
    * JSD(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2, always in
    * [0, ln 2], defined even when supports barely overlap — the metric
    * monitoring dashboards alarm on. Same 16-bin value histogram and
    * add-one smoothing as [[psiDrift]] so the two drift readouts are
    * directly comparable; per-bin contributions are rounded e6 then
    * integer-summed (the established float+round pairing discipline).
    *
    * Shape at 100 TB: identical to [[psiDrift]] — one corpus collapse
    * to (type, period, bin) counts, then windows and the ln arithmetic
    * run on the 16·|types|-row dense grid.
    */
  def jsdDrift(
      df: DataFrame,
      splitTs: String = "2024-01-16 00:00:00",
      nBins: Int = 16): DataFrame = {
    val mm = df.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = df
      .join(broadcast(mm))
      .select(col("event_type"),
        when(col("ts") < lit(splitTs).cast("timestamp"), lit(0))
          .otherwise(lit(1)).as("period"),
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            floor((col("value") - col("vmin")) * nBins /
              (col("vmax") - col("vmin"))))).as("bin"))
      .groupBy(col("event_type"), col("period"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val grid = binned.select(col("event_type")).distinct()
      .crossJoin(df.sparkSession.range(nBins).select(col("id").as("bin")))
    grid
      .join(binned.filter(col("period") === 0)
        .select(col("event_type"), col("bin"), col("c").as("c0")),
        Seq("event_type", "bin"), "left")
      .join(binned.filter(col("period") === 1)
        .select(col("event_type"), col("bin"), col("c").as("c1")),
        Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("c0", "c1"))
      .withColumn("n0", sum(col("c0")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .withColumn("n1", sum(col("c1")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .withColumn("p", (col("c0") + 1).cast("double") / (col("n0") + nBins))
      .withColumn("q", (col("c1") + 1).cast("double") / (col("n1") + nBins))
      .withColumn("contrib_e6",
        round((col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))) +
          col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))) *
          lit(500000.0), 0).cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("n0")).as("n_expected"), max(col("n1")).as("n_actual"),
        sum(col("contrib_e6")).as("jsd_e6"))
      .transform(Par.sortSmall(col("event_type")))
  }

  /** DuckDB twin of [[jsdDrift]] — the q_psi_drift CTE shape with the
    * JSD contribution expression.
    */
  def jsdDriftOracleSql(
      splitTs: String = "2024-01-16 00:00:00",
      nBins: Int = 16): String =
    s"""WITH mm AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
       |b AS (
       |  SELECT event_type,
       |    CASE WHEN ts < TIMESTAMP '$splitTs' THEN 0 ELSE 1 END AS period,
       |    (CASE WHEN vmax = vmin THEN 0
       |          ELSE least(${nBins - 1},
       |            floor((value - vmin) * $nBins / (vmax - vmin)))
       |     END)::BIGINT AS bin
       |  FROM events CROSS JOIN mm),
       |c AS (SELECT event_type, period, bin, count(*)::BIGINT AS c
       |      FROM b GROUP BY 1, 2, 3),
       |ty AS (SELECT DISTINCT event_type FROM c),
       |bins AS (SELECT range AS bin FROM range($nBins)),
       |wide AS (
       |  SELECT ty.event_type, bins.bin,
       |    coalesce(c0.c, 0) AS c0, coalesce(c1.c, 0) AS c1
       |  FROM ty CROSS JOIN bins
       |  LEFT JOIN c c0 ON c0.event_type = ty.event_type
       |    AND c0.bin = bins.bin AND c0.period = 0
       |  LEFT JOIN c c1 ON c1.event_type = ty.event_type
       |    AND c1.bin = bins.bin AND c1.period = 1),
       |sm AS (
       |  SELECT event_type, c0, c1,
       |    sum(c0) OVER (PARTITION BY event_type) AS n0,
       |    sum(c1) OVER (PARTITION BY event_type) AS n1
       |  FROM wide),
       |k AS (
       |  SELECT event_type, n0, n1,
       |    (c0 + 1)::DOUBLE / (n0 + $nBins) AS p,
       |    (c1 + 1)::DOUBLE / (n1 + $nBins) AS q
       |  FROM sm)
       |SELECT event_type, max(n0)::BIGINT AS n_expected,
       |  max(n1)::BIGINT AS n_actual,
       |  sum(round((p * ln(2.0 * p / (p + q)) + q * ln(2.0 * q / (p + q)))
       |    * 500000.0, 0))::BIGINT AS jsd_e6
       |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Two-sample Kolmogorov–Smirnov distance of each event type's value
    * distribution against the REST of the traffic — the
    * distribution-shift readout (does "purchase" draw values like
    * everything else?) complementing [[chiSquare]]'s categorical test.
    *
    * Grid-quantized on purpose: the textbook KS ranks both samples
    * jointly (a corpus-sized sort); quantizing values to an e2 grid
    * FIRST collapses the fact table to (type, grid-point) counts, after
    * which every CDF is a running sum over the grid DIMENSION — windows
    * over grid-sized frames, never the raw stream. On a grid the
    * statistic is exactly sup|F_t − F_rest| evaluated at grid points,
    * which equals the un-quantized KS of the rounded values — the
    * resolution is explicit (cents) rather than a sampling artifact.
    *
    * Integer-exact: with cum counts c_t(g), c_r(g) and totals n_t, n_r,
    *   D = max_g |c_t(g)·n_r − c_r(g)·n_t|,  ks_e4 = D·10⁴ div (n_t·n_r)
    * (n_t·n_r·10⁴ ≤ ~10¹⁴ at sf0.1 — widen to DECIMAL at warehouse
    * scale).
    */
  def ksTest(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col("event_type"),
      floor(col("value") * lit(100.0)).cast("long").as("g"))
    val byType = pts.groupBy(col("event_type"), col("g"))
      .agg(count(lit(1)).as("c"))
    val grid = byType.groupBy(col("g")).agg(sum(col("c")).as("c_all"))
    val types = byType.select(col("event_type")).distinct()
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the dense frame repeats every grid row once per type, so the global
    // CDF must ALSO accumulate within each type's copy of the grid — an
    // unpartitioned cum here would count each grid point |types| times
    val wAll = wCum
    val dense = types.crossJoin(grid)
      .join(byType, Seq("event_type", "g"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum_t", sum(col("c")).over(wCum))
      .withColumn("cum_all", sum(col("c_all")).over(wAll))
      .withColumn("n_t", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .withColumn("n", max(col("cum_all")).over(Window.partitionBy()))
      .withColumn("d_num", abs(col("cum_t") * (col("n") - col("n_t"))
        - (col("cum_all") - col("cum_t")) * col("n_t")))
    dense.groupBy(col("event_type"))
      .agg(max(col("n_t")).as("n_t"), max(col("n")).as("n"),
        max(col("d_num")).as("d_num"))
      .select(col("event_type"), col("n_t"), (col("n") - col("n_t")).as("n_rest"),
        expr("CASE WHEN n_t = 0 OR n = n_t THEN NULL " +
          "ELSE d_num * 10000 div (n_t * (n - n_t)) END").as("ks_e4"))
      .orderBy(col("event_type"))
  }

  /** Robust per-type value statistics: `trimPct`%-trimmed and winsorized
    * means — the outlier-resistant twins of the plain averages in
    * [[eventSummary]] (one fat-fingered 10⁶ "value" should not move the
    * dashboard). Rank-exact: per type, the t = n·trimPct div 100 lowest
    * and highest rows (ties broken by event_id) are dropped (trimmed) or
    * clamped to the kept extremes (winsorized).
    *
    * Shape: per-type window partitions — bounded like every other
    * events window here; all outputs are exact integers (per-row
    * e4-floored values, integer division), so the oracle pairing is
    * order-independent. Both window functions and the count ride ONE
    * hash exchange on event_type.
    */
  def trimmedStats(df: DataFrame, trimPct: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trimPct >= 0 && trimPct < 50, "trimPct must be in [0, 50)")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    df.select(col("event_type"), col("event_id"), col("value"),
        floor(col("value") * lit(10000.0)).cast("long").as("v_e4"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("t", expr(s"n * $trimPct div 100"))
      .filter(col("rnk") > col("t") && col("rnk") <= col("n") - col("t"))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        max(col("t")).as("n_trimmed_each"),
        count(lit(1)).as("n_kept"),
        expr("sum(v_e4) div count(1)").as("trimmed_mean_e4"),
        min(col("v_e4")).as("lo_e4"),
        max(col("v_e4")).as("hi_e4"),
        sum(col("v_e4")).as("sum_e4"))
      .select(col("event_type"), col("n"), col("n_trimmed_each"),
        col("trimmed_mean_e4"),
        expr("(sum_e4 + n_trimmed_each * (lo_e4 + hi_e4)) div n")
          .as("winsorized_mean_e4"))
      .orderBy(col("event_type"))
  }

  /** Chi-square test of independence between event_type and UTC
    * day-of-week — the statistical-testing capability (is traffic mix
    * time-of-week dependent?) next to the descriptive aggregates. Emits
    * the full contingency table with each cell's observed count, expected
    * count (e4), and chi-square contribution (e6); the statistic is the
    * contribution sum.
    *
    * Shape: one partial+final aggregate collapses the fact table to the
    * (type × dow) contingency table — ≤ |types|·7 cells — and every
    * derived quantity is arithmetic on that dimension-sized frame (the
    * margins ride tiny windows over it).
    *
    * Exactness: with o the cell count, rt/ct the margins, N the total,
    * the contribution (o − rt·ct/N)²/(rt·ct/N) rearranges to
    * (o·N − rt·ct)² / (N·rt·ct) — an integer ratio. Both numerator
    * (≤ ~10²⁶ at sf0.1 after the 10⁶ scale-up) and denominator are exact
    * in DECIMAL(38,0); one integer division each for expected_e4 and
    * contrib_e6 makes every output column a BIGINT no float ever
    * touched. The DuckDB twin widens through HUGEINT.
    */
  def chiSquare(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("dow"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .select(col("event_type"), col("dow"), col("o").as("observed"),
        expr("(CAST(rt AS DECIMAL(38,0)) * ct * 10000) div n").as("expected_e4"),
        expr("""(CAST(o AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)
               |  * (CAST(o AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)
               |  * 1000000
               |  div (CAST(n AS DECIMAL(38,0)) * rt * ct)""".stripMargin)
          .as("contrib_e6"))
      .transform(Par.sortSmall(col("event_type"), col("dow")))
  }

  /** CRAMÉR'S V over the [[chiSquare]] contingency table — the effect
    * size that belongs to the independence test (the Cohen's-d / η²
    * pattern: χ² says the type×day-of-week association is non-random,
    * V = sqrt(χ²/(n·min(r−1,c−1))) ∈ [0,1] says whether it MATTERS —
    * at corpus n, trivial associations reach significance).
    *
    * Exactness: the per-cell contributions are [[chiSquare]]'s exact
    * e6 integers summed exactly; ZERO cells (type×dow combinations with
    * no events — [[chiSquare]] emits observed cells only) contribute
    * exactly their expected mass E each, and Σ_full E = n, so the
    * zero-cell term is n·10⁶ − Σ_observed expected_e4·100 — recovered
    * from the emitted columns, identically in both engines; r, c, n are
    * exact counts; V is one shared double literal (e4). Shape: the same
    * (type, dow) cell collapse, then 1-row arithmetic.
    */
  def cramersV(df: DataFrame): DataFrame = {
    val cells = chiSquare(df)
    cells.agg(
        sum(col("observed")).as("n"),
        countDistinct(col("event_type")).as("r"),
        countDistinct(col("dow")).as("c"),
        sum(col("contrib_e6")).as("obs_e6"),
        sum(col("expected_e4")).as("exp_e4"))
      .select(col("n"), col("r"), col("c"),
        expr("obs_e6 + greatest(0L, n * 1000000 - exp_e4 * 100)")
          .as("chi2_e6"))
      .select(col("n"), col("r"), col("c"), col("chi2_e6"),
        expr("""CASE WHEN n > 0 AND least(r - 1, c - 1) > 0 THEN
               |  CAST(round(sqrt(CAST(chi2_e6 AS DOUBLE) / 1000000
               |      / (CAST(n AS DOUBLE) * least(r - 1, c - 1))) * 10000)
               |    AS BIGINT)
               |END""".stripMargin).as("v_e4"))
  }

  /** DuckDB twin of [[cramersV]] — wraps the q_chi_square cell SQL so
    * the contingency construction cannot drift, then the same V
    * literal.
    */
  def cramersVOracleSql(chiSquareSql: String): String =
    s"""WITH cells AS ($chiSquareSql),
       |g0 AS (
       |  SELECT sum(observed)::BIGINT AS n,
       |    count(DISTINCT event_type)::BIGINT AS r,
       |    count(DISTINCT dow)::BIGINT AS c,
       |    sum(contrib_e6)::BIGINT AS obs_e6,
       |    sum(expected_e4)::BIGINT AS exp_e4
       |  FROM cells),
       |g AS (
       |  SELECT n, r, c,
       |    (obs_e6 + greatest(0, n * 1000000 - exp_e4 * 100))::BIGINT
       |      AS chi2_e6
       |  FROM g0)
       |SELECT n, r, c, chi2_e6,
       |  (CASE WHEN n > 0 AND least(r - 1, c - 1) > 0 THEN
       |    CAST(round(sqrt(chi2_e6::DOUBLE / 1000000
       |        / (n::DOUBLE * least(r - 1, c - 1))) * 10000) AS BIGINT)
       |  END) AS v_e4
       |FROM g""".stripMargin

  /** PURE non-equi interval join — the operator class the equi-keyed
    * attribution join ([[purchaseAttribution]]) and the as-of union-scan
    * ([[asofLastView]]) both sidestep: points (all events) joined into
    * overlapping time intervals that share NO equi key with them.
    *
    * The intervals are the top-`topK` "campaign windows": for each of the
    * busiest hours, ±`halfWindowMin` minutes around that hour's anchor
    * event (its max-event_id row — unique ids make the anchor, and hence
    * the window bounds, deterministic). Windows are NOT bucket-aligned
    * and may overlap — a genuine range-join input.
    *
    * Shape at 100 TB: a naive range join is a BroadcastNestedLoopJoin —
    * O(|events| × |windows|) comparisons and a single-threaded broadcast
    * side at best. Bucketing turns it into an EQUI-join: each interval is
    * exploded to the hour buckets it covers (an interval of width w costs
    * ceil(w/1h)+1 rows, here ≤ 2 — cost scales with interval width, not
    * corpus size), each point computes its single bucket row-locally, the
    * join runs on `bucket` with the exact [start, end) predicate left as
    * a residual. A point's bucket is unique per interval, so no
    * post-join dedup is needed. The exploded window table stays
    * dimension-sized (topK × ≤2 rows) and broadcasts; at larger window
    * counts the same plan becomes a hash shuffle on `bucket` — still an
    * equi-join, never a nested loop. This is the standard range-join
    * optimization (Databricks runtime does the same rewrite internally).
    *
    * Determinism for the oracle: per-row e4-floored values are summed as
    * integers (addition order cannot matter); counts are exact.
    */
  def campaignWindowJoin(
      df: DataFrame, topK: Int = 10, halfWindowMin: Int = 45): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = df
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), max_by(col("ts"), col("event_id")).as("anchor"))
    // top-K busiest hours: TakeOrdered on the hour-dimension table, then
    // a row_number over ≤ topK rows (single tiny partition — fine)
    val win = hourly
      .orderBy(col("n").desc, col("h"))
      .limit(topK)
      .withColumn("window_id",
        row_number().over(Window.orderBy(col("n").desc, col("h"))).cast("long"))
      .select(col("window_id"),
        (col("anchor") - expr(s"INTERVAL $halfWindowMin MINUTES")).as("w_start"),
        (col("anchor") + expr(s"INTERVAL $halfWindowMin MINUTES")).as("w_end"))
    val buckets = win.select(col("window_id"), col("w_start"), col("w_end"),
      explode(sequence(
        date_trunc("hour", col("w_start")),
        date_trunc("hour", col("w_end")),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
    df.select(col("user_id"), col("value"), col("ts"),
        date_trunc("hour", col("ts")).as("bucket"))
      .join(broadcast(buckets), Seq("bucket"))
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("window_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * lit(10000.0)).cast("long")).as("value_e4"))
      .orderBy(col("window_id"))
  }

  /** SCD2 change capture: compress each user's event stream to the rows
    * where `event_type` CHANGED, with [valid_from, valid_to) validity
    * intervals — the slowly-changing-dimension type-2 build every
    * warehouse pipeline runs over a mutation feed. The open (current)
    * version carries a null valid_to.
    *
    * Shape: one hash shuffle on user_id serves both windows — the LAG
    * that detects changes and, after the filter, the LEAD that closes
    * each version (Filter preserves the child's partitioning AND sort
    * order, so the second WindowExec adds no exchange and no re-sort).
    * Per-user partitions are bounded; nothing global.
    *
    * `userMod` samples a deterministic user slice for the correctness
    * gate (1/userMod of users) so the dumped version table stays
    * comparison-sized; the operator itself is corpus-wide at userMod=1.
    */
  def changeCapture(df: DataFrame, userMod: Long = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    df.filter(pmod(col("user_id"), lit(userMod)) === 0)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Point-in-time (temporal) lookup against the [[changeCapture]] SCD2
    * history: each purchase resolved to the state version that was valid
    * AT its timestamp — `valid_from ≤ ts < valid_to` with the open
    * version unbounded. The read side of the slowly-changing-dimension
    * loop: changeCapture writes the history, this query answers "what
    * state was the user in when they bought".
    *
    * Shape at 100 TB: an equi-join on user_id with the validity range as
    * a RESIDUAL predicate — both sides hash-partition on the user key
    * once and the range prunes inside each partition (the
    * purchaseAttribution shape). Never a point-in-interval range join;
    * the SCD2 tiling guarantees exactly one match per purchase, so the
    * join cannot amplify.
    */
  def scd2Lookup(df: DataFrame, userMod: Long = 3): DataFrame = {
    val history = changeCapture(df, userMod)
      .select(col("user_id").as("h_user_id"), col("version"),
        col("event_type").as("state_type"),
        col("valid_from_us"), col("valid_to_us"))
    val purchases = df
      .filter(col("event_type") === "purchase" &&
        pmod(col("user_id"), lit(userMod)) === 0)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    purchases.join(history,
        col("user_id") === col("h_user_id") &&
          col("valid_from_us") <= col("ts_us") &&
          (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("version"), col("state_type"))
      .orderBy(col("event_id"))
  }

  /** Time-weighted average value per event type — each event's value
    * holds until the SAME user's next event (a per-user step function),
    * so a value that persisted for an hour weighs 3600× one that was
    * superseded in a second. The metric behind "average concurrent
    * price/level" readouts, where the plain [[valueStats]] average is
    * arrival-biased.
    *
    * Exactness: value is 2-decimal → DECIMAL(12,2); hold duration is
    * integer micros from a LEAD; their product and sums stay decimal/
    * integer end-to-end, with ONE double division (exact inputs → both
    * engines hit the same double) rounded at e6. Each user's last event
    * has no successor and drops out (no duration).
    *
    * Shape at 100 TB: one user-keyed exchange for the LEAD window, then
    * a type-dimension aggregate. The window is per-user (bounded);
    * nothing global sorts.
    */
  def timeWeightedValue(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    df.select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("hold_us", lead(unix_micros(col("ts")), 1).over(w) -
        unix_micros(col("ts")))
      .filter(col("hold_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_holds"),
        sum(col("hold_us")).as("total_hold_us"),
        // cents·micros products fit a long (≤ ~1.2e17); their SUM does
        // not → widen to DECIMAL(38,0) (≡ DuckDB's HUGEINT sum) so the
        // weighted mass is exact however long the holds run
        sum((col("cents") * col("hold_us")).cast("decimal(38,0)")).as("wsum"),
        sum(col("cents")).as("csum"))
      .select(
        col("event_type"), col("n_holds"), col("total_hold_us"),
        round(col("wsum").cast("double") / col("total_hold_us") / 100.0, 6)
          .as("twap_value"),
        round(col("csum").cast("double") / col("n_holds") / 100.0, 6)
          .as("plain_avg"))
      .transform(Par.sortSmall(col("event_type")))
  }

  /** Robust outlier screen per event type: median + MAD (median absolute
    * deviation) instead of mean + stddev, so the screen itself is not
    * dragged by the outliers it hunts (the breakdown-point argument;
    * Hampel's robust-statistics identifier). Flags values with
    * |x − median| > k·MAD.
    *
    * Exactness: values become integer CENTS; a median of integers is
    * either an integer or a half-integer — dyadic, so both engines'
    * interpolation (`lo + 0.5·(hi−lo)` vs `(lo+hi)/2`) lands on the SAME
    * exact double. Deviations are computed on DOUBLED cents so they stay
    * integers, the MAD is again dyadic, and the k·MAD comparison is
    * exact — no ulp coin-flips at the outlier boundary (the reason
    * [[valuePercentiles]] has to round: raw-double interpolation
    * differs across engines at the ulp).
    *
    * Shape at 100 TB: two type-keyed aggregates (median, then MAD of
    * deviations) with the kilobyte per-type median table broadcast back
    * between them; the flag count rides the second aggregate. Exact
    * per-group medians are sort-based within the group — at extreme
    * group sizes swap in approx_percentile (mergeable t-digest), which
    * is deliberately NOT the verified query (sketches are
    * engine-specific).
    */
  def madOutliers(df: DataFrame, k: Int = 3): DataFrame = {
    val cents = df.select(col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val med = cents.groupBy(col("event_type"))
      .agg(expr("percentile(cents, 0.5)").as("med_half"))
      // doubled median: integer-exact (median is integer or half-integer)
      .select(col("event_type").as("m_type"),
        round(col("med_half") * 2).cast("long").as("med2x"))
    // dev feeds BOTH the MAD aggregate and the outlier count — persist
    // so the events scan and the per-type percentile don't run twice
    // (basketPairs pattern; Bench/Verify clear the pool)
    val dev = cents.join(broadcast(med), col("event_type") === col("m_type"))
      .withColumn("dev2x", (col("cents") * 2 - col("med2x")).cast("double"))
      .withColumn("dev2x", abs(col("dev2x")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // doubled-again MAD so k·MAD stays integer-exact (MAD of integer
    // deviations is integer or half-integer)
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(dev2x, 0.5)").as("mad_half"))
      .select(col("event_type").as("d_type"),
        round(col("mad_half") * 2).cast("long").as("mad4x"))
    dev.join(broadcast(mad), col("event_type") === col("d_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        max(col("med2x")).as("med2x"),
        max(col("mad4x")).as("mad4x"),
        // |x−med|·4 > k·MAD·4, all integers → exact boundary
        sum(when(col("dev2x") * 2 > lit(k.toLong) * col("mad4x"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(
        col("event_type"), col("n"),
        round(col("med2x") / 200.0, 4).as("median_value"),
        round(col("mad4x") / 400.0, 4).as("mad_value"),
        col("n_outliers"))
      .transform(Par.sortSmall(col("event_type")))
  }

  /** Entry→exit flow matrix: for each user, the FIRST and LAST event
    * type of their history (deterministic (ts, event_id) order), counted
    * into a type×type matrix — the "how do journeys start vs end"
    * readout next to [[eventTransitions]]'s step-level Markov matrix.
    *
    * Shape at 100 TB: ONE user-keyed aggregate computes both endpoints
    * as min/max over (ts, event_id, type) structs — no window, no
    * second exchange on the raw stream; the matrix aggregate runs on the
    * user-dimension-sized frame. Struct min/max is a partial-aggregable
    * argmin/argmax (lexicographic on the unique (ts, event_id) prefix,
    * so the carried type is deterministic).
    */
  def entryExitFlows(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"))
      .groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_users"))
      .transform(Par.sortSmall(col("entry_type"), col("exit_type")))

  /** Cohort lifetime value: cumulative purchase revenue per first-touch
    * cohort as the cohort ages — the money companion to
    * [[retentionCohorts]]'s activity matrix (same first-touch spine).
    * Revenue is integer cents end-to-end; the cumulative sum runs per
    * cohort over day offsets.
    *
    * Shape at 100 TB: first-touch is one user-keyed aggregate reused
    * from the retention build; the purchase stream joins it user-keyed;
    * the (cohort × offset) matrix is triangular-dimension-sized and the
    * running-sum window runs only there (partitioned by cohort — never
    * a single global partition).
    */
  def cohortLtv(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = df.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), to_date(col("first_ts")).as("cohort_day"))
    val cell = df.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("active_day"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .join(firstDay, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("active_day"), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(sum(col("cents")).as("revenue_cents"),
        countDistinct(col("user_id")).as("n_buyers"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cell
      .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(w))
      .select(
        unix_micros(col("cohort_day").cast("timestamp")).as("cohort_day_us"),
        col("day_offset"), col("n_buyers"), col("revenue_cents"),
        col("cum_revenue_cents"))
      .orderBy(col("cohort_day_us"), col("day_offset"))
  }

  /** Linear multi-touch attribution: each purchase's revenue split in
    * EQUAL INTEGER cents across the same user's views in the preceding
    * `gapMinutes` (the [[purchaseAttribution]] join), remainder cents
    * going to the most recent views — so the per-purchase credits
    * telescope to EXACTLY the purchase amount (cents div n + 1 for the
    * first `cents mod n` views by recency; no float shares that drift a
    * cent when re-summed). Credited cents then aggregate by view day:
    * "which day's browsing earned the money".
    *
    * Shape at 100 TB: the user-keyed equi-join with a time residual is
    * the attribution join; the rank window partitions by purchase_id —
    * groups are views-per-hour-per-user sized, never unbounded. One
    * user exchange + one purchase-keyed exchange + a day-dimension
    * aggregate.
    */
  def attributionSplit(df: DataFrame, gapMinutes: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val v = df.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val w = Window.partitionBy(col("purchase_id"))
    val wr = w.orderBy(col("v_ts").desc, col("view_id").desc)
    p.join(v,
        col("user_id") === col("v_user_id") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $gapMinutes MINUTES"))
      .withColumn("r", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("credit_cents",
        expr("cents div n + CASE WHEN r <= cents % n THEN 1 ELSE 0 END"))
      .groupBy(to_date(col("v_ts")).as("view_day"))
      .agg(count(lit(1)).as("n_credited_views"),
        sum(col("credit_cents")).as("credited_cents"))
      .select(unix_micros(col("view_day").cast("timestamp")).as("view_day_us"),
        col("n_credited_views"), col("credited_cents"))
      .orderBy(col("view_day_us"))
  }

  /** Peak activity bursts: each user's maximum event count in any 5-minute
    * TUMBLING bucket, histogrammed across users — the readout that sizes
    * rate limits and separates scripted bursts from human pacing. Tumbling
    * (not sliding) keeps the bucket assignment a row-local integer
    * `ts_us div 300e6`; a true sliding max costs a second self-join for a
    * ≤2× tighter bound and is deliberately not the verified query.
    *
    * Shape at 100 TB: (user, bucket) aggregate → per-user max →
    * burst-size histogram; everything after the first aggregate is
    * user-dimension sized.
    */
  def userBursts(df: DataFrame, bucketSeconds: Long = 300): DataFrame =
    df.select(col("user_id"),
        // INTEGER division — a double quotient cast long matches the
        // oracle's `//` only while micros sit away from bucket
        // boundaries at double precision; div is exact at any epoch
        expr(s"unix_micros(ts) div ${bucketSeconds * 1000000L}")
          .as("bucket"))
      .groupBy(col("user_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("max_burst"))
      .groupBy(col("max_burst"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("max_burst"))

  /** Additive seasonal decomposition of daily event volume — the
    * classical-decomposition first pass (trend by centered 7-day moving
    * average, weekday seasonal index from the detrended series,
    * residual as what's left) that turns "traffic dropped" into "traffic
    * dropped BEYOND the usual Sunday dip". All integer arithmetic at e4
    * scale: the MA divides by exactly 7 only where the centered window
    * is COMPLETE (day-ARITHMETIC RANGE frame, so a missing day yields a
    * null trend instead of a misaligned average — the volumeAcf lesson),
    * and seasonal indices are truncating integer means.
    *
    * Shape at 100 TB: the stream collapses to the DAY dimension first;
    * every window and the 7-row weekday join run on that
    * dimension-sized table.
    */
  def seasonalDecompose(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date"))
        .cast("long"))
      // Spark dayofweek: 1=Sunday … 7=Saturday (NOT ISO; DuckDB's
      // 0=Sunday is +1-compensated on the oracle side)
      .withColumn("dow", dayofweek(col("day")).cast("long"))
    val w7 = Window.orderBy(col("day_num")).rangeBetween(-3L, 3L)
    val trended = daily
      .withColumn("win_n", count(lit(1)).over(w7))
      .withColumn("trend_e4",
        when(col("win_n") === 7, expr("sum(n) over " +
          "(order by day_num range between 3 preceding and 3 following) " +
          "* 10000 div 7")))
      .withColumn("detrended_e4",
        when(col("trend_e4").isNotNull, col("n") * 10000 - col("trend_e4")))
    val seasonal = trended.filter(col("detrended_e4").isNotNull)
      .groupBy(col("dow"))
      .agg(expr("sum(detrended_e4) div count(1)").as("seasonal_e4"))
    trended
      .join(broadcast(seasonal), Seq("dow"), "left")
      .select(
        unix_micros(col("day").cast("timestamp")).as("day_us"),
        col("dow"), col("n"), col("trend_e4"), col("seasonal_e4"),
        (col("detrended_e4") - col("seasonal_e4")).as("residual_e4"))
      .orderBy(col("day_us"))
  }

  /** HOLT LINEAR-TREND FORECAST (double exponential smoothing) of daily
    * event volume — the capacity-planning readout [[seasonalDecompose]]
    * describes but does not predict: level l_t = αy_t + (1−α)(l_{t−1} +
    * b_{t−1}), trend b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, forecast
    * ŷ_{T+h} = l_T + h·b_T (Holt 1957). Runs on the trailing
    * [[HoltWindow]] most-recent CALENDAR days (data-anchored recency,
    * the q_recent_events discipline) with the textbook init l₁ = y₁,
    * b₁ = y₂ − y₁. The recurrence assumes an equally-spaced daily
    * series: age is calendar distance from the newest day, and if any
    * of the [[HoltWindow]] days is absent the outputs are NULL (a
    * truncated weight sum is a biased forecast, not a forecast).
    *
    * Exactness: the recurrence is LINEAR in the observations, so
    * l_T and b_T are fixed weighted sums over the window — the weights
    * depend only on (α, β, W), never on data. They are computed ONCE
    * here (impulse responses of the recurrence, one pass per unit
    * vector), rounded to e12 integers, and the SAME integer constants
    * are embedded in the Spark plan and the oracle SQL (the
    * [[graft.ops.TextAnalysis]] nDCG-discount discipline) — no float
    * ever crosses engines. Sums widen to DECIMAL(38,0)/HUGEINT
    * (count·1e12 per term).
    *
    * Shape at 100 TB: the stream collapses to the day dimension in one
    * aggregate; ranking, the 28-row weight join and the 7-row horizon
    * spine are all dimension-sized broadcasts.
    */
  def holtForecast(df: DataFrame, horizons: Int = 7): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val weights = holtWeightsE12.toSeq.map { case (age, wl, wb) => (age.toLong, wl, wb) }
      .toDF("age", "wl_e12", "wb_e12")
    val daily = df.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // age is CALENDAR distance from the newest day (1 = newest), not a
    // presence rank: the weights assume an equally-spaced daily series,
    // so a missing day must leave its weight UNMATCHED (and trip the
    // completeness guard below) rather than silently shifting every
    // older day one weight younger — that bias is the exact mis-forecast
    // a rank-based age produced on gappy series.
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    val ranked = daily.crossJoin(broadcast(maxDay))
      .withColumn("age",
        (datediff(col("max_day"), col("day")) + 1).cast("long"))
      .filter(col("age") <= HoltWindow)
    val state = ranked.join(broadcast(weights), "age")
      .agg(
        count(lit(1)).as("n_obs"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * wl_e12")).as("level_e12"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * wb_e12")).as("trend_e12"))
    val spine = (1 to horizons).map(_.toLong).toDF("h")
    // completeness guard: below a full HoltWindow of consecutive days
    // the level weights no longer sum to 1 and the "forecast" is a
    // biased partial sum — emit NULL rather than a silently-wrong
    // number (the horizon spine still emits its `horizons` rows).
    val full = col("n_obs") === lit(HoltWindow.toLong)
    state.crossJoin(broadcast(spine))
      .select(col("h"),
        when(full, expr("CAST(level_e12 div 1000000000 AS BIGINT)"))
          .as("level_e3"),
        when(full, expr("CAST(trend_e12 div 1000000000 AS BIGINT)"))
          .as("trend_e3"),
        when(full,
          expr("CAST((level_e12 + h * trend_e12) div 1000000000 AS BIGINT)"))
          .as("forecast_e3"))
      .orderBy(col("h"))
  }

  /** Trailing-window length for [[holtForecast]]. */
  val HoltWindow: Int = 28

  /** Holt smoothing parameters as exact literals. */
  val HoltAlpha: Double = 0.3
  val HoltBeta: Double = 0.1

  /** The e12-quantized (age → level-weight, trend-weight) table: run the
    * Holt recurrence once per unit impulse e_j over a W-day window and
    * read off l_W and b_W's coefficient on y_j. age 1 = most recent day
    * (j = W), age W = oldest. Computed once per JVM; identical constants
    * feed both engines.
    */
  lazy val holtWeightsE12: IndexedSeq[(Int, Long, Long)] = {
    val W = HoltWindow
    // coefficient vectors of l_t and b_t over (y_1 … y_W)
    var l = Array.tabulate(W)(j => if (j == 0) 1.0 else 0.0)
    var b = Array.tabulate(W)(j =>
      if (j == 1) 1.0 else if (j == 0) -1.0 else 0.0)
    for (t <- 2 to W) {
      val y = Array.tabulate(W)(j => if (j == t - 1) 1.0 else 0.0)
      val nl = Array.tabulate(W)(j =>
        HoltAlpha * y(j) + (1.0 - HoltAlpha) * (l(j) + b(j)))
      val nb = Array.tabulate(W)(j =>
        HoltBeta * (nl(j) - l(j)) + (1.0 - HoltBeta) * b(j))
      l = nl; b = nb
    }
    (1 to W).map { age =>
      val j = W - age // 0-based chronological index of the age-th newest
      (age, math.round(l(j) * 1e12), math.round(b(j) * 1e12))
    }
  }

  /** DuckDB oracle for [[holtForecast]] — the identical e12 weight
    * constants inlined as a VALUES table; identical ranking, HUGEINT
    * sums, and truncating divisions.
    */
  def holtForecastOracleSql(horizons: Int = 7): String = {
    val vals = holtWeightsE12
      .map { case (a, wl, wb) => s"($a, $wl, $wb)" }.mkString(", ")
    val hs = (1 to horizons).map(h => s"($h)").mkString(", ")
    s"""WITH daily AS (
       |  SELECT ts::DATE AS day, count(*)::BIGINT AS n
       |  FROM events GROUP BY 1),
       |ranked AS (
       |  SELECT n,
       |    date_diff('day', day, (SELECT max(day) FROM daily)) + 1 AS age
       |  FROM daily),
       |w(age, wl_e12, wb_e12) AS (VALUES $vals),
       |state AS (
       |  SELECT count(*) AS n_obs,
       |         sum(n::HUGEINT * wl_e12) AS level_e12,
       |         sum(n::HUGEINT * wb_e12) AS trend_e12
       |  FROM ranked JOIN w USING (age)
       |  WHERE age <= $HoltWindow),
       |spine(h) AS (VALUES $hs)
       |SELECT h::BIGINT AS h,
       |  CASE WHEN n_obs = $HoltWindow
       |    THEN (level_e12 // 1000000000)::BIGINT END AS level_e3,
       |  CASE WHEN n_obs = $HoltWindow
       |    THEN (trend_e12 // 1000000000)::BIGINT END AS trend_e3,
       |  CASE WHEN n_obs = $HoltWindow
       |    THEN ((level_e12 + h * trend_e12) // 1000000000)::BIGINT
       |    END AS forecast_e3
       |FROM state CROSS JOIN spine ORDER BY h""".stripMargin
  }

  /** Holt-Winters ADDITIVE seasonal forecast of daily event volume —
    * what [[holtForecast]] cannot see: a weekly rhythm. Level/trend/
    * seasonal recurrences (Winters 1960), period [[HwPeriod]] = 7 days,
    * trailing [[HwWindow]] = 28 calendar days (4 full weeks), textbook
    * init l_m = mean(week₁), b_m = (mean(week₂) − mean(week₁))/m,
    * s_i = y_i − l_m; forecast ŷ_{T+h} = l_T + h·b_T + s_{T+h−m}.
    *
    * Exactness: like Holt, the full recurrence system is LINEAR in the
    * observations, so l_T, b_T and each of the last m seasonal states
    * are fixed weighted sums over the 28-day window. The weights are
    * computed once per JVM (impulse responses, [[holtWintersWeightsE12]]),
    * e12-quantized, and the SAME integers feed the Spark plan and the
    * DuckDB oracle in LONG form (h, age, wl, wb, ws) — the seasonal
    * pick for horizon h is thereby a plain equi-join, no element_at /
    * CASE ladder to keep in sync across engines. Sums widen to
    * DECIMAL(38,0)/HUGEINT.
    *
    * Same equally-spaced contract as [[holtForecast]]: age is calendar
    * distance from the newest day; any gap or short history in the
    * window nulls the outputs (n_obs guard) instead of emitting a
    * truncated — biased — weight sum.
    *
    * Shape at 100 TB: one partial+final aggregate collapses the corpus
    * to the day dimension; the 196-row weight table broadcasts; the
    * spine left-join keeps the 7 output rows even on an empty corpus.
    */
  def holtWintersForecast(df: DataFrame, horizons: Int = 7): DataFrame = {
    require(horizons <= HwPeriod,
      s"seasonal index T+h-m is only materialized for h <= $HwPeriod")
    val spark = df.sparkSession
    import spark.implicits._
    val weights = holtWintersWeightsE12
      .map { case (h, age, wl, wb, ws) => (h.toLong, age.toLong, wl, wb, ws) }
      .toDF("h", "age", "wl_e12", "wb_e12", "ws_e12")
      .filter(col("h") <= horizons)
    val daily = df.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    val ranked = daily.crossJoin(broadcast(maxDay))
      .withColumn("age",
        (datediff(col("max_day"), col("day")) + 1).cast("long"))
      .filter(col("age") <= HwWindow)
    val state = ranked.join(broadcast(weights), "age")
      .groupBy(col("h"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * wl_e12")).as("level_e12"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * wb_e12")).as("trend_e12"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * ws_e12")).as("season_e12"))
    val spine = (1 to horizons).map(_.toLong).toDF("h")
    val full = col("n_obs") === lit(HwWindow.toLong)
    // state is ≤ `horizons` rows but sits behind an aggregate whose size
    // estimate Catalyst won't trust — hint it, or the 7-row outer join
    // plans as a sort-merge exchange
    spine.join(broadcast(state), Seq("h"), "left")
      .select(col("h"),
        when(full, expr("CAST(level_e12 div 1000000000 AS BIGINT)"))
          .as("level_e3"),
        when(full, expr("CAST(trend_e12 div 1000000000 AS BIGINT)"))
          .as("trend_e3"),
        when(full, expr("CAST(season_e12 div 1000000000 AS BIGINT)"))
          .as("season_e3"),
        when(full,
          expr("CAST((level_e12 + h * trend_e12 + season_e12) " +
            "div 1000000000 AS BIGINT)"))
          .as("forecast_e3"))
      .orderBy(col("h"))
  }

  /** Seasonal period (days) and trailing window for [[holtWintersForecast]]. */
  val HwPeriod: Int = 7
  val HwWindow: Int = 28

  /** Holt-Winters smoothing parameters as exact literals. */
  val HwAlpha: Double = 0.3
  val HwBeta: Double = 0.1
  val HwGamma: Double = 0.2

  /** e12-quantized Holt-Winters impulse-response weights in LONG form:
    * (h, age, level-weight, trend-weight, seasonal-weight of s_{T+h−m}).
    * age 1 = newest day in the window. Computed once per JVM by running
    * the coupled (l, b, s) recurrences on coefficient VECTORS over
    * (y_1 … y_W) — one sweep total, the unit impulses fall out of the
    * tabulated initial coefficients; identical constants feed both
    * engines.
    */
  lazy val holtWintersWeightsE12: IndexedSeq[(Int, Int, Long, Long, Long)] = {
    val W = HwWindow; val m = HwPeriod
    val a = HwAlpha; val bt = HwBeta; val g = HwGamma
    // coefficient vectors over chronological y_1..y_W (0-based j)
    var l = Array.tabulate(W)(j => if (j < m) 1.0 / m else 0.0)
    var b = Array.tabulate(W)(j =>
      if (j >= m && j < 2 * m) 1.0 / (m.toDouble * m)
      else if (j < m) -1.0 / (m.toDouble * m) else 0.0)
    val s = Array.ofDim[Double](W + 1, W) // s(t)(j), t = 1..W
    for (i <- 1 to m; j <- 0 until W)
      s(i)(j) = (if (j == i - 1) 1.0 else 0.0) - l(j)
    for (t <- m + 1 to W) {
      val y = Array.tabulate(W)(j => if (j == t - 1) 1.0 else 0.0)
      val lp = l; val bp = b
      val nl = Array.tabulate(W)(j =>
        a * (y(j) - s(t - m)(j)) + (1.0 - a) * (lp(j) + bp(j)))
      val nb = Array.tabulate(W)(j =>
        bt * (nl(j) - lp(j)) + (1.0 - bt) * bp(j))
      for (j <- 0 until W)
        s(t)(j) = g * (y(j) - nl(j)) + (1.0 - g) * s(t - m)(j)
      l = nl; b = nb
    }
    for {
      h <- 1 to HwPeriod
      age <- 1 to W
    } yield {
      val j = W - age // chronological index of the age-th newest day
      (h, age, math.round(l(j) * 1e12), math.round(b(j) * 1e12),
        math.round(s(W + h - m)(j) * 1e12))
    }
  }

  /** DuckDB oracle for [[holtWintersForecast]] — identical e12 weight
    * constants inlined as a long-form VALUES table; identical calendar
    * ageing, HUGEINT sums, completeness guard and truncating divisions.
    */
  def holtWintersForecastOracleSql(horizons: Int = 7): String = {
    val vals = holtWintersWeightsE12
      .filter(_._1 <= horizons)
      .map { case (h, a, wl, wb, ws) => s"($h, $a, $wl, $wb, $ws)" }
      .mkString(", ")
    val hs = (1 to horizons).map(h => s"($h)").mkString(", ")
    s"""WITH daily AS (
       |  SELECT ts::DATE AS day, count(*)::BIGINT AS n
       |  FROM events GROUP BY 1),
       |ranked AS (
       |  SELECT n,
       |    date_diff('day', day, (SELECT max(day) FROM daily)) + 1 AS age
       |  FROM daily),
       |w(h, age, wl_e12, wb_e12, ws_e12) AS (VALUES $vals),
       |state AS (
       |  SELECT h, count(*) AS n_obs,
       |         sum(n::HUGEINT * wl_e12) AS level_e12,
       |         sum(n::HUGEINT * wb_e12) AS trend_e12,
       |         sum(n::HUGEINT * ws_e12) AS season_e12
       |  FROM ranked JOIN w USING (age)
       |  WHERE age <= $HwWindow GROUP BY h),
       |spine(h) AS (VALUES $hs)
       |SELECT spine.h::BIGINT AS h,
       |  CASE WHEN n_obs = $HwWindow
       |    THEN (level_e12 // 1000000000)::BIGINT END AS level_e3,
       |  CASE WHEN n_obs = $HwWindow
       |    THEN (trend_e12 // 1000000000)::BIGINT END AS trend_e3,
       |  CASE WHEN n_obs = $HwWindow
       |    THEN (season_e12 // 1000000000)::BIGINT END AS season_e3,
       |  CASE WHEN n_obs = $HwWindow
       |    THEN ((level_e12 + spine.h * trend_e12 + season_e12)
       |      // 1000000000)::BIGINT END AS forecast_e3
       |FROM spine LEFT JOIN state ON spine.h = state.h
       |ORDER BY h""".stripMargin
  }

  /** Cumulative user growth: new users (first-touch) per day and the
    * running total — the acquisition curve next to [[activeUsers]]'s
    * activity windows. Distinct growth equals the sum of first-touches,
    * so the cumulative needs no running distinct — one user aggregate,
    * one day-dimension aggregate, one dimension-sized window.
    */
  def userGrowth(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .groupBy(to_date(col("first_ts")).as("day"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select(unix_micros(col("day").cast("timestamp")).as("day_us"),
        col("n_new"), col("cum_users"))
      .orderBy(col("day_us"))
  }

  /** Throttle / debounce dedup: keep only the FIRST event per
    * (user, type, `bucketSeconds` tumbling bucket) — the alert-dedup /
    * notification-rate-limit operator (at-most-one-per-key-per-window).
    * "First" is deterministic via the (ts, event_id) struct argmin.
    * Emitted here for purchases so the verified frame stays
    * result-sized; the operator itself is type-agnostic.
    *
    * Shape at 100 TB: bucket assignment is row-local integer division;
    * ONE hash aggregate on (user, type, bucket) does the keep — no
    * window, no sort, no join. The streaming twin is watermarked
    * `dropDuplicates` over the same key ([[graft.stream.IngestDedup]]
    * territory).
    */
  def throttle(df: DataFrame, bucketSeconds: Long = 600): DataFrame =
    df.select(col("user_id"), col("event_type"),
        // integer div, not a double quotient — see userBursts
        expr(s"unix_micros(ts) div ${bucketSeconds * 1000000L}").as("bucket"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .groupBy(col("user_id"), col("event_type"), col("bucket"))
      .agg(min(struct(col("ts_us"), col("event_id"))).as("first"),
        count(lit(1)).as("n_suppressed_plus_one"))
      .filter(col("event_type") === "purchase")
      .select(col("first.event_id").as("event_id"), col("user_id"),
        col("first.ts_us").as("ts_us"),
        (col("n_suppressed_plus_one") - 1).as("n_suppressed"))
      .orderBy(col("event_id"))

  /** Trailing-hour activity at each purchase: a RANGE-frame window
    * (micros ordering, `RANGE 3600e6 PRECEDING`) counting the same
    * user's events in the hour up to and including the purchase — the
    * real-valued-frame window surface ([[tumblingCounts]] bins; this
    * frame SLIDES per row). RANGE semantics make peers (equal
    * timestamps) frame-identical, so ties can't flip counts across
    * engines.
    *
    * Shape at 100 TB: one user-keyed exchange; frames are bounded by
    * events-per-user-per-hour. The filter to purchases happens AFTER the
    * window (a frame must see all events) but the projection is pruned
    * to the window's inputs before the exchange.
    */
  def rollingHourCount(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    df.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("n_last_hour", count(lit(1)).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("n_last_hour"))
      .orderBy(col("event_id"))
  }

  /** Next-event prediction accuracy of the first-order Markov model the
    * transition matrix ([[eventTransitions]]) implies: train the
    * argmax-successor per type on the first half of the timeline,
    * evaluate top-1 accuracy on the second half — the held-out check
    * that tells you whether journey n-grams carry signal before anyone
    * trains a sequence model on them.
    *
    * One user-keyed window produces every consecutive pair exactly once;
    * each pair is then classified train (both sides before the split) /
    * eval (predecessor at-or-after the split) / dropped (spans the
    * boundary), so a single scan feeds both phases. Everything after the
    * pair count is dimension-sized (|types|² rows): the model argmax
    * (ties broken to the lexicographically smallest successor — pinned,
    * not engine luck) ranks that tiny table, and the eval join is a
    * broadcast. Accuracy is integer e4 (hits·10⁴ div total) — exact on
    * both engines.
    */
  def markovEval(
      df: DataFrame,
      splitIso: String = "2024-01-15 00:00:00"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val split = lit(splitIso).cast("timestamp")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = df
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .withColumn("from_ts", lag(col("ts"), 1).over(w))
      .filter(col("from_type").isNotNull)
    // model and eval both read this |types|²-row table — persist (lazily,
    // the house pattern for shared frames; SparkEntry.clearCaches drops
    // it) so the corpus window + pair count run ONCE, not per branch
    val counts = pairs
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(
        sum(when(col("from_ts") < split && col("ts") < split, 1L)
          .otherwise(0L)).as("n_train"),
        // ordering within a user makes from_ts >= split imply ts >= split
        sum(when(col("from_ts") >= split, 1L).otherwise(0L)).as("n_eval"))
      .persist()
    val wRank = Window.partitionBy(col("from_type"))
      .orderBy(desc("n_train"), col("to_type"))
    val model = counts.filter(col("n_train") > 0)
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
      .select(col("from_type"), col("to_type").as("predicted"),
        col("n_train").as("n_train_top"))
    counts.filter(col("n_eval") > 0)
      .join(broadcast(model), Seq("from_type"), "left")
      .groupBy(col("from_type"))
      .agg(
        max(col("predicted")).as("predicted"),
        coalesce(max(col("n_train_top")), lit(0L)).as("n_train_top"),
        sum(col("n_eval")).as("n_eval"),
        sum(when(col("to_type") === col("predicted"), col("n_eval"))
          .otherwise(0L)).as("n_hits"))
      .withColumn("acc_e4", expr("n_hits * 10000 div n_eval"))
      .transform(Par.sortSmall(col("from_type")))
  }

  /** Sample-ratio-mismatch (SRM) gate — the sanity check that must pass
    * BEFORE anyone reads [[cupedLift]]'s lift: if the arm split isn't
    * the designed 50/50 at the unit level, the assignment mechanism is
    * broken and every downstream number is garbage. One-degree-of-
    * freedom chi-square against the expected split, e6-scaled through
    * exact integer arithmetic (obs·2 − total)²·10⁶ ÷ (4·total·…) —
    * flagged against the conventional 3.84 (p < 0.05) cut.
    *
    * Shape: one user collapse (arm = first assignment), then 2-row
    * arithmetic.
    */
  def srmCheck(df: DataFrame): DataFrame = {
    val users = df.select(col("user_id")).distinct()
      .withColumn("arm", col("user_id") % 2)
    val counts = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_units"))
    counts
      .crossJoin(broadcast(users.agg(count(lit(1)).as("n_total"))))
      // chi² for a 2-cell 50/50 design: Σ (o−e)²/e = (2o−n)²/n summed
      // over both cells = 2·(2o−n)²/(2n) per symmetry → compute once
      .withColumn("chi2_e6",
        expr("(2 * n_units - n_total) * (2 * n_units - n_total) " +
          "* 1000000 div n_total"))
      .withColumn("srm_flag", col("chi2_e6") > lit(3841459L))
      .select(col("arm"), col("n_units"), col("n_total"),
        col("chi2_e6"), col("srm_flag"))
      .orderBy(col("arm"))
  }

  /** Churn-label snapshot — the training-set generator for a retention
    * model: features from the window BEFORE the snapshot date, the label
    * ("churned") from activity after it. Getting this split wrong (any
    * feature peeking past the snapshot) is the classic label-leakage
    * bug; here the split is one timestamp literal used by every
    * conditional aggregate, so leakage is structurally impossible.
    * Only users active in the feature window become rows — a user first
    * seen after the snapshot has no features to train on.
    *
    * Shape: ONE user collapse with conditional aggregates (no join
    * between the windows); value stays integer cents.
    */
  def churnLabels(
      df: DataFrame,
      snapshotIso: String = "2024-01-23 00:00:00"): DataFrame = {
    val snap = lit(snapshotIso).cast("timestamp")
    val feat = col("ts") < snap
    df.groupBy(col("user_id"))
      .agg(
        sum(when(feat, 1L).otherwise(0L)).as("n_events_feat"),
        sum(when(feat && col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases_feat"),
        countDistinct(when(feat, to_date(col("ts")))).as("n_days_feat"),
        sum(when(feat,
          (col("value").cast("decimal(12,2)") * 100).cast("long"))
          .otherwise(0L)).as("value_cents_feat"),
        sum(when(!feat, 1L).otherwise(0L)).as("n_events_after"))
      .filter(col("n_events_feat") > 0)
      .withColumn("churned", (col("n_events_after") === 0L).cast("boolean"))
      .select(col("user_id"), col("n_events_feat"), col("n_purchases_feat"),
        col("n_days_feat"), col("value_cents_feat"), col("churned"))
      .orderBy(col("user_id"))
  }

  /** Kaplan-Meier survival curve for view→purchase conversion with
    * right-censoring at the dataset end — the estimator that answers
    * "how long until conversion" HONESTLY when many users haven't
    * converted yet (naive averages over converters only are biased
    * fast). Convention: risk set at day t counts everyone with neither
    * event nor censoring strictly before t (same-day censoring stays at
    * risk, the standard KM tie rule); S(t) multiplies (1 − dᵢ/nᵢ) over
    * event days ≤ t.
    *
    * Shape: first-view/first-purchase collapse to one row per viewer
    * (the [[conversionLatency]] join shape), then everything lives on
    * the ≤30-row duration-day dimension — the cumulative risk set and
    * the product (as exp∘Σln, sequential over the ordered dimension, so
    * both engines fold identically) never touch the event stream.
    */
  def survivalCurve(
      df: DataFrame,
      endIso: String = "2024-01-31 00:00:00"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val end = lit(endIso).cast("timestamp")
    val views = df.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val firstPurchase = df.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(views, "user_id")
      .filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val durations = views.join(firstPurchase, Seq("user_id"), "left")
      .select(
        when(col("p_ts").isNotNull,
          datediff(to_date(col("p_ts")), to_date(col("v_ts"))))
          .otherwise(datediff(to_date(end), to_date(col("v_ts"))))
          .cast("long").as("t_days"),
        col("p_ts").isNotNull.as("converted"))
    val days = durations.groupBy(col("t_days"))
      .agg(
        sum(when(col("converted"), 1L).otherwise(0L)).as("d_events"),
        sum(when(!col("converted"), 1L).otherwise(0L)).as("c_censored"))
    val wCum = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = durations.agg(count(lit(1)).as("n_total"))
    days.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") -
          coalesce(sum(col("d_events") + col("c_censored")).over(wCum), lit(0L)))
      // a day where EVERY remaining subject converts sends S to exactly 0
      // — ln(0) is out of domain on both engines, so the absorbing zero
      // is carried as an explicit prefix-max flag instead
      .withColumn("term",
        when(col("d_events") > 0L && col("d_events") < col("n_risk"),
          log(lit(1.0) - col("d_events").cast("double") /
            col("n_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("km_e4",
        expr("CAST(round(CASE WHEN max(CASE WHEN d_events >= n_risk " +
          "THEN 1 ELSE 0 END) OVER (ORDER BY t_days " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN 0.0 " +
          "ELSE exp(sum(term) OVER (ORDER BY t_days " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END " +
          "* 10000, 0) AS BIGINT)"))
      .select(col("t_days"), col("n_risk"), col("d_events"),
        col("c_censored"), col("km_e4"))
      .orderBy(col("t_days"))
  }

  /** SPEARMAN RANK CORRELATION between per-user activity (event count)
    * and per-user spend — the tie-aware monotone-association statistic
    * next to [[graft.ops.TextAnalysis.kendallTau]] (which ships the
    * tie-free construction): heavy-tailed engagement/spend relations
    * are monotone but wildly non-linear, so Pearson on raw values
    * understates them; Spearman is Pearson on MID-RANKS, and with ties
    * the mid-ranks must be averaged, not arbitrary.
    *
    * Exactness: ×2 mid-ranks ([[Scan.midRank2]], one value-domain
    * window per axis) are exact integers, so all Pearson
    * sufficient sums are exact; the final ρ is one correctly-rounded
    * sqrt/divide (the [[volumeAcf]] float discipline).
    *
    * Shape: ONE user collapse; each axis's ranks live on its value
    * domain (two dimension-sized windows + equi-joins back); the
    * statistic is a 1-row aggregate. DECIMAL sufficient sums — rank2
    * reaches 2n and its square times n overflows a Long near 2M users.
    */
  def spearman(df: DataFrame): DataFrame = {
    val per = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("a"),
        coalesce(sum((col("value").cast("decimal(12,2)") * 100)
          .cast("long")), lit(0L)).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // three consumers that column pruning makes unequal (no exchange
    // reuse): `per` stays cached until the 1-row result is checkpointed
    def ranks(c: String): DataFrame =
      Scan.midRank2(per.groupBy(col(c)).agg(count(lit(1)).as("cnt")),
        c, "cnt", s"r_$c").select(col(c), col(s"r_$c"))
    val out = per
      .join(ranks("a"), "a")
      .join(ranks("b"), "b")
      .agg(
        count(lit(1)).as("n"),
        sum(col("r_a").cast("decimal(38,0)")).as("sx"),
        sum(col("r_b").cast("decimal(38,0)")).as("sy"),
        sum((col("r_a") * col("r_b")).cast("decimal(38,0)")).as("sxy"),
        sum((col("r_a") * col("r_a")).cast("decimal(38,0)")).as("sxx"),
        sum((col("r_b") * col("r_b")).cast("decimal(38,0)")).as("syy"))
      .select(col("n"),
        expr("""CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
               |  THEN NULL
               |  ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
               |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
               |           * CAST(n * syy - sy * sy AS DOUBLE)) * 10000, 0)
               |    AS BIGINT) END""".stripMargin).as("rho_e4"))
    try out.localCheckpoint() finally per.unpersist(blocking = false)
  }

  /** DuckDB twin of [[spearman]] — identical ×2 mid-ranks and Pearson
    * literal.
    */
  def spearmanOracleSql: String =
    """WITH per AS (
      |  SELECT user_id, count(*)::BIGINT AS a,
      |    coalesce(sum((value::DECIMAL(12,2) * 100)::BIGINT), 0)::BIGINT
      |      AS b
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |ra AS (
      |  SELECT a, 2 * coalesce(sum(cnt) OVER (ORDER BY a
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS r_a
      |  FROM (SELECT a, count(*)::BIGINT AS cnt FROM per GROUP BY a)),
      |rb AS (
      |  SELECT b, 2 * coalesce(sum(cnt) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS r_b
      |  FROM (SELECT b, count(*)::BIGINT AS cnt FROM per GROUP BY b)),
      |j AS (SELECT r_a, r_b FROM per JOIN ra USING (a) JOIN rb USING (b)),
      |g AS (
      |  SELECT count(*)::BIGINT AS n,
      |    sum(r_a::HUGEINT) AS sx, sum(r_b::HUGEINT) AS sy,
      |    sum(r_a::HUGEINT * r_b) AS sxy,
      |    sum(r_a::HUGEINT * r_a) AS sxx,
      |    sum(r_b::HUGEINT * r_b) AS syy
      |  FROM j)
      |SELECT n,
      |  (CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
      |    THEN NULL
      |    ELSE CAST(round((n * sxy - sx * sy)::DOUBLE
      |      / sqrt((n * sxx - sx * sx)::DOUBLE
      |             * (n * syy - sy * sy)::DOUBLE) * 10000, 0) AS BIGINT)
      |  END) AS rho_e4
      |FROM g""".stripMargin

  /** LOG-RANK TEST between the two user-parity arms' conversion curves —
    * the hypothesis test that belongs to [[survivalCurve]]: "are these
    * two survival curves the same?" compared over EVERY event day with
    * censoring handled, not just at one horizon (Mantel 1966; the
    * standard primary analysis for time-to-event A/B readouts).
    * Same duration/censoring construction as the KM curve, arms from
    * user-id parity (the [[mannWhitney]] arm discipline).
    *
    * At each pooled event day t: observed arm-0 events d1_t vs the
    * hypergeometric expectation E1_t = d_t·n1_t/n_t and variance
    * V_t = d_t·(n1_t/n_t)·(n2_t/n_t)·(n_t−d_t)/(n_t−1); the statistic
    * is (Σd1 − ΣE1)²/ΣV ~ χ²(1). E and V terms quantize to e6 BEFORE
    * summing (micro-nat discipline — order-free integer totals); the
    * final χ² is one shared double literal, e4-rounded.
    *
    * Shape: one user collapse to durations, then everything lives on
    * the ≤31-row day dimension (cumulative risk sets are windows over
    * it); the statistic is a 1-row aggregate.
    */
  def logRank(
      df: DataFrame,
      endIso: String = "2024-01-31 00:00:00"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val end = lit(endIso).cast("timestamp")
    val views = df.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val firstPurchase = df.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(views, "user_id")
      .filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val durations = views.join(firstPurchase, Seq("user_id"), "left")
      .select((col("user_id") % 2 === 0).as("arm0"),
        when(col("p_ts").isNotNull,
          datediff(to_date(col("p_ts")), to_date(col("v_ts"))))
          .otherwise(datediff(to_date(end), to_date(col("v_ts"))))
          .cast("long").as("t_days"),
        col("p_ts").isNotNull.as("converted"))
    val days = durations.groupBy(col("t_days"))
      .agg(
        sum(when(col("arm0") && col("converted"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        sum(when(col("arm0"), 1L).otherwise(0L)).as("rm1"),
        count(lit(1)).as("rm"))
    val totals = durations.agg(
      sum(when(col("arm0"), 1L).otherwise(0L)).as("n1_total"),
      count(lit(1)).as("n_total"))
    val wCum = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = days.crossJoin(broadcast(totals))
      .withColumn("n1", col("n1_total") -
        coalesce(sum(col("rm1")).over(wCum), lit(0L)))
      .withColumn("n", col("n_total") -
        coalesce(sum(col("rm")).over(wCum), lit(0L)))
      .filter(col("d") > 0L)
      .select(col("d1"),
        expr("CAST(round(CAST(d AS DOUBLE) * n1 / n * 1000000) AS BIGINT)")
          .as("e1_e6"),
        expr("""CASE WHEN n > 1 THEN
               |  CAST(round(CAST(d AS DOUBLE) * n1 * (n - n1) * (n - d)
               |    / (CAST(n AS DOUBLE) * n * (n - 1)) * 1000000) AS BIGINT)
               |ELSE 0L END""".stripMargin).as("v_e6"))
    terms.agg(
        sum(col("d1")).as("o1"),
        sum(col("e1_e6")).as("e1_e6"),
        sum(col("v_e6")).as("v_e6"))
      .crossJoin(broadcast(totals))
      .select(col("n1_total"),
        (col("n_total") - col("n1_total")).as("n2_total"),
        col("o1"), col("e1_e6"), col("v_e6"),
        expr("""CASE WHEN v_e6 > 0 THEN
               |  CAST(round((CAST(o1 * 1000000 - e1_e6 AS DOUBLE) / 1000000)
               |    * (CAST(o1 * 1000000 - e1_e6 AS DOUBLE) / 1000000)
               |    / (CAST(v_e6 AS DOUBLE) / 1000000) * 10000) AS BIGINT)
               |END""".stripMargin).as("chi2_e4"))
  }

  /** DuckDB twin of [[logRank]] — identical duration construction,
    * per-day e6 hypergeometric terms, shared χ² literal.
    */
  def logRankOracleSql(endIso: String = "2024-01-31 00:00:00"): String =
    s"""WITH views AS (
       |  SELECT user_id, min(ts) AS v_ts FROM events
       |  WHERE event_type = 'view' GROUP BY 1),
       |fp AS (
       |  SELECT e.user_id, min(e.ts) AS p_ts
       |  FROM events e JOIN views v ON e.user_id = v.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
       |  GROUP BY 1),
       |dur AS (
       |  SELECT (v.user_id % 2 = 0) AS arm0,
       |    (CASE WHEN p_ts IS NOT NULL
       |      THEN date_diff('day', v_ts::DATE, p_ts::DATE)
       |      ELSE date_diff('day', v_ts::DATE, TIMESTAMP '$endIso'::DATE)
       |    END)::BIGINT AS t_days,
       |    p_ts IS NOT NULL AS converted
       |  FROM views v LEFT JOIN fp ON v.user_id = fp.user_id),
       |days AS (
       |  SELECT t_days,
       |    sum(CASE WHEN arm0 AND converted THEN 1 ELSE 0 END)::BIGINT AS d1,
       |    sum(CASE WHEN converted THEN 1 ELSE 0 END)::BIGINT AS d,
       |    sum(CASE WHEN arm0 THEN 1 ELSE 0 END)::BIGINT AS rm1,
       |    count(*)::BIGINT AS rm
       |  FROM dur GROUP BY 1),
       |tot AS (
       |  SELECT sum(CASE WHEN arm0 THEN 1 ELSE 0 END)::BIGINT AS n1_total,
       |    count(*)::BIGINT AS n_total
       |  FROM dur),
       |risk AS (
       |  SELECT d1, d,
       |    n1_total - coalesce(sum(rm1) OVER (ORDER BY t_days
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
       |    n_total - coalesce(sum(rm) OVER (ORDER BY t_days
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
       |  FROM days CROSS JOIN tot),
       |terms AS (
       |  SELECT d1,
       |    CAST(round(d::DOUBLE * n1 / n * 1000000) AS BIGINT) AS e1_e6,
       |    (CASE WHEN n > 1 THEN
       |      CAST(round(d::DOUBLE * n1 * (n - n1) * (n - d)
       |        / (n::DOUBLE * n * (n - 1)) * 1000000) AS BIGINT)
       |    ELSE 0 END) AS v_e6
       |  FROM risk WHERE d > 0),
       |agg AS (
       |  SELECT sum(d1)::BIGINT AS o1, sum(e1_e6)::BIGINT AS e1_e6,
       |    sum(v_e6)::BIGINT AS v_e6
       |  FROM terms)
       |SELECT n1_total, (n_total - n1_total)::BIGINT AS n2_total,
       |  o1, e1_e6, v_e6,
       |  (CASE WHEN v_e6 > 0 THEN
       |    CAST(round(((o1 * 1000000 - e1_e6)::DOUBLE / 1000000)
       |      * ((o1 * 1000000 - e1_e6)::DOUBLE / 1000000)
       |      / (v_e6::DOUBLE / 1000000) * 10000) AS BIGINT)
       |  END) AS chi2_e4
       |FROM agg CROSS JOIN tot""".stripMargin

  /** Streaming state-store sizing audit: for each candidate session gap,
    * how many sessions would be OPEN simultaneously — the number that
    * sizes `flatMapGroupsWithState` state and decides whether a gap
    * config fits executor memory before anyone deploys it. A session
    * opens at its first event (previous same-user gap absent or > g) and
    * expires g after its last event (next gap absent or > g); concurrency
    * is the sweep-line running sum of ±1 deltas — the [[graft.ops.Relational]]
    * orderBacklog discipline, so there is never a sessions×time join.
    *
    * Shape: ONE user-keyed window (LAG + LEAD gaps serve every candidate
    * g), deltas explode row-locally per g, aggregate onto the (g, minute)
    * dimension, and the running sum windows only there. Peak and mean
    * concurrency are exact integers (mean over the observed span,
    * e2-scaled).
    */
  def stateSizing(
      df: DataFrame,
      gapsUs: Seq[Long] = Seq(60000000L, 600000000L, 3600000000L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gapsSql = gapsUs.mkString(",")
    val gapped = df
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .withColumn("next_gap", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .select(col("ts_us"), col("prev_gap"), col("next_gap"),
        explode(expr(s"array($gapsSql)")).as("g"))
    // +1 at the session's opening minute, −1 at expiry (last event + g)
    val deltas = gapped.select(col("g"),
        expr("ts_us div 60000000").as("minute"),
        when(col("prev_gap").isNull || col("prev_gap") > col("g"), 1L)
          .otherwise(0L).as("opens"))
      .unionByName(gapped.select(col("g"),
        expr("(ts_us + g) div 60000000").as("minute"),
        when(col("next_gap").isNull || col("next_gap") > col("g"), lit(-1L))
          .otherwise(0L).as("opens")))
      .filter(col("opens") =!= 0L)
      .groupBy(col("g"), col("minute"))
      .agg(sum(col("opens")).as("delta"),
        // opens counted separately — a minute netting opens against
        // closes must not under-count sessions
        sum(when(col("opens") > 0L, 1L).otherwise(0L)).as("n_open"))
    val wRun = Window.partitionBy(col("g")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("open_sessions", sum(col("delta")).over(wRun))
      .groupBy(col("g"))
      .agg(
        sum(col("n_open")).as("n_sessions"),
        max(col("open_sessions")).as("peak_concurrent"),
        (max(col("minute")) - min(col("minute"))).as("span_minutes"),
        // time-weighted mean needs the inter-minute durations; the
        // simple mean over CHANGE points is the conservative readout
        expr("sum(open_sessions * 100) div count(1)").as("mean_at_changes_e2"))
      .orderBy(col("g"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13 —
    * the industry-standard A/B adjustment): users are assigned arms by
    * id parity, the metric is each user's post-period spend, and the
    * pre-period spend is the covariate. adjusted = post − θ·(pre −
    * pooled-mean-pre) with θ = cov(pre, post)/var(pre) removes the
    * between-user variance the pre-period already explains, so the same
    * traffic yields tighter intervals — the readout that decides
    * experiments faster at any scale.
    *
    * Exactness discipline: per-user totals in integer cents, pooled
    * moments as exact DECIMAL(38,0) sums; θ and the arm means are each
    * ONE correctly-rounded double conversion + IEEE arithmetic, so both
    * engines produce bit-identical doubles before the 4 dp presentation
    * round. Shape: one user collapse (partial+final), then arm-sized
    * frames; the moment aggregate is a broadcast scalar.
    */
  def cupedLift(
      df: DataFrame,
      splitIso: String = "2024-01-15 00:00:00"): DataFrame = {
    val split = lit(splitIso).cast("timestamp")
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val users = df.select(col("user_id"), col("ts"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < split, col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("ts") >= split, col("cents")).otherwise(0L)).as("post"))
      .withColumn("arm", col("user_id") % 2)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = users.agg(
      count(lit(1)).as("n"),
      sum(dec(col("pre"))).as("sx"),
      sum(dec(col("post"))).as("sy"),
      sum(dec(col("pre")) * dec(col("pre"))).as("sxx"),
      sum(dec(col("pre")) * dec(col("post"))).as("sxy"))
    users
      .groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(dec(col("pre"))).as("sx_a"),
        sum(dec(col("post"))).as("sy_a"))
      .crossJoin(broadcast(m))
      .withColumn("theta",
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("mean_pre",
        col("sx_a").cast("double") / col("n_users").cast("double"))
      .withColumn("mean_post",
        col("sy_a").cast("double") / col("n_users").cast("double"))
      .select(col("arm"), col("n_users"),
        round(col("mean_pre"), 4).as("mean_pre_cents"),
        round(col("mean_post"), 4).as("mean_post_cents"),
        round(col("theta"), 6).as("theta"),
        round(col("mean_post") - col("theta") *
          (col("mean_pre") - col("sx").cast("double") / col("n").cast("double")),
          4).as("adjusted_mean_cents"))
      .orderBy(col("arm"))
  }

  /** Event-time disorder profile — the audit that picks a streaming
    * watermark. Arrival order is the monotone `event_id`; each event's
    * lateness is how far its event time sits behind the running maximum
    * event time over all STRICTLY PRIOR arrivals (exactly the quantity a
    * `withWatermark` delay must exceed for the event to survive).
    * Reported per type: late shares at 0/1 s/1 min/10 min thresholds
    * (integer e4), max and exact integer-division mean lateness.
    *
    * The running max is [[Scan.exclusive]] with no key (`blockWidth` is
    * its block width): the raw stream never rides a single-partition
    * global window, and max is associative, so the result is exact.
    */
  def disorderProfile(df: DataFrame, blockWidth: Long = 65536L): DataFrame = {
    val e = df.select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    // an empty prefix is null: the very first arrival cannot be late
    Scan.exclusive(e, Nil, "event_id", "ts_us", blockWidth, Scan.Max,
        "wm_before")
      .withColumn("late_us",
        when(col("wm_before").isNull, lit(0L))
          .otherwise(greatest(lit(0L), col("wm_before") - col("ts_us"))))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
        sum(when(col("late_us") > 1000000L, 1L).otherwise(0L)).as("n_late_1s"),
        sum(when(col("late_us") > 60000000L, 1L).otherwise(0L)).as("n_late_1m"),
        sum(when(col("late_us") > 600000000L, 1L).otherwise(0L)).as("n_late_10m"),
        max(col("late_us")).as("max_late_us"),
        expr("sum(late_us) div count(1)").as("avg_late_us"))
      .withColumn("late_share_e4", expr("n_late * 10000 div n_events"))
      .transform(Par.sortSmall(col("event_type")))
  }

  /** Portable order-free table checksum — the migration-validation
    * primitive this very project runs on: after copying 100 TB between
    * engines (or formats, or clouds), prove row-level equality WITHOUT
    * shipping rows. Each row folds to one integer through plain modular
    * arithmetic (no engine-private hash — any SQL engine can replay it),
    * and the per-group SUM of row hashes is order- and partition-free,
    * so two engines agree iff the multisets of rows agree (mod-M sum
    * collisions are the usual 1/M caveat). Grouped by event_type so a
    * mismatch localizes before anyone bisects 100 TB.
    *
    * Shape: row-local hashing, one partial+final aggregate onto the
    * type dimension plus a grand-total row via rollup. Nulls fold as
    * sentinels, money as exact cents, timestamps as unix micros.
    */
  private val ChecksumM = 1000000007L

  /** The five-field fold as expression text, parameterized by each
    * engine's non-negative-mod form so BOTH run literally the same
    * arithmetic chain: h = fold over (event_id, user_id, typehash,
    * cents, ts_us) of pmod(h·p + field, M).
    */
  private def checksumChain(pmodOf: String => String, typeHash: String,
      tsUs: String): String = {
    val fields = Seq(
      ("coalesce(event_id, -1)", 1L),
      ("coalesce(user_id, -1)", 31L),
      (typeHash, 131L),
      ("coalesce(CAST(round(value * 100, 0) AS BIGINT), -1)", 31L),
      (s"coalesce($tsUs, -1)", 131L))
    fields.foldLeft("0") { case (acc, (f, p)) =>
      pmodOf(s"($acc) * $p + $f")
    }
  }

  /** The Spark-side row-hash chain (expects a `th` type-hash column in
    * scope) — shared with [[graft.stream.ChecksumMonitor]] so the live
    * fingerprint and the batch audit hash identically by construction.
    */
  private[graft] def checksumHashExpr: String = checksumChain(
    x => s"pmod($x, ${ChecksumM}L)", "th", "unix_micros(ts)")

  def tableChecksum(df: DataFrame): DataFrame = {
    df.withColumn("th", TextAnalysis.rollingFingerprint(col("event_type")))
      .withColumn("h", expr(checksumHashExpr))
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"pmod(sum(h), ${ChecksumM}L)").as("checksum"))
      .withColumn("event_type", coalesce(col("event_type"), lit("TOTAL")))
      .transform(Par.sortSmall(col("event_type")))
  }

  /** DuckDB oracle for [[tableChecksum]]. */
  def tableChecksumOracleSql: String = {
    val typeHash =
      """list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(event_type, ''),
        |        c -> ord(c)::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin
    val h = checksumChain(
      x => s"((($x) % $ChecksumM + $ChecksumM) % $ChecksumM)",
      typeHash, "epoch_us(ts)")
    s"""WITH h AS (SELECT event_type, $h AS h FROM events),
       |g AS (SELECT event_type, count(*)::BIGINT AS n_rows,
       |        (sum(h) % $ChecksumM)::BIGINT AS checksum
       |      FROM h GROUP BY event_type),
       |t AS (SELECT 'TOTAL' AS event_type, count(*)::BIGINT AS n_rows,
       |        (sum(h) % $ChecksumM)::BIGINT AS checksum
       |      FROM h HAVING count(*) > 0)
       |SELECT * FROM g UNION ALL SELECT * FROM t ORDER BY event_type"""
      .stripMargin
  }

  /** Entry-path analysis: the top first-three-step journeys and each
    * path's conversion rate — "how do users who end up buying actually
    * START?" [[entryExitFlows]] sees only endpoints and [[cepPattern]]
    * counts one motif; this ranks the actual opening sequences, the
    * product-analytics view a funnel redesign is argued from.
    *
    * Shape: ONE shuffle onto user_id (the [[cepPattern]] deterministic
    * array_sort assembly, sliced to 3 — per-user payload stays
    * journey-bounded), then a path-dimension aggregate and a pushed
    * top-k. Conversion = the user ever purchases, computed in the same
    * per-user aggregate.
    */
  def journeyPrefixes(df: DataFrame, steps: Int = 3, k: Int = 20): DataFrame = {
    val perUser = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        array_join(slice(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type").as("t")))),
            x => x.getField("t")), 1, steps), ">").as("path"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    perUser.groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
      .withColumn("conv_e4", expr("n_converted * 10000 div n_users"))
      .orderBy(desc("n_users"), col("path"))
      .limit(k)
  }

  /** DuckDB oracle for [[journeyPrefixes]]. */
  def journeyPrefixesOracleSql(steps: Int = 3, k: Int = 20): String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    array_to_string((array_agg(event_type ORDER BY ts, event_id))
       |      [1:$steps], '>') AS path,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
       |      AS converted
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
       |SELECT path, count(*)::BIGINT AS n_users,
       |  sum(converted)::BIGINT AS n_converted,
       |  (sum(converted) * 10000 // count(*))::BIGINT AS conv_e4
       |FROM u GROUP BY path
       |ORDER BY n_users DESC, path LIMIT $k""".stripMargin

  /** Spark's NATIVE session_window aggregation, pinned against a
    * first-principles oracle. [[stream.Sessionize]] implements sessions
    * as custom state; this query runs the built-in operator —
    * `groupBy(user, session_window(ts, gap))` — whose semantics (an
    * event extends a session iff its timestamp lands inside the CLOSED
    * interval [start, last + gap]; an exact boundary hit MERGES — the
    * edge the unit test pins, invisible on continuous-timestamp data) the
    * DuckDB side re-derives as a classic gaps-and-islands window, so a
    * user can swap the custom sessionizer for the native operator
    * knowing the two agree to the microsecond.
    *
    * Shape: one shuffle onto user_id; the session merge is Spark's own
    * UpdatingSessionsExec machinery — the point of going native is
    * inheriting its spill-safe implementation at 100 TB.
    */
  def nativeSessionWindow(df: DataFrame, gapMinutes: Int = 10): DataFrame = {
    df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))
  }

  /** DuckDB oracle for [[nativeSessionWindow]] — gaps-and-islands with
    * Spark's inclusive boundary rule (diff > gap breaks; an exact
    * gap-width hit merges) and end = last + gap.
    */
  def nativeSessionWindowOracleSql(gapMinutes: Int = 10): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us
       |  FROM events WHERE user_id IS NOT NULL),
       |m AS (SELECT user_id, us,
       |        CASE WHEN lag(us) OVER w IS NULL
       |               OR us - lag(us) OVER w > $gapUs
       |             THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |s AS (SELECT user_id, us,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM m)
       |SELECT user_id, min(us)::BIGINT AS start_us,
       |  (max(us) + $gapUs)::BIGINT AS end_us, count(*)::BIGINT AS n_events
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin
  }

  /** Uplift-by-decile readout — the heterogeneity view an average
    * treatment effect hides: rank users by an engagement proxy (view
    * count), split into deciles, and report the arms' conversion gap
    * PER DECILE. A treatment that helps heavy browsers and hurts
    * light ones nets to zero in [[cupedLift]]'s average; this table is
    * where targeting decisions actually come from (the per-segment
    * uplift curve behind Qini/uplift-AUC).
    *
    * Determinism: deciles come from ntile over the total order
    * (views desc, user_id) on the USER dimension; all counts exact,
    * conversion shares integer-e4. Shape: one user collapse, one
    * user-dimension window, a 10-row aggregate.
    */
  def upliftDeciles(df: DataFrame, deciles: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .withColumn("arm", (col("user_id") % 2).cast("long"))
      .withColumn("decile", ntile(deciles).over(
        Window.orderBy(desc("views"), col("user_id"))).cast("long"))
    users.groupBy(col("decile"))
      .agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 0L, col("converted")).otherwise(0L))
          .as("conv_t"),
        sum(when(col("arm") === 1L, col("converted")).otherwise(0L))
          .as("conv_c"),
        min(col("views")).as("views_min"),
        max(col("views")).as("views_max"))
      .withColumn("rate_t_e4",
        expr("CASE WHEN n_t > 0 THEN conv_t * 10000 div n_t END"))
      .withColumn("rate_c_e4",
        expr("CASE WHEN n_c > 0 THEN conv_c * 10000 div n_c END"))
      .withColumn("uplift_e4", col("rate_t_e4") - col("rate_c_e4"))
      .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"),
        col("conv_c"), col("views_min"), col("views_max"),
        col("rate_t_e4"), col("rate_c_e4"), col("uplift_e4"))
      .orderBy(col("decile"))
  }

  /** DuckDB oracle for [[upliftDeciles]]. */
  def upliftDecilesOracleSql(deciles: Int = 10): String =
    s"""WITH u AS (
       |  SELECT user_id, user_id % 2 AS arm,
       |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
       |      AS views,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
       |      AS converted
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |d AS (SELECT *, ntile($deciles)
       |        OVER (ORDER BY views DESC, user_id)::BIGINT AS decile
       |      FROM u),
       |g AS (SELECT decile,
       |        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_t,
       |        sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_c,
       |        sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)::BIGINT
       |          AS conv_t,
       |        sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)::BIGINT
       |          AS conv_c,
       |        min(views)::BIGINT AS views_min,
       |        max(views)::BIGINT AS views_max
       |      FROM d GROUP BY decile)
       |SELECT decile, n_t, n_c, conv_t, conv_c, views_min, views_max,
       |  (CASE WHEN n_t > 0 THEN conv_t * 10000 // n_t END)::BIGINT
       |    AS rate_t_e4,
       |  (CASE WHEN n_c > 0 THEN conv_c * 10000 // n_c END)::BIGINT
       |    AS rate_c_e4,
       |  ((CASE WHEN n_t > 0 THEN conv_t * 10000 // n_t END)
       |   - (CASE WHEN n_c > 0 THEN conv_c * 10000 // n_c END))::BIGINT
       |    AS uplift_e4
       |FROM g ORDER BY decile""".stripMargin

  /** Evaluation-stability audit — is a metric read off one eval split
    * trustworthy, or fold noise? Users hash deterministically into k
    * folds ([[graft.ops.Corpus]] split discipline); each fold's mean
    * purchase value is an exact integer; the across-fold spread (exact
    * integer variance of fold means, IEEE-exact final sqrt) is the
    * error bar any single-split metric carries. A CV above a few
    * percent says "your eval split is too small to resolve the deltas
    * you are reading".
    *
    * Shape: one collapse onto the k-row fold dimension, then 1-row
    * arithmetic — the [[Relational.poissonBootstrapSE]] shape with
    * folds instead of replicas.
    */
  def foldStability(df: DataFrame, k: Int = 8): DataFrame = {
    require(k > 1, "need at least 2 folds")
    val folds = df.filter(col("user_id").isNotNull &&
        col("event_type") === "purchase")
      .select(
        expr(s"pmod(user_id * 1103515245L + 12345L, ${1000000007L}L) % ${k}L")
          .as("fold"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"))
      .filter(col("n") > 0L)
      .withColumn("m", expr("sx div n"))
    folds.agg(
      count(lit(1)).as("n_folds"),
      coalesce(sum(col("n")), lit(0L)).as("n_rows"),
      sum(col("m")).as("sm"),
      sum(col("m") * col("m")).as("smm"),
      min(col("m")).as("fold_mean_min_cents"),
      max(col("m")).as("fold_mean_max_cents"))
      .withColumn("fold_sd_cents", expr(
        """CASE WHEN n_folds >= 2 THEN
          |  CAST(round(sqrt(CAST((n_folds * smm - sm * sm)
          |    div (n_folds * (n_folds - 1)) AS DOUBLE)), 0) AS BIGINT)
          |END""".stripMargin))
      .withColumn("cv_e4", expr(
        """CASE WHEN n_folds >= 2 AND sm > 0 THEN
          |  fold_sd_cents * n_folds * 10000 div sm
          |END""".stripMargin))
      .select(col("n_folds"), col("n_rows"), col("fold_mean_min_cents"),
        col("fold_mean_max_cents"), col("fold_sd_cents"), col("cv_e4"))
  }

  /** DuckDB oracle for [[foldStability]]. */
  def foldStabilityOracleSql(k: Int = 8): String =
    s"""WITH f AS (
       |  SELECT ((user_id * 1103515245 + 12345) % 1000000007) % $k AS fold,
       |    count(*)::BIGINT AS n,
       |    sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sx
       |  FROM events
       |  WHERE user_id IS NOT NULL AND event_type = 'purchase'
       |  GROUP BY 1),
       |m AS (SELECT fold, n, sx, (sx // n)::BIGINT AS m FROM f WHERE n > 0),
       |a AS (SELECT count(*)::BIGINT AS n_folds,
       |        coalesce(sum(n), 0)::BIGINT AS n_rows,
       |        sum(m)::BIGINT AS sm, sum(m * m)::BIGINT AS smm,
       |        min(m)::BIGINT AS fold_mean_min_cents,
       |        max(m)::BIGINT AS fold_mean_max_cents
       |      FROM m),
       |s AS (SELECT *,
       |        (CASE WHEN n_folds >= 2 THEN
       |          CAST(round(sqrt(((n_folds * smm - sm * sm)
       |            // (n_folds * (n_folds - 1)))::DOUBLE), 0) AS BIGINT)
       |        END) AS fold_sd_cents
       |      FROM a)
       |SELECT n_folds, n_rows, fold_mean_min_cents, fold_mean_max_cents,
       |  fold_sd_cents,
       |  (CASE WHEN n_folds >= 2 AND sm > 0 THEN
       |    fold_sd_cents * n_folds * 10000 // sm END)::BIGINT AS cv_e4
       |FROM s""".stripMargin

  /** Leak-free target encoding audit — the ML featurizer that turns a
    * category into its target mean, done the only safe way: each row's
    * encoding excludes the row itself (leave-one-out), because the naive
    * version leaks the label into the feature and inflates offline
    * metrics that collapse in production. Per category: the naive
    * encoding, the LOO encoding's spread (min/max/mean), and the max
    * |naive − LOO| gap — the number that says how much leakage the
    * naive feature would smuggle for THIS cardinality.
    *
    * Exactness: LOO enc per row is (S_c − x)/(n_c − 1) from exact
    * integer cents, e4-quantized per row BEFORE aggregation. Shape: one
    * collapse to per-category (n, S), broadcast back for the row-local
    * LOO, one aggregate onto the category dimension.
    */
  def targetEncoding(df: DataFrame): DataFrame = {
    val vals = df.filter(col("user_id").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val stats = vals.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_c"), sum(col("cents")).as("s_c"))
    vals.join(broadcast(stats), Seq("event_type"))
      .filter(col("n_c") > 1L)
      .withColumn("loo_e4", expr(
        """CAST(round(CAST(s_c - cents AS DOUBLE) / (n_c - 1) * 10000, 0)
          |  AS BIGINT)""".stripMargin))
      .withColumn("naive_e4", expr(
        "CAST(round(CAST(s_c AS DOUBLE) / n_c * 10000, 0) AS BIGINT)"))
      .groupBy(col("event_type"), col("n_c"), col("naive_e4"))
      .agg(
        min(col("loo_e4")).as("loo_min_e4"),
        max(col("loo_e4")).as("loo_max_e4"),
        expr("sum(loo_e4) div count(1)").as("loo_mean_e4"),
        max(abs(col("loo_e4") - col("naive_e4"))).as("max_leak_gap_e4"))
      .select(col("event_type"), col("n_c"), col("naive_e4"),
        col("loo_min_e4"), col("loo_max_e4"), col("loo_mean_e4"),
        col("max_leak_gap_e4"))
      .transform(Par.sortSmall(col("event_type")))
  }

  /** DuckDB oracle for [[targetEncoding]]. */
  def targetEncodingOracleSql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events WHERE user_id IS NOT NULL),
      |s AS (SELECT event_type, count(*)::BIGINT AS n_c,
      |        sum(cents)::BIGINT AS s_c
      |      FROM v GROUP BY 1),
      |r AS (SELECT v.event_type, n_c, cents, s_c,
      |        CAST(round((s_c - cents)::DOUBLE / (n_c - 1) * 10000, 0)
      |          AS BIGINT) AS loo_e4,
      |        CAST(round(s_c::DOUBLE / n_c * 10000, 0) AS BIGINT)
      |          AS naive_e4
      |      FROM v JOIN s USING (event_type) WHERE n_c > 1)
      |SELECT event_type, n_c, naive_e4,
      |  min(loo_e4)::BIGINT AS loo_min_e4,
      |  max(loo_e4)::BIGINT AS loo_max_e4,
      |  (sum(loo_e4) // count(*))::BIGINT AS loo_mean_e4,
      |  max(abs(loo_e4 - naive_e4))::BIGINT AS max_leak_gap_e4
      |FROM r GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin

  /** Per-step funnel arm comparison — the intersection of the funnel and
    * experimentation planes: for each journey transition (view→click,
    * click→purchase), each arm's user-level conversion and the pooled
    * two-proportion z. [[stepFunnel]] reports the funnel; this says
    * whether the ARMS' funnels differ, step by step — where a treatment
    * moved the needle, not just whether.
    *
    * Exactness: reach counts are exact integers from one user collapse;
    * the z is the single double excursion per step (exact-integer-
    * sourced pooled rate, one correctly-rounded sqrt), e4-rounded.
    * Shape: one user aggregate (reach flags as maxes), one 2×steps-cell
    * aggregate, step-dimension arithmetic.
    */
  def funnelArmTest(
      df: DataFrame,
      steps: Seq[(String, String)] =
        Seq(("view", "click"), ("click", "purchase"))): DataFrame = {
    val spark = df.sparkSession
    val reach = steps.flatMap(s => Seq(s._1, s._2)).distinct.map(t =>
      max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"r_$t"))
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(reach.head, reach.tail: _*)
      .withColumn("arm", (col("user_id") % 2).cast("long"))
    val grid = spark.createDataFrame(
      steps.zipWithIndex.map { case ((a, b), i) => (i.toLong + 1L, a, b) })
      .toDF("step", "from_type", "to_type")
    val cells = steps.zipWithIndex.map { case ((a, b), i) =>
      users.groupBy(col("arm"))
        .agg(
          sum(col(s"r_$a")).as("n_from"),
          sum(when(col(s"r_$a") === 1L && col(s"r_$b") === 1L, 1L)
            .otherwise(0L)).as("n_to"))
        .withColumn("step", lit(i.toLong + 1L))
    }.reduce(_ unionByName _)
    val wide = cells.groupBy(col("step"))
      .agg(
        sum(when(col("arm") === 0L, col("n_from")).otherwise(0L)).as("from_a"),
        sum(when(col("arm") === 0L, col("n_to")).otherwise(0L)).as("to_a"),
        sum(when(col("arm") === 1L, col("n_from")).otherwise(0L)).as("from_b"),
        sum(when(col("arm") === 1L, col("n_to")).otherwise(0L)).as("to_b"))
    wide.join(broadcast(grid), "step")
      .withColumn("conv_a_e4",
        expr("CASE WHEN from_a > 0 THEN to_a * 10000 div from_a END"))
      .withColumn("conv_b_e4",
        expr("CASE WHEN from_b > 0 THEN to_b * 10000 div from_b END"))
      .withColumn("z_e4", expr(
        """CASE WHEN from_a > 0 AND from_b > 0
          |       AND (to_a + to_b) > 0 AND (to_a + to_b) < (from_a + from_b)
          |THEN CAST(round(
          |  (CAST(to_a AS DOUBLE) / from_a - CAST(to_b AS DOUBLE) / from_b)
          |  * 10000.0 / sqrt(
          |    (CAST(to_a + to_b AS DOUBLE) / (from_a + from_b))
          |    * (1.0 - CAST(to_a + to_b AS DOUBLE) / (from_a + from_b))
          |    * (1.0 / from_a + 1.0 / from_b)), 0) AS BIGINT)
          |END""".stripMargin))
      .select(col("step"), col("from_type"), col("to_type"),
        col("from_a"), col("to_a"), col("from_b"), col("to_b"),
        col("conv_a_e4"), col("conv_b_e4"), col("z_e4"))
      .orderBy(col("step"))
  }

  /** DuckDB oracle for [[funnelArmTest]]. */
  def funnelArmTestOracleSql(
      steps: Seq[(String, String)] =
        Seq(("view", "click"), ("click", "purchase"))): String = {
    val types = steps.flatMap(s => Seq(s._1, s._2)).distinct
    val reachCols = types.map(t =>
      s"max(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS r_$t")
      .mkString(",\n      |        ")
    val stepRows = steps.zipWithIndex.map { case ((a, b), i) =>
      s"""SELECT ${i + 1}::BIGINT AS step, '$a' AS from_type, '$b' AS to_type,
         |    sum(CASE WHEN arm = 0 THEN r_$a ELSE 0 END)::BIGINT AS from_a,
         |    sum(CASE WHEN arm = 0 AND r_$a = 1 AND r_$b = 1 THEN 1 ELSE 0 END)::BIGINT AS to_a,
         |    sum(CASE WHEN arm = 1 THEN r_$a ELSE 0 END)::BIGINT AS from_b,
         |    sum(CASE WHEN arm = 1 AND r_$a = 1 AND r_$b = 1 THEN 1 ELSE 0 END)::BIGINT AS to_b
         |  FROM u""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH u AS (
       |  SELECT user_id, user_id % 2 AS arm,
       |        $reachCols
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |c AS (
       |  $stepRows)
       |SELECT step, from_type, to_type, from_a, to_a, from_b, to_b,
       |  (CASE WHEN from_a > 0 THEN to_a * 10000 // from_a END)::BIGINT
       |    AS conv_a_e4,
       |  (CASE WHEN from_b > 0 THEN to_b * 10000 // from_b END)::BIGINT
       |    AS conv_b_e4,
       |  (CASE WHEN from_a > 0 AND from_b > 0
       |          AND (to_a + to_b) > 0 AND (to_a + to_b) < (from_a + from_b)
       |   THEN CAST(round(
       |     (to_a::DOUBLE / from_a - to_b::DOUBLE / from_b)
       |     * 10000.0 / sqrt(
       |       ((to_a + to_b)::DOUBLE / (from_a + from_b))
       |       * (1.0 - (to_a + to_b)::DOUBLE / (from_a + from_b))
       |       * (1.0 / from_a + 1.0 / from_b)), 0) AS BIGINT)
       |   END) AS z_e4
       |FROM c ORDER BY step""".stripMargin
  }

  /** Welch's unequal-variance t — the parametric sibling of
    * [[mannWhitney]] on the same user-parity arms: difference of mean
    * purchase values in units of its standard error, with each arm's own
    * variance (never pooled — arm sizes and spreads differ by design in
    * any real rollout). Moments are exact integers (BIGINT Σx,
    * DECIMAL(38,0) Σx²); the t statistic is the single double excursion
    * (two exact-integer-sourced divisions, one correctly-rounded sqrt),
    * e4-rounded — the [[abPower]] constant-free discipline.
    *
    * Shape: one partial+final aggregate onto the 2-row arm dimension;
    * the statistic assembles on that.
    */
  def welchTTest(df: DataFrame): DataFrame = {
    val vals = df.filter(col("user_id").isNotNull &&
        col("event_type") === "purchase")
      .select((col("user_id") % 2).as("arm"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val arms = vals.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("sxx"))
      .withColumn("mean_cents", expr("sx div n"))
      .withColumn("var_c2", expr(
        """CASE WHEN n > 1 THEN CAST(
          |  (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
          |    div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)
          |END""".stripMargin))
    val a = arms.filter(col("arm") === 0L)
      .select(col("n").as("n_a"), col("sx").as("sx_a"),
        col("var_c2").as("var_a_c2"), col("mean_cents").as("mean_a_cents"))
    val b = arms.filter(col("arm") === 1L)
      .select(col("n").as("n_b"), col("sx").as("sx_b"),
        col("var_c2").as("var_b_c2"), col("mean_cents").as("mean_b_cents"))
    a.crossJoin(b)
      .withColumn("t_e4", expr(
        """CASE WHEN n_a > 1 AND n_b > 1
          |       AND var_a_c2 * n_b + var_b_c2 * n_a > 0 THEN
          |  CAST(round((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b)
          |    * 10000.0 / sqrt(CAST(var_a_c2 AS DOUBLE) / n_a
          |                     + CAST(var_b_c2 AS DOUBLE) / n_b), 0) AS BIGINT)
          |END""".stripMargin))
      .select(col("n_a"), col("n_b"), col("mean_a_cents"),
        col("mean_b_cents"), col("var_a_c2"), col("var_b_c2"), col("t_e4"))
  }

  /** DuckDB oracle for [[welchTTest]]. */
  def welchTTestOracleSql: String =
    """WITH v AS (
      |  SELECT user_id % 2 AS arm, CAST(round(value * 100, 0) AS BIGINT)
      |    AS cents
      |  FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'),
      |m AS (SELECT arm, count(*)::BIGINT AS n, sum(cents)::BIGINT AS sx,
      |        sum(cents::HUGEINT * cents)::HUGEINT AS sxx
      |      FROM v GROUP BY arm),
      |w AS (SELECT arm, n, sx, (sx // n)::BIGINT AS mean_cents,
      |        (CASE WHEN n > 1 THEN
      |          (n * sxx - sx::HUGEINT * sx)
      |            // (n::HUGEINT * (n - 1)) END)::BIGINT AS var_c2
      |      FROM m)
      |SELECT a.n AS n_a, b.n AS n_b,
      |  a.mean_cents AS mean_a_cents, b.mean_cents AS mean_b_cents,
      |  a.var_c2 AS var_a_c2, b.var_c2 AS var_b_c2,
      |  (CASE WHEN a.n > 1 AND b.n > 1
      |          AND a.var_c2 * b.n + b.var_c2 * a.n > 0 THEN
      |    CAST(round((a.sx::DOUBLE / a.n - b.sx::DOUBLE / b.n)
      |      * 10000.0 / sqrt(a.var_c2::DOUBLE / a.n + b.var_c2::DOUBLE / b.n),
      |      0) AS BIGINT)
      |  END) AS t_e4
      |FROM (SELECT * FROM w WHERE arm = 0) a
      |CROSS JOIN (SELECT * FROM w WHERE arm = 1) b""".stripMargin

  /** Mann–Whitney U — the rank-sum arm comparison that completes the
    * nonparametric test family ([[Relational]]'s KS and chi-square):
    * does arm A's purchase-value distribution stochastically dominate
    * arm B's, with no normality assumption on the heavy-tailed values?
    * Arms are the deterministic user-parity split ([[srmCheck]]'s
    * assignment); ties take mid-ranks, carried ×2 so every rank is an
    * integer; U, its mean and the rank sums are exact integers, and
    * only the final z-score normalization touches a double (one
    * correctly-rounded sqrt + one division, e4-rounded — the
    * [[Relational.poissonBootstrapSE]] discipline; no tie-correction
    * term, values are cents with few ties).
    *
    * Shape: the scan collapses onto the distinct-cents dimension with
    * per-arm counts; ranks come from one prefix window over that
    * value-histogram-sized frame — the raw rows are never ranked.
    */
  def mannWhitney(df: DataFrame): DataFrame = {
    val vals = df.filter(col("user_id").isNotNull &&
        col("event_type") === "purchase")
      .select((col("user_id") % 2).as("arm"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val hist = vals.groupBy(col("cents"))
      .agg(count(lit(1)).as("c_total"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("c_a"))
    val ranked = Scan.midRank2(hist, "cents", "c_total", "r2mid")
    val agg = ranked.agg(
      coalesce(sum(col("c_a")), lit(0L)).as("n_a"),
      coalesce(sum(col("c_total") - col("c_a")), lit(0L)).as("n_b"),
      coalesce(sum(col("c_a") * col("r2mid")), lit(0L)).as("r_a_x2"))
    agg
      .withColumn("u_a_x2", expr("r_a_x2 - n_a * (n_a + 1)"))
      .withColumn("z_e4", expr(
        """CASE WHEN n_a > 0 AND n_b > 0 THEN
          |  CAST(round((u_a_x2 - n_a * n_b) * 10000.0 /
          |    sqrt(CAST(n_a * n_b * (n_a + n_b + 1) AS DOUBLE) / 3.0), 0)
          |    AS BIGINT)
          |END""".stripMargin))
      .select(col("n_a"), col("n_b"), col("r_a_x2"), col("u_a_x2"),
        col("z_e4"))
  }

  /** DuckDB oracle for [[mannWhitney]]. */
  def mannWhitneyOracleSql: String =
    """WITH v AS (
      |  SELECT user_id % 2 AS arm, CAST(round(value * 100, 0) AS BIGINT)
      |    AS cents
      |  FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'),
      |h AS (SELECT cents, count(*)::BIGINT AS c_total,
      |        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS c_a
      |      FROM v GROUP BY cents),
      |r AS (SELECT cents, c_total, c_a,
      |        sum(c_total) OVER (ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM h),
      |a AS (SELECT coalesce(sum(c_a), 0)::BIGINT AS n_a,
      |        coalesce(sum(c_total - c_a), 0)::BIGINT AS n_b,
      |        coalesce(sum(c_a * (2 * (cum - c_total) + c_total + 1)), 0)
      |          ::BIGINT AS r_a_x2
      |      FROM r)
      |SELECT n_a, n_b, r_a_x2,
      |  (r_a_x2 - n_a * (n_a + 1))::BIGINT AS u_a_x2,
      |  (CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(round((r_a_x2 - n_a * (n_a + 1) - n_a * n_b) * 10000.0 /
      |      sqrt((n_a * n_b * (n_a + n_b + 1))::DOUBLE / 3.0), 0) AS BIGINT)
      |  END) AS z_e4
      |FROM a""".stripMargin

  /** MANN–KENDALL TREND TEST over the daily event-count series — the
    * significance companion to [[theilSen]]: Theil–Sen ESTIMATES the
    * robust slope, Mann–Kendall answers whether a monotone trend exists
    * at all, distribution-free (no normality assumption a count series
    * would violate). S = Σ_{i<j} sign(y_j − y_i) over time-ordered
    * pairs; Var(S)·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) with the tie
    * correction (tied counts happen on real traffic); z applies the
    * standard continuity correction (S∓1).
    *
    * Exactness: S and 18·Var(S) are exact integers (pair signs and tie
    * polynomial); z is one shared double literal (e4). Shape: the scan
    * collapses onto the calendar-bounded day dimension; the O(days²)
    * pair join and the tie aggregate run on that kilobyte frame — the
    * [[theilSen]] cost envelope exactly.
    */
  def mannKendall(df: DataFrame): DataFrame = {
    val daily = df.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sPairs = daily.as("a")
      .join(daily.as("b"), col("a.day") < col("b.day"))
      .agg(coalesce(sum(signum(col("b.y") - col("a.y")).cast("long")),
        lit(0L)).as("s"))
    val ties = daily.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
        .as("tie_poly"))
    val n = daily.agg(count(lit(1)).as("n"))
    sPairs.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .select(col("n"), col("s"),
        expr("n * (n - 1) * (2 * n + 5) - tie_poly").as("var_x18"))
      .select(col("n"), col("s"), col("var_x18"),
        expr("""CASE WHEN var_x18 > 0 THEN
               |  CAST(round((CASE WHEN s > 0 THEN s - 1
               |                   WHEN s < 0 THEN s + 1 ELSE 0 END)
               |    / sqrt(CAST(var_x18 AS DOUBLE) / 18.0) * 10000)
               |    AS BIGINT)
               |END""".stripMargin).as("z_e4"))
  }

  /** DuckDB twin of [[mannKendall]] — identical pair signs, tie
    * polynomial, and continuity-corrected z literal.
    */
  def mannKendallOracleSql: String =
    """WITH daily AS (
      |  SELECT ts::DATE AS day, count(*)::BIGINT AS y
      |  FROM events GROUP BY 1),
      |sp AS (
      |  SELECT coalesce(sum(CASE WHEN b.y > a.y THEN 1
      |                           WHEN b.y < a.y THEN -1 ELSE 0 END), 0)
      |    ::BIGINT AS s
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |tp AS (
      |  SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
      |    AS tie_poly
      |  FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY y)),
      |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
      |g AS (
      |  SELECT n, s, (n * (n - 1) * (2 * n + 5) - tie_poly)::BIGINT
      |    AS var_x18
      |  FROM sp CROSS JOIN tp CROSS JOIN nn)
      |SELECT n, s, var_x18,
      |  (CASE WHEN var_x18 > 0 THEN
      |    CAST(round((CASE WHEN s > 0 THEN s - 1
      |                     WHEN s < 0 THEN s + 1 ELSE 0 END)
      |      / sqrt(var_x18::DOUBLE / 18.0) * 10000) AS BIGINT)
      |  END) AS z_e4
      |FROM g""".stripMargin

  /** Theil–Sen robust trend over the daily event-count series — the
    * outlier-immune twin of an OLS slope ([[seasonalDecompose]]'s trend
    * line): the median of all pairwise slopes (y_j−y_i)/(x_j−x_i),
    * breakdown point 29%, so one bad ingest day cannot bend the trend a
    * capacity plan extrapolates from. Slopes are e6-quantized rationals
    * (dy·10⁶ div dx — dx is a positive day gap) BEFORE ranking, so the
    * median is an integer selection, not a float compare; the intercept
    * is the median residual y − slope·x at the same quantization. Ties
    * rank by (slope, day_i, day_j) — fully deterministic.
    *
    * Shape: the scan collapses onto the ~30-row day dimension; the
    * pairwise O(days²) self-join and both median selections run on that
    * kilobyte frame. At 100 TB the first collapse is the entire cost —
    * the series length is calendar-bounded, not data-bounded.
    */
  def theilSen(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date"))
        .cast("long"))
      .persist()
    // FLOOR(double division) gives the mathematician's floor for
    // negative dy (a slope estimator should bin -0.4 to -1, not 0 —
    // integer `div`/`//` truncate toward zero in BOTH engines, which
    // would bias small negative slopes upward). The double path is
    // exact here: dy·10⁶ and dx are < 2⁵³, and a non-integer quotient
    // with denominator dx ≤ series length sits ≥ 1/dx from any integer
    // — far beyond one ulp — so FLOOR agrees with exact rational floor
    // in both engines.
    val pairs = daily.as("a").join(daily.as("b"), col("b.x") > col("a.x"))
      .select(col("a.x").as("xi"), col("b.x").as("xj"),
        expr("CAST(FLOOR((b.y - a.y) * 1000000.0 / (b.x - a.x)) AS BIGINT)")
          .as("slope_e6"))
    val n = pairs.count()
    if (n == 0) {
      return daily.sparkSession.createDataFrame(
        Seq.empty[(Long, Long, Long, Long)])
        .toDF("n_days", "n_pairs", "slope_e6", "intercept_e6")
    }
    val slope = pairs
      .withColumn("rn", row_number().over(
        Window.orderBy(col("slope_e6"), col("xi"), col("xj"))))
      .filter(col("rn") === (n + 1) / 2)
      .select(col("slope_e6"))
    val nd = daily.count()
    val intercept = daily.crossJoin(broadcast(slope))
      .withColumn("resid_e6", expr("y * 1000000L - slope_e6 * x"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("resid_e6"), col("day"))))
      .filter(col("rn") === (nd + 1) / 2)
      .select(col("resid_e6").as("intercept_e6"))
    slope.crossJoin(intercept)
      .select(lit(nd).as("n_days"), lit(n).as("n_pairs"),
        col("slope_e6"), col("intercept_e6"))
  }

  /** DuckDB oracle for [[theilSen]]. */
  def theilSenOracleSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS y
      |  FROM events GROUP BY 1),
      |d AS (SELECT day, y,
      |        date_diff('day', DATE '2024-01-01', day)::BIGINT AS x
      |      FROM daily),
      |p AS (SELECT a.x AS xi, b.x AS xj,
      |        CAST(FLOOR((b.y - a.y) * 1000000.0 / (b.x - a.x)) AS BIGINT)
      |          AS slope_e6
      |      FROM d a JOIN d b ON b.x > a.x),
      |np AS (SELECT count(*)::BIGINT AS n FROM p),
      |sl AS (SELECT slope_e6 FROM (
      |         SELECT slope_e6, row_number() OVER
      |           (ORDER BY slope_e6, xi, xj) AS rn FROM p)
      |       CROSS JOIN np WHERE rn = (n + 1) // 2),
      |ndd AS (SELECT count(*)::BIGINT AS nd FROM d),
      |ic AS (SELECT resid_e6 AS intercept_e6 FROM (
      |         SELECT (y * 1000000 - slope_e6 * x)::BIGINT AS resid_e6, day,
      |           row_number() OVER (ORDER BY (y * 1000000 - slope_e6 * x), day)
      |             AS rn
      |         FROM d CROSS JOIN sl)
      |       CROSS JOIN ndd WHERE rn = (nd + 1) // 2)
      |SELECT nd AS n_days, n AS n_pairs, slope_e6, intercept_e6
      |FROM sl CROSS JOIN ic CROSS JOIN np CROSS JOIN ndd""".stripMargin

  /** (z_{α/2} + z_β)² for α = 0.05 two-sided, power = 0.80, as an exact
    * e6 integer — computed once from literal doubles and embedded in the
    * generated oracle, so neither engine touches a normal quantile at
    * query time ([[Relational.poissonBootstrapSE]] constant discipline).
    */
  private val PowerZ2E6: Long =
    math.round(math.pow(1.959964 + 0.841621, 2) * 1e6)

  /** A/B power analysis from observed data — the reading that comes
    * BEFORE [[srmCheck]] and [[cupedLift]] in an experiment's life: given
    * THIS population's revenue-per-user mean and variance, how many users
    * per arm does each candidate minimum-detectable-effect need?
    * n = ⌈(z_{α/2}+z_β)²·2σ²/δ²⌉ with δ = μ·MDE. Metric: per-user
    * purchase revenue in integer cents, zeros included (every observed
    * user is in the universe — revenue-per-user, not revenue-per-buyer).
    *
    * Exactness: per-user totals are integer cents; μ and the unbiased σ²
    * come from BIGINT Σx/Σx² through DECIMAL(38,0) intermediates (the
    * [[cupedLift]] discipline); each grid row is pure integer arithmetic
    * with ceiling division. Shape: one collapse onto the user dimension,
    * one 2-level aggregate, a literal MDE grid crossed against a 1-row
    * stats frame.
    */
  def abPower(
      df: DataFrame,
      mdeE4: Seq[Long] = Seq(100L, 200L, 500L, 1000L)): DataFrame = {
    val spark = df.sparkSession
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        expr("CAST(round(value * 100, 0) AS BIGINT)")).otherwise(0L))
        .as("cents"))
    val stats = users.agg(
      count(lit(1)).as("n_users"),
      sum(col("cents")).as("sx"),
      sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("sxx"))
      .withColumn("mean_cents", expr("CASE WHEN n_users > 0 THEN sx div n_users END"))
      .withColumn("var_c2", expr(
        """CASE WHEN n_users > 1 THEN CAST(
          |  (n_users * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
          |    div (CAST(n_users AS DECIMAL(38,0)) * (n_users - 1)) AS BIGINT)
          |END""".stripMargin))
    val grid = spark.createDataFrame(mdeE4.sorted.map(Tuple1(_)))
      .toDF("rel_mde_e4")
    stats.crossJoin(broadcast(grid))
      .withColumn("delta_cents", expr("mean_cents * rel_mde_e4 div 10000"))
      .withColumn("n_per_arm", expr(
        s"""CASE WHEN delta_cents > 0 THEN
           |  CAST((2 * $PowerZ2E6 * CAST(var_c2 AS DECIMAL(38,0))
           |        + 1000000 * CAST(delta_cents AS DECIMAL(38,0)) * delta_cents - 1)
           |    div (1000000 * CAST(delta_cents AS DECIMAL(38,0)) * delta_cents)
           |    AS BIGINT)
           |END""".stripMargin))
      .withColumn("n_total", expr("2 * n_per_arm"))
      .select(col("rel_mde_e4"), col("n_users"), col("mean_cents"),
        col("var_c2"), col("delta_cents"), col("n_per_arm"), col("n_total"))
      .orderBy(col("rel_mde_e4"))
  }

  /** DuckDB oracle for [[abPower]] — HUGEINT stands in for the
    * DECIMAL(38,0) intermediates; same constants, same ceiling division.
    */
  def abPowerOracleSql(mdeE4: Seq[Long] = Seq(100L, 200L, 500L, 1000L)): String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    sum(CASE WHEN event_type = 'purchase'
       |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
       |      AS cents
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |s AS (SELECT count(*)::BIGINT AS n_users, sum(cents)::BIGINT AS sx,
       |        sum(cents::HUGEINT * cents)::HUGEINT AS sxx
       |      FROM u),
       |m AS (SELECT n_users,
       |        CASE WHEN n_users > 0 THEN sx // n_users END::BIGINT
       |          AS mean_cents,
       |        CASE WHEN n_users > 1 THEN
       |          ((n_users * sxx - sx::HUGEINT * sx)
       |            // (n_users::HUGEINT * (n_users - 1)))::BIGINT
       |        END AS var_c2
       |      FROM s),
       |g AS (SELECT unnest([${mdeE4.sorted.mkString(", ")}])::BIGINT
       |        AS rel_mde_e4),
       |r AS (SELECT rel_mde_e4, n_users, mean_cents, var_c2,
       |        (mean_cents * rel_mde_e4 // 10000)::BIGINT AS delta_cents
       |      FROM m CROSS JOIN g)
       |SELECT rel_mde_e4, n_users, mean_cents, var_c2, delta_cents,
       |  (CASE WHEN delta_cents > 0 THEN
       |    ((2 * $PowerZ2E6 * var_c2::HUGEINT
       |      + 1000000 * delta_cents::HUGEINT * delta_cents - 1)
       |     // (1000000 * delta_cents::HUGEINT * delta_cents))
       |  END)::BIGINT AS n_per_arm,
       |  (CASE WHEN delta_cents > 0 THEN
       |    2 * ((2 * $PowerZ2E6 * var_c2::HUGEINT
       |      + 1000000 * delta_cents::HUGEINT * delta_cents - 1)
       |     // (1000000 * delta_cents::HUGEINT * delta_cents))
       |  END)::BIGINT AS n_total
       |FROM r ORDER BY rel_mde_e4""".stripMargin

  /** Complex-event-processing pattern detection — the MATCH_RECOGNIZE
    * capability class, expressed Spark-first. Each user's journey
    * serializes to a string of event-type initials in (ts, event_id)
    * order (the five types have distinct initials); a regular expression
    * over that string finds behavioral motifs — here the browse-to-buy
    * run `v[vc]*p` (a view, any browsing, ending in purchase),
    * non-overlapping leftmost matches, the same semantics in Java regex
    * and RE2. Output: per matching user, journey length and match count.
    *
    * Shape at 100 TB: journeys assemble with ONE shuffle onto user_id
    * (collect_list + array_sort — per-user payload is journey-sized, the
    * same bound every sessionizer in this repo carries); the regex is
    * row-local codegen'd string work. No self-join, no window, no
    * cross-user state — the CEP engines' NFA-over-stream here becomes an
    * embarrassingly parallel per-key scan.
    */
  def cepPattern(df: DataFrame, pattern: String = "v[vc]*p"): DataFrame = {
    val journeys = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ini")))),
          x => x.getField("ini")), "").as("journey"))
    journeys
      .withColumn("journey_len", length(col("journey")).cast("long"))
      .withColumn("n_matches",
        size(expr(s"regexp_extract_all(journey, '$pattern', 0)")).cast("long"))
      .filter(col("n_matches") >= 1L)
      .select(col("user_id"), col("journey_len"), col("n_matches"))
      .orderBy(col("user_id"))
  }

  /** DuckDB oracle for [[cepPattern]]. */
  def cepPatternOracleSql(pattern: String = "v[vc]*p"): String =
    s"""WITH j AS (
       |  SELECT user_id,
       |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
       |      AS journey
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
       |SELECT user_id, length(journey)::BIGINT AS journey_len,
       |  len(regexp_extract_all(journey, '$pattern'))::BIGINT AS n_matches
       |FROM j WHERE len(regexp_extract_all(journey, '$pattern')) >= 1
       |ORDER BY user_id""".stripMargin

  /** CUSUM changepoint monitor over the daily event-count series — the
    * drift detector that catches a slow ramp the per-cell z-score
    * ([[hourlyAnomalies]]) never accumulates. Classical recursive form
    * S⁺_t = max(0, S⁺_{t-1} + x_t − μ − s) is not a window function, but
    * its closed form IS: S⁺_t = C_t − min(0, min_{i≤t} C_i) with
    * C = Σ(x − μ − s) — two prefix windows over the ~30-row day
    * dimension, exact integer arithmetic throughout (μ and the slack are
    * integer divisions of global counts). Both directions reported;
    * flags fire where the statistic exceeds h = μ·hNum/hDen.
    *
    * Shape: the scan collapses onto the day dimension; every window runs
    * on that kilobyte table under a single partition-1 sort that AQE
    * won't even exchange for. The 100 TB cost is the first collapse.
    */
  def cusum(
      df: DataFrame,
      slackDen: Long = 20L,
      hNum: Long = 1L,
      hDen: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("x")).as("n_total"))
    val wcum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("mu", expr("n_total div n_days"))
      .withColumn("slack", expr(s"mu div $slackDen"))
      .withColumn("h", expr(s"mu * $hNum div $hDen"))
      .withColumn("c_up", sum(expr("x - mu - slack")).over(wcum))
      .withColumn("c_dn", sum(expr("mu - slack - x")).over(wcum))
      .withColumn("s_up", expr("c_up - least(0L, min(c_up) over " +
        "(order by day rows between unbounded preceding and current row))"))
      .withColumn("s_dn", expr("c_dn - least(0L, min(c_dn) over " +
        "(order by day rows between unbounded preceding and current row))"))
      .withColumn("flag_up", (col("s_up") > col("h")).cast("boolean"))
      .withColumn("flag_down", (col("s_dn") > col("h")).cast("boolean"))
      .select(col("day"), col("x"), col("mu"), col("s_up"), col("s_dn"),
        col("flag_up"), col("flag_down"))
      .orderBy(col("day"))
  }

  /** DuckDB oracle for [[cusum]]. */
  def cusumOracleSql(
      slackDen: Long = 20L,
      hNum: Long = 1L,
      hDen: Long = 2L): String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS x
       |  FROM events GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS n_days, sum(x)::BIGINT AS n_total
       |        FROM daily),
       |p AS (SELECT day, x, (n_total // n_days)::BIGINT AS mu,
       |        ((n_total // n_days) // $slackDen)::BIGINT AS slack,
       |        ((n_total // n_days) * $hNum // $hDen)::BIGINT AS h
       |      FROM daily CROSS JOIN tot),
       |c AS (SELECT day, x, mu, h,
       |        sum(x - mu - slack) OVER (ORDER BY day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_up,
       |        sum(mu - slack - x) OVER (ORDER BY day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_dn
       |      FROM p),
       |s AS (SELECT day, x, mu, h,
       |        (c_up - least(0, min(c_up) OVER (ORDER BY day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT
       |          AS s_up,
       |        (c_dn - least(0, min(c_dn) OVER (ORDER BY day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT
       |          AS s_dn
       |      FROM c)
       |SELECT day, x, mu, s_up, s_dn,
       |  (s_up > h) AS flag_up, (s_dn > h) AS flag_down
       |FROM s ORDER BY day""".stripMargin

  /** Markov removal-effect attribution (Anderl et al. 2016) — the
    * principled successor to the positional splits ([[attributionSplit]],
    * [[purchaseAttribution]]): model user journeys as a first-order Markov
    * chain over event types with absorbing CONV (purchase) and NULL
    * (journey abandoned) states, and credit each channel by how much the
    * chain's conversion probability DROPS when that channel is removed
    * (its transitions redirected to NULL). Channels that merely appear
    * near conversions get positional credit; channels whose removal
    * leaves conversion intact get none here — that is the point.
    *
    * Journeys: each user's events in (ts, event_id) order up to and
    * including the FIRST purchase; non-converting journeys absorb into
    * NULL after their last event. Shape at 100 TB: the scan collapses to
    * a (src, dst, count) transition table of at most (|types|+1)² rows —
    * the only distributed work; the absorbing-chain solve runs on that
    * model-sized table ([[Similarity.kCenterSelect]] precedent) as
    * `iters` rounds of exact integer e9 fixed-point (v ← P·v with
    * v(CONV)=10⁹), identically unrolled in the DuckDB oracle, so every
    * digit matches by construction rather than by float luck.
    */
  def removalEffect(df: DataFrame, iters: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = 1000000000L
    val spark = df.sparkSession
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val kept = df.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", "CONV")
          .otherwise(col("event_type")).as("state"))
      .withColumn("pb", count(when(col("state") === "CONV", 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("pb") === 0)
    val steps = kept
      .withColumn("src", lag(col("state"), 1, "START").over(w))
      .select(col("src"), col("state").as("dst"))
    val lastNonConv = kept
      .withColumn("rnd", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rnd") === 1 && col("state") =!= "CONV")
      .select(col("state").as("src"), lit("NULL").as("dst"))
    val counts = steps.unionByName(lastNonConv)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // absorbing-chain conversion probability (e9) from START under a
    // transition multiset — exact integer fixed-point, `iters` rounds
    def conv(cnts: Map[(String, String), Long]): Long = {
      val bySrc = cnts.toSeq
        .map { case ((s, d), n) => (s, d, n) }
        .groupBy(_._1)
        .map { case (s, xs) => s -> xs.map(x => (x._2, x._3)) }
      val out = bySrc.map { case (s, xs) => s -> xs.map(_._2).sum }
      var v = Map.empty[String, Long]
      for (_ <- 1 to iters) {
        val nv = bySrc.map { case (s, xs) =>
          // BigInt numerator: n * 1e9 wraps Long silently past ~9.2e9
          // transitions per (src,dst) — model-sized work, so exactness
          // costs nothing. The quotient is ≤ 1e9 and fits Long again.
          // (The DuckDB oracle's BIGINT errors loudly at the same
          // magnitude instead of wrapping, so a mismatch cannot hide.)
          val num = xs.map { case (d, n) =>
            val vd: Long =
              if (d == "CONV") S
              else if (d == "NULL") 0L
              else v.getOrElse(d, 0L)
            BigInt(n) * BigInt(vd)
          }.sum
          s -> (num / out(s)).toLong
        }
        v = nv
      }
      v.getOrElse("START", 0L)
    }
    def removed(c: String): Map[(String, String), Long] = counts.toSeq
      .collect { case ((s, d), n) if s != c =>
        ((s, if (d == c) "NULL" else d), n) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val channels = counts.keys.map(_._2)
      .filter(d => d != "CONV" && d != "NULL").toSeq.distinct.sorted
    val base = if (channels.nonEmpty) conv(counts) else 0L
    val raw = channels.map { c =>
      val rem = conv(removed(c))
      val touch = counts.collect { case ((_, d), n) if d == c => n }.sum
      (c, touch, base, rem, base - rem)
    }
    val tot = raw.map(r => math.max(r._5, 0L)).sum
    val rows = raw.map { case (c, touch, b, rem, eff) =>
      (c, touch, b, rem, eff,
        if (tot > 0) Some(math.max(eff, 0L) * 10000L / tot) else None)
    }
    spark.createDataFrame(rows)
      .toDF("channel", "n_touch", "base_conv_e9", "removed_conv_e9",
        "effect_e9", "share_e4")
      .orderBy(col("channel"))
  }

  /** DuckDB oracle for [[removalEffect]] — journey construction in SQL,
    * scenarios (base + one per removed channel) fanned out as a column,
    * and the integer fixed-point unrolled [[Graph.pageRankOracleSql]]-
    * style so both engines run the same arithmetic.
    */
  def removalEffectOracleSql(iters: Int = 30): String = {
    val head =
      """WITH seqd AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END
        |      AS state,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
        |  FROM events WHERE user_id IS NOT NULL),
        |kept AS MATERIALIZED (
        |  SELECT user_id, ts, event_id, state FROM seqd WHERE pb = 0),
        |tr1 AS (
        |  SELECT coalesce(lag(state)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id), 'START')
        |      AS src, state AS dst
        |  FROM kept),
        |lastr AS (
        |  SELECT state AS src, 'NULL' AS dst
        |  FROM (SELECT state, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn FROM kept)
        |  WHERE rn = 1 AND state <> 'CONV'),
        |trans AS MATERIALIZED (
        |  SELECT src, dst, count(*)::BIGINT AS cnt
        |  FROM (SELECT * FROM tr1 UNION ALL SELECT * FROM lastr)
        |  GROUP BY 1, 2),
        |chs AS (SELECT DISTINCT dst AS ch FROM trans
        |        WHERE dst NOT IN ('CONV', 'NULL')),
        |scen AS (SELECT 'base' AS scen, NULL AS rem
        |         UNION ALL SELECT ch, ch FROM chs),
        |strans AS MATERIALIZED (
        |  SELECT s.scen, t.src,
        |    CASE WHEN t.dst = s.rem THEN 'NULL' ELSE t.dst END AS dst,
        |    sum(t.cnt)::BIGINT AS cnt
        |  FROM trans t CROSS JOIN scen s
        |  WHERE t.src IS DISTINCT FROM s.rem
        |  GROUP BY 1, 2, 3),
        |outd AS MATERIALIZED (
        |  SELECT scen, src, sum(cnt)::BIGINT AS outc FROM strans GROUP BY 1, 2),
        |v0 AS (SELECT scen, src AS state, 0::BIGINT AS v FROM outd)"""
        .stripMargin
    val iterCtes = (1 to iters).map { t =>
      s"""v$t AS MATERIALIZED (
         |  SELECT o.scen, o.src AS state,
         |    (sum(t.cnt * (CASE WHEN t.dst = 'CONV' THEN 1000000000
         |                       WHEN t.dst = 'NULL' THEN 0
         |                       ELSE coalesce(p.v, 0) END)) // o.outc)::BIGINT
         |      AS v
         |  FROM strans t JOIN outd o ON t.scen = o.scen AND t.src = o.src
         |  LEFT JOIN v${t - 1} p ON p.scen = t.scen AND p.state = t.dst
         |  GROUP BY o.scen, o.src, o.outc)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iterCtes,
       |basev AS (SELECT v AS base_conv_e9 FROM v$iters
       |          WHERE scen = 'base' AND state = 'START'),
       |remv AS (SELECT scen AS channel, v AS removed_conv_e9 FROM v$iters
       |         WHERE scen <> 'base' AND state = 'START'),
       |touch AS (SELECT dst AS channel, sum(cnt)::BIGINT AS n_touch
       |          FROM trans WHERE dst NOT IN ('CONV', 'NULL') GROUP BY 1),
       |eff AS (SELECT channel, n_touch, base_conv_e9, removed_conv_e9,
       |          (base_conv_e9 - removed_conv_e9)::BIGINT AS effect_e9
       |        FROM remv JOIN touch USING (channel) CROSS JOIN basev),
       |tot AS (SELECT sum(CASE WHEN effect_e9 > 0 THEN effect_e9 ELSE 0 END)
       |          ::BIGINT AS t FROM eff)
       |SELECT channel, n_touch, base_conv_e9, removed_conv_e9, effect_e9,
       |  (CASE WHEN t > 0 THEN
       |    (CASE WHEN effect_e9 > 0 THEN effect_e9 ELSE 0 END) * 10000 // t
       |  END)::BIGINT AS share_e4
       |FROM eff CROSS JOIN tot ORDER BY channel""".stripMargin
  }

  /** Literal factorial lookup 0..8 — the SAME expression string feeds
    * both engines so the Shapley weights pair digit-exact.
    */
  private def factCase(e: String): String =
    s"(CASE ($e) WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6" +
      " WHEN 4 THEN 24 WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040" +
      " WHEN 8 THEN 40320 END)"

  /** SHAPLEY-VALUE CHANNEL ATTRIBUTION — the game-theoretic counterpart
    * of [[removalEffect]] (Shapley 1953; Dalessandro et al., ADKDD'12):
    * the coalition value v(S) is the number of converting users whose
    * touched-channel set fits inside S, and each channel's credit is its
    * average marginal contribution over all join orders,
    *   φ_i = Σ_{S ∌ i} |S|!·(n−1−|S|)!/n! · (v(S∪i) − v(S)).
    * Everything is carried ×n! so the output is exact integers
    * (`phi_x_nfact`), with the efficiency identity Σφ = v(C) − v(∅)
    * spec-pinned. Assumes ≤ 8 channels — attribution channels are a
    * hand-curated marketing taxonomy, not an unbounded domain.
    *
    * Shape at 100 TB: ONE corpus collapse user→bitmask (a broadcast
    * channel-rank join + bit_or), then mask→count (≤ 2^n rows); the 2^n
    * coalition grid, subset-sum join, and marginal pairing all run on
    * kilobyte frames. The exponential Shapley sum never touches the
    * corpus — it touches the VALUE DOMAIN of journeys.
    */
  def shapleyAttribution(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val types = df.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("channel")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy(col("channel"))))
      .withColumn("bit", expr("shiftleft(1L, cast(rk as int) - 1)"))
    val nch = types.agg(count(lit(1)).as("n"))
    val umasks = df.filter(col("user_id").isNotNull)
      .join(broadcast(types), col("event_type") === col("channel"), "left")
      .groupBy(col("user_id"))
      .agg(
        expr("bit_or(coalesce(bit, 0L))").as("mask"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      .filter(col("conv") === 1)
      .groupBy(col("mask")).agg(count(lit(1)).as("u"))
    val coals = spark.range(256).toDF("s")
      .crossJoin(broadcast(nch))
      .filter(col("s") < expr("shiftleft(1L, cast(n as int))"))
    val v = coals.join(broadcast(umasks), expr("(mask & ~s) = 0"), "left")
      .groupBy(col("s"), col("n"))
      .agg(sum(coalesce(col("u"), lit(0L))).as("v"))
    val marg = broadcast(types).crossJoin(v.as("a"))
      .filter(expr("(a.s & bit) = 0"))
      .join(broadcast(v.select(col("s").as("s2"), col("v").as("v2"))),
        expr("s2 = a.s + bit"))
      .withColumn("w", expr(
        factCase("cast(bit_count(a.s) as int)") + " * " +
          factCase("cast(n as int) - 1 - cast(bit_count(a.s) as int)")))
    marg.groupBy(col("channel"), col("n"))
      .agg(sum(col("w") * (col("v2") - col("v"))).as("phi_x_nfact"))
      .withColumn("total", sum(col("phi_x_nfact"))
        .over(Window.partitionBy(col("n"))))
      .select(col("channel"),
        expr("cast(" + factCase("cast(n as int)") + " as bigint)")
          .as("n_fact"),
        col("phi_x_nfact"),
        expr("phi_x_nfact * 1000000 div nullif(total, 0)").as("share_e6"))
      .orderBy(col("channel"))
  }

  /** DuckDB twin of [[shapleyAttribution]] — same bitmask value domain,
    * same literal factorial grid.
    */
  def shapleyAttributionOracleSql: String = {
    val wExpr = factCase("bit_count(a.s)") + " * " +
      factCase("a.n - 1 - bit_count(a.s)")
    s"""WITH types AS MATERIALIZED (
       |  SELECT channel, 1::BIGINT << (row_number() OVER (ORDER BY channel)
       |    - 1)::INTEGER AS bit
       |  FROM (SELECT DISTINCT event_type AS channel FROM events
       |        WHERE event_type <> 'purchase')),
       |nch AS (SELECT count(*)::INTEGER AS n FROM types),
       |umasks AS MATERIALIZED (
       |  SELECT mask, count(*)::BIGINT AS u FROM (
       |    SELECT e.user_id, bit_or(coalesce(t.bit, 0))::BIGINT AS mask,
       |      max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
       |        AS conv
       |    FROM events e LEFT JOIN types t ON e.event_type = t.channel
       |    WHERE e.user_id IS NOT NULL GROUP BY e.user_id)
       |  WHERE conv = 1 GROUP BY mask),
       |coals AS (SELECT g.s, n FROM (SELECT unnest(generate_series(0, 255))
       |    ::BIGINT AS s) g CROSS JOIN nch WHERE g.s < (1::BIGINT << n)),
       |v AS MATERIALIZED (
       |  SELECT c.s, c.n, sum(coalesce(m.u, 0))::BIGINT AS v
       |  FROM coals c LEFT JOIN umasks m ON (m.mask & ~c.s) = 0
       |  GROUP BY c.s, c.n),
       |marg AS (
       |  SELECT t.channel, a.n, ($wExpr)::BIGINT AS w,
       |    a.v AS v, b.v AS v2
       |  FROM types t JOIN v a ON (a.s & t.bit) = 0
       |  JOIN v b ON b.s = a.s + t.bit),
       |phi AS (
       |  SELECT channel, n, sum(w * (v2 - v))::BIGINT AS phi_x_nfact
       |  FROM marg GROUP BY channel, n)
       |SELECT channel, (${factCase("n")})::BIGINT AS n_fact, phi_x_nfact,
       |  (phi_x_nfact * 1000000 // nullif(
       |    sum(phi_x_nfact) OVER (PARTITION BY n), 0))::BIGINT AS share_e6
       |FROM phi ORDER BY channel""".stripMargin
  }

  /** The shared z → two-sided-p expression (Abramowitz & Stegun 7.1.26
    * erf polynomial, |ε| ≤ 1.5·10⁻⁷), emitted IDENTICALLY into both
    * engines' SQL so the only cross-engine risk is a last-ulp exp/sqrt
    * difference — absorbed by the e6 quantization (the
    * lshTuningSweep/bloomSizing pow precedent). Input: a DOUBLE column
    * expression for |z|; output: a DOUBLE p in [0, 1].
    */
  private def erfcPSql(absZ: String): String = {
    // x = |z|/√2; erfc(x) = (a1 t + a2 t² + a3 t³ + a4 t⁴ + a5 t⁵)·e^(−x²),
    // t = 1/(1 + 0.3275911 x)
    val x = s"(($absZ) / 1.4142135623730951)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"""((0.254829592 * $t - 0.284496736 * $t * $t
       |  + 1.421413741 * $t * $t * $t
       |  - 1.453152027 * $t * $t * $t * $t
       |  + 1.061405429 * $t * $t * $t * $t * $t)
       |  * exp(-($x) * ($x)))""".stripMargin.replace("\n", " ")
  }

  /** BENJAMINI–HOCHBERG FDR control over a family of per-type
    * two-proportion tests — the multiple-testing layer every
    * experimentation platform needs above its single-test suite
    * ([[welchTTest]], [[chiSquare]], Mann-Whitney, KS): run one test per
    * event type (did the type's traffic share shift between the even-day
    * and odd-day cohorts?), then control the false-discovery rate at
    * `alphaE6`/1e6 across the whole family. The BH step-up rule: sort
    * p-values ascending, find the LARGEST rank k with
    * p_(k) ≤ k·α/m, reject hypotheses 1..k (Benjamini & Hochberg,
    * JRSS-B'95) — an argmax over a rank window, pure integer comparisons
    * once p is e6-quantized (p_e6·m ≤ k·α_e6 avoids the division
    * entirely).
    *
    * Per-type test: pooled two-proportion z on (type count, cohort
    * total); p from the shared A&S erfc polynomial ([[erfcPSql]]) —
    * identical literal expression in both engines, e6-quantized before
    * any comparison, so BH's decisions are integer-deterministic.
    *
    * Shape at 100 TB: ONE partial-aggregated collapse to the
    * (cohort × type) table; everything after — margins, z, p, ranks,
    * the step-up argmax — is window arithmetic on the m-row hypothesis
    * dimension (m = |event types|). The corpus is touched exactly once.
    */
  def bhFdr(df: DataFrame, alphaE6: Long = 50000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df
      .select(when(dayofmonth(col("ts")) % 2 === 0, "a").otherwise("b")
        .as("cohort"), col("event_type"))
      .groupBy(col("cohort"), col("event_type"))
      .agg(count(lit(1)).as("o"))
    val typed = cells
      .groupBy(col("event_type"))
      .agg(
        coalesce(sum(when(col("cohort") === "a", col("o"))), lit(0L))
          .as("n_a"),
        coalesce(sum(when(col("cohort") === "b", col("o"))), lit(0L))
          .as("n_b"))
      .withColumn("tot_a", sum(col("n_a")).over(Window.partitionBy()))
      .withColumn("tot_b", sum(col("n_b")).over(Window.partitionBy()))
    val scored = typed
      .withColumn("z_num", expr(
        "CAST(n_a AS DOUBLE) / tot_a - CAST(n_b AS DOUBLE) / tot_b"))
      .withColumn("pp", expr(
        "CAST(n_a + n_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE)"))
      .withColumn("z_den", expr(
        "sqrt(pp * (1.0 - pp) * (1.0 / tot_a + 1.0 / tot_b))"))
      .withColumn("abs_z", expr(
        "CASE WHEN z_den > 0 THEN abs(z_num) / z_den ELSE 0.0 END"))
      .withColumn("p_e6", expr(
        s"CAST(round(${erfcPSql("abs_z")} * 1000000, 0) AS BIGINT)"))
      .withColumn("z_e6",
        expr("CAST(round(abs_z * 1000000, 0) AS BIGINT)"))
    val ranked = scored
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("k", row_number().over(
        Window.orderBy(col("p_e6"), col("event_type"))).cast("long"))
      .withColumn("k_max", max(
        when(col("p_e6") * col("m") <= col("k") * alphaE6, col("k")))
        .over(Window.partitionBy()))
    ranked
      .select(col("event_type"), col("n_a"), col("n_b"), col("z_e6"),
        col("p_e6"), col("k"),
        expr(s"k * $alphaE6 div m").as("bh_cutoff_e6"),
        (col("k_max").isNotNull && col("k") <= col("k_max"))
          .as("rejected"))
      .orderBy(col("k"))
  }

  /** DuckDB oracle for [[bhFdr]] — the identical collapse, polynomial,
    * quantization, and step-up rule.
    */
  def bhFdrOracleSql(alphaE6: Long = 50000L): String =
    s"""WITH cells AS (
       |  SELECT CASE WHEN day(ts) % 2 = 0 THEN 'a' ELSE 'b' END AS cohort,
       |    event_type, count(*)::BIGINT AS o
       |  FROM events GROUP BY 1, 2),
       |typed AS (
       |  SELECT event_type,
       |    coalesce(sum(CASE WHEN cohort = 'a' THEN o END), 0)::BIGINT AS n_a,
       |    coalesce(sum(CASE WHEN cohort = 'b' THEN o END), 0)::BIGINT AS n_b
       |  FROM cells GROUP BY 1),
       |tots AS (
       |  SELECT *, sum(n_a) OVER () AS tot_a, sum(n_b) OVER () AS tot_b
       |  FROM typed),
       |scored AS (
       |  SELECT event_type, n_a, n_b,
       |    CASE WHEN z_den > 0 THEN abs(z_num) / z_den ELSE 0.0 END AS abs_z
       |  FROM (
       |    SELECT *,
       |      n_a::DOUBLE / tot_a - n_b::DOUBLE / tot_b AS z_num,
       |      sqrt(pp * (1.0 - pp) * (1.0 / tot_a + 1.0 / tot_b)) AS z_den
       |    FROM (SELECT *,
       |            (n_a + n_b)::DOUBLE / (tot_a + tot_b)::DOUBLE AS pp
       |          FROM tots))),
       |quant AS (
       |  SELECT event_type, n_a, n_b,
       |    CAST(round(abs_z * 1000000, 0) AS BIGINT) AS z_e6,
       |    CAST(round(${erfcPSql("abs_z")} * 1000000, 0) AS BIGINT) AS p_e6
       |  FROM scored),
       |ranked AS (
       |  SELECT *, count(*) OVER () AS m,
       |    row_number() OVER (ORDER BY p_e6, event_type) AS k
       |  FROM quant),
       |cut AS (
       |  SELECT max(CASE WHEN p_e6 * m <= k * $alphaE6 THEN k END) AS k_max
       |  FROM ranked)
       |SELECT event_type, n_a, n_b, z_e6, p_e6, k::BIGINT AS k,
       |  (k * $alphaE6 // m)::BIGINT AS bh_cutoff_e6,
       |  (k_max IS NOT NULL AND k <= k_max) AS rejected
       |FROM ranked CROSS JOIN cut ORDER BY k""".stripMargin

  /** DECISION-STUMP SPLIT FINDER — the histogram-based best-split
    * search every distributed GBDT/random-forest implementation runs at
    * each node (XGBoost's approx tree method, LightGBM histograms),
    * applied to weak supervision over the events corpus: per-user
    * features (event count, active days, total value cents) against an
    * error-prone-user label (errors ≥ 20% of the user's events — NOT
    * derived from any feature, so splits are earned, not leaked); for
    * every (feature, histogram bin)
    * boundary, the weighted Gini impurity of the induced split;
    * the best boundary per feature and the overall winner.
    *
    * Mechanics: features unpivot to (feature, x) rows; each feature
    * bins into `bins` fixed-width integer buckets from its own min/max
    * (the monotone integer bucketing of [[graft.ops.Relational.skyline]]);
    * ONE (feature, bin, label) aggregate; prefix sums over the
    * bin dimension give every candidate split's (n_L, pos_L, n_R,
    * pos_R); weighted Gini = Σ side n_s − (pos_s² + neg_s²)/n_s,
    * normalized by n and e9-quantized from exact integer inputs — both
    * engines evaluate the identical expression, so the argmin
    * (gini, bin) is deterministic. Integer products pos² stay
    * Long-exact to ~3·10⁹ users per side ([[graft.ops.Sketch.amsF2]]
    * ceiling convention).
    *
    * Shape at 100 TB: one user collapse (the corpus exchange), a
    * 3×-row unpivot of the USER dimension, and everything else —
    * histograms, prefix sums, scores, argmins — runs on the
    * (features × bins) model frame. This is why GBDT scales: the
    * corpus is touched once per tree level, not once per candidate.
    */
  def treeSplit(df: DataFrame, bins: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2)
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        coalesce(sum(expr("CAST(floor(value * 100) AS BIGINT)")), lit(0L))
          .as("value_cents"),
        when(sum(when(col("event_type") === "error", 5L).otherwise(0L))
          >= count(lit(1)), 1L).otherwise(0L).as("label"))
    val feat = users.selectExpr("label",
      "stack(3, 'n_events', n_events, 'n_days', n_days, " +
        "'value_cents', value_cents) AS (feature, x)")
    val rng = feat.groupBy(col("feature"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val cells = feat.join(broadcast(rng), "feature")
      .withColumn("b", expr(s"(x - mn) * $bins div (mx - mn + 1)"))
      .groupBy(col("feature"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
    val wb = Window.partitionBy(col("feature")).orderBy(col("b"))
    val wf = Window.partitionBy(col("feature"))
    val splits = cells
      .withColumn("n_l", sum(col("n")).over(wb))
      .withColumn("pos_l", sum(col("pos")).over(wb))
      .withColumn("n_t", sum(col("n")).over(wf))
      .withColumn("pos_t", sum(col("pos")).over(wf))
      .filter(col("n_l") < col("n_t"))
      .withColumn("n_r", col("n_t") - col("n_l"))
      .withColumn("pos_r", col("pos_t") - col("pos_l"))
      .withColumn("gini_e9", expr(
        """CAST(round(
          |  ((n_l - (pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l))
          |     / CAST(n_l AS DOUBLE))
          |   + (n_r - (pos_r * pos_r + (n_r - pos_r) * (n_r - pos_r))
          |     / CAST(n_r AS DOUBLE)))
          |  / n_t * 1000000000, 0) AS BIGINT)""".stripMargin))
    val best = splits
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("feature"))
          .orderBy(col("gini_e9"), col("b"))))
      .filter(col("rn") === 1)
      .join(broadcast(rng), "feature")
      .withColumn("split_at", expr(s"mn + (b + 1) * (mx - mn + 1) div $bins"))
      .withColumn("overall", min(struct(col("gini_e9"), col("feature")))
        .over(Window.partitionBy()))
    best.select(col("feature"), col("b").as("split_bin"), col("split_at"),
        col("n_l").as("n_left"), col("pos_l").as("pos_left"),
        col("n_r").as("n_right"), col("pos_r").as("pos_right"),
        col("gini_e9"),
        (col("overall.gini_e9") === col("gini_e9") &&
          col("overall.feature") === col("feature")).as("is_best"))
      .orderBy(col("feature"))
  }

  /** DuckDB oracle for [[treeSplit]] — identical collapse, binning,
    * prefix sums, impurity expression, and argmins.
    */
  def treeSplitOracleSql(bins: Int = 16): String =
    s"""WITH users AS (
       |  SELECT user_id, count(*)::BIGINT AS n_events,
       |    count(DISTINCT ts::DATE)::BIGINT AS n_days,
       |    coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0)::BIGINT
       |      AS value_cents,
       |    (CASE WHEN sum(CASE WHEN event_type = 'error' THEN 5 ELSE 0 END)
       |          >= count(*) THEN 1 ELSE 0 END)::BIGINT AS label
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |feat AS (
       |  SELECT label, 'n_events' AS feature, n_events AS x FROM users
       |  UNION ALL SELECT label, 'n_days', n_days FROM users
       |  UNION ALL SELECT label, 'value_cents', value_cents FROM users),
       |rng AS (SELECT feature, min(x) AS mn, max(x) AS mx
       |        FROM feat GROUP BY 1),
       |cells AS (
       |  SELECT f.feature, (f.x - r.mn) * $bins // (r.mx - r.mn + 1) AS b,
       |    count(*)::BIGINT AS n, sum(f.label)::BIGINT AS pos
       |  FROM feat f JOIN rng r USING (feature) GROUP BY 1, 2),
       |splits AS (
       |  SELECT *, (n_t - n_l)::BIGINT AS n_r,
       |    (pos_t - pos_l)::BIGINT AS pos_r
       |  FROM (
       |    SELECT feature, b, n, pos,
       |      sum(n) OVER (PARTITION BY feature ORDER BY b
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_l,
       |      sum(pos) OVER (PARTITION BY feature ORDER BY b
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos_l,
       |      sum(n) OVER (PARTITION BY feature) AS n_t,
       |      sum(pos) OVER (PARTITION BY feature) AS pos_t
       |    FROM cells)
       |  WHERE n_l < n_t),
       |scored AS (
       |  SELECT *, CAST(round(
       |      ((n_l - (pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l))
       |         / CAST(n_l AS DOUBLE))
       |       + (n_r - (pos_r * pos_r + (n_r - pos_r) * (n_r - pos_r))
       |         / CAST(n_r AS DOUBLE)))
       |      / n_t * 1000000000, 0) AS BIGINT) AS gini_e9
       |  FROM splits),
       |best AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY feature
       |        ORDER BY gini_e9, b) AS rn
       |    FROM scored)
       |  WHERE rn = 1),
       |ov AS (SELECT gini_e9 AS og, feature AS of
       |       FROM best ORDER BY gini_e9, feature LIMIT 1)
       |SELECT b2.feature, b2.b::BIGINT AS split_bin,
       |  (r.mn + (b2.b + 1) * (r.mx - r.mn + 1) // $bins)::BIGINT AS split_at,
       |  b2.n_l::BIGINT AS n_left, b2.pos_l::BIGINT AS pos_left,
       |  b2.n_r::BIGINT AS n_right, b2.pos_r::BIGINT AS pos_right, b2.gini_e9,
       |  (b2.gini_e9 = ov.og AND b2.feature = ov.of) AS is_best
       |FROM best b2 JOIN rng r USING (feature) CROSS JOIN ov
       |ORDER BY feature""".stripMargin

  /** EXACT DISTINCT-COUNT OVER A SLIDING WINDOW — trailing
    * `windowHours`-hour active users per hour, the dashboard's "DAU by
    * hour" with a window that SLIDES instead of tumbling
    * ([[tumblingCounts]]/[[hourlyCounts]] are the aligned cousins).
    * COUNT(DISTINCT) over a sliding window is the classic scale trap:
    * the naive form re-scans the window per readout (24× the corpus per
    * day) and distinct doesn't decompose over overlapping windows.
    *
    * The first-in-window rewrite makes it ONE pass: an event counts for
    * readout hour b iff it is its user's first event inside (b−W, b] —
    * equivalently iff the user's immediately-preceding event falls
    * before the window. With bucket b_e and predecessor bucket b_p,
    * that holds exactly for readouts b ∈ [max(b_e, b_p+W), b_e+W−1] —
    * a CONTIGUOUS range, so each event explodes to at most W bucket
    * rows (usually far fewer: a user active every hour contributes 1)
    * and a plain SUM per bucket IS the exact distinct count. Every
    * user is counted exactly once per readout: the first-in-window
    * event's predecessor is outside by definition; any later event's
    * predecessor is inside, so its range is empty.
    *
    * Shape at 100 TB: one lag over the (user_id, ts) clustering the
    * sessionization family already pays, a ≤W-row bounded explode
    * eaten by map-side combine, and the readout joins a dense
    * hour-dimension frame. No window re-scan, no count-distinct
    * shuffle per readout. All-integer bucket arithmetic → digit-exact
    * oracle (whose range-join COUNT(DISTINCT) is the quadratic shape
    * this operator exists to avoid).
    */
  def slidingDistinct(df: DataFrame, windowHours: Int = 24): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowHours >= 1)
    val ev = df.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("b"))
    val contrib = ev
      .withColumn("b_prev", lag(col("b"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .withColumn("lo",
        greatest(col("b"), coalesce(col("b_prev") + windowHours, col("b"))))
      .withColumn("hi", col("b") + (windowHours - 1))
      .filter(col("lo") <= col("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("rb"))
      .groupBy(col("rb")).agg(count(lit(1)).as("n_active"))
    val hours = ev.agg(min(col("b")).as("lo_b"), max(col("b")).as("hi_b"))
      .select(explode(sequence(col("lo_b"), col("hi_b"))).as("rb"))
    hours.join(contrib, Seq("rb"), "left")
      .select((col("rb") * 3600000000L).as("hour_us"),
        coalesce(col("n_active"), lit(0L)).as("n_active"))
      .transform(Par.sortSmall(col("hour_us")))
  }

  /** DuckDB oracle for [[slidingDistinct]] — the naive per-readout
    * range-join COUNT(DISTINCT) the rewrite provably equals.
    */
  def slidingDistinctOracleSql(windowHours: Int = 24): String =
    s"""WITH ev AS (
       |  SELECT user_id,
       |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS b
       |  FROM events WHERE user_id IS NOT NULL),
       |rng AS (SELECT min(b) AS lo, max(b) AS hi FROM ev),
       |hrs AS (SELECT unnest(generate_series(lo, hi)) AS rb FROM rng)
       |SELECT rb * 3600000000 AS hour_us,
       |  count(DISTINCT e.user_id)::BIGINT AS n_active
       |FROM hrs LEFT JOIN ev e
       |  ON e.b BETWEEN hrs.rb - ${windowHours - 1} AND hrs.rb
       |GROUP BY rb ORDER BY hour_us""".stripMargin

  /** CHANGE-POINT DETECTION by binary segmentation — the offline twin of
    * the streaming CUSUM monitor ([[graft.stream.CusumMonitor]]): where
    * did the hourly event level SHIFT? Statistic per candidate boundary
    * t of an n-hour series with prefix sums S: D_t = |n·S_t − t·S_n| —
    * the scaled CUSUM deviation from a constant rate, maximized over t
    * (ties break to the earliest hour). Binary segmentation recurses on
    * the two sides of the best split (Scott & Knott'74 / the standard
    * changepoint bootstrap); depth 2 here — one global change point plus
    * one per side — which is the useful dashboard readout ("level shift
    * at 14:00; secondary shifts at 06:00 and 19:00").
    *
    * Exactness: D_t is BIGINT (n·S ≤ hours × events — no overflow until
    * ~10¹⁸ event-hours); segment means are e4 integer divisions; the
    * argmax orders by (D desc, t asc) — fully deterministic, so the
    * DuckDB twin matches digit-for-digit.
    *
    * Shape at 100 TB: ONE partial-aggregated collapse to the hour
    * dimension (≤ 8760 rows/year); every recursion level is window
    * arithmetic + a 1-row argmax on that dimension table, and the
    * segment splits are broadcast 1-row cross joins — the corpus is
    * scanned exactly once, like [[removalEffect]]'s transition collapse.
    */
  def changePoints(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = df
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    // best split of one hour-indexed segment; returns ≤1 row
    def best(seg: DataFrame, label: String): DataFrame = {
      val w = Window.orderBy(col("h"))
      seg
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("s", sum(col("cnt")).over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .withColumn("sn", sum(col("cnt")).over(Window.partitionBy()))
        .filter(col("t") < col("n"))
        .withColumn("stat", abs(col("n") * col("s") - col("t") * col("sn")))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("stat").desc, col("t"))))
        .filter(col("rn") === 1)
        .select(lit(label).as("segment"), unix_micros(col("h")).as("cp_hour_us"),
          col("t").as("t_index"), col("n").as("n_hours"), col("stat"),
          expr("s * 10000 div t").as("mean_before_e4"),
          expr("(sn - s) * 10000 div (n - t)").as("mean_after_e4"))
    }
    val top = best(hourly, "all").persist()
    val cut = top.select(col("cp_hour_us").as("cut_us"))
    val left = hourly.join(broadcast(cut),
      unix_micros(col("h")) <= col("cut_us")).drop("cut_us")
    val right = hourly.join(broadcast(cut),
      unix_micros(col("h")) > col("cut_us")).drop("cut_us")
    top.unionByName(best(left, "left")).unionByName(best(right, "right"))
      .orderBy(col("segment"))
  }

  /** DuckDB oracle for [[changePoints]] — the same three argmaxes. */
  def changePointsOracleSql: String = {
    def bestSql(src: String, label: String): String =
      s"""SELECT '$label' AS segment, epoch_us(h) AS cp_hour_us,
         |  t::BIGINT AS t_index, n::BIGINT AS n_hours, stat::BIGINT AS stat,
         |  (s * 10000 // t)::BIGINT AS mean_before_e4,
         |  ((sn - s) * 10000 // (n - t))::BIGINT AS mean_after_e4
         |FROM (
         |  SELECT *, abs(n * s - t * sn) AS stat,
         |    row_number() OVER (ORDER BY abs(n * s - t * sn) DESC, t) AS rn
         |  FROM (
         |    SELECT h, t, s, count(*) OVER () AS n, sum(cnt) OVER () AS sn
         |    FROM (
         |      SELECT h, cnt,
         |        row_number() OVER (ORDER BY h) AS t,
         |        sum(cnt) OVER (ORDER BY h
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
         |      FROM $src))
         |  WHERE t < n)
         |WHERE rn = 1""".stripMargin
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS h, count(*)::BIGINT AS cnt
       |  FROM events GROUP BY 1),
       |top AS (${bestSql("hourly", "all")}),
       |lseg AS (SELECT hourly.* FROM hourly CROSS JOIN top
       |         WHERE epoch_us(h) <= top.cp_hour_us),
       |rseg AS (SELECT hourly.* FROM hourly CROSS JOIN top
       |         WHERE epoch_us(h) > top.cp_hour_us)
       |SELECT * FROM top
       |UNION ALL ${bestSql("lseg", "left")}
       |UNION ALL ${bestSql("rseg", "right")}
       |ORDER BY segment""".stripMargin
  }

  /** TWO-FEATURE OLS VIA NORMAL EQUATIONS — the regression the
    * experimentation plane is missing between [[corrStats]] (one
    * feature) and [[theilSen]] (robust one-feature): fit
    * price_cents ~ b0 + b1·quantity + b2·discount_e2 on lineitem in
    * CLOSED FORM. One pass computes the nine exact sufficient-statistic
    * sums; the 2×2 centered system solves by Cramer's rule on the
    * driver-free single result row. This is the MapReduce-textbook
    * shape for linear models: sufficient statistics are a commutative
    * monoid, so Spark's partial aggregation does all the work and the
    * "solve" is arithmetic on one row.
    *
    * Exactness discipline: inputs quantize to integers (quantity,
    * discount·100, price cents); every second-order sum accumulates in
    * DECIMAL(38,0) (sum of y² at sf0.1 already brushes the BIGINT
    * ceiling — DuckDB silently promotes to HUGEINT, Spark would wrap,
    * so the Spark side pays the decimal path to stay exact). The exact
    * sums then make ONE double excursion through the IDENTICAL literal
    * Cramer formula both engines parse, rounded at e6/e9 — the
    * [[welchTTest]] discipline.
    *
    * Shape at 100 TB: one partial+final aggregate over the fact table,
    * nine numbers of state, zero joins, zero windows. Adding features
    * grows the state quadratically (k² sums) but never adds a pass —
    * the normal-equation path holds to hundreds of features before a
    * distributed solver earns its keep.
    */
  def olsMulti(lineitem: DataFrame): DataFrame = {
    val prepped = lineitem.select(
      expr("CAST(round(l_quantity) AS BIGINT)").as("x1"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("x2"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
    val sums = prepped.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("sx1"),
      sum(col("x2")).as("sx2"),
      sum(col("y")).as("sy"),
      sum(expr("CAST(x1 * x1 AS DECIMAL(38,0))")).as("sx1x1"),
      sum(expr("CAST(x2 * x2 AS DECIMAL(38,0))")).as("sx2x2"),
      sum(expr("CAST(x1 * x2 AS DECIMAL(38,0))")).as("sx1x2"),
      sum(expr("CAST(x1 * y AS DECIMAL(38,0))")).as("sx1y"),
      sum(expr("CAST(x2 * y AS DECIMAL(38,0))")).as("sx2y"),
      sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"))
    sums.selectExpr(
      "n",
      "CAST(round((" +
        "(CAST(sx2x2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - " +
        "(CAST(sx1x2 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))" +
        ") / (" +
        "(CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx2x2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)) - " +
        "(CAST(sx1x2 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx1x2 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE))" +
        ") * 1000000) AS BIGINT) AS beta1_e6",
      "CAST(round((" +
        "(CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - " +
        "(CAST(sx1x2 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))" +
        ") / (" +
        "(CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx2x2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)) - " +
        "(CAST(sx1x2 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx1x2 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE))" +
        ") * 1000000) AS BIGINT) AS beta2_e6")
      .orderBy(col("n"))
  }

  /** DuckDB oracle for [[olsMulti]] — the identical sufficient-statistic
    * sums (HUGEINT-exact by DuckDB's own promotion) pushed through the
    * character-identical Cramer expressions.
    */
  def olsMultiOracleSql: String = {
    def centered(spp: String, sp: String, sq: String) =
      s"(CAST($spp AS DOUBLE) - CAST($sp AS DOUBLE) * CAST($sq AS DOUBLE) / CAST(n AS DOUBLE))"
    val s11 = centered("sx1x1", "sx1", "sx1")
    val s22 = centered("sx2x2", "sx2", "sx2")
    val s12 = centered("sx1x2", "sx1", "sx2")
    val s1y = centered("sx1y", "sx1", "sy")
    val s2y = centered("sx2y", "sx2", "sy")
    s"""WITH p AS (
       |  SELECT round(l_quantity)::BIGINT AS x1,
       |    round(l_discount * 100)::BIGINT AS x2,
       |    round(l_extendedprice * 100)::BIGINT AS y
       |  FROM lineitem),
       |s AS (
       |  SELECT count(*) AS n,
       |    sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
       |    sum(x1 * x1) AS sx1x1, sum(x2 * x2) AS sx2x2,
       |    sum(x1 * x2) AS sx1x2, sum(x1 * y) AS sx1y,
       |    sum(x2 * y) AS sx2y, sum(y * y) AS syy
       |  FROM p)
       |SELECT n::BIGINT AS n,
       |  CAST(round(($s22 * $s1y - $s12 * $s2y) /
       |    ($s11 * $s22 - $s12 * $s12) * 1000000) AS BIGINT) AS beta1_e6,
       |  CAST(round(($s11 * $s2y - $s12 * $s1y) /
       |    ($s11 * $s22 - $s12 * $s12) * 1000000) AS BIGINT) AS beta2_e6
       |FROM s ORDER BY n""".stripMargin
  }

  // -------------------------------------------------- sequential testing

  /** SPRT micro-nat increments for H1: p=0.6 vs H0: p=0.4, and the
    * Wald boundary ln((1−β)/α) = ln 19 at α = β = 0.05 — computed once
    * here and embedded as INTEGER LITERALS in both engines' SQL, the
    * [[TextAnalysis]] micro-nat discipline (per-observation increments
    * are constants, so the whole trajectory is exact integer cumsum).
    */
  private val SprtPos = math.round(math.log(0.6 / 0.4) * 1e6) // x = 1
  private val SprtNeg = math.round(math.log(0.4 / 0.6) * 1e6) // x = 0
  private val SprtBound = math.round(math.log(19.0) * 1e6)

  /** WALD'S SEQUENTIAL PROBABILITY RATIO TEST per experiment arm: walk
    * the per-user conversion sequence (user-id order — the enrollment
    * order stand-in), accumulate the log-likelihood ratio for
    * H1: p = 0.6 against H0: p = 0.4, and report WHERE the trajectory
    * first crosses a Wald boundary — the "stop the experiment early"
    * readout a fixed-horizon test ([[abPower]], [[funnelArmTest]])
    * cannot give. Conversion here is the error-share label
    * (5·n_errors ≥ n_events); arms split on user_id parity.
    *
    * Decision semantics: `reject_h0` when the LLR exits upward (+ln 19),
    * `accept_h0` downward (−ln 19), `continue` if the sample ends
    * inside the corridor (n_at_decision = −1). The final LLR column is
    * closed-form (n_pos·ℓ₊ + n_neg·ℓ₋), pinning the cumsum's endpoint.
    *
    * Shape at 100 TB: one user-keyed aggregate collapses events to the
    * user dimension; the trajectory is a per-arm window cumsum over
    * that collapsed frame (arms partition it, so no global window), and
    * the report is a 2-row aggregate. All integer arithmetic.
    */
  def sprtTest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      .select(col("user_id"), (col("user_id") % 2).as("arm"),
        when(col("n_errors") * 5 >= col("n_events"), 1L).otherwise(0L)
          .as("x"))
    val w = Window.partitionBy(col("arm")).orderBy(col("user_id"))
    val traj = users
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("llr", sum(
        when(col("x") === 1L, lit(SprtPos)).otherwise(lit(SprtNeg)))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = traj.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("n_pos"))
      .withColumn("llr_final_e6",
        col("n_pos") * SprtPos + (col("n_users") - col("n_pos")) * SprtNeg)
    val crossings = traj
      .filter(col("llr") >= SprtBound || col("llr") <= -SprtBound)
      .groupBy(col("arm"))
      .agg(min(col("idx")).as("n_at_decision"),
        min_by(col("llr"), col("idx")).as("cross_llr"))
    totals.join(crossings, Seq("arm"), "left")
      .select(col("arm"), col("n_users"), col("n_pos"), col("llr_final_e6"),
        coalesce(col("n_at_decision"), lit(-1L)).as("n_at_decision"),
        when(col("cross_llr").isNull, "continue")
          .when(col("cross_llr") >= SprtBound, "reject_h0")
          .otherwise("accept_h0").as("decision"))
      .orderBy(col("arm"))
  }

  /** DuckDB oracle for [[sprtTest]] — the identical integer increments
    * and boundary (same Scala-computed literals on both sides).
    */
  def sprtTestOracleSql: String =
    s"""WITH users AS (
       |  SELECT user_id, user_id % 2 AS arm,
       |    CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 5
       |      >= count(*) THEN 1 ELSE 0 END AS x
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |traj AS (
       |  SELECT arm, x,
       |    row_number() OVER (PARTITION BY arm ORDER BY user_id) AS idx,
       |    sum(CASE WHEN x = 1 THEN $SprtPos ELSE $SprtNeg END)
       |      OVER (PARTITION BY arm ORDER BY user_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
       |  FROM users),
       |totals AS (
       |  SELECT arm, count(*)::BIGINT AS n_users, sum(x)::BIGINT AS n_pos
       |  FROM traj GROUP BY arm),
       |crossings AS (
       |  SELECT arm, min(idx)::BIGINT AS n_at_decision,
       |    min_by(llr, idx) AS cross_llr
       |  FROM traj WHERE llr >= $SprtBound OR llr <= -$SprtBound
       |  GROUP BY arm)
       |SELECT t.arm, t.n_users, t.n_pos,
       |  (t.n_pos * $SprtPos + (t.n_users - t.n_pos) * $SprtNeg)::BIGINT
       |    AS llr_final_e6,
       |  coalesce(c.n_at_decision, -1)::BIGINT AS n_at_decision,
       |  CASE WHEN c.cross_llr IS NULL THEN 'continue'
       |       WHEN c.cross_llr >= $SprtBound THEN 'reject_h0'
       |       ELSE 'accept_h0' END AS decision
       |FROM totals t LEFT JOIN crossings c ON t.arm = c.arm
       |ORDER BY t.arm""".stripMargin

  // ------------------------------------------------- weighted quantiles

  /** EXACT WEIGHTED QUANTILES per group: the quantity-weighted p25/
    * median/p75 of unit price per (returnflag, linestatus) — "half the
    * VOLUME ships below this price", which an unweighted median (half
    * the LINES) gets wrong whenever quantity correlates with price.
    * Lower weighted quantile convention: the smallest value v with
    * cum_weight(≤ v) ≥ q·W — a pure integer comparison (4·cw ≥ q·4·W),
    * so the result is exact with NO floating point anywhere.
    *
    * Shape at 100 TB: the naive form sorts the fact table per group
    * (a full-shuffle sort). Instead the fact table first COLLAPSES to
    * (group, value) with summed weights — value-domain-sized, not
    * row-sized (prices quantize to cents, so a group holds at most
    * ~price-range rows regardless of line count) — and the window
    * cumsum runs on that collapsed frame. One aggregate exchange plus a
    * model-sized window.
    */
  def weightedQuantiles(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = lineitem
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        expr("CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT)")
          .as("unit_cents"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
      .groupBy(col("rf"), col("ls"), col("unit_cents"))
      .agg(sum(col("w")).as("w"))
    val wOrd = Window.partitionBy(col("rf"), col("ls"))
      .orderBy(col("unit_cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("rf"), col("ls"))
    val cum = vals
      .withColumn("cw", sum(col("w")).over(wOrd))
      .withColumn("tw", sum(col("w")).over(wAll))
    cum.groupBy(col("rf"), col("ls"))
      .agg(
        sum(col("w")).as("total_weight"),
        min(when(col("cw") * 4 >= col("tw"), col("unit_cents")))
          .as("wp25_cents"),
        min(when(col("cw") * 2 >= col("tw"), col("unit_cents")))
          .as("wmedian_cents"),
        min(when(col("cw") * 4 >= col("tw") * 3, col("unit_cents")))
          .as("wp75_cents"))
      .orderBy(col("rf"), col("ls"))
  }

  /** DuckDB oracle for [[weightedQuantiles]] — identical collapse,
    * cumulative weights, and integer threshold picks.
    */
  def weightedQuantilesOracleSql: String =
    """WITH vals AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls,
      |    CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT) AS unit_cents,
      |    sum(CAST(round(l_quantity) AS BIGINT)) AS w
      |  FROM lineitem GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT rf, ls, unit_cents, w,
      |    sum(w) OVER (PARTITION BY rf, ls ORDER BY unit_cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(w) OVER (PARTITION BY rf, ls) AS tw
      |  FROM vals)
      |SELECT rf, ls, sum(w)::BIGINT AS total_weight,
      |  min(CASE WHEN cw * 4 >= tw THEN unit_cents END)::BIGINT AS wp25_cents,
      |  min(CASE WHEN cw * 2 >= tw THEN unit_cents END)::BIGINT AS wmedian_cents,
      |  min(CASE WHEN cw * 4 >= tw * 3 THEN unit_cents END)::BIGINT AS wp75_cents
      |FROM cum GROUP BY rf, ls ORDER BY rf, ls""".stripMargin

  // ---------------------------------------------- earth mover's distance

  /** 1-D EARTH MOVER'S DISTANCE (Wasserstein-1) between the purchase and
    * view value distributions, on a fixed 50-bin grid: per bin, the
    * absolute gap between the two empirical CDFs — EMD₁ = Σ|F_a − F_b|·Δ,
    * the drift measure with actual units (average cents of "work" to
    * morph one distribution into the other), where PSI ([[psiDrift]])
    * and KS give only unitless scores. Emits the per-bin CDF walk (the
    * diagnostic view) with the running EMD as the last row's total.
    *
    * Exactness: CDFs quantize per-bin at e9 from exact integer counts
    * (one division each); the absolute gaps and their running sum are
    * then integer arithmetic — order-free.
    *
    * Shape at 100 TB: one (source, bin) aggregate collapses the corpus
    * to ≤ 2·50 cells; windows run on the bin dimension only.
    */
  def emdDrift(events: DataFrame, bins: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = events
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"),
        expr(s"LEAST(${bins - 1}, CAST(floor(round(value * 100) / 1000) AS BIGINT))")
          .as("bin"))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cb"))
    // full bin spine: EMPTY bins still carry CDF gap (mass must travel
    // across them) — summing only occupied bins would understate EMD
    val binned = events.sparkSession.range(bins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val wOrd = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    // bin-dimension frame (≤ 50 rows): global windows are model-sized
    binned
      .withColumn("cum_a", sum(col("ca")).over(wOrd))
      .withColumn("cum_b", sum(col("cb")).over(wOrd))
      .withColumn("tot_a", sum(col("ca")).over(wAll))
      .withColumn("tot_b", sum(col("cb")).over(wAll))
      .withColumn("cdf_a_e9", expr(
        "CASE WHEN tot_a = 0 THEN 0 ELSE CAST(round(CAST(cum_a AS DOUBLE) / CAST(tot_a AS DOUBLE) * 1000000000) AS BIGINT) END"))
      .withColumn("cdf_b_e9", expr(
        "CASE WHEN tot_b = 0 THEN 0 ELSE CAST(round(CAST(cum_b AS DOUBLE) / CAST(tot_b AS DOUBLE) * 1000000000) AS BIGINT) END"))
      .withColumn("gap_e9", abs(col("cdf_a_e9") - col("cdf_b_e9")))
      .withColumn("emd_running_e9", sum(col("gap_e9")).over(wOrd))
      .select(col("bin"), col("ca"), col("cb"), col("cdf_a_e9"),
        col("cdf_b_e9"), col("gap_e9"), col("emd_running_e9"))
      .orderBy(col("bin"))
  }

  /** DuckDB oracle for [[emdDrift]] — identical binning, e9 CDF
    * quantization, and running gap sum.
    */
  def emdDriftOracleSql(bins: Int = 50): String =
    s"""WITH counts AS (
       |  SELECT LEAST(${bins - 1}, CAST(floor(round(value * 100) / 1000) AS BIGINT)) AS bin,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
       |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
       |  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1),
       |binned AS (
       |  SELECT s.bin, coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
       |  FROM (SELECT unnest(range(0, $bins))::BIGINT AS bin) s
       |  LEFT JOIN counts c ON s.bin = c.bin),
       |cum AS (
       |  SELECT bin, ca, cb,
       |    sum(ca) OVER (ORDER BY bin) AS cum_a,
       |    sum(cb) OVER (ORDER BY bin) AS cum_b,
       |    sum(ca) OVER () AS tot_a, sum(cb) OVER () AS tot_b
       |  FROM binned),
       |q AS (
       |  SELECT bin, ca, cb,
       |    CASE WHEN tot_a = 0 THEN 0 ELSE CAST(round(CAST(cum_a AS DOUBLE) / CAST(tot_a AS DOUBLE) * 1000000000) AS BIGINT) END AS cdf_a_e9,
       |    CASE WHEN tot_b = 0 THEN 0 ELSE CAST(round(CAST(cum_b AS DOUBLE) / CAST(tot_b AS DOUBLE) * 1000000000) AS BIGINT) END AS cdf_b_e9
       |  FROM cum)
       |SELECT bin, ca::BIGINT AS ca, cb::BIGINT AS cb, cdf_a_e9, cdf_b_e9,
       |  abs(cdf_a_e9 - cdf_b_e9)::BIGINT AS gap_e9,
       |  sum(abs(cdf_a_e9 - cdf_b_e9))
       |    OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |    AS emd_running_e9
       |FROM q ORDER BY bin""".stripMargin

  // ------------------------------------------------------ boosted stumps

  /** The weighted best-stump search one boosting round runs: histogram
    * the weighted (feature, bin, label) mass, prefix-sum the bins, score
    * every (boundary, polarity) by WEIGHTED 0/1 ERROR (the boosting
    * criterion — [[treeSplit]] uses Gini because it grows a tree; a
    * boosting round minimizes weighted error directly), and return the
    * 1-row argmin. All integer arithmetic; ties break (err, feature, b,
    * polarity) lexicographically.
    */
  private def bestWeightedStump(users: DataFrame, bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feat = users.selectExpr("label", "w",
      "stack(3, 'n_events', n_events, 'n_days', n_days, " +
        "'value_cents', value_cents) AS (feature, x)")
    val rng = feat.groupBy(col("feature"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val cells = feat.join(broadcast(rng), "feature")
      .withColumn("b", expr(s"(x - mn) * $bins div (mx - mn + 1)"))
      .groupBy(col("feature"), col("b"))
      .agg(sum(col("w")).as("wn"),
        sum(col("w") * col("label")).as("wpos"))
    val wb = Window.partitionBy(col("feature")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("feature"))
    val scored = cells
      .withColumn("w_l", sum(col("wn")).over(wb))
      .withColumn("wpos_l", sum(col("wpos")).over(wb))
      .withColumn("w_t", sum(col("wn")).over(wf))
      .withColumn("wpos_t", sum(col("wpos")).over(wf))
      .filter(col("w_l") < col("w_t"))
      .withColumn("err_gt",
        col("wpos_l") + (col("w_t") - col("w_l"))
          - (col("wpos_t") - col("wpos_l")))
      .withColumn("err_le",
        (col("w_l") - col("wpos_l")) + (col("wpos_t") - col("wpos_l")))
      .withColumn("werr", least(col("err_gt"), col("err_le")))
      .withColumn("polarity",
        when(col("err_gt") <= col("err_le"), "gt").otherwise("le"))
    // the candidate frame is (features × bins) — model-sized; the global
    // argmin window is fine here
    scored
      .withColumn("rn", row_number().over(Window.partitionBy()
        .orderBy(col("werr"), col("feature"), col("b"), col("polarity"))))
      .filter(col("rn") === 1)
      .join(broadcast(rng), "feature")
      .select(col("feature"), col("b"), col("mn"), col("mx"),
        col("polarity"), col("werr"), col("w_t").as("wtot"),
        expr(s"mn + (b + 1) * (mx - mn + 1) div $bins").as("split_at"))
  }

  /** TWO-ROUND DISCRETE BOOSTING over the per-user feature frame: round
    * 1 fits the best weighted stump on unit weights; every misclassified
    * user's weight then DOUBLES (discrete AdaBoost with a fixed ln 2
    * learner weight — the integer-exact variant: reweighting is ×2, so
    * weights stay Long and both engines agree digit-for-digit); round 2
    * fits the best stump on the reweighted frame — which is forced to
    * look at the examples round 1 got wrong. The output's two rows show
    * boosting doing its job: round 2 picks a different boundary (or
    * feature) and its weighted error is measured against the shifted
    * mass.
    *
    * Shape at 100 TB: each round touches the corpus-collapsed USER frame
    * once (histogram aggregate); candidate scoring runs on the
    * (features × bins) model frame — the histogram-boosting layout
    * (LightGBM/XGBoost-approx): rounds cost one aggregate each, never a
    * per-candidate scan. Applying the round-1 stump is a 1-row broadcast
    * against the user frame.
    */
  def boostedStumps(df: DataFrame, bins: Int = 16): DataFrame = {
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        coalesce(sum(expr("CAST(floor(value * 100) AS BIGINT)")), lit(0L))
          .as("value_cents"),
        when(sum(when(col("event_type") === "error", 5L).otherwise(0L))
          >= count(lit(1)), 1L).otherwise(0L).as("label"))
      .withColumn("w", lit(1L))
      .persist()
    // 1-row eager checkpoint: best1 feeds the reweight broadcast AND the
    // final union — un-materialized, the whole round-1 stump search
    // (histogram pass over the user frame included) re-executed 3x
    val best1 = bestWeightedStump(users, bins).localCheckpoint(true)
    val reweighted = users.crossJoin(broadcast(best1.select(
        col("feature").as("bf"), col("b").as("bb"), col("mn"), col("mx"),
        col("polarity").as("bp"))))
      .withColumn("x", expr(
        "CASE bf WHEN 'n_events' THEN n_events WHEN 'n_days' THEN n_days " +
          "ELSE value_cents END"))
      .withColumn("bx", expr(s"(x - mn) * $bins div (mx - mn + 1)"))
      .withColumn("pred", expr(
        "CASE WHEN (bp = 'gt' AND bx > bb) OR (bp = 'le' AND bx <= bb) " +
          "THEN 1L ELSE 0L END"))
      .select(col("n_events"), col("n_days"), col("value_cents"),
        col("label"),
        when(col("pred") =!= col("label"), 2L).otherwise(1L).as("w"))
    val best2 = bestWeightedStump(reweighted, bins)
    best1.withColumn("round", lit(1L))
      .union(best2.withColumn("round", lit(2L)))
      .select(col("round"), col("feature"), col("b").as("split_bin"),
        col("split_at"), col("polarity"), col("werr"), col("wtot"))
      .orderBy(col("round"))
  }

  // -------------------------------------------- difference-in-differences

  /** DIFFERENCE-IN-DIFFERENCES over the event panel: treatment = user-id
    * parity, periods split at the panel's temporal midpoint, outcome =
    * event value in cents. DiD = (T̄₁−T̄₀) − (C̄₁−C̄₀) — the workhorse
    * quasi-experimental estimator when randomization is impossible (the
    * parallel-trends design). Output: the four cell means plus the
    * effect, one row.
    *
    * The midpoint is DERIVED (min+max)/2 in integer micros from a 1-row
    * aggregate broadcast into the cell assignment — no wall-clock
    * literal, so the query is deterministic on any snapshot (the
    * [[dashboardMetrics]] data-anchored-time discipline).
    *
    * Exactness: cell sums are exact BIGINT; each mean makes one double
    * excursion (identical literal), e6-rounded; the DiD combines the
    * four quantized means in integer arithmetic — order-free.
    *
    * Shape at 100 TB: one 1-row min/max aggregate, one (treat, period)
    * aggregate — two scans total (the min/max pass is unavoidable for a
    * data-anchored split), everything downstream on a 4-row frame.
    */
  def didEstimate(events: DataFrame): DataFrame = {
    val bounds = events.agg(
      min(unix_micros(col("ts"))).as("mn_us"),
      max(unix_micros(col("ts"))).as("mx_us"))
    val cells = events
      .filter(col("user_id").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(
        (col("user_id") % 2).as("treat"),
        when(unix_micros(col("ts")) * 2 >= col("mn_us") + col("mx_us"), 1L)
          .otherwise(0L).as("period"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("treat"), col("period"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("mean_e6", expr(
        "CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000) AS BIGINT)"))
    val pivot = cells.groupBy()
      .agg(
        sum(when(col("treat") === 1 && col("period") === 0, col("mean_e6"))).as("t0"),
        sum(when(col("treat") === 1 && col("period") === 1, col("mean_e6"))).as("t1"),
        sum(when(col("treat") === 0 && col("period") === 0, col("mean_e6"))).as("c0"),
        sum(when(col("treat") === 0 && col("period") === 1, col("mean_e6"))).as("c1"),
        coalesce(sum(col("n")), lit(0L)).as("n_events"))
    pivot.select(col("n_events"),
        col("t0").as("treat_pre_e6"), col("t1").as("treat_post_e6"),
        col("c0").as("control_pre_e6"), col("c1").as("control_post_e6"),
        ((col("t1") - col("t0")) - (col("c1") - col("c0"))).as("did_e6"))
      .orderBy(col("n_events"))
  }

  /** DuckDB oracle for [[didEstimate]] — identical midpoint rule, cell
    * means, and quantized-mean arithmetic.
    */
  def didEstimateOracleSql: String =
    """WITH bounds AS (
      |  SELECT min(epoch_us(ts)) AS mn_us, max(epoch_us(ts)) AS mx_us
      |  FROM events),
      |cells AS (
      |  SELECT user_id % 2 AS treat,
      |    CASE WHEN epoch_us(ts) * 2 >= mn_us + mx_us THEN 1 ELSE 0 END AS period,
      |    count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS s
      |  FROM events CROSS JOIN bounds WHERE user_id IS NOT NULL
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT treat, period, n,
      |    CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000) AS BIGINT) AS mean_e6
      |  FROM cells),
      |p AS (
      |  SELECT
      |    sum(CASE WHEN treat = 1 AND period = 0 THEN mean_e6 END) AS t0,
      |    sum(CASE WHEN treat = 1 AND period = 1 THEN mean_e6 END) AS t1,
      |    sum(CASE WHEN treat = 0 AND period = 0 THEN mean_e6 END) AS c0,
      |    sum(CASE WHEN treat = 0 AND period = 1 THEN mean_e6 END) AS c1,
      |    coalesce(sum(n), 0) AS n_events
      |  FROM m)
      |SELECT n_events::BIGINT AS n_events,
      |  t0::BIGINT AS treat_pre_e6, t1::BIGINT AS treat_post_e6,
      |  c0::BIGINT AS control_pre_e6, c1::BIGINT AS control_post_e6,
      |  ((t1 - t0) - (c1 - c0))::BIGINT AS did_e6
      |FROM p ORDER BY n_events""".stripMargin

  // ------------------------------------------------- ratio-metric delta

  private val RatioSeExpr =
    "CAST(round(sqrt(GREATEST(0.0, " +
      "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) " +
      "- 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) " +
      "+ (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) " +
      "/ (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE)) " +
      "/ (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000) AS BIGINT)"

  /** RATIO-METRIC VARIANCE VIA THE DELTA METHOD, per experiment arm: the
    * metric is revenue-per-event R = Σx/Σy over USER-level (x, y) pairs
    * — the ubiquitous "ratio of sums" whose naive per-event variance is
    * wrong because users, not events, are the randomization unit
    * (Deng et al., KDD 2018 lesson). SE(R) ≈ sqrt((S_xx − 2R·S_xy +
    * R²·S_yy)/(n−1)/n) / ȳ — entirely from one pass of exact per-arm
    * sufficient statistics.
    *
    * Shape at 100 TB: one user collapse, one 6-sum per-arm aggregate
    * (map-side combined), arithmetic on a 2-row frame. Exactness: sums
    * are BIGINT/DECIMAL-exact; ratio and SE each make one double
    * excursion through character-identical literals (e6/e9).
    */
  def ratioMetricDelta(events: DataFrame): DataFrame = {
    val users = events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"),
        count(lit(1)).as("y"))
      .select((col("user_id") % 2).as("arm"), col("x"), col("y"))
    users.groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"),
        sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
      .selectExpr("arm", "n",
        "CAST(round(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) * 1000000) AS BIGINT) AS ratio_e6",
        s"$RatioSeExpr AS se_e9")
      .orderBy(col("arm"))
  }

  /** DuckDB oracle for [[ratioMetricDelta]] — identical sums and the
    * character-identical delta-method literal.
    */
  def ratioMetricDeltaOracleSql: String =
    s"""WITH users AS (
       |  SELECT user_id, user_id % 2 AS arm,
       |    sum(CAST(round(value * 100) AS BIGINT)) AS x,
       |    count(*) AS y
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
       |g AS (
       |  SELECT arm, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
       |  FROM users GROUP BY arm)
       |SELECT arm, n::BIGINT AS n,
       |  CAST(round(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) * 1000000) AS BIGINT) AS ratio_e6,
       |  $RatioSeExpr AS se_e9
       |FROM g ORDER BY arm""".stripMargin

  // ----------------------------------------------------- dispersion index

  /** INDEX-OF-DISPERSION QA for count data: per event type, the
    * variance-to-mean ratio of hourly arrival counts — D ≈ 1 for a
    * Poisson process; D ≫ 1 (overdispersion: bursts, bots, retry storms)
    * is the signal that Poisson-based alerting thresholds
    * ([[hourlyAnomalies]]) will false-negative. Statistics run over the
    * OBSERVED-hour frame (documented: silent hours are a separate
    * gap-detection concern — [[gapFill]]).
    *
    * Shape at 100 TB: one (type, hour) collapse, one 3-sum aggregate per
    * type, arithmetic on a 5-row frame.
    */
  def dispersionIndex(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("c")).as("s"),
        sum(expr("CAST(c * c AS DECIMAL(38,0))")).as("ss"))
      .filter(col("n_hours") > 1)
      .selectExpr("event_type", "n_hours",
        "CAST(round(CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) * 1000000) AS BIGINT) AS mean_e6",
        "CAST(round(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)) / (CAST(n_hours AS DOUBLE) - 1.0)) / (CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)) * 1000000) AS BIGINT) AS dispersion_e6")
      .withColumn("overdispersed", col("dispersion_e6") > 1500000L)
      .transform(Par.sortSmall(col("event_type")))
  }

  /** DuckDB oracle for [[dispersionIndex]] — identical collapse and
    * variance-to-mean literal.
    */
  def dispersionIndexOracleSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT event_type, count(*) AS n_hours, sum(c) AS s, sum(c * c) AS ss
      |  FROM hourly GROUP BY 1)
      |SELECT event_type, n_hours::BIGINT AS n_hours,
      |  CAST(round(CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) * 1000000) AS BIGINT) AS mean_e6,
      |  CAST(round(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)) / (CAST(n_hours AS DOUBLE) - 1.0)) / (CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)) * 1000000) AS BIGINT) AS dispersion_e6,
      |  (CAST(round(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)) / (CAST(n_hours AS DOUBLE) - 1.0)) / (CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)) * 1000000) AS BIGINT) > 1500000) AS overdispersed
      |FROM g WHERE n_hours > 1 ORDER BY event_type""".stripMargin

  // ----------------------------------------------------- A/A calibration

  /** The shared Welch-z literal over per-(split, arm) sufficient sums
    * s0/n0 (control) and s1/n1 (treatment), with ss0/ss1 the exact
    * second moments: z = (m1 − m0)/sqrt(v1/n1 + v0/n0).
    */
  private val AaZExpr = {
    def m(s: String, n: String) = s"(CAST($s AS DOUBLE) / CAST($n AS DOUBLE))"
    def v(ss: String, s: String, n: String) =
      s"((CAST($ss AS DOUBLE) - CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE)) / (CAST($n AS DOUBLE) - 1.0))"
    s"CAST(round((${m("s1", "n1")} - ${m("s0", "n0")}) / " +
      s"sqrt(${v("ss1", "s1", "n1")} / CAST(n1 AS DOUBLE) + " +
      s"${v("ss0", "s0", "n0")} / CAST(n0 AS DOUBLE)) * 1000000) AS BIGINT)"
  }

  /** A/A CALIBRATION SWEEP: run the Welch test on `k` DETERMINISTIC
    * null splits of the user population (hash-seeded re-randomizations
    * where no treatment exists) and report each split's z — the
    * false-positive calibration every experimentation platform runs
    * before trusting its A/B machinery. If materially more than α of
    * the A/A splits reject, the unit of randomization, the variance
    * estimator, or the metric is broken (the [[ratioMetricDelta]]
    * failure mode); the spec pins the empirical rejection count.
    *
    * Shape at 100 TB: ONE user collapse, crossed with a broadcast
    * k-row seed grid (k× amplification of the USER dimension, not the
    * corpus), one (split, arm) 3-sum aggregate, z arithmetic on a 2k-row
    * frame. Exact sums; one double excursion per split through the
    * identical Welch literal.
    */
  def aaCalibration(events: DataFrame, k: Int = 16): DataFrame = {
    require(k >= 1)
    val spark = events.sparkSession
    import spark.implicits._
    val users = events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val seeds = (0L until k.toLong).map(Tuple1(_)).toDF("split_id")
    users.crossJoin(broadcast(seeds))
      .withColumn("arm", expr(
        "((user_id * 2654435761 + split_id * 40503 + 12289) % 104729) % 2"))
      .groupBy(col("split_id"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("s1"),
        sum(when(col("arm") === 0,
          expr("CAST(cents * cents AS DECIMAL(38,0))"))).as("ss0"),
        sum(when(col("arm") === 1,
          expr("CAST(cents * cents AS DECIMAL(38,0))"))).as("ss1"))
      .selectExpr("split_id", "n0", "n1", s"$AaZExpr AS z_e6")
      .withColumn("rejected", abs(col("z_e6")) > 1959964L)
      .orderBy(col("split_id"))
  }

  /** DuckDB oracle for [[aaCalibration]] — identical hash splits, sums,
    * and Welch literal.
    */
  def aaCalibrationOracleSql(k: Int = 16): String =
    s"""WITH users AS (
       |  SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS cents
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |seeds AS (SELECT unnest(range(0, $k))::BIGINT AS split_id),
       |armed AS (
       |  SELECT split_id, cents,
       |    ((user_id * 2654435761 + split_id * 40503 + 12289) % 104729) % 2 AS arm
       |  FROM users CROSS JOIN seeds),
       |g AS (
       |  SELECT split_id,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
       |    sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS s0,
       |    sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS s1,
       |    sum(CASE WHEN arm = 0 THEN cents * cents END) AS ss0,
       |    sum(CASE WHEN arm = 1 THEN cents * cents END) AS ss1
       |  FROM armed GROUP BY 1)
       |SELECT split_id, n0::BIGINT AS n0, n1::BIGINT AS n1,
       |  $AaZExpr AS z_e6,
       |  (abs($AaZExpr) > 1959964) AS rejected
       |FROM g ORDER BY split_id""".stripMargin

  // --------------------------------------------------- Mahalanobis audit

  /** MAHALANOBIS OUTLIERS in the (events-per-user, cents-per-user)
    * plane: distance accounting for the covariance between activity and
    * spend — the bivariate outlier [[madOutliers]] (one dimension at a
    * time) structurally misses: a user whose volume and spend are both
    * unusual-but-correlated is normal here, while a low-volume/high-
    * spend user lights up. d²(u) = (u−μ)ᵀ Σ⁻¹ (u−μ) with the 2×2 inverse
    * in closed form from ONE pass of exact sufficient sums.
    *
    * Exactness: the five covariance terms derive from exact integer
    * sums; d² makes one double excursion per user through the identical
    * literal (the centered form multiplies by n² to stay in exact-sum
    * space: d²·det·n = n·(vy·dx² − 2·vxy·dx·dy + vx·dy²) with
    * dx = n·x − sx), e6-rounded. Top 20 by (d² desc, user_id).
    *
    * Shape at 100 TB: one user collapse, one 1-row moment aggregate
    * broadcast back, row-local scoring, TakeOrderedAndProject top-k.
    */
  def mahalanobisOutliers(events: DataFrame, topN: Int = 20): DataFrame = {
    val users = events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val stats = users.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"),
      sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
    val d2 =
      "CAST(round((" +
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)) " +
        "- 2.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(y AS DOUBLE) - CAST(sy AS DOUBLE)) " +
        "+ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(y AS DOUBLE) - CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(y AS DOUBLE) - CAST(sy AS DOUBLE))" +
        ") / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) " +
        "* (CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE) * 1000000) AS BIGINT)"
    users.crossJoin(broadcast(stats))
      .selectExpr("user_id", "x AS n_events", "y AS cents", s"$d2 AS d2_e6")
      .orderBy(desc("d2_e6"), col("user_id"))
      .limit(topN)
  }

  /** DuckDB oracle for [[mahalanobisOutliers]] — identical sums and the
    * character-identical closed-form d² literal.
    */
  def mahalanobisOutliersOracleSql(topN: Int = 20): String = {
    val d2 =
      "CAST(round((" +
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)) " +
        "- 2.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(y AS DOUBLE) - CAST(sy AS DOUBLE)) " +
        "+ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(y AS DOUBLE) - CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(y AS DOUBLE) - CAST(sy AS DOUBLE))" +
        ") / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) " +
        "* (CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE) * 1000000) AS BIGINT)"
    s"""WITH users AS (
       |  SELECT user_id, count(*) AS x,
       |    sum(CAST(round(value * 100) AS BIGINT)) AS y
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
       |  FROM users)
       |SELECT user_id, x::BIGINT AS n_events, y::BIGINT AS cents, $d2 AS d2_e6
       |FROM users CROSS JOIN stats
       |ORDER BY d2_e6 DESC, user_id LIMIT $topN""".stripMargin
  }

  // ---------------------------------------------------- hourly value bands

  /** P10/P50/P90 VALUE BANDS per hour-of-day — the percentile ribbon a
    * latency/spend dashboard draws, computed EXACTLY with the
    * [[weightedQuantiles]] collapse: one (hour, cents) aggregate (the
    * value domain per hour is bounded by the cents range, not the row
    * count), a prefix window over that collapsed frame, and integer
    * rank-threshold picks (10·cw ≥ k·tw) — lower-quantile convention,
    * no floating point anywhere.
    */
  def hourlyValueBands(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = events
      .select(hour(col("ts")).cast("long").as("hr"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("hr"), col("cents"))
      .agg(count(lit(1)).as("w"))
    val wOrd = Window.partitionBy(col("hr")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("hr"))
    vals
      .withColumn("cw", sum(col("w")).over(wOrd))
      .withColumn("tw", sum(col("w")).over(wAll))
      .groupBy(col("hr"))
      .agg(
        sum(col("w")).as("n"),
        min(when(col("cw") * 10 >= col("tw"), col("cents"))).as("p10_cents"),
        min(when(col("cw") * 2 >= col("tw"), col("cents"))).as("p50_cents"),
        min(when(col("cw") * 10 >= col("tw") * 9, col("cents"))).as("p90_cents"))
      .orderBy(col("hr"))
  }

  /** DuckDB oracle for [[hourlyValueBands]] — identical collapse and
    * integer threshold picks.
    */
  def hourlyValueBandsOracleSql: String =
    """WITH vals AS (
      |  SELECT CAST(hour(ts) AS BIGINT) AS hr,
      |    CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS w
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT hr, cents, w,
      |    sum(w) OVER (PARTITION BY hr ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(w) OVER (PARTITION BY hr) AS tw
      |  FROM vals)
      |SELECT hr, sum(w)::BIGINT AS n,
      |  min(CASE WHEN cw * 10 >= tw THEN cents END)::BIGINT AS p10_cents,
      |  min(CASE WHEN cw * 2 >= tw THEN cents END)::BIGINT AS p50_cents,
      |  min(CASE WHEN cw * 10 >= tw * 9 THEN cents END)::BIGINT AS p90_cents
      |FROM cum GROUP BY hr ORDER BY hr""".stripMargin

  // ---------------------------------------------------- retention half-life

  /** RETENTION HALF-LIFE: fit ln(active share) ~ day offset over the
    * first 14 offsets of the cohort-pooled activity decay curve and
    * report the exponential half-life −ln2/slope — the single business
    * number the triangular [[retentionCohorts]] matrix buries. Offset-d
    * activity = distinct users with any event d days after their first
    * day (pooled over cohorts). Share points quantize per offset
    * (micro-nat ln of an integer ratio), the OLS runs on exact integer
    * sums, and slope and half-life are each one double excursion.
    *
    * Shape at 100 TB: one (user, date) collapse, one min-date window...
    * no — a groupBy-derived first day (no window), one (offset) distinct
    * aggregate, the fit on a ≤14-row frame.
    */
  def retentionHalflife(events: DataFrame, maxOffset: Int = 13): DataFrame = {
    val userDays = events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstDay = userDays.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    val offsets = userDays.join(firstDay, "user_id")
      .select(col("user_id"), datediff(col("day"), col("first_day"))
        .cast("long").as("off"))
      .filter(col("off") <= maxOffset)
      .groupBy(col("off"))
      .agg(countDistinct(col("user_id")).as("active"))
    val base = offsets.filter(col("off") === 0)
      .select(col("active").as("cohort"))
    val points = offsets.crossJoin(broadcast(base))
      .filter(col("off") > 0)
      .select(col("off"), col("active"), col("cohort"),
        expr("CAST(round(ln(CAST(active AS DOUBLE) / CAST(cohort AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("ln_share_e6"))
    val fit = points.agg(
      count(lit(1)).as("k"),
      sum(col("off")).as("sx"), sum(col("ln_share_e6")).as("sy"),
      sum(expr("CAST(off * off AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(off * ln_share_e6 AS DECIMAL(38,0))")).as("sxy"))
    points.crossJoin(broadcast(fit))
      .select(col("off"), col("active"), col("ln_share_e6"),
        expr("CAST(round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)")
          .as("slope_e6_per_day"),
        expr("CAST(round(-693147.180559945 * (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000) AS BIGINT)")
          .as("halflife_days_e3"))
      .orderBy(col("off"))
  }

  /** DuckDB oracle for [[retentionHalflife]] — identical collapse,
    * quantized share points, and fit literals.
    */
  def retentionHalflifeOracleSql(maxOffset: Int = 13): String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, ts::DATE AS day
       |  FROM events WHERE user_id IS NOT NULL),
       |fd AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
       |offs AS (
       |  SELECT CAST(datediff('day', fd.first_day, ud.day) AS BIGINT) AS off,
       |    count(DISTINCT ud.user_id) AS active
       |  FROM ud JOIN fd USING (user_id)
       |  WHERE datediff('day', fd.first_day, ud.day) <= $maxOffset
       |  GROUP BY 1),
       |base AS (SELECT active AS cohort FROM offs WHERE off = 0),
       |points AS (
       |  SELECT off, active, cohort,
       |    CAST(round(ln(CAST(active AS DOUBLE) / CAST(cohort AS DOUBLE)) * 1000000) AS BIGINT) AS ln_share_e6
       |  FROM offs CROSS JOIN base WHERE off > 0),
       |fit AS (
       |  SELECT count(*) AS k, sum(off) AS sx, sum(ln_share_e6) AS sy,
       |    sum(off * off) AS sxx, sum(off * ln_share_e6) AS sxy
       |  FROM points)
       |SELECT off, active::BIGINT AS active, ln_share_e6,
       |  CAST(round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT) AS slope_e6_per_day,
       |  CAST(round(-693147.180559945 * (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000) AS BIGINT) AS halflife_days_e3
       |FROM points CROSS JOIN fit ORDER BY off""".stripMargin

  /** The weighted-stump CTE block for the [[boostedStumps]] oracle:
    * given a users CTE (with label + w columns) named `src`, emit CTEs
    * `feat$t/rng$t/cells$t/scored$t/best$t` replaying the identical
    * search (best$t is the 1-row argmin carrying mn/mx for re-binning).
    */
  private def stumpRoundSql(src: String, t: Int, bins: Int): String =
    s"""feat$t AS (
       |  SELECT label, w, 'n_events' AS feature, n_events AS x FROM $src
       |  UNION ALL SELECT label, w, 'n_days', n_days FROM $src
       |  UNION ALL SELECT label, w, 'value_cents', value_cents FROM $src),
       |rng$t AS (SELECT feature, min(x) AS mn, max(x) AS mx FROM feat$t GROUP BY 1),
       |cells$t AS (
       |  SELECT f.feature, (f.x - r.mn) * $bins // (r.mx - r.mn + 1) AS b,
       |    sum(f.w)::BIGINT AS wn, sum(f.w * f.label)::BIGINT AS wpos
       |  FROM feat$t f JOIN rng$t r USING (feature) GROUP BY 1, 2),
       |scored$t AS (
       |  SELECT *,
       |    wpos_l + (w_t - w_l) - (wpos_t - wpos_l) AS err_gt,
       |    (w_l - wpos_l) + (wpos_t - wpos_l) AS err_le
       |  FROM (
       |    SELECT feature, b,
       |      sum(wn) OVER (PARTITION BY feature ORDER BY b
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_l,
       |      sum(wpos) OVER (PARTITION BY feature ORDER BY b
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wpos_l,
       |      sum(wn) OVER (PARTITION BY feature) AS w_t,
       |      sum(wpos) OVER (PARTITION BY feature) AS wpos_t
       |    FROM cells$t)
       |  WHERE w_l < w_t),
       |best$t AS (
       |  SELECT feature, b, r.mn, r.mx,
       |    CASE WHEN err_gt <= err_le THEN 'gt' ELSE 'le' END AS polarity,
       |    least(err_gt, err_le)::BIGINT AS werr, w_t::BIGINT AS wtot,
       |    (r.mn + (b + 1) * (r.mx - r.mn + 1) // $bins)::BIGINT AS split_at
       |  FROM scored$t JOIN rng$t r USING (feature)
       |  ORDER BY least(err_gt, err_le), feature, b,
       |    CASE WHEN err_gt <= err_le THEN 'gt' ELSE 'le' END
       |  LIMIT 1)""".stripMargin

  /** DuckDB oracle for [[boostedStumps]] — identical user collapse, two
    * identical weighted-stump rounds, identical ×2 reweighting.
    */
  def boostedStumpsOracleSql(bins: Int = 16): String =
    s"""WITH users1 AS (
       |  SELECT user_id, count(*)::BIGINT AS n_events,
       |    count(DISTINCT ts::DATE)::BIGINT AS n_days,
       |    coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0)::BIGINT
       |      AS value_cents,
       |    (CASE WHEN sum(CASE WHEN event_type = 'error' THEN 5 ELSE 0 END)
       |          >= count(*) THEN 1 ELSE 0 END)::BIGINT AS label,
       |    1::BIGINT AS w
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |${stumpRoundSql("users1", 1, bins)},
       |users2 AS (
       |  SELECT n_events, n_days, value_cents, label,
       |    CASE WHEN (CASE WHEN (b1.polarity = 'gt' AND bx > b1.b)
       |                      OR (b1.polarity = 'le' AND bx <= b1.b)
       |               THEN 1 ELSE 0 END) <> label THEN 2 ELSE 1 END::BIGINT AS w
       |  FROM (
       |    SELECT u.*,
       |      (CASE b1.feature WHEN 'n_events' THEN u.n_events
       |        WHEN 'n_days' THEN u.n_days ELSE u.value_cents END - b1.mn)
       |        * $bins // (b1.mx - b1.mn + 1) AS bx
       |    FROM users1 u CROSS JOIN best1 b1) x CROSS JOIN best1 b1),
       |${stumpRoundSql("users2", 2, bins)}
       |SELECT 1::BIGINT AS round, feature, b::BIGINT AS split_bin, split_at,
       |  polarity, werr, wtot FROM best1
       |UNION ALL
       |SELECT 2, feature, b, split_at, polarity, werr, wtot FROM best2
       |ORDER BY round""".stripMargin

  /** OFF-POLICY EVALUATION (IPS + SNIPS) — "what would the reward have
    * been under a different policy?", answered from logged data alone:
    * the counterfactual layer above the A/B suite, and the standard
    * offline gate before shipping a recommender or ranking change
    * (Horvitz–Thompson / inverse-propensity scoring; SNIPS is the
    * self-normalized variant of Swaminathan & Joachims 2015).
    *
    * Setup: context = user segment (`user_id % 4`), action = event
    * type, reward = value cents. The LOGGING policy's propensities are
    * estimated GLOBALLY (p̂(a) = n_a/n_total — a segment-blind logger);
    * the TARGET policy is the fixed deterministic rule π(s) = purchase
    * on even segments, view on odd. Per segment:
    *   IPS   = Σ_matched r·(n div n_a) div n_s   (propensity-weighted)
    *   SNIPS = Σ_matched r div n_matched         (weights cancel —
    *           self-normalization kills the propensity variance)
    * All arithmetic is integer (count ratios, cents), floors mirrored,
    * so the pairing is digit-exact.
    *
    * Shape at 100 TB: everything collapses to (segment, action) count/
    * sum cells in ONE corpus aggregate; the propensity table is
    * action-cardinality-sized and broadcast. Nothing row-wise survives
    * the first exchange.
    */
  def policyEval(df: DataFrame): DataFrame = {
    val cells = df
      .select(pmod(col("user_id"), lit(4L)).as("segment"),
        col("event_type").as("action"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("segment"), col("action"))
      .agg(count(lit(1)).as("n_sa"), sum(col("cents")).as("sum_cents"))
    val glob = cells.groupBy(col("action"))
      .agg(sum(col("n_sa")).as("n_a"))
    val nTot = glob.agg(sum(col("n_a")).as("n_tot"))
    val seg = cells.groupBy(col("segment")).agg(sum(col("n_sa")).as("n_s"))
      .withColumn("target_action",
        when(pmod(col("segment"), lit(2L)) === 0, lit("purchase"))
          .otherwise(lit("view")))
    seg
      .join(cells,
        seg("segment") === cells("segment") &&
          seg("target_action") === cells("action"), "left")
      .select(seg("segment"), col("target_action"), col("n_s"),
        coalesce(col("n_sa"), lit(0L)).as("n_matched"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_matched_cents"))
      .join(broadcast(glob), col("target_action") === glob("action"))
      .crossJoin(broadcast(nTot))
      .select(col("segment"), col("target_action"),
        col("n_s").as("n_logged"), col("n_matched"),
        expr("1000000 * n_tot div n_a").as("w_e6"),
        expr("sum_matched_cents * (n_tot div n_a) div n_s").as("ips_cents"),
        expr("CASE WHEN n_matched > 0 " +
          "THEN sum_matched_cents div n_matched END").as("snips_cents"))
      .orderBy(col("segment"))
  }

  /** EFFECTIVE SAMPLE SIZE of the IPS weights — the diagnostic that must
    * be read before [[policyEval]]'s estimate is believed (Kong 1992;
    * Owen, ch. 9): ESS = (Σw)²/Σw² collapses to the count of
    * equally-informative samples; ESS ≪ n means a few huge weights carry
    * the whole estimate and the variance is unusable. Weights are the
    * same e6-quantized n_tot/n_a ratios [[policyEval]] reports, constant
    * within each (segment, action) cell — so both sums are exact decimal
    * arithmetic over the CELL frame, and the readout is two integer
    * divisions.
    *
    * Shape at 100 TB: the one (segment, action) collapse is shared with
    * policyEval; everything else is cell-frame arithmetic.
    */
  def ipsEss(df: DataFrame): DataFrame = {
    val cells = df
      .select(pmod(col("user_id"), lit(4L)).as("segment"),
        col("event_type").as("action"))
      .groupBy(col("segment"), col("action"))
      .agg(count(lit(1)).as("n_sa"))
    val glob = cells.groupBy(col("action")).agg(sum(col("n_sa")).as("n_a"))
    val nTot = glob.agg(sum(col("n_a")).as("n_tot"))
    val seg = cells.groupBy(col("segment")).agg(sum(col("n_sa")).as("n_s"))
      .withColumn("target_action",
        when(pmod(col("segment"), lit(2L)) === 0, lit("purchase"))
          .otherwise(lit("view")))
    seg
      .join(cells,
        seg("segment") === cells("segment") &&
          seg("target_action") === cells("action"))
      .join(broadcast(glob), col("target_action") === glob("action"))
      .crossJoin(broadcast(nTot))
      .select(col("n_sa"), expr("1000000 * n_tot div n_a").as("wq"))
      .groupBy(lit(1).as("_g"))
      .agg(
        sum(col("n_sa")).as("n_matched"),
        sum(col("n_sa").cast("decimal(38,0)") * col("wq")).as("sw"),
        sum(col("n_sa").cast("decimal(38,0)") * col("wq") * col("wq"))
          .as("sw2"))
      .drop("_g")
      .select(col("n_matched"),
        expr("(sw * sw) div nullif(sw2, 0)").as("ess"),
        expr("((sw * sw) div nullif(sw2, 0)) * 10000 div nullif(n_matched, 0)")
          .as("ess_share_e4"))
  }

  /** DuckDB twin of [[ipsEss]]. */
  def ipsEssOracleSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT user_id % 4 AS segment, event_type AS action,
      |    count(*)::BIGINT AS n_sa
      |  FROM events GROUP BY 1, 2),
      |ga AS (SELECT action, sum(n_sa)::BIGINT AS n_a
      |       FROM cells GROUP BY 1),
      |tot AS (SELECT sum(n_a)::BIGINT AS n_tot FROM ga),
      |seg AS (
      |  SELECT segment, sum(n_sa)::BIGINT AS n_s,
      |    CASE WHEN segment % 2 = 0 THEN 'purchase' ELSE 'view' END
      |      AS target_action
      |  FROM cells GROUP BY segment),
      |m AS (
      |  SELECT c.n_sa, (1000000 * n_tot // n_a)::BIGINT AS wq
      |  FROM seg s JOIN cells c
      |    ON c.segment = s.segment AND c.action = s.target_action
      |  JOIN ga g ON g.action = s.target_action
      |  CROSS JOIN tot)
      |SELECT sum(n_sa)::BIGINT AS n_matched,
      |  ((sum(n_sa::HUGEINT * wq) * sum(n_sa::HUGEINT * wq))
      |    // nullif(sum(n_sa::HUGEINT * wq * wq), 0))::BIGINT AS ess,
      |  (((sum(n_sa::HUGEINT * wq) * sum(n_sa::HUGEINT * wq))
      |    // nullif(sum(n_sa::HUGEINT * wq * wq), 0)) * 10000
      |    // nullif(sum(n_sa), 0))::BIGINT AS ess_share_e4
      |FROM m GROUP BY true""".stripMargin

  /** MATCHING ESTIMATOR (nearest-covariate ATT) — the observational-
    * causal layer next to CUPED/DiD: when treatment was NOT randomized,
    * estimate its effect by pairing every treated user with the control
    * whose pre-period spend is closest (1-NN matching with replacement,
    * Rubin 1973), and averaging the matched post-period differences.
    * Deterministic construction: controls collapse to one REPRESENTATIVE
    * per distinct pre value (smallest user_id); a treated user matches
    * the representative minimizing (|pre diff|, then lower pre). The
    * match-distance columns are the standard overlap diagnostic — a
    * large mean distance means the arms don't share support and the
    * estimate is extrapolation.
    *
    * Shape at 100 TB: both arms collapse user→VALUE-DOMAIN first
    * (distinct pre values with per-value counts/sums — the
    * weightedQuantiles discipline), so the nearest-neighbor search is a
    * single merge window over the bounded value domain, never a
    * treated×control pair join; the final ATT is arithmetic on one row.
    */
  def matchedAtt(
      df: DataFrame, splitIso: String = "2024-01-15 00:00:00"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val split = lit(splitIso).cast("timestamp")
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val users = df.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < split, col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("ts") >= split, col("cents")).otherwise(0L)).as("post"))
      .withColumn("arm", col("user_id") % 2)
    val reps = users.filter(col("arm") === 0)
      .groupBy(col("pre"))
      .agg(min(struct(col("user_id"), col("post"))).as("s"),
        count(lit(1)).as("n_c"))
      .select(col("pre"), col("s.post").as("c_post"), col("n_c"))
    val tv = users.filter(col("arm") === 1)
      .groupBy(col("pre"))
      .agg(count(lit(1)).as("n_t"), sum(col("post")).as("sp"))
    val pool = reps
      .select(col("pre"), lit(0).as("kind"),
        struct(col("pre").as("c_pre"), col("c_post")).as("rep"),
        lit(null).cast("long").as("n_t"), lit(null).cast("long").as("sp"))
      .unionByName(tv.select(col("pre"), lit(1).as("kind"),
        lit(null).cast("struct<c_pre:bigint,c_post:bigint>").as("rep"),
        col("n_t"), col("sp")))
    val ord = Window.orderBy(col("pre"), col("kind"))
    val matched = pool
      .withColumn("below", last(col("rep"), ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("above", first(col("rep"), ignoreNulls = true)
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("kind") === 1)
      .withColumn("pick", expr(
        """CASE WHEN below IS NULL THEN above
          |     WHEN above IS NULL THEN below
          |     WHEN pre - below.c_pre <= above.c_pre - pre THEN below
          |     ELSE above END""".stripMargin))
      .filter(col("pick").isNotNull)
      .select(col("n_t"), col("sp"),
        col("pick.c_post").as("c_post"),
        abs(col("pre") - col("pick.c_pre")).as("d"))
    val nControls = users.filter(col("arm") === 0)
      .agg(count(lit(1)).as("n_controls"))
    // grouped (not global) aggregate so an empty match set yields an
    // empty report in BOTH engines
    matched.crossJoin(broadcast(nControls))
      .groupBy(col("n_controls"))
      .agg(
        sum(col("n_t")).as("n_treated"),
        sum(col("sp") - col("n_t") * col("c_post")).as("num"),
        sum(col("n_t") * col("d")).as("sd"),
        max(col("d")).as("max_match_dist_cents"))
      .select(col("n_treated"), col("n_controls"),
        expr("num div n_treated").as("att_cents"),
        expr("sd div n_treated").as("mean_match_dist_cents"),
        col("max_match_dist_cents"))
  }

  /** DuckDB twin of [[matchedAtt]] — the argmin is quadratic over the
    * two collapsed value domains (oracle-scale only), same tie-breaks.
    */
  def matchedAttOracleSql(splitIso: String = "2024-01-15 00:00:00"): String =
    s"""WITH users AS MATERIALIZED (
       |  SELECT user_id,
       |    sum(CASE WHEN ts < TIMESTAMP '$splitIso'
       |        THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END) AS pre,
       |    sum(CASE WHEN ts >= TIMESTAMP '$splitIso'
       |        THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END) AS post,
       |    user_id % 2 AS arm
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |reps AS (
       |  SELECT pre, post AS c_post FROM (
       |    SELECT pre, post, row_number() OVER (
       |      PARTITION BY pre ORDER BY user_id) AS rn
       |    FROM users WHERE arm = 0) WHERE rn = 1),
       |tv AS (
       |  SELECT pre, count(*)::BIGINT AS n_t, sum(post)::BIGINT AS sp
       |  FROM users WHERE arm = 1 GROUP BY pre),
       |m AS (
       |  SELECT pre, n_t, sp, c_post, d FROM (
       |    SELECT tv.pre, tv.n_t, tv.sp, r.c_post,
       |      abs(r.pre - tv.pre) AS d,
       |      row_number() OVER (PARTITION BY tv.pre
       |        ORDER BY abs(r.pre - tv.pre), r.pre) AS rn
       |    FROM tv CROSS JOIN reps r) WHERE rn = 1),
       |nc AS (SELECT count(*)::BIGINT AS n_controls FROM users WHERE arm = 0)
       |SELECT sum(n_t)::BIGINT AS n_treated, nc.n_controls,
       |  (sum(sp - n_t * c_post) // sum(n_t))::BIGINT AS att_cents,
       |  (sum(n_t * d) // sum(n_t))::BIGINT AS mean_match_dist_cents,
       |  max(d)::BIGINT AS max_match_dist_cents
       |FROM m CROSS JOIN nc GROUP BY nc.n_controls""".stripMargin

  /** SPLIT-CONFORMAL PREDICTION INTERVALS — the distribution-free
    * uncertainty layer over any point predictor (Vovk et al. 2005;
    * Lei et al., JASA'18): fit on one half, take the ⌈(n+1)(1−α)⌉-th
    * smallest absolute residual on the calibration half as the interval
    * half-width q̂, and the marginal coverage guarantee P(|y−ŷ| ≤ q̂) ≥
    * 1−α holds with NO model or distribution assumptions. Here the
    * predictor is the simplest exact one — post-period spend forecast as
    * pre · (Σpost_cal div Σpre_cal), integer cents throughout — and the
    * readout per α is q̂ plus the realized coverage on the held-out arm,
    * the check that the guarantee transferred.
    *
    * Shape at 100 TB: the corpus collapses user→(pre, post) once; the
    * calibration order statistic comes from the weightedQuantiles
    * discipline — residuals collapse to their VALUE DOMAIN with counts,
    * one cumulative over the sorted domain, pick the first value whose
    * cumulative count reaches k — never a global row sort, never top-k
    * with k ≈ n.
    */
  def conformalInterval(
      df: DataFrame,
      splitIso: String = "2024-01-15 00:00:00",
      alphasE6: Seq[Int] = Seq(100000, 200000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val split = lit(splitIso).cast("timestamp")
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val users = df.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < split, col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("ts") >= split, col("cents")).otherwise(0L)).as("post"))
      .withColumn("arm", col("user_id") % 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // slope as one exact rational: scores use |post·Σpre − pre·Σpost|
    // rescaled by Σpre only at readout, so no per-user rounding drifts
    val fit = users.filter(col("arm") === 0)
      .agg(sum(col("pre")).as("sp"), sum(col("post")).as("so"))
    val scored = users.crossJoin(broadcast(fit))
      .filter(col("sp") > 0L)
      .withColumn("resid",
        abs(col("post") - expr("cast(pre as decimal(38,0)) * so div sp")))
    val calDomain = scored.filter(col("arm") === 0)
      .groupBy(col("resid")).agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("resid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nCal = scored.filter(col("arm") === 0)
      .agg(count(lit(1)).as("n_cal"))
    val grid = spark.createDataFrame(
      alphasE6.sorted.map(a => Tuple1(a.toLong))).toDF("alpha_e6")
    // k = ⌈(n+1)(1−α)⌉ — ceil via (p + q−1) div q on positives (trunc
    // and floor agree there, both engines); capped at n (k > n means
    // q̂ = ∞; the cap is the standard small-n fallback)
    val qhat = grid.crossJoin(broadcast(nCal))
      .withColumn("k", least(col("n_cal"),
        expr("((n_cal + 1) * (1000000 - alpha_e6) + 999999) div 1000000")))
      .join(calDomain, col("cum") >= col("k"))
      .groupBy(col("alpha_e6"), col("n_cal"), col("k"))
      .agg(min(col("resid")).as("qhat_cents"))
    scored.filter(col("arm") === 1)
      .crossJoin(broadcast(qhat))
      .groupBy(col("alpha_e6"), col("n_cal"), col("k"), col("qhat_cents"))
      .agg(
        count(lit(1)).as("n_test"),
        sum(when(col("resid") <= col("qhat_cents"), 1L).otherwise(0L))
          .as("covered"))
      .select(col("alpha_e6"), col("n_cal"), col("k"), col("qhat_cents"),
        col("n_test"),
        expr("covered * 1000000 div n_test").as("coverage_e6"))
      .orderBy(col("alpha_e6"))
  }

  /** DuckDB twin of [[conformalInterval]] — same value-domain order
    * statistic and exact rational residuals.
    */
  def conformalIntervalOracleSql(
      splitIso: String = "2024-01-15 00:00:00",
      alphasE6: Seq[Int] = Seq(100000, 200000)): String = {
    val grid = alphasE6.sorted.map(a => s"($a)").mkString(", ")
    s"""WITH users AS MATERIALIZED (
       |  SELECT user_id,
       |    sum(CASE WHEN ts < TIMESTAMP '$splitIso'
       |        THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END) AS pre,
       |    sum(CASE WHEN ts >= TIMESTAMP '$splitIso'
       |        THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END) AS post,
       |    user_id % 2 AS arm
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |fit AS (SELECT sum(pre)::BIGINT AS sp, sum(post)::BIGINT AS so
       |        FROM users WHERE arm = 0),
       |scored AS (
       |  SELECT arm, abs(post - (pre::HUGEINT * so // sp))::BIGINT AS resid
       |  FROM users CROSS JOIN fit WHERE sp > 0),
       |cal AS (
       |  SELECT resid, count(*)::BIGINT AS c,
       |    sum(count(*)) OVER (ORDER BY resid)::BIGINT AS cum
       |  FROM scored WHERE arm = 0 GROUP BY resid),
       |ncal AS (SELECT count(*)::BIGINT AS n_cal FROM scored WHERE arm = 0),
       |grid AS (SELECT * FROM (VALUES $grid) t(alpha_e6)),
       |qh AS (
       |  SELECT alpha_e6, n_cal, k, min(resid)::BIGINT AS qhat_cents
       |  FROM (SELECT g.alpha_e6, n.n_cal,
       |          least(n.n_cal, ((n.n_cal + 1) * (1000000 - g.alpha_e6)
       |            + 999999) // 1000000)::BIGINT AS k
       |        FROM grid g CROSS JOIN ncal n) kk
       |  JOIN cal ON cal.cum >= kk.k
       |  GROUP BY alpha_e6, n_cal, k)
       |SELECT qh.alpha_e6::BIGINT AS alpha_e6, qh.n_cal, qh.k,
       |  qh.qhat_cents,
       |  count(*)::BIGINT AS n_test,
       |  (sum(CASE WHEN s.resid <= qh.qhat_cents THEN 1 ELSE 0 END)
       |    * 1000000 // count(*))::BIGINT AS coverage_e6
       |FROM qh CROSS JOIN scored s WHERE s.arm = 1
       |GROUP BY 1, 2, 3, 4 ORDER BY alpha_e6""".stripMargin
  }

  /** RANDOMIZATION (PERMUTATION) TEST — the assumption-free inference
    * backstop next to [[welchTtest]]/[[mannWhitney]] (Fisher 1935): the
    * p-value for the observed between-arm mean-spend difference is the
    * share of label reassignments producing an |effect| at least as
    * large. Reassignments come from a deterministic LCG over
    * (user_id, draw) — the SAME literal arithmetic in both engines —
    * and every comparison is cross-multiplied in decimal, so the
    * readout is exact: no float means, no RNG drift. Draws that land an
    * arm empty count as extreme (the conservative convention; measure
    * zero beyond toy inputs). p = (extreme + 1)/(B + 1), the standard
    * add-one bound.
    *
    * Shape at 100 TB: the corpus collapses user→total once; the draw
    * grid multiplies the USER DIMENSION by B (a broadcast cross), and
    * each draw is a two-group partial aggregation — embarrassingly
    * parallel, no window, no sort. B is the knob: cost is B user-scans'
    * worth of aggregation, not B corpus scans.
    */
  def permTest(df: DataFrame, nDraws: Int = 200): DataFrame = {
    val spark = df.sparkSession
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(cents).as("spend"))
      .withColumn("arm", col("user_id") % 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val obs = users.agg(
      sum(when(col("arm") === 1, col("spend")).otherwise(0L)).as("s1"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 0, col("spend")).otherwise(0L)).as("s0"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"))
    val grid = spark.range(1, nDraws + 1).select(col("id").as("b"))
    val draws = users.crossJoin(broadcast(grid))
      .withColumn("parm", expr(
        "((user_id % 1000003) * 2654435761 + b * 40503) % 2147483647 % 2"))
      .groupBy(col("b"))
      .agg(
        sum(when(col("parm") === 1, col("spend")).otherwise(0L)).as("s1b"),
        sum(when(col("parm") === 1, 1L).otherwise(0L)).as("n1b"),
        sum(when(col("parm") === 0, col("spend")).otherwise(0L)).as("s0b"),
        sum(when(col("parm") === 0, 1L).otherwise(0L)).as("n0b"))
    draws.crossJoin(broadcast(obs))
      .withColumn("extreme", when(expr(
        """abs(cast(s1b as decimal(38,0)) * n0b - cast(s0b as decimal(38,0)) * n1b)
          |  * (cast(n1 as decimal(38,0)) * n0) >=
          |abs(cast(s1 as decimal(38,0)) * n0 - cast(s0 as decimal(38,0)) * n1)
          |  * (cast(n1b as decimal(38,0)) * n0b)""".stripMargin), 1L)
        .otherwise(0L))
      .groupBy(col("n1"), col("n0"), col("s1"), col("s0"))
      .agg(count(lit(1)).as("n_draws"), sum(col("extreme")).as("extreme_draws"))
      .select(
        (col("n1") + col("n0")).as("n_users"),
        expr("(s1 div nullif(n1, 0)) - (s0 div nullif(n0, 0))")
          .as("obs_diff_cents"),
        col("n_draws"), col("extreme_draws"),
        expr("(extreme_draws + 1) * 1000000 div (n_draws + 1)").as("p_e6"))
  }

  /** 2×2 FACTORIAL INTERACTION — the experimentation-plane readout for
    * when TWO features ship together (Montgomery, DoE ch. 6): factors
    * A = user_id mod 2 and B = user_id mod 3 == 0, cell means of spend,
    * main effects, and the interaction contrast
    *   (ȳ₁₁ − ȳ₁₀) − (ȳ₀₁ − ȳ₀₀)
    * — the number that says the combined launch is NOT the sum of the
    * parts. Exact pairing: cell means floor to integer cents (the div
    * discipline, identical both engines) before the contrasts, so the
    * readout is deterministic integer arithmetic over the four
    * (sum, count) cell pairs.
    *
    * Shape at 100 TB: one user collapse, one 4-cell aggregate,
    * arithmetic on 4 rows.
    */
  def factorialInteraction(df: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val cells = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(cents).as("y"))
      .select(
        (col("user_id") % 2).as("a"),
        when(col("user_id") % 3 === 0L, 1L).otherwise(0L).as("b"),
        col("y"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val wide = cells.groupBy(lit(1).as("_g"))
      .agg(
        sum(when(col("a") === 1 && col("b") === 1, col("n"))).as("n11"),
        sum(when(col("a") === 1 && col("b") === 1, col("s"))).as("s11"),
        sum(when(col("a") === 1 && col("b") === 0, col("n"))).as("n10"),
        sum(when(col("a") === 1 && col("b") === 0, col("s"))).as("s10"),
        sum(when(col("a") === 0 && col("b") === 1, col("n"))).as("n01"),
        sum(when(col("a") === 0 && col("b") === 1, col("s"))).as("s01"),
        sum(when(col("a") === 0 && col("b") === 0, col("n"))).as("n00"),
        sum(when(col("a") === 0 && col("b") === 0, col("s"))).as("s00"))
      .drop("_g")
      .filter(col("n11").isNotNull && col("n10").isNotNull &&
        col("n01").isNotNull && col("n00").isNotNull)
    wide.select(
      (col("n11") + col("n10") + col("n01") + col("n00")).as("n_users"),
      expr("s11 div n11 - s10 div n10").as("b_effect_in_a1_cents"),
      expr("s01 div n01 - s00 div n00").as("b_effect_in_a0_cents"),
      expr("(s11 div n11 - s10 div n10) - (s01 div n01 - s00 div n00)")
        .as("interaction_cents"))
  }

  /** DuckDB twin of [[factorialInteraction]]. */
  def factorialInteractionOracleSql: String =
    """WITH users AS (
      |  SELECT user_id % 2 AS a,
      |    CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS b,
      |    sum((value::DECIMAL(12,2) * 100)::BIGINT) AS y
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |cells AS (
      |  SELECT a, b, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
      |  FROM users GROUP BY a, b),
      |wide AS (
      |  SELECT
      |    sum(CASE WHEN a = 1 AND b = 1 THEN n END)::BIGINT AS n11,
      |    sum(CASE WHEN a = 1 AND b = 1 THEN s END)::BIGINT AS s11,
      |    sum(CASE WHEN a = 1 AND b = 0 THEN n END)::BIGINT AS n10,
      |    sum(CASE WHEN a = 1 AND b = 0 THEN s END)::BIGINT AS s10,
      |    sum(CASE WHEN a = 0 AND b = 1 THEN n END)::BIGINT AS n01,
      |    sum(CASE WHEN a = 0 AND b = 1 THEN s END)::BIGINT AS s01,
      |    sum(CASE WHEN a = 0 AND b = 0 THEN n END)::BIGINT AS n00,
      |    sum(CASE WHEN a = 0 AND b = 0 THEN s END)::BIGINT AS s00
      |  FROM cells GROUP BY true)
      |SELECT (n11 + n10 + n01 + n00)::BIGINT AS n_users,
      |  (s11 // n11 - s10 // n10)::BIGINT AS b_effect_in_a1_cents,
      |  (s01 // n01 - s00 // n00)::BIGINT AS b_effect_in_a0_cents,
      |  ((s11 // n11 - s10 // n10) - (s01 // n01 - s00 // n00))::BIGINT
      |    AS interaction_cents
      |FROM wide
      |WHERE n11 IS NOT NULL AND n10 IS NOT NULL
      |  AND n01 IS NOT NULL AND n00 IS NOT NULL""".stripMargin

  /** COHEN'S d EFFECT SIZE between the two arms — the magnitude readout
    * p-values can't give ([[welchTtest]] says "real", d says "matters"):
    * standardized mean difference over the pooled standard deviation,
    * read against the 0.2/0.5/0.8 convention. Determinism: the five
    * sufficient statistics are EXACT integer/decimal sums; the final d
    * is one literal double expression (sqrt is IEEE-correctly-rounded,
    * so identical inputs give identical output in both engines — the
    * heapsLaw slope discipline).
    *
    * Shape at 100 TB: one user collapse, one two-group aggregate, 1-row
    * arithmetic.
    */
  def cohensD(df: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(cents).as("y"))
      .withColumn("arm", col("user_id") % 2)
      .groupBy(lit(1).as("_g"))
      .agg(
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("s1"),
        sum(when(col("arm") === 1, col("y").cast("decimal(38,0)") * col("y"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 0, col("y").cast("decimal(38,0)") * col("y"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q0"))
      .drop("_g")
      .filter(col("n1") > 0 && col("n0") > 0 && col("n1") + col("n0") > 2)
      .selectExpr("n1", "n0",
        "CAST(s1 div n1 - s0 div n0 AS BIGINT) AS diff_cents",
        """CASE WHEN (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          |   + (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) > 0
          |THEN CAST(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
          |  / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          |        + (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
          |       / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0)) * 10000) AS BIGINT)
          |END AS d_e4""".stripMargin)
  }

  /** DuckDB twin of [[cohensD]] — identical sufficient statistics and
    * the identical literal double expression.
    */
  def cohensDOracleSql: String =
    """WITH users AS (
      |  SELECT user_id, sum((value::DECIMAL(12,2) * 100)::BIGINT) AS y,
      |    user_id % 2 AS arm
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |s AS (
      |  SELECT
      |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1,
      |    sum(CASE WHEN arm = 1 THEN y::HUGEINT * y ELSE 0 END) AS q1,
      |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
      |    sum(CASE WHEN arm = 0 THEN y::HUGEINT * y ELSE 0 END) AS q0
      |  FROM users GROUP BY true)
      |SELECT n1, n0,
      |  (s1 // n1 - s0 // n0)::BIGINT AS diff_cents,
      |  CASE WHEN (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      |     + (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) > 0
      |  THEN CAST(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |    / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      |          + (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
      |         / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0)) * 10000) AS BIGINT)
      |  END AS d_e4
      |FROM s
      |WHERE n1 > 0 AND n0 > 0 AND n1 + n0 > 2""".stripMargin

  /** DuckDB twin of [[permTest]] — identical LCG draws and decimal
    * cross-multiplied comparisons.
    */
  def permTestOracleSql(nDraws: Int = 200): String =
    s"""WITH users AS MATERIALIZED (
       |  SELECT user_id,
       |    sum((value::DECIMAL(12,2) * 100)::BIGINT) AS spend,
       |    user_id % 2 AS arm
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |obs AS (
       |  SELECT sum(CASE WHEN arm = 1 THEN spend ELSE 0 END)::BIGINT AS s1,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN arm = 0 THEN spend ELSE 0 END)::BIGINT AS s0,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0
       |  FROM users),
       |grid AS (SELECT range AS b FROM range(1, ${nDraws + 1})),
       |draws AS (
       |  SELECT b,
       |    sum(CASE WHEN parm = 1 THEN spend ELSE 0 END)::BIGINT AS s1b,
       |    sum(CASE WHEN parm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1b,
       |    sum(CASE WHEN parm = 0 THEN spend ELSE 0 END)::BIGINT AS s0b,
       |    sum(CASE WHEN parm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0b
       |  FROM (SELECT u.spend, g.b,
       |          ((u.user_id % 1000003) * 2654435761 + g.b * 40503)
       |            % 2147483647 % 2 AS parm
       |        FROM users u CROSS JOIN grid g)
       |  GROUP BY b),
       |ext AS (
       |  SELECT n1, n0, s1, s0, count(*)::BIGINT AS n_draws,
       |    sum(CASE WHEN
       |      abs(s1b::HUGEINT * n0b - s0b::HUGEINT * n1b)
       |        * (n1::HUGEINT * n0) >=
       |      abs(s1::HUGEINT * n0 - s0::HUGEINT * n1)
       |        * (n1b::HUGEINT * n0b)
       |      THEN 1 ELSE 0 END)::BIGINT AS extreme_draws
       |  FROM draws CROSS JOIN obs GROUP BY n1, n0, s1, s0)
       |SELECT (n1 + n0)::BIGINT AS n_users,
       |  ((s1 // nullif(n1, 0)) - (s0 // nullif(n0, 0)))::BIGINT
       |    AS obs_diff_cents,
       |  n_draws, extreme_draws,
       |  ((extreme_draws + 1) * 1000000 // (n_draws + 1))::BIGINT AS p_e6
       |FROM ext""".stripMargin

  /** STRATIFIED (SUBCLASSIFICATION) ATE — the third leg of the
    * observational-causal stool next to [[matchedAtt]] (1-NN matching)
    * and [[cupedLift]] (regression adjustment): stratify on the
    * confounder (pre-period spend, fixed-width bands), difference means
    * WITHIN each stratum, and average the differences weighted by
    * stratum size (Cochran 1968). Strata missing either arm are dropped
    * — the common-support trim. Exact integers: per-stratum difference
    * is one cross-multiplied rational, the weighted total quantizes
    * each stratum term identically in both engines.
    *
    * Shape at 100 TB: corpus → user collapse, user → stratum collapse
    * (both key-partitioned partial aggregations); everything after runs
    * on the stratum dimension.
    */
  def stratifiedAte(
      df: DataFrame,
      splitIso: String = "2024-01-15 00:00:00",
      bandCents: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val split = lit(splitIso).cast("timestamp")
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < split, cents).otherwise(0L)).as("pre"),
        sum(when(col("ts") >= split, cents).otherwise(0L)).as("post"))
      .withColumn("arm", col("user_id") % 2)
      .withColumn("stratum", expr(s"pre div $bandCents"))
    val strata = users.groupBy(col("stratum"))
      .agg(
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 1, col("post")).otherwise(0L)).as("s1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("arm") === 0, col("post")).otherwise(0L)).as("s0"))
      .filter(col("n_treat") > 0 && col("n_ctrl") > 0)
    strata
      .withColumn("diff_cents", expr(
        "(cast(s1 as decimal(38,0)) * n_ctrl - cast(s0 as decimal(38,0)) * n_treat) div (cast(n_treat as decimal(38,0)) * n_ctrl)"))
      .withColumn("n_s", col("n_treat") + col("n_ctrl"))
      .withColumn("n_total", sum(col("n_s")).over(Window.partitionBy()))
      .withColumn("term", expr(
        "(cast(n_s as decimal(38,0)) * (cast(s1 as decimal(38,0)) * n_ctrl - cast(s0 as decimal(38,0)) * n_treat)) div (cast(n_treat as decimal(38,0)) * n_ctrl)"))
      .withColumn("ate_cents",
        expr("cast(sum(term) over () as decimal(38,0)) div n_total"))
      .select(col("stratum"), col("n_treat"), col("n_ctrl"),
        col("diff_cents"),
        expr("n_s * 1000000 div n_total").as("weight_e6"),
        col("ate_cents"))
      .orderBy(col("stratum"))
  }

  /** DuckDB twin of [[stratifiedAte]] — same trim, same quantization. */
  def stratifiedAteOracleSql(
      splitIso: String = "2024-01-15 00:00:00",
      bandCents: Int = 2000): String =
    s"""WITH users AS MATERIALIZED (
       |  SELECT user_id,
       |    sum(CASE WHEN ts < TIMESTAMP '$splitIso'
       |        THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END) AS pre,
       |    sum(CASE WHEN ts >= TIMESTAMP '$splitIso'
       |        THEN (value::DECIMAL(12,2) * 100)::BIGINT ELSE 0 END) AS post,
       |    user_id % 2 AS arm
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |strata AS (
       |  SELECT (pre // $bandCents)::BIGINT AS stratum,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
       |    sum(CASE WHEN arm = 1 THEN post ELSE 0 END)::BIGINT AS s1,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ctrl,
       |    sum(CASE WHEN arm = 0 THEN post ELSE 0 END)::BIGINT AS s0
       |  FROM users GROUP BY 1
       |  HAVING sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
       |     AND sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0),
       |terms AS (
       |  SELECT stratum, n_treat, n_ctrl,
       |    (s1::HUGEINT * n_ctrl - s0::HUGEINT * n_treat)
       |      // (n_treat::HUGEINT * n_ctrl) AS diff_cents,
       |    n_treat + n_ctrl AS n_s,
       |    ((n_treat + n_ctrl)::HUGEINT * (s1::HUGEINT * n_ctrl
       |      - s0::HUGEINT * n_treat)) // (n_treat::HUGEINT * n_ctrl) AS term
       |  FROM strata),
       |tot AS (SELECT sum(n_s)::BIGINT AS n_total,
       |          sum(term)::HUGEINT AS term_sum FROM terms)
       |SELECT stratum, n_treat, n_ctrl, diff_cents::BIGINT AS diff_cents,
       |  (n_s * 1000000 // n_total)::BIGINT AS weight_e6,
       |  (term_sum // n_total)::BIGINT AS ate_cents
       |FROM terms CROSS JOIN tot ORDER BY stratum""".stripMargin

  /** QUANTILE TREATMENT EFFECTS — where [[stratifiedAte]] reports the
    * MEAN shift, QTE reports the shift at each decile of the outcome
    * distribution (Doksum 1974): an intervention that helps the median
    * user but hurts the tail is invisible to an ATE and obvious here.
    * Per decile τ, q_arm(τ) is the ⌈τ·n/10⌉-th order statistic of
    * per-user spend (an exact, engine-agnostic definition — no
    * interpolation), QTE(τ) = q_treat − q_ctrl.
    *
    * Shape at 100 TB: user collapse, then each arm's spend distribution
    * collapses to its VALUE DOMAIN with counts; order statistics are
    * one cumulative over the sorted domain joined against the 9-row
    * decile grid — the weightedQuantiles discipline, never a row sort.
    */
  def quantileTreatmentEffects(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val users = df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(cents).as("spend"))
      .withColumn("arm", col("user_id") % 2)
    val domain = users.groupBy(col("arm"), col("spend"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("arm")).orderBy(col("spend"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("arm"))))
    val grid = df.sparkSession.range(1, 10).select(col("id").as("d"))
    val qs = domain.join(broadcast(grid),
        expr("cum * 10 >= d * n"))
      .groupBy(col("d"), col("arm"), col("n"))
      .agg(min(col("spend")).as("q"))
    qs.filter(col("arm") === 1)
      .select(col("d"), col("n").as("n_treat"), col("q").as("q_treat_cents"))
      .join(qs.filter(col("arm") === 0)
        .select(col("d"), col("n").as("n_ctrl"), col("q").as("q_ctrl_cents")),
        Seq("d"))
      .select(col("d").as("decile"), col("n_treat"), col("n_ctrl"),
        col("q_treat_cents"), col("q_ctrl_cents"),
        (col("q_treat_cents") - col("q_ctrl_cents")).as("qte_cents"))
      .orderBy(col("decile"))
  }

  /** DuckDB twin of [[quantileTreatmentEffects]]. */
  def quantileTreatmentEffectsOracleSql: String =
    """WITH users AS MATERIALIZED (
      |  SELECT user_id, sum((value::DECIMAL(12,2) * 100)::BIGINT) AS spend,
      |    user_id % 2 AS arm
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |dom AS (
      |  SELECT arm, spend, count(*)::BIGINT AS c FROM users GROUP BY 1, 2),
      |cums AS (
      |  SELECT arm, spend,
      |    sum(c) OVER (PARTITION BY arm ORDER BY spend)::BIGINT AS cum,
      |    sum(c) OVER (PARTITION BY arm)::BIGINT AS n
      |  FROM dom),
      |grid AS (SELECT range AS d FROM range(1, 10)),
      |qs AS (
      |  SELECT d, arm, n, min(spend)::BIGINT AS q
      |  FROM cums JOIN grid ON cum * 10 >= d * n
      |  GROUP BY d, arm, n)
      |SELECT t.d::BIGINT AS decile, t.n AS n_treat, c.n AS n_ctrl,
      |  t.q AS q_treat_cents, c.q AS q_ctrl_cents,
      |  (t.q - c.q)::BIGINT AS qte_cents
      |FROM (SELECT * FROM qs WHERE arm = 1) t
      |JOIN (SELECT * FROM qs WHERE arm = 0) c ON t.d = c.d
      |ORDER BY decile""".stripMargin

  /** INSTRUMENTAL-VARIABLES (WALD) ESTIMATOR — the causal tool for when
    * the TREATMENT ITSELF is self-selected but an ENCOURAGEMENT was
    * randomized (Angrist, Imbens & Rubin 1996): instrument z = the
    * mod-3 encouragement cohort, endogenous treatment d = the user
    * actually clicked, outcome y = spend. LATE = ITT effect on y over
    * ITT effect on d — and because both ITT contrasts share the n1·n0
    * denominator, the Wald ratio collapses to ONE exact integer
    * division: (Sy1·n0 − Sy0·n1) div (Sd1·n0 − Sd0·n1). Also reports
    * the first stage (compliance delta) — the weak-instrument check
    * that must be read before the LATE is believed.
    *
    * Shape at 100 TB: one user collapse, one 1-row aggregate.
    */
  def ivWald(df: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    df.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(cents).as("y"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("d"))
      .withColumn("z", when(col("user_id") % 3 === 0L, 1L).otherwise(0L))
      .groupBy(lit(1).as("_g"))
      .agg(
        sum(col("z")).as("n_enc"),
        sum(lit(1L) - col("z")).as("n_ctrl"),
        sum(col("z") * col("d")).as("d1"),
        sum((lit(1L) - col("z")) * col("d")).as("d0"),
        sum(col("z") * col("y")).as("y1"),
        sum((lit(1L) - col("z")) * col("y")).as("y0"))
      .drop("_g")
      .select(col("n_enc"), col("n_ctrl"),
        expr("(d1 * n_ctrl - d0 * n_enc) * 1000000 div nullif(n_enc * n_ctrl, 0)")
          .as("first_stage_e6"),
        expr("(cast(y1 as decimal(38,0)) * n_ctrl - cast(y0 as decimal(38,0)) * n_enc) div nullif(cast(n_enc as decimal(38,0)) * n_ctrl, 0)")
          .as("itt_cents"),
        expr("(cast(y1 as decimal(38,0)) * n_ctrl - cast(y0 as decimal(38,0)) * n_enc) div nullif(cast(d1 as decimal(38,0)) * n_ctrl - cast(d0 as decimal(38,0)) * n_enc, 0)")
          .as("late_cents"))
  }

  /** DuckDB twin of [[ivWald]]. */
  def ivWaldOracleSql: String =
    """WITH users AS (
      |  SELECT user_id, sum((value::DECIMAL(12,2) * 100)::BIGINT) AS y,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS d,
      |    CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS z
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |s AS (
      |  SELECT sum(z)::BIGINT AS n_enc, sum(1 - z)::BIGINT AS n_ctrl,
      |    sum(z * d)::BIGINT AS d1, sum((1 - z) * d)::BIGINT AS d0,
      |    sum(z * y)::BIGINT AS y1, sum((1 - z) * y)::BIGINT AS y0
      |  FROM users GROUP BY true)
      |SELECT n_enc, n_ctrl,
      |  ((d1 * n_ctrl - d0 * n_enc) * 1000000
      |    // nullif(n_enc * n_ctrl, 0))::BIGINT AS first_stage_e6,
      |  ((y1::HUGEINT * n_ctrl - y0::HUGEINT * n_enc)
      |    // nullif(n_enc::HUGEINT * n_ctrl, 0))::BIGINT AS itt_cents,
      |  ((y1::HUGEINT * n_ctrl - y0::HUGEINT * n_enc)
      |    // nullif(d1::HUGEINT * n_ctrl - d0::HUGEINT * n_enc, 0))::BIGINT
      |    AS late_cents
      |FROM s""".stripMargin

  /** DuckDB twin of [[policyEval]]. */
  def policyEvalOracleSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT user_id % 4 AS segment, event_type AS action,
      |    count(*)::BIGINT AS n_sa,
      |    sum((value::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS sum_cents
      |  FROM events GROUP BY 1, 2),
      |gl AS (SELECT action, sum(n_sa)::BIGINT AS n_a FROM cells GROUP BY 1),
      |tot AS (SELECT sum(n_a)::BIGINT AS n_tot FROM gl),
      |seg AS (
      |  SELECT segment, sum(n_sa)::BIGINT AS n_s,
      |    CASE WHEN segment % 2 = 0 THEN 'purchase' ELSE 'view' END
      |      AS target_action
      |  FROM cells GROUP BY 1),
      |m AS (
      |  SELECT s.segment, s.target_action, s.n_s,
      |    coalesce(c.n_sa, 0)::BIGINT AS n_matched,
      |    coalesce(c.sum_cents, 0)::BIGINT AS sum_matched_cents
      |  FROM seg s LEFT JOIN cells c
      |    ON s.segment = c.segment AND s.target_action = c.action)
      |SELECT m.segment, m.target_action, m.n_s AS n_logged, m.n_matched,
      |  (1000000 * t.n_tot // g.n_a)::BIGINT AS w_e6,
      |  ((m.sum_matched_cents * (t.n_tot // g.n_a)) // m.n_s)::BIGINT
      |    AS ips_cents,
      |  (CASE WHEN m.n_matched > 0
      |    THEN m.sum_matched_cents // m.n_matched END)::BIGINT AS snips_cents
      |FROM m JOIN gl g ON m.target_action = g.action CROSS JOIN tot t
      |ORDER BY m.segment""".stripMargin
}

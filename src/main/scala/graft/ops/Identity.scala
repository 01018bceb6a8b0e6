package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-key entity resolution: collapse user records that share any
  * identity key (device, contact hash, …) into canonical entities — the
  * identity-stitching pass every event warehouse runs before user-level
  * metrics, and the one the reference's per-`user_id` dashboards
  * implicitly assume has already happened. The keys here are
  * deterministic synthetic stand-ins derived from `user_id` (the events
  * table carries no second identifier); the OPERATOR is generic over any
  * (record, key) pairs.
  */
object Identity {

  /** Entities = connected components of the record–key bipartite graph.
    *
    * Scale shape, in order:
    *  1. KEY → STAR EDGES, never cliques: a key shared by m records
    *     yields m−1 edges to the key's MIN record (one groupBy + one
    *     self-join on the key), not m² pairwise edges — the difference
    *     between linear and quadratic in the hottest key. Components of
    *     the star graph equal components of the clique graph.
    *  2. MIN-LABEL PROPAGATION to a fixed point by the
    *     [[Components.minLabel]] kernel over the key-head graph (below),
    *     with TWO pointer jumps per round: identity graphs chain hundreds
    *     of hops (the synthetic keys below already build 40-hop chains),
    *     and double jumping closes diameter D in ~log₄ D rounds.
    *     Overrunning maxRounds raises rather than emitting a half-merged
    *     identity table.
    *  3. The report collapses to one row per entity: canonical id (the
    *     min member), member count, distinct-key count — materialized
    *     before the call returns, when the cached input is released.
    */
  def resolveEntities(recordKeys: DataFrame, maxRounds: Int = 20): DataFrame = {
    val keyed = recordKeys.select(col("record_id"), col("key")).persist()
    // the report is materialized before keyed is released, so the cache
    // never outlives the call
    val report =
      try {
        val labels = resolveEntityLabels(keyed, maxRounds)
        val members = labels.groupBy(col("label"))
          .agg(count(lit(1)).as("n_records"))
        val keys = keyed.join(labels, "record_id")
          .groupBy(col("label"))
          .agg(countDistinct(col("key")).as("n_keys"))
        members.join(keys, "label")
          .select(col("label").as("entity_id"), col("n_records"), col("n_keys"))
          .localCheckpoint()
      } finally keyed.unpersist(blocking = false)
    report.orderBy(col("entity_id"))
  }

  /** The (record_id, label) frame [[resolveEntities]] summarizes —
    * exposed so survivorship ([[goldenRecords]]) can consume the same
    * converged labels. Input may be pre-persisted; the kernel derives its
    * edge frame from it either way.
    */
  def resolveEntityLabels(
      recordKeys: DataFrame, maxRounds: Int = 20): DataFrame = {
    val keyed = recordKeys.select(col("record_id"), col("key"))
    val starHeads = keyed.groupBy(col("key"))
      .agg(min(col("record_id")).as("head_id"))
    // HEAD-GRAPH CONTRACTION (round 13): the fixed point iterates over
    // the KEY-HEAD graph — one node per key's min record — instead of
    // the record graph. Records connect ONLY through shared keys, i.e.
    // through the keys' star heads, so (a) two heads are in the same
    // record-component iff some record carries both their keys — the
    // head co-occurrence edges below capture record-connectivity of
    // heads exactly — and (b) the component's min RECORD is always a
    // head (any record r has some key k with head(k) ≤ r in the same
    // component), so the head loop's fixpoint labels ARE the component
    // labels, and every record inherits its label from any of its heads
    // (all of them, being linked by r itself, share one component).
    // At 100 TB this shrinks the per-round frames from record scale to
    // key scale; record-dimension work is one label attach at the end.
    val recHeads = keyed.join(starHeads, "key")
      .select(col("record_id"), col("head_id"))
      .persist()
    // per record: its min head ↔ each of its other heads (star edges of
    // the head co-occurrence graph — m−1 rows per record, never m²)
    val hminW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("record_id"))
    val star = recHeads
      .select(col("head_id").as("u"),
        min(col("head_id")).over(hminW).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // two jumps a round: this edge frame is tiny next to the label frame
    val headLabels = Components.minLabel(star, maxRounds, "entity resolution",
      nodes = Some(recHeads.select(col("head_id").as("node"))), jumps = 2)
    // every record inherits the component label of its heads (min over
    // keys is a determinism formality — a record's heads are mutually
    // linked by the record itself, so their labels agree); eagerly
    // checkpointed, preserving the "returns materialized labels"
    // contract callers rely on, and letting the head-map cache go
    val out = recHeads
      .join(headLabels, recHeads("head_id") === headLabels("node"))
      .groupBy(recHeads("record_id").as("record_id"))
      .agg(min(col("label")).as("label"))
      .localCheckpoint()
    recHeads.unpersist(blocking = false)
    out
  }

  /** The synthetic (record, key) pairs for the events table: each user
    * carries a "device" key (user_id mod 97) and a "contact" key
    * (7·user_id + 3 mod 101) — moduli chosen coprime so collisions
    * cross-link users into small multi-record entities.
    */
  def eventUserKeys(events: DataFrame): DataFrame = {
    val users = events.filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
    users.select(col("user_id").as("record_id"),
      concat(lit("d"), col("user_id") % 97).as("key"))
      .union(users.select(col("user_id").as("record_id"),
        concat(lit("e"), (col("user_id") * 7 + 3) % 101).as("key")))
  }

  /** End-to-end query: resolve event users into entities. */
  def entityResolution(events: DataFrame): DataFrame =
    resolveEntities(eventUserKeys(events))

  /** GOLDEN-RECORD SURVIVORSHIP — the step after [[entityResolution]]
    * every MDM pipeline runs: merge each entity's member records into
    * ONE canonical row under explicit survivorship rules. Rules here
    * are the standard trio: additive facts SUM (event count, value
    * cents), temporal facts take extremes (first seen = min day), and
    * contested single-value attributes go MOST-RECENT-WINS — the
    * member with the latest activity donates its last event type, ties
    * broken by event id, which is unique, so the winner is total-order
    * deterministic. Recency rides a zero-padded (ts, event_id) string
    * pack so one max() both picks the winner and carries its attribute
    * — the same packed-argmax trick as [[Graph.triangleCount]]'s rank
    * pack, in string space because the carried value is a string.
    *
    * Shape at 100 TB: one fact collapse to per-record attribute rows,
    * the label attach (entity labels are record-dimension), and one
    * entity-dimension aggregate. The resolution loop is
    * [[resolveEntityLabels]] unchanged.
    */
  def goldenRecords(events: DataFrame, maxRounds: Int = 20): DataFrame = {
    val keyed = eventUserKeys(events)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the labels come back materialized, so nothing reads keyed after
    val labels =
      try resolveEntityLabels(keyed, maxRounds)
      finally keyed.unpersist(blocking = false)
    val perUser = events.filter(col("user_id").isNotNull)
      .select(col("user_id").as("record_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("tsu"),
        to_date(col("ts")).as("d"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .groupBy(col("record_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("value_cents"),
        min(col("d")).as("first_seen"),
        max(concat(lpad(col("tsu").cast("string"), 20, "0"),
          lpad(col("event_id").cast("string"), 20, "0"), lit(":"),
          col("event_type"))).as("recency_key"))
    perUser.join(labels, "record_id")
      .groupBy(col("label").as("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_events")).as("n_events"),
        sum(col("value_cents")).as("value_cents"),
        min(col("first_seen")).as("first_seen"),
        substring(max(col("recency_key")), 42, 1000).as("last_type"))
      .orderBy(col("entity_id"))
  }

  /** DuckDB oracle for [[goldenRecords]] — the [[entityResolutionOracleSql]]
    * closure plus the identical packed-recency survivorship.
    */
  def goldenRecordsOracleSql: String =
    """WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
      |rk AS (
      |  SELECT user_id AS record_id, 'd' || (user_id % 97) AS key FROM u
      |  UNION ALL
      |  SELECT user_id AS record_id, 'e' || ((user_id * 7 + 3) % 101) AS key FROM u),
      |heads AS (SELECT key, min(record_id) AS head_id FROM rk GROUP BY key),
      |star AS (
      |  SELECT DISTINCT rk.record_id AS a, heads.head_id AS b
      |  FROM rk JOIN heads USING (key) WHERE rk.record_id <> heads.head_id),
      |edges AS (SELECT a, b FROM star UNION SELECT b, a FROM star),
      |reach AS (
      |  SELECT record_id AS src, record_id AS dst FROM (SELECT DISTINCT record_id FROM rk)
      |  UNION
      |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
      |lab AS (SELECT src AS record_id, min(dst) AS label FROM reach GROUP BY src),
      |per_user AS (
      |  SELECT user_id AS record_id, count(*)::BIGINT AS n_events,
      |    sum((value::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS value_cents,
      |    min(ts::DATE) AS first_seen,
      |    max(lpad(epoch_us(ts)::VARCHAR, 20, '0')
      |        || lpad(event_id::VARCHAR, 20, '0') || ':' || event_type)
      |      AS recency_key
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
      |SELECT lab.label AS entity_id, count(*)::BIGINT AS n_members,
      |  sum(n_events)::BIGINT AS n_events,
      |  sum(value_cents)::BIGINT AS value_cents,
      |  min(first_seen) AS first_seen,
      |  substr(max(recency_key), 42) AS last_type
      |FROM per_user JOIN lab USING (record_id)
      |GROUP BY lab.label ORDER BY entity_id""".stripMargin

  /** DuckDB oracle for [[entityResolution]] — identical synthetic keys
    * and star edges, components via a recursive-CTE transitive closure
    * (min reachable record = the same canonical label the min-label
    * fixed point converges to). Closure size is Σ component² — fine at
    * oracle scale, which is exactly why the Spark side iterates instead.
    */
  def entityResolutionOracleSql: String =
    """WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
      |rk AS (
      |  SELECT user_id AS record_id, 'd' || (user_id % 97) AS key FROM u
      |  UNION ALL
      |  SELECT user_id AS record_id, 'e' || ((user_id * 7 + 3) % 101) AS key FROM u),
      |heads AS (SELECT key, min(record_id) AS head_id FROM rk GROUP BY key),
      |star AS (
      |  SELECT DISTINCT rk.record_id AS a, heads.head_id AS b
      |  FROM rk JOIN heads USING (key) WHERE rk.record_id <> heads.head_id),
      |edges AS (SELECT a, b FROM star UNION SELECT b, a FROM star),
      |reach AS (
      |  SELECT record_id AS src, record_id AS dst FROM (SELECT DISTINCT record_id FROM rk)
      |  UNION
      |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
      |lab AS (SELECT src AS record_id, min(dst) AS label FROM reach GROUP BY src),
      |mem AS (SELECT label, count(*) AS n_records FROM lab GROUP BY label),
      |ks AS (
      |  SELECT lab.label, count(DISTINCT rk.key) AS n_keys
      |  FROM rk JOIN lab USING (record_id) GROUP BY lab.label)
      |SELECT mem.label AS entity_id, n_records::BIGINT AS n_records,
      |  n_keys::BIGINT AS n_keys
      |FROM mem JOIN ks USING (label) ORDER BY entity_id""".stripMargin
}

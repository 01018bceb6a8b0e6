package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spatial join capability — the ε-neighbor self-join every geo workload
  * needs (store catchments, co-location, GPS dedup), expressed with the
  * same discipline as the interval join: a non-equi distance predicate
  * rewritten as a grid-cell EQUI-join plus a residual check, so the pair
  * space scales with local density, never n². The testdata carries no
  * coordinates, so points derive deterministically from user ids (two
  * independent affine hashes onto a [0, 10⁶]² integer grid) — the
  * OPERATOR is the deliverable, the synthetic geometry just drives it.
  *
  * Exactness: coordinates are integers, ε is an integer, and the
  * predicate is dx² + dy² ≤ ε² in exact BIGINT arithmetic — no floating
  * distance anywhere, so the oracle matches bit-for-bit.
  */
object Spatial {

  private val M = 1000000007L
  private val Range = 1000001L // coords in [0, 1e6]

  /** All unordered user pairs within ε (e6 grid units) of each other.
    *
    * Shape at 100 TB: points collapse to one row per user; each point
    * lands in ONE ε-width grid cell; the candidate join explodes the
    * LEFT side to its 3×3 cell neighborhood (9 rows of 24 bytes — the
    * points table never duplicates its payload) and equi-joins on the
    * cell key, so compared pairs are O(Σ cell·neighborhood density).
    * The `a.uid < b.uid` dedup rides the join condition, the exact
    * circle test is a residual filter, and AQE's skew split covers a
    * hot cell (a city) the same way it covers a hot join key.
    */
  def spatialNeighbors(events: DataFrame, epsE6: Long = 100000L): DataFrame =
    neighborPairs(events, epsE6).orderBy(col("uid_a"), col("uid_b"))

  /** [[spatialNeighbors]] without the presentation sort — the internal
    * form [[dbscan]] consumes (its checkpoint has no use for a global
    * ordering exchange).
    */
  private def neighborPairs(events: DataFrame, epsE6: Long): DataFrame = {
    require(epsE6 > 0, "eps must be positive")
    val pts = events
      .filter(col("user_id").isNotNull)
      .select(col("user_id").as("uid")).distinct()
      .withColumn("x", expr(s"(uid * 1103515245L + 12345L) % ${M}L % ${Range}L"))
      .withColumn("y", expr(s"(uid * 69069L + 1L) % ${M}L % ${Range}L"))
    val cells = pts
      .withColumn("cx", expr(s"x div $epsE6"))
      .withColumn("cy", expr(s"y div $epsE6"))
    // HALF-neighborhood probe: the full 3×3 explode finds every
    // unordered pair TWICE (once from each endpoint's probe) and lets
    // the uid filter drop one copy — paying the join for both. Probing
    // only the scan-order-forward half {(0,0),(1,0),(-1,1),(0,1),(1,1)}
    // generates each cross-cell pair exactly once (the 8-neighborhood
    // splits antisymmetrically) and same-cell pairs dedup on uid order,
    // halving the candidate stream at any scale. Output identity is
    // restored with least/greatest — the pair SET is provably the same.
    val probe = cells
      .withColumn("dc", explode(expr(
        "array(struct(0L AS dcx, 0L AS dcy), struct(1L AS dcx, 0L AS dcy)," +
          " struct(-1L AS dcx, 1L AS dcy), struct(0L AS dcx, 1L AS dcy)," +
          " struct(1L AS dcx, 1L AS dcy))")))
      .select(col("uid").as("uid_p"), col("x").as("xp"), col("y").as("yp"),
        (col("cx") + col("dc.dcx")).as("cx"),
        (col("cy") + col("dc.dcy")).as("cy"),
        (col("dc.dcx") === 0L && col("dc.dcy") === 0L).as("same_cell"))
    // PIN the candidate join's parallelism at the configured shuffle
    // partitions (the fuzzyJoin discipline): join INPUT bytes are point-
    // sized but the in-join neighborhood candidate stream × distance
    // residual is the dominant compute, which AQE's byte-based
    // coalescing otherwise squeezes onto 1-2 tasks
    val np = events.sparkSession.sessionState.conf.numShufflePartitions
    probe.repartition(np, col("cx"), col("cy"))
      .join(cells.select(col("uid").as("uid_c"), col("x").as("xc"),
        col("y").as("yc"), col("cx"), col("cy"))
        .repartition(np, col("cx"), col("cy")),
        Seq("cx", "cy"))
      .filter(!col("same_cell") || col("uid_p") < col("uid_c"))
      .filter(col("uid_p") =!= col("uid_c"))
      .withColumn("dist2",
        (col("xp") - col("xc")) * (col("xp") - col("xc")) +
          (col("yp") - col("yc")) * (col("yp") - col("yc")))
      .filter(col("dist2") <= epsE6 * epsE6)
      .select(least(col("uid_p"), col("uid_c")).as("uid_a"),
        greatest(col("uid_p"), col("uid_c")).as("uid_b"), col("dist2"))
  }

  /** DuckDB oracle for [[spatialNeighbors]] — the straightforward
    * all-pairs formulation (the oracle need not be scale-shaped).
    */
  def spatialNeighborsOracleSql(epsE6: Long = 100000L): String =
    s"""WITH p AS (
       |  SELECT DISTINCT user_id AS uid,
       |    (user_id * 1103515245 + 12345) % $M % $Range AS x,
       |    (user_id * 69069 + 1) % $M % $Range AS y
       |  FROM events WHERE user_id IS NOT NULL)
       |SELECT a.uid AS uid_a, b.uid AS uid_b,
       |  ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))::BIGINT
       |    AS dist2
       |FROM p a JOIN p b ON a.uid < b.uid
       |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |  <= ${epsE6 * epsE6}
       |ORDER BY uid_a, uid_b""".stripMargin

  /** GRID-ACCELERATED DBSCAN — density clustering over the user point
    * cloud: a point whose ε-neighborhood holds ≥ `minPts` points
    * (itself included) is CORE; core points within ε of each other chain
    * into one cluster; a non-core point within ε of a core is BORDER
    * (attached to its minimum-id core neighbor's cluster — the
    * deterministic resolution of DBSCAN's only underspecified choice);
    * everything else is NOISE. Labels are connected components over the
    * core-core ε-graph, cluster_id = min uid in the component.
    *
    * Shape at 100 TB: candidate pairs come from the same 3×3 ε-grid
    * cell join as [[spatialNeighbors]] — O(Σ cell density²), never
    * all-pairs. Cluster labels come from the [[Components.minLabel]]
    * kernel over the CORE-EDGE subgraph only (isolated cores keep their
    * own id); a cluster that snakes across many grid cells still closes
    * in O(log diameter) rounds, and non-convergence throws rather than
    * emitting wrong labels. Border attachment and the role readout are
    * two more broadcast-scale joins. The oracle replays the same
    * semantics via a recursive-CTE closure (oracle-scale only).
    */
  def dbscan(
      events: DataFrame,
      epsE6: Long = 60000L,
      minPts: Int = 4,
      maxIters: Int = 50): DataFrame = {
    require(minPts >= 1, "minPts must be at least 1")
    // cached: the symmetrizing union below would plan the grid join twice
    val pairs = neighborPairs(events, epsE6).persist()
    val pts = events.filter(col("user_id").isNotNull)
      .select(col("user_id").as("uid")).distinct()
    // symmetric neighbor lists (pairs are uid_a < uid_b)
    val nbrs = pairs.select(col("uid_a").as("u"), col("uid_b").as("v"))
      .unionByName(pairs.select(col("uid_b").as("u"), col("uid_a").as("v")))
      .localCheckpoint()
    pairs.unpersist(blocking = false)
    val degrees = nbrs.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val core = pts.join(degrees, pts("uid") === degrees("u"), "left")
      .filter(coalesce(col("deg"), lit(0L)) + 1L >= minPts)
      .select(col("uid").as("node"))
      .localCheckpoint()
    // clusters = components over core-core edges (one direction each)
    val coreEdges = nbrs.filter(col("u") < col("v"))
      .join(core.select(col("node").as("u")), "u")
      .join(core.select(col("node").as("v")), "v")
    val labels = Components.minLabel(coreEdges, maxIters,
      "dbscan label propagation", nodes = Some(core))
      .select(col("node").as("uid"), col("label").as("cluster_id"))
    // border: non-core with a core neighbor — attach to the min-labeled
    // core neighbor (ties on label cannot disagree: min is global)
    val borderLabel = nbrs
      .join(labels.withColumnRenamed("uid", "v"), "v")
      .groupBy(col("u")).agg(min(col("cluster_id")).as("b_cluster"))
    pts
      .join(labels, Seq("uid"), "left")
      .join(borderLabel.withColumnRenamed("u", "uid"), Seq("uid"), "left")
      .select(col("uid"),
        when(col("cluster_id").isNotNull, "core")
          .when(col("b_cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("cluster_id"), col("b_cluster"), lit(-1L)).as("cluster_id"))
      .orderBy(col("uid"))
  }

  /** DuckDB oracle for [[dbscan]] — all-pairs neighborhood, recursive
    * closure over core-core edges, min-id labels.
    */
  def dbscanOracleSql(epsE6: Long = 60000L, minPts: Int = 4): String =
    s"""WITH RECURSIVE p AS (
       |  SELECT DISTINCT user_id AS uid,
       |    (user_id * 1103515245 + 12345) % $M % $Range AS x,
       |    (user_id * 69069 + 1) % $M % $Range AS y
       |  FROM events WHERE user_id IS NOT NULL),
       |nbr AS (
       |  SELECT a.uid AS u, b.uid AS v
       |  FROM p a JOIN p b ON a.uid <> b.uid
       |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |    <= ${epsE6 * epsE6}),
       |core AS (
       |  SELECT u AS uid FROM nbr GROUP BY 1
       |  HAVING count(*) + 1 >= $minPts),
       |ce AS (
       |  SELECT n.u, n.v FROM nbr n
       |  JOIN core c1 ON c1.uid = n.u JOIN core c2 ON c2.uid = n.v),
       |reach(uid, lab) AS (
       |  SELECT uid, uid FROM core
       |  UNION
       |  SELECT ce.u, reach.lab FROM ce JOIN reach ON reach.uid = ce.v),
       |labels AS (
       |  SELECT uid, min(lab) AS cluster_id FROM reach GROUP BY 1),
       |border AS (
       |  SELECT n.u AS uid, min(l.cluster_id) AS b_cluster
       |  FROM nbr n JOIN labels l ON l.uid = n.v
       |  GROUP BY 1)
       |SELECT p.uid,
       |  CASE WHEN l.cluster_id IS NOT NULL THEN 'core'
       |       WHEN b.b_cluster IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  coalesce(l.cluster_id, b.b_cluster, -1)::BIGINT AS cluster_id
       |FROM p LEFT JOIN labels l ON l.uid = p.uid
       |LEFT JOIN border b ON b.uid = p.uid
       |ORDER BY p.uid""".stripMargin
}

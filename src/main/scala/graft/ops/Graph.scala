package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over corpus-derived graphs. Connected
  * components share one kernel ([[Components.minLabel]]) with near-dup
  * clustering; this adds weighted PageRank — the standard importance
  * measure a curation pipeline uses to weight interlinked sources (and
  * the canonical bounded-iteration distributed workload).
  */
object Graph {

  /** Fixed-point scale for ranks: 1e9 keeps every intermediate product
    * (rank × edge weight ≤ 1e9 × |E|) far from Long overflow under
    * ANSI arithmetic while leaving ~16k rank units per node even at a
    * 60k-node sf0.1 graph.
    */
  val RankScale = 1000000000L

  /** Weighted PageRank (damping 0.85, fixed `iters` power iterations)
    * over the user↔event_type bipartite interaction graph: nodes are
    * `u:<user_id>` and `t:<event_type>`, one undirected edge per
    * distinct (user, type) pair weighted by its event count, walk
    * transition proportional to edge weight.
    *
    * All arithmetic is FIXED-POINT Long (ranks scaled by [[RankScale]],
    * floor division at every step): integer addition is exactly
    * commutative, so partial-aggregation order — the thing that makes
    * float PageRank diverge between engines after 10 iterations —
    * cannot touch the result, and the oracle pairing is exact. The
    * recurrence both engines evaluate:
    *   rank₀(v)   = SCALE div N
    *   rankₜ(v)   = (15·(SCALE div N)) div 100
    *              + (85·Σ_{(s,v)∈E} (rankₜ₋₁(s)·w(s,v) div outw(s))) div 100
    *
    * Shape at 100 TB: the corpus-scale work is the ONE distinct-pair
    * aggregate; the graph itself is interaction-sized. The edge table
    * (with out-degree folded in) is persisted partitioned on src — the
    * per-iteration rank join reuses that exchange, so each iteration
    * shuffles only the node-sized rank frame plus the edge-sized
    * contribution aggregate (partial map-side combine on dst). Rank
    * frames are eagerly localCheckpoint'ed per iteration: lineage stays
    * bounded and nothing re-executes the corpus scan. No driver-side
    * data at all — the node count rides a 1-row broadcast.
    */
  def pageRank(events: DataFrame, iters: Int = 10): DataFrame = {
    require(iters > 0, "iters must be positive")
    val pairs = events
      .select(concat(lit("u:"), col("user_id").cast("string")).as("u"),
        concat(lit("t:"), col("event_type")).as("t"))
      .groupBy(col("u"), col("t")).agg(count(lit(1)).as("w"))
    val edges = pairs.select(col("u").as("src"), col("t").as("dst"), col("w"))
      .unionAll(pairs.select(col("t").as("src"), col("u").as("dst"), col("w")))
    rankFixedPoint(edges, iters).orderBy(col("node"))
  }

  /** The shared fixed-point power-iteration core behind [[pageRank]] and
    * [[textRank]]: takes a weighted directed edge frame `(src, dst, w)`,
    * returns `(node, rank)` after `iters` rounds of the integer
    * recurrence documented on [[pageRank]]. The edge frame (out-weight
    * folded in) persists partitioned on src for the per-iteration rank
    * join; rank frames localCheckpoint eagerly so lineage stays flat.
    */
  private[ops] def rankFixedPoint(edges: DataFrame, iters: Int): DataFrame = {
    // out-weight folded in with ONE pass + ONE exchange (the window
    // formulation the oracle already uses): the groupBy+self-join form
    // scanned the un-persisted edge build twice and exchanged twice.
    // The window leaves e hash-partitioned on src — exactly what the
    // per-iteration rank join wants, so the edge frame never moves again
    // (guide §2.4). Per-iteration eager checkpoints are KEPT: a lazily
    // chained multi-iteration plan was measured SLOWER (5.4 s vs 3.5 s
    // q_pagerank) — each chained segment becomes one huge unique
    // whole-stage-codegen unit (~1 s janino compile in a 1-task stage),
    // while per-iteration plans are textually identical and hit the
    // codegen cache.
    // Staged + measured: the edge build computes ONCE into a cache (the
    // callers' symmetrizing unions otherwise planned the pair aggregate
    // twice), its bytes size the loop width, and the iterations run
    // under static per-iteration plans (Par.withStaticLoop — measured
    // rationale there). The function returns the eagerly-checkpointed
    // rank frame, so callers plan their readout under the session's own
    // confs.
    val staged = edges.persist(StorageLevel.MEMORY_AND_DISK)
    staged.count()
    val w = Par.measuredWidth(staged)
    val out = Par.withStaticLoop(edges.sparkSession, w) {
    // the window leaves e hash(src)-partitioned at the static width and
    // sorted by src within partitions — exactly what the per-iteration
    // sort-merge rank join needs, so the cached edge frame never moves
    // or re-sorts again (guide §2.4)
    val e = staged.withColumn("out_w",
        sum(col("w")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    staged.unpersist(blocking = false)
    // 1-row driver-side count (the k-means-seed discipline): n rides the
    // per-iteration recurrence as a LITERAL instead of a broadcast
    // crossJoin — one fewer broadcast exchange (and its AQE stage job)
    // per iteration, bit-identical arithmetic
    val n = nodes.count()
    var rank = nodes
      .select(col("node"), lit(RankScale / math.max(n, 1L)).as("rank"))
      .localCheckpoint(true)
    // REQUIREMENT: `edges` is symmetric (both callers build it as
    // pair ∪ swap(pair)), so every node is some edge's dst and the
    // aggregate's key set IS the node set — the per-iteration
    // left-join back onto `nodes` (plus the broadcast AQE builds for
    // it) is algebraically redundant and dropped. The teleport term is
    // a constant, so no per-node attribute is needed either. A directed
    // caller would need the nodes join back; the oracle pairing guards
    // the equivalence.
    for (_ <- 1 to iters) {
      val contribs = e.join(rank, e("src") === rank("node"))
        .select(col("dst"), expr("rank * w div out_w").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("in_rank"))
      rank = contribs
        .select(col("dst").as("node"),
          (lit((15L * (RankScale / math.max(n, 1L))) / 100L)
            + expr("(85 * in_rank) div 100")).as("rank"))
        .localCheckpoint(true)
    }
    e.unpersist()
    rank
    }
    out
  }

  /** Chained-CTE ANSI twin of [[pageRank]] for the DuckDB oracle — one
    * MATERIALIZED CTE per iteration replaying the identical fixed-point
    * recurrence (`//` is DuckDB's integer floor division, the twin of
    * Spark's `div` on nonnegative Longs).
    */
  def pageRankOracleSql(iters: Int = 10): String = {
    val head =
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT 'u:' || user_id::VARCHAR AS u, 't:' || event_type AS t,
         |    count(*)::BIGINT AS w
         |  FROM events GROUP BY 1, 2),
         |edges AS MATERIALIZED (
         |  SELECT u AS src, t AS dst, w FROM pairs
         |  UNION ALL SELECT t, u, w FROM pairs),
         |${rankCtesSql(iters)}
         |SELECT node, rank FROM r$iters ORDER BY node""".stripMargin
    head
  }

  /** The shared rank-iteration CTE chain — the ANSI twin of
    * [[rankFixedPoint]]. Expects an `edges(src, dst, w)` CTE to be in
    * scope; defines `e/nodes/cnt/r0..r<iters>`.
    */
  private def rankCtesSql(iters: Int): String = {
    val S = RankScale
    val head =
      s"""e AS MATERIALIZED (
         |  SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS out_w
         |  FROM edges),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         |cnt AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nodes),
         |r0 AS MATERIALIZED (
         |  SELECT node, ($S // n)::BIGINT AS rank
         |  FROM nodes CROSS JOIN cnt)""".stripMargin
    val iterCtes = (1 to iters).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT e.dst, sum((r.rank * e.w) // e.out_w)::BIGINT AS in_rank
         |  FROM e JOIN r${t - 1} r ON e.src = r.node GROUP BY 1),
         |r$t AS MATERIALIZED (
         |  SELECT n.node,
         |    ((15 * ($S // c.n)) // 100
         |     + (85 * coalesce(ci.in_rank, 0)) // 100)::BIGINT AS rank
         |  FROM nodes n CROSS JOIN cnt c
         |  LEFT JOIN c$t ci ON n.node = ci.dst)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$iterCtes"
  }

  /** TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau, EMNLP'04): rank
    * corpus vocabulary by PageRank over the token ADJACENCY graph —
    * nodes are words (≥ 3 chars), one undirected edge per consecutive
    * token pair weighted by its corpus-wide co-occurrence count — and
    * return the top `k` keywords. The graph-centrality upgrade over raw
    * frequency ranking: a word matters when it co-occurs with words
    * that matter, which is exactly what TF-IDF/frequency toplists miss.
    *
    * Rank arithmetic is the [[rankFixedPoint]] integer recurrence, so
    * the DuckDB pairing is digit-exact despite 10 power iterations.
    *
    * Shape at 100 TB: adjacency is a per-document window function
    * (lead over token position — doc-sized partitions, one exchange),
    * collapsed immediately to the VOCAB-sized weighted edge list;
    * every rank iteration runs on the vocabulary graph, never the
    * corpus. Top-k is TakeOrderedAndProject on the final rank frame.
    */
  def textRank(docs: DataFrame, iters: Int = 10, k: Int = 30): DataFrame = {
    require(iters > 0, "iters must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Par.widen(docs, col("doc_id")).select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
    val adj = toks
      .select(col("doc_id"), col("tok").as("x"),
        lead(col("tok"), 1).over(w).as("y"))
      .filter(col("y").isNotNull && col("x") =!= col("y") &&
        length(col("x")) >= 3 && length(col("y")) >= 3)
    val pairs = adj
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    val edges = pairs.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(pairs.select(col("v").as("src"), col("u").as("dst"), col("w")))
    rankFixedPoint(edges, iters)
      .select(col("node").as("word"), col("rank"))
      .orderBy(desc("rank"), col("word"))
      .limit(k)
  }

  /** DuckDB twin of [[textRank]]: the zip-unnest token positions feed
    * the same lead-window adjacency, then the shared rank CTE chain.
    */
  def textRankOracleSql(iters: Int = 10, k: Int = 30): String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, unnest(generate_series(0, len(l) - 1)) AS pos,
       |    unnest(l) AS tok
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS l
       |        FROM documents)),
       |adj AS MATERIALIZED (
       |  SELECT x, y FROM (
       |    SELECT tok AS x,
       |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS y
       |    FROM toks)
       |  WHERE y IS NOT NULL AND x <> y AND len(x) >= 3 AND len(y) >= 3),
       |pairs AS MATERIALIZED (
       |  SELECT least(x, y) AS u, greatest(x, y) AS v, count(*)::BIGINT AS w
       |  FROM adj GROUP BY 1, 2),
       |edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst, w FROM pairs
       |  UNION ALL SELECT v, u, w FROM pairs),
       |${rankCtesSql(iters)}
       |SELECT node AS word, rank FROM r$iters
       |ORDER BY rank DESC, word LIMIT $k""".stripMargin

  /** PERSONALIZED PAGERANK (Jeh & Widom, WWW'03) over the same
    * user↔type interaction graph as [[pageRank]], with the teleport
    * mass restricted to a SEED set (users with user_id ≡ 0 mod
    * `modulus` — in production the query user or a trusted cohort):
    * rank becomes proximity TO THE SEEDS rather than global importance,
    * which is the variant recommendation and trust-propagation
    * pipelines actually deploy. Same exact fixed-point integer
    * recurrence; only the teleport term changes:
    *   rankₜ(v) = [v ∈ S]·(15·(SCALE div |S|)) div 100
    *            + (85·Σ contribs) div 100.
    *
    * Shape at 100 TB: identical to [[pageRank]] — the seed indicator is
    * one more broadcast-joined node-sized column.
    */
  def personalizedPageRank(
      events: DataFrame, iters: Int = 10, modulus: Long = 97L): DataFrame = {
    require(iters > 0, "iters must be positive")
    // staged + measured: the pair aggregate computes ONCE into a cache
    // (three consumers below — both union branches and the seed filter
    // — otherwise re-planned it), and its bytes size the loop width
    val pairs = events
      .select(concat(lit("u:"), col("user_id").cast("string")).as("u"),
        concat(lit("t:"), col("event_type")).as("t"),
        col("user_id"))
      .groupBy(col("u"), col("t"))
      .agg(count(lit(1)).as("w"), min(col("user_id")).as("uid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    val w = Par.measuredWidth(pairs, 2.0)
    val edges = pairs.select(col("u").as("src"), col("t").as("dst"), col("w"))
      .unionAll(pairs.select(col("t").as("src"), col("u").as("dst"), col("w")))
    val seeds = pairs.filter(col("uid") % modulus === 0L)
      .select(col("u").as("node")).distinct()
      .withColumn("is_seed", lit(1L))
    // single-pass out-weight + per-iteration checkpoints + driver-side
    // seed count — the [[rankFixedPoint]] discipline (see its scaladoc
    // for the measured rationale); arithmetic is bit-identical: is_seed
    // is 0/1, so `is_seed * (15*(S div ns)) div 100` equals
    // `is_seed * lit((15*(S/ns))/100)`, and ns = 0 reproduces the
    // nullif → null-rank → empty-readout path via a typed null literal
    // dst's seed flag rides the persisted edge frame so the iteration
    // can rebuild the rank frame straight from the contribution
    // aggregate (the [[rankFixedPoint]] symmetric-graph argument) —
    // no per-iteration nodes join, no per-iteration broadcast
    // scope end returns the converged rank frame; the proximity readout
    // below is planned under the caller's session confs
    val ranks = Par.withStaticLoop(events.sparkSession, w) {
    val e = edges
      .join(broadcast(seeds.select(col("node").as("dst"),
        col("is_seed").as("dst_seed"))), Seq("dst"), "left")
      .na.fill(0L, Seq("dst_seed"))
      .withColumn("out_w",
        sum(col("w")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node")).distinct()
      .join(broadcast(seeds), Seq("node"), "left")
      .na.fill(0L, Seq("is_seed"))
      .localCheckpoint(true)
    pairs.unpersist(blocking = false)
    val nsRow = nodes.agg(sum(col("is_seed")).as("ns")).head()
    val nsOpt: Option[Long] =
      if (nsRow.isNullAt(0)) None else Some(nsRow.getLong(0)).filter(_ != 0L)
    val initPer = nsOpt.map(v => lit(RankScale / v))
      .getOrElse(lit(null).cast("long"))
    val telePer = nsOpt.map(v => lit((15L * (RankScale / v)) / 100L))
      .getOrElse(lit(null).cast("long"))
    var rank = nodes
      .select(col("node"), (col("is_seed") * initPer).as("rank"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      // symmetric edges ⇒ the aggregate's dst key set IS the node set
      // (rankFixedPoint's argument); dst_seed is per-dst constant, so
      // max() carries it exactly
      val contribs = e.join(rank, e("src") === rank("node"))
        .select(col("dst"), col("dst_seed"),
          expr("rank * w div out_w").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("in_rank"),
          max(col("dst_seed")).as("is_seed"))
      rank = contribs
        .select(col("dst").as("node"),
          (col("is_seed") * telePer
            + expr("(85 * in_rank) div 100")).as("rank"))
        .localCheckpoint(true)
    }
    e.unpersist()
    rank
    }
    // proximity readout: nonzero-rank nodes only (untouched nodes carry
    // no information in a personalized walk)
    ranks.filter(col("rank") > 0L).orderBy(desc("rank"), col("node"))
  }

  /** DuckDB twin of [[personalizedPageRank]] — the [[pageRankOracleSql]]
    * CTE chain with the seed-gated teleport.
    */
  def personalizedPageRankOracleSql(
      iters: Int = 10, modulus: Long = 97L): String = {
    val S = RankScale
    val head =
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT 'u:' || user_id::VARCHAR AS u, 't:' || event_type AS t,
         |    count(*)::BIGINT AS w, min(user_id) AS uid
         |  FROM events GROUP BY 1, 2),
         |edges AS MATERIALIZED (
         |  SELECT u AS src, t AS dst, w FROM pairs
         |  UNION ALL SELECT t, u, w FROM pairs),
         |seeds AS MATERIALIZED (
         |  SELECT DISTINCT u AS node, 1::BIGINT AS is_seed FROM pairs
         |  WHERE uid % $modulus = 0),
         |e AS MATERIALIZED (
         |  SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS out_w
         |  FROM edges),
         |nodes AS MATERIALIZED (
         |  SELECT n.node, coalesce(s.is_seed, 0) AS is_seed
         |  FROM (SELECT DISTINCT src AS node FROM edges) n
         |  LEFT JOIN seeds s ON n.node = s.node),
         |cnt AS MATERIALIZED (SELECT sum(is_seed)::BIGINT AS ns FROM nodes),
         |r0 AS MATERIALIZED (
         |  SELECT node, (is_seed * ($S // nullif(ns, 0)))::BIGINT AS rank
         |  FROM nodes CROSS JOIN cnt)""".stripMargin
    val iterCtes = (1 to iters).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT e.dst, sum((r.rank * e.w) // e.out_w)::BIGINT AS in_rank
         |  FROM e JOIN r${t - 1} r ON e.src = r.node GROUP BY 1),
         |r$t AS MATERIALIZED (
         |  SELECT n.node,
         |    (n.is_seed * (15 * ($S // nullif(c.ns, 0))) // 100
         |     + (85 * coalesce(ci.in_rank, 0)) // 100)::BIGINT AS rank
         |  FROM nodes n CROSS JOIN cnt c
         |  LEFT JOIN c$t ci ON n.node = ci.dst)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iterCtes
       |SELECT node, rank FROM r$iters WHERE rank > 0
       |ORDER BY rank DESC, node""".stripMargin
  }

  /** LABEL-PROPAGATION COMMUNITY DETECTION (Raghavan et al. 2007),
    * made deterministic: over the part co-purchase graph
    * ([[Relational.partPairCounts]]), every node starts as its own
    * label; each SYNCHRONOUS round it adopts the label with the largest
    * total incident edge weight among its neighbours (tie → smallest
    * label). Fixed `rounds` rounds — the async/random variants of LPA
    * are irreproducible by design; the synchronous weighted-argmax form
    * is exactly replayable in ANSI SQL, so community membership pairs
    * digit-exact. Returns the community summary (label, size, smallest
    * member) largest-first.
    *
    * Shape at 100 TB: the corpus-scale work is the one pair build
    * (shared machinery with triangles/k-core); each round is one
    * edge⋈label join + a (node, label) weight aggregate + a per-node
    * argmax window on the NODE-sized vote frame. localCheckpoint per
    * round bounds lineage. Rounds are O(graph diameter) in practice —
    * 8 here; nothing iterates over the corpus.
    */
  /** The shared LPA core: symmetric weighted edge frame (persisted —
    * caller unpersists) and the converged (node, label) frame after
    * `rounds` synchronous rounds.
    */
  /** Symmetric weighted edge frame from the canonical (u < v) pair
    * aggregate — a narrow union of two projections, so deriving it per
    * consumer from a CACHED pair frame is cheaper than pinning a second
    * copy.
    */
  private def symmetricEdges(pairs: DataFrame): DataFrame = pairs
    .select(col("u").as("src"), col("v").as("dst"), col("support").as("w"))
    .unionAll(pairs
      .select(col("v").as("src"), col("u").as("dst"), col("support").as("w")))

  /** The LPA label trajectory after `rounds` synchronous rounds over a
    * prebuilt pair frame — the shared core of [[labelPropagation]] and
    * [[modularity]], exposed so one cached trajectory can feed both
    * readouts (SparkEntry shares it the way the near-dup pair set is
    * shared): the 8-round iteration is the expensive half of either
    * query, and the two queries replay the IDENTICAL trajectory by
    * construction, so computing it twice is pure waste. Returns the
    * eagerly localCheckpoint'ed (node, label) frame; the loop's edge
    * frame is persisted for the rounds and released once the final
    * labels are materialized.
    */
  def lpaLabels(pairs: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds > 0, "rounds must be positive")
    // staged + measured pair frame sizes the loop width; the rounds run
    // under static per-round plans (Par.withStaticLoop — measured
    // rationale there)
    val spark = pairs.sparkSession
    val staged = pairs.storageLevel == StorageLevel.NONE
    val src = if (staged) pairs.persist(StorageLevel.MEMORY_AND_DISK)
      else pairs
    src.count()
    val w = Par.measuredWidth(src, 2.0)
    val out = Par.withStaticLoop(spark, w) {
    // persisted PRE-PARTITIONED on the per-round join key at the
    // measured width, sorted within partitions on it: each round's
    // sort-merge join reads the cache with no exchange and no re-sort;
    // only the node-sized label frame moves per round (guide §2.4)
    val edges = symmetricEdges(src).repartition(w, col("dst"))
      .sortWithinPartitions(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    val argmax = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(desc("wt"), col("label"))
    // checkpoint cadence — see [[rankFixedPoint]]: fixed-round loop,
    // identical per-round algebra, 1/ckptEvery the materialization jobs
    val ckptEvery = 4
    for (r <- 1 to rounds) {
      labels = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src"), col("label")).agg(sum(col("w")).as("wt"))
        .withColumn("rn", row_number().over(argmax))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
      if (r % ckptEvery == 0 || r == rounds) labels = labels.localCheckpoint(true)
    }
    // labels are eager — the loop's working set can go now
    edges.unpersist(blocking = false)
    labels
    }
    if (staged) src.unpersist(blocking = false)
    out
  }

  /** Community summary readout over an LPA label frame. */
  def labelSummary(labels: DataFrame): DataFrame =
    labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_member"))
      .orderBy(desc("n_members"), col("label"))

  def labelPropagation(
      lineitem: DataFrame, rounds: Int = 8, minSupport: Long = 2): DataFrame =
    labelSummary(
      lpaLabels(Relational.partPairCounts(lineitem, minSupport), rounds))

  /** MODULARITY of the LPA partition — the single number that says
    * whether the communities [[labelPropagation]] found are real
    * structure or noise (Newman & Girvan 2004):
    *   Q = Σ_c [ in_c/2m − (deg_c/2m)² ],
    * ≈0 for random graphs, ≳0.3 for genuine community structure.
    * Carried EXACTLY: with the symmetric edge frame (every undirected
    * edge counted in both directions), in_c and 2m are plain integer
    * weight sums and Q·e6 = Σ_c (2m·in_c − deg_c²)·10⁶ div (2m)² — one
    * decimal division, digit-exact against the oracle's replay of the
    * identical label trajectory.
    *
    * Shape at 100 TB: the LPA rounds dominate ([[labelPropagation]]'s
    * cost envelope); the modularity readout adds two label joins and a
    * community-dimension aggregate.
    */
  def modularity(
      lineitem: DataFrame, rounds: Int = 8, minSupport: Long = 2): DataFrame = {
    val pairs = Relational.partPairCounts(lineitem, minSupport)
      .persist(StorageLevel.MEMORY_AND_DISK)
    modularityFromPairs(pairs, lpaLabels(pairs, rounds))
  }

  /** Modularity readout over a prebuilt pair frame and its LPA label
    * trajectory — the shareable form: when `pairs` is a cached frame
    * and `labels` the cached [[lpaLabels]] trajectory, this adds only
    * the three readout consumers (m2, in_c, deg_c — each a narrow
    * rescan of the cached pairs) and a community-dimension aggregate.
    */
  def modularityFromPairs(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val edges = symmetricEdges(pairs)
    val m2 = edges.agg(sum(col("w")).as("m2"))
    val lsrc = labels.select(col("node").as("src"), col("label").as("lsrc"))
    val ldst = labels.select(col("node").as("dst"), col("label").as("ldst"))
    val inC = edges.join(lsrc, "src").join(ldst, "dst")
      .filter(col("lsrc") === col("ldst"))
      .groupBy(col("lsrc").as("label")).agg(sum(col("w")).as("in_c"))
    val degC = edges.groupBy(col("src")).agg(sum(col("w")).as("strength"))
      .join(labels.withColumnRenamed("node", "src"), "src")
      .groupBy(col("label")).agg(sum(col("strength")).as("deg_c"))
    val out = degC.join(inC, Seq("label"), "left")
      .na.fill(0L, Seq("in_c"))
      .crossJoin(broadcast(m2))
      .groupBy(col("m2"))
      .agg(
        count(lit(1)).as("n_communities"),
        sum(expr(
          "cast(m2 as decimal(38,0)) * in_c - cast(deg_c as decimal(38,0)) * deg_c"))
          .as("num"))
      .select(col("n_communities"), col("m2"),
        expr("num * 1000000 div (cast(m2 as decimal(38,0)) * m2)")
          .as("q_e6"))
    out
  }

  /** The shared LPA CTE chain (`items/p/e/l0..l<rounds>`), used by both
    * oracle twins so the label trajectory cannot drift between them.
    */
  private def lpaCtesSql(rounds: Int, minSupport: Long): String = {
    val head =
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS MATERIALIZED (
         |  SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS w
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
         |e AS MATERIALIZED (
         |  SELECT u AS src, v AS dst, w FROM p
         |  UNION ALL SELECT v, u, w FROM p),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS node, src AS label FROM e)""".stripMargin
    val iterCtes = (1 to rounds).map { t =>
      s"""v$t AS MATERIALIZED (
         |  SELECT e.src, l.label, sum(e.w)::BIGINT AS wt
         |  FROM e JOIN l${t - 1} l ON e.dst = l.node GROUP BY 1, 2),
         |l$t AS MATERIALIZED (
         |  SELECT src AS node, label FROM (
         |    SELECT src, label, row_number() OVER (
         |      PARTITION BY src ORDER BY wt DESC, label) AS rn
         |    FROM v$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$iterCtes"
  }

  /** DuckDB twin of [[labelPropagation]] — one CTE pair per round
    * (votes → per-node argmax), identical tie-breaks.
    */
  def labelPropagationOracleSql(
      rounds: Int = 8, minSupport: Long = 2): String =
    s"""${lpaCtesSql(rounds, minSupport)}
       |SELECT label, count(*)::BIGINT AS n_members,
       |  min(node)::BIGINT AS min_member
       |FROM l$rounds GROUP BY 1
       |ORDER BY n_members DESC, label""".stripMargin

  /** DuckDB twin of [[modularity]] — the identical label trajectory plus
    * the exact integer Q readout.
    */
  def modularityOracleSql(rounds: Int = 8, minSupport: Long = 2): String =
    s"""${lpaCtesSql(rounds, minSupport)},
       |lab AS MATERIALIZED (SELECT node, label FROM l$rounds),
       |mm AS (SELECT sum(w)::BIGINT AS m2 FROM e),
       |inc AS (
       |  SELECT a.label, sum(e.w)::BIGINT AS in_c
       |  FROM e JOIN lab a ON e.src = a.node JOIN lab b ON e.dst = b.node
       |  WHERE a.label = b.label GROUP BY 1),
       |degc AS (
       |  SELECT a.label, sum(s.strength)::BIGINT AS deg_c
       |  FROM (SELECT src, sum(w)::BIGINT AS strength FROM e GROUP BY 1) s
       |  JOIN lab a ON s.src = a.node GROUP BY 1)
       |SELECT count(*)::BIGINT AS n_communities, m2,
       |  (sum(m2::HUGEINT * coalesce(in_c, 0) - deg_c::HUGEINT * deg_c)
       |    * 1000000 // (m2::HUGEINT * m2))::BIGINT AS q_e6
       |FROM degc LEFT JOIN inc USING (label) CROSS JOIN mm
       |GROUP BY m2""".stripMargin

  /** Triangle census of the part co-purchase graph (nodes = parts, one
    * undirected edge per part pair ordered together in ≥ `minSupport`
    * orders — [[Relational.basketPairs]]' pair table): node/edge/wedge/
    * triangle counts and the global clustering coefficient, the standard
    * graph-shape summary for a similarity or co-occurrence graph.
    *
    * Shape at 100 TB: the classic triangle blowup is wedge enumeration at
    * high-degree nodes — O(Σ d²) through a hub. The cure is DEGREE
    * ORDERING (Schank & Wagner's forward algorithm): orient every edge
    * from its lower-(degree, id) endpoint, enumerate wedges only from
    * each edge's SOURCE, and close against oriented edges. Every wedge
    * centre then has out-degree O(√|E|) whatever its raw degree, so the
    * wedge join is O(|E|^1.5) worst-case — the distributed-triangle bound
    * (Suri & Vassilvitskii's MapReduce formulation). All three legs are
    * equi-joins on node ids; nothing is ever broadcast-looped.
    *
    * The oriented rank packs (degree, id) into one comparable long
    * (degree · 2^40 + id — part ids sit far below 2^40 at any TPC-H SF;
    * the pack is asserted). Triangle COUNT is orientation-invariant, so
    * the DuckDB oracle counts canonically (a<b<c by id) with no need to
    * replicate the orientation — the count still pins it exactly.
    * Wedge count Σ C(d,2) and coefficient 3·Δ·10⁴ div wedges are exact
    * integers.
    */
  def triangleCount(lineitem: DataFrame, minSupport: Long = 2): DataFrame =
    // single-exchange pair build shared with the basket-pair miner;
    // persisted here because the census reads it three times (degrees +
    // both wedge legs) — the SparkEntry path passes the session-cached
    // pair frame instead
    triangleCountFromPairs(Relational.partPairCounts(lineitem, minSupport)
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** [[triangleCount]] over a prebuilt (ideally cached) pair frame. */
  def triangleCountFromPairs(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.select(col("u"), col("v"))
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orientation rank: (degree, id) packed into one long; guarded
    // against id overflow into the degree bits
    val rk = deg.select(col("n"),
      when(col("n") < (1L << 40), col("d") * lit(1L << 40) + col("n"))
        .otherwise(raise_error(lit("part id exceeds the 2^40 rank pack")))
        .as("rk"))
    // three consumers (both wedge legs + the close leg) — pin the
    // oriented frame so the two rank joins run once, not three times
    val oriented = pairs
      .join(rk.select(col("n").as("u"), col("rk").as("rku")), "u")
      .join(rk.select(col("n").as("v"), col("rk").as("rkv")), "v")
      .select(
        when(col("rku") < col("rkv"), col("u")).otherwise(col("v")).as("s"),
        when(col("rku") < col("rkv"), col("rkv")).otherwise(col("rku")).as("rkt"),
        when(col("rku") < col("rkv"), col("v")).otherwise(col("u")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.rkt") < col("e2.rkt"))
      .select(col("e1.t").as("t1"), col("e2.t").as("t2"))
    val tri = wedges
      .join(oriented.select(col("s").as("t1"), col("t").as("t2")), Seq("t1", "t2"))
      .agg(count(lit(1)).as("n_triangles"))
    // coalesce: an empty graph reports REAL zeros, not NULL sums
    val sums = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("coalesce(sum(d) div 2, 0L)").as("n_edges"),
      expr("coalesce(sum(d * (d - 1) div 2), 0L)").as("n_wedges"))
    // pairs stays a lazy persist (three consumers: degrees + both wedge
    // legs); construction runs no jobs and Bench/Verify clear the pool
    sums.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("CASE WHEN n_wedges = 0 THEN 0L " +
          "ELSE 3 * n_triangles * 10000 div n_wedges END").as("clustering_e4"))
  }

  /** Log-binned degree distribution of the co-purchase graph — the
    * heavy-tail readout (is this a power-law hub graph or a bounded
    * lattice?) that decides whether degree-ordered algorithms like
    * [[triangleCount]]'s orientation are worth their plumbing. Binning
    * is INTEGER-exact: a node of degree d lands in bin
    * `width = len(binary(d))` (i.e. floor(log₂ d) + 1) computed from the
    * binary-string length on both engines — no float log at any degree,
    * including the exact powers of two where libm log₂ rounding is
    * engine-lore.
    *
    * Shape: degree aggregate (node-dimension) + a ≤64-row bin aggregate.
    */
  def degreeDistribution(lineitem: DataFrame, minSupport: Long = 2): DataFrame =
    degreeDistributionFromPairs(Relational.partPairCounts(lineitem, minSupport))

  /** [[degreeDistribution]] over a prebuilt (ideally cached) pair frame. */
  def degreeDistributionFromPairs(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    deg.groupBy(length(bin(col("d"))).cast("long").as("bin_width"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("d")).as("min_degree"), max(col("d")).as("max_degree"))
      .withColumn("share_e4", expr("n_nodes * 10000 div sum(n_nodes) over ()"))
      .orderBy(col("bin_width"))
  }

  /** Degree assortativity of the co-purchase graph — do high-degree
    * parts co-occur with other hubs (r > 0) or with leaves (r < 0)?
    * Computed as the Pearson correlation of end-point degrees over the
    * DIRECTED edge set (both orientations of each undirected edge, the
    * standard convention), which makes the marginals symmetric and the
    * whole statistic collapse to THREE integer sums over edges:
    *   r = (M·Σdudv − S²) div-scaled by (M·Σdu² − S²),   S = Σdu, M = 2|E|
    * No float touches the pipeline — r_e4 is exact integer division
    * (truncation identical on both engines, negatives included).
    *
    * Shape: degrees are an edge-end aggregate; the per-edge (du, dv)
    * attach is two id-keyed joins against the degree table; the final
    * statistic is a 1-row aggregate. Nothing beyond the pair build is
    * fact-sized.
    */
  def assortativity(lineitem: DataFrame, minSupport: Long = 2): DataFrame =
    assortativityFromPairs(Relational.partPairCounts(lineitem, minSupport))

  /** [[assortativity]] over a prebuilt (ideally cached) pair frame. */
  def assortativityFromPairs(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.select(col("u"), col("v"))
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val ends = pairs
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      // both orientations: symmetric marginals
      .select(col("du"), col("dv"))
    // orientation flip as a row-local explode (the assocRules fix): the
    // unionAll form planned the unpersisted degree-attach joins twice
    val sym = ends
      .select(explode(array(
        struct(col("du"), col("dv")),
        struct(col("dv").as("du"), col("du").as("dv")))).as("e"))
      .select(col("e.du").as("du"), col("e.dv").as("dv"))
    sym.agg(
        count(lit(1)).as("m"),
        sum(col("du")).as("s"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du") * col("du")).as("sxx"))
      .select((col("m") / 2).cast("long").as("n_edges"),
        expr("""CASE WHEN m * sxx - s * s = 0 THEN NULL
               |  ELSE (m * sxy - s * s) * 10000 div (m * sxx - s * s)
               |END""".stripMargin).as("assortativity_e4"))
  }

  /** WEIGHTED single-source shortest paths by bounded Bellman–Ford —
    * the iterative-relaxation workload next to [[pageRank]]'s power
    * iteration (min-plus semiring instead of sum-times): over the
    * co-purchase graph with rarity distances w = 1e6 div support, the
    * cheapest association chains from the busiest hub part, within
    * `maxHops` edges. "Within k hops" is the honest contract —
    * unbounded SSSP needs diameter-many rounds; curation queries
    * ("what is 2–4 hops from this anchor?") want the bound anyway.
    *
    * Recurrence, exact in BIGINT: dist₀ = {source → 0};
    * distₖ(v) = min(distₖ₋₁(v), min over edges (u,v) of
    * distₖ₋₁(u) + w) — after k rounds each node holds the min-weight
    * path using ≤ k edges; hops ride a lexicographic struct-min
    * (dist, hops), so ties resolve to the fewest hops and both engines
    * agree digit-for-digit. Source selection is deterministic: max
    * degree, ties to the smaller part id.
    *
    * Shape at 100 TB: the corpus-scale work is the ONE pair collapse
    * shared with [[triangleCount]]; the edge frame persists partitioned
    * once and each round shuffles only the frontier-sized dist frame
    * (map-side min combine on dst). localCheckpoint per round bounds
    * lineage — the [[pageRank]] discipline. The ORACLE, by contrast,
    * enumerates all ≤k-hop paths (exponential) — exactly the shape the
    * per-round min-aggregate exists to avoid.
    */
  def shortestPaths(
      lineitem: DataFrame,
      minSupport: Long = 2,
      maxHops: Int = 4): DataFrame =
    shortestPathsFromPairs(
      Relational.partPairCounts(lineitem, minSupport), maxHops)

  /** [[shortestPaths]] over a prebuilt (ideally cached) pair frame. */
  def shortestPathsFromPairs(pairsIn: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, "maxHops must be at least 1")
    val pairs = pairsIn
      .select(col("u"), col("v"), expr("1000000L div support").as("w"))
    // staged + measured pair frame sizes the loop width; the relax
    // rounds run under static per-round plans (Par.withStaticLoop —
    // measured rationale there); the presentation sort below plans
    // under the caller's confs
    val stagedIn = pairsIn.storageLevel == StorageLevel.NONE
    val src0 = if (stagedIn) pairsIn.persist(StorageLevel.MEMORY_AND_DISK)
      else pairsIn
    src0.count()
    val wdt = Par.measuredWidth(src0, 2.0)
    val dist = Par.withStaticLoop(pairsIn.sparkSession, wdt) {
      val edges = pairs
        .select(col("u").as("src"), col("v").as("dst"), col("w"))
        .unionAll(pairs.select(col("v").as("src"), col("u").as("dst"), col("w")))
        .repartition(wdt, col("src"))
        .sortWithinPartitions(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val source = edges.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("src")).limit(1)
        .select(col("src").as("v"), lit(0L).as("dist"), lit(0L).as("hops"))
      var dist = source.localCheckpoint(true)
      for (_ <- 1 to maxHops) {
        val cand = dist
          .select(col("v").as("cv"), col("dist").as("cd"), col("hops").as("ch"))
          .join(edges, col("cv") === col("src"))
          .select(col("dst").as("v"), (col("cd") + col("w")).as("dist"),
            (col("ch") + 1L).as("hops"))
        dist = dist.unionByName(cand)
          .groupBy(col("v"))
          .agg(min(struct(col("dist"), col("hops"))).as("m"))
          .select(col("v"), col("m.dist").as("dist"), col("m.hops").as("hops"))
          .localCheckpoint(true)
      }
      edges.unpersist(blocking = false)
      dist
    }
    if (stagedIn) src0.unpersist(blocking = false)
    dist.select(col("v").as("part_id"), col("dist"), col("hops"))
      .orderBy(col("dist"), col("part_id"))
  }

  /** DuckDB oracle for [[shortestPaths]] — recursive ≤k-hop path
    * enumeration, then the same (min dist, min hops) collapse. Safe only
    * at oracle scale: the enumeration is exponential in the hop bound.
    */
  def shortestPathsOracleSql(minSupport: Long = 2, maxHops: Int = 4): String =
    s"""WITH RECURSIVE items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |p AS MATERIALIZED (
       |  SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS support
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |e AS MATERIALIZED (
       |  SELECT u AS src, v AS dst, 1000000 // support AS w FROM p
       |  UNION ALL SELECT v, u, 1000000 // support FROM p),
       |s AS (SELECT src AS s0 FROM (
       |        SELECT src, count(*) AS c FROM e GROUP BY 1)
       |      ORDER BY c DESC, src LIMIT 1),
       |walk AS (
       |  SELECT s0 AS v, 0::BIGINT AS dist, 0::BIGINT AS hops FROM s
       |  UNION ALL
       |  SELECT e.dst, walk.dist + e.w, walk.hops + 1
       |  FROM walk JOIN e ON e.src = walk.v
       |  WHERE walk.hops < $maxHops),
       |best AS (SELECT v, min(dist)::BIGINT AS bd FROM walk GROUP BY 1)
       |SELECT best.v AS part_id, best.bd AS dist,
       |  min(walk.hops)::BIGINT AS hops
       |FROM best JOIN walk ON walk.v = best.v AND walk.dist = best.bd
       |GROUP BY 1, 2 ORDER BY dist, part_id""".stripMargin

  /** k-CORE DECOMPOSITION (the k-core subgraph for one k): iteratively
    * peel nodes of degree < k until the survivor set is stable — the
    * standard "dense backbone" extraction that separates structurally
    * embedded items from peripheral ones (community seeds, spam-ring
    * candidates, curriculum anchors). Output: each surviving node with
    * its WITHIN-CORE degree, plus the peeled count rides in the spec.
    *
    * Shape at 100 TB: the corpus-scale work is the one
    * [[Relational.partPairCounts]] pair aggregate; peeling then iterates
    * on the graph-sized edge frame — each round is one degree aggregate
    * over edges restricted to live endpoints (two semi-joins against the
    * node-sized survivor frame) and one filter. Convergence is checked
    * by an exact survivor count per round (node-sized action) and the
    * loop stops when the set is stable; localCheckpoint bounds lineage
    * (the [[pageRank]] discipline). Peeling converges in few rounds in
    * practice (each round removes a "layer"); `maxRounds` is the
    * documented safety bound and overrunning it raises rather than
    * emitting a half-peeled core.
    */
  def kCore(
      lineitem: DataFrame,
      k: Int = 3,
      minSupport: Long = 2,
      maxRounds: Int = 60): DataFrame =
    // persisted: the peel loop reads the edge frame every round — the
    // SparkEntry path passes the session-cached pair frame instead
    kCoreFromPairs(Relational.partPairCounts(lineitem, minSupport)
      .persist(StorageLevel.MEMORY_AND_DISK), k, maxRounds)

  /** [[kCore]] over a prebuilt (ideally cached) pair frame. */
  def kCoreFromPairs(
      pairsIn: DataFrame, k: Int = 3, maxRounds: Int = 60): DataFrame = {
    val pairs = pairsIn.select(col("u"), col("v"))
    // the peel loop re-reads the symmetric edge frame every round (two
    // semi-joins + a degree aggregate): pin it on the round's first join
    // key, at the width measured from the staged pair frame, sorted on
    // that key so the per-round sort-merge join never re-sorts it.
    // Lazy-persist discipline: Bench/Verify clear the pool between
    // queries. The peel runs under static per-round plans
    // (Par.withStaticLoop — measured rationale there); the final census
    // below plans outside the scope.
    val stagedIn = pairsIn.storageLevel == StorageLevel.NONE
    val src0 = if (stagedIn) pairsIn.persist(StorageLevel.MEMORY_AND_DISK)
      else pairsIn
    src0.count()
    val wdt = Par.measuredWidth(src0, 2.0)
    val und = pairs
      .unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
      .repartition(wdt, col("u"))
      .sortWithinPartitions(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val alive = Par.withStaticLoop(pairsIn.sparkSession, wdt) {
      var alive = und.select(col("u").as("n")).distinct().localCheckpoint(true)
      var nAlive = alive.count()
      var round = 0
      var stable = false
      while (!stable && round < maxRounds) {
        val deg = und
          .join(alive.select(col("n").as("u")), "u")
          .join(alive.select(col("n").as("v")), "v")
          .groupBy(col("u")).agg(count(lit(1)).as("d"))
        val next = deg.filter(col("d") >= k).select(col("u").as("n"))
          .localCheckpoint(true)
        val nNext = next.count()
        stable = nNext == nAlive
        alive = next
        nAlive = nNext
        round += 1
      }
      require(stable,
        s"k-core peeling did not stabilize within $maxRounds rounds")
      alive
    }
    if (stagedIn) src0.unpersist(blocking = false)
    und
      .join(alive.select(col("n").as("u")), "u")
      .join(alive.select(col("n").as("v")), "v")
      .groupBy(col("u").as("part_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy(col("part_id"))
  }

  /** K-TRUSS of the co-purchase graph — the edge-level tightening of
    * [[kCore]]: keep exactly the edges that sit in ≥ k−2 triangles whose
    * OTHER edges also survive (Cohen 2008). Where the k-core keeps every
    * node with enough neighbors, the k-truss demands the neighborhoods
    * interlock — it is the standard "cohesive community backbone"
    * extraction, and deleting one edge can cascade (its triangles lose a
    * side, their other edges lose support), so the peel iterates to a
    * fixed point exactly like the core peel.
    *
    * Per round, triangle support is computed with the SAME
    * degree-oriented wedge join as [[triangleCountFromPairs]] — every
    * wedge centre has out-degree O(√|E|) regardless of hub degree, so
    * each round is O(|E|^1.5) worst-case and never enumerates a hub's
    * neighbor pairs quadratically. Orientation is an enumeration device
    * only: each triangle found once, then exploded back onto its three
    * CANONICAL (least, greatest) edges for the support count, so the
    * result is orientation-free and the DuckDB oracle can enumerate
    * canonically (a<b<c) without replicating the orientation.
    *
    * Fixed-point discipline: monotone shrinking edge set, count-equality
    * convergence test (next ⊆ current, so equal counts ⟹ equal sets),
    * localCheckpoint per round to cut lineage, hard `require` on
    * stabilization — the [[connectedComponentsFromPairs]] contract. The
    * oracle unrolls the peel; layers past the fixed point are idempotent.
    *
    * Output: surviving canonical edges with their final support,
    * ordered. Empty when no edge interlocks at level k.
    */
  def kTruss(
      lineitem: DataFrame,
      k: Int = 4,
      minSupport: Long = 2,
      maxRounds: Int = 30): DataFrame =
    kTrussFromPairs(Relational.partPairCounts(lineitem, minSupport)
      .persist(StorageLevel.MEMORY_AND_DISK), k, maxRounds)

  /** [[kTruss]] over a prebuilt (ideally cached) pair frame. */
  def kTrussFromPairs(
      pairsIn: DataFrame, k: Int = 4, maxRounds: Int = 30): DataFrame = {
    require(k >= 3, "a k-truss is defined for k >= 3")
    val spark = pairsIn.sparkSession
    import spark.implicits._
    // returns (support frame, the round's persisted oriented frame) —
    // the caller checkpoints support EAGERLY then releases the pin, so
    // a 30-round peel never stacks 30 persisted frames in the pool
    def supportOf(edges: DataFrame): (DataFrame, DataFrame) = {
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val rk = deg.select(col("n"),
        when(col("n") < (1L << 40), col("d") * lit(1L << 40) + col("n"))
          .otherwise(raise_error(lit("part id exceeds the 2^40 rank pack")))
          .as("rk"))
      val oriented = edges
        .join(rk.select(col("n").as("u"), col("rk").as("rku")), "u")
        .join(rk.select(col("n").as("v"), col("rk").as("rkv")), "v")
        .select(
          when(col("rku") < col("rkv"), col("u")).otherwise(col("v")).as("s"),
          when(col("rku") < col("rkv"), col("rkv")).otherwise(col("rku")).as("rkt"),
          when(col("rku") < col("rkv"), col("v")).otherwise(col("u")).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val tri = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.s") === col("e2.s") && col("e1.rkt") < col("e2.rkt"))
        .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
        .join(oriented.select(col("s").as("b"), col("t").as("c")), Seq("b", "c"))
      val sup = tri.select(explode(array(
          struct(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v")),
          struct(least(col("a"), col("c")).as("u"),
            greatest(col("a"), col("c")).as("v")),
          struct(least(col("b"), col("c")).as("u"),
            greatest(col("b"), col("c")).as("v")))).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("support"))
      (sup, oriented)
    }
    // canonicalize defensively (row-local): a caller passing (v, u) or
    // both orientations would otherwise double every support count —
    // the support explode always emits (least, greatest), so mixed
    // orientations in the INPUT are the one garbage shape that would
    // corrupt silently instead of failing
    val stagedIn = pairsIn.storageLevel == StorageLevel.NONE
    val src0 = if (stagedIn) pairsIn.persist(StorageLevel.MEMORY_AND_DISK)
      else pairsIn
    src0.count()
    var edges = src0
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var n = edges.count()
    var sup = spark.emptyDataset[(Long, Long, Long)]
      .toDF("u", "v", "support")
    // NOT static-scoped (measured and rejected, r13): unlike the label
    // loops, each round's dominant term is the compute-dense wedge
    // self-join over frames AQE runtime-broadcasts at bench scale —
    // static plans measured 2.4–2.7 s (byte width 1 and
    // defaultParallelism both) vs the AQE round's ~1–1.5 s, i.e. AQE
    // earns its per-stage overhead exactly where the label loops don't
    if (stagedIn) src0.unpersist(blocking = false)
    locally {
    var stable = n == 0L
    var round = 0
    while (!stable && round < maxRounds) {
      val (supDf, orientedPin) = supportOf(edges)
      sup = supDf.localCheckpoint(true)
      orientedPin.unpersist(false)
      val next = sup.filter(col("support") >= (k - 2).toLong)
        .select(col("u"), col("v")).localCheckpoint(true)
      val nNext = next.count()
      // next ⊆ edges (support rows only exist for current edges), so
      // count equality is set equality
      stable = nNext == n
      edges = next
      n = nNext
      stable = stable || n == 0L
      round += 1
    }
    require(stable, s"k-truss peeling did not stabilize within $maxRounds rounds")
    }
    if (n == 0L) sup.filter(lit(false)).orderBy(col("u"), col("v"))
    else sup.filter(col("support") >= (k - 2).toLong).orderBy(col("u"), col("v"))
  }

  /** DuckDB oracle for [[kTruss]] — canonical (a<b<c) triangle
    * enumeration, support by exploding each triangle onto its three
    * edges, peel unrolled to `rounds` idempotent CTE layers (the
    * [[kCoreOracleSql]] discipline; KTrussSpec pins the sf0.01 peel
    * depth well under the bound).
    */
  def kTrussOracleSql(k: Int = 4, minSupport: Long = 2, rounds: Int = 12): String = {
    val kk = k - 2
    val head =
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT a.pk AS u, b.pk AS v
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport)""".stripMargin
    def triOf(e: String, t: String) =
      s"""$t AS MATERIALIZED (
         |  SELECT ab.u AS x, ab.v AS y, bc.v AS z
         |  FROM $e ab JOIN $e bc ON ab.v = bc.u
         |  JOIN $e ac ON ac.u = ab.u AND ac.v = bc.v)""".stripMargin
    val iters = (1 to rounds).map { r =>
      triOf(s"e${r - 1}", s"t$r") + ",\n" +
        s"""e$r AS MATERIALIZED (
           |  SELECT u, v FROM (
           |    SELECT u, v, count(*) AS sup FROM (
           |      SELECT x AS u, y AS v FROM t$r
           |      UNION ALL SELECT y, z FROM t$r
           |      UNION ALL SELECT x, z FROM t$r)
           |    GROUP BY u, v) WHERE sup >= $kk)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters,
       |${triOf(s"e$rounds", "tf")}
       |SELECT u, v, count(*)::BIGINT AS support FROM (
       |  SELECT x AS u, y AS v FROM tf
       |  UNION ALL SELECT y, z FROM tf
       |  UNION ALL SELECT x, z FROM tf)
       |GROUP BY u, v HAVING count(*) >= $kk
       |ORDER BY u, v""".stripMargin
  }

  /** DISCRETE POWER-LAW EXPONENT (Clauset–Shalizi–Newman continuous-MLE
    * approximation): α ≈ 1 + n / Σ_{d≥dmin} ln(d/(dmin − ½)) over the
    * co-purchase degree sequence — the single number that says whether
    * the graph's tail is scale-free (α ≈ 2–3) or truncated, which
    * decides whether hub-aware shapes (degree-ordered triangles,
    * [[Skew]] salting) are mandatory at 100 TB or paranoia. Companion
    * to [[degreeDistribution]]'s binned view.
    *
    * Exactness: each node's ln term quantizes to e6 BEFORE the sum
    * (order-free integer total, the micro-nat discipline); α is one
    * double excursion. Shape: the degree aggregate is the only
    * corpus-scale step; the MLE is a 3-column aggregate over the
    * node-sized degree frame.
    */
  def powerLawAlpha(
      lineitem: DataFrame,
      dmin: Long = 2,
      minSupport: Long = 2): DataFrame =
    powerLawAlphaFromPairs(
      Relational.partPairCounts(lineitem, minSupport), dmin)

  /** [[powerLawAlpha]] over a prebuilt (ideally cached) pair frame. */
  def powerLawAlphaFromPairs(pairs: DataFrame, dmin: Long = 2): DataFrame = {
    require(dmin >= 1)
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= dmin)
    deg
      .select(expr(
        s"CAST(round(ln(CAST(d AS DOUBLE) / (CAST($dmin AS DOUBLE) - 0.5)) * 1000000) AS BIGINT)")
        .as("t"))
      .agg(count(lit(1)).as("n_tail"), sum(col("t")).as("sum_ln_e6"))
      .filter(col("n_tail") > 0)
      .selectExpr("n_tail", "sum_ln_e6",
        "CAST(round((1.0 + CAST(n_tail AS DOUBLE) * 1000000.0 / CAST(sum_ln_e6 AS DOUBLE)) * 1000000) AS BIGINT) AS alpha_e6")
      .orderBy(col("n_tail"))
  }

  /** DuckDB oracle for [[powerLawAlpha]] — identical degree sequence,
    * per-term quantization, and MLE literal.
    */
  def powerLawAlphaOracleSql(dmin: Long = 2, minSupport: Long = 2): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |p AS (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |deg AS (
       |  SELECT n, count(*) AS d FROM (
       |    SELECT u AS n FROM p UNION ALL SELECT v FROM p) GROUP BY 1),
       |terms AS (
       |  SELECT CAST(round(ln(CAST(d AS DOUBLE) / (CAST($dmin AS DOUBLE) - 0.5)) * 1000000) AS BIGINT) AS t
       |  FROM deg WHERE d >= $dmin),
       |g AS (SELECT count(*) AS n_tail, sum(t) AS sum_ln_e6 FROM terms)
       |SELECT n_tail::BIGINT AS n_tail, sum_ln_e6::BIGINT AS sum_ln_e6,
       |  CAST(round((1.0 + CAST(n_tail AS DOUBLE) * 1000000.0 / CAST(sum_ln_e6 AS DOUBLE)) * 1000000) AS BIGINT) AS alpha_e6
       |FROM g WHERE n_tail > 0 ORDER BY n_tail""".stripMargin

  /** DuckDB oracle for [[kCore]] — the same peeling unrolled to `rounds`
    * CTE layers (layers past the fixed point are idempotent, so any
    * `rounds` ≥ the actual peel depth yields the identical core;
    * KCoreSpec pins the sf0.01 depth well under this bound).
    */
  def kCoreOracleSql(k: Int = 3, minSupport: Long = 2, rounds: Int = 24): String = {
    val head =
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS MATERIALIZED (
         |  SELECT a.pk AS u, b.pk AS v
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
         |und AS MATERIALIZED (
         |  SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
         |a0 AS MATERIALIZED (SELECT DISTINCT u AS n FROM und)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT e.u AS n FROM und e
         |  JOIN a${r - 1} x ON e.u = x.n JOIN a${r - 1} y ON e.v = y.n
         |  GROUP BY e.u HAVING count(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters
       |SELECT e.u AS part_id, count(*)::BIGINT AS core_degree
       |FROM und e
       |JOIN a$rounds x ON e.u = x.n JOIN a$rounds y ON e.v = y.n
       |GROUP BY e.u ORDER BY part_id""".stripMargin
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — the node-level reading of
    * [[triangleCount]]'s global census: lcc(v) = 2·Δ(v)/(d(v)·(d(v)−1)),
    * the "are my neighbors each other's neighbors" score that separates
    * community cores (lcc → 1) from brokers bridging otherwise-separate
    * groups (lcc → 0 at high degree) — the per-item readout a
    * recommender uses to decide whether a part belongs to one basket
    * community or links several. Top `k` nodes (lcc desc, id asc) among
    * nodes with degree ≥ `minDegree` (degree-1/2 nodes have undefined
    * or trivial lcc).
    *
    * Exactness: per-node triangle counts are exact integers from the
    * same degree-ordered wedge join as the census (each triangle
    * (s, t1, t2) credits all three vertices); lcc_e6 is one integer
    * division. Shape: identical O(|E|^1.5) wedge bound, plus a
    * node-dimension explode (3 rows per triangle) and aggregate;
    * TakeOrderedAndProject top-k.
    */
  def localClustering(
      lineitem: DataFrame, minSupport: Long = 2, minDegree: Long = 3,
      k: Int = 20): DataFrame =
    localClusteringFromPairs(Relational.partPairCounts(lineitem, minSupport)
      .persist(StorageLevel.MEMORY_AND_DISK), minDegree, k)

  /** [[localClustering]] over a prebuilt (ideally cached) pair frame. */
  def localClusteringFromPairs(
      pairsIn: DataFrame, minDegree: Long = 3, k: Int = 20): DataFrame = {
    val pairs = pairsIn.select(col("u"), col("v"))
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val rk = deg.select(col("n"),
      when(col("n") < (1L << 40), col("d") * lit(1L << 40) + col("n"))
        .otherwise(raise_error(lit("part id exceeds the 2^40 rank pack")))
        .as("rk"))
    val oriented = pairs
      .join(rk.select(col("n").as("u"), col("rk").as("rku")), "u")
      .join(rk.select(col("n").as("v"), col("rk").as("rkv")), "v")
      .select(
        when(col("rku") < col("rkv"), col("u")).otherwise(col("v")).as("s"),
        when(col("rku") < col("rkv"), col("rkv")).otherwise(col("rku")).as("rkt"),
        when(col("rku") < col("rkv"), col("v")).otherwise(col("u")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.rkt") < col("e2.rkt"))
      .select(col("e1.s").as("a"), col("e1.t").as("t1"), col("e2.t").as("t2"))
      .join(oriented.select(col("s").as("t1"), col("t").as("t2")),
        Seq("t1", "t2"))
    val perNode = tri
      .select(explode(array(col("a"), col("t1"), col("t2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    deg.filter(col("d") >= minDegree)
      .join(perNode, Seq("n"), "left")
      .na.fill(0L, Seq("tri"))
      .select(col("n").as("part_id"), col("d").as("degree"),
        col("tri").as("n_triangles"),
        expr("2 * tri * 1000000 div (d * (d - 1))").as("lcc_e6"))
      .orderBy(desc("lcc_e6"), col("part_id"))
      .limit(k)
  }

  /** DuckDB oracle for [[localClustering]] — canonical a<b<c triangle
    * enumeration credited to all three vertices, same integer lcc.
    */
  def localClusteringOracleSql(
      minSupport: Long = 2, minDegree: Long = 3, k: Int = 20): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |p AS MATERIALIZED (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |deg AS (
       |  SELECT n, count(*)::BIGINT AS d FROM (
       |    SELECT u AS n FROM p UNION ALL SELECT v FROM p) GROUP BY 1),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM p e1 JOIN p e2 ON e2.u = e1.u AND e2.v > e1.v
       |  JOIN p e3 ON e3.u = e1.v AND e3.v = e2.v),
       |pn AS (
       |  SELECT n, count(*)::BIGINT AS tri FROM (
       |    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY 1)
       |SELECT deg.n AS part_id, deg.d AS degree,
       |  coalesce(pn.tri, 0)::BIGINT AS n_triangles,
       |  (2 * coalesce(pn.tri, 0) * 1000000 // (deg.d * (deg.d - 1)))::BIGINT
       |    AS lcc_e6
       |FROM deg LEFT JOIN pn ON pn.n = deg.n
       |WHERE deg.d >= $minDegree
       |ORDER BY lcc_e6 DESC, part_id LIMIT $k""".stripMargin

  /** CONNECTED COMPONENTS of the co-purchase graph — the census that
    * says whether the catalog is one giant co-occurrence component or
    * an archipelago (the question every graph-sampling and
    * partition-placement decision starts from; also the generic form of
    * [[Dedup.nearDupClusters]]'s duplicate-cluster labeling). Component
    * label = minimum node id in the component — a canonical fixpoint
    * REACHED BY ANY convergent min-propagation, so the Spark side runs
    * the seeded, pointer-jumped [[Components.minLabel]] kernel
    * (O(log diameter) rounds) while the oracle replays plain synchronous
    * min-propagation (diameter-many rounds, unrolled CTEs): trajectories
    * differ, the unique fixpoint cannot.
    *
    * Output: one row per component — (component_id = min node, n_nodes,
    * n_edges within), largest first.
    *
    * Shape at 100 TB: the corpus-scale work is the pair build; the
    * kernel's rounds move only the node-sized label frame. This entry
    * point caches nothing: the kernel stages the pairs for its rounds
    * and the edge count builds them again, so a caller that already
    * holds a cached pair frame calls [[connectedComponentsFromPairs]].
    * Convergence is enforced — a non-converged census throws rather than
    * emitting wrong components.
    */
  def connectedComponents(
      lineitem: DataFrame, minSupport: Long = 2, maxRounds: Int = 30)
      : DataFrame =
    connectedComponentsFromPairs(
      Relational.partPairCounts(lineitem, minSupport), maxRounds)

  /** [[connectedComponents]] over a prebuilt (ideally cached) pair frame. */
  def connectedComponentsFromPairs(
      pairsIn: DataFrame, maxRounds: Int = 30): DataFrame = {
    val labels =
      Components.minLabel(pairsIn, maxRounds, "connected components")
    val compEdges = pairsIn
      .join(labels.select(col("node").as("u"), col("label").as("cl")),
        Seq("u"))
      .groupBy(col("cl").as("component_id"))
      .agg(count(lit(1)).as("n_edges"))
    labels.groupBy(col("label").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .join(compEdges, Seq("component_id"), "left")
      .na.fill(0L, Seq("n_edges"))
      .orderBy(desc("n_nodes"), col("component_id"))
  }

  /** DuckDB oracle for [[connectedComponents]] — plain synchronous
    * min-label propagation unrolled to `rounds` CTE layers (idempotent
    * past the fixpoint, so any `rounds` ≥ the graph diameter yields the
    * identical labels; rounds past convergence are cheap no-ops for the
    * optimizer). Edge counts attach on the u endpoint, whose label
    * equals its component's by fixpoint. Fixpoint GUARD: a trailing
    * UNION ALL emits a sentinel (-1, -1, n_changed) row iff the last
    * two layers still differ — a diameter > `rounds` graph then breaks
    * the row-count/hash compare loudly (the Spark side throws on
    * non-convergence; without this the oracle would silently bless
    * wrong labels).
    */
  def connectedComponentsOracleSql(
      minSupport: Long = 2, rounds: Int = 24): String = {
    val head =
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS MATERIALIZED (
         |  SELECT a.pk AS u, b.pk AS v
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
         |e AS MATERIALIZED (
         |  SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e)"""
        .stripMargin
    val iters = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT l.node, least(l.label, min(n.label)) AS label
         |  FROM l${r - 1} l
         |  JOIN e ON e.u = l.node
         |  JOIN l${r - 1} n ON n.node = e.v
         |  GROUP BY l.node, l.label)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters,
       |ce AS (
       |  SELECT l.label AS component_id, count(*)::BIGINT AS n_edges
       |  FROM p JOIN l$rounds l ON l.node = p.u GROUP BY 1)
       |SELECT l.label AS component_id, count(*)::BIGINT AS n_nodes,
       |  coalesce(ce.n_edges, 0)::BIGINT AS n_edges
       |FROM l$rounds l LEFT JOIN ce ON ce.component_id = l.label
       |GROUP BY l.label, ce.n_edges
       |UNION ALL
       |SELECT (-1)::BIGINT AS component_id, (-1)::BIGINT AS n_nodes,
       |  count(*)::BIGINT AS n_edges
       |FROM l$rounds a JOIN l${rounds - 1} b ON a.node = b.node
       |WHERE a.label <> b.label
       |HAVING count(*) > 0
       |ORDER BY n_nodes DESC, component_id""".stripMargin
  }
}

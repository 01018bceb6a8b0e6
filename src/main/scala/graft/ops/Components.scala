package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by min-label propagation — the one fixed-point
  * loop behind [[Graph.connectedComponentsFromPairs]],
  * [[Dedup.nearDupClusters]], [[Spatial.dbscan]] and
  * [[Identity.resolveEntityLabels]]. Callers keep only what comes before
  * the loop (which nodes and edges) and after it (the readout).
  */
private[graft] object Components {

  /** (node, label) for every endpoint of `edges` (columns `u`, `v`,
    * either direction; duplicate and self edges are harmless) and every
    * node of `nodes` (column `node`: the nodes that may have no edge);
    * label = the minimum node id in the node's component, so a node with
    * no edge keeps its own id. The result is eagerly checkpointed and
    * outlives every cache involved.
    *
    * That label is the unique fixpoint of ANY convergent min-propagation,
    * so the kernel accelerates freely while the DuckDB oracles replay
    * plain propagation or a recursive closure:
    *  - the edge input is persisted (unless already cached) and counted
    *    once; its bytes size the loop width ([[Par.measuredWidth]]), and
    *    the loop runs under [[Par.withStaticLoop]] (rationale there);
    *  - the symmetrized edges are cached hash-partitioned on the round's
    *    join key `v` at that explicit width and sorted within partitions,
    *    so every round's sort-merge join co-partitions with the cache and
    *    only the node-sized label frame moves;
    *  - labels SEED at min(self, min neighbour): one round's progress for
    *    one aggregate (each seed is a node of the same component);
    *  - each round relaxes (min over self and neighbours), then
    *    pointer-jumps `jumps` times (label := label(label); labels are
    *    node ids, so the self-join is total). One jump grows the
    *    propagated distance d → 2d + 1, so diameter D closes in ~log₂ D
    *    rounds, not D. The old label rides into the round's
    *    `localCheckpoint` (which bounds lineage), so the changed count is
    *    partition-local;
    *  - it stops at zero changes; reaching `maxRounds` first throws an
    *    IllegalStateException naming `op`. Edge caches are released
    *    either way.
    *
    * `jumps = 2` compounds distance to ~4d + 3 (~log₄ D rounds), but the
    * un-checkpointed relax subtree then recomputes 4×: it pays only where
    * the edge frame is tiny next to the label frame. Measured on 4 cores:
    * entity resolution's key-head graph (its scale canary) took 115 s with
    * two jumps and 150 s with one; at sf0.1 a second jump slowed connected
    * components ~10% and dbscan ~60% without saving a round.
    */
  def minLabel(
      edges: DataFrame,
      maxRounds: Int,
      op: String,
      nodes: Option[DataFrame] = None,
      jumps: Int = 1): DataFrame = {
    val staged = edges.storageLevel == StorageLevel.NONE
    if (staged) edges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      edges.count()
      val w = Par.measuredWidth(edges, 2.0)
      Par.withStaticLoop(edges.sparkSession, w) {
        val e = edges.select(col("u"), col("v"))
        val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
          .repartition(w, col("v"))
          .sortWithinPartitions(col("v"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val nbrs = sym.select(col("u").as("node"), col("v").as("label"))
          var lab = nodes
            .fold(nbrs)(_.select(col("node"), col("node").as("label"))
              .unionAll(nbrs))
            .groupBy(col("node")).agg(min(col("label")).as("label"))
            .localCheckpoint()
          var round = 0
          var changed = 1L
          while (changed > 0 && round < maxRounds) {
            val nbrMin = sym.join(lab, col("v") === col("node"))
              .groupBy(col("u")).agg(min(col("label")).as("nbr"))
            var cur = lab.join(nbrMin, col("node") === col("u"), "left")
              .select(col("node"), col("label").as("old"),
                least(col("label"), coalesce(col("nbr"), col("label")))
                  .as("label"))
            for (_ <- 1 to jumps)
              cur = cur
                .join(cur.select(col("node").as("lid"), col("label").as("jl")),
                  col("label") === col("lid"))
                .select(col("node"), col("old"), col("jl").as("label"))
            val next = cur
              .select(col("node"), col("label"),
                (col("label") =!= col("old")).as("chg"))
              .localCheckpoint()
            changed = next.filter(col("chg")).count()
            lab = next.select(col("node"), col("label"))
            round += 1
          }
          if (changed > 0) throw new IllegalStateException(
            s"$op did not converge in $maxRounds rounds " +
              s"($changed labels still changing)")
          lab
        } finally sym.unpersist(blocking = false)
      }
    } finally if (staged) edges.unpersist(blocking = false)
  }
}

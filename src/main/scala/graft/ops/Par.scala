package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Scan-parallelism floor for COMPUTE-DENSE operator inputs (optimization
  * guide §2.5 "input skew — repartition immediately after the read").
  *
  * The sandbox testdata ships each table as ONE parquet file with ONE row
  * group, and a single row group cannot split across scan tasks — so an
  * operator whose work per input byte is enormous (all-pairs scoring,
  * shingle explodes, per-row JSON parse chains) runs its hot stage on ONE
  * task while the other cores idle; stage-level profiling
  * (graft.tools.Profile, round 12) measured 4.9 s single-task stages
  * under q_hubness and 7.1 s under q_fuzzy_join at sf0.1/local[32].
  *
  * Applied AT THE OPERATOR, never in the base readers: a round-12
  * experiment that widened every reader fixed those operators but taxed
  * the other ~300 scan-light aggregate queries ~0.5 s each (extra
  * exchange + extra 32-task stages per query, +31 s suite net on the
  * events family alone) — the knowledge "this operator's compute dwarfs
  * its input bytes" lives at the call site (guide §8), so only those
  * call sites pay for parallelism. At the 100 TB target the same scans
  * carry thousands of row groups and this helper must do NOTHING — hence:
  *
  *  - the floor is the session's `defaultParallelism` (overridable via
  *    `spark.graft.minScanParallelism`), never a constant;
  *  - a scan that already has at least that many partitions is returned
  *    UNCHANGED (the any-real-scale case — the check is on the scan's
  *    actual partition count, cached per (session, path));
  *  - the repartition hashes the table's primary key — deterministic
  *    under task retry (guide §2.5 rejects rand-derived keys) and
  *    sort-free (a keyless round-robin repartition pays a full local
  *    sort for retry determinism, SPARK-23207);
  *  - `spark.graft.minScanParallelism=1` disables it, which is how
  *    plan-shape tests assert the at-scale (no extra exchange) shape.
  */
private[graft] object Par {

  val MinScanParallelismKey = "spark.graft.minScanParallelism"

  /** Scoped session-conf override, restored in a finally (nesting-safe:
    * each scope restores exactly what it saw). Only the scope's OWN
    * actions may run inside — session confs are process-wide, so scopes
    * must not span concurrently-submitting driver threads.
    */
  private def withConfs[T](
      spark: SparkSession, pairs: Seq[(String, String)])(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The one staging scaffold of the static fixed-point loops: the
    * min-label kernel ([[Components.minLabel]]) and [[Graph]]'s rank,
    * label-propagation, shortest-path and k-core loops. For the loop's
    * input frame `in` it
    *  - persists `in` unless it is already cached, and counts it, so the
    *    pin below reads it once and its bytes are a real measurement;
    *  - sizes the loop width from those bytes ([[measuredWidth]]);
    *  - runs under STATIC per-round planning (below) at that width;
    *  - pins `pin(in)` hash-partitioned on the round's join key `key` at
    *    that width, sorted within partitions on it, and hands it to
    *    `body`;
    *  - releases both caches in a finally, also when `body` throws at
    *    its round bound.
    * `body` must return eagerly checkpointed frames (or plans over them
    * only): the pinned frame is gone when it returns, and the caller
    * plans its readout under the session's own confs.
    *
    * Static planning (guide §1.2 step 1 — fix the distributed
    * algorithm's shape before configs; here the "shape" is the
    * SCHEDULE). With AQE on, every exchange of every round materializes
    * as its own adaptive query-stage JOB (plan → submit → wait →
    * re-optimize). A fixed-point loop is dozens of rounds of SHAPE-STABLE
    * kilobyte-to-node-frame plans, so the per-stage replanning/scheduling
    * overhead dominates the round: round-13 profiling measured
    * q_entity_resolution at 97 jobs / 4.9 s wall with only 0.2 MB of
    * per-round state, and the whole loop family (CC, ER, dbscan, golden
    * records, LPA, rank iterations) spending > half its wall clock
    * between stages.
    *
    * Inside the scope, AQE is OFF — each round's eager checkpoint is ONE
    * job — and `spark.sql.shuffle.partitions` pins to the width, which
    * comes from the loop's MEASURED working-set bytes, so the setting is
    * scale-adaptive, never a constant: kilobyte loop frames plan
    * 1-partition rounds locally, a TB edge frame plans thousands-wide
    * rounds on a cluster. What AQE would have contributed per round is
    * already provided structurally: partition sizing comes from the
    * measured width, and the pinned frame is EXPLICITLY hash-partitioned
    * on the per-round join key at that same width, so every round's join
    * co-partitions with the cache (explicit-N partitionings are exact and
    * never coalesced) and the cached side never re-exchanges or
    * re-sorts. Skew: a single hot key inside a pre-partitioned cached
    * frame is equally beyond AQE's reach (it cannot split a cached
    * frame), so nothing is given up there either.
    */
  def staticLoop[T](in: DataFrame, key: String)(pin: DataFrame => DataFrame)(
      body: DataFrame => T): T = {
    val staged = in.storageLevel == StorageLevel.NONE
    if (staged) in.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      in.count()
      val w = measuredWidth(in)
      withConfs(in.sparkSession, Seq(
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> w.toString)) {
        val pinned = pin(in).repartition(w, col(key))
          .sortWithinPartitions(col(key))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try body(pinned) finally pinned.unpersist(blocking = false)
      }
    } finally if (staged) in.unpersist(blocking = false)
  }

  /** Byte-measured loop width: ceil(2 × bytes / advisory partition size)
    * of a PERSISTED AND MATERIALIZED frame — the same sizing rule AQE's
    * byte-based coalescing applies, computed once per loop instead of
    * once per stage; ×2 because [[staticLoop]]'s pinned frame is the
    * symmetrized union of the measured input. Falls back to
    * `defaultParallelism` when the frame's stats are not real
    * measurements (not cached / not yet materialized — the planner's
    * placeholder size is defaultSizeInBytes).
    */
  private def measuredWidth(df: DataFrame): Int = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= 0 || bytes >= BigInt(conf.defaultSizeInBytes))
      spark.sparkContext.defaultParallelism
    else {
      val advisory = math.max(1L, conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      val w = math.ceil(bytes.toDouble * 2.0 / advisory).toLong
      math.max(1L, math.min(w, 1L << 20)).toInt
    }
  }

  /** Scan partition counts, cached per (session, cacheKey): the count
    * costs a physical planning pass (no job), and the hot operator sites
    * are invoked many times per Bench/Verify session on the same handful
    * of source paths.
    */
  private val scanParts =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]

  /** The session's scan-parallelism floor (see the object doc). */
  private def floor(sess: SparkSession): Int =
    sess.conf.getOption(MinScanParallelismKey).map(_.toInt)
      .getOrElse(sess.sparkContext.defaultParallelism)

  /** `df`'s partition count, memoized under a non-empty `cacheKey`. `df`
    * MUST be exchange-free (a scan, optionally filtered/projected): the
    * probe plans `df.rdd`, which on a frame with exchanges could trigger
    * adaptive stage execution.
    */
  private def partitions(df: DataFrame, cacheKey: String): Int = {
    scanParts.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    def probe() = df.rdd.getNumPartitions
    if (cacheKey.isEmpty) probe()
    else scanParts.getOrElseUpdate((df.sparkSession, cacheKey), probe())
  }

  /** Hash-widens an exchange-free `df` to the floor when its scan has
    * fewer partitions. Pass a stable `cacheKey` (e.g. the source path) to
    * memoize the probe.
    */
  def widen(df: DataFrame, key: Column, cacheKey: String = ""): DataFrame = {
    val target = floor(df.sparkSession)
    if (target <= 1 || partitions(df, cacheKey) >= target) df
    else df.repartition(target, key)
  }

  /** [[widen]] for a per-row chain whose result must come out in `key`
    * order: range-partitions an exchange-free `df` on `key` at
    * max(scan partitions, floor), so a narrow chain followed by
    * `sortWithinPartitions` on `key` is globally ordered. The range
    * exchange's bound-sampling job reads only the scan's `key` column,
    * where a final `orderBy` samples by running the whole chain. At width
    * 1 `df` is returned unchanged: one partition is already in order.
    */
  def widenByRange(df: DataFrame, key: Column, cacheKey: String): DataFrame = {
    val width = math.max(partitions(df, cacheKey), floor(df.sparkSession))
    if (width <= 1) df else df.repartitionByRange(width, key)
  }

  /** ORDER BY for a result that is dimension-sized by construction: its
    * grouping keys come from a closed domain (event type, hour, score,
    * status, priority, nation, region, brand, windows over a fixed time
    * range), so it has a bounded row count whatever the input size. Apply
    * with `.transform(Par.sortSmall(keys: _*))`; the rows and their order
    * are exactly those of `.orderBy(keys: _*)`.
    *
    * Why: `orderBy` requires a range distribution, so the planner inserts
    * a range exchange above the final aggregate. That exchange is two
    * jobs — one reads its whole child to sample sort bounds, one shuffles
    * — and AQE re-plans the query after each, so a kilobyte aggregate
    * ran 4 jobs where 2 do (scan + partial aggregate; final aggregate +
    * sort + collect). Here the sort is local to one partition instead.
    *
    * The cost: `coalesce(1)` is narrow, so the whole stage between the
    * last exchange and the sort — the final aggregate — runs in ONE task.
    * Use it only where that stage's input is bounded by map tasks ×
    * groups (partial aggregate rows of a closed-domain key), never for
    * per-user, per-customer, per-order or per-event results: those keep
    * `orderBy`. Windows and joins over the aggregate's output stay
    * bounded; a window over raw rows whose partitioning the final
    * aggregate reuses (no exchange between them) would not.
    * `coalesce` rather than `repartition(1)`: the latter adds a shuffle,
    * and with it a job, of its own.
    */
  def sortSmall(cols: Column*)(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)
}

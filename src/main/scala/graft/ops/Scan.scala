package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix scans over ordered frames — the one hierarchical scan behind
  * the corpus mixture and systematic draws ([[Corpus]]), media shard
  * planning ([[Multimodal.shardPlan]]) and the watermark audit
  * ([[Analytics.disorderProfile]]), and the ×2 mid-rank of the rank
  * statistics.
  */
private[graft] object Scan {

  /** An associative scan operator: its aggregate, and how a block-local
    * prefix combines with the carry of the lower blocks.
    */
  sealed abstract class Op(
      val agg: Column => Column, val combine: (Column, Column) => Column)
  /** Running sum; an empty prefix sums to 0. */
  case object Sum extends Op(c => sum(c),
    (local, carry) => coalesce(local, lit(0L)) + coalesce(carry, lit(0L)))
  /** Running max; an empty prefix is null (greatest() skips nulls). */
  case object Max extends Op(c => max(c), greatest(_, _))

  /** `df` plus column `out`: `op` of `value` over every EARLIER row in
    * `order` within `keys` (ROWS frame, so the current row is excluded).
    *
    * Shape at 100 TB — Blelloch's two-level scan (*Prefix Sums and Their
    * Applications*, 1990). A window partitioned by `keys` alone would pull
    * each key's whole slice (or, with no keys, the whole stream) through
    * one task. Instead rows are range-blocked on `order div width`
    * (contiguous order ranges, so block prefixes compose by `op`):
    *  - the stream-sized window is partitioned by (keys, block) —
    *    data-parallel across blocks, never an exchange on `order`;
    *  - the (keys, block) totals table (dimension × block-count rows,
    *    tuned by `width`) is exclusive-scanned over block order;
    *  - that carry table is broadcast back onto the stream.
    * Sum and max are associative and the arithmetic is integer, so the
    * result is bit-identical to the sequential window at every width
    * (`width = Long.MaxValue` is one block, the sequential form).
    */
  def exclusive(
      df: DataFrame,
      keys: Seq[String],
      order: String,
      value: String,
      width: Long,
      op: Op,
      out: String): DataFrame = {
    require(width > 0, "block width must be positive")
    val k = keys.map(col)
    val before = Window.unboundedPreceding
    val staged = df.withColumn("scan_block", expr(s"$order div $width"))
    val carry = staged.groupBy(k :+ col("scan_block"): _*)
      .agg(op.agg(col(value)).as("scan_total"))
      .select(k :+ col("scan_block") :+ op.agg(col("scan_total")).over(
        Window.partitionBy(k: _*).orderBy(col("scan_block"))
          .rowsBetween(before, -1)).as("scan_carry"): _*)
    staged
      .withColumn("scan_local", op.agg(col(value)).over(
        Window.partitionBy(k :+ col("scan_block"): _*).orderBy(col(order))
          .rowsBetween(before, -1)))
      .join(broadcast(carry), keys :+ "scan_block")
      .withColumn(out, op.combine(col("scan_local"), col("scan_carry")))
      .drop("scan_block", "scan_local", "scan_carry")
  }

  /** `hist` plus column `out`: the ×2 mid-rank of each value's tied
    * block, 2·(count below) + (count equal) + 1 — first plus last rank,
    * so ties average without leaving the integers. `hist` holds one row
    * per distinct `value` with its row count in `count`; it is
    * dimension-sized, so this is one unpartitioned window, not
    * [[exclusive]]'s blocked form.
    */
  def midRank2(hist: DataFrame, value: String, count: String, out: String)
      : DataFrame =
    hist.withColumn(out, lit(2L) * coalesce(sum(col(count)).over(
      Window.orderBy(col(value)).rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L)) + col(count) + 1L)
}

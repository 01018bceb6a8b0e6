package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, NullsFirst, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.col
import graft.ops.{Analytics, EventPipeline}

/** `Par.sortSmall` (a local sort over a 1-partition coalesce) must return
  * exactly the rows, in exactly the order, that `orderBy` on the same
  * keys returns; `q_event_pipeline`'s per-partition sort over its range-
  * partitioned source must order the whole result.
  */
class SortSmallSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  /** Every query whose last step is `Par.sortSmall`. */
  private val sortedSmall = Seq(
    "q_event_summary", "q_quality_histogram", "q_type_counts", "q_hourly_counts",
    "q_tumbling_counts", "q_sliding_counts", "q_value_stats", "q_revenue_by_nation",
    "q_hourly_anomalies", "q_gap_fill", "q_multiset_ops", "q_value_percentiles",
    "q_distinct_profile", "q_active_users", "q_event_transitions",
    "q_transition_entropy", "q_hourly_type_pivot", "q_type_affinity",
    "q_incremental_rollup", "q_psi_drift", "q_jsd_drift", "q_chi_square", "q_twap",
    "q_mad_outliers", "q_entry_exit_flows", "q_markov_eval", "q_disorder_profile",
    "q_table_checksum", "q_target_encoding", "q_dispersion", "q_sliding_distinct",
    "q_pricing_summary", "q_revenue_by_brand", "q_order_rollup", "q_order_cube",
    "q_corr_stats", "q_nation_trade_flows", "q_orders_of_segment",
    "q_lapsed_high_balance", "q_hhi", "q_price_elasticity", "q_order_latency",
    "q_incremental_join", "q_revenue_bridge", "q_snapshot_diff")

  /** The keys of `df`'s top-level local sort, as sort columns. */
  private def sortSmallKeys(df: DataFrame): Seq[Column] =
    df.queryExecution.analyzed match {
      case Sort(order, false, _, _) => order.map(key)
      case other => fail(s"not a Par.sortSmall result:\n$other")
    }

  private def key(o: SortOrder): Column = {
    val c = o.child match {
      case a: Attribute => col(s"`${a.name}`")
      case e => fail(s"sort key is not an output column: $e")
    }
    (o.direction == Ascending, o.nullOrdering == NullsFirst) match {
      case (true, true) => c.asc_nulls_first
      case (true, false) => c.asc_nulls_last
      case (false, true) => c.desc_nulls_first
      case (false, false) => c.desc_nulls_last
    }
  }

  /** With AQE's partition coalescing off, a final aggregate keeps
    * `spark.sql.shuffle.partitions` partitions, so an output sorted only
    * per partition would come out of order here.
    */
  private def uncoalesced[T](body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("every Par.sortSmall query equals orderBy on the same keys, as a sequence") {
    val differ = uncoalesced {
      sortedSmall.filterNot { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        val got = df.collect().toSeq
        got.nonEmpty && got == df.orderBy(sortSmallKeys(df): _*).collect().toSeq
      }
    }
    assert(differ.isEmpty, s"empty, or rows or order unlike orderBy: ${differ.mkString(", ")}")
  }

  test("q_event_pipeline ids strictly increase and match the orderBy formulation") {
    uncoalesced {
      val events = Analytics.events(spark, sf)
      val got = SparkEntry.queries("q_event_pipeline")(spark, sf).collect().toSeq
      val ids = got.map(_.getLong(0))
      assert(ids.nonEmpty)
      assert(ids.zip(ids.tail).forall { case (a, b) => a < b }, "ids not strictly increasing")
      val want = EventPipeline.fromRawJson(SparkEntry.eventWire(events), deterministic = true)
        .select(col("id").cast("long").as("id"), col("event_hour"),
          col("message_length"), col("data_quality_score"))
        .orderBy("id").collect().toSeq
      assert(got == want)
    }
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational capability demos over the star schema — joins, window
  * functions, top-k, rollups. The reference has NO joins, set-ops or
  * window functions (SURVEY §2.7–2.9); these prove the engine covers the
  * full relational surface a user would expect, with 100 TB-shaped plans:
  *
  *  - dimension tables (region/nation/supplier/part) are broadcast — no
  *    shuffle of the fact side;
  *  - fact⋈fact joins shuffle on the join key once and reuse it;
  *  - money sums go through DECIMAL(18,2) so results are exact and
  *    order-independent (double summation order would poison both the
  *    oracle hash and cross-run reproducibility).
  */
object Relational {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.read(spark, s"$sfDir/$name.parquet")

  private def money(c: String) = col(c).cast("decimal(18,2)")

  /** Broadcast hint gated on the optimizer's size estimate vs the
    * session's `autoBroadcastJoinThreshold`. Fixed-cardinality dimensions
    * (region 5, nation 25, part catalog) may be hinted unconditionally,
    * but customer/supplier-derived sides scale WITH the fact data — an
    * unconditional hint there overrides AQE's size logic and becomes a
    * driver OOM at the 100 TB target. This helper applies the hint only
    * when the estimate is under the threshold; above it (or when the
    * threshold is disabled with -1) the side is left unhinted and
    * AQE/CBO picks broadcast-vs-shuffle at the stage boundary.
    *
    * The gate is deliberately CONSERVATIVE: without CBO, join-derived
    * sides are estimated as the product of their children and
    * aggregates inherit their child's size, so a derived side can blow
    * past the threshold while actually tiny — the hint then simply
    * lapses and the planner's own (identically estimated) decision or
    * AQE's runtime sizes take over. Correctness and the at-scale plan
    * are unaffected; only the static plan at mid SFs may prefer a
    * shuffle join that AQE converts back at runtime.
    */
  def broadcastIfSmall(df: DataFrame): DataFrame = {
    val raw = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val threshold =
      try raw.trim.toLong
      catch { case _: NumberFormatException =>
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw) }
    val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && estimate <= threshold) broadcast(df) else df
  }

  /** TPC-H Q1-shaped pricing summary over lineitem: one wide partial+final
    * hash aggregate, filter pushed to the parquet scan.
    */
  def pricingSummary(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        sum(money("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(money("l_extendedprice") * (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("sum_disc_price"),
        // averages via exact sums (integral doubles / decimal) so the
        // result is independent of partial-aggregation merge order
        round(sum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
        round(sum(col("l_discount").cast("decimal(4,2)")).cast("double") /
          count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .transform(Par.sortSmall(col("l_returnflag"), col("l_linestatus")))

  /** Revenue per region/nation: 4-way join. Region (5 rows) and nation
    * (25) are unconditionally broadcast; customer SCALES with the fact
    * data (TPC-H: 150 k × sf), so its hint is size-gated — at test SFs it
    * broadcasts, at 100 TB it falls back to AQE's choice.
    */
  def revenueByNation(
      region: DataFrame,
      nation: DataFrame,
      customer: DataFrame,
      orders: DataFrame): DataFrame =
    orders
      .join(broadcastIfSmall(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(money("o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("order_count"))
      .transform(Par.sortSmall(col("r_name"), col("n_name")))

  /** Revenue per part brand: fact⋈dim with broadcast part side. */
  def revenueByBrand(li: DataFrame, part: DataFrame): DataFrame =
    li.join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(money("l_extendedprice") * (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("line_count"))
      .transform(Par.sortSmall(col("p_brand")))

  /** TPC-H Q3-shaped shipping priority: the one fact⋈fact join shape —
    * orders⋈lineitem shuffle on the order key (both sides large; no
    * broadcast path exists). At scale this is THE join to co-partition:
    * bucket both tables by orderkey (Skew.writeBucketed) and the
    * exchange disappears. Top-k after the join is a bounded
    * TakeOrderedAndProject, not a global sort.
    */
  def shippingPriority(
      customer: DataFrame,
      orders: DataFrame,
      li: DataFrame,
      k: Int = 10): DataFrame =
    orders
      .join(broadcastIfSmall(customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))), col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1996-01-01 00:00:00").cast("timestamp"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(money("l_extendedprice") * (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("revenue"))
      .select(col("o_orderkey"),
        // o_orderdate is TIMESTAMP_NTZ in the parquet; the session is
        // pinned UTC so the LTZ cast is value-preserving
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(k)

  /** Top-k orders by price — TakeOrderedAndProject (per-partition heap,
    * no global sort), ties broken by key.
    */
  def topOrders(orders: DataFrame, k: Int = 10): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(k)

  /** Window function (§2.9 extension): top-3 orders per customer by
    * price. One shuffle on the partition key; rank ties broken by key.
    */
  def topOrdersPerCustomer(orders: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** Top-k per customer via the typed [[graft.functions.TopKAggregator]]
    * — result-identical to [[topOrdersPerCustomer]], but planned as a
    * partial+final aggregate: map tasks ship ≤ k pairs per group instead
    * of shuffling and sorting every order row (the window-function cost).
    */
  def topOrdersPerCustomerAgg(orders: DataFrame, k: Int = 3): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val topk = new graft.functions.TopKAggregator[(Long, Double, Long)](
      k, r => (r._2, r._3))
    orders
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(topk.toColumn)
      .flatMap { case (cust, pairs) =>
        pairs.zipWithIndex.map { case ((price, okey), i) =>
          (cust, okey, price, (i + 1).toLong)
        }
      }
      .toDF("o_custkey", "o_orderkey", "o_totalprice", "rnk")
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** Rollup (§2.5 extension): order counts by status with subtotals —
    * exercises grouping-set expansion.
    */
  def orderStatusRollup(orders: DataFrame): DataFrame =
    orders
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(money("o_totalprice")).cast("double").as("total"))
      .transform(Par.sortSmall(
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first))

  /** Cube (grouping-sets family, completing [[orderStatusRollup]]):
    * all 2^2 grouping combinations of status × priority.
    */
  def orderStatusCube(orders: DataFrame): DataFrame =
    orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(money("o_totalprice")).cast("double").as("total"))
      .transform(Par.sortSmall(
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first))

  /** Bivariate stats per group: Pearson correlation and sample
    * covariance of quantity vs price.
    */
  def quantityPriceCorr(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_covar"))
      .transform(Par.sortSmall(col("l_returnflag")))

  /** Correlated-style semi/anti join: customers with no orders (NOT
    * EXISTS → left-anti, broadcast the distinct key set when small).
    */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** TPC-H Q7-shaped trade flows: revenue per (customer nation, supplier
    * nation) pair. Topology: ONE fact⋈fact shuffle (lineitem⋈orders on
    * the order key) with TWO broadcast dimension branches hanging off
    * it (customer→nation on the order side, supplier→nation on the line
    * side) — the shape where join ORDER matters at scale: dims reduce
    * early, the big join happens once.
    */
  def nationTradeFlows(
      lineitem: DataFrame,
      orders: DataFrame,
      customer: DataFrame,
      supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val custNation = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("cust_nation"))
    val suppNation = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcastIfSmall(custNation), col("o_custkey") === col("c_custkey"))
      .join(broadcastIfSmall(suppNation), col("l_suppkey") === col("s_suppkey"))
      .filter(col("cust_nation") < col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(
        sum(money("l_extendedprice") * (lit(1.0).cast("decimal(4,2)") -
          col("l_discount").cast("decimal(4,2)"))).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .transform(Par.sortSmall(col("cust_nation"), col("supp_nation")))
  }

  /** TPC-H Q18-shaped HAVING: orders whose total quantity exceeds the
    * threshold. The HAVING is a post-aggregate filter on the grouped
    * fact (never a row-level predicate), and the surviving key set is
    * small — it joins back to orders as a broadcast.
    */
  def bigOrders(
      lineitem: DataFrame,
      orders: DataFrame,
      minQty: Double = 300.0,
      k: Int = 100): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("double").as("total_qty"))
      .filter(col("total_qty") > minQty)
    orders
      .join(broadcastIfSmall(big), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("total_qty"))
      .orderBy(desc("total_qty"), col("o_orderkey"))
      .limit(k)
  }

  /** Scalar-subquery shape: orders priced above the global average.
    * Catalyst plans the aggregate as a 1-row subquery broadcast into the
    * filter — the fact table is scanned once with the comparison pushed
    * into its stage, never joined. Top-k keeps the verified output small.
    */
  def aboveAvgOrders(orders: DataFrame, k: Int = 100): DataFrame = {
    val avgPrice = orders.agg(
      (sum(money("o_totalprice")) / count(lit(1))).as("avg_price"))
    orders
      .join(broadcast(avgPrice))
      .filter(money("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(k)
  }

  /** RANGE-frame rolling revenue (§2.9 extension — the frame variant the
    * row_number/LAG queries don't cover): per-day order revenue with a
    * trailing `days`-day average order price and order count, via
    * `rangeBetween` on the day number. Scale note: the window input is
    * the DAILY aggregate (one row per day — thousands of rows for years
    * of data), so the unpartitioned ordered window is trivially small;
    * the fact-table work is the ordinary partial+final aggregate
    * feeding it.
    */
  def rollingRevenue(orders: DataFrame, days: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // all money in integer CENTS: a double division + round(_, 4) sits at
    // the half-ulp boundary whenever the exact quotient has 5 decimals
    // (cents / 40 orders), and engines legitimately disagree there — the
    // rolling average is therefore exact integer division in 1e-4 units
    val daily = orders
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("day_num"))
      .agg(
        sum((money("o_totalprice") * 100).cast("long")).as("rev_cents"),
        count(lit(1)).as("n"))
    val w = Window.orderBy(col("day_num")).rangeBetween(-(days - 1), 0)
    daily
      .withColumn("roll_cents", sum(col("rev_cents")).over(w))
      .withColumn("roll_n", sum(col("n")).over(w))
      .select(
        col("day_num"),
        (col("rev_cents").cast("double") / 100.0).as("day_revenue"),
        expr("(roll_cents * 100) div roll_n").as("rolling_avg_order_e4"),
        col("roll_n").cast("long").as("rolling_orders"))
      .orderBy(col("day_num"))
  }

  /** IN-subquery / left-semi shape: orders whose customer is in the
    * BUILDING segment — the semi side reduces to its distinct key set
    * and broadcasts; no fact shuffle, no row duplication (semantics of
    * EXISTS, not of an inner join).
    */
  def ordersOfSegment(
      orders: DataFrame,
      customer: DataFrame,
      segment: String = "BUILDING"): DataFrame =
    orders
      .join(
        broadcastIfSmall(customer.filter(col("c_mktsegment") === segment)
          .select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(money("o_totalprice")).cast("double").as("total"))
      .transform(Par.sortSmall(col("o_orderstatus")))

  /** Discounted revenue as exact DECIMAL: (18,2) price × (4,2) discount
    * factor keeps 4 decimal places — no double rounding until the final
    * output cast.
    */
  private def discRevenue =
    money("l_extendedprice") *
      (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))

  /** TPC-H Q6-shaped revenue forecast: a single filtered scan with every
    * predicate pushed to parquet (shipdate range, discount band, quantity
    * cap) and one partial+final aggregate — the canonical
    * pushdown-or-bust query. Discount is compared through DECIMAL(4,2) on
    * both engines so the band edges (0.02, 0.06) are exact, not
    * double-noise.
    */
  def forecastRevenue(li: DataFrame): DataFrame =
    li.filter(
        col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").cast("decimal(4,2)")
          .between(lit(0.02).cast("decimal(4,2)"), lit(0.06).cast("decimal(4,2)")) &&
        col("l_quantity") < 24)
      .agg(
        sum(money("l_extendedprice") * col("l_discount").cast("decimal(4,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q8-shaped market share: the fraction of a region's PROMO
    * revenue supplied by one nation, per order year. Topology: ONE
    * lineitem⋈orders shuffle; part (filtered to the type), the
    * region-gated customer→nation branch, and the supplier→nation flag
    * branch all hang off it as (size-gated) broadcasts. The share is
    * EXACT integer arithmetic — revenues are summed as DECIMAL, scaled to
    * 1e-4 units, and divided with `div` (a double ratio + round(_, 4)
    * sits at the half-ulp boundary and engines legitimately disagree
    * there).
    */
  def marketShare(
      lineitem: DataFrame,
      orders: DataFrame,
      customer: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      region: DataFrame,
      part: DataFrame,
      suppNation: String = "NATION_2",
      mktRegion: String = "ASIA",
      pType: String = "PROMO"): DataFrame = {
    val regionCust = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === mktRegion)
        .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppFlag = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"),
        (col("n_name") === suppNation).as("is_target_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("is_target_nation"))
    lineitem
      .join(broadcast(part.filter(col("p_type") === pType)
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcastIfSmall(regionCust), col("o_custkey") === col("c_custkey"),
        "left_semi")
      .join(broadcastIfSmall(suppFlag), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (sum(when(col("is_target_nation"), discRevenue)
          .otherwise(lit(0).cast("decimal(18,2)"))) * 10000).cast("long")
          .as("nation_rev_e4"),
        (sum(discRevenue) * 10000).cast("long").as("total_rev_e4"))
      .select(col("o_year"),
        expr("(nation_rev_e4 * 10000) div total_rev_e4").as("mkt_share_e4"),
        (col("total_rev_e4").cast("double") / 1e4).as("total_revenue"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q10-shaped returned-item report: top-k customers by revenue
    * lost to returns in a quarter. lineitem⋈orders is the one big
    * shuffle; the customer+nation attributes join AFTER the aggregate
    * (group on the key alone, then decorate) so the shuffle carries the
    * grouping key and revenue only — at 100 TB the difference between
    * shuffling 2 columns and shuffling the customer row is the job.
    */
  def returnedItems(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      nation: DataFrame,
      k: Int = 20): DataFrame = {
    val lost = lineitem.filter(col("l_returnflag") === "R")
      .join(orders
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(discRevenue).cast("double").as("revenue"))
    lost
      .join(broadcastIfSmall(customer.select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"),
        col("n_name"), col("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(k)
  }

  /** TPC-H Q13-shaped order-count distribution: how many customers
    * placed exactly N orders. A left-outer fact join (zero-order
    * customers must survive as c_count = 0) feeding two stacked
    * aggregates — the second groups on the first's OUTPUT (a few dozen
    * distinct counts), so it is a near-free shuffle regardless of scale.
    */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  /** TPC-H Q14-shaped promo share: percentage of a month's revenue from
    * PROMO-type parts. Same exact-integer share arithmetic as
    * [[marketShare]]; part is a broadcast dim, lineitem is pre-filtered
    * by the pushed shipdate range before the join.
    */
  def promoShare(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-03-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .join(broadcast(part.select(col("p_partkey"),
        (col("p_type") === "PROMO").as("is_promo"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("is_promo"), discRevenue)
          .otherwise(lit(0).cast("decimal(18,2)"))) * 10000).cast("long")
          .as("promo_rev_e4"),
        (sum(discRevenue) * 10000).cast("long").as("total_rev_e4"))
      .select(
        expr("(promo_rev_e4 * 1000000) div total_rev_e4").as("promo_share_e6"),
        (col("promo_rev_e4").cast("double") / 1e4).as("promo_revenue"),
        (col("total_rev_e4").cast("double") / 1e4).as("total_revenue"))

  /** TPC-H Q19-shaped disjunctive predicate join: three OR'd
    * brand/size/quantity branches that mix part-side and lineitem-side
    * columns. The part side still prunes to its brand set before the
    * (broadcast) join; the residual OR evaluates post-join inside
    * codegen. One output row.
    */
  def disjunctiveRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#15"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(
        sum(discRevenue).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q21-shaped waiting suppliers, reformulated for scale:
    * suppliers who were the ONLY late shipper on a multi-supplier order.
    * The textbook form is a correlated EXISTS + NOT EXISTS pair (the
    * oracle runs exactly that); here both subqueries collapse into a
    * per-(order, supplier) aggregate followed by an unordered window over
    * the order key — n_supps and n_late_supps — so the fact table is
    * scanned ONCE and shuffled twice on the order key, with no self-join
    * recomputing the lineitem⋈orders branch. "Late" = shipped more than
    * 60 days after the order date.
    */
  def waitingSuppliers(
      lineitem: DataFrame,
      orders: DataFrame,
      supplier: DataFrame,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    val perSupplierOrder = lines
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("is_late")).as("supp_late"),
        sum(when(col("is_late"), 1L).otherwise(0L)).as("n_late_lines"))
    val wOrder = Window.partitionBy(col("l_orderkey"))
    perSupplierOrder
      .withColumn("n_supps", count(lit(1)).over(wOrder))
      .withColumn("n_late_supps",
        sum(when(col("supp_late"), 1L).otherwise(0L)).over(wOrder))
      .filter(col("supp_late") && col("n_supps") > 1 &&
        col("n_late_supps") === 1)
      // supplier scales with the fact data (TPC-H 10k × sf): size-gate the
      // broadcast hint like every other fact-scaling side
      .join(broadcastIfSmall(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_lines")).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(k)
  }

  /** TPC-H Q22-shaped lapsed high-balance customers: above-average
    * balance, no order since the cutoff — a scalar subquery (1-row
    * broadcast threshold) plus an anti join against the recent-order key
    * set, then a per-segment aggregate. The average is EXACT integer
    * cents (`sum div count`), so the threshold comparison can never
    * straddle a double ulp between engines.
    */
  def lapsedHighBalance(
      customer: DataFrame,
      orders: DataFrame,
      since: String = "2000-01-01 00:00:00"): DataFrame = {
    val cents = (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    val avgPosCents = customer.filter(col("c_acctbal") > 0)
      .agg(sum(cents).as("c"), count(lit(1)).as("n"))
      .select(expr("c div n").as("avg_cents"))
    val recent = orders
      .filter(col("o_orderdate") >= lit(since).cast("timestamp"))
      .select(col("o_custkey")).distinct()
    customer
      .join(broadcast(avgPosCents))
      .filter(cents > col("avg_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(money("c_acctbal")).cast("double").as("total_bal"))
      .transform(Par.sortSmall(col("c_mktsegment")))
  }

  /** Market-basket pair mining: co-occurring part pairs within an order
    * (the A-priori first rung every recommendation pipeline computes),
    * with support, per-part order counts, and lift.
    *
    * Shape at 100 TB: the pair explosion is a SELF-equi-join on
    * l_orderkey — cost is Σ per-order C(k,2), linear in the fact table
    * when basket sizes are bounded (TPC-H orders hold ≤ 7 lines; a
    * pathological mega-basket would need a per-key cap upstream, which
    * [[graft.ops.Skew]]'s salting diagnostics would surface). The pair
    * aggregate combines map-side; the per-part count table is
    * part-dimension-sized and size-gated for broadcast; the global order
    * count rides a 1-row broadcast. Top-k via TakeOrderedAndProject,
    * never a global sort.
    *
    * Lift determinism: support·n_orders·1e4 and cnt_a·cnt_b are exact
    * integers well under 2^53 at any SF this repo runs (widen both to
    * DECIMAL(38,0) before the division at warehouse scale); ONE double
    * division + floor is IEEE-identical on both engines.
    */
  /** Per-order part SETS — the shared first stage of [[basketPairs]] and
    * [[Graph.triangleCount]]. ONE exchange on the order key replaces the
    * distinct-then-self-join formulation's three (distinct exchange +
    * re-exchange of both self-join sides): pair enumeration then happens
    * ROW-LOCALLY on the sorted set via an indexed `transform` — C(k,2)
    * structs per basket, linear in the fact table while basket sizes are
    * bounded (TPC-H ≤ 7 lines; a mega-basket guard would cap `pks` with
    * `slice` here). Measured at sf0.1: 2.6 s → ~1.5 s warm for the pair
    * queries.
    */
  def orderPartSets(lineitem: DataFrame): DataFrame =
    // Par.widen: collect_set over a 1-row-group scan otherwise runs its
    // whole map side (and the downstream C(k,2) pair explode) on ONE task
    Par.widen(lineitem, col("l_orderkey"))
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))

  private def explodedPairs(sets: DataFrame): DataFrame =
    sets.select(explode(expr(
      """flatten(transform(pks, (x, i) ->
        |  transform(slice(pks, i + 2, size(pks)), y -> struct(x AS u, y AS v))))"""
        .stripMargin)).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))

  /** Co-occurring part pairs with support ≥ `minSupport` (u < v
    * canonical). Used by [[basketPairs]] and [[Graph.triangleCount]].
    */
  def partPairCounts(lineitem: DataFrame, minSupport: Long): DataFrame =
    explodedPairs(orderPartSets(lineitem))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

  def basketPairs(
      lineitem: DataFrame, minSupport: Long = 2, k: Int = 100): DataFrame = {
    // three consumers (pairs, per-part counts, order count) share the one
    // ok-exchange via a lazy persist — Bench/Verify clear the pool
    val sets = orderPartSets(lineitem)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = explodedPairs(sets)
      .groupBy(col("u").as("part_a"), col("v").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val counts = sets.select(explode(col("pks")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    val nOrders = sets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcastIfSmall(counts.select(col("pk").as("part_a"), col("cnt").as("cnt_a"))), "part_a")
      .join(broadcastIfSmall(counts.select(col("pk").as("part_b"), col("cnt").as("cnt_b"))), "part_b")
      .join(broadcast(nOrders))
      .withColumn("lift_e4",
        floor(lit(10000.0) * col("support") * col("n_orders") /
          (col("cnt_a") * col("cnt_b"))).cast("long"))
      .select(col("part_a"), col("part_b"), col("support"),
        col("cnt_a"), col("cnt_b"), col("lift_e4"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** ASSOCIATION RULES — the directed reading of [[basketPairs]]
    * (Agrawal & Srikant, VLDB'94): for each frequent pair, both rules
    * A→B and B→A with CONFIDENCE support/cnt(A) — the actionable number
    * ("customers holding A buy B 62% of the time") that the symmetric
    * lift can't give. Confidence is one exact integer division; lift is
    * the established floor-e4 double (identical expression both
    * engines). Top `k` by confidence.
    *
    * Shape at 100 TB: identical to [[basketPairs]] — the one basket
    * collapse is shared (persisted), the direction flip is a union of
    * the PAIR frame (already support-pruned), item counts broadcast.
    */
  def assocRules(
      lineitem: DataFrame, minSupport: Long = 2, k: Int = 100): DataFrame = {
    val sets = orderPartSets(lineitem)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = explodedPairs(sets)
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val counts = sets.select(explode(col("pks")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    val nOrders = sets.agg(count(lit(1)).as("n_orders"))
    // direction flip is a ROW-LOCAL explode of each pair into its two
    // rules, not a unionAll of two projections: the union form planned
    // the (unpersisted) pair aggregate subtree TWICE, and profiling
    // showed the corpus-scale C(k,2) basket explode executing twice
    // (two identical 1.2M-record stages at sf0.1) — one per branch
    val directed = pairs
      .select(explode(array(
        struct(col("u").as("antecedent"), col("v").as("consequent")),
        struct(col("v").as("antecedent"), col("u").as("consequent"))))
        .as("d"), col("support"))
      .select(col("d.antecedent").as("antecedent"),
        col("d.consequent").as("consequent"), col("support"))
    directed
      .join(broadcastIfSmall(counts.select(col("pk").as("antecedent"),
        col("cnt").as("cnt_ante"))), "antecedent")
      .join(broadcastIfSmall(counts.select(col("pk").as("consequent"),
        col("cnt").as("cnt_cons"))), "consequent")
      .join(broadcast(nOrders))
      .withColumn("conf_e4", expr("support * 10000 div cnt_ante"))
      .withColumn("lift_e4",
        floor(lit(10000.0) * col("support") * col("n_orders") /
          (col("cnt_ante") * col("cnt_cons"))).cast("long"))
      .select(col("antecedent"), col("consequent"), col("support"),
        col("cnt_ante"), col("conf_e4"), col("lift_e4"))
      .orderBy(col("conf_e4").desc, col("antecedent"), col("consequent"))
      .limit(k)
  }

  /** FREQUENT TRIPLES by A-PRIORI levelwise mining (Agrawal & Srikant,
    * VLDB 1994) — the third itemset level [[basketPairs]]/[[assocRules]]
    * stop short of. The naive 3-way basket self-join is O(Σ |basket|³);
    * the levelwise shape bounds every stage by FREQUENT sub-patterns:
    *
    *  1. L2 = the support-pruned pair frame (the SHARED co-purchase
    *     pair graph — the graph family's cached first stage, reused);
    *  2. candidates C3 = L2 ⋈ L2 on the shared first item, plus the
    *     A-priori prune (the third 2-subset (q, r) must also be in L2)
    *     — LOSSLESS: a triple's support is ≤ each pair's support, so
    *     nothing a final HAVING would keep is pruned;
    *  3. verification gates the per-order pair stream by L2 (semi-join)
    *     BEFORE extending with a third in-order item, and gates the
    *     extension by C3 before counting — infrequent junk never rides
    *     an exchange.
    *
    * Exact integer supports; total ORDER BY. At 100 TB every gate is a
    * key-partitioned semi-join (AQE broadcasts C3/L2 when they fit,
    * which is the common case after pruning); the basket collapse is
    * the one corpus-scale exchange, shared with the pair family.
    */
  def frequentTriples(
      lineitem: DataFrame,
      pairs: DataFrame,
      minSupport: Long = 2): DataFrame = {
    val l2 = pairs.select(col("u"), col("v"))
    val cands = l2.select(col("u").as("p"), col("v").as("q"))
      .join(l2.select(col("u").as("p"), col("v").as("r")), "p")
      .filter(col("q") < col("r"))
      .join(l2.select(col("u").as("q"), col("v").as("r")),
        Seq("q", "r"), "left_semi")
    val sets = orderPartSets(lineitem)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val opairs = sets
      .select(col("ok"), explode(expr(
        """flatten(transform(pks, (x, i) ->
          |  transform(slice(pks, i + 2, size(pks)), y -> struct(x AS u, y AS v))))"""
          .stripMargin)).as("pr"))
      .select(col("ok"), col("pr.u").as("p"), col("pr.v").as("q"))
      .join(l2.select(col("u").as("p"), col("v").as("q")),
        Seq("p", "q"), "left_semi")
    val third = sets.select(col("ok"), explode(col("pks")).as("r"))
    opairs.join(third, "ok")
      .filter(col("q") < col("r"))
      .join(cands, Seq("p", "q", "r"), "left_semi")
      .groupBy(col("p"), col("q"), col("r"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(desc("support"), col("p"), col("q"), col("r"))
  }

  /** DuckDB twin of [[frequentTriples]] — the NAIVE 3-way basket join
    * with the same HAVING; levelwise pruning is lossless (see scaladoc),
    * so the naive form IS the specification.
    */
  def frequentTriplesOracleSql(minSupport: Long = 2): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
       |SELECT a.pk AS p, b.pk AS q, c.pk AS r, count(*)::BIGINT AS support
       |FROM items a
       |JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |JOIN items c ON b.ok = c.ok AND b.pk < c.pk
       |GROUP BY 1, 2, 3 HAVING count(*) >= $minSupport
       |ORDER BY support DESC, p, q, r""".stripMargin

  /** DuckDB twin of [[assocRules]]. */
  def assocRulesOracleSql(minSupport: Long = 2, k: Int = 100): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pairs AS (
       |  SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS support
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |counts AS (SELECT pk, count(*)::BIGINT AS cnt FROM items GROUP BY 1),
       |total AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM items),
       |directed AS (
       |  SELECT u AS antecedent, v AS consequent, support FROM pairs
       |  UNION ALL SELECT v, u, support FROM pairs)
       |SELECT antecedent, consequent, support, ca.cnt AS cnt_ante,
       |  (support * 10000 // ca.cnt)::BIGINT AS conf_e4,
       |  floor(10000.0 * support * n_orders / (ca.cnt * cc.cnt))::BIGINT
       |    AS lift_e4
       |FROM directed
       |JOIN counts ca ON ca.pk = antecedent
       |JOIN counts cc ON cc.pk = consequent
       |CROSS JOIN total
       |ORDER BY conf_e4 DESC, antecedent, consequent LIMIT $k""".stripMargin

  /** EXACT GINI COEFFICIENT of per-customer revenue — the single-number
    * inequality readout behind [[revenueConcentration]]'s curve (and,
    * on a corpus, "how skewed is the token mass across domains").
    * Computed EXACTLY on the VALUE DOMAIN: for revenue value x with
    * count c and cumulative count B below it, the sorted-rank identity
    *   Σᵢ (2i − n − 1)·xᵢ = Σ_x x·c·(2B + c − n)
    * turns the classic rank formula into one pass over distinct values —
    * no row sort, no rank window over the customer dimension, and the
    * e6 readout is a single integer division (ties contribute
    * identically under any tie order, so the identity is exact).
    */
  def giniCoefficient(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = orders.groupBy(col("o_custkey"))
      .agg(sum((money("o_totalprice") * 100).cast("long")).as("x"))
    val stats = per.agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"))
    val dom = per.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(stats))
      .select(expr(
        "cast(x as decimal(38,0)) * c * (2 * (cum - c) + c - n)").as("term"),
        col("n"), col("s"))
    dom.groupBy(col("n"), col("s"))
      .agg(sum(col("term")).as("num"))
      .select(col("n").as("n_customers"), col("s").as("total_cents"),
        expr("num * 1000000 div nullif(cast(n as decimal(38,0)) * s, 0)")
          .as("gini_e6"))
  }

  /** DuckDB twin of [[giniCoefficient]]. */
  def giniCoefficientOracleSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS x
      |  FROM orders GROUP BY 1),
      |stats AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s FROM per),
      |dom AS (
      |  SELECT x, count(*)::BIGINT AS c,
      |    sum(count(*)) OVER (ORDER BY x)::BIGINT AS cum
      |  FROM per GROUP BY x)
      |SELECT n AS n_customers, s AS total_cents,
      |  (sum(x::HUGEINT * c * (2 * (cum - c) + c - n)) * 1000000
      |    // nullif(n::HUGEINT * s, 0))::BIGINT AS gini_e6
      |FROM dom CROSS JOIN stats GROUP BY n, s""".stripMargin

  /** REFERENTIAL-INTEGRITY AUDIT across the star schema's FK edges —
    * the first data-quality gate a warehouse load runs: per foreign-key
    * edge, how many child rows exist, how many DISTINCT child keys, and
    * how many child rows point at a parent that does not exist
    * (orphans), with nulls counted separately (a null FK is a modeling
    * decision; a dangling one is corruption). Audits the four spine
    * edges lineitem→orders, lineitem→part, orders→customer,
    * customer→nation.
    *
    * Shape at 100 TB: each edge is ONE left-anti join of the child's
    * key projection against the parent's key dimension (parent sides
    * broadcast when small; an anti join never inflates rows) plus one
    * child-side aggregate — no edge ever joins fact×fact. All counts
    * exact integers.
    */
  def fkOrphans(
      lineitem: DataFrame,
      orders: DataFrame,
      customer: DataFrame,
      part: DataFrame,
      nation: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    def edge(tag: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame = {
      val keys = child.select(col(childKey).as("k"))
      val stats = keys.agg(
        count(lit(1)).as("n_child_rows"),
        countDistinct(col("k")).as("n_child_keys"),
        // coalesce: on an EMPTY child sum() is NULL while the oracle's
        // filtered count(*) reads 0 — the null-where-contract-says-count
        // bug class the empty-input sweep exists to catch
        coalesce(sum(when(col("k").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_null"))
      val orphans = keys.filter(col("k").isNotNull)
        .join(parent.select(col(parentKey).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_rows"),
          countDistinct(col("k")).as("n_orphan_keys"))
      stats.crossJoin(broadcast(orphans))
        .select(lit(tag).as("fk_edge"), col("n_child_rows"),
          col("n_child_keys"), col("n_null"), col("n_orphan_rows"),
          col("n_orphan_keys"))
    }
    edge("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
        orders, "o_orderkey")
      .unionByName(edge("lineitem.l_partkey->part", lineitem, "l_partkey",
        part, "p_partkey"))
      .unionByName(edge("orders.o_custkey->customer", orders, "o_custkey",
        customer, "c_custkey"))
      .unionByName(edge("customer.c_nationkey->nation", customer,
        "c_nationkey", nation, "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  /** DuckDB twin of [[fkOrphans]] — the same four anti-join audits.
    * NOT EXISTS, never NOT IN: a single NULL parent key makes NOT IN
    * three-valued-logic its way to zero rows, silently reading "no
    * orphans" on exactly the corruption class this audit exists to
    * detect; NOT EXISTS is the faithful anti-join twin of the Spark
    * `left_anti` side.
    */
  def fkOrphansOracleSql: String = {
    def edge(tag: String, child: String, childKey: String,
        parent: String, parentKey: String): String =
      s"""SELECT '$tag' AS fk_edge,
         |  (SELECT count(*) FROM $child)::BIGINT AS n_child_rows,
         |  (SELECT count(DISTINCT $childKey) FROM $child)::BIGINT
         |    AS n_child_keys,
         |  (SELECT count(*) FROM $child WHERE $childKey IS NULL)::BIGINT
         |    AS n_null,
         |  (SELECT count(*) FROM $child
         |   WHERE $childKey IS NOT NULL AND NOT EXISTS
         |     (SELECT 1 FROM $parent
         |      WHERE $parent.$parentKey = $child.$childKey))::BIGINT
         |    AS n_orphan_rows,
         |  (SELECT count(DISTINCT $childKey) FROM $child
         |   WHERE $childKey IS NOT NULL AND NOT EXISTS
         |     (SELECT 1 FROM $parent
         |      WHERE $parent.$parentKey = $child.$childKey))::BIGINT
         |    AS n_orphan_keys"""
        .stripMargin
    Seq(
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      edge("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  /** THEIL INDEX with within/between decomposition — the inequality
    * statistic [[giniCoefficient]] cannot decompose: Theil's T is the
    * only standard inequality measure that splits ADDITIVELY into a
    * between-group and a within-group share (Theil 1967), which is the
    * question a marketplace team actually asks ("is spend inequality a
    * nation-mix effect or within-nation concentration?"). Customer
    * spend x_i in exact cents, groups = customer nation:
    *   T       = Σ_i (x_i/X)·ln(x_i·n/X)
    *   T_betw  = Σ_g (X_g/X)·ln(X_g·n/(X·n_g))
    *   T_within := T − T_betw  (the decomposition identity, applied at
    * the quantized scale so the three reported numbers are consistent
    * BY CONSTRUCTION).
    *
    * Exactness: each ln term quantizes to e6 BEFORE the weighted sum
    * (micro-nat discipline, [[graft.ops.Graph.powerLawAlpha]]); weights
    * are exact cent counts in DECIMAL(38,0); the final divisions are
    * signed integer div — DuckDB `//` truncates toward zero exactly
    * like Spark `div` on all integers (round-10 finding). The per-value
    * collapse mirrors [[giniCoefficient]]'s value-domain trick, so no
    * row sort and no per-customer window.
    *
    * Shape at 100 TB: one fact collapse to the customer dimension, a
    * broadcast nation attach, then value-domain / nation-dimension
    * aggregates — nothing beyond the first groupBy is corpus-sized.
    */
  def theilDecomposition(orders: DataFrame, customer: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey"))
      .agg(sum((money("o_totalprice") * 100).cast("long")).as("x"))
      .join(broadcastIfSmall(customer.select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nation"))), "o_custkey")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = per.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val total = per.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(stats))
      .select(expr("""cast(x as decimal(38,0)) * c *
          |  CAST(round(ln(CAST(x AS DOUBLE) * n / s) * 1000000) AS BIGINT)"""
        .stripMargin).as("term"), col("n"), col("s"))
      .groupBy(col("n"), col("s"))
      .agg(sum(col("term")).as("tnum"))
      .select(col("n"), col("s"),
        expr("tnum div nullif(cast(s as decimal(38,0)), 0)")
          .cast("long").as("theil_e6"))
    val between = per.groupBy(col("nation"))
      .agg(sum(col("x")).as("xg"), count(lit(1)).as("ng"))
      .crossJoin(broadcast(stats))
      .select(expr("""cast(xg as decimal(38,0)) *
          |  CAST(round(ln(CAST(xg AS DOUBLE) * n / (CAST(s AS DOUBLE) * ng))
          |    * 1000000) AS BIGINT)""".stripMargin).as("term"),
        col("n"), col("s"))
      .groupBy(col("n"), col("s"))
      .agg(sum(col("term")).as("bnum"))
      .select(expr("bnum div nullif(cast(s as decimal(38,0)), 0)")
        .cast("long").as("between_e6"))
    total.crossJoin(broadcast(between))
      .select(col("n").as("n_customers"), col("s").as("total_cents"),
        col("theil_e6"), col("between_e6"),
        (col("theil_e6") - col("between_e6")).as("within_e6"))
  }

  /** ONE-WAY ANOVA F across nations on per-customer spend — the k-group
    * mean-difference test the shipped 2-arm tools (Welch t, Cohen's d,
    * Mann-Whitney) cannot run: "do the 25 nations differ in average
    * customer spend at all?" is one F statistic, not 300 pairwise
    * t-tests (which would need a multiplicity correction the single F
    * avoids). Reports F, its degrees of freedom, and η² (the share of
    * spend variance the nation factor explains — the effect size that
    * says whether a significant F matters).
    *
    * Exactness: group sums and squared sums are exact integers (cents);
    * each group's Sg²/ng quantizes to an integer PER GROUP before the
    * sum (order-free, micro-nat discipline), so SSB/SSW/SST are exact
    * integer arithmetic on those terms; F is one shared double literal
    * (e4), η² one integer division (e6).
    *
    * Shape: one fact collapse to customers, broadcast nation attach,
    * nation-dimension aggregates, 1-row statistic.
    */
  def anovaF(orders: DataFrame, customer: DataFrame): DataFrame = {
    // WHOLE-DOLLAR units (cents div 100, floor — identical truncation in
    // both engines): at cent scale the per-group Sg^2/ng terms pass 1e19
    // at sf0.1 and overflow BIGINT; dollars keep every term comfortably
    // inside, and the F statistic is scale-invariant anyway
    val per = orders.groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) div 100")
        .as("x"))
      .join(broadcastIfSmall(customer.select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nation"))), "o_custkey")
    val groups = per.groupBy(col("nation"))
      .agg(sum(col("x")).as("sg"), count(lit(1)).as("ng"))
      .select(
        expr("CAST(round(CAST(sg AS DOUBLE) * sg / ng) AS BIGINT)").as("t"),
        col("sg"), col("ng"))
    groups.agg(
        count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("sg")).as("s"),
        sum(col("t")).as("sum_t"))
      .crossJoin(broadcast(per.agg(
        sum((col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)"))
          .as("sxx"))))
      .select(col("k"), col("n"),
        expr("sum_t - CAST(round(CAST(s AS DOUBLE) * s / n) AS BIGINT)")
          .as("ssb"),
        expr("CAST(sxx - sum_t AS DECIMAL(38,0))").cast("long").as("ssw"))
      .select(col("k"), col("n"), col("ssb"), col("ssw"),
        expr("""CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
               |  CAST(round((CAST(ssb AS DOUBLE) / (k - 1))
               |    / (CAST(ssw AS DOUBLE) / (n - k)) * 10000) AS BIGINT)
               |END""".stripMargin).as("f_e4"),
        expr("""CASE WHEN ssb + ssw > 0 THEN
               |  CAST(CAST(ssb AS DECIMAL(38,0)) * 1000000 div (ssb + ssw)
               |    AS BIGINT)
               |END""".stripMargin).as("eta2_e6"))
  }

  /** KRUSKAL–WALLIS H across nations on per-customer spend — the
    * rank-based k-group test completing the inference quadrant:
    * [[graft.ops.Analytics.mannWhitney]] is the 2-arm rank test,
    * [[anovaF]] the parametric k-group test; KW is what a heavy-tailed
    * spend distribution actually calls for (ANOVA's F leans on
    * normality that cents data violates). ×2 mid-ranks over the global
    * spend value domain ([[Scan.midRank2]]),
    * H = 3·Σ_g(R2_g²/n_g)/(n(n+1)) − 3(n+1) on the doubled
    * ranks, divided by the tie correction 1 − Σ(t³−t)/(n³−n).
    *
    * Exactness: rank sums and the tie polynomial are exact integers;
    * each group's R2_g²/n_g quantizes per group before the sum; H and
    * the correction are one shared double literal (e4).
    *
    * Shape: one fact collapse, broadcast nation attach, a value-domain
    * rank window, nation-dimension aggregates, 1-row statistic.
    */
  def kruskalWallis(orders: DataFrame, customer: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey"))
      .agg(sum((money("o_totalprice") * 100).cast("long")).as("x"))
      .join(broadcastIfSmall(customer.select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nation"))), "o_custkey")
    val ranks = Scan.midRank2(
      per.groupBy(col("x")).agg(count(lit(1)).as("cnt")), "x", "cnt", "r2")
    val groups = per.join(ranks.select(col("x"), col("r2")), "x")
      .groupBy(col("nation"))
      .agg(sum(col("r2")).as("r2g"), count(lit(1)).as("ng"))
      .select(expr("CAST(round(CAST(r2g AS DOUBLE) * r2g / ng) AS BIGINT)")
        .as("t"), col("ng"))
    val ties = ranks.agg(coalesce(
      sum(expr("cnt * cnt * cnt - cnt")), lit(0L)).as("tie_poly"))
    groups.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("t")).as("sum_t"))
      .crossJoin(broadcast(ties))
      .select(col("k"), col("n"), col("tie_poly"),
        expr("""CASE WHEN n > k AND k > 1
               |  AND n * n * n - n > tie_poly THEN
               |  CAST(round((3.0 * sum_t / (CAST(n AS DOUBLE) * (n + 1))
               |      - 3.0 * (n + 1))
               |    / (1.0 - CAST(tie_poly AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n))
               |    * 10000) AS BIGINT)
               |END""".stripMargin).as("h_e4"))
  }

  /** DuckDB twin of [[kruskalWallis]] — identical ×2 mid-ranks,
    * per-group quantization, and shared H literal.
    */
  def kruskalWallisOracleSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS x,
      |    any_value(c_nationkey) AS nation
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1),
      |ranks AS (
      |  SELECT x, cnt,
      |    2 * coalesce(sum(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS r2
      |  FROM (SELECT x, count(*)::BIGINT AS cnt FROM per GROUP BY x)),
      |grp AS (
      |  SELECT CAST(round(r2g::DOUBLE * r2g / ng) AS BIGINT) AS t, ng
      |  FROM (SELECT nation, sum(r2)::BIGINT AS r2g, count(*)::BIGINT AS ng
      |        FROM per JOIN ranks USING (x) GROUP BY nation)),
      |tp AS (SELECT coalesce(sum(cnt * cnt * cnt - cnt), 0)::BIGINT
      |         AS tie_poly FROM ranks),
      |g AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
      |        sum(t)::BIGINT AS sum_t FROM grp)
      |SELECT k, n, tie_poly,
      |  (CASE WHEN n > k AND k > 1 AND n * n * n - n > tie_poly THEN
      |    CAST(round((3.0 * sum_t / (n::DOUBLE * (n + 1)) - 3.0 * (n + 1))
      |      / (1.0 - tie_poly::DOUBLE / (n::DOUBLE * n * n - n))
      |      * 10000) AS BIGINT)
      |  END) AS h_e4
      |FROM g CROSS JOIN tp""".stripMargin

  /** DuckDB twin of [[anovaF]] — identical per-group quantization and
    * shared F literal.
    */
  def anovaFOracleSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    (sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT) // 100)::BIGINT
      |      AS x,
      |    any_value(c_nationkey) AS nation
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1),
      |grp AS (
      |  SELECT CAST(round(sg::DOUBLE * sg / ng) AS BIGINT) AS t, sg, ng
      |  FROM (SELECT nation, sum(x)::BIGINT AS sg, count(*)::BIGINT AS ng
      |        FROM per GROUP BY 1)),
      |g AS (
      |  SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
      |    sum(sg)::BIGINT AS s, sum(t)::BIGINT AS sum_t
      |  FROM grp),
      |xx AS (SELECT sum(x::HUGEINT * x) AS sxx FROM per),
      |parts AS (
      |  SELECT k, n,
      |    (sum_t - CAST(round(s::DOUBLE * s / n) AS BIGINT))::BIGINT AS ssb,
      |    CAST(sxx - sum_t AS BIGINT) AS ssw
      |  FROM g CROSS JOIN xx)
      |SELECT k, n, ssb, ssw,
      |  (CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
      |    CAST(round((ssb::DOUBLE / (k - 1))
      |      / (ssw::DOUBLE / (n - k)) * 10000) AS BIGINT)
      |  END) AS f_e4,
      |  (CASE WHEN ssb + ssw > 0 THEN
      |    ssb::HUGEINT * 1000000 // (ssb + ssw) END)::BIGINT AS eta2_e6
      |FROM parts""".stripMargin

  /** DuckDB twin of [[theilDecomposition]] — identical per-term e6
    * quantization, HUGEINT weighted sums, truncating division.
    */
  def theilDecompositionOracleSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS x,
      |    any_value(c_nationkey) AS nation
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1),
      |stats AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s FROM per),
      |tot AS (
      |  SELECT n, s,
      |    (sum(x::HUGEINT * c *
      |       CAST(round(ln(x::DOUBLE * n / s) * 1000000) AS BIGINT))
      |     // nullif(s::HUGEINT, 0))::BIGINT AS theil_e6
      |  FROM (SELECT x, count(*)::BIGINT AS c FROM per GROUP BY x)
      |  CROSS JOIN stats GROUP BY n, s),
      |betw AS (
      |  SELECT (sum(xg::HUGEINT *
      |       CAST(round(ln(xg::DOUBLE * n / (s::DOUBLE * ng)) * 1000000)
      |         AS BIGINT))
      |     // nullif(s::HUGEINT, 0))::BIGINT AS between_e6
      |  FROM (SELECT nation, sum(x)::BIGINT AS xg, count(*)::BIGINT AS ng
      |        FROM per GROUP BY 1)
      |  CROSS JOIN stats GROUP BY n, s)
      |SELECT n AS n_customers, s AS total_cents, theil_e6, between_e6,
      |  (theil_e6 - between_e6)::BIGINT AS within_e6
      |FROM tot CROSS JOIN betw""".stripMargin

  /** TIME-DECAYED POPULARITY — the freshness-aware item ranking every
    * recommender front page runs: a part's score is its demand count
    * convolved with an exponential decay over WEEK age, here the exact
    * rational (3/4)^age carried as integer weights 3^age·4^(16−age)
    * (the [[ewmaTrend]] discipline — no floating pow, truncated at 16
    * weeks where <1% of the mass survives). A part selling hard THIS
    * week beats a part that sold harder four months ago; raw counts
    * can't see the difference.
    *
    * Shape at 100 TB: one (part, week-age) collapse, a 17-row broadcast
    * weight grid, one part aggregate, TakeOrdered top-k.
    */
  def decayedPopularity(lineitem: DataFrame, k: Int = 50): DataFrame = {
    val depth = 16
    val weights = (0 to depth).map(a =>
      (a.toLong, BigInt(3).pow(a).toLong * BigInt(4).pow(depth - a).toLong))
    val spark = lineitem.sparkSession
    val grid = spark.createDataFrame(weights).toDF("age", "w")
    val mx = lineitem.agg(max(to_date(col("l_shipdate"))).as("mxd"))
    lineitem
      .crossJoin(broadcast(mx))
      .groupBy(col("l_partkey"),
        least(lit(depth.toLong),
          floor(datediff(col("mxd"), to_date(col("l_shipdate"))) / 7)
            .cast("long")).as("age"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(grid), "age")
      .groupBy(col("l_partkey"))
      .agg(
        sum(col("cnt")).as("raw_cnt"),
        sum(col("cnt").cast("decimal(38,0)") * col("w"))
          .cast("decimal(38,0)").as("decayed"))
      .select(col("l_partkey"), col("raw_cnt"),
        col("decayed").cast("long").as("decayed_w"))
      .orderBy(desc("decayed_w"), col("l_partkey"))
      .limit(k)
  }

  /** DuckDB twin of [[decayedPopularity]]. */
  def decayedPopularityOracleSql(k: Int = 50): String = {
    val depth = 16
    val grid = (0 to depth).map(a =>
      s"($a, ${BigInt(3).pow(a).toLong * BigInt(4).pow(depth - a).toLong})")
      .mkString(", ")
    s"""WITH mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS mxd
       |            FROM lineitem),
       |grid AS (SELECT * FROM (VALUES $grid) t(age, w)),
       |aged AS (
       |  SELECT l_partkey,
       |    least($depth, date_diff('day', CAST(l_shipdate AS DATE), mxd)
       |      // 7)::BIGINT AS age,
       |    count(*)::BIGINT AS cnt
       |  FROM lineitem CROSS JOIN mx GROUP BY 1, 2)
       |SELECT l_partkey, sum(cnt)::BIGINT AS raw_cnt,
       |  sum(cnt::HUGEINT * w)::BIGINT AS decayed_w
       |FROM aged JOIN grid USING (age)
       |GROUP BY l_partkey
       |ORDER BY decayed_w DESC, l_partkey LIMIT $k""".stripMargin
  }

  /** RECOMMENDATION COVERAGE METRICS — the health readout over
    * [[relatedItems]] a recsys team checks before shipping a model:
    * catalog coverage (what share of the catalog ever gets
    * recommended — low means a popularity trap), list count, and the
    * most-recommended item's frequency (the popularity-bias ceiling).
    * All exact integers over the recommendation frame.
    *
    * Shape: the recommendation build is [[relatedItems]] unchanged; the
    * metrics are two tiny aggregates over its output plus one distinct
    * count over the item dimension.
    */
  def recCoverage(
      lineitem: DataFrame, minSupport: Long = 2, topK: Int = 3): DataFrame = {
    // two consumers (the metrics aggregate + the frequency aggregate)
    // would otherwise each replay the full recommendation build — pin
    // the (pair-aggregated, small) rec frame once
    val recs = relatedItems(lineitem, minSupport, topK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val catalog = lineitem.agg(
      countDistinct(col("l_partkey")).as("n_catalog"))
    val freq = recs.groupBy(col("rec_part_id")).agg(count(lit(1)).as("f"))
    recs.groupBy(lit(1).as("_g"))
      .agg(
        countDistinct(col("part_id")).as("n_lists"),
        countDistinct(col("rec_part_id")).as("n_covered"),
        count(lit(1)).as("n_recs"))
      .drop("_g")
      .crossJoin(freq.groupBy(lit(1).as("_g"))
        .agg(max(col("f")).as("max_rec_freq")).drop("_g"))
      .crossJoin(broadcast(catalog))
      .select(col("n_catalog"), col("n_lists"), col("n_covered"),
        col("n_recs"),
        expr("n_covered * 10000 div nullif(n_catalog, 0)")
          .as("coverage_e4"),
        col("max_rec_freq"))
  }

  /** DuckDB twin of [[recCoverage]] — wraps the [[relatedItemsOracleSql]]
    * query so the recommendation build cannot drift from q_item_recs.
    */
  def recCoverageOracleSql(minSupport: Long = 2, topK: Int = 3): String =
    s"""WITH recs AS MATERIALIZED (
       |  SELECT * FROM (${relatedItemsOracleSql(minSupport, topK)}) r),
       |catalog AS (SELECT count(DISTINCT l_partkey)::BIGINT AS n_catalog
       |            FROM lineitem),
       |freq AS (SELECT rec_part_id, count(*)::BIGINT AS f
       |         FROM recs GROUP BY 1)
       |SELECT n_catalog,
       |  count(DISTINCT part_id)::BIGINT AS n_lists,
       |  count(DISTINCT rec_part_id)::BIGINT AS n_covered,
       |  count(*)::BIGINT AS n_recs,
       |  (count(DISTINCT rec_part_id) * 10000
       |    // nullif(n_catalog, 0))::BIGINT AS coverage_e4,
       |  (SELECT max(f) FROM freq)::BIGINT AS max_rec_freq
       |FROM recs CROSS JOIN catalog GROUP BY n_catalog""".stripMargin

  /** HERFINDAHL–HIRSCHMAN INDEX of supplier revenue per nation — the
    * antitrust-grade concentration scalar next to [[giniCoefficient]]
    * (Gini measures inequality of the whole distribution, HHI the
    * market power of the top): HHI = Σᵢ shareᵢ², on the standard 0–10000
    * basis-point scale. Exact: with supplier revenue rᵢ and nation total
    * T, HHI_bp = Σ rᵢ²·10⁴ div T² — one decimal division per nation,
    * no float shares. DOJ thresholds (1500/2500) are the standard
    * reading grid.
    *
    * Shape at 100 TB: fact collapses once to (nation, supplier) revenue;
    * the index is a nation-keyed aggregate over that dimension frame.
    */
  def hhiConcentration(
      lineitem: DataFrame, supplier: DataFrame, nation: DataFrame)
      : DataFrame = {
    val rev = lineitem
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum((money("l_extendedprice") * 100).cast("long")).as("r"))
    rev.groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("r")).as("total_cents"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("ss"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_suppliers"),
        col("total_cents"),
        expr("ss * 10000 div (cast(total_cents as decimal(38,0)) * total_cents)")
          .as("hhi_bp"))
      .transform(Par.sortSmall(col("nation")))
  }

  /** DuckDB twin of [[hhiConcentration]]. */
  def hhiConcentrationOracleSql: String =
    """WITH rev AS (
      |  SELECT s.s_nationkey, l.l_suppkey,
      |    sum((l.l_extendedprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS r
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT s_nationkey, count(*)::BIGINT AS n_suppliers,
      |    sum(r)::BIGINT AS total_cents,
      |    sum(r::HUGEINT * r) AS ss
      |  FROM rev GROUP BY 1)
      |SELECT n.n_name AS nation, a.n_suppliers, a.total_cents,
      |  (a.ss * 10000 // (a.total_cents::HUGEINT * a.total_cents))::BIGINT
      |    AS hhi_bp
      |FROM agg a JOIN nation n ON a.s_nationkey = n.n_nationkey
      |ORDER BY nation""".stripMargin

  /** PRICE ELASTICITY OF DEMAND per brand — the log-log OLS every
    * pricing team runs: slope of ln(quantity) on ln(unit price) across
    * a brand's line items (≈ −1 means revenue-neutral price moves).
    * The [[graft.ops.TextAnalysis.heapsLaw]] discipline keeps the fit
    * engine-exact: ln terms quantize to e6 INTEGERS per row, the five
    * OLS sums are exact decimal integer sums (order-free — a raw float
    * sum would drift with partial-aggregation order), and only the
    * final slope is one rounded double expression, identical in both
    * engines.
    *
    * Shape at 100 TB: one narrow row-local projection (two lns), one
    * brand-keyed 5-sum aggregate. Nothing else.
    */
  def priceElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val obs = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("""cast(round(ln(cast((cast(l_extendedprice as decimal(18,2))
          |  * 100) as bigint) div cast(l_quantity as bigint))
          |  * 1000000) as bigint)""".stripMargin).as("x"),
        expr("cast(round(ln(cast(l_quantity as double)) * 1000000) as bigint)")
          .as("y"))
    obs.groupBy(col("brand"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .selectExpr("brand", "n_obs",
        "CAST(round((CAST(n_obs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 10000) AS BIGINT) AS elasticity_e4")
      .transform(Par.sortSmall(col("brand")))
  }

  /** DuckDB twin of [[priceElasticity]]. */
  def priceElasticityOracleSql: String =
    """WITH obs AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(round(ln(((l.l_extendedprice::DECIMAL(18,2) * 100)::BIGINT
      |      // l.l_quantity::BIGINT)) * 1000000) AS BIGINT) AS x,
      |    CAST(round(ln(l.l_quantity::DOUBLE) * 1000000) AS BIGINT) AS y
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |s AS (
      |  SELECT brand, count(*)::BIGINT AS n_obs,
      |    sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
      |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
      |  FROM obs GROUP BY brand)
      |SELECT brand, n_obs,
      |  CAST(round((CAST(n_obs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 10000) AS BIGINT) AS elasticity_e4
      |FROM s ORDER BY brand""".stripMargin

  /** SEGMENT MIGRATION MATRIX — customer-base dynamics the static
    * [[rfmSegments]] snapshot can't show: bucket every customer's spend
    * in the FIRST and SECOND half of the observed date range into $500
    * bands (−1 = inactive that half) and count the (from, to)
    * transitions. Reads as "who upgraded, who churned, who arrived".
    * The half split lands on the midpoint date, computed exactly from
    * min/max order dates; every count and band edge is an integer.
    *
    * Shape at 100 TB: one 1-row min/max broadcast anchors the split,
    * one customer collapse carries both halves, the matrix is a ≤121-
    * row aggregate.
    */
  def segmentMigration(
      orders: DataFrame, bandCents: Int = 50000): DataFrame = {
    val mm = orders.agg(
      min(to_date(col("o_orderdate"))).as("mn"),
      max(to_date(col("o_orderdate"))).as("mx"))
    val per = orders.crossJoin(broadcast(mm))
      .withColumn("mid",
        expr("date_add(mn, cast(datediff(mx, mn) div 2 as int))"))
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(to_date(col("o_orderdate")) <= col("mid"),
          (money("o_totalprice") * 100).cast("long")).otherwise(0L))
          .as("s1"),
        sum(when(to_date(col("o_orderdate")) > col("mid"),
          (money("o_totalprice") * 100).cast("long")).otherwise(0L))
          .as("s2"),
        sum(when(to_date(col("o_orderdate")) <= col("mid"), 1L)
          .otherwise(0L)).as("n1"),
        sum(when(to_date(col("o_orderdate")) > col("mid"), 1L)
          .otherwise(0L)).as("n2"))
    per
      .select(
        when(col("n1") === 0L, lit(-1L))
          .otherwise(least(lit(9L), expr(s"s1 div $bandCents")))
          .as("band_from"),
        when(col("n2") === 0L, lit(-1L))
          .otherwise(least(lit(9L), expr(s"s2 div $bandCents")))
          .as("band_to"))
      .groupBy(col("band_from"), col("band_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("band_from"), col("band_to"))
  }

  /** DuckDB twin of [[segmentMigration]]. */
  def segmentMigrationOracleSql(bandCents: Int = 50000): String =
    s"""WITH mm AS (
       |  SELECT min(CAST(o_orderdate AS DATE)) AS mn,
       |    max(CAST(o_orderdate AS DATE)) AS mx
       |  FROM orders),
       |per AS (
       |  SELECT o_custkey,
       |    sum(CASE WHEN CAST(o_orderdate AS DATE) <= mid
       |        THEN (o_totalprice::DECIMAL(18,2) * 100)::BIGINT
       |        ELSE 0 END) AS s1,
       |    sum(CASE WHEN CAST(o_orderdate AS DATE) > mid
       |        THEN (o_totalprice::DECIMAL(18,2) * 100)::BIGINT
       |        ELSE 0 END) AS s2,
       |    sum(CASE WHEN CAST(o_orderdate AS DATE) <= mid THEN 1
       |        ELSE 0 END) AS n1,
       |    sum(CASE WHEN CAST(o_orderdate AS DATE) > mid THEN 1
       |        ELSE 0 END) AS n2
       |  FROM orders CROSS JOIN
       |    (SELECT mn + (date_diff('day', mn, mx) // 2)::INTEGER AS mid
       |     FROM mm) m
       |  GROUP BY o_custkey)
       |SELECT
       |  (CASE WHEN n1 = 0 THEN -1
       |        ELSE least(9, s1 // $bandCents) END)::BIGINT AS band_from,
       |  (CASE WHEN n2 = 0 THEN -1
       |        ELSE least(9, s2 // $bandCents) END)::BIGINT AS band_to,
       |  count(*)::BIGINT AS n_customers
       |FROM per GROUP BY 1, 2 ORDER BY band_from, band_to""".stripMargin

  /** RFM customer segmentation (recency / frequency / monetary), the
    * classic CRM cut — binned by EXACT quartile boundaries instead of a
    * global ntile: ntile over the customer dimension is a
    * single-partition sort (the shape [[Analytics.userValueRanks]]'s doc
    * warns about), while boundary binning is one customer-keyed
    * aggregate, a 1-row broadcast of the nine cutpoints, and a row-local
    * assignment — fully parallel at a 10^9-customer dimension. (At that
    * scale swap `percentile` for `approx_percentile`; the binning stays
    * identical.)
    *
    * Boundary determinism: the metrics are exact integers (days, counts,
    * summed cents) and the interpolation fractions are .25/.5/.75 —
    * dyadic rationals, so `a + frac·(b−a)` is EXACT in binary floating
    * point (no rounding anywhere) and Spark's `percentile` equals
    * DuckDB's `quantile_cont` bit-for-bit. Bucket rule: strictly-greater
    * than each boundary, ties stay in the lower bucket — recency scores
    * ascend (1 = most recent), frequency/monetary descend (1 = heaviest).
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("monetary_cents"))
    val refDate = orders.agg(max(col("o_orderdate")).as("ref_date"))
    val withR = per.join(broadcast(refDate))
      .withColumn("recency_days", datediff(col("ref_date"), col("last_order")).cast("long"))
    val bounds = withR.agg(
      expr("percentile(recency_days, array(0.25D, 0.5D, 0.75D))").as("rb"),
      expr("percentile(frequency, array(0.25D, 0.5D, 0.75D))").as("fb"),
      expr("percentile(monetary_cents, array(0.25D, 0.5D, 0.75D))").as("mb"))
    def above(m: Column, b: Column, i: Int): Column =
      (m.cast("double") > element_at(b, i)).cast("int")
    withR.join(broadcast(bounds))
      .withColumn("r",
        lit(1) + above(col("recency_days"), col("rb"), 1) +
          above(col("recency_days"), col("rb"), 2) +
          above(col("recency_days"), col("rb"), 3))
      .withColumn("f",
        lit(4) - above(col("frequency"), col("fb"), 1) -
          above(col("frequency"), col("fb"), 2) -
          above(col("frequency"), col("fb"), 3))
      .withColumn("m",
        lit(4) - above(col("monetary_cents"), col("mb"), 1) -
          above(col("monetary_cents"), col("mb"), 2) -
          above(col("monetary_cents"), col("mb"), 3))
      .groupBy(concat(col("r").cast("string"), col("f").cast("string"),
        col("m").cast("string")).as("segment"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("monetary_cents")).as("total_cents"),
        expr("sum(monetary_cents) div count(1)").as("avg_cents"))
      .orderBy(col("segment"))
  }

  /** Revenue-concentration (Lorenz) curve over the part catalog at OCTILE
    * resolution: how much of total revenue the top 12.5% / 25% / … of
    * parts hold — the Pareto readout behind "do a few SKUs carry the
    * business" (and, on a corpus, "do a few domains carry the tokens").
    *
    * Shape: collapse the fact table to per-part revenue (exact e4
    * integers through DECIMAL scale-4), then bin by BROADCAST octile
    * boundaries exactly like [[rfmSegments]] — no global rank over the
    * part dimension, which at warehouse scale is itself huge. The
    * cumulative share then rides a window over the EIGHT band rows.
    *
    * Octiles, not deciles, on purpose: 1/8-step fractions are dyadic, so
    * the percentile interpolation `a + g·(b−a)` is EXACT in binary
    * floating point and Spark/DuckDB cannot disagree at the last ulp the
    * way 0.1-step interpolation can (g = 0.3 is not representable; g =
    * 3/8 is). Band membership comparisons are therefore deterministic.
    */
  def revenueConcentration(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perPart = li.groupBy(col("l_partkey"))
      .agg((sum(money("l_extendedprice") *
        (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        * 10000).cast("long").as("rev_e4"))
    val bounds = perPart.agg(
      expr("percentile(rev_e4, array(0.125D, 0.25D, 0.375D, 0.5D, " +
        "0.625D, 0.75D, 0.875D))").as("bs"))
    val banded = perPart.join(broadcast(bounds))
      .withColumn("band",
        (lit(8) - (1 to 7).map(i =>
          (col("rev_e4").cast("double") > element_at(col("bs"), i)).cast("int"))
          .reduce(_ + _)).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev_e4")).as("revenue_e4"))
    banded
      .withColumn("cum_e4",
        sum(col("revenue_e4")).over(Window.orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_e4", sum(col("revenue_e4")).over(Window.partitionBy()))
      .select(col("band"), col("n_parts"), col("revenue_e4"),
        expr("cum_e4 * 10000 div total_e4").as("cum_share_e4"))
      .orderBy(col("band"))
  }

  /** TPC-H Q17-shaped small-quantity revenue: lines whose quantity is
    * below 20% of their PART's average quantity — the correlated-
    * aggregate threshold join (the remaining classic correlation shape
    * next to the min-cost scalar subquery). Catalyst decorrelates this
    * to a per-part average aggregate joined back on the part key; the
    * threshold is exact integer e2 arithmetic (avg as sum·20 div
    * count·... routed through cents, one integer comparison per line —
    * never a float boundary).
    *
    * Shape: ONE extra aggregate over lineitem (part-keyed, partial+
    * final) + a part-key equi-join back to the fact — both sides share
    * the l_partkey exchange. Output is a single summary row
    * (yearly-equivalent revenue in exact cents→double at the end).
    */
  def smallQuantityRevenue(
      li: DataFrame, part: DataFrame, brandPrefix: String = "Brand#1"): DataFrame = {
    val cents = (money("l_extendedprice") * 100).cast("long")
    // 0.2 · avg(qty) > qty  ⇔  qty_e2·count·100 < sum(qty_e2)·20, all long
    val qtyE2 = (col("l_quantity").cast("decimal(12,2)") * 100).cast("long")
    val brandLines = li.join(
      broadcast(part.filter(col("p_brand").startsWith(brandPrefix))
        .select(col("p_partkey"))),
      col("l_partkey") === col("p_partkey"))
    val perPart = brandLines
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(qtyE2).as("sum_q_e2"), count(lit(1)).as("n_lines"))
    brandLines.join(perPart, col("l_partkey") === col("pk"))
      .filter(qtyE2 * col("n_lines") * 100 < col("sum_q_e2") * 20)
      .agg(
        count(lit(1)).as("n_small_lines"),
        (sum(cents).cast("double") / 100.0 / 7.0).as("avg_yearly"))
  }

  /** Benford first-digit conformance of order totals — the classic
    * anomaly screen on financial facts (organically-generated amounts
    * follow log₁₀(1+1/d); fabricated ones rarely do). The digit comes
    * from the INTEGER part's leading character (string head of a floored
    * BIGINT — no float log in the hot path), and the expected shares are
    * frozen e6 literals of log₁₀(1+1/d), so every output column is exact
    * integer arithmetic with signed deviations.
    *
    * Shape: one row-local digit projection + a 9-row aggregate.
    */
  def benfordDigits(orders: DataFrame): DataFrame = {
    // log10(1 + 1/d) rounded at e6, d = 1..9
    val benfordE6 = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    orders
      .filter(col("o_totalprice") >= 1.0)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_e6", expr(
        "n * 1000000 div sum(n) over ()"))
      .withColumn("benford_e6",
        element_at(array(benfordE6.map(lit): _*), col("digit").cast("int")))
      .withColumn("dev_e6", col("share_e6") - col("benford_e6"))
      .select(col("digit"), col("n"), col("share_e6"), col("benford_e6"),
        col("dev_e6"))
      .orderBy(col("digit"))
  }

  /** Week-over-week revenue growth — the trend readout every revenue
    * dashboard carries next to the absolute series. Collapse-first: the
    * fact table folds to one row per ISO week (exact integer cents)
    * BEFORE any window; the LAG then runs on the week-dimension table —
    * a few hundred rows however large the fact side is (the same
    * collapse-then-window discipline as hourlyAnomalies). The single-
    * partition window is over that dimension table only.
    *
    * growth_e4 = (rev − prev)·10⁴ div prev: pure integer arithmetic, and
    * both engines' integer division truncates toward zero (Spark `div`,
    * DuckDB `//` — verified on negatives), so a down week is exact too.
    */
  def revenueGrowth(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = orders
      .groupBy(date_trunc("week", col("o_orderdate")).as("week"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("revenue_cents"))
    val w = Window.orderBy(col("week"))
    weekly
      .withColumn("prev_cents", lag(col("revenue_cents"), 1).over(w))
      .select(
        unix_micros(col("week")).as("week_us"),
        col("revenue_cents"),
        expr("CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL " +
          "ELSE (revenue_cents - prev_cents) * 10000 div prev_cents END")
          .as("growth_e4"))
      .orderBy(col("week_us"))
  }

  /** Supply-concentration outliers: (part, supplier) pairs where the
    * supplier ships more than `mult`× its fair share of that part's total
    * quantity (fair share = total/n_suppliers). The procurement twin of
    * [[graft.ops.Analytics.keySkew]] — the readout that flags
    * single-source risk and, at the engine level, the hot keys a
    * part-keyed join would need salting for.
    *
    * Shape at 100 TB: lineitem collapses FIRST to one row per
    * (part, supplier) — the only fact-sized exchange; the per-part
    * total+count then rides a window over that collapsed frame (second
    * exchange is on the already part-clustered, part-dimension-sized
    * table). The share test `qty·n_suppliers > mult·total` is pure
    * integer arithmetic — no float shares anywhere near the comparison.
    */
  def supplierConcentration(li: DataFrame, mult: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perPartSupp = li
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("long").as("supp_qty"))
    val w = Window.partitionBy(col("l_partkey"))
    perPartSupp
      .withColumn("part_qty", sum(col("supp_qty")).over(w))
      .withColumn("n_suppliers", count(lit(1)).over(w))
      .filter(col("supp_qty") * col("n_suppliers") > lit(mult.toLong) * col("part_qty"))
      .withColumn("share_e4",
        expr("supp_qty * 10000 div part_qty"))
      .select(col("l_partkey"), col("l_suppkey"), col("supp_qty"),
        col("part_qty"), col("n_suppliers"), col("share_e4"))
      .orderBy(col("l_partkey"), col("l_suppkey"))
  }

  /** TPC-H Q15-shaped top supplier: revenue per supplier over a fixed
    * quarter, keeping EVERY supplier tied at the maximum (the original
    * query's view+scalar-subquery semantics). Revenue stays
    * DECIMAL(18,2)-exact through the max comparison, so ties are real
    * ties, not float near-misses.
    *
    * Shape: one supplier-keyed aggregate of the date-pruned scan (the
    * quarter predicate pushes to parquet row-group stats); the global max
    * is a 1-row aggregate of the supplier-dimension-sized frame, joined
    * back as a broadcast scalar — the `aboveAvgOrders` pattern, never a
    * sort of the whole dimension for one row.
    */
  def topSupplier(li: DataFrame, supplier: DataFrame): DataFrame = {
    val rev = li
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(money("l_extendedprice") *
          (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Per-brand Pareto frontier (skyline) of the part catalog: parts not
    * dominated within their brand, where part d dominates p if d is no
    * pricier AND no smaller with at least one strict — the "best value
    * at every size point" readout. The classic skyline operator, done
    * WITHOUT the quadratic NOT-EXISTS self-join: sort each brand by
    * price and take two running maxima of size —
    *   A = max size among STRICTLY cheaper rows (RANGE … 1 PRECEDING),
    *   B = max size among cheaper-or-peer rows (RANGE … CURRENT ROW) —
    * p survives iff (A < size or no cheaper row) and B == size. Prices
    * compare as integer CENTS so the RANGE offset is exact.
    *
    * Shape at 100 TB: one window pass per brand partition (the brand
    * dimension bounds each sort); no self-join, no cartesian. The same
    * two-maxima rewrite handles any 2-D skyline; higher dimensions
    * need the divide-and-conquer variant.
    */
  def paretoFrontier(part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Window.partitionBy(col("p_brand"))
      .orderBy(col("price_cents"))
    val strictlyCheaper = base.rangeBetween(Window.unboundedPreceding, -1)
    val uptoPeers = base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    part
      .select(col("p_brand"), col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"),
        col("p_size").cast("long").as("size"))
      .withColumn("max_cheaper", max(col("size")).over(strictlyCheaper))
      .withColumn("max_upto", max(col("size")).over(uptoPeers))
      .filter((col("max_cheaper").isNull || col("max_cheaper") < col("size")) &&
        col("max_upto") === col("size"))
      .select(col("p_brand"), col("p_partkey"), col("price_cents"), col("size"))
      .orderBy(col("p_brand"), col("price_cents"), col("p_partkey"))
  }

  /** 3-D dominance SKYLINE — the higher-dimensional variant
    * [[paretoFrontier]]'s scaladoc defers: the 2-D two-maxima window
    * rewrite stops at two dimensions, so this takes the grid-prune +
    * exact-verify route. The frontier here is customer efficiency:
    * customers nobody beats simultaneously on total spend (max), order
    * count (MIN — the same spend in fewer orders is better) and largest
    * single order (max). d dominates c iff ≥/≤/≥ on all three with at
    * least one strict; the skyline is every undominated customer.
    *
    * Shape at 100 TB (the skyline literature's coarse-grid prune,
    * cf. Börzsönyi et al., ICDE'01 block-nested-loops + grid variants):
    *  1. collapse orders to the customer-dimension point set (one
    *     map-side-combined exchange on o_custkey);
    *  2. bucket each dim into `grid` integer cells from a 1-row min/max
    *     frame (broadcast); the bucket map is monotone, so a cell
    *     STRICTLY greater/less in ALL dims guarantees every point of it
    *     dominates every point of the other — cell-level dominance is
    *     decided on the ≤ grid³-row non-empty-cell model (a tiny
    *     self-join), and every point in a dominated cell drops without
    *     a single point-to-point comparison;
    *  3. only the undominated shell pays the exact quadratic check — a
    *     broadcast nested-loop anti-join sized O(shell²), not O(n²).
    * Pruning is SOUND: a pruned point is strictly dominated in all
    * dims, so no skyline member is ever pruned, and dominance is
    * transitive so every non-skyline survivor still has a surviving
    * dominator — the anti-join over survivors alone returns exactly
    * the true skyline. Money is integer cents throughout.
    */
  def skyline(orders: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2, "grid must have at least 2 cells per dim")
    val pts = orders
      .groupBy(col("o_custkey").cast("long").as("custkey"))
      .agg(
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("spend_cents"),
        count(lit(1)).as("n_orders"),
        max((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("max_order_cents"))
      .persist()
    val stats = pts.agg(
      min(col("spend_cents")).as("mn1"), max(col("spend_cents")).as("mx1"),
      min(col("n_orders")).as("mn2"), max(col("n_orders")).as("mx2"),
      min(col("max_order_cents")).as("mn3"),
      max(col("max_order_cents")).as("mx3"))
    val cells = pts.crossJoin(broadcast(stats))
      .withColumn("b1",
        expr(s"(spend_cents - mn1) * $grid div (mx1 - mn1 + 1)"))
      .withColumn("b2", expr(s"(n_orders - mn2) * $grid div (mx2 - mn2 + 1)"))
      .withColumn("b3",
        expr(s"(max_order_cents - mn3) * $grid div (mx3 - mn3 + 1)"))
      .select(col("custkey"), col("spend_cents"), col("n_orders"),
        col("max_order_cents"), col("b1"), col("b2"), col("b3"))
    val occupied = cells.select(col("b1"), col("b2"), col("b3")).distinct()
    // cells with a strict all-dims dominator among the occupied cells
    val dominatedCells = occupied.as("c").join(
      broadcast(occupied.select(col("b1").as("d1"), col("b2").as("d2"),
        col("b3").as("d3"))),
      col("d1") > col("c.b1") && col("d2") < col("c.b2") &&
        col("d3") > col("c.b3"),
      "left_semi")
    val shell = cells.join(broadcast(dominatedCells),
        Seq("b1", "b2", "b3"), "left_anti")
      .select(col("custkey"), col("spend_cents"), col("n_orders"),
        col("max_order_cents"))
      .persist()
    val rivals = shell.select(col("spend_cents").as("d_spend"),
      col("n_orders").as("d_orders"), col("max_order_cents").as("d_max"))
    shell.join(broadcast(rivals),
        col("d_spend") >= col("spend_cents") &&
          col("d_orders") <= col("n_orders") &&
          col("d_max") >= col("max_order_cents") &&
          (col("d_spend") > col("spend_cents") ||
            col("d_orders") < col("n_orders") ||
            col("d_max") > col("max_order_cents")),
        "left_anti")
      .orderBy(col("custkey"))
  }

  /** DuckDB oracle for [[skyline]] — the textbook NOT EXISTS dominance
    * predicate over the full point set (quadratic, fine at oracle scale;
    * the Spark side's grid prune exists precisely so the engine never
    * runs this shape).
    */
  def skylineOracleSql: String =
    """WITH p AS (
      |  SELECT o_custkey::BIGINT AS custkey,
      |    sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT
      |      AS spend_cents,
      |    count(*)::BIGINT AS n_orders,
      |    max((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT
      |      AS max_order_cents
      |  FROM orders GROUP BY 1)
      |SELECT custkey, spend_cents, n_orders, max_order_cents
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p d
      |  WHERE d.spend_cents >= a.spend_cents
      |    AND d.n_orders <= a.n_orders
      |    AND d.max_order_cents >= a.max_order_cents
      |    AND (d.spend_cents > a.spend_cents
      |      OR d.n_orders < a.n_orders
      |      OR d.max_order_cents > a.max_order_cents))
      |ORDER BY custkey""".stripMargin

  /** Fulfillment latency by order priority: days from order date to the
    * FIRST and LAST line shipment, summarized per priority class — the
    * SLA readout (does URGENT actually ship faster?). Integer day
    * latencies make the p50 dyadic-exact; p90 interpolates and is
    * presentation-rounded like [[graft.ops.Analytics.valuePercentiles]];
    * the mean is exact integer e4.
    *
    * Shape at 100 TB: lineitem collapses per order (the same orderkey
    * exchange the backlog build uses), joins orders on that key, and the
    * summary is a priority-dimension aggregate. Exact per-group
    * percentiles sort within the group; at extreme group sizes the
    * mergeable approx_percentile is the swap-in.
    */
  def orderLatency(orders: DataFrame, li: DataFrame): DataFrame = {
    val ship = li.groupBy(col("l_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("first_ship"),
        max(to_date(col("l_shipdate"))).as("last_ship"))
    orders
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od"))
      .join(ship, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("od")).cast("long").as("first_days"),
        datediff(col("last_ship"), col("od")).cast("long").as("full_days"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        expr("percentile(first_days, 0.5)").as("p50_first"),
        round(expr("percentile(first_days, 0.9)"), 4).as("p90_first"),
        expr("sum(first_days) * 10000 div count(1)").as("mean_first_e4"),
        expr("percentile(full_days, 0.5)").as("p50_full"))
      .transform(Par.sortSmall(col("o_orderpriority")))
  }

  /** TPC-H Q21-shaped sole-blame suppliers: suppliers that were the ONLY
    * late supplier on a multi-supplier order (late = shipped more than
    * `lateDays` after the order date; the testdata carries no
    * commit/receipt dates, so the deadline derives from o_orderdate).
    * The reference query's EXISTS (another supplier participated) +
    * NOT EXISTS (another supplier was late) pair, decorrelated into
    * aggregates — the multi-correlated-subquery shape every engine's
    * optimizer is judged on.
    *
    * Shape at 100 TB: ONE fact⋈fact shuffle (lineitem⋈orders on the
    * order key) to attach the deadline, then everything collapses:
    * per-(order, supplier) lateness, per-order supplier/late counts, and
    * the blame filter are all aggregates over frames that shrink at each
    * step and REUSE the orderkey clustering; the supplier name attaches
    * by broadcast at the very end, on the supplier-dimension-sized
    * result. No correlated re-scan of lineitem per subquery — the
    * decorrelation IS the two aggregates.
    */
  def soleBlameSuppliers(
      li: DataFrame,
      orders: DataFrame,
      supplier: DataFrame,
      lateDays: Int = 90,
      k: Int = 50): DataFrame = {
    val j = li.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
    val perOrderSupp = j.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("supp_late"))
    // per-order supplier/late counts ride a WINDOW over the
    // per-(order, supplier) frame instead of a groupBy + self-join:
    // the join form planned the unpersisted fact⋈fact subtree TWICE
    // (r13 profiling: two identical 600k-record exchanges), where the
    // window re-reads one aggregate output for one more (order-key)
    // exchange of the already-collapsed frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
    perOrderSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp", sum(col("supp_late").cast("long")).over(w))
      .filter(col("supp_late") && col("n_supp") > 1 && col("n_late_supp") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_blame_orders"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_blame_orders"))
      .orderBy(desc("n_blame_orders"), col("s_suppkey"))
      .limit(k)
  }

  /** Open-order backlog over time — how many orders are in flight on each
    * day, where an order is open from `o_orderdate` through its last
    * line's ship date (inclusive). The classic interval-concurrency
    * question, answered WITHOUT a range join: sweep-line.
    *
    * Shape at 100 TB: lineitem collapses to per-order last-ship
    * (orderkey exchange #1), joins orders on the same key (exchange
    * reused by AQE since both sides hash on orderkey), then each
    * interval becomes two ±1 deltas that aggregate onto the DAY
    * dimension (~thousands of rows for decades of data). Only that
    * dimension table rides the single-partition running-sum window —
    * the fact tables never meet a sort or a range predicate. This is
    * the shape that replaces an O(|orders|·|days|) point-in-interval
    * join at any scale.
    */
  def orderBacklog(orders: DataFrame, li: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lastShip = li.groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("last_ship_day"))
    val intervals = orders
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("start_day"))
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
    // +1 the day the order opens; -1 the day AFTER its last ship day
    // (closing day stays counted open). Orders with no lines never join.
    val deltas = intervals
      .select(col("start_day").as("day"), lit(1L).as("opened"), lit(0L).as("closed"))
      .unionAll(intervals.select(
        date_add(col("last_ship_day"), 1).as("day"),
        lit(0L).as("opened"), lit(1L).as("closed")))
    val daily = deltas.groupBy(col("day"))
      .agg(sum(col("opened")).as("n_opened"), sum(col("closed")).as("n_closed"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("open_orders",
        sum(col("n_opened") - col("n_closed")).over(w))
      .select(unix_micros(col("day").cast("timestamp")).as("day_us"),
        col("n_opened"), col("n_closed"), col("open_orders"))
      .orderBy(col("day_us"))
  }

  /** Exact equi-depth histogram boundaries WITHOUT a global sort — the
    * distributed selection algorithm behind ANALYZE-style histograms and
    * exact quantiles at 100 TB. Boundary j sits at rank ⌊j·n/k⌋; pass 1
    * collapses values onto a coarse integer-bucket dimension (counts +
    * prefix sum live there, never on the rows), locates each target
    * rank's bucket and its within-bucket offset; pass 2 ranks ONLY the
    * ≤ k−1 boundary buckets (a broadcast semi-join keeps everything
    * else out) and picks the row at each offset. The fact table is
    * scanned twice but never range-exchanged; window partitions are
    * bounded by a coarse-bucket's population.
    *
    * Values are integer cents, so selection is exact and tie-stable on
    * any engine (the boundary VALUE is tie-independent by construction).
    */
  def equiDepthHistogram(
      orders: DataFrame,
      nBuckets: Int = 16,
      coarseWidth: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (money("o_totalprice") * 100).cast("long")
    val rows = orders.select(cents.as("cents"))
      .withColumn("cb", expr(s"cents div $coarseWidth"))
    val wCum = Window.orderBy(col("cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // coarse-bucket dimension: counts + prefix sum (dimension-sized)
    val buckets = rows.groupBy(col("cb")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    val total = rows.agg(count(lit(1)).as("n"))
    val grid = orders.sparkSession.createDataFrame(
      (1 until nBuckets).map(j => Tuple1(j.toLong))).toDF("j")
    // each target rank lands in exactly one bucket; offset = rank within
    val spec = grid.crossJoin(broadcast(total))
      .withColumn("r", expr(s"j * n div $nBuckets"))
      .join(broadcast(buckets),
        col("r") > col("cum_before") && col("r") <= col("cum_before") + col("cnt"))
      .select(col("j"), col("r"), col("cb").as("b_cb"),
        (col("r") - col("cum_before")).as("offset"))
    val wIn = Window.partitionBy(col("cb")).orderBy(col("cents"))
    val selCb = spec.select(col("b_cb").as("sel_cb")).distinct()
    rows
      .join(broadcast(selCb), col("cb") === col("sel_cb"))
      .withColumn("rnk", row_number().over(wIn).cast("long"))
      .join(broadcast(spec),
        col("cb") === col("b_cb") && col("rnk") === col("offset"))
      .select(col("j"), col("r").as("target_rank"),
        col("cents").as("boundary_cents"))
      .orderBy(col("j"))
  }

  /** Delete-one-bucket jackknife standard error of the mean order value —
    * distribution-free uncertainty for a 100 TB mean where a bootstrap's
    * resampling passes would be prohibitive: 32 hash-assigned buckets,
    * each leave-one-out mean derived algebraically from (total − bucket)
    * sums, SE from the squared deviations. One collapse to the bucket
    * dimension; everything after is 32-row arithmetic. Integer cents
    * end to end; the only doubles are the final leave-one-out means and
    * the closed-form SE, each one conversion + IEEE ops — identical on
    * both engines before the presentation round.
    */
  def jackknifeMean(orders: DataFrame, nBuckets: Int = 32): DataFrame = {
    val cents = (money("o_totalprice") * 100).cast("long")
    val b = orders
      .select(cents.as("cents"), (col("o_orderkey") % nBuckets).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"))
    val tot = b.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"),
      count(lit(1)).as("k"))
    b.crossJoin(broadcast(tot))
      // e6-quantize each leave-one-out mean BEFORE summing — summing raw
      // doubles would make the result depend on partial-agg merge order
      .withColumn("loo_e6", expr(
        """CAST(round(CAST(s - s_g AS DOUBLE) / CAST(n - n_g AS DOUBLE)
          |  * 1000000, 0) AS DECIMAL(38,0))""".stripMargin))
      .groupBy(col("n"), col("s"), col("k"))
      .agg(
        sum(col("loo_e6")).as("loo_sum_e6"),
        sum(col("loo_e6") * col("loo_e6")).as("loo_sq_e12"))
      .select(
        col("n"),
        round(col("s").cast("double") / col("n").cast("double"), 4)
          .as("mean_cents"),
        round(sqrt(
          ((col("k") - 1).cast("double") / col("k").cast("double")) *
            (col("loo_sq_e12").cast("double") / lit(1e12) -
              (col("loo_sum_e6").cast("double") / lit(1e6)) *
                (col("loo_sum_e6").cast("double") / lit(1e6)) /
                col("k").cast("double"))), 4).as("jackknife_se_cents"))
  }

  /** Histogram join-cardinality estimation — the arithmetic behind the
    * [[PlanShapeSpec]] ANALYZE/CBO pin, exposed as a query: per
    * join-key bucket, the textbook equi-width estimate
    * |A⋈B|ₑ ≈ cntA·cntB ÷ max(ndvA, ndvB) next to the ACTUAL join
    * count, with an integer-e4 relative error. This is the audit that
    * tells you where an optimizer's stats would mis-plan (skewed
    * buckets under-estimated → sort-merge where a shuffle-hash wins,
    * etc.) before a 100 TB join pays for it.
    *
    * Shape: both sides collapse once to bucket stats (count + exact
    * ndv); only the ACTUAL column needs the real join, which reuses the
    * customer broadcast. Everything stays integer.
    */
  def joinCardinalityEstimate(
      orders: DataFrame,
      customer: DataFrame,
      bucketWidth: Long = 64L): DataFrame = {
    val oStats = orders
      .groupBy(expr(s"o_custkey div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("ndv_orders"))
    val cStats = customer
      .groupBy(expr(s"c_custkey div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_cust"),
        countDistinct(col("c_custkey")).as("ndv_cust"))
    val actual = orders
      .join(broadcast(customer.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(expr(s"o_custkey div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_actual"))
    oStats.join(cStats, Seq("bucket"), "full")
      .join(actual, Seq("bucket"), "left")
      .na.fill(0L,
        Seq("n_orders", "ndv_orders", "n_cust", "ndv_cust", "n_actual"))
      .withColumn("est",
        expr("n_orders * n_cust div greatest(ndv_orders, ndv_cust, 1)"))
      .withColumn("err_e4",
        expr("abs(est - n_actual) * 10000 div greatest(n_actual, 1)"))
      .orderBy(col("bucket"))
  }

  /** Incremental maintenance of a JOIN view — the delta-join algebra
    * ([[graft.ops.Analytics.incrementalRollup]] covers the aggregate
    * half): with orders split old/Δ at a date and customers split
    * old/Δ at a key, the per-nation revenue view decomposes exactly as
    * V = A₀⋈B₀ ∪ ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — the stored view plus three
    * delta terms, never a full recompute. The four terms partition the
    * join's row space, so the merged totals equal the flat join
    * bit-for-bit (the oracle computes it flat; per-term counts ride
    * along in the output to pin the decomposition itself).
    *
    * Shape at 100 TB: each term aggregates BEFORE the merge
    * (nation-sized frames), the customer side broadcasts, and in
    * production only the three delta terms run per refresh — the A₀⋈B₀
    * term is the stored view being maintained. Money stays in integer
    * cents per row before summing.
    */
  def incrementalJoinView(
      orders: DataFrame,
      customer: DataFrame,
      splitDateIso: String = "1997-01-01 00:00:00",
      custSplit: Long = 750L): DataFrame = {
    val split = lit(splitDateIso).cast("timestamp")
    val cents = (money("o_totalprice") * 100).cast("long")
    def term(aNew: Boolean, bNew: Boolean, tag: String): DataFrame = {
      val a = orders.filter(
        if (aNew) col("o_orderdate") >= split else col("o_orderdate") < split)
      val b = customer.filter(
        if (bNew) col("c_custkey") > custSplit else col("c_custkey") <= custSplit)
      a.join(broadcast(b.select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(cents).as("cents"))
        .withColumn("term", lit(tag))
    }
    term(aNew = false, bNew = false, "old")
      .unionByName(term(aNew = true, bNew = false, "delta_orders"))
      .unionByName(term(aNew = false, bNew = true, "delta_cust"))
      .unionByName(term(aNew = true, bNew = true, "delta_both"))
      .groupBy(col("c_nationkey"))
      .agg(
        sum(col("n")).as("n_orders"),
        sum(col("cents")).as("revenue_cents"),
        sum(when(col("term") === "old", col("n")).otherwise(0L)).as("n_old"),
        sum(when(col("term") === "delta_orders", col("n")).otherwise(0L))
          .as("n_delta_orders"),
        sum(when(col("term") === "delta_cust", col("n")).otherwise(0L))
          .as("n_delta_cust"),
        sum(when(col("term") === "delta_both", col("n")).otherwise(0L))
          .as("n_delta_both"))
      .transform(Par.sortSmall(col("c_nationkey")))
  }

  /** Cumulative Poisson(1) CDF thresholds scaled onto the [0, M) hash
    * space, M = 1e9+7. Computed ONCE from literal doubles and embedded as
    * BIGINT constants in both the Spark expression and the generated
    * oracle SQL — neither engine evaluates exp/factorial at query time,
    * so there is no libm to disagree about.
    */
  private val BootModulus = 1000000007L
  private val BootCdf: Seq[Double] = {
    val pmf = (0 to 6).scanLeft(math.exp(-1.0)) { case (p, k) => p / (k + 1) }
    pmf.take(7).scanLeft(0.0)(_ + _).drop(1)
  }
  private val BootThresholds: Seq[Long] =
    BootCdf.map(c => math.round(c * BootModulus))

  private def bootWeightCase(h: String): String =
    BootThresholds.zipWithIndex
      .map { case (t, i) => s"WHEN $h < ${t}L THEN ${i}L" }
      .mkString("CASE ", " ", " ELSE 7L END")

  private def bootWeightCaseDuck(h: String): String =
    BootThresholds.zipWithIndex
      .map { case (t, i) => s"WHEN $h < $t THEN $i" }
      .mkString("CASE ", " ", " ELSE 7 END")

  /** Distribution-free confidence interval for the MEDIAN order value —
    * the order-statistic (binomial-rank) interval: the values at ranks
    * ⌊(n − z√n)/2⌋ and ⌈1 + (n + z√n)/2⌉ bracket the true median at
    * ~95% regardless of the value distribution. [[jackknifeMean]] and
    * [[poissonBootstrapSE]] quantify the MEAN's uncertainty; heavy-
    * tailed money data is exactly where the median + this interval is
    * the honest summary. The median itself is reported as the exact sum
    * of the two central order statistics (×2 — no halving, the dyadic-
    * median house rule).
    *
    * Shape: the scan collapses to the distinct-cents histogram; every
    * rank lookup is a conditional min over that value-dimension frame
    * under one prefix window — the raw rows are never sorted. The rank
    * arithmetic's one double excursion (z√n) is floor/ceil'd
    * identically in both engines.
    */
  def medianCI(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = orders
      .select((money("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val stats = hist.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
      .withColumn("rank_lo", expr(
        """CAST(greatest(1.0, FLOOR((n - 1.959964 * sqrt(CAST(n AS DOUBLE)))
          |  / 2.0)) AS BIGINT)""".stripMargin))
      .withColumn("rank_hi", expr(
        """CAST(least(CAST(n AS DOUBLE), CEIL(1.0
          |  + (n + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0)) AS BIGINT)"""
          .stripMargin))
      .withColumn("m1", expr("(n + 1) div 2"))
      .withColumn("m2", expr("(n + 2) div 2"))
    hist.crossJoin(broadcast(stats))
      .groupBy(col("n"), col("rank_lo"), col("rank_hi"))
      .agg(
        (min(when(col("cum") >= col("m1"), col("cents"))) +
          min(when(col("cum") >= col("m2"), col("cents"))))
          .as("median_x2_cents"),
        min(when(col("cum") >= col("rank_lo"), col("cents")))
          .as("ci_lo_cents"),
        min(when(col("cum") >= col("rank_hi"), col("cents")))
          .as("ci_hi_cents"))
      .select(col("n").as("n_orders"), col("median_x2_cents"),
        col("ci_lo_cents"), col("ci_hi_cents"), col("rank_lo"),
        col("rank_hi"))
  }

  /** DuckDB oracle for [[medianCI]]. */
  def medianCIOracleSql: String =
    """WITH h AS (
      |  SELECT (CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT AS cents,
      |    count(*)::BIGINT AS cnt
      |  FROM orders GROUP BY 1),
      |c AS (SELECT cents, cnt,
      |        sum(cnt) OVER (ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM h),
      |s AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n FROM h),
      |r AS (SELECT n,
      |        CAST(greatest(1.0, FLOOR((n - 1.959964 * sqrt(n::DOUBLE))
      |          / 2.0)) AS BIGINT) AS rank_lo,
      |        CAST(least(n::DOUBLE, CEIL(1.0
      |          + (n + 1.959964 * sqrt(n::DOUBLE)) / 2.0)) AS BIGINT)
      |          AS rank_hi,
      |        (n + 1) // 2 AS m1, (n + 2) // 2 AS m2
      |      FROM s)
      |SELECT n AS n_orders,
      |  (min(CASE WHEN cum >= m1 THEN cents END)
      |    + min(CASE WHEN cum >= m2 THEN cents END))::BIGINT
      |    AS median_x2_cents,
      |  min(CASE WHEN cum >= rank_lo THEN cents END)::BIGINT AS ci_lo_cents,
      |  min(CASE WHEN cum >= rank_hi THEN cents END)::BIGINT AS ci_hi_cents,
      |  rank_lo, rank_hi
      |FROM c CROSS JOIN r
      |GROUP BY n, rank_lo, rank_hi""".stripMargin

  /** Poisson bootstrap standard error of the mean order value — the
    * resampling twin of [[jackknifeMean]]. The classical bootstrap
    * resamples n-of-n WITH replacement, which is unshardable (a global
    * multinomial draw); the Poisson bootstrap (Chamandy et al., 2012 —
    * "Estimating uncertainty for massive data streams") replaces each
    * replica's multiplicity with an independent Poisson(1) weight per
    * row, making every replica a ROW-LOCAL map over the shards — the only
    * bootstrap that works at 100 TB.
    *
    * Determinism: the Poisson draw is inverse-CDF over a portable integer
    * hash of (order, replica) — no RNG state, no partition dependence;
    * re-running on any cluster layout draws the same weights. Replica
    * means are exact integer cents (BIGINT sums, one integer division);
    * the across-replica variance is exact integer arithmetic and the
    * final sqrt is IEEE-exact, so the SE is bit-identical everywhere.
    * Shape: one fan-out of the orders scan by B broadcast replica ids,
    * one partial+final aggregation onto the B-row replica dimension.
    */
  def poissonBootstrapSE(orders: DataFrame, nReplicas: Int = 32): DataFrame = {
    require(nReplicas > 1, "need at least 2 replicas")
    val spark = orders.sparkSession
    val reps = spark.createDataFrame(
      (0 until nReplicas).map(r => Tuple1(r.toLong))).toDF("rep")
    val base = orders.select(col("o_orderkey"),
      (money("o_totalprice") * 100).cast("long").as("cents"))
    val weighted = base.crossJoin(broadcast(reps))
      .withColumn("h", expr(
        s"(o_orderkey * 1103515245L + rep * 2654435761L + 98765L) % ${BootModulus}L"))
      .withColumn("w", expr(bootWeightCase("h")))
    val repMeans = weighted.groupBy(col("rep"))
      .agg(sum(col("w") * col("cents")).as("num"), sum(col("w")).as("den"))
      // a replica whose every weight drew 0 has no mean; excluded exactly
      // as the oracle excludes it (P ≈ e^{-n}, impossible beyond toy n)
      .filter(col("den") > 0L)
      .withColumn("m", expr("num div den"))
    val overall = base.agg(
      count(lit(1)).as("n_orders"),
      // guarded: ANSI div by a zero count must not throw on empty input
      expr("CASE WHEN count(1) > 0 THEN sum(cents) div count(1) END")
        .as("mean_cents"))
    val se = repMeans.agg(
      count(lit(1)).as("n_replicas"),
      sum(col("m")).as("sm"),
      sum(col("m") * col("m")).as("smm"),
      min(col("m")).as("rep_mean_min_cents"),
      max(col("m")).as("rep_mean_max_cents"))
    overall.crossJoin(se)
      .withColumn("boot_se_cents", expr(
        """CASE WHEN n_replicas >= 2 THEN
          |  CAST(round(sqrt(CAST((n_replicas * smm - sm * sm)
          |    div (n_replicas * (n_replicas - 1)) AS DOUBLE)), 0) AS BIGINT)
          |END""".stripMargin))
      .select(col("n_orders"), col("mean_cents"), col("n_replicas"),
        col("boot_se_cents"), col("rep_mean_min_cents"),
        col("rep_mean_max_cents"))
  }

  /** DuckDB oracle for [[poissonBootstrapSE]] — same hash, same CASE
    * ladder (constants generated from the same Scala values), same
    * integer arithmetic.
    */
  def poissonBootstrapOracleSql(nReplicas: Int = 32): String =
    s"""WITH base AS (
       |  SELECT o_orderkey,
       |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |w AS (
       |  SELECT r.rep, cents,
       |    ${bootWeightCaseDuck(s"(o_orderkey * 1103515245 + r.rep * 2654435761 + 98765) % $BootModulus")} AS w
       |  FROM base CROSS JOIN (SELECT unnest(range(0, $nReplicas)) AS rep) r),
       |rm AS (
       |  SELECT rep, sum(w * cents) // sum(w) AS m
       |  FROM w GROUP BY rep HAVING sum(w) > 0),
       |o AS (SELECT count(*)::BIGINT AS n_orders,
       |        (CASE WHEN count(*) > 0 THEN sum(cents) // count(*) END)::BIGINT
       |          AS mean_cents FROM base),
       |s AS (SELECT count(*)::BIGINT AS n_replicas,
       |        sum(m)::BIGINT AS sm, sum(m * m)::BIGINT AS smm,
       |        min(m)::BIGINT AS rep_mean_min_cents,
       |        max(m)::BIGINT AS rep_mean_max_cents FROM rm)
       |SELECT n_orders, mean_cents, n_replicas,
       |  (CASE WHEN n_replicas >= 2 THEN
       |    CAST(round(sqrt(((n_replicas * smm - sm * sm)
       |      // (n_replicas * (n_replicas - 1)))::DOUBLE), 0) AS BIGINT)
       |  END) AS boot_se_cents,
       |  rep_mean_min_cents, rep_mean_max_cents
       |FROM o CROSS JOIN s""".stripMargin

  /** ITEM-ITEM RECOMMENDATIONS — the classic neighborhood recommender
    * readout ("customers who bought X also bought Y"): for every part,
    * the `topK` co-purchased parts ranked by JACCARD similarity of
    * their order sets, co·10⁶ div (|A|+|B|−co) — exact integer, so the
    * DuckDB pairing is digit-exact (cosine needs a sqrt; Jaccard is the
    * standard integer-safe choice for implicit-feedback co-occurrence).
    *
    * Shape at 100 TB: the pair frame is [[partPairCounts]]' one-exchange
    * build (support floor prunes the long tail before anything joins);
    * per-part order counts ride a broadcast-if-small dimension join;
    * top-k is a per-part row_number window on the PAIR-sized frame —
    * never a cross join, never corpus-wide state.
    */
  def relatedItems(
      lineitem: DataFrame, minSupport: Long = 2, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = orderPartSets(lineitem)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = explodedPairs(sets)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= minSupport)
    val counts = sets.select(explode(col("pks")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    // direction flip as a row-local explode (the assocRules fix): the
    // unionAll form planned the unpersisted pair aggregate twice and
    // re-ran the C(k,2) basket explode per branch (r13 profiling: two
    // identical 1.2M-record stages)
    val sym = pairs
      .select(explode(array(
        struct(col("u").as("part_id"), col("v").as("rec_part_id")),
        struct(col("v").as("part_id"), col("u").as("rec_part_id"))))
        .as("d"), col("co"))
      .select(col("d.part_id").as("part_id"),
        col("d.rec_part_id").as("rec_part_id"), col("co"))
    val w = Window.partitionBy(col("part_id"))
      .orderBy(desc("jaccard_e6"), col("rec_part_id"))
    sym
      .join(broadcastIfSmall(
        counts.select(col("pk").as("part_id"), col("cnt").as("cnt_a"))),
        "part_id")
      .join(broadcastIfSmall(
        counts.select(col("pk").as("rec_part_id"), col("cnt").as("cnt_b"))),
        "rec_part_id")
      .withColumn("jaccard_e6", expr("co * 1000000 div (cnt_a + cnt_b - co)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("part_id"), col("rec_part_id"), col("co").as("co_orders"),
        col("jaccard_e6"), col("rnk"))
      .orderBy(col("part_id"), col("rnk"))
  }

  /** DuckDB twin of [[relatedItems]]. */
  def relatedItemsOracleSql(minSupport: Long = 2, topK: Int = 3): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |cnt AS MATERIALIZED (
       |  SELECT pk, count(*)::BIGINT AS c FROM items GROUP BY 1),
       |p AS MATERIALIZED (
       |  SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS co
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |sym AS (
       |  SELECT u AS part_id, v AS rec_part_id, co FROM p
       |  UNION ALL SELECT v, u, co FROM p),
       |s AS (
       |  SELECT part_id, rec_part_id, co,
       |    (co * 1000000) // (ca.c + cb.c - co) AS jaccard_e6
       |  FROM sym
       |  JOIN cnt ca ON part_id = ca.pk
       |  JOIN cnt cb ON rec_part_id = cb.pk)
       |SELECT part_id, rec_part_id, co AS co_orders, jaccard_e6, rnk
       |FROM (SELECT *, row_number() OVER (
       |    PARTITION BY part_id ORDER BY jaccard_e6 DESC, rec_part_id) AS rnk
       |  FROM s)
       |WHERE rnk <= $topK
       |ORDER BY part_id, rnk""".stripMargin

  /** PRICE–VOLUME–MIX BRIDGE — the standard BI revenue-variance
    * decomposition between two periods, per brand: with period revenues
    * r₀,r₁ (e-4 dollars, exact) and volumes v₀,v₁ (e-2 units, exact),
    * unit prices pᵢ = rᵢ div vᵢ (nonnegative floor division — the ONLY
    * divisions in the bridge, so Spark `div` and DuckDB `//` agree),
    *   volume effect = (v₁−v₀)·p₀               (growth at old price)
    *   price  effect = (p₁−p₀)·v₀               (new price at old volume)
    *   mix residual  = Δr − volume − price      (interaction + floor dust)
    * Negative deltas are only ever MULTIPLIED (exact in both engines),
    * never divided, and the residual absorbs the unit-price floors, so
    * the three effects SUM TO Δr exactly — the property a finance
    * reviewer checks first. Division-first also keeps every product
    * under price·volume ≈ total revenue (≪ Long range at any SF),
    * where the effect·volume product of the textbook form overflows.
    *
    * Shape at 100 TB: one fact-scan aggregate per (brand, year) — the
    * year predicate prunes at the scan; part is a broadcast dimension;
    * the bridge arithmetic runs on the BRAND-sized frame.
    */
  def revenueBridge(
      lineitem: DataFrame, part: DataFrame,
      year0: Int = 1995, year1: Int = 1996): DataFrame = {
    val rev = (money("l_extendedprice") *
      (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
    val byYear = lineitem
      // raw-column range predicate FIRST so row-group min/max pruning
      // fires at the scan (year(col) is not a pushable filter); the
      // year() membership then narrows exactly inside the range
      .filter(col("l_shipdate") >= lit(s"$year0-01-01 00:00:00")
        .cast("timestamp") &&
        col("l_shipdate") < lit(s"${year1 + 1}-01-01 00:00:00")
          .cast("timestamp"))
      .filter(year(col("l_shipdate")).isin(year0, year1))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), year(col("l_shipdate")).as("yr"))
      .agg(sum((rev * 10000).cast("long")).as("rev_e4"),
        sum((col("l_quantity").cast("decimal(18,2)") * 100).cast("long"))
          .as("vol_e2"))
    val y0 = byYear.filter(col("yr") === year0)
      .select(col("p_brand"), col("rev_e4").as("rev0_e4"),
        col("vol_e2").as("vol0_e2"))
    val y1 = byYear.filter(col("yr") === year1)
      .select(col("p_brand"), col("rev_e4").as("rev1_e4"),
        col("vol_e2").as("vol1_e2"))
    y0.join(y1, "p_brand")
      .filter(col("vol0_e2") > 0 && col("vol1_e2") > 0)
      .withColumn("delta_e4", col("rev1_e4") - col("rev0_e4"))
      .withColumn("p0_e4", expr("rev0_e4 div vol0_e2"))
      .withColumn("p1_e4", expr("rev1_e4 div vol1_e2"))
      .withColumn("volume_effect_e4",
        expr("(vol1_e2 - vol0_e2) * p0_e4"))
      .withColumn("price_effect_e4", expr("(p1_e4 - p0_e4) * vol0_e2"))
      .withColumn("mix_residual_e4",
        col("delta_e4") - col("volume_effect_e4") - col("price_effect_e4"))
      .select(col("p_brand"), col("rev0_e4"), col("rev1_e4"), col("delta_e4"),
        col("volume_effect_e4"), col("price_effect_e4"),
        col("mix_residual_e4"))
      .transform(Par.sortSmall(col("p_brand")))
  }

  /** DuckDB twin of [[revenueBridge]]. */
  def revenueBridgeOracleSql(year0: Int = 1995, year1: Int = 1996): String =
    s"""WITH by_year AS MATERIALIZED (
       |  SELECT p_brand, year(l_shipdate) AS yr,
       |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |      * 10000 AS BIGINT))::BIGINT AS rev_e4,
       |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT
       |      AS vol_e2
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE year(l_shipdate) IN ($year0, $year1)
       |  GROUP BY 1, 2),
       |y0 AS (SELECT p_brand, rev_e4 AS rev0_e4, vol_e2 AS vol0_e2
       |       FROM by_year WHERE yr = $year0),
       |y1 AS (SELECT p_brand, rev_e4 AS rev1_e4, vol_e2 AS vol1_e2
       |       FROM by_year WHERE yr = $year1),
       |b AS (
       |  SELECT p_brand, rev0_e4, rev1_e4,
       |    rev1_e4 - rev0_e4 AS delta_e4,
       |    rev0_e4 // vol0_e2 AS p0_e4,
       |    rev1_e4 // vol1_e2 AS p1_e4,
       |    vol0_e2, vol1_e2
       |  FROM y0 JOIN y1 USING (p_brand)
       |  WHERE vol0_e2 > 0 AND vol1_e2 > 0)
       |SELECT p_brand, rev0_e4, rev1_e4, delta_e4,
       |  ((vol1_e2 - vol0_e2) * p0_e4)::BIGINT AS volume_effect_e4,
       |  ((p1_e4 - p0_e4) * vol0_e2)::BIGINT AS price_effect_e4,
       |  (delta_e4 - (vol1_e2 - vol0_e2) * p0_e4
       |    - (p1_e4 - p0_e4) * vol0_e2)::BIGINT AS mix_residual_e4
       |FROM b
       |ORDER BY p_brand""".stripMargin

  /** ROLLING-ORIGIN FORECAST BACKTEST — the evaluation harness a
    * forecasting pipeline runs before trusting any model: from every
    * origin day, "forecast" daily revenue 1..`maxH` days ahead with the
    * two standard baselines every real model must beat — NAIVE (carry
    * the origin-day value forward) and SEASONAL-NAIVE (same weekday,
    * prior week) — and score per (model, horizon) on the shared
    * evaluation set: MAE, WAPE (weighted absolute percentage error —
    * one exact division per group, unlike MAPE's per-point ratios), and
    * signed bias. Naive error grows with horizon while seasonal-naive
    * stays flat — the signature a backtest exists to reveal.
    *
    * All arithmetic is integer cents. The signed division (bias) pairs
    * directly: DuckDB's `//` truncates toward zero on negatives
    * (−7 // 2 = −3, verified), exactly like Spark's `div` — no floor
    * emulation needed.
    *
    * Shape at 100 TB: ONE fact collapse to the day dimension; origins ×
    * horizons is a broadcast cross on the DATE-sized frame, target and
    * seasonal lookups are date-equi-joins on it. The corpus is touched
    * exactly once.
    */
  def forecastBacktest(orders: DataFrame, maxH: Int = 7): DataFrame = {
    require(maxH >= 1, "maxH must be at least 1")
    val spark = orders.sparkSession
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((money("o_totalprice") * 100).cast("long")).as("actual_cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val horizons = spark.range(1, maxH + 1)
      .select(col("id").cast("int").as("h"))
    val pts = daily
      .select(col("day").as("origin"), col("actual_cents").as("naive_fc"))
      .crossJoin(broadcast(horizons))
      .withColumn("target_day", date_add(col("origin"), col("h")))
      .join(daily.select(col("day").as("target_day"),
        col("actual_cents").as("actual")), "target_day")
      .withColumn("snaive_day", date_sub(col("target_day"), 7))
      .join(daily.select(col("day").as("snaive_day"),
        col("actual_cents").as("snaive_fc")), "snaive_day")
    pts
      .select(col("h"), col("actual"),
        explode(map(
          lit("naive"), col("actual") - col("naive_fc"),
          lit("snaive"), col("actual") - col("snaive_fc"))))
      .withColumnRenamed("key", "model").withColumnRenamed("value", "err")
      .groupBy(col("model"), col("h").cast("long").as("h"))
      .agg(count(lit(1)).as("n_points"),
        sum(abs(col("err"))).as("sae"),
        sum(col("err")).as("se"),
        sum(col("actual")).as("sa"))
      .select(col("model"), col("h"), col("n_points"),
        expr("sae div n_points").as("mae_cents"),
        expr("sae * 10000 div sa").as("wape_e4"),
        expr("se div n_points").as("bias_cents"))
      .orderBy(col("model"), col("h"))
  }

  /** DuckDB twin of [[forecastBacktest]]. */
  def forecastBacktestOracleSql(maxH: Int = 7): String =
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT
       |      AS actual_cents
       |  FROM orders GROUP BY 1),
       |hs AS (SELECT unnest(range(1, ${maxH + 1}))::INTEGER AS h),
       |pts AS (
       |  SELECT hs.h, t.actual_cents AS actual,
       |    o.actual_cents AS naive_fc, s.actual_cents AS snaive_fc
       |  FROM daily o CROSS JOIN hs
       |  JOIN daily t ON t.day = o.day + hs.h
       |  JOIN daily s ON s.day = t.day - 7),
       |long AS (
       |  SELECT h, 'naive' AS model, actual - naive_fc AS err, actual
       |  FROM pts
       |  UNION ALL
       |  SELECT h, 'snaive', actual - snaive_fc, actual FROM pts)
       |SELECT model, h::BIGINT AS h, count(*)::BIGINT AS n_points,
       |  (sum(abs(err)) // count(*))::BIGINT AS mae_cents,
       |  (sum(abs(err)) * 10000 // sum(actual))::BIGINT AS wape_e4,
       |  (sum(err) // count(*))::BIGINT AS bias_cents
       |FROM long GROUP BY 1, 2 ORDER BY model, h""".stripMargin

  /** EXPONENTIALLY-WEIGHTED REVENUE TREND — the smoothing layer between
    * raw daily revenue and the forecast baselines: a 32-day truncated
    * EWMA with decay 3/4, computed EXACTLY in integers. The weight for
    * age dt is W(dt) = 3^dt·4^(31−dt) (ratio 3/4, all BIGINT — 4^31
    * just fits), and the smoothed value is ONE rational division
    *   ewma(t) = Σ W(dt)·x(t−dt)  div  Σ W(dt)
    * over the available history (edge days normalize by the weights
    * actually present). No floating pow, no per-term floors — the
    * pairing is digit-exact by construction, where a float EWMA
    * diverges between engines after ~40 accumulations. Truncation at
    * 32 days discards < 1e-4 of the mass.
    *
    * Shape at 100 TB: the corpus collapses to the DAY dimension once;
    * the dt-grid (32 rows, literal weights) broadcasts across it and
    * the convolution is a date-equi-join group-by — day-dimension work,
    * independent of fact scale. Emits the trailing `lastDays` days.
    */
  def ewmaTrend(orders: DataFrame, lastDays: Int = 30): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val depth = 31
    val weights = (0 to depth).map(dt =>
      (dt, BigInt(3).pow(dt).toLong * BigInt(4).pow(depth - dt).toLong))
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((money("o_totalprice") * 100).cast("long")).as("actual_cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grid = weights.toDF("dt", "w")
    val conv = daily
      .crossJoin(broadcast(grid))
      .withColumn("target_day", date_add(col("day"), col("dt")))
      .groupBy(col("target_day").as("day"))
      .agg(
        sum(col("actual_cents").cast("decimal(38,0)") *
          col("w").cast("decimal(38,0)")).as("num"),
        // ΣW over the full 32-day window is 4^32−3^32 ≈ 1.8e19 > Long.Max
        sum(col("w").cast("decimal(38,0)")).as("den"))
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    conv
      .join(daily.select(col("day"), col("actual_cents")), "day")
      .crossJoin(broadcast(maxDay))
      .filter(col("day") >= date_sub(col("max_day"), lastDays - 1))
      .select(col("day"), col("actual_cents"),
        expr("num div den").as("ewma_cents"))
      .orderBy(col("day"))
  }

  /** DuckDB twin of [[ewmaTrend]] — the identical literal weight grid
    * (generated from the same BigInt powers), HUGEINT numerator.
    */
  def ewmaTrendOracleSql(lastDays: Int = 30): String = {
    val depth = 31
    val grid = (0 to depth).map(dt =>
      s"(${dt}, ${BigInt(3).pow(dt).toLong * BigInt(4).pow(depth - dt).toLong})")
      .mkString(", ")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT
       |      AS actual_cents
       |  FROM orders GROUP BY 1),
       |grid AS (SELECT * FROM (VALUES $grid) t(dt, w)),
       |conv AS (
       |  SELECT daily.day + grid.dt::INTEGER AS day,
       |    sum(actual_cents::HUGEINT * w) AS num, sum(w)::HUGEINT AS den
       |  FROM daily CROSS JOIN grid GROUP BY 1),
       |mx AS (SELECT max(day) AS max_day FROM daily)
       |SELECT d.day, d.actual_cents, (c.num // c.den)::BIGINT AS ewma_cents
       |FROM conv c JOIN daily d USING (day) CROSS JOIN mx
       |WHERE d.day >= mx.max_day - ${lastDays - 1}
       |ORDER BY d.day""".stripMargin
  }

  /** SNAPSHOT DIFF — the reconciliation primitive behind CDC validation,
    * backfill sign-off, and cross-environment table compares: classify
    * every key across two snapshot versions as added / removed /
    * changed / unchanged and report per-class row counts with a
    * deterministic key range. `changed` is a NULL-SAFE comparison over
    * `compareCols` (a column going value↔NULL is a change, not a match).
    *
    * Shape at 100 TB: both sides project ONLY key + compare columns
    * (column pruning reaches the parquet scan), then one co-partitioned
    * full-outer shuffle join on the key — the classification and the
    * final 4-row rollup are map-side. When the compared payload is wide,
    * swap `compareCols` for a precomputed 8-byte row fingerprint
    * (`xxhash64(struct(cols))`) on each side: the join then moves 16
    * bytes per row instead of the payload; this exact-column form is the
    * oracle-matched baseline.
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val o = oldSnap.select(
      keyCols.map(col) ++ compareCols.map(c => col(c).as(s"old_$c"))
        :+ lit(1).as("old_present"): _*)
    val n = newSnap.select(
      keyCols.map(col) ++ compareCols.map(c => col(c).as(s"new_$c"))
        :+ lit(1).as("new_present"): _*)
    val changed = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("old_present").isNull, lit("added"))
          .when(col("new_present").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(keyCols.head)).as("min_key"),
        max(col(keyCols.head)).as("max_key"))
      .transform(Par.sortSmall(col("change_type")))
  }

  /** DuckDB twin of the q_snapshot_diff wiring: old = orders without the
    * late-arriving 1/97 slice; new = orders without the deleted 1/89
    * slice, open orders on the 1/11 grid restated +1.00.
    */
  def snapshotDiffOracleSql: String =
    """WITH old AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      |  WHERE o_orderkey % 97 <> 0),
      |neu AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderstatus = 'O' AND o_orderkey % 11 = 0
      |      THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus FROM orders
      |  WHERE o_orderkey % 89 <> 0),
      |j AS (
      |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
      |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
      |         WHEN n.o_orderkey IS NULL THEN 'removed'
      |         WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
      |           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
      |           THEN 'changed'
      |         ELSE 'unchanged' END AS change_type
      |  FROM old o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey)
      |SELECT change_type, count(*)::BIGINT AS n_rows,
      |  min(k)::BIGINT AS min_key, max(k)::BIGINT AS max_key
      |FROM j GROUP BY 1 ORDER BY change_type""".stripMargin
}

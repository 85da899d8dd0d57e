package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational / window / event operators over the driver-provided tables —
  * the engine-plumbing surface (scan, pushdown, broadcast/semi joins, partial
  * aggregation, windows). Each has a DuckDB oracle in SparkEntry.oracleSql.
  * All outputs are deterministically ordered and float columns are rounded so
  * cross-engine value hashing is stable.
  */
object RelationalOps {

  /** Pricing summary — partial+final hash aggregation over the fact table. */
  def pricingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Revenue by market segment — no broadcast hint on customer (150k × SF
    * rows): the planner decides from its size. */
  def marketRevenue(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.table(spark, dir, "orders")
    val customer = Tables.table(spark, dir, "customer")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** Top-3 customers by balance per nation — ranking window + broadcast dim. */
  def nationTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.table(spark, dir, "customer")
    val nation = Tables.table(spark, dir, "nation")
    val w = Window.partitionBy("c_nationkey").orderBy(desc("c_acctbal"), asc("c_custkey"))
    customer
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .join(broadcast(nation), col("c_nationkey") === nation("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"), col("rn"))
      .orderBy("n_name", "rn")
  }

  /** Selective filter + 2-column projection — predicate/column pushdown into
    * the parquet scan (verified in PlanSpec via PushedFilters/ReadSchema).
    */
  def shipdateFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") && col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** Orders with at least one heavy lineitem — left-semi join (EXISTS). */
  def priorityHeavyOrders(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.table(spark, dir, "orders")
    val heavy = Tables.table(spark, dir, "lineitem").where(col("l_quantity") > 49).select("l_orderkey")
    orders
      .join(heavy, orders("o_orderkey") === heavy("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Brand stats over the part dim — grouped agg with min/max/avg. */
  def brandStats(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "part")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        round(avg("p_retailprice"), 2).as("avg_price"),
        max("p_size").as("max_size"))
      .orderBy("p_brand")

  /** Tumbling 1-hour event counts — the batch analog of a windowed stream agg. */
  def hourlyEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hour", "event_type")

  /** Shipping-priority style 3-way join (customer ⋈ orders ⋈ lineitem) with
    * post-join aggregation and top-N — the multi-join/agg plan shape of
    * TPC-H Q3. Customer is unhinted (see marketRevenue); the orders⋈lineitem
    * join shuffles on the key both sides are later grouped by.
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.table(spark, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val orders = Tables.table(spark, dir, "orders")
    val lineitem = Tables.table(spark, dir, "lineitem")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(20)
  }

  /** Hour-over-hour cohort retention: of the users active in hour h, how many
    * are also active in hour h+1. Distinct (user, hour) pairs self-joined on
    * the shifted hour key — the distinct is one shuffle with map-side
    * combine; the self-join reuses its output on both sides (same exchange,
    * different join key on the probe side). Ratio rounded 4dp.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val uh = Tables.table(spark, dir, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .distinct()
    val cohort = uh.groupBy("hour").agg(count(lit(1)).as("n_active"))
    val retained = uh.as("a")
      .join(uh.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.hour") === col("a.hour") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("a.hour").as("hour")).agg(count(lit(1)).as("n_retained"))
    cohort.join(retained, Seq("hour"), "left")
      .select(col("hour"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        round(coalesce(col("n_retained"), lit(0L)).cast("double") / col("n_active"), 4)
          .as("retention"))
      .orderBy("hour")
  }

  /** JSON scalar extraction over the event props column (X6 in SURVEY §2.8). */
  def propsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), round(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")

  /** Ordered view→click→purchase funnel per user: a click only counts if a
    * view happened STRICTLY before it (row order (ts, event_id)), a purchase
    * only after such a click. Sequential dependencies are resolved with
    * running-min windows over the preceding frame — both window layers share
    * one partitioning+ordering, so the whole funnel is ONE shuffle + one sort
    * per user partition, then a partial-agg rollup. Stage timestamps are
    * emitted as epoch micros (BIGINT) so cross-engine hashing is exact.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    eventFunnelOf(Tables.table(spark, dir, "events"))

  def eventFunnelOf(events: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // ts is TIMESTAMP_NTZ; cast to instant (session tz is UTC) for micros math
    val e = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val viewUs = when(col("event_type") === "view", col("us"))
    val clickValid = when(col("event_type") === "click" && col("view_before").isNotNull, col("us"))
    val purchaseValid =
      when(col("event_type") === "purchase" && col("click_before").isNotNull, col("us"))
    val agg = e
      .withColumn("view_before", min(viewUs).over(wPrev))
      .withColumn("click_valid_us", clickValid)
      .withColumn("click_before", min(col("click_valid_us")).over(wPrev))
      .groupBy("user_id")
      .agg(min(viewUs).as("first_view_us"),
        min(col("click_valid_us")).as("first_click_us"),
        min(purchaseValid).as("first_purchase_us"))
    agg.select(col("user_id"), col("first_view_us"), col("first_click_us"),
        col("first_purchase_us"),
        when(col("first_purchase_us").isNotNull, 3)
          .when(col("first_click_us").isNotNull, 2)
          .when(col("first_view_us").isNotNull, 1)
          .otherwise(0).as("funnel_depth"))
      .orderBy("user_id")
  }

  /** Gap-based sessionization (30-min inactivity) — lag window + running sum,
    * integer microsecond arithmetic so both engines agree exactly.
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // ts is TIMESTAMP_NTZ; cast to instant (session tz is UTC) for micros math
    val us = unix_micros(col("ts").cast("timestamp"))
    Tables.table(spark, dir, "events")
      .withColumn("prev_us", lag(us, 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull || us - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }
}

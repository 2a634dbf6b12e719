package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core OLAP query inventory — the Spark-first re-expression of the
  * reference's analytical surface (SURVEY.md §2, §3) on the driver
  * testdata star schema (FIXTURES.md §B mapping: lineitem+orders =
  * fact, part/customer/nation/region = dims).
  *
  * Every query returns a deterministic, totally-ordered result with
  * money rounded to 2 decimals at the edge (BASELINE.md hash-match
  * discipline). Join strategy notes per query assume the 100 TB
  * cluster shape: fact tables are large and shuffle-partitioned; dims
  * (region/nation/part/customer) are broadcast when they fit.
  */
object CoreQueries {

  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Exact fixed-point revenue sum: price×(1−disc) is an
    * exactly-4-decimal quantity, so each row scales to an int64
    * (float error ≤5e-7 ≪ 0.5 — the round recovers the true integer
    * exactly), the int sum is order-independent in every engine, and
    * ONE division at the edge yields the identical double. Plain
    * double summation fails both ways at scale: round(2) lands on
    * true half-cent ties, and at ~1e9 magnitudes accumulation noise
    * (~1e-4) swamps round(4)'s grid. DuckDB mirror:
    * `sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))
    * / 10000.0`. Int64 headroom: ~9e14 rows of 1e4-scaled 1e5-sized
    * values; beyond that (full 100 TB fact in ONE group) switch the
    * accumulator to decimal(38,0). */
  def revenueSumExact: Column =
    (sum(round(revenue * 10000).cast("long")) / 10000.0)

  /** Q5.1-analog / TPC-H Q1 shape — pricing summary by flag+status.
    * Ref: README.md:209-214 (grouped SUM over fact). Single shuffle
    * (partial+final hash agg); no join. Scales linearly: map-side
    * partial aggregation means the shuffle carries ≤ |groups| rows
    * per task regardless of fact size. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        revenueSumExact.as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q5.2-analog — top-10 products by revenue (README.md:221-227).
    * part is a dim → broadcast join (no fact shuffle for the join);
    * Catalyst plans TakeOrderedAndProject for orderBy+limit (true
    * top-k: each partition keeps 10 rows, no global sort). */
  def q2TopParts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    // Bounded-catalog assumption: a retail product dim stays in the
    // 1e5–1e7 row range (≲ a few hundred MB) — broadcastable on any
    // sane executor. If the catalog ever outgrows the broadcast
    // threshold, drop the hint and let AQE fall back to shuffle join.
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_name"), col("p_brand"))
      .agg(revenueSumExact.as("revenue"),
           sum(col("l_quantity")).cast("long").as("total_qty"))
      .orderBy(desc("revenue"), col("p_name"), col("p_brand"))
      .limit(10)
  }

  /** Q5.1/5.3-analog — revenue rollup through the full location
    * hierarchy (README.md:229-237; DimLocation = nation→region,
    * SURVEY §1.1 hierarchies). lineitem⋈orders is the one real
    * (fact⋈fact-sized) join — shuffle on orderkey; nation/region are
    * broadcast, customer is left to the planner (it is fact-scale at
    * high SF). At 100 TB: bucket both fact tables on orderkey to make
    * the big join shuffle-free. */
  def q3RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    // customer is fact-scale at high SF — no broadcast hint (AQE
    // broadcasts it only while it fits); nation/region are true dims
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(revenueSumExact.as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Filtered aggregates (SURVEY §2.4 A2/A4/A6; README.md:186-189
    * SUM FILTER / COUNT(DISTINCT) FILTER / COALESCE-on-agg).
    * DataFrame form: sum(when(cond,x)) — when→null rows drop out of
    * both SUM and COUNT(DISTINCT), mirroring SQL FILTER. */
  def q4FilteredAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(coalesce(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))), lit(0.0)), 2)
          .as("finished_total"),
        countDistinct(when(col("o_totalprice") > 100000, col("o_custkey")))
          .as("big_spenders"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Fact_Customer_MonthlySnapshot-analog (README.md:112-117,182-199)
    * built the scalable way: aggregate to (customer, month) then a
    * running SUM window for the semi-additive lifetime_spent (SURVEY
    * §2.5 W1), NOT the cross-join scaffold — the reference itself
    * endorses the incremental form at README.md:199.
    *
    * ONE hash shuffle total: the explicit repartition on customer_id
    * satisfies both the aggregation's ClusteredDistribution(customer,
    * month) — partitioning keys are a subset of the grouping keys —
    * and the window's partitionBy(customer), so neither inserts its
    * own Exchange (asserted in PlanShapeSpec). A plain groupBy would
    * hash on (customer, month) and force a second shuffle for the
    * window. */
  def q5MonthlySnapshot(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .repartition(col("o_custkey"))
      .groupBy(
        col("o_custkey").as("customer_id"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("month_total_spent"),
        countDistinct(col("o_orderkey")).as("month_total_orders"))
    val w = Window.partitionBy(col("customer_id")).orderBy(col("month_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("lifetime_spent", round(sum(col("month_total_spent")).over(w), 2))
      .orderBy(col("customer_id"), col("month_start"))
  }

  /** Q5.4-analog — customers with rising month-over-month spend
    * (README.md:242-253), via lag() over (customer, month) instead of
    * the self-join-on-month_key+1 (SURVEY §1.4 quirk 4: the
    * reference's key arithmetic is a year-increment bug; this is the
    * declared intended semantics). lag avoids the self-join's second
    * shuffle entirely. */
  def q6RisingSpend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(
        col("o_custkey").as("customer_id"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
      .agg(round(sum(col("o_totalprice")), 2).as("spent"))
    val w = Window.partitionBy(col("customer_id")).orderBy(col("month_start"))
    monthly
      .withColumn("prev_spent", lag(col("spent"), 1).over(w))
      .filter(col("prev_spent").isNotNull && col("spent") > col("prev_spent"))
      .groupBy(col("customer_id"))
      .agg(round(sum(col("spent") - col("prev_spent")), 2).as("total_delta"),
           count(lit(1)).as("rising_months"))
      .orderBy(desc("total_delta"), col("customer_id"))
      .limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_top_parts"       -> (q2TopParts _),
    "q3_region_revenue"  -> (q3RegionRevenue _),
    "q4_filtered_agg"    -> (q4FilteredAgg _),
    "q5_monthly_snapshot" -> (q5MonthlySnapshot _),
    "q6_rising_spend"    -> (q6RisingSpend _))

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
         round(avg(l_quantity),2) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
    "q2_top_parts" ->
      """SELECT p_name, p_brand,
         sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) / 10000.0 AS revenue,
         CAST(sum(l_quantity) AS BIGINT) AS total_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1,2 ORDER BY revenue DESC, p_name, p_brand LIMIT 10""",
    "q3_region_revenue" ->
      """SELECT r_name, n_name,
         sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) / 10000.0 AS revenue,
         count(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1,2 ORDER BY 1,2""",
    "q4_filtered_agg" ->
      """SELECT o_orderpriority,
         round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS finished_total,
         count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 100000) AS big_spenders,
         count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q5_monthly_snapshot" ->
      """WITH m AS (
           SELECT o_custkey AS customer_id,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                  round(sum(o_totalprice),2) AS month_total_spent,
                  count(DISTINCT o_orderkey) AS month_total_orders
           FROM orders GROUP BY 1,2)
         SELECT customer_id, month_start, month_total_spent, month_total_orders,
                round(sum(month_total_spent) OVER (
                  PARTITION BY customer_id ORDER BY month_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS lifetime_spent
         FROM m ORDER BY customer_id, month_start""",
    "q6_rising_spend" ->
      """WITH m AS (
           SELECT o_custkey AS customer_id,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                  round(sum(o_totalprice),2) AS spent
           FROM orders GROUP BY 1,2),
         d AS (
           SELECT customer_id, month_start, spent,
                  lag(spent) OVER (PARTITION BY customer_id ORDER BY month_start) AS prev_spent
           FROM m)
         SELECT customer_id,
                round(sum(spent - prev_spent),2) AS total_delta,
                count(*) AS rising_months
         FROM d WHERE prev_spent IS NOT NULL AND spent > prev_spent
         GROUP BY 1 ORDER BY total_delta DESC, customer_id LIMIT 50""")
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Warehouse

/** Third slice of the operator inventory: multi-level aggregation
  * (ROLLUP/CUBE + grouping_id — SURVEY.md §2.4 notes these as Spark
  * built-ins beyond the reference's surface), an as-of join (SURVEY
  * §2.3 "not present in reference" list, implemented the scalable
  * way), exact interpolated percentiles, and an HLL approx-distinct
  * sketch.
  *
  * Scale notes per query inline; the as-of join is the one worth
  * reading — it is O(n log n) with a single shuffle, no join
  * explosion, the standard streaming-friendly form.
  */
object AdvancedQueries {

  /** q20 — ROLLUP over the region→nation hierarchy (README.md:76-81
    * location hierarchy generalized): per-nation, per-region subtotal,
    * and grand total in one pass. Spark plans rollup as a single
    * Expand + hash-agg — one shuffle regardless of level count.
    * Rolled-up name columns are coalesced to 'ALL' so the oracle
    * compare never depends on engine NULL-vs-NaN canon. */
  def q20Rollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    // customer is fact-scale at high SF — no broadcast hint; the
    // planner (AQE) broadcasts it only while it actually fits
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(graft.queries.CoreQueries.revenueSumExact.as("revenue"),
           count(lit(1)).as("n_lines"),
           grouping_id().cast("int").as("gid"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("n_name"), lit("ALL")).as("nation"),
              col("revenue"), col("n_lines"), col("gid"))
      .orderBy(col("gid"), col("region"), col("nation"))
  }

  /** q21 — CUBE over (order year, priority): all four grouping-set
    * combinations in one Expand pass. */
  def q21Cube(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube(year(col("o_orderdate")).as("order_year"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spent"),
           count(lit(1)).as("n_orders"),
           grouping_id().cast("int").as("gid"))
      .select(coalesce(col("order_year"), lit(-1)).as("order_year"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("total_spent"), col("n_orders"), col("gid"))
      .orderBy(col("gid"), col("order_year"), col("priority"))
  }

  /** q22 — AS-OF JOIN: for every non-error event, the user's most
    * recent 'error' event at-or-before it, then per-type recovery
    * stats. Implemented WITHOUT a join: tag error rows, one window
    * pass with last(_, ignoreNulls) over (user, time) — a single
    * shuffle on user_id and O(1) state per row, the form that
    * survives 100 TB and maps 1:1 onto a streaming state store.
    * (A range self-join would be |events|×|errors| per user.)
    * Equal-timestamp ties order errors first, matching the oracle's
    * ASOF `>=` semantics. */
  def q22AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("is_err", col("event_type") === "error")
      .withColumn("err_mark", when(col("is_err"), col("ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("is_err").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_err", last(col("err_mark"), ignoreNulls = true).over(w))
      .filter(!col("is_err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           count(col("last_err")).as("n_with_prior_error"),
           round(avg((unix_micros(col("ts")) - unix_micros(col("last_err"))) / lit(1000000.0)), 1)
             .as("avg_secs_since_error"))
      .orderBy(col("event_type"))
  }

  /** q23 — exact interpolated percentiles (median/p90) per priority;
    * Spark `percentile` and DuckDB `quantile_cont` both use linear
    * interpolation, so values hash-match after rounding. */
  def q23Percentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(round(percentile(col("o_totalprice"), lit(0.5)), 2).as("median_price"),
           round(percentile(col("o_totalprice"), lit(0.9)), 2).as("p90_price"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** q24 — HLL sketch distinct counts (approx_count_distinct) next to
    * exact ones. Spark's and DuckDB's HLL implementations differ, so
    * the raw sketch values cannot hash-match an oracle; instead the
    * gated entry [[q24ApproxDistinct]] emits the exact counts plus
    * integer-cross-multiply accuracy booleans
    * (`|approx−exact|·20 ≤ exact`, i.e. within 5%) that the oracle
    * reproduces as literals — putting the sketch under the driver's
    * rows+schema+hash gate with an exact-integer compare (no float
    * thresholds). AdvancedQueriesSpec asserts the <5% relative error
    * on this raw form. At 100 TB the sketch is the only viable
    * distinct-count: fixed 16 KB state per group vs an unbounded
    * exact-distinct hash table. */
  def q24Raw(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // Sketches and exact distincts deliberately run as SEPARATE
    // aggregations joined on the (tiny) group key: mixing them in one
    // agg makes Spark route the HLL buffers through the multi-distinct
    // Expand — every one of the ~|orderkey|+|partkey| partial groups
    // allocates two multi-KB HLL buffers (gigabytes of aggregation
    // state at sf0.1, unbounded at 100 TB). Split, the sketch plan
    // keeps one buffer per flag and the exact plan carries plain keys.
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
           approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
           countDistinct(col("l_partkey")).as("exact_parts"))
    approx.join(broadcast(exact), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("approx_orders"), col("exact_orders"),
              col("approx_parts"), col("exact_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** Driver-gated q24 form: exact counts + 5%-accuracy booleans (see
    * [[q24Raw]]). `|approx−exact|·20 ≤ exact` is pure int64 arithmetic
    * (counts ≤ ~4.6e17 before the ×20 could overflow — far above any
    * per-group distinct count), so the compare is bit-exact across
    * engines; the oracle emits TRUE literals, which match because the
    * sketch error on the fixed testdata is measured ≪ 5% (spec-pinned
    * at <5% on the raw form). */
  def q24ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    q24Raw(spark, dir)
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
              (abs(col("approx_orders") - col("exact_orders")) * lit(20L) <= col("exact_orders"))
                .as("orders_within_5pct"),
              (abs(col("approx_parts") - col("exact_parts")) * lit(20L) <= col("exact_parts"))
                .as("parts_within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  /** q25 — SCD Type 2 under the correctness gate: two as-of snapshots
    * of each customer's latest order priority (1997 / 1999) seeded
    * and merged through Warehouse.scd2Init/scd2Merge; the oracle
    * re-derives the full version history from first principles
    * (changed keys → closed+reopened rows, novel keys → first
    * versions, untouched keys → pass-through). This puts the merge's
    * change detection, closing dates, and current flags — not just
    * row counts — under the DuckDB hash-compare. */
  def q25Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def latestPriorityAsOf(cutoff: String): DataFrame = {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      o.filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
        .withColumn("r", row_number().over(w))
        .filter(col("r") === 1)
        .select(col("o_custkey").as("customer_id"), col("o_orderpriority").as("priority"))
    }
    val hist0 = Warehouse.scd2Init(latestPriorityAsOf("1997-01-01"),
      "customer_id", Seq("priority"), "1997-01-01")
    val hist1 = Warehouse.scd2Merge(hist0, latestPriorityAsOf("1999-01-01"),
      "customer_id", Seq("priority"), "1999-01-01")
    hist1.select(col("customer_id"), col("priority"), col("effective_date"),
        // standard DW convention: open-ended versions carry a far-future
        // end date (also sidesteps engine NULL-canon differences)
        coalesce(col("end_date"), lit("9999-12-31").cast("date")).as("end_date"),
        col("is_current"))
      .orderBy(col("customer_id"), col("effective_date"))
  }

  /** q26 — spending deciles without a global ranking window. The r1
    * form (`ntile(10) OVER (ORDER BY …)`) funnels every customer
    * through one WindowExec partition — a one-task sort at a 10⁹-
    * customer scale. Scale-safe form: decile BOUNDARIES are a tiny
    * exact-percentile aggregate broadcast back to the rollup, and
    * assignment is a pure row-local range comparison — zero global
    * sorts at any customer count. decile 1 = top spenders
    * (spend ≥ p90), matching the old desc-ntile orientation; ties
    * share a decile (the one semantic delta vs ntile's forced equal
    * bucket sizes). percent_rank/cume_dist min/max per decile fall
    * out of cumulative decile counts — computed with a 10×10
    * broadcast self-join, so the whole query is window-free.
    * (At 100 TB swap `percentile` for `percentile_approx`: exact
    * percentile buffers values; the sketch is the scale path. Exact
    * is kept here for bit-parity with the DuckDB oracle.) */
  def q26SpendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("customer_id"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spent"))
    val bounds = spend.agg(
      percentile(col("total_spent"), lit(0.1)).as("b1"),
      (2 to 9).map(k => percentile(col("total_spent"), lit(k / 10.0)).as(s"b$k")): _*)
    val assigned = spend.crossJoin(broadcast(bounds))
      .withColumn("decile",
        (1 to 9).map(k => when(col("total_spent") < col(s"b$k"), 1).otherwise(0): Column)
          .reduce(_ + _) + lit(1))
    val byDecile = assigned.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), round(sum(col("total_spent")), 2).as("decile_spent"))
    val cum = byDecile.as("a")
      .join(broadcast(byDecile.select(col("decile").as("d2"), col("n").as("n2"))),
        col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n"), col("decile_spent"))
      .agg(sum(col("n2")).as("cum_n"))
    val total = byDecile.agg(sum(col("n")).as("n_total"))
    cum.crossJoin(broadcast(total))
      .select(col("decile"),
        col("n").as("n_customers"),
        col("decile_spent"),
        round((col("cum_n") - col("n")) / (col("n_total") - 1), 4).as("min_pct_rank"),
        round(col("cum_n") / col("n_total"), 4).as("max_cume"))
      .orderBy(col("decile"))
  }

  /** q30 — FULL OUTER join (the one join type the inventory had not
    * exercised): daily urgent-order counts vs daily returned-shipment
    * counts. The two date domains genuinely differ in both directions
    * (ship dates trail order dates), so left-only AND right-only rows
    * exist at every SF — the outer semantics are tested, not vacuous.
    * Scale: both sides are tiny date-grain aggregates of one pass
    * each; the outer join shuffles only those aggregates. */
  def q30FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("n_urgent_orders"))
    val b = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_shipdate").as("d"))
      .agg(count(lit(1)).as("n_returned_lines"))
    a.join(b, Seq("d"), "full_outer")
      .select(col("d"),
        coalesce(col("n_urgent_orders"), lit(0L)).as("n_urgent_orders"),
        coalesce(col("n_returned_lines"), lit(0L)).as("n_returned_lines"))
      .orderBy(col("d"))
  }

  val PivotStatuses = Seq("F", "O", "P")

  /** q31 — PIVOT with an explicit value list: order counts by
    * priority × status, statuses as columns. Passing the values
    * explicitly matters at scale: without them Spark first runs a
    * driver-side distinct over the pivot column; with them the whole
    * thing is one map-side-combined aggregate pass. Empty cells
    * coalesce to 0 so the oracle compare never sees engine NULL
    * canon. */
  def q31Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", PivotStatuses)
      .agg(count(lit(1)))
      .select(col("priority") +:
        PivotStatuses.map(s => coalesce(col(s), lit(0L)).as(s)): _*)
      .orderBy(col("priority"))

  /** q32 — UNPIVOT (stack) back to long form: melt q31's wide frame
    * to (priority, status, n) and drop the manufactured empty cells,
    * which recovers exactly the plain groupBy — asserted by the
    * oracle. stack() is a narrow per-row expand, no shuffle beyond
    * q31's own aggregate. */
  def q32Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val stackArgs = PivotStatuses.map(s => s"'$s', `$s`").mkString(", ")
    q31Pivot(spark, dir)
      .selectExpr("priority", s"stack(${PivotStatuses.size}, $stackArgs) AS (status, n)")
      .filter(col("n") > 0)
      .orderBy(col("priority"), col("status"))
  }

  val FunnelSteps = Seq("signup", "view", "purchase")

  val FunnelWindow = "1 hour"
  val FunnelWindowMicros: Long = 3600000000L

  /** q33 — ordered, time-bounded funnel: how far does each user get
    * through signup → view → purchase, where each step must happen
    * strictly after the previous one and WITHIN the conversion
    * window (the classic product-analytics funnel — without the
    * window every long-lived user trivially completes)? Computed as
    * dependent per-user minima: t1 = first signup, t2 = first view in
    * (t1, t1+window], t3 = first purchase in (t2, t2+window] — two
    * conditional-min passes over per-user aggregates joined back
    * (each join is on user_id against a per-user frame, so the event
    * table shuffles once per step, never explodes). */
  def q33Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val win = expr(s"interval $FunnelWindow")
    val t1 = e.filter(col("event_type") === FunnelSteps(0))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = e.filter(col("event_type") === FunnelSteps(1))
      .join(t1, Seq("user_id"))
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = e.filter(col("event_type") === FunnelSteps(2))
      .join(t2, Seq("user_id"))
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val steps = t1.select(col("user_id")).withColumn("step", lit(1))
      .union(t2.select(col("user_id")).withColumn("step", lit(2)))
      .union(t3.select(col("user_id")).withColumn("step", lit(3)))
    steps.groupBy(col("step"))
      .agg(count(lit(1)).as("n_users_reaching"))
      .orderBy(col("step"))
  }

  /** q34 — RANGE-frame window (the one frame family the inventory
    * had not exercised; q5 uses ROWS): per-region daily revenue with
    * a trailing-7-day rolling sum. RANGE over the day offset handles
    * calendar GAPS correctly — a ROWS frame would silently span
    * missing days. One shuffle on region serves both the daily
    * aggregate and the window (partitioning-subset trick, same as
    * q5). */
  def q34TrailingWindow(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    // customer is fact-scale at high SF — no broadcast hint (same rule
    // as q3/q20); nation/region are true dims
    val daily = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .repartition(col("r_name"))
      .groupBy(col("r_name").as("region"), col("o_orderdate").as("d"))
      // round on the 4-DECIMAL grid, not to cents: price×(1−disc) is
      // an exactly-4-decimal quantity, so its sums sit ON that grid
      // (round(4) is noise-immune — the value is ≥5e-5 from any
      // boundary) while round(2) hits exact half-cent TIES that the
      // two engines' accumulation noise breaks in opposite directions
      // (observed: 37/12.5k daily groups differed by a cent)
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("rev"))
      .withColumn("day_off", datediff(col("d"), lit("1992-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("region")).orderBy(col("day_off"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("trailing_7d", sum(col("rev")).over(w))
      .select(col("region"), col("d"),
        col("rev").as("daily_rev"),
        round(col("trailing_7d"), 4).as("trailing_7d_rev"))
      .orderBy(col("region"), col("d"))
  }

  /** q35 — the SQL-text entry point (every other query drives the
    * DataFrame API; a reference user also writes SQL): correlated
    * EXISTS (planned as a left-semi join — no row explosion) plus an
    * uncorrelated scalar subquery (planned as a one-row broadcast),
    * over registered temp views. Above-average orders that shipped at
    * least one returned line, counted per priority. */
  def q35ExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      """SELECT o_orderpriority AS priority, count(*) AS n_big_with_return
         FROM v_orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM v_orders)
           AND EXISTS (SELECT 1 FROM v_lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority
         ORDER BY priority""")
  }

  /** q36 — GROUPING SETS with an explicit set list ((year, priority),
    * (year), (priority)) — the mixed-granularity form neither ROLLUP
    * (q20) nor CUBE (q21) expresses: both marginals but no grand
    * total and no bare detail level. Spark plans it as the same
    * single Expand + hash-agg as rollup/cube — one shuffle for all
    * three granularities. */
  def q36Gsets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("order_year"),
              col("o_orderpriority").as("priority"), col("o_totalprice"))
    o.groupingSets(
        Seq(Seq(col("order_year"), col("priority")),
            Seq(col("order_year")), Seq(col("priority"))),
        col("order_year"), col("priority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spent"),
           count(lit(1)).as("n_orders"),
           grouping_id().cast("int").as("gid"))
      .select(coalesce(col("order_year"), lit(-1)).as("order_year"),
              coalesce(col("priority"), lit("ALL")).as("priority"),
              col("total_spent"), col("n_orders"), col("gid"))
      .orderBy(col("gid"), col("order_year"), col("priority"))
  }

  /** q37 — LEFT ANTI join (the inventory's last unexercised join
    * type): customers who never placed a 1-URGENT order, rolled up
    * per nation. (Plain "no orders at all" would be vacuously empty
    * on this data — every customer orders; the priority filter keeps
    * survivors at every SF so the anti semantics are actually
    * exercised.) The anti join shuffles only the two key
    * projections; the filter is pushed into the orders scan; nation
    * is a broadcast dim. */
  def q37Anti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val n = Tables.nation(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_idle_customers"),
           round(avg(col("c_acctbal")), 2).as("avg_acctbal"))
      .orderBy(col("nation"))
  }

  /** q38 — relative-rank window family (percent_rank / cume_dist /
    * ntile; the ranking forms q14's row_number and q26's decile
    * rework don't cover): suppliers ranked within their nation by
    * account balance. The window is PARTITIONED (per nation), so no
    * q26-style global sort exists at any supplier count; the
    * suppkey tie-break makes every rank deterministic. */
  def q38Rank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    val n = Tables.nation(spark, dir)
    Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      .withColumn("pct_rank", round(percent_rank().over(w), 4))
      .withColumn("cume", round(cume_dist().over(w), 4))
      .withColumn("quartile", ntile(4).over(w))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("s_suppkey").as("suppkey"),
              col("s_acctbal").as("acctbal"), col("pct_rank"), col("cume"),
              col("quartile"))
      .orderBy(col("nation"), col("suppkey"))
  }

  val ErrorWindowMicros: Long = 3600000000L

  /** q39 — the bucketed range join as an end-to-end query (the
    * operator itself is graft.operators.RangeJoin; until now it was
    * only spec/property-tested): every non-error event that falls
    * inside any same-user error window [error_ts, error_ts + 1 h],
    * counted per event type. Without the manufactured bucket key
    * Spark lowers the interval predicate to a nested-loop join; with
    * it the shuffle is |events| + |errors|·⌈span/width⌉ and all
    * comparisons are (user, bucket)-local. */
  def q39Range(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val points = e.filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_type"), col("event_id"),
              unix_micros(col("ts")).as("ev_us"))
    val intervals = e.filter(col("event_type") === "error")
      .select(col("user_id"), unix_micros(col("ts")).as("err_lo"),
              (unix_micros(col("ts")) + lit(ErrorWindowMicros)).as("err_hi"))
    graft.operators.RangeJoin
      .pointInInterval(points, intervals, "ev_us", "err_lo", "err_hi",
        width = ErrorWindowMicros, alsoEqual = Seq("user_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("event_id")).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** q40 — group-wise MODE with a deterministic tie-break (highest
    * count, then lowest value) next to the exact median: the
    * argmax-by-count aggregate the percentile family doesn't cover.
    * Scale shape: the wide aggregate is the (group, value) count —
    * map-side combined, cardinality |groups|×|domain| — and the mode
    * pick is a second-level aggregate over THAT (tiny). min_by over
    * a (-cnt, value) struct keeps the pick an aggregation, not a
    * ranking; no window touches the fact table. */
  def q40ModeMedian(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
    val counts = joined.groupBy(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val mode = counts.groupBy(col("n_name"))
      .agg(min_by(col("o_orderpriority"),
             struct((-col("cnt")).as("nc"), col("o_orderpriority"))).as("mode_priority"),
           sum(col("cnt")).as("n_orders"))
    // Median over integer CENTS, not dollars: the even-count
    // interpolation lands on half-cents, and Spark's (1-f)·lo + f·hi
    // vs DuckDB's lo + (hi-lo)·f differ in the last ulp of a dollar
    // double — observed flipping a round(2) by one cent. Over int64
    // cents both expressions are exact multiples of 0.5 (halves are
    // representable), so the engines agree bit-for-bit; one division
    // at the edge converts back (revenueSumExact discipline).
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val med = joined.groupBy(col("n_name"))
      .agg((percentile(cents, lit(0.5)) / 100.0).as("median_price"))
    mode.join(med, Seq("n_name")).orderBy(col("n_name"))
  }

  /** q41 — ordered set aggregate (LISTAGG/STRING_AGG): the sorted,
    * delimited roster per group. Spark has no ordered listagg, so
    * the deterministic form is collect_list → array_sort →
    * concat_ws — sortedness is imposed INSIDE the row after
    * collection, which makes the result independent of partial-
    * aggregation order (a bare collect_list would be
    * nondeterministic across runs and engines). Group state is the
    * group's own member list — fine for dimension-sized groups
    * (nations per region); an unbounded-group listagg at 100 TB is
    * a design smell, not a missing operator. */
  def q41Listagg(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
           concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
      .orderBy(col("r_name"))

  /** q42 — gaps and islands: per-customer runs of CONSECUTIVE active
    * months (a month is active when it has ≥ 1 order), reported as a
    * streak-length distribution. The classic island key is monthIndex
    * − row_number(): constant within a consecutive run, distinct
    * across runs. Scale shape: the window partitions by customer (a
    * per-customer handful of month rows after the distinct), and
    * both rollups are map-side-combined hash aggs — nothing global
    * is ever sorted except the tiny final distribution. */
  def q42Islands(spark: SparkSession, dir: String): DataFrame = {
    val months = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .distinct()
    val w = Window.partitionBy(col("c")).orderBy(col("mi"))
    val streaks = months
      .withColumn("grp", col("mi") - row_number().over(w))
      .groupBy(col("c"), col("grp"))
      .agg(count(lit(1)).as("streak_months"))
    streaks.groupBy(col("streak_months"))
      .agg(count(lit(1)).as("n_streaks"), countDistinct(col("c")).as("n_customers"))
      .orderBy(col("streak_months"))
  }

  /** q43 — month-spine gap fill with forward carry (the time-series
    * primitive behind "last known balance" reports): every (customer,
    * month) cell of a complete spine gets the customer's most recent
    * monthly spend, carried forward through empty months with
    * last_value(IGNORE NULLS). Reported per month: observed vs
    * filled cell counts and the carried total.
    *
    * Scale shape: the month spine is a ~tens-of-rows derived dim
    * (global min→max month, one 1-row agg) broadcast against the
    * distinct-customer list; the fill window partitions by customer
    * over |months| rows each. Carried sums run in integer CENTS and
    * divide once at the edge, so cross-engine addition order can't
    * move a cent (q40's median discipline). */
  def q43GapFill(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val perMonth = o.groupBy(col("o_custkey").as("c"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val span = o.agg(
      date_trunc("month", min(col("o_orderdate"))).cast("date").as("lo"),
      date_trunc("month", max(col("o_orderdate"))).cast("date").as("hi"))
    val spine = span.select(explode(sequence(col("lo"), col("hi"),
      expr("interval 1 month"))).as("m"))
    val custs = o.select(col("o_custkey").as("c")).distinct()
    val w = Window.partitionBy(col("c")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    custs.crossJoin(broadcast(spine))
      .join(perMonth, Seq("c", "m"), "left")
      .withColumn("carried", last(col("cents"), ignoreNulls = true).over(w))
      .groupBy(col("m").as("month_start"))
      .agg(count(lit(1)).as("n_customers"),
           count(col("cents")).as("n_observed"),
           sum(when(col("cents").isNull && col("carried").isNotNull, 1L)
             .otherwise(0L)).as("n_filled"),
           (sum(col("carried")) / 100.0).as("carried_total"))
      .orderBy(col("month_start"))
  }

  /** Column spec for q44: name → (kind used to pick an engine-exact
    * min/max text format). Shared by the Spark query and the oracle
    * builder so the two can't drift. */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "long", "l_partkey" -> "long", "l_suppkey" -> "long",
    "l_linenumber" -> "long", "l_quantity" -> "double",
    "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
    "l_returnflag" -> "string", "l_linestatus" -> "string", "l_shipdate" -> "date")

  /** Exposed for the plan-shape test (one pruned scan per column). */
  def profileColCount: Int = ProfileCols.size

  private def profileFmt(kind: String, c: Column): Column = kind match {
    case "long"   => format_string("%d", c)
    case "double" => format_string("%.2f", c)
    case "date"   => date_format(c, "yyyy-MM-dd")
    case _        => c
  }

  /** q44 — ANALYZE-style table profile (the stats pass every
    * warehouse runs before it trusts a new load): per column, null
    * count, exact distinct count, and min/max rendered through an
    * explicitly pinned format (raw double→string casts differ between
    * engines — Java flips to E-notation at 1e7, DuckDB never does —
    * so min/max go through printf-style formatting both engines
    * define identically).
    *
    * Shape: one branch PER COLUMN, unioned — each branch prunes the
    * parquet scan to its single column and plans the lone
    * countDistinct as a two-phase distinct agg with map-side dedup,
    * so each branch shuffles only its own NDV. The earlier
    * all-columns-in-one-agg form planned an Expand (12× row
    * replication, an 11-value-column shuffle key, no column pruning
    * win) and benched 23 s vs ~2 s for this shape at sf0.1; the
    * column-parallel union is also the right 100 TB shape — branches
    * schedule independently and the bytes read are identical
    * (columnar store: 11 one-column scans = one 11-column scan). The
    * production swap for NDV is approx_count_distinct (HLL, one
    * pass, no per-value shuffle) — IMPLEMENTED behind `approxNdv`
    * (e8's wide-flag precedent; Round13Spec measures the relative
    * error vs exact at both spec SFs); exact counts stay the gate
    * default because the oracle hash-checks them. */
  def q44Profile(spark: SparkSession, dir: String): DataFrame =
    q44ProfileOn(spark, dir, approxNdv = false)

  private[graft] def q44ProfileOn(spark: SparkSession, dir: String,
                                  approxNdv: Boolean): DataFrame = {
    val df = Tables.lineitem(spark, dir)
    val ndv: Column => Column =
      if (approxNdv) c => approx_count_distinct(c, graft.ext.TextAnalysis.ApproxNdvRsd)
      else c => countDistinct(c)
    ProfileCols.map { case (name, kind) =>
      df.agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(name))).as("n_nulls"),
          ndv(col(name)).as("n_distinct"),
          profileFmt(kind, min(col(name))).as("min_value"),
          profileFmt(kind, max(col(name))).as("max_value"))
        .select(lit(name).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionAll _).orderBy(col("column_name"))
  }

  /** q45 — cohort retention matrix (the signature growth-analytics
    * rollup): customers are cohorted by first-order month; each
    * (cohort, month-offset k ≤ 11) cell counts customers with ≥ 1
    * order k months after their cohort month. The (customer, month)
    * activity grid is distinct-ed first, so the cell count is a plain
    * count — no per-cell distinct Expand.
    *
    * Scale shape: three aggregates all keyed by customer or by the
    * tiny (cohort, k) grid — the activity distinct and the first-month
    * agg share the customer-keyed shuffle, cohort sizes are a
    * months-sized frame broadcast back onto the matrix. Nothing joins
    * fact-to-fact and nothing is globally sorted except the ≤
    * |months|·12-row result. */
  def q45Retention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .distinct()
    val first = act.groupBy(col("c")).agg(min(col("m")).as("cohort_month"))
    val sizes = first.groupBy(col("cohort_month"))
      .agg(count(lit(1)).as("cohort_size"))
    act.join(first, Seq("c"))
      .withColumn("month_offset",
        months_between(col("m"), col("cohort_month")).cast("int"))
      .filter(col("month_offset") <= 11)
      .groupBy(col("cohort_month"), col("month_offset"))
      // one row per (customer, month) by construction — count is the
      // distinct-customer count without countDistinct's Expand
      .agg(count(lit(1)).as("active_customers"))
      .join(broadcast(sizes), Seq("cohort_month"))
      .withColumn("retention_pct",
        round(col("active_customers") * 100.0 / col("cohort_size"), 2))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  val ConcurrencyGraceMicros: Long = 60L * 1000000 // sessions linger 60 s past their last event

  /** q46 — peak concurrency per day (the capacity-planning question
    * behind every "max concurrent users" dashboard): gap-based
    * sessions (st2's 30-minute rule, plus a 60 s grace so single-event
    * sessions occupy real time) become [start, end] intervals; each
    * day's peak is the max of the +1/−1 sweep over its clamped
    * intervals. Sessions spanning a boundary are split across the
    * slices they touch (explode of the hour span — bounded by session
    * length, ≤ 2-3 rows in practice).
    *
    * Scale shape: the sweep — the part that's a global sort in the
    * naive form — partitions by (DAY, HOUR): each window sees one
    * HOUR of one day's session endpoints (plan-asserted), so even a
    * single viral day splits across 24 partitions instead of
    * hot-spotting one; the per-day peak is then the max over its
    * hours' peaks, which is exact because a session carried into an
    * hour gets its +1 at the hour boundary (the same clamp trick that
    * splits days), so every hour's sweep attains the true running
    * count. Everything upstream is the user-keyed session window st2
    * already pays. All arithmetic is integer epoch-micros, so the
    * oracle hash-matches exactly (per-day answers identical to the
    * day-partitioned form — the refinement changes the partitioning,
    * not the function). */
  def q46Concurrency(spark: SparkSession, dir: String): DataFrame = {
    val gapMicros = graft.streaming.EventsStream.SessionGapMicros
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(wU))
      .withColumn("ns", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) >= gapMicros, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(wU))
    val sess = e.groupBy(col("user_id"), col("sid"))
      .agg(min(unix_micros(col("ts"))).as("m0"),
           (max(unix_micros(col("ts"))) + ConcurrencyGraceMicros).as("m1"))
    val hourMicros = 3600000000L
    val spanned = sess
      .withColumn("hour", explode(sequence(
        date_trunc("hour", timestamp_micros(col("m0"))),
        date_trunc("hour", timestamp_micros(col("m1"))),
        expr("interval 1 hour"))))
      .withColumn("day", to_date(col("hour")))
      .withColumn("h0", unix_micros(col("hour")))
      .withColumn("s", greatest(col("m0"), col("h0")))
      .withColumn("t", least(col("m1"), col("h0") + lit(hourMicros) - 1))
    val deltas = spanned
      .select(col("day"), col("hour"), col("s").as("m"), lit(1L).as("delta"))
      .unionAll(spanned
        .select(col("day"), col("hour"), col("t").as("m"), lit(-1L).as("delta")))
    // +1 sorts BEFORE −1 at an equal instant: intervals are CLOSED
    // ([s, t] via the h0+3600000000−1 clamp), so a session ending at
    // X and one starting at X are both active at X — and a slice whose
    // clamped interval collapses to [h0, h0] still peaks at ≥ 1
    val wH = Window.partitionBy(col("day"), col("hour"))
      .orderBy(col("m"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("c", sum(col("delta")).over(wH))
      .groupBy(col("day"))
      .agg(max(col("c")).as("max_concurrent"))
      // a session touches each of its days once, so distinct (user,
      // sid) per day = the sessions-touching-day census the day-
      // exploded form counted directly
      .join(spanned.groupBy(col("day"))
        .agg(countDistinct(col("user_id"), col("sid")).as("n_sessions")), Seq("day"))
      .select(col("day"), col("n_sessions"), col("max_concurrent"))
      .orderBy(col("day"))
  }

  /** q47 — SCD2 point-in-time (as-of) resolution: every fact row
    * joins to the dimension VERSION that was valid on its date — the
    * query SCD2 history exists to serve (q25 builds the history;
    * this consumes it). Versions are non-overlapping per customer,
    * so the range join matches ≤ 1 version per order and row counts
    * are preserved; orders before the first version land in an
    * explicit '(pre-history)' bucket rather than vanishing (st6's
    * non-vacuous UNKNOWN discipline).
    *
    * Scale shape: the history is dimension-sized and broadcasts; the
    * range predicate rides the customer-key equi-join as a cheap
    * residual filter — never a non-equi join on its own. */
  def q47Scd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val h = q25Scd2History(spark, dir)
      .select(col("customer_id").as("h_cust"), col("priority"),
        col("effective_date"), col("end_date"))
    Tables.orders(spark, dir)
      .select(col("o_custkey").as("customer_id"),
        col("o_orderdate").cast("date").as("od"), col("o_totalprice"))
      .join(broadcast(h),
        col("customer_id") === col("h_cust") &&
          col("od") >= col("effective_date") && col("od") < col("end_date"),
        "left")
      .groupBy(coalesce(col("priority"), lit("(pre-history)")).as("priority_at_order"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("priority_at_order"))
  }

  /** q48 — year-over-year with CALENDAR alignment: month m compares
    * to the same calendar month one year back via add_months(m, −12)
    * (the reference's own q5.4 tried this with string-key arithmetic
    * and bought the month+1 year bug — SURVEY §1.4 quirk 4; a real
    * date type is the fix). Revenue in integer cents (q40's money
    * discipline) so the self-join compare is exact; months with no
    * prior-year twin report a null pct, kept explicit. One monthly
    * aggregate, self-joined month→month−12 — dimension-sized both
    * sides, broadcastable at any fact scale. */
  def q48Yoy(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val prev = monthly.select(col("m").as("pm"), col("cents").as("prev_cents"))
    monthly.join(prev, add_months(col("m"), -12) === col("pm"), "left")
      .select(col("m").as("month_start"),
        (col("cents") / 100.0).as("revenue"),
        (col("prev_cents") / 100.0).as("revenue_prior_year"),
        round((col("cents") - col("prev_cents")) * 100.0 / col("prev_cents"), 2)
          .as("yoy_pct"))
      .orderBy(col("month_start"))
  }

  /** q49 — Pareto / ABC classification (the inventory-management
    * classic: class A = products covering the first 80% of revenue,
    * B to 95%, C the tail). The global cumulative — a single-
    * partition window in the naive form, q26's scale-killer — runs
    * as a TWO-LEVEL scan instead: decile boundaries (tiny exact-
    * percentile agg, broadcast) assign each product a value-disjoint
    * bucket; bucket totals (10 rows) self-join into per-bucket
    * offsets; the running sum windows WITHIN each bucket and adds
    * its offset. Because buckets are value-disjoint and the
    * intra-bucket order matches the global (cents desc, key) order,
    * the two-level cumulative equals the global one exactly — and
    * every class decision is an integer cross-multiply
    * (cum·100 ≤ 80·total), never a float share. */
  def q49Pareto(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("cents"))
    // approx_percentile, not exact: boundaries only need to be SOME
    // value-disjoint cut set (the cumulative is exact for any), and
    // the sketch is mergeable/bounded-memory where exact percentile
    // buffers the whole catalog in one final aggregation buffer
    val bounds = rev.agg(expr(
      "approx_percentile(cents, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 1000)")
      .as("bs"))
    val bucketed = rev.crossJoin(broadcast(bounds))
      .withColumn("bucket", size(filter(col("bs"), b => b < col("cents")))).drop("bs")
    val totals = bucketed.groupBy(col("bucket")).agg(sum(col("cents")).as("bc"))
    val offsets = totals.as("x")
      .join(totals.select(col("bucket").as("yb"), col("bc").as("ybc")).as("y"),
        col("yb") > col("bucket"), "left")
      .groupBy(col("bucket")).agg(coalesce(sum(col("ybc")), lit(0L)).as("off"))
    val tot = rev.agg(sum(col("cents")).as("t"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(desc("cents"), col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", col("off") + sum(col("cents")).over(w))
      .crossJoin(broadcast(tot))
      // reduced-fraction cross-multiplies (×5/×4 and ×20/×19, not
      // ×100/×80): overflow headroom to ~4.6e17 cents of total
      // revenue ($4.6 quadrillion) — st8's documented-magnitude rule
      .withColumn("pareto_class",
        when(col("cum") * 5 <= col("t") * 4, "A")
          .when(col("cum") * 20 <= col("t") * 19, "B")
          .otherwise("C"))
      .groupBy(col("pareto_class"))
      .agg(count(lit(1)).as("n_products"),
           (sum(col("cents")) / 100.0).as("class_revenue"),
           round(sum(col("cents")) * 100.0 / max(col("t")), 2).as("share_pct"))
      .orderBy(col("pareto_class"))
  }

  /** q50 — revenue bridge (the period-over-period decomposition every
    * revenue review runs): the 1996→1997 change split by customer
    * class — NEW (no 1996 spend; a two-period bridge can't see
    * earlier history), CHURNED (no 1997 spend), EXPANDED, CONTRACTED,
    * FLAT — with each class's customer count and exact delta in
    * integer cents; class sums reconcile to the total change by
    * construction (spec-pinned). ONE scan: both periods come from a
    * single conditional aggregation over the year-filtered fact —
    * no self-join, no second fact read. */
  def q50RevenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val yr = year(col("o_orderdate"))
    Tables.orders(spark, dir)
      .filter(yr.isin(1996, 1997))
      .groupBy(col("o_custkey").as("c"))
      .agg(sum(when(yr === 1996, cents).otherwise(0L)).as("ca"),
           sum(when(yr === 1997, cents).otherwise(0L)).as("cb"))
      .withColumn("bridge_class",
        when(col("ca") === 0, "1_new")
          .when(col("cb") === 0, "2_churned")
          .when(col("cb") > col("ca"), "3_expanded")
          .when(col("cb") < col("ca"), "4_contracted")
          .otherwise("5_flat"))
      .groupBy(col("bridge_class"))
      .agg(count(lit(1)).as("n_customers"),
           (sum(col("cb") - col("ca")) / 100.0).as("revenue_delta"))
      .orderBy(col("bridge_class"))
  }

  /** q51 — customer lifetime-value curve (q45's revenue companion):
    * average CUMULATIVE spend at k months since first order, averaged
    * over every customer whose tenure has reached k — including
    * customers silent in month k (their last cumulative carries
    * forward through a per-customer offset spine, q43's gap-fill
    * machinery at cohort grain). All money in integer cents; the
    * average divides two exact integers at the edge, so the curve
    * hash-matches.
    *
    * Scale shape: the spine is |customers| × tenure rows (bounded by
    * the calendar, not the fact table); the carry window partitions
    * by customer; the rollup is one offset-keyed agg. */
  def q51LtvCurve(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("mi"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val monthly = o.groupBy(col("c"), col("mi")).agg(sum(col("cents")).as("cents"))
    // derived from `monthly`, not the raw scan — spine and the join
    // both read monthly, so ReuseExchange shares one aggregation and
    // the raw fact is scanned once for the whole query
    val maxMi = monthly.agg(max(col("mi")).as("maxmi"))
    val spine = monthly.groupBy(col("c")).agg(min(col("mi")).as("m0"))
      .crossJoin(broadcast(maxMi))
      .select(col("c"), col("m0"),
        explode(sequence(lit(0), col("maxmi") - col("m0"))).as("month_offset"))
    val w = Window.partitionBy(col("c")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mRen = monthly.select(col("c").as("ac"), col("mi").as("ami"), col("cents"))
    spine
      .join(mRen,
        col("c") === col("ac") && col("m0") + col("month_offset") === col("ami"),
        "left")
      .withColumn("cum", sum(coalesce(col("cents"), lit(0L))).over(w))
      .groupBy(col("month_offset"))
      .agg(count(lit(1)).as("n_customers"),
           round((sum(col("cum")) / 100.0) / count(lit(1)), 2).as("avg_cum_spend"))
      .orderBy(col("month_offset"))
  }

  val SkewBuckets = 8

  /** q52 — the skew-join machinery under the correctness gate: orders
    * joined to a tiny priority dimension on `o_orderpriority` — five
    * distinct keys, each ~20% of the fact table, the textbook
    * hot-key shape AQE's partition-splitting can't always save (a
    * SINGLE key's rows all hash to one reducer; splitting helps only
    * after the fact). The join runs through
    * [[graft.operators.SkewJoin.salted]]: the fact side gets a
    * deterministic salt in [0, 8), the dim side is replicated 8×, and
    * the join key becomes (key, salt) — each hot key spreads over 8
    * partitions. Salting never changes multiplicity, so the rollup
    * hash-matches a plain-join oracle exactly (and Round5Spec pins
    * salted ≡ unsalted row-for-row plus the salt expansion in the
    * plan). Money in integer cents, divided once at the edge. */
  def q52SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val dim = Tables.orders(spark, dir)
      .select(col("o_orderpriority")).distinct()
      .withColumn("priority_class", substring(col("o_orderpriority"), 1, 1).cast("int"))
    graft.operators.SkewJoin.salted(o, dim, "o_orderpriority", SkewBuckets)
      .groupBy(col("o_orderpriority"), col("priority_class"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("cents")) / 100.0, 2).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val ZProfileFiles = 16

  /** q53 — the physical-layout claim made driver-visible: rewrite
    * lineitem twice under the same file budget — a classic
    * single-column range sort (perfect for orderkey, scatters
    * partkey) and [[graft.operators.ZOrder]] on (orderkey, partkey) —
    * then probe both with a secondary-column predicate and report
    * whether the Morton layout touched FEWER files. File-touch counts
    * are engine-physical (no SQL mirror exists), so the gated row
    * carries what IS oracle-checkable: total/predicate row counts
    * (data integrity of the rewrite — the z-ordered copy holds
    * exactly the source's rows) plus the skip claim as a measured
    * boolean the oracle emits as a literal (q24's pattern). The
    * boolean is MARGIN-pinned — 2·touched(zorder) ≤ touched(linear),
    * not a bare `<` — because repartitionByRange boundaries come from
    * seed-varying sampling: the measured gap is 4-of-16 vs 16-of-16
    * (PhysicalLayoutSpec), so a 2× margin cannot flip on boundary
    * jitter while a one-file wobble under `<` could. Scratch files go
    * under a per-invocation unique dir, deleted before returning —
    * repeated or concurrent runs never clobber each other or leave
    * 2× lineitem in /tmp. The four driver-side scalars here are
    * bounded profile aggregates, not corpus data. */
  def q53ZorderProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE parquet scan feeds both layout rewrites (guide §6/§1.2):
    // each repartitionByRange pays a RangePartitioner sampling pass and
    // the z-order side adds its quantile-bounds aggregate, so the lazy
    // form re-scanned lineitem ~5× (2 sampling + bounds + 2 write
    // passes). The 3-column projection is checkpointed once; every
    // pass after reads local blocks.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .localCheckpoint()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_q53/${java.util.UUID.randomUUID()}"
    val linear = s"$base/linear"
    val zed = s"$base/zorder"
    try {
      // the two layout rewrites are INDEPENDENT jobs over the same
      // source — submit them from two driver threads so the second
      // job's tasks back-fill executors freed by the first job's tail
      // (guide §2.6), instead of paying two sequential task tails
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writes = Seq(
        Future {
          li.repartitionByRange(ZProfileFiles, col("l_orderkey"))
            .sortWithinPartitions(col("l_orderkey"))
            .write.mode("overwrite").parquet(linear)
        },
        // 4 bits = 16 rank buckets per column: granularity only needs
        // to resolve the 16-file budget; the default 8 bits costs a
        // 255-quantile sketch per column for no extra skipping here
        Future {
          graft.operators.ZOrder.writeZOrdered(li, zed,
            Seq("l_orderkey", "l_partkey"), numFiles = ZProfileFiles, bits = 4)
        })
      writes.foreach(Await.result(_, Duration.Inf))
      val pred = col("l_partkey").between(100, 120)
      def touched(p: String): Long =
        Tables.read(spark, p).filter(pred).select(input_file_name()).distinct().count()
      // the three probe jobs are independent too; the integrity counts
      // fuse into ONE scan of the z-ordered copy (count(when) ≡
      // filter.count: both count exactly the pred-true rows)
      val probes = (
        Future {
          Tables.read(spark, zed)
            .agg(count(lit(1)), count(when(pred, lit(1)))).collect()(0)
        },
        Future { touched(zed) },
        Future { touched(linear) })
      val zAgg = Await.result(probes._1, Duration.Inf)
      val (tz, tl) =
        (Await.result(probes._2, Duration.Inf), Await.result(probes._3, Duration.Inf))
      // all scalars are materialized HERE, so the finally-delete below
      // never races the returned DataFrame
      Seq((zAgg.getLong(0), zAgg.getLong(1), ZProfileFiles.toLong, tz * 2 <= tl))
        .toDF("n_rows", "n_pred_rows", "n_files", "zorder_localizes")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val BasketMinSupport = 2
  val BasketTopK = 50

  /** q54 — market-basket association rules (support / confidence /
    * lift) over parts co-purchased in the same order: the classic
    * retail-analytics extension of the reference's star-schema sales
    * rollups (reference README.md:207-258 stops at single-item
    * aggregates). Baskets are orders; items are the order's distinct
    * parts; a pair's support is how many baskets hold both.
    *
    * Scale shape: the only corpus-sized shuffle is the within-basket
    * self-join keyed on the ORDER key — fan-out is C(L,2) per basket,
    * bounded by basket size (max 13 items in this data; at 100 TB the
    * knob is a basket-size cap, exactly d3's hot-shingle rule: a
    * degenerate wholesale basket with 10k items would fan out 50M
    * pairs and is dropped or sampled, standard in production
    * basket mining). Item counts are |parts| rows (catalog-bounded,
    * broadcast), the basket count is a 1-row broadcast, and the
    * top-k is TakeOrderedAndProject — no global sort materializes.
    *
    * All ratios are integer ppm with truncating division (cross-
    * engine exact): lift_ppm = 1e6·pair·N div (cnt_a·cnt_b) — well
    * inside int64 (pair, N ≤ 2^24 here; the 100 TB form caps the
    * numerator at 1e6·2^31·2^31 only if baskets exceed 2^31, at
    * which point you shard the lift computation by pair hash). */
  def q54BasketLift(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
    val nBaskets = items.select(col("k")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemOrders = items.groupBy(col("p")).agg(count(lit(1)).as("c"))
    val pairs = items.as("a")
      .join(items.as("b"), col("a.k") === col("b.k") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("part_a"), col("b.p").as("part_b"))
      .agg(count(lit(1)).as("pair_orders"))
      .filter(col("pair_orders") >= BasketMinSupport)
    // itemOrders is catalog-sized (one row per distinct part) and grows
    // with the product catalog — never hint-broadcast it. The pairs side
    // is min-support-filtered and far smaller; leave side choice to AQE,
    // which broadcasts whichever side fits at the actual scale.
    pairs
      .join(itemOrders.select(col("p").as("part_a"), col("c").as("orders_a")), Seq("part_a"))
      .join(itemOrders.select(col("p").as("part_b"), col("c").as("orders_b")), Seq("part_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("part_a"), col("part_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"),
        expr("(1000000 * pair_orders) div orders_a").as("conf_ab_ppm"),
        expr("(1000000 * pair_orders * n_baskets) div (orders_a * orders_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
      .limit(BasketTopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q54_basket_lift"     -> (q54BasketLift _),
    "q53_zorder_profile"  -> (q53ZorderProfile _),
    "q52_skew_join"       -> (q52SkewJoin _),
    "q51_ltv_curve"       -> (q51LtvCurve _),
    "q50_revenue_bridge"  -> (q50RevenueBridge _),
    "q49_pareto"          -> (q49Pareto _),
    "q48_yoy"             -> (q48Yoy _),
    "q47_scd2_asof"       -> (q47Scd2Asof _),
    "q46_concurrency"     -> (q46Concurrency _),
    "q45_retention"       -> (q45Retention _),
    "q44_profile"         -> (q44Profile _),
    "q42_islands"         -> (q42Islands _),
    "q43_gap_fill"        -> (q43GapFill _),
    "q41_listagg"         -> (q41Listagg _),
    "q40_mode_median"     -> (q40ModeMedian _),
    "q36_gsets"           -> (q36Gsets _),
    "q37_anti"            -> (q37Anti _),
    "q38_rank"            -> (q38Rank _),
    "q39_range"           -> (q39Range _),
    "q35_exists_subquery" -> (q35ExistsSubquery _),
    "q34_trailing_window" -> (q34TrailingWindow _),
    "q33_funnel"          -> (q33Funnel _),
    "q30_full_outer"      -> (q30FullOuter _),
    "q31_pivot"           -> (q31Pivot _),
    "q32_unpivot"         -> (q32Unpivot _),
    "q26_spend_deciles"   -> (q26SpendDeciles _),
    "q25_scd2_history"    -> (q25Scd2History _),
    "q20_rollup"          -> (q20Rollup _),
    "q21_cube"            -> (q21Cube _),
    "q22_asof_join"       -> (q22AsofJoin _),
    "q23_percentiles"     -> (q23Percentiles _),
    "q24_approx_distinct" -> (q24ApproxDistinct _))

  private def profileFmtSql(kind: String, expr: String): String = kind match {
    case "long"   => s"printf('%d', $expr)"
    case "double" => s"printf('%.2f', $expr)"
    case "date"   => s"strftime($expr, '%Y-%m-%d')"
    case _        => expr
  }

  /** SCD2 history CTEs (ends with `hist` = customer_id, priority,
    * effective_date, end_date, is_current), shared by the q25 and
    * q47 oracles. */
  private val scd2HistCtes: String =
    """v1 AS (
           SELECT o_custkey AS customer_id, o_orderpriority AS priority FROM (
             SELECT o_custkey, o_orderpriority,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS r
             FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01') t WHERE r = 1),
         v2 AS (
           SELECT o_custkey AS customer_id, o_orderpriority AS priority FROM (
             SELECT o_custkey, o_orderpriority,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS r
             FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01') t WHERE r = 1),
         changed AS (
           SELECT v2.customer_id FROM v2 JOIN v1 USING (customer_id)
           WHERE v2.priority <> v1.priority),
         novel AS (
           SELECT customer_id FROM v2
           WHERE customer_id NOT IN (SELECT customer_id FROM v1)),
         hist AS (
           SELECT customer_id, priority,
                  DATE '1997-01-01' AS effective_date,
                  DATE '9999-12-31' AS end_date, true AS is_current
           FROM v1 WHERE customer_id NOT IN (SELECT customer_id FROM changed)
           UNION ALL
           SELECT v1.customer_id, v1.priority, DATE '1997-01-01', DATE '1999-01-01', false
           FROM v1 JOIN changed USING (customer_id)
           UNION ALL
           SELECT v2.customer_id, v2.priority, DATE '1999-01-01', DATE '9999-12-31', true
           FROM v2 JOIN changed USING (customer_id)
           UNION ALL
           SELECT v2.customer_id, v2.priority, DATE '1999-01-01', DATE '9999-12-31', true
           FROM v2 JOIN novel USING (customer_id))"""

  val oracles: Map[String, String] = Map(
    // q54: integer-ppm confidence/lift with truncating division —
    // bit-exact cross-engine; counts CAST back from HUGEINT
    "q54_basket_lift" ->
      s"""WITH i AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
         nb AS (SELECT count(DISTINCT k) AS n_baskets FROM i),
         c AS (SELECT p, count(*) AS c FROM i GROUP BY 1),
         pr AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS pair_orders
                FROM i a JOIN i b ON a.k = b.k AND a.p < b.p
                GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport)
         SELECT part_a, part_b, pair_orders,
                ca.c AS orders_a, cb.c AS orders_b,
                CAST((1000000 * pair_orders) // ca.c AS BIGINT) AS conf_ab_ppm,
                CAST((1000000 * pair_orders * (SELECT n_baskets FROM nb))
                     // (ca.c * cb.c) AS BIGINT) AS lift_ppm
         FROM pr JOIN c ca ON ca.p = part_a JOIN c cb ON cb.p = part_b
         ORDER BY lift_ppm DESC, part_a, part_b LIMIT $BasketTopK""",
    // q53: row counts mirror the source table (the rewrite must hold
    // exactly the source's rows); the skip claim is a measured
    // boolean the oracle emits as a literal (q24's pattern), pinned
    // with a 2× file-count margin so range-sampling jitter can't flip it
    "q53_zorder_profile" ->
      """SELECT count(*) AS n_rows,
         count(*) FILTER (WHERE l_partkey BETWEEN 100 AND 120) AS n_pred_rows,
         CAST(16 AS BIGINT) AS n_files,
         TRUE AS zorder_localizes
         FROM lineitem""",
    // q52's salting is an execution-layout detail — multiplicity is
    // untouched, so the oracle is the PLAIN join
    "q52_skew_join" ->
      """WITH dim AS (
           SELECT DISTINCT o_orderpriority,
                  CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS priority_class
           FROM orders)
         SELECT o.o_orderpriority, d.priority_class,
                count(*) AS n_orders,
                round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                      / 100.0, 2) AS total_price
         FROM orders o JOIN dim d USING (o_orderpriority)
         GROUP BY 1, 2 ORDER BY o_orderpriority""",
    "q51_ltv_curve" ->
      """WITH o AS (
           SELECT o_custkey AS c,
                  year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         monthly AS (SELECT c, mi, CAST(sum(cents) AS BIGINT) AS cents
                     FROM o GROUP BY 1, 2),
         mx AS (SELECT max(mi) AS maxmi FROM o),
         f AS (SELECT c, min(mi) AS m0 FROM monthly GROUP BY 1),
         spine AS (
           SELECT f.c, f.m0, CAST(g.o AS BIGINT) AS month_offset
           FROM f, mx, LATERAL (SELECT unnest(range(mx.maxmi - f.m0 + 1)) AS o) g),
         joined AS (
           SELECT s.c, s.month_offset, COALESCE(m.cents, 0) AS cents
           FROM spine s
           LEFT JOIN monthly m ON m.c = s.c AND m.mi = s.m0 + s.month_offset),
         cum AS (
           SELECT c, month_offset,
                  sum(cents) OVER (PARTITION BY c ORDER BY month_offset
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM joined)
         SELECT CAST(month_offset AS INTEGER) AS month_offset,
                count(*) AS n_customers,
                round((CAST(sum(cum) AS BIGINT) / 100.0) / count(*), 2) AS avg_cum_spend
         FROM cum GROUP BY 1 ORDER BY month_offset""",
    "q50_revenue_bridge" ->
      """WITH pa AS (
           SELECT o_custkey AS c,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS ca
           FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
         pb AS (
           SELECT o_custkey AS c,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cb
           FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1),
         j AS (
           SELECT COALESCE(pa.c, pb.c) AS c,
                  COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
           FROM pa FULL OUTER JOIN pb ON pa.c = pb.c),
         cl AS (
           SELECT CASE WHEN ca = 0 THEN '1_new'
                       WHEN cb = 0 THEN '2_churned'
                       WHEN cb > ca THEN '3_expanded'
                       WHEN cb < ca THEN '4_contracted'
                       ELSE '5_flat' END AS bridge_class,
                  ca, cb
           FROM j)
         SELECT bridge_class, count(*) AS n_customers,
                CAST(sum(cb - ca) AS BIGINT) / 100.0 AS revenue_delta
         FROM cl GROUP BY 1 ORDER BY bridge_class""",
    // the oracle uses the plain global cumulative — the two-level
    // Spark form must equal it exactly (value-disjoint buckets +
    // matching intra-bucket order), which is the point of the check
    "q49_pareto" ->
      """WITH rev AS (
           SELECT l_partkey,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
         c AS (
           SELECT cents,
                  CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM rev),
         cl AS (
           SELECT CASE WHEN cum * 5 <= 4 * t THEN 'A'
                       WHEN cum * 20 <= 19 * t THEN 'B'
                       ELSE 'C' END AS pareto_class,
                  cents, t
           FROM c, tot)
         SELECT pareto_class, count(*) AS n_products,
                CAST(sum(cents) AS BIGINT) / 100.0 AS class_revenue,
                round(CAST(sum(cents) AS BIGINT) * 100.0 / min(t), 2) AS share_pct
         FROM cl GROUP BY 1 ORDER BY pareto_class""",
    "q48_yoy" ->
      """WITH m AS (
           SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM orders GROUP BY 1)
         SELECT a.m AS month_start,
                a.cents / 100.0 AS revenue,
                b.cents / 100.0 AS revenue_prior_year,
                round((a.cents - b.cents) * 100.0 / b.cents, 2) AS yoy_pct
         FROM m a LEFT JOIN m b ON b.m = a.m - INTERVAL 12 MONTH
         ORDER BY month_start""",
    "q46_concurrency" -> {
      val gap = graft.streaming.EventsStream.SessionGapMicros
      s"""WITH e AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         sflag AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN prev IS NULL
                        OR date_diff('microsecond', prev, ts) >= $gap
                       THEN 1 ELSE 0 END AS ns
           FROM e),
         sid AS (
           SELECT user_id, ts,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM sflag),
         sess AS (
           SELECT user_id, sid, min(epoch_us(ts)) AS m0,
                  max(epoch_us(ts)) + $ConcurrencyGraceMicros AS m1
           FROM sid GROUP BY 1, 2),
         spanned AS (
           SELECT s.user_id, s.sid, s.m0, s.m1,
                  CAST(d.day AS DATE) AS day,
                  epoch_us(CAST(CAST(d.day AS DATE) AS TIMESTAMP)) AS d0
           FROM sess s,
                LATERAL (SELECT unnest(generate_series(
                  CAST(make_timestamp(s.m0) AS DATE),
                  CAST(make_timestamp(s.m1) AS DATE),
                  INTERVAL 1 DAY)) AS day) d),
         clamped AS (
           SELECT day, greatest(m0, d0) AS s, least(m1, d0 + 86400000000 - 1) AS t
           FROM spanned),
         deltas AS (
           SELECT day, s AS m, 1 AS delta FROM clamped
           UNION ALL
           SELECT day, t AS m, -1 AS delta FROM clamped),
         sweep AS (
           SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY m, delta DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM deltas),
         peaks AS (SELECT day, CAST(max(c) AS BIGINT) AS max_concurrent
                   FROM sweep GROUP BY 1),
         ns AS (SELECT day, count(*) AS n_sessions FROM clamped GROUP BY 1)
         SELECT p.day, ns.n_sessions, p.max_concurrent
         FROM peaks p JOIN ns USING (day) ORDER BY p.day"""
    },
    "q45_retention" ->
      """WITH act AS (
           SELECT DISTINCT o_custkey AS c,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS m
           FROM orders),
         f AS (SELECT c, min(m) AS cohort_month FROM act GROUP BY 1),
         sz AS (SELECT cohort_month, count(*) AS cohort_size FROM f GROUP BY 1),
         cells AS (
           SELECT f.cohort_month,
                  datediff('month', f.cohort_month, a.m) AS month_offset,
                  count(*) AS active_customers
           FROM act a JOIN f USING (c)
           WHERE datediff('month', f.cohort_month, a.m) <= 11
           GROUP BY 1, 2)
         SELECT c.cohort_month, CAST(c.month_offset AS INTEGER) AS month_offset,
                c.active_customers, sz.cohort_size,
                round(c.active_customers * 100.0 / sz.cohort_size, 2) AS retention_pct
         FROM cells c JOIN sz USING (cohort_month)
         ORDER BY cohort_month, month_offset""",
    "q44_profile" -> ProfileCols.map { case (name, kind) =>
      s"""SELECT '$name' AS column_name, count(*) AS n_rows,
          count(*) - count($name) AS n_nulls,
          count(DISTINCT $name) AS n_distinct,
          ${profileFmtSql(kind, s"min($name)")} AS min_value,
          ${profileFmtSql(kind, s"max($name)")} AS max_value
          FROM lineitem"""
    }.mkString("", "\n         UNION ALL ", "\n         ORDER BY column_name"),
    "q42_islands" ->
      """WITH m AS (
           SELECT DISTINCT o_custkey AS c,
                  year(o_orderdate) * 12 + month(o_orderdate) AS mi
           FROM orders),
         s AS (SELECT c, mi - row_number() OVER (PARTITION BY c ORDER BY mi) AS grp
               FROM m),
         streaks AS (SELECT c, grp, count(*) AS streak_months FROM s GROUP BY 1, 2)
         SELECT streak_months, count(*) AS n_streaks,
                count(DISTINCT c) AS n_customers
         FROM streaks GROUP BY 1 ORDER BY streak_months""",
    "q43_gap_fill" ->
      """WITH pm AS (
           SELECT o_custkey AS c, CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM orders GROUP BY 1, 2),
         span AS (SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
                         CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
                  FROM orders),
         spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS m
                   FROM span),
         custs AS (SELECT DISTINCT o_custkey AS c FROM orders),
         filled AS (
           SELECT g.c, g.m, pm.cents,
                  last_value(pm.cents IGNORE NULLS) OVER (
                    PARTITION BY g.c ORDER BY g.m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
           FROM (SELECT c, m FROM custs CROSS JOIN spine) g
           LEFT JOIN pm ON pm.c = g.c AND pm.m = g.m)
         SELECT m AS month_start, count(*) AS n_customers,
                count(cents) AS n_observed,
                CAST(sum(CASE WHEN cents IS NULL AND carried IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                CAST(sum(carried) AS BIGINT) / 100.0 AS carried_total
         FROM filled GROUP BY 1 ORDER BY month_start""",
    "q41_listagg" ->
      """SELECT r_name, count(*) AS n_nations,
                string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q40_mode_median" ->
      """WITH j AS (
           SELECT n_name, o_orderpriority, o_totalprice
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey),
         counts AS (
           SELECT n_name, o_orderpriority, count(*) AS cnt
           FROM j GROUP BY 1, 2),
         md AS (
           SELECT n_name, o_orderpriority AS mode_priority,
                  row_number() OVER (PARTITION BY n_name
                    ORDER BY cnt DESC, o_orderpriority) AS r
           FROM counts),
         tot AS (SELECT n_name, CAST(sum(cnt) AS BIGINT) AS n_orders
                 FROM counts GROUP BY 1),
         med AS (SELECT n_name,
                        quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) / 100.0
                          AS median_price
                 FROM j GROUP BY 1)
         SELECT t.n_name, m.mode_priority, t.n_orders, med.median_price
         FROM tot t
         JOIN (SELECT n_name, mode_priority FROM md WHERE r = 1) m USING (n_name)
         JOIN med USING (n_name)
         ORDER BY n_name""",
    "q36_gsets" ->
      """SELECT coalesce(CAST(EXTRACT(year FROM o_orderdate) AS INTEGER), -1) AS order_year,
         coalesce(o_orderpriority, 'ALL') AS priority,
         round(sum(o_totalprice),2) AS total_spent,
         count(*) AS n_orders,
         CAST(grouping(EXTRACT(year FROM o_orderdate), o_orderpriority) AS INTEGER) AS gid
         FROM orders
         GROUP BY GROUPING SETS (
           (EXTRACT(year FROM o_orderdate), o_orderpriority),
           (EXTRACT(year FROM o_orderdate)),
           (o_orderpriority))
         ORDER BY gid, order_year, priority""",
    "q37_anti" ->
      """SELECT n_name AS nation, count(*) AS n_idle_customers,
                round(avg(c_acctbal), 2) AS avg_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY nation""",
    "q38_rank" ->
      """WITH r AS (
           SELECT s_suppkey, s_nationkey, s_acctbal,
                  round(percent_rank() OVER w, 4) AS pct_rank,
                  round(cume_dist() OVER w, 4) AS cume,
                  ntile(4) OVER w AS quartile
           FROM supplier
           WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey))
         SELECT n_name AS nation, s_suppkey AS suppkey, s_acctbal AS acctbal,
                pct_rank, cume, quartile
         FROM r JOIN nation ON s_nationkey = n_nationkey
         ORDER BY nation, suppkey""",
    "q39_range" ->
      s"""WITH err AS (
           SELECT user_id, ts FROM events WHERE event_type = 'error')
         SELECT e.event_type, count(*) AS n_pairs,
                count(DISTINCT e.event_id) AS n_events
         FROM events e JOIN err r ON e.user_id = r.user_id
           AND e.ts >= r.ts
           AND date_diff('microsecond', r.ts, e.ts) <= $ErrorWindowMicros
         WHERE e.event_type <> 'error'
         GROUP BY 1 ORDER BY e.event_type""",
    "q35_exists_subquery" ->
      """SELECT o_orderpriority AS priority, count(*) AS n_big_with_return
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority
         ORDER BY priority""",
    "q34_trailing_window" ->
      """WITH daily AS (
           SELECT r_name AS region, o_orderdate AS d,
                  round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev,
                  date_diff('day', DATE '1992-01-01', o_orderdate) AS day_off
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT region, d, rev AS daily_rev,
                round(sum(rev) OVER (PARTITION BY region ORDER BY day_off
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS trailing_7d_rev
         FROM daily ORDER BY region, d""",
    "q33_funnel" ->
      s"""WITH t1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         t2 AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN t1 ON t1.user_id = e.user_id
           WHERE e.event_type = 'view' AND e.ts > t1.t1
             AND date_diff('microsecond', t1.t1, e.ts) <= $FunnelWindowMicros
           GROUP BY 1),
         t3 AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN t2 ON t2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2
             AND date_diff('microsecond', t2.t2, e.ts) <= $FunnelWindowMicros
           GROUP BY 1),
         steps AS (
           SELECT user_id, 1 AS step FROM t1
           UNION ALL SELECT user_id, 2 FROM t2
           UNION ALL SELECT user_id, 3 FROM t3)
         SELECT step, count(*) AS n_users_reaching
         FROM steps GROUP BY 1 ORDER BY step""",
    "q30_full_outer" ->
      """WITH a AS (
           SELECT o_orderdate AS d, count(*) AS n_urgent_orders
           FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
         b AS (
           SELECT l_shipdate AS d, count(*) AS n_returned_lines
           FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
         SELECT coalesce(a.d, b.d) AS d,
                coalesce(n_urgent_orders, 0) AS n_urgent_orders,
                coalesce(n_returned_lines, 0) AS n_returned_lines
         FROM a FULL OUTER JOIN b ON a.d = b.d
         ORDER BY d""",
    "q31_pivot" ->
      """SELECT o_orderpriority AS priority,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
                CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
                CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
         FROM orders GROUP BY 1 ORDER BY priority""",
    "q32_unpivot" ->
      """SELECT o_orderpriority AS priority, o_orderstatus AS status,
                count(*) AS n
         FROM orders
         WHERE o_orderstatus IN ('F', 'O', 'P')
         GROUP BY 1, 2 ORDER BY priority, status""",
    "q20_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
         coalesce(n_name, 'ALL') AS nation,
         sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) / 10000.0 AS revenue,
         count(*) AS n_lines,
         CAST(grouping(r_name, n_name) AS INTEGER) AS gid
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY gid, region, nation""",
    "q21_cube" ->
      """SELECT coalesce(CAST(EXTRACT(year FROM o_orderdate) AS INTEGER), -1) AS order_year,
         coalesce(o_orderpriority, 'ALL') AS priority,
         round(sum(o_totalprice),2) AS total_spent,
         count(*) AS n_orders,
         CAST(grouping(EXTRACT(year FROM o_orderdate), o_orderpriority) AS INTEGER) AS gid
         FROM orders
         GROUP BY CUBE(EXTRACT(year FROM o_orderdate), o_orderpriority)
         ORDER BY gid, order_year, priority""",
    "q22_asof_join" ->
      """WITH ev AS (SELECT user_id, ts, event_type FROM events WHERE event_type <> 'error'),
         err AS (SELECT user_id, ts AS err_ts FROM events WHERE event_type = 'error'),
         j AS (
           SELECT ev.event_type, ev.ts, err.err_ts
           FROM ev ASOF LEFT JOIN err
             ON ev.user_id = err.user_id AND ev.ts >= err.err_ts)
         SELECT event_type, count(*) AS n_events,
                count(err_ts) AS n_with_prior_error,
                round(avg(date_diff('microsecond', err_ts, ts)/1000000.0),1) AS avg_secs_since_error
         FROM j GROUP BY 1 ORDER BY event_type""",
    "q26_spend_deciles" -> {
      val caseSum = (1 to 9)
        .map(k => s"(CASE WHEN total_spent < b$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH spend AS (
           SELECT o_custkey AS customer_id, round(sum(o_totalprice),2) AS total_spent
           FROM orders GROUP BY 1),
         bounds AS (
           SELECT ${(1 to 9).map(k => s"quantile_cont(total_spent, 0.$k) AS b$k").mkString(", ")}
           FROM spend),
         assigned AS (
           SELECT total_spent, 1 + $caseSum AS decile
           FROM spend, bounds),
         by_decile AS (
           SELECT decile, count(*) AS n, round(sum(total_spent),2) AS decile_spent
           FROM assigned GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM by_decile),
         cum AS (
           SELECT a.decile, a.n, a.decile_spent, CAST(sum(b.n) AS BIGINT) AS cum_n
           FROM by_decile a JOIN by_decile b ON b.decile <= a.decile
           GROUP BY 1, 2, 3)
         SELECT decile, n AS n_customers, decile_spent,
                round((cum_n - n) * 1.0 / (n_total - 1), 4) AS min_pct_rank,
                round(cum_n * 1.0 / n_total, 4) AS max_cume
         FROM cum, tot ORDER BY decile"""
    },
    "q25_scd2_history" ->
      s"""WITH $scd2HistCtes
         SELECT customer_id, priority, effective_date, end_date, is_current
         FROM hist ORDER BY customer_id, effective_date""",
    "q47_scd2_asof" ->
      s"""WITH $scd2HistCtes,
         o AS (SELECT o_custkey AS customer_id, CAST(o_orderdate AS DATE) AS od,
                      o_totalprice
               FROM orders)
         SELECT COALESCE(h.priority, '(pre-history)') AS priority_at_order,
                count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
         FROM o LEFT JOIN hist h ON h.customer_id = o.customer_id
           AND o.od >= h.effective_date AND o.od < h.end_date
         GROUP BY 1 ORDER BY priority_at_order""",
    "q23_percentiles" ->
      """SELECT o_orderpriority,
         round(quantile_cont(o_totalprice, 0.5),2) AS median_price,
         round(quantile_cont(o_totalprice, 0.9),2) AS p90_price,
         count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    // q24: the raw HLL values differ across engines, so the gated form
    // emits exact counts + within-5% booleans; the oracle's booleans
    // are literals, valid because the sketch error is spec-pinned <5%
    // (exact-integer cross-multiply on the Spark side, no float eps).
    "q24_approx_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_orderkey) AS exact_orders,
         count(DISTINCT l_partkey) AS exact_parts,
         TRUE AS orders_within_5pct,
         TRUE AS parts_within_5pct
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")
}

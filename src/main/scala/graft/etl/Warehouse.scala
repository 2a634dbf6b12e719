package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Star-schema builders for the retail warehouse (reference:
  * README.md:38-147 dimensional model). Dimensions are generated or
  * distinct-projected from cleaned staging with deterministic
  * xxhash64 surrogate keys (SURVEY §2.8 F10: hash keys, not
  * monotonically_increasing_id, so re-loads and the oracle agree);
  * facts join staging to dims on natural keys (README.md:171-173 J8)
  * — all dim joins broadcast at any scale since dims are small
  * relative to the fact.
  */
object Warehouse {

  // ---------------------------------------------------------------
  // Generated dimensions
  // ---------------------------------------------------------------

  /** DimDate at day grain, key "DDMMYYYY" string (README.md:50-52;
    * key encoding per SURVEY §1.4 quirk 1). Generated from the domain
    * with sequence+explode — never scanned from the fact. */
  def dimDate(spark: SparkSession, from: String, to: String): DataFrame = {
    spark.range(1).select(
        explode(sequence(
          lit(from).cast(DateType), lit(to).cast(DateType),
          expr("interval 1 day"))).as("date"))
      .select(
        date_format(col("date"), "ddMMyyyy").as("date_key"),
        col("date"),
        date_format(col("date"), "MMyyyy").as("month_key"),
        year(col("date")).as("year"),
        quarter(col("date")).as("quarter"),
        month(col("date")).as("month_num"),
        date_format(col("date"), "MMMM").as("month_name"),
        dayofmonth(col("date")).as("day_of_month"),
        dayofweek(col("date")).as("day_of_week"),
        date_format(col("date"), "EEEE").as("day_name"),
        dayofweek(col("date")).isin(1, 7).as("is_weekend"))
  }

  /** DimTimeOfDay at second grain, 86,400 generated rows, key
    * "SSMMHH" — SECONDS-FIRST (README.md:56; SURVEY §1.4 quirk 2).
    * Buckets per README.md:57. */
  def dimTimeOfDay(spark: SparkSession): DataFrame = {
    val h = (col("id") / 3600).cast(IntegerType)
    val m = ((col("id") % 3600) / 60).cast(IntegerType)
    val s = (col("id") % 60).cast(IntegerType)
    spark.range(86400).select(
        format_string("%02d%02d%02d", s, m, h).as("time_key"),
        h.as("hour_24"),
        m.as("minute"),
        s.as("second"),
        when(h < 6, "night").when(h < 12, "morning")
          .when(h < 18, "afternoon").otherwise("evening").as("time_bucket_period"))
  }

  /** DimMonth at month grain (README.md:190 `DimMonth m` — the
    * snapshot build's scaffold dimension): month_key "MMyyyy" string
    * (same encoding the fact carries), month_start/month_end, and
    * calendar attributes. */
  def dimMonth(spark: SparkSession, from: String, to: String): DataFrame =
    dimMonthSpan(spark.range(1).select(
      trunc(lit(from).cast(DateType), "month").as("m0"),
      trunc(lit(to).cast(DateType), "month").as("m1")))

  /** DimMonth spine from a one-row (m0, m1) bounds frame — the
    * dynamic form scaffolding queries use (q17): bounds come from a
    * tiny min/max aggregate, never a driver-side collect. */
  def dimMonthSpan(bounds: DataFrame): DataFrame =
    bounds.select(explode(sequence(col("m0"), col("m1"),
        expr("interval 1 month"))).as("month_start"))
      .select(
        date_format(col("month_start"), "MMyyyy").as("month_key"),
        col("month_start"),
        last_day(col("month_start")).as("month_end"),
        year(col("month_start")).as("year"),
        month(col("month_start")).as("month_num"),
        date_format(col("month_start"), "MMMM").as("month_name"))

  // ---------------------------------------------------------------
  // Staging-derived dimensions (surrogate key = xxhash64 of natural key)
  // ---------------------------------------------------------------

  private def surrogate(cols: Seq[String]): org.apache.spark.sql.Column =
    xxhash64(cols.map(col): _*)

  /** DimCustomer (README.md:62-67): surrogate + natural Customer_ID,
    * demographics, and derived first/last order dates + activity
    * status (README.md:64; SURVEY §2.5 W5/W6). */
  def dimCustomer(cleaned: DataFrame, activeWithinDays: Int = 90): DataFrame = {
    val attrs = cleaned
      .groupBy(col("Customer_ID").as("customer_id"))
      .agg(
        first(col("Name"), ignoreNulls = true).as("name"),
        first(col("Email"), ignoreNulls = true).as("email"),
        first(col("Age"), ignoreNulls = true).as("age"),
        first(col("Gender"), ignoreNulls = true).as("gender"),
        first(col("Income"), ignoreNulls = true).as("income"),
        first(col("Customer_Segment"), ignoreNulls = true).as("customer_segment"),
        min(to_date(col("Date"), "M/d/yyyy")).as("first_order_date"),
        max(to_date(col("Date"), "M/d/yyyy")).as("last_order_date"))
    val maxd = attrs.agg(max(col("last_order_date")).as("maxd"))
    attrs.crossJoin(broadcast(maxd))
      .withColumn("status",
        when(col("last_order_date") >= date_sub(col("maxd"), activeWithinDays), "active")
          .otherwise("inactive"))
      .drop("maxd")
      .withColumn("customer_key", xxhash64(col("customer_id")))
  }

  /** DimProduct with the Category→Brand→Type→Name hierarchy
    * (README.md:69-74). */
  def dimProduct(cleaned: DataFrame): DataFrame =
    cleaned.select(
        col("product_name"), col("Product_Category").as("product_category"),
        col("Product_Brand").as("product_brand"), col("Product_Type").as("product_type"))
      .distinct()
      .withColumn("product_key",
        surrogate(Seq("product_name", "product_category", "product_brand", "product_type")))

  /** DimLocation with Region→Country→State→City→Zipcode hierarchy
    * (README.md:76-81; region omitted in source → derived 'Unknown'). */
  def dimLocation(cleaned: DataFrame): DataFrame =
    cleaned.select(
        col("Country").as("country"), col("State").as("state"),
        col("City").as("city"), col("Zipcode").as("zipcode"))
      .distinct()
      .withColumn("location_key", surrogate(Seq("country", "state", "city", "zipcode")))

  /** DimPayment (README.md:83-85). */
  def dimPayment(cleaned: DataFrame): DataFrame =
    cleaned.select(col("Payment_Method").as("payment_method")).distinct()
      .withColumn("payment_key", surrogate(Seq("payment_method")))

  /** DimShipping with Service_Level→Speed_Tier→Method (README.md:87-91;
    * tiers derived from method name as the reference leaves the
    * mapping unspecified). */
  def dimShipping(cleaned: DataFrame): DataFrame =
    cleaned.select(col("Shipping_Method").as("shipping_method")).distinct()
      .withColumn("speed_tier",
        when(lower(col("shipping_method")).contains("express"), "fast")
          .when(lower(col("shipping_method")).contains("same"), "fast")
          .when(lower(col("shipping_method")).contains("standard"), "normal")
          .otherwise("other"))
      .withColumn("service_level",
        when(col("speed_tier") === "fast", "premium").otherwise("basic"))
      .withColumn("shipping_key", surrogate(Seq("shipping_method")))

  // ---------------------------------------------------------------
  // Facts
  // ---------------------------------------------------------------

  /** Fact_Sales_Transaction (README.md:95-106): one row per cleaned
    * staging line; surrogate-key lookups are broadcast joins on
    * natural keys (J8); degenerate transaction_id kept on the fact;
    * is_returned derived from Order_Status (README.md:105, P10).
    * Dim arguments are passed in (not rebuilt) so one set of dims
    * serves repeated loads. */
  def factSales(cleaned: DataFrame, product: DataFrame, location: DataFrame,
                payment: DataFrame, shipping: DataFrame): DataFrame = {
    cleaned
      .join(broadcast(product.select(col("product_key"),
          col("product_name").as("pn"), col("product_category").as("pc"),
          col("product_brand").as("pb"), col("product_type").as("pt"))),
        col("product_name") === col("pn") && col("Product_Category") === col("pc") &&
        col("Product_Brand") === col("pb") && col("Product_Type") === col("pt"), "left")
      .join(broadcast(location.select(col("location_key"),
          col("country").as("lco"), col("state").as("lst"),
          col("city").as("lci"), col("zipcode").as("lzi"))),
        col("Country") <=> col("lco") && col("State") <=> col("lst") &&
        col("City") <=> col("lci") && col("Zipcode") <=> col("lzi"), "left")
      .join(broadcast(payment.select(col("payment_key"), col("payment_method").as("pm"))),
        col("Payment_Method") === col("pm"), "left")
      .join(broadcast(shipping.select(col("shipping_key"), col("shipping_method").as("sm"))),
        col("Shipping_Method") === col("sm"), "left")
      .select(
        col("transaction_id"),
        xxhash64(col("Customer_ID")).as("customer_key"),
        col("date_key"), col("time_key"), col("month_key"),
        col("product_key"), col("location_key"), col("payment_key"), col("shipping_key"),
        col("quantity"),
        col("unit_price"),
        col("line_total_amount"),
        col("Ratings").as("rating"),
        (col("Order_Status") === "Returned").as("is_returned"))
  }

  /** Fact_Sales_Transaction via INLINE surrogate keys — the
    * scale-path twin of `factSales`. Because every surrogate is a
    * deterministic hash of natural-key columns already on the cleaned
    * frame (F10: that's why hash keys beat monotonically_increasing_id),
    * the dim lookups resolve without touching the dims at all: the
    * fact build becomes a single narrow projection — zero joins, zero
    * broadcast memory, and Catalyst can prune staging columns a query
    * never reads (the join form must materialize every natural key).
    *
    * Null semantics mirror the join form exactly (spec-asserted):
    * `===`-joined dims (product/payment/shipping) yield NULL keys when
    * any natural-key column is null — inline, a `when(isNotNull)`
    * guard; the null-safe `<=>` location join matches nulls, and
    * xxhash64 skips null inputs identically on both the dim build and
    * the inline hash, so location_key needs no guard. */
  def factSalesInline(cleaned: DataFrame): DataFrame =
    cleaned.select(
      col("transaction_id"),
      xxhash64(col("Customer_ID")).as("customer_key"),
      col("date_key"), col("time_key"), col("month_key"),
      when(col("product_name").isNotNull && col("Product_Category").isNotNull &&
           col("Product_Brand").isNotNull && col("Product_Type").isNotNull,
        xxhash64(col("product_name"), col("Product_Category"),
                 col("Product_Brand"), col("Product_Type"))).as("product_key"),
      xxhash64(col("Country"), col("State"), col("City"), col("Zipcode")).as("location_key"),
      when(col("Payment_Method").isNotNull,
        xxhash64(col("Payment_Method"))).as("payment_key"),
      when(col("Shipping_Method").isNotNull,
        xxhash64(col("Shipping_Method"))).as("shipping_key"),
      col("quantity"),
      col("unit_price"),
      col("line_total_amount"),
      col("Ratings").as("rating"),
      (col("Order_Status") === "Returned").as("is_returned"))

  /** Fact_Customer_MonthlySnapshot (README.md:110-117) in the
    * incremental window form the reference endorses at README.md:199
    * — NOT the cross-join scaffold (SURVEY §3.2). One hash shuffle
    * total: repartitioning on the customer key satisfies both the
    * (customer, month) aggregation and the running-sum window's
    * partitionBy(customer), so neither adds an Exchange.
    * customer_lifetime_spent is semi-additive (summable across
    * customers, never across months — README.md:115).
    *
    * Carries the snapshot grain's `location_key` (README.md:184
    * `SELECT … l.location_key`): the reference assumes one location
    * per customer ("Assuming Customer location"); min() picks a
    * deterministic representative if staging ever disagrees, keeping
    * the grain at (customer, month). The surrogate matches
    * dimLocation's (same columns, same order, same hash). */
  def factMonthlySnapshot(cleaned: DataFrame): DataFrame = {
    val monthly = cleaned
      .withColumn("d", to_date(col("Date"), "M/d/yyyy"))
      .repartition(xxhash64(col("Customer_ID")))
      .groupBy(
        xxhash64(col("Customer_ID")).as("customer_key"),
        date_format(col("d"), "MMyyyy").as("month_key"),
        date_trunc("month", col("d")).cast(DateType).as("month_start"))
      .agg(
        sum(col("line_total_amount")).as("month_total_spent"),
        countDistinct(col("transaction_id")).as("month_total_orders"),
        min(xxhash64(col("Country"), col("State"), col("City"), col("Zipcode")))
          .as("location_key"))
    val w = Window.partitionBy(col("customer_key")).orderBy(col("month_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly.withColumn("customer_lifetime_spent",
      sum(col("month_total_spent")).over(w))
  }

  /** Incremental month-append form of the snapshot — the processing
    * mode the reference itself endorses over full rebuilds at scale
    * (README.md:199-201 "derive monthly snapshots by incremental
    * processing"): given the existing snapshot (all earlier months)
    * and ONE month of cleaned staging, produce that month's rows.
    * customer_lifetime_spent = the customer's latest prior lifetime
    * (0 for first-ever activity) + this month's total.
    *
    * Scale: the new month's staging aggregates once; prior lifetimes
    * are a per-customer max_by over the snapshot — with the snapshot
    * month-partitioned, a production load maintains that as a compact
    * current-state table instead of re-scanning history, and the join
    * stays customer-keyed either way. A fold of this function over
    * months equals the full factMonthlySnapshot rebuild exactly
    * (spec-asserted). */
  def factMonthlySnapshotIncrement(prevSnapshot: DataFrame,
                                   monthStaging: DataFrame): DataFrame = {
    // the one-month precondition is load-bearing, not advisory: two
    // months in one batch would each take prior-lifetime + OWN total,
    // silently dropping the earlier month's spend from the later
    // month's lifetime. A tiny distinct-count guard beats corruption.
    val nMonths = monthStaging
      .select(date_trunc("month", to_date(col("Date"), "M/d/yyyy")).as("_m"))
      .distinct().count()
    require(nMonths <= 1,
      s"factMonthlySnapshotIncrement takes ONE month of staging, got $nMonths — " +
        "split the batch by month and fold in order")
    val monthly = monthStaging
      .withColumn("d", to_date(col("Date"), "M/d/yyyy"))
      .groupBy(
        xxhash64(col("Customer_ID")).as("customer_key"),
        date_format(col("d"), "MMyyyy").as("month_key"),
        date_trunc("month", col("d")).cast(DateType).as("month_start"))
      .agg(
        sum(col("line_total_amount")).as("month_total_spent"),
        countDistinct(col("transaction_id")).as("month_total_orders"),
        min(xxhash64(col("Country"), col("State"), col("City"), col("Zipcode")))
          .as("location_key"))
    val prevLife = prevSnapshot
      .groupBy(col("customer_key"))
      .agg(max_by(col("customer_lifetime_spent"), col("month_start")).as("_prev_life"))
    monthly
      .join(prevLife, Seq("customer_key"), "left")
      .withColumn("customer_lifetime_spent",
        coalesce(col("_prev_life"), lit(0.0)) + col("month_total_spent"))
      .drop("_prev_life")
  }

  // ---------------------------------------------------------------
  // Physical layout (SURVEY §4: partition facts by month; bucket
  // fact-fact join keys)
  // ---------------------------------------------------------------

  /** Month-partitioned fact layout: every month_key becomes a parquet
    * partition directory, so snapshot builds and date-range queries
    * read only the months they touch (PartitionFilters in the scan,
    * verified in WarehouseSpec). At 100 TB this is the difference
    * between scanning one month and scanning three years.
    *
    * The write hash-repartitions BY the partition column first:
    * without it, every upstream task writes a sliver into every month
    * — up to tasks×months small files (measured 2,560 at sf0.1, and
    * the star maintenance verbs paid 6-8s per invocation just opening
    * them). Each month lands in exactly one task, so every month dir
    * holds one part file. The partition count is EXPLICIT (the
    * session's shuffle partitions): AQE never coalesces an explicit-
    * count shuffle, whereas the count-less form let it merge a sub-MB
    * shuffle into ONE task that wrote all 80 months one after another.
    * The months spread over min(#months, shuffle partitions) writer
    * tasks. At 100 TB a hot month still gets one task; salt the key
    * (month_key, pmod(hash, k)) so it gets k files.
    *
    * Every month-partitioned fact write goes through here; under
    * [[withDynamicOverwrite]] it replaces only the months `fact`
    * carries. */
  def writeFactPartitioned(fact: DataFrame, path: String): Unit = {
    val writers = fact.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    fact.repartition(writers, col("month_key"))
      .write.partitionBy("month_key").mode("overwrite").parquet(path)
  }

  /** The per-month fact census — ONE definition of the (month_key,
    * n_rows, total_amount) rollup the star maintenance verbs serve
    * (q56 refresh, q57 retention, st24 stream loads share an oracle
    * census; a drifted copy would silently break that contract). */
  def monthCensus(fact: DataFrame): DataFrame =
    fact.groupBy(col("month_key"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("line_total_amount")), 2).as("total_amount"))
      .orderBy(col("month_key"))

  /** Run `body` with dynamic partition overwrite enabled, restoring
    * the session's previous setting after — the one save/set/restore
    * behind every partition-scoped overwrite (the star verbs and
    * st11's merge). */
  def withDynamicOverwrite[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** Partition-scoped ERASURE from a month-partitioned fact (q57's
    * mechanism, factored so the emptied-month law is testable on a
    * synthetic fact — the corpus never empties a month): repack only
    * the months holding victim rows (broadcast semi-join; untouched
    * months neither read nor written), then delete the months the
    * erasure EMPTIED. The emptied set is computed from the repack
    * plan BEFORE the write — dynamic overwrite never touches a
    * partition the repack wrote no rows for, so a post-write read
    * would see the ghost's old rows and report the month as still
    * populated, making the cleanup unreachable. Victims
    * join on `customer_key`. Returns the touched month keys. */
  def eraseFromPartitionedFact(spark: SparkSession, target: String,
                               schema: org.apache.spark.sql.types.StructType,
                               victims: DataFrame): Array[String] = {
    val standing = Tables.read(spark, schema, target)
    // ONE pass decides everything (touched months AND the emptied
    // subset): per month, total rows vs victim rows from a broadcast
    // left join — the earlier two-collect form paid a separate
    // fact-wide join per answer, and its left_semi month filter
    // defeated static partition pruning on the repack
    val marked = victims.select(col("customer_key")).distinct()
      .withColumn("_victim", lit(1))
    val stats = standing
      .join(broadcast(marked), Seq("customer_key"), "left")
      .groupBy(col("month_key"))
      .agg(count(lit(1)).as("_n"), count(col("_victim")).as("_nv"))
      .filter(col("_nv") > 0)
      .select(col("month_key"), (col("_n") === col("_nv")).as("_emptied"))
      .collect()
    val touchedKeys = stats.map(_.getString(0))
    if (touchedKeys.isEmpty) return touchedKeys
    val emptied = stats.filter(_.getBoolean(1)).map(_.getString(0))
    // static month list → the repack read prunes to touched partitions
    val repacked = standing
      .filter(col("month_key").isin(touchedKeys.toIndexedSeq: _*))
      .join(broadcast(marked.drop("_victim")), Seq("customer_key"), "left_anti")
    withDynamicOverwrite(spark) {
      repacked.write.mode("overwrite").partitionBy("month_key").parquet(target)
    }
    val tp = new org.apache.hadoop.fs.Path(target)
    val fs = org.apache.hadoop.fs.FileSystem.get(tp.toUri,
      spark.sparkContext.hadoopConfiguration)
    emptied.foreach { k =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$target/month_key=$k"), true)
    }
    touchedKeys
  }

  /** Freshness-gated REFRESH of a month-partitioned fact (q58's
    * mechanism, factored so the gate law is property-testable on
    * synthetic facts — [[eraseFromPartitionedFact]]'s precedent):
    * measure per-month drift between the standing warehouse at
    * `target` and `source`, FIRE every month whose row count differs
    * (missing rows AND surplus rows both fire — a double-applied load
    * is drift too), rewrite exactly the fired months from the source
    * via dynamic partition overwrite, and return the decision frame
    * (month_key, rows_stale, rows_source, late_rows, fired) —
    * MATERIALIZED, because its lineage reads the files the refresh
    * replaces. A month standing but absent from the source is a
    * RETRACTION, not staleness — q57/st25 own deletion; this gate
    * fires only months the source carries (the left join keeps a
    * wholly-missing month visible: rows_stale = 0, fired). Row counts
    * are the drift measure; a content-sensitive upgrade (same-count
    * row swaps) is the flagged mod-(2^61-1) census checksum — swap it
    * into the census when loads can do that. */
  def refreshDriftedMonths(spark: SparkSession, target: String,
                           schema: org.apache.spark.sql.types.StructType,
                           source: DataFrame): DataFrame = {
    val src = monthCensus(source)
      .select(col("month_key"), col("n_rows").as("rows_source"))
    val wh = monthCensus(Tables.read(spark, schema, target))
      .select(col("month_key"), col("n_rows").as("rows_stale"))
    val decision = src.join(wh, Seq("month_key"), "left")
      .na.fill(0L, Seq("rows_stale"))
      .withColumn("late_rows", col("rows_source") - col("rows_stale"))
      .withColumn("fired",
        when(col("rows_stale") =!= col("rows_source"), 1L).otherwise(0L))
      .localCheckpoint()
    // month-bounded driver state: the fired partition keys
    val fired = decision.filter(col("fired") === 1L)
      .select(col("month_key")).collect().map(_.getString(0))
    if (fired.nonEmpty) withDynamicOverwrite(spark) {
      writeFactPartitioned(
        source.filter(col("month_key").isin(fired.toIndexedSeq: _*)), target)
    }
    decision
  }

  /** Bucketed layout for fact⋈fact joins (SURVEY §3.3: lineitem⋈orders
    * is the one join where both sides are fact-sized). Both tables
    * bucketed+sorted on the join key into the same bucket count join
    * with NO Exchange and NO per-query Sort — the shuffle is paid once
    * at write time, amortized over every subsequent join. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int = 32): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .option("path", path).mode("overwrite").saveAsTable(table)

  /** Schema-evolution-tolerant fact read: merge the schemas of every
    * file generation (`mergeSchema` — columns added by later loads
    * appear as nulls in earlier files' rows) and then apply EXPLICIT
    * defaults for the evolved columns, so downstream aggregates never
    * see surprise nulls. The default map is the load's documented
    * evolution contract — relying on implicit nulls is how evolved
    * warehouses silently drop rows from filtered rollups (NULL
    * comparisons are never true). Scale note: mergeSchema reads every
    * file FOOTER at planning time; at very large file counts pin the
    * merged schema explicitly instead — same read path, no footer
    * sweep. */
  def readFactEvolved(spark: SparkSession, path: String,
                      defaults: Map[String, Any]): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    defaults.foldLeft(df) { case (d, (c, v)) =>
      // case-insensitive match (Spark resolution is); a column absent
      // from EVERY file generation still materializes as its default —
      // the contract holds for fully pre-evolution directories too
      d.columns.find(_.equalsIgnoreCase(c)) match {
        case Some(actual) => d.withColumn(actual, coalesce(col(actual), lit(v)))
        case None         => d.withColumn(c, lit(v))
      }
    }
  }

  // ---------------------------------------------------------------
  // SCD Type 2 (README.md:145-147)
  // ---------------------------------------------------------------

  /** SCD2 merge as a full-history rewrite (plain-parquet strategy,
    * SURVEY §7 risks): `current` carries effective_date/end_date/
    * is_current; `updates` is (naturalKey, attrs, as-of date). Rows
    * whose tracked attributes changed get their old version closed
    * (end_date = asOf) and a new open version appended; unchanged and
    * untouched rows pass through. Deterministic, idempotent for a
    * given asOf. */
  def scd2Merge(current: DataFrame, updates: DataFrame, naturalKey: String,
                trackedAttrs: Seq[String], asOf: String): DataFrame = {
    val upd = updates.select((naturalKey +: trackedAttrs).map(col): _*)
    val cur = current.filter(col("is_current"))

    // changed = open rows whose attrs differ from the incoming version
    val changeCond = trackedAttrs
      .map(a => !(col(s"c.$a") <=> col(s"u.$a")))
      .reduce(_ || _)
    val changedKeys = cur.as("c")
      .join(upd.as("u"), col(s"c.$naturalKey") === col(s"u.$naturalKey"))
      .filter(changeCond)
      .select(col(s"c.$naturalKey").as(naturalKey)).distinct()

    val closed = current.as("h")
      .join(broadcast(changedKeys.as("k")),
        col(s"h.$naturalKey") === col(s"k.$naturalKey"), "left_semi")
      .filter(col("is_current"))
      .withColumn("end_date", lit(asOf).cast(DateType))
      .withColumn("is_current", lit(false))
    val untouchedHistory = current.as("h")
      .join(broadcast(changedKeys.as("k")),
        col(s"h.$naturalKey") === col(s"k.$naturalKey"), "left_anti")
      .union(current.filter(!col("is_current"))
        .join(broadcast(changedKeys), Seq(naturalKey), "left_semi"))
    val fresh = upd
      .join(broadcast(changedKeys), Seq(naturalKey), "left_semi")
      .withColumn("effective_date", lit(asOf).cast(DateType))
      .withColumn("end_date", lit(null).cast(DateType))
      .withColumn("is_current", lit(true))

    // brand-new keys (not in current at all) also open a first version
    val novel = upd
      .join(current.select(col(naturalKey)).distinct(), Seq(naturalKey), "left_anti")
      .withColumn("effective_date", lit(asOf).cast(DateType))
      .withColumn("end_date", lit(null).cast(DateType))
      .withColumn("is_current", lit(true))

    val cols = current.columns.map(col).toSeq
    untouchedHistory.select(cols: _*)
      .union(closed.select(cols: _*))
      .union(fresh.select(cols: _*))
      .union(novel.select(cols: _*))
  }

  /** Seed an SCD2 table from an initial snapshot. */
  def scd2Init(snapshot: DataFrame, naturalKey: String, trackedAttrs: Seq[String],
               asOf: String): DataFrame =
    snapshot.select((naturalKey +: trackedAttrs).map(col): _*)
      .withColumn("effective_date", lit(asOf).cast(DateType))
      .withColumn("end_date", lit(null).cast(DateType))
      .withColumn("is_current", lit(true))
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.etl.{RetailClean, Warehouse}

class WarehouseSpec extends AnyFunSuite with GraftSuite {

  lazy val cleaned = {
    val df = RetailClean.clean(RetailClean.readStaging(
      spark, getClass.getResource("/retail_fixture.csv").getPath))
    df.cache(); df
  }

  test("dimDate: day grain, zero-padded keys, calendar attrs") {
    val d = Warehouse.dimDate(spark, "2023-12-30", "2024-01-02")
    assert(d.count() === 4)
    val rows = d.orderBy("date").collect()
    assert(rows.head.getAs[String]("date_key") === "30122023")
    assert(rows.last.getAs[String]("date_key") === "02012024")
    assert(rows.head.getAs[String]("month_key") === "122023")
    // 2023-12-30 is a Saturday
    assert(rows.head.getAs[Boolean]("is_weekend"))
    assert(rows.head.getAs[String]("day_name") === "Saturday")
  }

  test("dimTimeOfDay: 86400 seconds, seconds-first key, buckets") {
    val t = Warehouse.dimTimeOfDay(spark).cache()
    assert(t.count() === 86400)
    val noon = t.filter(col("hour_24") === 12 && col("minute") === 34 && col("second") === 56)
      .collect().head
    assert(noon.getAs[String]("time_key") === "563412")
    assert(noon.getAs[String]("time_bucket_period") === "afternoon")
    assert(t.select("time_key").distinct().count() === 86400)
  }

  test("staging-derived dims have unique surrogate keys") {
    Seq(
      Warehouse.dimCustomer(cleaned) -> "customer_key",
      Warehouse.dimProduct(cleaned) -> "product_key",
      Warehouse.dimLocation(cleaned) -> "location_key",
      Warehouse.dimPayment(cleaned) -> "payment_key",
      Warehouse.dimShipping(cleaned) -> "shipping_key"
    ).foreach { case (dim, key) =>
      val n = dim.count()
      assert(n > 0)
      assert(dim.select(key).distinct().count() === n, s"$key must be unique")
    }
  }

  test("factSales: one row per cleaned line, all FKs resolve, is_returned derived") {
    val fact = Warehouse.factSales(cleaned,
      Warehouse.dimProduct(cleaned), Warehouse.dimLocation(cleaned),
      Warehouse.dimPayment(cleaned), Warehouse.dimShipping(cleaned)).cache()
    assert(fact.count() === cleaned.count())
    Seq("product_key", "location_key", "payment_key", "shipping_key", "customer_key")
      .foreach { k => assert(fact.filter(col(k).isNull).count() === 0, s"$k unresolved") }
    // fixture tid 1009 has Order_Status=Returned
    assert(fact.filter(col("transaction_id") === 1009).collect().head.getAs[Boolean]("is_returned"))
    assert(fact.filter(col("transaction_id") === 1001).collect().head.getAs[Boolean]("is_returned") === false)
  }

  test("factSalesInline: row-for-row identical to the dim-join form") {
    val joined = Warehouse.factSales(cleaned,
      Warehouse.dimProduct(cleaned), Warehouse.dimLocation(cleaned),
      Warehouse.dimPayment(cleaned), Warehouse.dimShipping(cleaned))
    val inline = Warehouse.factSalesInline(cleaned)
    assert(inline.columns.toSeq === joined.columns.toSeq)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("transaction_id"), col("product_key"))
        .collect().map(_.toSeq).toSeq
    assert(key(inline) === key(joined))
    // and the inline form adds ZERO joins over the cleaning pipeline
    // itself (which keeps its one dedup anti-join) — the whole point.
    // (The join form's plan can't be counted here: the factSales test
    // above cached an identical plan, so cache substitution collapses
    // it to an InMemoryRelation.)
    def joins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    assert(joins(inline) === joins(cleaned), "inline fact must not add joins")
  }

  test("monthly snapshot: lifetime = running sum, semi-additive") {
    val snap = Warehouse.factMonthlySnapshot(cleaned).cache()
    // per customer, lifetime at the last month == total spend
    val last = snap.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("customer_key").orderBy(desc("month_start"))))
      .filter(col("rn") === 1)
      .agg(round(sum("customer_lifetime_spent"), 2)).collect().head.getDouble(0)
    val total = cleaned.agg(round(sum("line_total_amount"), 2)).collect().head.getDouble(0)
    assert(math.abs(last - total) < 1e-6)
    // monthly totals also sum to the grand total (additive measure)
    val monthlySum = snap.agg(round(sum("month_total_spent"), 2)).collect().head.getDouble(0)
    assert(math.abs(monthlySum - total) < 1e-6)
  }

  test("incremental snapshot fold equals the full rebuild, month by month") {
    val full = Warehouse.factMonthlySnapshot(cleaned)
    val months = cleaned
      .withColumn("_m", date_trunc("month", to_date(col("Date"), "M/d/yyyy")))
      .select("_m").distinct().collect().map(_.getTimestamp(0)).sorted
    assert(months.length > 1, "fixture must span multiple months")
    var snapshot = full.filter(lit(false)) // empty frame, full schema
    months.foreach { m =>
      val stagingMonth = cleaned.filter(
        date_trunc("month", to_date(col("Date"), "M/d/yyyy")) === lit(m))
      val appended = Warehouse.factMonthlySnapshotIncrement(snapshot, stagingMonth)
      snapshot = snapshot.select(appended.columns.toSeq.map(col): _*).union(appended)
        .localCheckpoint() // keep the fold's plan from nesting per month
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("customer_key"), col("month_key"), col("month_start"),
          round(col("month_total_spent"), 2), col("month_total_orders"),
          col("location_key"), round(col("customer_lifetime_spent"), 2))
        .orderBy(col("customer_key"), col("month_start"))
        .collect().map(_.toSeq).toSeq
    assert(canon(snapshot) === canon(full))
  }

  test("dimMonth: month grain, MMyyyy key, contiguous span") {
    val m = Warehouse.dimMonth(spark, "2023-11-15", "2024-02-03")
    assert(m.count() === 4) // Nov, Dec, Jan, Feb — bounds truncate to month
    val rows = m.orderBy("month_start").collect()
    assert(rows.head.getAs[String]("month_key") === "112023")
    assert(rows.last.getAs[String]("month_key") === "022024")
    assert(rows.head.getAs[java.sql.Date]("month_end").toString === "2023-11-30")
    assert(rows.last.getAs[String]("month_name") === "February")
  }

  test("monthly snapshot: location_key resolves against DimLocation") {
    val snap = Warehouse.factMonthlySnapshot(cleaned)
    val loc = Warehouse.dimLocation(cleaned)
    // every snapshot location_key is a real DimLocation surrogate
    val unresolved = snap.join(loc, Seq("location_key"), "left_anti")
    assert(unresolved.count() === 0)
    assert(snap.filter(col("location_key").isNull).count() === 0)
  }

  test("audit table: counts reconcile with the pipeline stages") {
    val raw = RetailClean.readStaging(
      spark, getClass.getResource("/retail_fixture.csv").getPath)
    val a = RetailClean.audit(raw, cleaned, loadId = "fixture")
      .collect().map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(a("rows_in") === raw.count())
    assert(a("rows_out") === cleaned.count())
    // in = out + every drop bucket (parse failures are dropped via the
    // null Date_dt landing in no group — they are a subset of rows kept
    // by the null filter, so the identity is in >= out + explicit drops)
    assert(a("rows_in") >= a("rows_out"))
    assert(a("rows_in") - a("rows_dropped_null") - a("rows_dropped_collision") === a("rows_out"))
    assert(a.keySet === Set("rows_in", "rows_dropped_null", "rows_parse_failed",
      "rows_dropped_collision", "rows_out"))
  }

  test("quarantine view reconciles exactly with the audit counts and clean()'s output") {
    val raw = RetailClean.readStaging(
      spark, getClass.getResource("/retail_fixture.csv").getPath)
    val q = RetailClean.quarantine(raw).cache()
    val a = RetailClean.audit(raw, cleaned, loadId = "fixture")
      .collect().map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(q.count() === a("rows_in"), "quarantine keeps every raw row")
    val byReason = q.groupBy(col("reject_reason")).count().collect()
      .map(r => Option(r.getString(0)).getOrElse("kept") -> r.getLong(1)).toMap
    assert(byReason.getOrElse("null_critical", 0L) === a("rows_dropped_null"))
    assert(byReason.getOrElse("id_collision", 0L) === a("rows_dropped_collision"))
    assert(byReason.getOrElse("kept", 0L) === a("rows_out"))
    assert(q.filter(col("parse_failed")).count() === a("rows_parse_failed"))
    // kept rows are clean()'s rows, by transaction line identity
    val keptIds = q.filter(col("reject_reason").isNull)
      .groupBy(col("transaction_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cleanIds = cleaned.groupBy(col("transaction_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keptIds === cleanIds)
    q.unpersist()
  }

  test("writeFactPartitioned: one part file per month, written by " +
    "min(#months, shuffle partitions) tasks") {
    val fact = graft.etl.RetailStar.servedStar(spark, dir).fact
    val months = fact.select("month_key").distinct().count().toInt
    val out = tempDir("wh_month_writer").resolve("fact").toString
    // (job group, task count of the job's result stage = its last-created stage)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull ->
          js.stageInfos.maxBy(_.stageId).numTasks)
    }
    def inGroup[T](group: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      inGroup("wh_month_writer")(Warehouse.writeFactPartitioned(fact, out))
      // events reach a listener in order: once the fence job is seen,
      // every job of the write has been seen
      inGroup("wh_month_writer_fence")(spark.sparkContext.parallelize(Seq(1), 1).count())
      eventually(timeout(Span(30, Seconds))) {
        assert(jobs.asScala.exists(_._1 == "wh_month_writer_fence"))
      }
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // the write job is the group's last: AQE materializes the shuffle first
      val write = jobs.asScala.filter(_._1 == "wh_month_writer").toSeq
      assert(write.nonEmpty && write.last._2 === math.min(months, partitions))
    } finally spark.sparkContext.removeSparkListener(listener)
    val monthDirs = fs(out).listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.getPath.getName.startsWith("month_key="))
    assert(monthDirs.length === months)
    monthDirs.foreach { m =>
      val parts = fs(out).listStatus(m.getPath).map(_.getPath.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length === 1, s"${m.getPath.getName}: ${parts.mkString(", ")}")
    }
  }

  test("SCD2: change closes old version and opens a new one") {
    import spark.implicits._
    val init = Seq((1L, "Low"), (2L, "High")).toDF("customer_id", "income")
    val hist0 = Warehouse.scd2Init(init, "customer_id", Seq("income"), "2023-01-01")
    val upd = Seq((1L, "Medium"), (2L, "High"), (3L, "Low")).toDF("customer_id", "income")
    val hist1 = Warehouse.scd2Merge(hist0, upd, "customer_id", Seq("income"), "2023-06-01").cache()

    // customer 1: two versions — closed Low + open Medium
    val c1 = hist1.filter(col("customer_id") === 1).orderBy("effective_date").collect()
    assert(c1.length === 2)
    assert(c1.head.getAs[String]("income") === "Low" && !c1.head.getAs[Boolean]("is_current"))
    assert(c1.head.getAs[java.sql.Date]("end_date").toString === "2023-06-01")
    assert(c1.last.getAs[String]("income") === "Medium" && c1.last.getAs[Boolean]("is_current"))
    // customer 2 unchanged: single open row
    val c2 = hist1.filter(col("customer_id") === 2).collect()
    assert(c2.length === 1 && c2.head.getAs[Boolean]("is_current"))
    // customer 3 novel: single open row effective at merge date
    val c3 = hist1.filter(col("customer_id") === 3).collect()
    assert(c3.length === 1 && c3.head.getAs[Boolean]("is_current"))
    assert(c3.head.getAs[java.sql.Date]("effective_date").toString === "2023-06-01")
    // exactly one open row per key, always
    val open = hist1.filter(col("is_current")).groupBy("customer_id").count()
      .filter(col("count") > 1)
    assert(open.count() === 0)
  }
}

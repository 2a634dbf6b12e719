package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Warehouse

/** Proof-of-scale checks on the physical layout helpers: these assert
  * on the PLAN, not just the rows — partition pruning must reach the
  * scan, and a bucketed fact⋈fact join must plan with no shuffle
  * exchange. On a cluster these properties are exactly what keeps the
  * same code viable at 100 TB, and they are checkable at any scale
  * because they are plan shapes, not timings.
  */
class PhysicalLayoutSpec extends AnyFunSuite with GraftSuite {

  lazy val tmp: String = tempDir("layout").toString

  test("month-partitioned fact scan prunes partitions") {
    val fact = Tables.orders(spark, dir)
      .withColumn("month_key", date_format(col("o_orderdate"), "MMyyyy"))
    Warehouse.writeFactPartitioned(fact, s"$tmp/fact_month")
    val pruned = spark.read.parquet(s"$tmp/fact_month")
      .filter(col("month_key") === "011998")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
           scan.contains("month_key"), s"no partition filter in plan:\n$scan")
    // pruning is real: the partition predicate never shows up as a data filter
    val full = spark.read.parquet(s"$tmp/fact_month")
    assert(pruned.count() > 0 && pruned.count() < full.count())
  }

  test("salted skew join returns exactly the plain join's rows") {
    import graft.operators.SkewJoin
    val li = Tables.lineitem(spark, dir)
    // simulate a hot key: route ~half the rows to one orderkey
    val skewed = li.withColumn("l_orderkey",
      when(col("l_linenumber") % 2 === 0, lit(7L)).otherwise(col("l_orderkey")))
    val o = Tables.orders(spark, dir)
      .withColumnRenamed("o_orderkey", "l_orderkey")
      .select(col("l_orderkey"), col("o_totalprice"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("s"))
        .orderBy(col("l_orderkey")).collect().toSeq
    val plain = canon(skewed.join(o, Seq("l_orderkey")))
    val saltedJ = canon(SkewJoin.salted(skewed, o, "l_orderkey", buckets = 8))
    assert(saltedJ === plain)
  }

  test("bucketed range join equals the naive cross-filter plan, without a nested loop") {
    import graft.operators.RangeJoin
    // points: event timestamps as epoch seconds; intervals: per-user
    // synthetic windows of varying span, including hi < lo (matches
    // nothing) and boundary-inclusive ends
    val pts = Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("p"))
    val iv = Tables.events(spark, dir)
      .filter(col("event_id") % 17 === 0)
      .select(col("event_id").as("iv_id"),
        unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + (col("event_id") % 5 - 1) * 3600000000L).as("hi"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("iv_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val naive = canon(pts.crossJoin(iv)
      .filter(col("p") >= col("lo") && col("p") <= col("hi")))
    val bucketed = canon(RangeJoin.pointInInterval(
      pts, iv, "p", "lo", "hi", width = 3600000000L))
    assert(bucketed.nonEmpty, "fixture produced no matches — widen the intervals")
    assert(bucketed === naive)
    // and the bucketed plan is a real equi-join, not a nested loop
    val plan = RangeJoin.pointInInterval(pts, iv, "p", "lo", "hi", width = 3600000000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"expected equi-join:\n$plan")
  }

  test("z-ordered layout localizes BOTH columns: secondary-column query touches fewer files") {
    import graft.operators.ZOrder
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_quantity")
    val files = 16
    val linear = s"$tmp/layout_linear"
    val zed = s"$tmp/layout_zorder"
    // layout A: classic single-column sort (perfect for orderkey,
    // scatters partkey); layout B: z-order on both
    li.repartitionByRange(files, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(linear)
    ZOrder.writeZOrdered(li, zed, Seq("l_orderkey", "l_partkey"), numFiles = files)
    def filesTouched(path: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(pred)
        .select(input_file_name()).distinct().count()
    val pred = col("l_partkey").between(100, 120)
    val a = filesTouched(linear, pred)
    val b = filesTouched(zed, pred)
    assert(a > 0 && b > 0, "predicate must match rows in both layouts")
    assert(b < a, s"z-order should localize partkey: linear=$a files, zorder=$b files")
    // and the z-ordered copy holds exactly the same rows
    assert(spark.read.parquet(zed).count() === li.count())
  }

  test("compaction collapses small files to the byte target, preserving rows exactly") {
    import graft.operators.Compact
    val cdir = s"$tmp/compact_me"
    val li = Tables.lineitem(spark, dir)
    li.repartition(64).write.mode("overwrite").parquet(cdir) // the small-files mess
    val (bytes, before) = Compact.stats(spark, cdir)
    assert(before === 64)
    // (l_orderkey, l_linenumber) is NOT unique in this corpus, so no
    // column sort is total — compare canonical multisets instead
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val want = canon(li.collect())
    // target a quarter of the data per file → expect 4 files
    Compact.compact(spark, cdir, targetBytes = bytes / 4 + 1)
    val (_, after) = Compact.stats(spark, cdir)
    assert(after <= 5 && after >= 3, s"expected ~4 files, got $after")
    val got = canon(spark.read.parquet(cdir).collect())
    assert(got === want)
  }

  test("schema evolution: merged read defaults the evolved column for pre-evolution files") {
    import graft.etl.Warehouse
    val dir = tempDir("evolve").toString
    import spark.implicits._
    // generation 1: no `channel` column; generation 2 adds it
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount")
      .write.mode("overwrite").parquet(s"$dir/load=1")
    Seq((3L, 30.0, "web")).toDF("id", "amount", "channel")
      .write.mode("overwrite").parquet(s"$dir/load=2")
    val df = Warehouse.readFactEvolved(spark, dir, Map("channel" -> "unknown"))
    val rows = df.orderBy("id").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[String]("channel")).toSeq === Seq("unknown", "unknown", "web"))
    // the defaulted column participates in filters — no NULL-dropped rows
    assert(df.filter(col("channel") =!= "web").count() === 2)
    // a column no file generation has yet still materializes as its
    // default (fully pre-evolution directory), and matching is
    // case-insensitive like Spark's own resolution
    val pre = Warehouse.readFactEvolved(spark, s"$dir/load=1",
      Map("channel" -> "unknown", "AMOUNT" -> 0.0))
    assert(pre.filter(col("channel") === "unknown").count() === 2)
    assert(pre.filter(col("amount") > 0).count() === 2)
  }

  test("bucketed fact-fact join plans with no Exchange and no Sort") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    Warehouse.writeBucketed(Tables.lineitem(spark, dir), "li_bucketed",
      s"$tmp/li_bucketed", "l_orderkey", buckets = 8)
    Warehouse.writeBucketed(
      Tables.orders(spark, dir).withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_bucketed", s"$tmp/o_bucketed", "l_orderkey", buckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), Seq("l_orderkey"))
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").last // below the final agg
      assert(joinSection.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!joinSection.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("st11 partition-scoped merge: a second merge rewrites ONLY touched " +
    "day partitions (untouched files byte-identical), and the flagged path " +
    "serves the same census as the whole-snapshot swap on the real corpus") {
    import graft.streaming.EventsStream
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    // constructed: batch 1 populates two day partitions, batch 2
    // refines only day 2 — day 1's files must not be touched
    val tgt = s"$tmp/st11_part"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val keys = Seq("window_start", "event_type")
    EventsStream.mergeIntoParquetPartitioned(tgt, keys)(
      Seq((ts("2024-01-01 00:00:00"), "view", 1L, 10.0),
          (ts("2024-01-02 00:00:00"), "view", 2L, 20.0))
        .toDF("window_start", "event_type", "n_events", "total_value"), 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(new Path(tgt).toUri,
      spark.sparkContext.hadoopConfiguration)
    def partFiles(day: String): Map[String, (Long, Long)] =
      fs.listStatus(new Path(s"$tgt/day=$day")).filter(_.isFile)
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    def bytesOf(day: String): Map[String, Seq[Byte]] =
      fs.listStatus(new Path(s"$tgt/day=$day")).filter(_.isFile).map { st =>
        val in = fs.open(st.getPath)
        val buf = new Array[Byte](st.getLen.toInt)
        in.readFully(0, buf); in.close()
        st.getPath.getName -> buf.toSeq
      }.toMap
    val d1Before = partFiles("2024-01-01")
    val d1Bytes = bytesOf("2024-01-01")
    EventsStream.mergeIntoParquetPartitioned(tgt, keys)(
      Seq((ts("2024-01-02 00:00:00"), "view", 5L, 50.0))
        .toDF("window_start", "event_type", "n_events", "total_value"), 1L)
    assert(partFiles("2024-01-01") === d1Before &&
      bytesOf("2024-01-01") === d1Bytes,
      "an untouched day partition's files changed across the merge")
    val served = spark.read.parquet(tgt)
      .select(col("window_start"), col("event_type"), col("n_events"))
      .collect().map(_.toString).toSet
    assert(served === Set(
      s"[2024-01-01 00:00:00.0,view,1]", s"[2024-01-02 00:00:00.0,view,5]"),
      s"merge semantics wrong under partition scope: $served")
    // flag equality on the real corpus (both forms run the full
    // stream + merge; the census must hash-match the gate's form)
    val full = EventsStream.st11SnapshotMerge(spark, dir)
      .collect().map(_.toString).toSet
    val part = EventsStream.st11SnapshotMergeVia(spark, dir, partitioned = true)
      .collect().map(_.toString).toSet
    assert(full.nonEmpty && part === full,
      "partition-scoped merge census != whole-snapshot swap census")
  }

  test("st11 partitioned merge: an empty micro-batch is a no-op — it neither " +
    "poisons a fresh target (schema-less dir) nor perturbs an existing one") {
    import graft.streaming.EventsStream
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val tgt = s"$tmp/st11_empty"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val keys = Seq("window_start", "event_type")
    val empty = Seq.empty[(java.sql.Timestamp, String, Long, Double)]
      .toDF("window_start", "event_type", "n_events", "total_value")
    // empty FIRST batch (watermark-advance on a restarted stream): the
    // target dir must not be created at all — a zero-row partitionBy
    // write leaves only _SUCCESS, wedging every later read
    EventsStream.mergeIntoParquetPartitioned(tgt, keys)(empty, 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(new Path(tgt).toUri,
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(tgt)),
      "an empty first batch must not create a schema-less target")
    EventsStream.mergeIntoParquetPartitioned(tgt, keys)(
      Seq((ts("2024-01-01 00:00:00"), "view", 1L, 10.0))
        .toDF("window_start", "event_type", "n_events", "total_value"), 1L)
    // empty LATER batch: snapshot byte-identical after the no-op
    def files(): Map[String, Long] =
      fs.listStatus(new Path(s"$tgt/day=2024-01-01")).filter(_.isFile)
        .map(st => st.getPath.getName -> st.getLen).toMap
    val before = files()
    EventsStream.mergeIntoParquetPartitioned(tgt, keys)(empty, 2L)
    assert(files() === before, "an empty batch changed the snapshot")
    assert(spark.read.parquet(tgt).count() === 1L)
  }

  test("st11 whole-snapshot merge: an empty micro-batch on an EXISTING " +
    "snapshot is a no-op (no rewrite, no swap), while on a fresh target it " +
    "still writes the readable empty snapshot the empty-input law needs") {
    import graft.streaming.EventsStream
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val tgt = s"$tmp/st11_whole_empty"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val keys = Seq("window_start", "event_type")
    val empty = Seq.empty[(java.sql.Timestamp, String, Long, Double)]
      .toDF("window_start", "event_type", "n_events", "total_value")
    val fs = org.apache.hadoop.fs.FileSystem.get(new Path(tgt).toUri,
      spark.sparkContext.hadoopConfiguration)
    // fresh target: the empty batch writes a schema-carrying snapshot
    EventsStream.mergeIntoParquet(tgt, keys)(empty, 0L)
    assert(fs.exists(new Path(tgt)) && spark.read.parquet(tgt).count() === 0L,
      "an empty first batch must produce a readable empty snapshot")
    EventsStream.mergeIntoParquet(tgt, keys)(
      Seq((ts("2024-01-01 00:00:00"), "view", 1L, 10.0))
        .toDF("window_start", "event_type", "n_events", "total_value"), 1L)
    // existing target: the no-op skip leaves every file byte-identical
    // (mtime included — the swap would replace them all)
    def files(): Map[String, (Long, Long)] =
      fs.listStatus(new Path(tgt)).filter(_.isFile)
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    val before = files()
    EventsStream.mergeIntoParquet(tgt, keys)(empty, 2L)
    assert(files() === before,
      "an empty batch on an existing snapshot must not rewrite or swap it")
    assert(spark.read.parquet(tgt).count() === 1L)
  }
}

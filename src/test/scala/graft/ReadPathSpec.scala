package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Warehouse

/** `Tables.read`/`schemaOf` answer exactly what `spark.read.parquet`
  * answers (schema, rows, errors), and resolve a read without a Spark
  * job: the schema comes from a footer read on the driver, and a local
  * tree is listed on the driver. */
class ReadPathSpec extends AnyFunSuite with GraftSuite {

  private def sameAsSpark(paths: String*): Unit = {
    val ours = Tables.read(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema === theirs.schema, paths)
    assert(Tables.schemaOf(spark, paths: _*) === theirs.schema, paths)
    assert(sortedRows(ours) === sortedRows(theirs), paths)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** An 80-month fact tree written by the one month writer, month keys
    * zero-padded MMyyyy strings as in the star. */
  private lazy val monthTree: (String, StructType) = {
    val fact = spark.range(800).select(
      col("id").as("sale_id"),
      (col("id") * 7 % 1000).as("amount_cents"),
      format_string("%02d%d", expr("id % 80 % 12 + 1"), expr("2018 + id % 80 div 12"))
        .as("month_key"))
    assert(fact.select("month_key").distinct().count() === 80)
    val target = tempDir("readpath_months").resolve("fact").toString
    Warehouse.writeFactPartitioned(fact, target)
    (target, fact.schema)
  }

  /** Spark jobs `body` starts on this thread, counted by a listener
    * under a job group of their own; a marker job run after `body`
    * flushes the listener bus up to that point. */
  private def jobsStartedBy(body: => Any): Int = {
    val group = s"readpath-${System.nanoTime()}"
    val marker = "readpath-marker"
    @volatile var seen = Vector.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group))
          seen :+= p.flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse("")
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try {
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      seen.indexOf(marker)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every fixture table reads as spark.read.parquet does; events under " +
    "nanosAsLong on and off") {
    for (t <- Tables.all if t != "events") sameAsSpark(s"$dir/$t.parquet")
    for (flag <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", flag)(sameAsSpark(s"$dir/events.parquet"))
  }

  test("an 80-month tree reads as spark.read.parquet does, schema-less and " +
    "schema-given") {
    val (target, schema) = monthTree
    sameAsSpark(target)
    val given = Tables.read(spark, schema, target)
    val theirs = spark.read.schema(schema).parquet(target)
    assert(given.schema === theirs.schema)
    assert(given.schema("month_key").dataType === StringType)
    assert(sortedRows(given) === sortedRows(theirs))
  }

  test("a multi-path ledger read picks Spark's footer: the path-sorted first " +
    "file, whatever the order the paths come in") {
    import spark.implicits._
    val root = tempDir("readpath_ledger")
    val a = root.resolve("w1").toString
    val b = root.resolve("w2").toString
    val c = root.resolve("w3").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "tag").write.parquet(a)
    Seq((3L, 30L)).toDF("id", "weight").write.parquet(b)
    Seq((4L, "z")).toDF("id", "tag").write.parquet(c)
    sameAsSpark(c, b, a)
    assert(Tables.read(spark, c, b, a).columns.toSeq === Seq("id", "tag"))
    sameAsSpark(b, c)
    assert(Tables.read(spark, b, c).columns.toSeq === Seq("id", "weight"))
  }

  test("a table dir holding _SUCCESS and _graft_schema.ddl beside its parts") {
    import spark.implicits._
    val table = tempDir("readpath_markers").resolve("table")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag").repartition(2)
      .write.parquet(table.toString)
    for (marker <- Seq("_SUCCESS", "_graft_schema.ddl") if !Files.exists(table.resolve(marker)))
      Files.write(table.resolve(marker), "id BIGINT,tag STRING".getBytes(UTF_8))
    sameAsSpark(table.toString)
  }

  test("an empty dir and a missing path fail as spark.read.parquet fails") {
    val root = tempDir("readpath_missing")
    val empty = Files.createDirectory(root.resolve("empty")).toString
    val markersOnly = Files.createDirectory(root.resolve("markers"))
    Files.write(markersOnly.resolve("_SUCCESS"), Array.emptyByteArray)
    val missing = root.resolve("missing").toString
    def failure(read: => Any): (Class[_], String) = {
      val e = intercept[Exception](read)
      (e.getClass, e.getMessage)
    }
    for (p <- Seq(empty, markersOnly.toString, missing))
      assert(failure(Tables.read(spark, p)) === failure(spark.read.parquet(p)), p)
    assert(failure(Tables.schemaOf(spark, missing).size) === failure(spark.read.parquet(missing)))
  }

  test("Tables.read starts no Spark job: not for a fixture table, not for the " +
    "80-month tree; the listing threshold is restored") {
    val (target, schema) = monthTree
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(key)
    assert(jobsStartedBy(Tables.read(spark, s"$dir/lineitem.parquet")) === 0)
    assert(jobsStartedBy(Tables.read(spark, target)) === 0)
    assert(jobsStartedBy(Tables.read(spark, schema, target)) === 0)
    assert(spark.conf.getOption(key) === before)
    // the listener sees what a plain read starts: inference + listing jobs
    assert(jobsStartedBy(spark.read.parquet(target)) >= 1)
  }
}

package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables are columnar parquet; reads are lazy and Catalyst pushes
  * filters/column pruning into the scan. At 100 TB the same call works
  * against a partitioned table root — nothing here assumes local paths.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** Every parquet read in `src/main` goes through [[read]] or
    * [[schemaOf]] (StoreSpec guards it), and starts no Spark job before
    * its first action:
    *  - a schema-less read takes its data schema from the one footer
    *    Spark's own inference would read, read on the driver
    *    ([[FooterSchema]]) instead of in a one-task job; when there is
    *    no such file (missing path, empty dir, markers only) the read
    *    goes to `spark.read.parquet` unchanged, so callers keep Spark's
    *    own error;
    *  - when every path is on the local `file:` filesystem, Spark lists
    *    the tree on the driver: above
    *    `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    *    directories it would start one listing task per directory (80
    *    for a month-partitioned fact). Other filesystems keep Spark's
    *    parallel listing, since an object store pays a round trip per
    *    directory. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    FooterSchema.infer(spark, paths) match {
      case Some(schema) => read(spark, schema, paths: _*)
      case None => listedOnDriver(spark, paths)(spark.read.parquet(paths: _*))
    }

  /** A read with its schema given: no inference, listing as [[read]]. */
  def read(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    listedOnDriver(spark, paths)(spark.read.schema(schema).parquet(paths: _*))

  /** `spark.read.parquet(paths).schema`, partition columns included. */
  def schemaOf(spark: SparkSession, paths: String*): StructType = read(spark, paths: _*).schema

  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private object ListingLock

  /** Resolve `relation` with the parallel-listing threshold lifted when
    * every path is local; saved and restored around the one call, under
    * a lock so that concurrent reads cannot restore each other's value. */
  private def listedOnDriver(spark: SparkSession, paths: Seq[String])(relation: => DataFrame): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!paths.forall(p => new Path(p).getFileSystem(conf).getUri.getScheme == "file")) relation
    else ListingLock.synchronized {
      val prev = spark.conf.getOption(ListingThreshold)
      spark.conf.set(ListingThreshold, Int.MaxValue.toString)
      try relation
      finally prev.fold(spark.conf.unset(ListingThreshold))(v => spark.conf.set(ListingThreshold, v))
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
    * drops and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others, so
    * the loader is representation-adaptive: nanos read as raw longs
    * (legacy conf) and truncate to micros — the same truncation DuckDB
    * applies — while micros NTZ casts to session-local TimestampType
    * (identity on the wall clock under the UTC session this library
    * pins). Downstream code always sees microsecond TimestampType. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }

  /** ts → microsecond TimestampType from any of the three shapes a
    * raw events read can produce (legacy nanos long / micros NTZ /
    * already-local timestamp). */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/`: epoch-nanos (~1.7e18) exceed double's
        // 2^53 exact range, so float division can land 1 µs off DuckDB's
        // exact integer truncation on unlucky values
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

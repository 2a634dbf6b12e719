package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured session for this
  * library — what a user switching from the reference warehouse
  * would call instead of hand-assembling the builder.
  *
  * Bundled configuration:
  *  - the Graft Catalyst extensions (FuseDotProduct rewrite; custom
  *    expressions register lazily per query);
  *  - shuffle parallelism sized to the core count, not Spark's
  *    200-partition default (AQE still coalesces below it at
  *    runtime — this sets the ceiling, which matters for the many
  *    small-aggregate queries here);
  *  - UTC session timezone so date/time keys are reproducible
  *    regardless of host zone (the oracle discipline requires it);
  *  - a fork-free local filesystem ([[NioLocalFileSystem]] for
  *    FileSystem callers, [[NioLocalFs]] for FileContext ones): file
  *    and dir permissions are set with one NIO call, not a forked
  *    `chmod` per file when Hadoop's native library is missing. Only
  *    the `file:` scheme changes; HDFS and object stores keep their
  *    own classes, and `.crc` files and permission bits are as
  *    before. Hadoop caches FileSystems by scheme, authority and
  *    user, not by configuration, so the JVM's first `file:`
  *    FileSystem fixes the class: one built from a bare
  *    `Configuration` before any through the session's keeps the
  *    stock class for the life of the JVM. Build the session first
  *    and reach files through its configuration.
  *
  * On a real cluster, callers replace `local[cores]` with their
  * master and keep the rest: none of the settings are
  * local-mode-specific.
  */
object GraftSession {

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .withExtensions(new graft.plans.GraftExtensions)

  /** Build-and-get with WARN logging (the runnable mains' default). */
  def create(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

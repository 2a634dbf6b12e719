package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.Tables

/** Small-file compaction — the maintenance op every incremental
  * warehouse needs: streaming upserts and per-batch appends
  * accumulate kilobyte-sized part files whose per-file open/footer
  * cost eventually dominates scans (at 100 TB, a million 1 MB files
  * is a listing problem before it is a read problem).
  *
  * Rewrites a parquet directory into ⌈totalBytes/targetBytes⌉ files.
  * `shuffle = false` (default) coalesces — merges co-located
  * partitions with NO shuffle; `shuffle = true` pays one round-robin
  * shuffle to rebalance skewed inputs evenly. The swap is
  * [[graft.store.swap]]: a crash at any point leaves either the old or
  * the new copy recoverable.
  */
object Compact {

  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** Current total bytes and file count of the parquet dir. */
  def stats(spark: SparkSession, dir: String): (Long, Int) = {
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    (parts.map(_.getLen).sum, parts.length)
  }

  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = DefaultTargetBytes,
              shuffle: Boolean = false): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + ".compact_tmp")
    val old = new Path(dir + ".compact_old")
    // a crash mid-swap may leave only the .compact_old copy — restore
    // it before stats() reads the directory
    graft.store.recover(fs, p, tmp, old)
    val (totalBytes, nFiles) = stats(spark, dir)
    // a partitioned table has its part files in key= subdirectories —
    // compacting it flat would silently drop the partition layout;
    // compact each partition directory instead
    require(nFiles > 0,
      s"no parquet part files directly under $dir — for a partitioned table, " +
        "compact each partition directory")
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = Tables.read(spark, dir)
    val out = if (shuffle) df.repartition(n) else df.coalesce(n)
    out.write.mode("overwrite").parquet(tmp.toString)
    graft.store.swap(fs, p, tmp, old)
  }
}

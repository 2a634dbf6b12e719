package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Schema inference for a schema-less parquet read, on the driver.
  *
  * `spark.read.parquet(paths)` reads one footer to learn its data
  * schema, and it reads it inside a one-task Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`). [[infer]] reads the
  * same footer on the calling thread through Spark's own
  * `ParquetFileFormat.readParquetFootersInParallel` and
  * `readSchema(footers, spark)`. Both are `private[parquet]`, so this
  * one-object shim lives in their package (the `graftshim` pattern).
  * `readSchema` builds its `ParquetToSparkSchemaConverter` from the
  * same five SQLConf flags, read at call time, as the job does
  * (binaryAsString, int96AsTimestamp, inferTimestampNTZ, nanosAsLong,
  * respectUnknownTypeAnnotation), so `spark.sql.legacy.parquet.
  * nanosAsLong` set just before a read applies exactly as it would.
  */
object FooterSchema {
  private val Common = ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  private val Meta = ParquetFileWriter.PARQUET_METADATA_FILE

  /** The data schema `spark.read.parquet(paths)` would infer, or None
    * when Spark's inference would find no file to read (a missing
    * path, an empty dir, a dir of markers only) or a path is no file
    * (a glob pattern); the caller then reads through Spark unchanged
    * and gets Spark's own error or glob expansion. */
  def infer(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      (fs, try Some(fs.getFileStatus(path)) catch { case _: FileNotFoundException => None })
    }
    if (roots.isEmpty || roots.exists(_._2.isEmpty)) None
    else pick(roots.map { case (fs, st) => (fs, st.get) }).flatMap { f =>
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(f), spark.sessionState.conf.ignoreCorruptFiles)
      ParquetFileFormat.readSchema(footers, spark)
    }
  }

  /** The file Spark's non-merging inference reads (`ParquetUtils.
    * inferSchema`): over the files its listing keeps, sorted by path,
    * the first `_common_metadata`, else the first `_metadata`, else the
    * first data file. Summary files are looked for at the top of each
    * path, where Parquet's output committer writes them. Data files
    * are found by a walk in full-path order that stops at the first:
    * a directory sorts as `name/`, and only partition directories
    * (`k=v`) are entered, since Spark keeps no file of another subdir
    * of an unpartitioned table. */
  private def pick(roots: Seq[(FileSystem, FileStatus)]): Option[FileStatus] = {
    val tops = roots.map { case (fs, st) =>
      (fs, if (st.isDirectory) kept(fs, st.getPath) else Seq(st))
    }
    def first(files: Seq[FileStatus]) = files.minByOption(_.getPath.toString)
    def named(n: String) = first(tops.flatMap(_._2).filter(s => s.isFile && s.getPath.getName == n))
    named(Common).orElse(named(Meta))
      .orElse(first(tops.flatMap { case (fs, es) => firstData(fs, es) }))
  }

  /** Entries of `dir` Spark's listing keeps, in full-path order. */
  private def kept(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)

  private def firstData(fs: FileSystem, entries: Seq[FileStatus]): Option[FileStatus] =
    entries.iterator.flatMap { s =>
      val name = s.getPath.getName
      if (s.isFile) Some(s).filterNot(_ => name == Common || name == Meta)
      else if (name.contains("=")) firstData(fs, kept(fs, s.getPath))
      else None
    }.nextOption()
}

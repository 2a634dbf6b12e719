package graft

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ARTIFACT STORE — the one persistence protocol behind every
  * derived tree the library keeps: the star and the standing
  * warehouse, the IVF/kNN trees, the stream retract ledgers and the
  * e-artifact DAG. [[ArtifactRoots]] names the roots (prefix, corpus
  * fingerprint, GC); this object decides what lands under them.
  *
  * Completeness markers:
  *  - a TREE is complete iff `_GRAFT_SUBSTRATE_OK` sits in its root.
  *    The marker is written last; a root without it is a crashed
  *    partial and is cleared and rebuilt whole ([[ensureTree]]).
  *  - a TABLE is complete iff Spark's `_SUCCESS` AND the
  *    `_graft_schema.ddl` sidecar are both present ([[table]]). The
  *    sidecar holds the builder's schema and is replayed into every
  *    read, so a build whose frame is EMPTY (no data files, nothing to
  *    infer a schema from) serves as a well-typed empty frame. It is
  *    written after the job commit places `_SUCCESS`, so a crash
  *    between the two reads as incomplete and rebuilds.
  *
  * The crash law, shared by every swap ([[swap]], [[cutover]]): a
  * slot's content is always in exactly one of {stage, live, aside},
  * and moves only by same-filesystem renames — the live copy is
  * renamed ASIDE first, the stage is renamed in, and only then is the
  * aside dropped (delete-then-rename would lose the slot if the
  * process died between the two). A crash at any point leaves the old
  * or the new content whole: [[recover]], run before anything reads
  * the slot, restores a stranded aside when the live slot is empty,
  * drops it when the live slot is present, and drops any stage (the
  * caller's bookkeeping is cleared only after its swap, so a re-run
  * re-derives it). A mutating filesystem call that answers `false`
  * fails the verb with an IOException, never a silent success. Swaps
  * assume operator exclusivity: readers must not race the verb.
  *
  * Clones ([[cloneTree]]) copy bytes through the driver — the trees
  * are MB-sized parquet at gate scale. The driver walks the source,
  * creates every directory, then copies the files on at most
  * `defaultParallelism` threads, and returns or fails only once every
  * copy has finished, so no copy outlives the clone into the caller's
  * recover or re-run. At 100 TB the clone is a distcp-style copy on
  * the executors, or the verb runs directly on the serving root under
  * operator exclusivity; either keeps this contract (a cleared
  * destination holding exactly the listed children). */
object store {

  private val TreeMarker = "_GRAFT_SUBSTRATE_OK"
  private val JobCommit = "_SUCCESS"
  private val SchemaSidecar = "_graft_schema.ddl"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  private def fail(msg: String): Nothing = throw new IOException(msg)

  /** Delete `p` if present; a `false` from the filesystem fails. */
  def clear(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true)) fail(s"delete failed: $p")

  /** [[clear]] on the filesystem that holds `path`. */
  def clear(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    clear(fsOf(spark, p), p)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) fail(s"rename failed: $from -> $to")

  /** Create `p` and its parents; a `false` from the filesystem fails. */
  def mkdirs(fs: FileSystem, p: Path): Unit =
    if (!fs.mkdirs(p)) fail(s"mkdirs failed: $p")

  // ------------------------------------------------------------------
  // Roots and marker-gated builds
  // ------------------------------------------------------------------

  /** A fresh SCRATCH root for one invocation of a maintenance verb: the
    * tagged root under `prefix`, cleared (a delete that answers `false`
    * fails the verb rather than letting it run over the previous
    * invocation's leftovers), with each of `subdirs` created under it,
    * checked. The root holds only this invocation's working state and
    * is never served, so unlike [[served]] it writes no heartbeat. */
  def scratch(spark: SparkSession, prefix: String, dir: String,
              subdirs: String*): String = {
    val root = ArtifactRoots.tagged(prefix, dir)
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    clear(fs, rp)
    subdirs.foreach(s => mkdirs(fs, new Path(rp, s)))
    root
  }

  /** Resolve an artifact root and advertise it as actively served
    * (the last-use heartbeat the 4×-grace GC bound keys on). */
  def served(prefix: String, dir: String): String = {
    val root = ArtifactRoots.tagged(prefix, dir)
    ArtifactRoots.touchServed(root)
    root
  }

  /** Build the tree at `root` unless its completion marker is present:
    * clear the root (a crashed partial rebuilds whole), run `build`,
    * then write the marker. */
  def ensureTree(spark: SparkSession, root: String)(build: => Unit): Unit = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val marker = new Path(rp, TreeMarker)
    if (!fs.exists(marker)) {
      clear(fs, rp)
      build
      fs.create(marker, true).close()
    }
  }

  /** [[served]] + [[ensureTree]]: the once-per-corpus-version tree under
    * `prefix`, built by `build(root)`; returns the root. */
  def tree(spark: SparkSession, prefix: String, dir: String)
          (build: String => Unit): String = {
    val root = served(prefix, dir)
    ensureTree(spark, root)(build(root))
    root
  }

  /** Build `table` under `root` unless it is complete, then return the
    * frame READ FROM PARQUET under its persisted schema, so every
    * consumer serves from the artifact, never the build plan. */
  def table(spark: SparkSession, root: String, table: String,
            partitionCols: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    ArtifactRoots.touchServed(root)
    val path = new Path(s"$root/$table")
    val fs = fsOf(spark, path)
    if (!fs.exists(new Path(path, JobCommit)) || !fs.exists(new Path(path, SchemaSidecar)))
      writeTable(build, path.toString, partitionCols)
    val in = fs.open(new Path(path, SchemaSidecar))
    val ddl = try new String(in.readAllBytes(), UTF_8) finally in.close()
    Tables.read(spark, StructType.fromDDL(ddl), path.toString)
  }

  /** Write `df` as a complete table at `path` (parquet + sidecar). */
  def writeTable(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
    val p = new Path(path)
    writeSidecar(fsOf(df.sparkSession, p), p, df.schema.toDDL)
  }

  /** True once Spark's job commit has landed in `table`. */
  def committed(fs: FileSystem, table: Path): Boolean =
    fs.exists(new Path(table, JobCommit))

  private def writeSidecar(fs: FileSystem, table: Path, ddl: String): Unit = {
    val out = fs.create(new Path(table, SchemaSidecar), true)
    try out.write(ddl.getBytes(UTF_8)) finally out.close()
  }

  /** Mark a promoted tree complete as a table. A tree whose markers sit
    * only INSIDE subdirectories (the epoch-partitioned bins) would
    * otherwise read as incomplete, and the next [[table]] consumer's
    * overwrite-rebuild would flatten it. */
  private def sealTable(spark: SparkSession, fs: FileSystem, table: Path): Unit = {
    val ok = new Path(table, JobCommit)
    if (!fs.exists(ok)) fs.create(ok, true).close()
    if (!fs.exists(new Path(table, SchemaSidecar)))
      writeSidecar(fs, table, Tables.schemaOf(spark, table.toString).toDDL)
  }

  // ------------------------------------------------------------------
  // Clones
  // ------------------------------------------------------------------

  /** Copy `src` into `dst`, clearing any previous occupant: the listed
    * `children` (relative paths, nested ones included) when given, the
    * whole tree otherwise. Every directory, empty ones included, is
    * created first; the files are then copied concurrently. Fails,
    * after every copy has finished, if any copy failed. */
  def cloneTree(spark: SparkSession, src: String, dst: String,
                children: Seq[String] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dst)
    val fs = fsOf(spark, d)
    val srcFs = new Path(src).getFileSystem(conf)
    clear(fs, d)
    val tops =
      if (children.isEmpty) Seq(new Path(src) -> d)
      else children.map(c => new Path(s"$src/$c") -> new Path(d, c))
    val dirs = Seq.newBuilder[Path]
    val files = Seq.newBuilder[(Path, Path)]
    def walk(s: FileStatus, t: Path): Unit =
      if (s.isDirectory) {
        dirs += t
        srcFs.listStatus(s.getPath).foreach(c => walk(c, new Path(t, c.getPath.getName)))
      } else files += s.getPath -> t
    tops.foreach { case (s, t) => walk(srcFs.getFileStatus(s), t) }
    val copies = files.result()
    (dirs.result() ++ copies.map(_._2.getParent)).distinct.foreach(mkdirs(fs, _))
    if (copies.nonEmpty) {
      val pool = Executors.newFixedThreadPool(
        math.min(copies.size, spark.sparkContext.defaultParallelism))
      try {
        val running = copies.map { case (s, t) =>
          pool.submit(new Callable[Unit] {
            def call(): Unit =
              if (!FileUtil.copy(srcFs, s, fs, t, false, conf)) fail(s"clone failed: $s -> $t")
          })
        }
        // wait for EVERY copy before raising: a copy still running
        // after the throw would race the caller's recover or re-run
        val failures = running.flatMap { f =>
          try { f.get(); None }
          catch { case e: ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdown()
    }
  }

  // ------------------------------------------------------------------
  // Swaps (see the crash law above)
  // ------------------------------------------------------------------

  /** Bring a slot back to one whole copy after a crashed swap: restore
    * a stranded aside into an empty live slot, drop an aside the live
    * slot has superseded, and drop any stage. */
  def recover(fs: FileSystem, live: Path, stage: Path, aside: Path): Unit = {
    if (fs.exists(aside)) {
      if (fs.exists(live)) clear(fs, aside) else rename(fs, aside, live)
    }
    clear(fs, stage)
  }

  /** Rename the live copy (if any) to `aside`, first clearing a stale
    * aside the live copy supersedes. True iff there was a live copy. */
  private def setAside(fs: FileSystem, live: Path, aside: Path): Boolean = {
    val hadLive = fs.exists(live)
    if (hadLive) {
      clear(fs, aside)
      mkdirs(fs, aside.getParent)
      rename(fs, live, aside)
    }
    hadLive
  }

  /** Replace `live` with the complete `stage`, aside-first. A missing
    * live slot is not an error (the swap doubles as create). */
  def swap(fs: FileSystem, live: Path, stage: Path, aside: Path): Unit = {
    val hadLive = setAside(fs, live, aside)
    if (!fs.rename(stage, live)) {
      // restore the live copy before failing; if that fails too, say
      // where the live copy is stranded — the next recover brings it back
      val restored = !hadLive || fs.rename(aside, live)
      fail(s"swap failed: $stage -> $live" +
        (if (restored) "" else s"; restore also failed, live copy stranded at $aside"))
    }
    clear(fs, aside)
  }

  /** Remove `live` atomically: rename it aside, then drop the aside. */
  def retire(fs: FileSystem, live: Path, aside: Path): Unit = {
    setAside(fs, live, aside)
    clear(fs, aside)
  }

  /** One layer of a [[cutover]]: the staged generation, the live slot
    * it replaces, and the aside slot the live copy moves to. */
  final case class Layer(staged: Path, live: Path, aside: Path)

  /** Promote every layer's staged generation over its live slot,
    * aside-first, under one completion marker `done`; RESUMABLE at
    * every crash window. Each layer stays in exactly one of {staged,
    * live, aside}, and a re-run completes forward: staged present →
    * promote it; staged gone + live present → already promoted, skip;
    * both gone + aside present → restore (heals a manually mangled
    * tree toward the old world rather than serve a missing slot).
    * Asides are dropped only after every layer landed, and `done` is
    * written BEFORE that cleanup, so a crash during cleanup reads as
    * complete. Nothing staged is disambiguated by the witnesses:
    * `done` present → complete (finish the cleanup); otherwise a
    * leftover `asides` marks the tail window (every layer consumed,
    * marker unwritten) and completes forward — unless the cutover
    * stages a `generation` dir, which outlives every promote, so its
    * absence without `done` means nothing was ever staged. Anything
    * else throws: "report success, serve the old tree" is the one wrong
    * answer. A staged generation present again after a completed
    * cutover starts fresh (the marker is dropped). `asides` is the
    * directory holding the layers' aside slots, or the single layer's
    * aside slot itself. With `tables`, each promoted layer is sealed
    * as a complete table. */
  def cutover(spark: SparkSession, done: Path, asides: Path, layers: Seq[Layer],
              generation: Option[Path] = None, tables: Boolean = false): Unit = {
    val fs = fsOf(spark, done)
    val pending = generation.fold(layers.exists(l => fs.exists(l.staged)))(fs.exists)
    if (!pending) {
      if (fs.exists(done)) { clear(fs, asides); return }
      if (generation.isDefined || !fs.exists(asides))
        fail(s"cutover: nothing staged under ${done.getParent} and no completion " +
          "marker — nothing to promote (unbuilt generation or mistyped tag?)")
    } else clear(fs, done)
    // the asides dir exists from here until cleanup: it is the tail
    // witness even when no layer had a live copy to set aside
    mkdirs(fs, asides)
    layers.foreach { l =>
      // live AND aside AND staged is reachable: a run that crashed
      // after promoting this layer keeps the pre-promotion copy aside,
      // and the operator then rebuilt the staged generation and re-ran.
      // An aside only comes into existence by renaming live away, and
      // live only reappears via a promote — so live is a promoted
      // generation, the aside copy two generations old, and setAside
      // may clear it.
      if (fs.exists(l.staged)) {
        setAside(fs, l.live, l.aside)
        rename(fs, l.staged, l.live)
      } else if (!fs.exists(l.live) && fs.exists(l.aside)) rename(fs, l.aside, l.live)
      if (tables && fs.exists(l.live)) sealTable(spark, fs, l.live)
    }
    fs.create(done, true).close()
    clear(fs, asides)
    generation.foreach(clear(fs, _))
  }
}

package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.Tables

/** The content-keyed, marker-gated WAVE-COMMIT protocol — ONE
  * definition shared by every streaming ledger family in the library
  * (the pair graph's st13/st19, the kNN graph's st15/st16, the IVF
  * index's st17/st18, the bins tier's st20). Two copies of the
  * tag/commit discipline drifting independently would silently break
  * replay dedup for one family, so the protocol lives
  * here and the stream objects call it — together with the file-source
  * stream every wave verb starts ([[run]]) and the ledger reads
  * ([[ledgerState]], [[readOrEmpty]]).
  *
  * The gate (st13's exactly-once discipline, honest under BOTH
  * failure modes — a checkpoint replay re-delivers a wave under the
  * same batchId, a fresh-checkpoint rerun under a NEW numbering):
  *  - the wave's CONTENT TAG is one batch-bounded 1-row aggregate:
  *    count, an order-independent bit_xor fold of `ck`, and a
  *    40-bit-term sum fold of `cs` (the sum backs the xor so plain
  *    XOR cancellation between equal-count sets cannot alias two
  *    distinct waves; terms bounded to 2^40 keep a wave int64-exact
  *    to ~2^23 rows — micro-batches are orders of magnitude under
  *    that). Callers fold the VALUE into `ck`/`cs` when re-delivery
  *    under unchanged keys must key differently (embedding/text
  *    waves), and the id alone for pure id waves.
  *  - a committed re-delivery (marker present, or vouched for by the
  *    caller's `alsoCommitted` — DocumentsStream's compacted-wave
  *    folded set, whose dirs are gone but whose tags still vouch) is
  *    skipped WHOLE, zero work re-derived;
  *  - a crashed partial (dir without marker) is deleted and rebuilt;
  *  - `work` writes the wave's tables into its ledger dir;
  *  - the marker is written LAST — the wave is committed only once
  *    its tables exist. */
private[graft] object WaveLedger {

  /** Written LAST into a ledger batch dir: its presence is the batch's
    * commit. Parquet's own `_SUCCESS` is per table and a wave may
    * write several tables, so completeness needs one marker after all
    * of them. */
  val CommitMarker = "_GRAFT_COMMIT"

  def fsOf(spark: SparkSession, p: Path): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  /** Committed (marker-present) ledger batch dirs under
    * `base`/ledger, name-ordered so every reader sees one
    * deterministic sequence. */
  def committedBatches(spark: SparkSession, base: String): Seq[Path] = {
    val ledger = new Path(s"$base/ledger")
    val f = fsOf(spark, ledger)
    if (!f.exists(ledger)) Seq.empty
    else f.listStatus(ledger).toSeq.map(_.getPath)
      .filter(p => f.exists(new Path(p, CommitMarker)))
      .sortBy(_.getName)
  }

  /** Stage one single-file wave of `part` into `inDir` for a
    * file-source stream — the gate entries' shared stager: coalesce
    * to one parquet file and [[stagePart]] it as `wave<N>.parquet`,
    * mtime pinned to the wave index so maxFilesPerTrigger=1 delivers
    * waves in a deterministic order when several are staged at once.
    * (Gate staging only — a production stream's files arrive from the
    * ingest system.) */
  def stageFrameWave(spark: SparkSession, part: DataFrame,
                     base: String, inDir: String, wave: Int): Unit = {
    val scratch = s"$base/w$wave"
    part.coalesce(1).write.mode("overwrite").parquet(scratch)
    stagePart(spark, scratch, new Path(inDir), s"wave$wave.parquet", 1000000L * (wave + 1))
  }

  /** Copy the single parquet part file of the table at `src` into
    * `inDir` as `name`, with a pinned mtime (the file source orders
    * micro-batches by it). Fails with a message naming the table if a
    * write ever stops producing a part (e.g. an empty-partition-
    * skipping committer). */
  def stagePart(spark: SparkSession, src: String, inDir: Path, name: String,
                mtime: Long): Unit = {
    val to = new Path(inDir, name)
    val f = fsOf(spark, to)
    val part = f.listStatus(new Path(src)).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part file under $src to stage as $to"))
    if (!org.apache.hadoop.fs.FileUtil.copy(f, part, f, to, false,
        spark.sparkContext.hadoopConfiguration))
      throw new java.io.IOException(s"staging failed: $part -> $to")
    f.setTimes(to, mtime, -1)
  }

  /** Drain everything available, STOPPING the query if the drain
    * throws: a bare `q.processAllAvailable(); q` leaks a live query on
    * failure, whose micro-batch thread later races SparkContext.stop at
    * session teardown (`SparkContext.broadcast` after
    * `assertNotStopped`). On success the query is returned still
    * running; callers stop it. */
  private[graft] def drain(q: StreamingQuery): StreamingQuery = {
    try q.processAllAvailable()
    catch { case t: Throwable =>
      try q.stop() catch { case s: Throwable => t.addSuppressed(s) }
      throw t
    }
    q
  }

  /** Start (or RESUME — same `checkpoint`) the file-source stream over
    * `inDir` that every wave verb runs, hand each micro-batch to
    * `batch`, and [[drain]] it. What it fixes, and why:
    *  - ONE FILE PER TRIGGER (`maxFilesPerTrigger = 1`): each staged
    *    wave file is its own micro-batch, delivered in mtime order, so
    *    the wave the ledger content-keys and commits is exactly the
    *    file that was staged, whatever else is already waiting;
    *  - the schema is GIVEN (the corpus table the waves are slices
    *    of), never sniffed, so a (re)start against a still-empty
    *    arrivals dir idles for files like a production ingest job
    *    instead of failing schema inference;
    *  - the drain stops the query if it throws, so a failed batch never
    *    leaves a live query behind.
    * On success the query is returned still running; callers stop it. */
  def run(spark: SparkSession, schema: StructType, inDir: String, checkpoint: String)
         (batch: (DataFrame, Long) => Unit): StreamingQuery =
    drain(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batch)
      .start())

  /** The tables at `dirs` (ledger sub-table dirs, typically
    * [[LedgerState.dirs]]) read as one multi-path relation under
    * `schema`; no dirs reads as a well-typed EMPTY frame, where a
    * zero-path parquet read would throw. */
  def readOrEmpty(spark: SparkSession, dirs: Seq[String], schema: StructType): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else Tables.read(spark, schema, dirs: _*)

  /** Run `work` for this wave exactly once (see object doc). An
    * empty wave contributes nothing and is not committed. */
  def waveCommit(spark: SparkSession, base: String, batch: DataFrame,
                 ck: Column, cs: Column,
                 alsoCommitted: String => Boolean = _ => false)
                (work: Path => Unit): Unit = {
    val st = batch.agg(count(lit(1)).as("n"), bit_xor(ck).as("ck"),
      sum(pmod(cs, lit(1L << 40))).as("cs")).collect()(0)
    if (st.getLong(0) == 0) return
    val tag = f"b_${st.getLong(0)}%d_${st.getLong(1)}%016x_${st.getLong(2)}%x"
    val bdir = new Path(s"$base/ledger/$tag")
    val f = fsOf(spark, bdir)
    if (f.exists(new Path(bdir, CommitMarker))) return // committed replay: skip
    if (alsoCommitted(tag)) return // caller vouches (e.g. compacted wave)
    f.delete(bdir, true) // crashed partial: rebuild whole
    work(bdir)
    f.create(new Path(bdir, CommitMarker), true).close(); ()
  }

  // ---------------------------------------------------------------
  // Ledger COMPACTION — the fold verb, ONE definition for every
  // wave-ledger tier (st13/st14 had it first; the st15/st21
  // arrive ledgers re-unioned every prior wave's dirs per wave —
  // an unbounded dir list between full rebuilds). compactLedger
  // merges the committed waves into a cumulative, marker-gated
  // COMPACTED GENERATION (`compact/gen_N/{<subs>,folded}` — gen N
  // folds gen N−1 plus the live tail, so readers only ever open the
  // latest gen) and then clears the folded wave dirs; each sub-table
  // is unioned, never re-derived (every tier's wave tables are
  // arrival-invariant pure functions of their wave, so the fold IS
  // the merge). Crash windows, in order:
  //   - mid-gen-write: unmarked gen dir; deleted and rebuilt by the
  //     next compact (source waves still present — nothing lost);
  //   - after the marker, BEFORE the wave delete: the gen AND its
  //     source waves both exist — every reader filters waves through
  //     the gen's FOLDED tag set, so each row serves exactly once;
  //     the next compact GCs the leftovers;
  //   - a wave re-delivered AFTER its dir was cleared: its content
  //     tag is in the folded set, so the tier's batch fn (passing
  //     `alsoCommitted = state.folded`) skips it without re-deriving
  //     a row — the marker's exactly-once promise kept across the
  //     compaction.
  // The folded set rides IN the generation (cumulative), so its size
  // is wave-count-bounded — a compaction-cadence quantity, never
  // corpus-sized; at 100 TB the driver-side tag set is the same few
  // hundred strings the ledger listing already was.
  // ---------------------------------------------------------------

  /** Committed compacted generations, ordered by NUMERIC suffix (not
    * name: zero-padding runs out at gen_100000, where a string sort
    * would rank it before gen_99999 and the superseded-gen GC would
    * delete the true latest generation — the only copy of its folded
    * waves). */
  private[graft] def committedGens(spark: SparkSession, base: String): Seq[Path] = {
    val root = new Path(s"$base/compact")
    val f = fsOf(spark, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath)
      .filter(p => f.exists(new Path(p, CommitMarker)))
      .sortBy(_.getName.stripPrefix("gen_").toLong)
  }

  /** The arrived ledger state every reader folds over: the latest
    * committed generation (if any), its folded tag set (outlives the
    * wave dirs it covers), and the live wave tail the set does NOT
    * cover. `dirs(sub)` is the exactly-once read plan: gen first,
    * then live waves. */
  private[graft] final case class LedgerState(gen: Option[Path],
      folded: Set[String], waves: Seq[Path]) {
    def dirs(sub: String): Seq[String] =
      (gen.toSeq ++ waves).map(p => new Path(p, sub).toString)
  }

  private[graft] def ledgerState(spark: SparkSession, base: String): LedgerState = {
    val gen = committedGens(spark, base).lastOption
    val folded = gen.map(g =>
      Tables.read(spark, new Path(g, "folded").toString)
        .collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty[String])
    LedgerState(gen, folded,
      committedBatches(spark, base).filterNot(p => folded(p.getName)))
  }

  /** Fold the committed live waves into the next compacted
    * generation and clear them. `subs` names each wave dir's tables
    * with an optional explicit read schema (pass one when a wave's
    * table can be empty — e.g. a pairs table — so the union stays
    * well-typed). Marker-gated and idempotent: with no live waves it
    * only GCs crash-window leftovers and returns. */
  private[graft] def compactLedger(spark: SparkSession, base: String,
                                   subs: Seq[(String, Option[StructType])]): Unit = {
    val st = ledgerState(spark, base)
    val f = fsOf(spark, new Path(base))
    // crash-window GC FIRST, and before the no-work return so both
    // leftover classes self-heal on every compact: waves the latest
    // gen already covers (readers were already excluding them), and
    // superseded older generations (a crash between wave-delete and
    // gen-delete leaves gen N−1 beside gen N)
    committedBatches(spark, base).filter(p => st.folded(p.getName))
      .foreach(p => f.delete(p, true))
    st.gen.foreach(g => committedGens(spark, base).filter(_.getName != g.getName)
      .foreach(p => f.delete(p, true)))
    if (st.waves.isEmpty) return
    // next index = latest gen's suffix + 1, NEVER the committed-gen
    // COUNT: superseded gens are deleted above, so the count resets to
    // 1 and a count-derived name would collide with the LIVE
    // generation from the third compaction on — the scratch-delete
    // below would then destroy the live gen's tables (data loss: its
    // source waves are long cleared)
    val nextIdx = st.gen.map(_.getName.stripPrefix("gen_").toInt + 1).getOrElse(0)
    val next = new Path(f"$base/compact/gen_$nextIdx%05d")
    f.delete(next, true) // unmarked scratch from a crashed compact
    // the per-sub-table folds are independent jobs; overlap them from
    // driver threads (guide §2.6) — completeness is still the marker's,
    // written LAST after every fold has finished
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      subs.map { case (sub, schema) =>
        Future {
          val dirs = st.dirs(sub)
          schema.fold(Tables.read(spark, dirs: _*))(s => Tables.read(spark, s, dirs: _*))
            .write.mode("overwrite").parquet(new Path(next, sub).toString)
        }
      }.foreach(Await.result(_, Duration.Inf))
    }
    val folded = (st.folded ++ st.waves.map(_.getName)).toSeq.sorted
    import spark.implicits._
    folded.toDF("tag").coalesce(1)
      .write.mode("overwrite").parquet(new Path(next, "folded").toString)
    // marker LAST: the gen is live only once all tables exist
    f.create(new Path(next, CommitMarker), true).close()
    // cleanup AFTER the commit — the crash window readers tolerate
    st.waves.foreach(p => f.delete(p, true))
    committedGens(spark, base).filter(_.getName != next.getName)
      .foreach(p => f.delete(p, true)) // superseded cumulative gens
    ()
  }
}

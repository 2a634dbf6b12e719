package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.Tables
import graft.ext.Similarity

/** ST15/ST16 — STREAMING maintenance for the kNN-graph tier: st13's
  * file-stream maintenance loop composed with s25's localized-descent
  * append. Vector waves land as a file-source stream; each
  * micro-batch codes its arrivals against the FROZEN base centroids
  * (wave-sized ranking — the corpus-sized blocking base is the
  * persisted `base_assign` artifact) and commits its assignments plus
  * its blocked-candidate pairs into a content-keyed, marker-gated
  * ledger (st13's exactly-once discipline: idempotent under both
  * checkpoint replays and fresh-checkpoint re-delivery); the serve
  * folds the committed pairs through the IDENTICAL integration kernel
  * the batch append uses ([[Similarity.appendedGraphFromParts]]).
  *
  * The stream-fold ≡ batch-append law is EXACT, not an envelope:
  * per-vector assignments against a frozen model don't depend on what
  * else has arrived, so each cross-wave candidate pair is committed by
  * its later endpoint's wave and the union over waves is the one-shot
  * append's c1 verbatim — the gate's oracle is s25's appended-graph
  * chain UNCHANGED, and the restart inside the entry (wave A, stop,
  * wave B, resume from the same checkpoint) is what the driver
  * hash-checks every round.
  *
  * Scale: each micro-batch pays wave-sized work (rank |wave|×|C|
  * against broadcast frozen centroids; candidate join bounded by the
  * wave's probed lists against the persisted assignment table); the
  * serve integration is arrival-sized (s25's bound). The ledger is
  * append-cadence-bounded — the fold that clears it is the next full
  * graph rebuild (s27's retrain trigger), the graph tier's analog of
  * st14's compaction cadence.
  *
  * ST16 is the RETRACT side of the same loop: tombstone waves land as
  * a file stream of ids, each micro-batch commits its id set into the
  * same content-keyed marker-gated ledger shape (a retract wave
  * carries NO per-wave compute — the ledger IS the work, s18/s26's
  * O(deletes) tombstone discipline), and the serve runs ONE
  * application of the s26 compaction kernel over the persisted graph
  * with the union of committed ids (compaction cadence = serve; the
  * kernel is deterministic in (graph, ids), so stream-fold ≡ the
  * one-shot batch compaction EXACTLY and the oracle is s26's chain
  * verbatim). */
object EmbeddingsStream {

  private val assignSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cid", LongType),
    StructField("r", IntegerType)))
  private val pairSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("nb_id", LongType)))

  private def embWaveKey(c: Column*): Column = xxhash64(c: _*)

  /** One arrival micro-batch: the wave's work under the content gate —
    * rank against the frozen centroids, block against base_assign ∪
    * committed arrivals ∪ itself, commit (assign, pairs). Prior
    * arrivals are the LEDGER STATE (latest compacted generation +
    * live tail — st14's compaction verb generalized to this
    * tier), read once per micro-batch; the folded-tag set vouches for
    * waves whose dirs a compaction cleared. */
  private[graft] def arriveBatch(spark: SparkSession, dir: String, base: String)
                                (batch: DataFrame, batchId: Long): Unit = {
    val st = WaveLedger.ledgerState(spark, base)
    WaveLedger.waveCommit(spark, base, batch,
      embWaveKey(col("vec_id"), col("embedding")),
      embWaveKey(col("embedding"), col("vec_id")),
      alsoCommitted = st.folded) { bdir =>
      val priorAssign = WaveLedger.readOrEmpty(spark, st.dirs("assign"), assignSchema)
      val (assign, pairs) =
        Similarity.knngArriveWaveTables(spark, dir, batch, priorAssign)
      // assign is checkpointed by the kernel, so the two writes are
      // independent jobs — overlap them (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        Future(assign.write.mode("overwrite")
          .parquet(new Path(bdir, "assign").toString)),
        Future(pairs.write.mode("overwrite")
          .parquet(new Path(bdir, "pairs").toString)))
        .foreach(Await.result(_, Duration.Inf))
    }
  }

  /** Fold the committed arrival waves into the next cumulative
    * compacted generation (the st14 verb at the kNN-graph tier
    * — before this the ledger only cleared on the next full graph
    * rebuild, an unbounded dir list at append cadence). Serves then
    * read ONE generation + the live tail. */
  private[graft] def compactArriveLedger(spark: SparkSession,
                                         base: String): Unit =
    WaveLedger.compactLedger(spark, base,
      Seq("assign" -> Some(assignSchema), "pairs" -> Some(pairSchema)))

  /** The appended graph served FROM the ledger: committed pairs +
    * arrival ids (latest compacted generation + live tail) folded
    * through the batch append's own integration kernel. */
  private[graft] def appendedFromLedger(spark: SparkSession, dir: String,
                                        base: String): DataFrame = {
    val st = WaveLedger.ledgerState(spark, base)
    val c1 = WaveLedger.readOrEmpty(spark, st.dirs("pairs"), pairSchema)
    val arrIds = WaveLedger.readOrEmpty(spark, st.dirs("assign"), assignSchema)
      .select(col("vec_id")).distinct()
    Similarity.appendedGraphFromParts(spark, dir, c1, arrIds)
  }

  private[graft] def runArrive(spark: SparkSession, dir: String, base: String,
                               checkpoint: String): StreamingQuery =
    WaveLedger.run(spark, Tables.embeddings(spark, dir).schema, s"$base/in",
      checkpoint)(arriveBatch(spark, dir, base))

  /** Stage one wave of the arrival slice (s25's vec_id%10=9, split by
    * %3 — coprime to every power-of-2 shard split; mtimes force the
    * file source's deterministic wave order). */
  private[graft] def stageWave(spark: SparkSession, dir: String, base: String,
                               wave: Int): Unit = {
    val part = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === Similarity.S13AppendDigit)
      .filter(if (wave == 0) col("vec_id") % 3 === 0 else col("vec_id") % 3 =!= 0)
    WaveLedger.stageFrameWave(spark, part, base, s"$base/in", wave)
  }

  /** st15's serve, callable on an existing ledger base (Round16Spec
    * re-serves across compactions). */
  private[graft] def st15Serve(spark: SparkSession, dir: String,
                               base: String): DataFrame =
    appendedFromLedger(spark, dir, base)
      .select(col("vec_id"), col("nb_id").as("neighbor_id"),
        col("d2_fp"), col("rank"))
      .orderBy(col("vec_id"), col("rank"))

  /** The ST15 gate entry — restart inside the entry, st13's shape:
    * wave A is processed by a query that STOPS; wave B arrives; a
    * second query resumes from the same checkpoint and processes only
    * the new wave; the serve folds the ledger through the batch
    * append's integration kernel. Oracle = s25's appended-graph chain
    * VERBATIM (the stream-fold ≡ batch-append law, hash-checked every
    * round). Scratch lives at one fixed location per corpus, rebuilt
    * per invocation (st11's no-accumulation discipline). */
  def st15GraphArrive(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.store.scratch(spark, "graft_st15", dir, "in")
    stageWave(spark, dir, base, 0)
    runArrive(spark, dir, base, s"$base/cp").stop()
    stageWave(spark, dir, base, 1)
    runArrive(spark, dir, base, s"$base/cp").stop()
    st15Serve(spark, dir, base)
  }

  // ------------------- ST16: streaming retract -------------------

  private val idSchema = StructType(Seq(StructField("vec_id", LongType)))

  /** One tombstone micro-batch: content-keyed over the id set (st13's
    * count + xor + sum folds), marker-gated, skipped verbatim on any
    * re-delivery — checkpoint replay or fresh-checkpoint redelivery
    * alike. A retract wave commits ONLY its id set: delete stays
    * O(deletes) (s18's law); the fold runs at serve cadence. */
  private[graft] def retractBatch(spark: SparkSession, base: String)
                                 (batch: DataFrame, batchId: Long): Unit =
    WaveLedger.waveCommit(spark, base, batch.select(col("vec_id")),
      embWaveKey(col("vec_id")), embWaveKey(col("vec_id"), lit(16L)),
      alsoCommitted = WaveLedger.ledgerState(spark, base).folded) { bdir =>
      batch.select(col("vec_id")).distinct()
        .write.mode("overwrite").parquet(new Path(bdir, "ids").toString)
    }

  /** The id-ledger compaction verb at the vector tiers: one
    * {ids} table, same WaveLedger protocol. */
  private[graft] def compactRetractLedger(spark: SparkSession,
                                          base: String): Unit =
    WaveLedger.compactLedger(spark, base, Seq("ids" -> Some(idSchema)))

  private[graft] def runRetract(spark: SparkSession, base: String,
                                checkpoint: String): StreamingQuery =
    WaveLedger.run(spark, idSchema, s"$base/in", checkpoint)(retractBatch(spark, base))

  /** The union of every committed tombstone wave's ids — st16's and
    * st18's serve input, read through the ledger STATE (latest
    * compacted generation + live tail). */
  private[graft] def retractIdsFromLedger(spark: SparkSession,
                                          base: String): DataFrame =
    WaveLedger.readOrEmpty(spark,
      WaveLedger.ledgerState(spark, base).dirs("ids"), idSchema).distinct()

  /** The compacted graph served FROM the ledger: one application of
    * the s26 compaction kernel over the persisted graph with the
    * union of every committed wave's ids. */
  private[graft] def retractedFromLedger(spark: SparkSession, dir: String,
                                         base: String): DataFrame =
    Similarity.knngCompactOver(spark, dir, retractIdsFromLedger(spark, base))

  /** Stage one tombstone wave (s26's vec_id%10=6 delete slice, split
    * by %3 — st15's coprime wave split and mtime-forced order). */
  private[graft] def stageRetractWave(spark: SparkSession, dir: String,
                                      base: String, wave: Int): Unit = {
    val part = Tables.embeddings(spark, dir).select(col("vec_id"))
      .filter(col("vec_id") % 10 === Similarity.S18DeleteDigit)
      .filter(if (wave == 0) col("vec_id") % 3 === 0 else col("vec_id") % 3 =!= 0)
    WaveLedger.stageFrameWave(spark, part, base, s"$base/in", wave)
  }

  /** The ST16 gate entry — st15's lifecycle shape on the DELETE side:
    * tombstone wave A is processed by a query that STOPS; wave B
    * arrives; a second query resumes from the same checkpoint and
    * commits only the new wave; the serve folds the union of
    * committed ids through the s26 compaction kernel in one
    * application. Oracle = s26's compaction chain VERBATIM (the
    * stream-fold ≡ batch-compaction law, hash-checked every round).
    * Scratch lives at one fixed location per corpus, rebuilt per
    * invocation (st11's no-accumulation discipline). */
  def st16GraphRetract(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.store.scratch(spark, "graft_st16", dir, "in")
    stageRetractWave(spark, dir, base, 0)
    runRetract(spark, base, s"$base/cp").stop()
    stageRetractWave(spark, dir, base, 1)
    runRetract(spark, base, s"$base/cp").stop()
    retractedFromLedger(spark, dir, base)
      .select(col("vec_id"), col("nb_id").as("neighbor_id"),
        col("d2_fp"), col("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  // ----------------- ST17/ST18: streaming IVF tier -----------------
  // The same arrive/retract pair at the IVF index (st15/st16 cover
  // the graph tier): arrivals flow through the store's OWN
  // generation-ledger upsert (deferUpdateIvfPqIndex — LSM-style
  // wave-sized coding against the frozen model, no list rewrites,
  // the serve overlay resolves max-generation per id); tombstones
  // flow through the content-keyed wave ledger and MATERIALIZE as
  // the index's tombstone table at serve (overwrite of a distinct
  // union — idempotent under any replay). Both entries restart their
  // stream inside the gate row and answer the standard query set
  // from the post-stream index; the oracles are s13's / s18's chains
  // VERBATIM (stream-fold ≡ the batch lifecycle verb).
  // -----------------------------------------------------------------

  /** One vector-arrival micro-batch at the IVF tier: content-keyed
    * marker gate (st15's — re-delivery commits NOTHING), then the
    * wave lands through [[Similarity.deferUpdateIvfPqIndex]]. The
    * crash window between the generation commit and the wave marker
    * is VALUE-idempotent even before the gate: a re-run re-codes the
    * identical wave against the same frozen model into a newer
    * generation, and the max-generation overlay serves the same
    * rows. */
  private[graft] def ingestBatch(spark: SparkSession, base: String,
                                 idxDir: String)
                                (batch: DataFrame, batchId: Long): Unit =
    WaveLedger.waveCommit(spark, base, batch,
      embWaveKey(col("vec_id"), col("embedding")),
      embWaveKey(col("embedding"), col("vec_id"))) { bdir =>
      graft.store.mkdirs(WaveLedger.fsOf(spark, bdir), bdir)
      Similarity.deferUpdateIvfPqIndex(spark, batch, idxDir)
    }

  private[graft] def runIngest(spark: SparkSession, dir: String, base: String,
                               idxDir: String,
                               checkpoint: String): StreamingQuery =
    WaveLedger.run(spark, Tables.embeddings(spark, dir).schema, s"$base/in",
      checkpoint)(ingestBatch(spark, base, idxDir))

  /** The ST17 gate entry — streaming UPSERT ingest for the persisted
    * IVF index, restart inside the entry (st13's shape): the index is
    * built on the BASE slice only, the arrival slice streams in as
    * two waves (wave A, stop, wave B, resume from the same
    * checkpoint), each wave committing through the deferred
    * generation ledger, and the standard query set is answered from
    * the post-stream index — ledger overlay, no compaction. Oracle =
    * s13's build+append chain VERBATIM (wave coding ≡ append coding
    * under the frozen model; the overlay serves exactly the appended
    * rows). Scratch (index tree included) lives at one fixed location
    * per corpus, rebuilt per invocation. */
  def st17IndexIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.store.scratch(spark, "graft_st17", dir, "in")
    val idxDir = s"$base/idx"
    // the base-only starting state comes from the shared substrate
    // clone, don't rebuild per invocation
    graft.store.cloneTree(spark, Similarity.baseSubstrate(spark, dir), idxDir,
      Similarity.IndexTables)
    stageWave(spark, dir, base, 0)
    runIngest(spark, dir, base, idxDir, s"$base/cp").stop()
    stageWave(spark, dir, base, 1)
    runIngest(spark, dir, base, idxDir, s"$base/cp").stop()
    Similarity.queryIvfPqIndex(spark, dir, idxDir)
  }

  /** The ST18 gate entry — streaming RETRACT for the persisted IVF
    * index: the full drifted index (base build + frozen append) takes
    * two tombstone waves through the content-keyed ledger with a
    * restart in between; the serve MATERIALIZES the committed union
    * as the index's tombstone table (overwrite of a distinct set —
    * idempotent under any replay) and answers through the existing
    * tombstone-aware query path. No compaction runs — what the gate
    * pins is the tombstone SERVE itself (s18's law makes it equal the
    * compacted answers, and s18's own row covers that path). Oracle =
    * s18's chain VERBATIM. */
  def st18IndexRetract(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.store.scratch(spark, "graft_st18", dir, "in")
    val idxDir = s"$base/idx"
    // the drifted (base build + frozen append) starting state comes
    // from the shared substrate: clone, don't rebuild
    graft.store.cloneTree(spark, Similarity.driftedSubstrate(spark, dir), idxDir,
      Similarity.IndexTables)
    stageRetractWave(spark, dir, base, 0)
    runRetract(spark, base, s"$base/cp").stop()
    stageRetractWave(spark, dir, base, 1)
    runRetract(spark, base, s"$base/cp").stop()
    retractIdsFromLedger(spark, base)
      .write.mode("overwrite").parquet(s"$idxDir/deletes")
    Similarity.queryIvfPqIndex(spark, dir, idxDir)
  }

  // ------------- ST23: streaming kNN-graph update -------------
  // The retract ∘ arrive composition of s28 under the wave ledger —
  // the last open cell of the stream verb matrix (pair tier has
  // st13/st19/st21, IVF st17/st18, bins st20/st22; the kNN graph had
  // arrive st15 + retract st16 but no streamed update). st21's
  // protocol at the vector tier: the update's TOMBSTONE MANIFEST (the
  // re-embedded ids) streams first as id waves, then the new vectors
  // stream as content waves, each blocking against the s28-FROZEN
  // model (upd_centroids/upd_assign artifacts — the stationary
  // non-updated assignment state) ∪ committed earlier arrivals ∪
  // itself; the serve runs s28's fold verbatim — compact graph_full
  // without the ids, integrate the committed pair union into the
  // compacted state under the current view.

  /** One update-content micro-batch: content-keyed gate (the vector
    * folded into the key — a re-re-embedded wave under unchanged ids
    * keys differently), then the wave's assignments + blocked pairs
    * against the s28-frozen model commit to the ledger. Prior
    * arrivals come from the ledger STATE (gen + tail) and the
    * folded set vouches for compacted re-deliveries. */
  private[graft] def updArriveBatch(spark: SparkSession, dir: String,
                                    base: String)
                                   (batch: DataFrame, batchId: Long): Unit = {
    val st = WaveLedger.ledgerState(spark, s"$base/arrive")
    WaveLedger.waveCommit(spark, s"$base/arrive", batch,
      embWaveKey(col("vec_id"), col("embedding")),
      embWaveKey(col("embedding"), col("vec_id")),
      alsoCommitted = st.folded) { bdir =>
      val priorAssign = WaveLedger.readOrEmpty(spark, st.dirs("assign"), assignSchema)
      val (assign, pairs) = Similarity.knngArriveWaveTablesOn(
        Similarity.knngUpdCentroids(spark, dir),
        Similarity.knngUpdAssignArtifact(spark, dir),
        batch, priorAssign)
      // assign is checkpointed by the kernel; the three writes are
      // independent jobs — overlap them (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        Future(assign.write.mode("overwrite")
          .parquet(new Path(bdir, "assign").toString)),
        Future(pairs.write.mode("overwrite")
          .parquet(new Path(bdir, "pairs").toString)),
        Future(batch.select(col("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(new Path(bdir, "emb").toString)))
        .foreach(Await.result(_, Duration.Inf))
    }
  }

  /** st23's compaction verb: fold {assign, pairs, emb} waves — emb
    * rides the gen so later waves and the serve keep reading the
    * NEW vectors after the wave dirs are cleared. Wave tables are
    * non-empty by the commit gate's own guard, so emb's schema can
    * come from the parquet footers. */
  private[graft] def compactUpdArriveLedger(spark: SparkSession,
                                            base: String): Unit =
    WaveLedger.compactLedger(spark, s"$base/arrive",
      Seq("assign" -> Some(assignSchema), "pairs" -> Some(pairSchema),
        "emb" -> None))

  private[graft] def runUpdArrive(spark: SparkSession, dir: String, base: String,
                                  checkpoint: String): StreamingQuery =
    WaveLedger.run(spark, Tables.embeddings(spark, dir).schema, s"$base/arrive/in",
      checkpoint)(updArriveBatch(spark, dir, base))

  /** st23's RETRACT-LEDGER SUBSTRATE (st21's precedent at the vector
    * tier): the update slice's tombstone manifest is a pure function
    * of the corpus (the s28 digit slice through the shared id-wave
    * intake), so its committed ledger stages once per corpus version
    * as a [[graft.store.tree]]; every st23 invocation reads
    * it and pays only the content phase + fold. Intake-restart
    * coverage remains st16/st19's pinned law of the same protocol. */
  private[graft] def st23RetractSubstrate(spark: SparkSession,
                                          dir: String): String = {
    graft.store.tree(spark, "graft_st23ret_v1", dir) { root =>
      val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
        .filter(col("vec_id") % 10 === Similarity.S28UpdateDigit)
      WaveLedger.stageFrameWave(spark, ids.filter(col("vec_id") % 3 === 0),
        root, s"$root/in", 0)
      WaveLedger.stageFrameWave(spark, ids.filter(col("vec_id") % 3 =!= 0),
        root, s"$root/in", 1)
      runRetract(spark, root, s"$root/cp").stop()
    }
  }

  /** The ST23 gate entry — streaming UPDATE for the kNN graph: s28's
    * verb under the wave ledger with a REAL restart in the content
    * phase. The re-embedded slice's tombstone manifest is the
    * once-per-corpus-version [[st23RetractSubstrate]] (intake-restart
    * coverage is the shared protocol's, st16/st19), then the new
    * vectors (the s28 reversed slice) stream as two content waves
    * with a restart between them; the serve folds the committed state
    * through s28's own kernels — compact without the manifest ids,
    * integrate the committed pair union under the current view.
    * Oracle = s28's update ≡ rebuild-with-current-values chain
    * VERBATIM; Round15Spec pins stream-fold ≡ the batch verb
    * engine-side. Scale: per-wave work is wave-sized ranking +
    * blocking against broadcast/persisted model tables; the serve's
    * compact+integrate is |U|-bounded (s28's bound), paid at update
    * cadence. */
  def st23GraphUpdate(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.store.scratch(spark, "graft_st23", dir, "arrive/in")
    val slice = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === Similarity.S28UpdateDigit)
    // phase 1 — the tombstone manifest: the staged substrate ledger
    val rBase = st23RetractSubstrate(spark, dir)
    // phase 2 — the re-embedded content (reversed vectors), restart
    val newEmb = slice.select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    WaveLedger.stageFrameWave(spark, newEmb.filter(col("vec_id") % 3 === 0),
      base, s"$base/arrive/in", 2)
    runUpdArrive(spark, dir, base, s"$base/arrive/cp").stop()
    WaveLedger.stageFrameWave(spark, newEmb.filter(col("vec_id") % 3 =!= 0),
      base, s"$base/arrive/in", 3)
    runUpdArrive(spark, dir, base, s"$base/arrive/cp").stop()
    st23Serve(spark, dir, base, rBase)
  }

  /** st23's serve, callable on an existing ledger base (Round16Spec
    * re-serves across compactions): s28's fold over the committed
    * ledger state (latest compacted generation + live tail).
    * `rBase` is the retract-ledger root (empty = the in-base
    * `retract` subtree, the manual-flow convention). */
  private[graft] def st23Serve(spark: SparkSession, dir: String,
                               base: String,
                               rBase: String = ""): DataFrame = {
    val rb = if (rBase.isEmpty) s"$base/retract" else rBase
    val stArr = WaveLedger.ledgerState(spark, s"$base/arrive")
    val c1 = WaveLedger.readOrEmpty(spark, stArr.dirs("pairs"), pairSchema)
    // readOrEmpty (not a bare parquet(paths: _*)) so an all-empty
    // update slice serves the no-op fold instead of throwing on a
    // zero-path read — the same guard the c1 read above uses
    val ledgerEmb = WaveLedger.readOrEmpty(spark, stArr.dirs("emb"),
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")).schema)
    Similarity.knngUpdateFold(spark, dir,
        retractIdsFromLedger(spark, rb), c1, ledgerEmb)
      .select(col("vec_id"), col("nb_id").as("neighbor_id"),
        col("d2_fp"), col("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("st15_graph_arrive" -> (st15GraphArrive _),
      "st16_graph_retract" -> (st16GraphRetract _),
      "st17_index_ingest" -> (st17IndexIngest _),
      "st18_index_retract" -> (st18IndexRetract _),
      "st23_graph_update" -> (st23GraphUpdate _))

  // the streamed-in state must equal the one-shot batch verb on the
  // same slice — s25's / s26's / s13's / s18's oracle chains verbatim
  val oracles: Map[String, String] =
    Map("st15_graph_arrive" -> Similarity.oracles("s25_graph_append"),
      "st16_graph_retract" -> Similarity.oracles("s26_graph_delete"),
      "st17_index_ingest" -> Similarity.oracles("s13_persisted_index"),
      "st18_index_retract" -> Similarity.oracles("s18_index_delete"),
      // the streamed retract∘arrive must equal the batch update —
      // s28's rebuild-with-current-values law under streaming intake
      "st23_graph_update" -> Similarity.oracles("s28_graph_update"))
}

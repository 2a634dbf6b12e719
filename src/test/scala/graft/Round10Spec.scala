package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Graph, Pipeline, Similarity}
import graft.streaming.EventsStream

/** Round-10 pins, part 1 — the r9 ADVICE items:
  *
  *  1. Delete-compaction CRASH RECOVERY: a crash between the two
  *     renames of the per-list swap leaves a list stranded in
  *     codes.del_old with nothing at its home slot; the next
  *     compaction must restore it before computing the delete set
  *     (otherwise the stranded list's live rows are silently lost).
  *  2. Cache hygiene of d21/p6/st12: repeated invocations in one bare
  *     session must not accumulate pinned corpus-row-sized blocks
  *     (the self-releasing discipline Round9Spec pins for s19/p7).
  *  3. trustRank's empty-seed degenerate: a seed set disjoint from
  *     the graph yields all-ZERO trust on both engines, not
  *     Spark-null vs DuckDB division-by-zero.
  *  4. waterFill's avail=0 row: a declared source with an empty
  *     census allocates 0 with fill_permille 0, never null.
  */
class Round10Spec extends AnyFunSuite with GraftSuite {

  // ---------- 1. compaction crash recovery ----------

  test("s18 compact: a crash stranding a list in codes.del_old is recovered " +
    "— the re-run restores the aside copy and loses no live rows") {
    val idxDir = s"${tempDir("graft_r10")}/graft_r10_crash_idx"
    val basePred = col("vec_id") % 10 =!= 9
    val delSlice = Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 6)
    val delPath = new Path(s"$idxDir/deletes")
    val fs = FileSystem.get(delPath.toUri, spark.sparkContext.hadoopConfiguration)
    def freshIndex(): Unit = {
      if (fs.exists(delPath)) fs.delete(delPath, true)
      fs.delete(new Path(s"$idxDir/codes.del_old"), true)
      fs.delete(new Path(s"$idxDir/codes.del_tmp"), true)
      Similarity.buildIvfPqIndex(spark, dir, idxDir, basePred, basePred)
      Similarity.appendIvfPqIndex(spark, dir, idxDir, !basePred)
    }
    def codeRows(): Set[(Long, Int, Long, Long)] =
      spark.read.parquet(s"$idxDir/codes")
        .withColumn("ccid", col("ccid").cast("long")).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
          r.getAs[Long]("cid"), r.getAs[Long]("ccid"))).toSet

    // reference: the clean delete lifecycle
    freshIndex()
    Similarity.deleteFromIvfPqIndex(spark, delSlice, idxDir)
    Similarity.compactIvfPqDeletes(spark, idxDir)
    val refCodes = codeRows()
    val refAns = Similarity.queryIvfPqIndex(spark, dir, idxDir).collect().toSeq

    // crash simulation: rebuild, tombstone, then strand one affected
    // list aside exactly as a crash after the first rename would
    freshIndex()
    Similarity.deleteFromIvfPqIndex(spark, delSlice, idxDir)
    val affected = spark.read.parquet(s"$idxDir/codes")
      .withColumn("ccid", col("ccid").cast("long"))
      .filter(col("vec_id") % 10 === 6)
      .select(col("ccid")).distinct().collect().map(_.getLong(0))
    assert(affected.nonEmpty, "the delete slice must touch some list")
    val victim = affected.min
    val victimLive = spark.read.parquet(s"$idxDir/codes")
      .withColumn("ccid", col("ccid").cast("long"))
      .filter(col("ccid") === victim && col("vec_id") % 10 =!= 6).count()
    assert(victimLive > 0,
      "the stranded list must carry live rows or the recovery pin is vacuous")
    val oldRoot = new Path(s"$idxDir/codes.del_old")
    fs.mkdirs(oldRoot)
    assert(fs.rename(new Path(s"$idxDir/codes/ccid=$victim"),
      new Path(s"$oldRoot/ccid=$victim")))

    // the re-run must first restore the aside copy, then compact
    Similarity.compactIvfPqDeletes(spark, idxDir)
    assert(codeRows() === refCodes,
      "recovered compaction must equal the crash-free compaction bit-for-bit")
    assert(Similarity.queryIvfPqIndex(spark, dir, idxDir).collect().toSeq === refAns)
    assert(!fs.exists(oldRoot), "the aside tree is cleared")
    assert(!fs.exists(delPath), "tombstones are applied and cleared")
  }

  // ---------- 2. cache hygiene: d21 / p6 / st12 ----------

  test("cache hygiene: repeated d21/p6/st12 invocations accumulate no " +
    "corpus-row-sized pinned blocks") {
    // st12 has no cache at all now (single aggregation cascade)
    EventsStream.st12FullOuter(spark, dir).collect()
    val st1 = spark.sparkContext.getPersistentRDDs.size
    EventsStream.st12FullOuter(spark, dir).collect()
    assert(spark.sparkContext.getPersistentRDDs.size === st1,
      "st12 must pin nothing across invocations")
    // d21 collects its 3-row report and releases the signature cache;
    // only the shared shingle cache (the d4 cross-entry pattern) stays
    Dedup.d21LshTuning(spark, dir).collect()
    val d1 = spark.sparkContext.getPersistentRDDs.size
    Dedup.d21LshTuning(spark, dir).collect()
    assert(spark.sparkContext.getPersistentRDDs.size === d1,
      "repeated d21 must not accumulate MinHash signature caches")
    // p6's result is a localCheckpoint (it must outlive the call) —
    // repeated invocations may pin at most that one result each
    Graph.p6Modularity(spark, dir).collect()
    val p1 = spark.sparkContext.getPersistentRDDs.size
    Graph.p6Modularity(spark, dir).collect()
    val p2 = spark.sparkContext.getPersistentRDDs.size
    assert(p2 - p1 <= 1,
      s"repeated p6 pinned more than its result checkpoint: $p1 -> $p2")
  }

  // ---------- persisted e-family artifacts ----------

  test("e-artifacts: artifact-served tables equal the fresh derivation " +
    "for every stage of the DAG (labels -> docflags -> bins -> manifest)") {
    // force a cold build so the pin covers the build path, not a
    // leftover tree from an earlier session
    val root = new Path(Pipeline.eArtifactRoot(dir))
    val fs = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // gate entries (artifact-served) — triggers the build
    val e1 = Pipeline.e1CorpusFunnel(spark, dir)
    val e3 = Pipeline.e3FinalPacking(spark, dir)
    val e9 = Pipeline.e9OrderManifest(spark, dir)
    val e6 = Pipeline.e6LeakageSplit(spark, dir)
    // fresh derivation, bypassing the artifact tree entirely
    val labelsD = Pipeline.labelsDerived(spark, dir)
    val flagsD = Pipeline.docFlagsDerived(spark, dir, labelsD)
    val binsD = Pipeline.binsFrom(flagsD)
    val e1D = flagsD.groupBy(col("source"))
      .agg(count(lit(1)).as("n_pool"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n_after_dedup"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n_after_quality"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("s3"), col("n_tok")).otherwise(0L)).as("clean_tokens"))
    assert(rows(e1) === rows(e1D), "e1 artifact-served != derived")
    assert(rows(e3) === rows(binsD), "e3 artifact-served != derived")
    assert(rows(e9) === rows(Pipeline.manifestOf(binsD)),
      "e9 artifact-served != derived")
    val e6D = Pipeline.e6DocSplitsFrom(spark, dir, labelsD)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    assert(rows(e6) === rows(e6D), "e6 artifact-served != derived")
  }

  test("e-artifacts: a crashed (marker-less) table rebuilds; a complete " +
    "one is served without rebuilding") {
    val root = Pipeline.eArtifactRoot(dir)
    val marker = new Path(s"$root/docflags/_SUCCESS")
    val fs = FileSystem.get(marker.toUri, spark.sparkContext.hadoopConfiguration)
    val before = Pipeline.e1CorpusFunnel(spark, dir).collect().toSeq // ensures built
    // simulate a crash mid-write: data present, marker gone
    assert(fs.exists(marker))
    fs.delete(marker, false)
    assert(Pipeline.e1CorpusFunnel(spark, dir).collect().toSeq === before,
      "rebuild after a marker-less (crashed) write must reproduce the table")
    assert(fs.exists(marker), "the rebuild restores the completeness marker")
    // served path: mutate the parquet tree's mtime-invisible content by
    // checking the marker short-circuits (no exception, same rows)
    assert(Pipeline.e1CorpusFunnel(spark, dir).collect().toSeq === before)
  }

  // ---------- s21: vector-store UPDATE verb ----------

  test("s21: the update path (tombstone + compact + frozen-model recode) " +
    "equals a rebuild with current values, codes table bit-for-bit") {
    val tmp = tempDir("graft_r10").toString
    val updDir = s"$tmp/graft_r10_upd_idx"
    val rebDir = s"$tmp/graft_r10_reb_idx"
    val basePred = col("vec_id") % 10 =!= 9
    val newEmb = Tables.embeddings(spark, dir).filter(!basePred)
      .withColumn("embedding", reverse(col("embedding")))
    val fs = FileSystem.get(new Path(updDir).toUri,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$updDir/deletes"), true)
    // update path: full s13 lifecycle, then upsert the re-embedded slice
    Similarity.buildIvfPqIndex(spark, dir, updDir, basePred, basePred)
    Similarity.appendIvfPqIndex(spark, dir, updDir, !basePred)
    Similarity.updateIvfPqIndex(spark, newEmb, updDir)
    // rebuild path: same frozen model, current values coded directly
    Similarity.buildIvfPqIndex(spark, dir, rebDir, basePred, basePred)
    Similarity.appendIvfPqIndexFrom(spark, newEmb, rebDir)
    def codeRows(d: String): Set[(Long, Int, Long, Long)] =
      spark.read.parquet(s"$d/codes")
        .withColumn("ccid", col("ccid").cast("long")).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
          r.getAs[Long]("cid"), r.getAs[Long]("ccid"))).toSet
    assert(codeRows(updDir) === codeRows(rebDir),
      "update != rebuild-with-current-values on the codes table")
    assert(Similarity.queryIvfPqIndex(spark, dir, updDir).collect().toSeq ===
      Similarity.queryIvfPqIndex(spark, dir, rebDir).collect().toSeq)
    assert(!fs.exists(new Path(s"$updDir/deletes")),
      "the upsert leaves no tombstones behind")
  }

  // ---------- s22: index RETRAIN (staging + atomic root swap) ----------

  test("s22: retrain-served equals the all-trained s12 bit-for-bit; pending " +
    "tombstones do not resurrect; both swap-crash windows recover") {
    val tmp = tempDir("graft_r10").toString
    val idxDir = s"$tmp/graft_r10_retrain_idx"
    val basePred = col("vec_id") % 10 =!= 9
    val fs = FileSystem.get(new Path(idxDir).toUri,
      spark.sparkContext.hadoopConfiguration)
    Seq("", "/deletes", ".retrain_tmp", ".retrain_old")
      .foreach(s => fs.delete(new Path(idxDir + s), true))
    def answers(): Seq[org.apache.spark.sql.Row] =
      Similarity.queryIvfPqIndex(spark, dir, idxDir).collect().toSeq
    // lifecycle: drifted state -> retrain -> serve
    Similarity.buildIvfPqIndex(spark, dir, idxDir, basePred, basePred)
    Similarity.appendIvfPqIndex(spark, dir, idxDir, !basePred)
    Similarity.retrainIvfPqIndex(spark, dir, idxDir)
    val ref = answers()
    assert(ref === Similarity.s12IvfPq(spark, dir).collect().toSeq,
      "retrain on an undeleted corpus must equal the all-trained IVF-PQ")
    // no-resurrection: tombstone a slice WITHOUT compacting, retrain —
    // the rebuilt codes must not contain the deleted ids and the
    // ledger must be gone (a fresh tree starts clean)
    Similarity.deleteFromIvfPqIndex(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 6), idxDir)
    Similarity.retrainIvfPqIndex(spark, dir, idxDir)
    val resurrected = spark.read.parquet(s"$idxDir/codes")
      .filter(col("vec_id") % 10 === 6).count()
    assert(resurrected === 0L,
      "tombstoned ids must not resurrect through a retrain")
    assert(!fs.exists(new Path(s"$idxDir/deletes")),
      "the rebuilt tree starts with a clean tombstone ledger")
    // source-of-truth law: the corpus is authoritative, tombstones only
    // BRIDGE — a further retrain from the unchanged corpus (ledger now
    // clean) re-includes the rows, landing back at the all-trained state
    Similarity.retrainIvfPqIndex(spark, dir, idxDir)
    val full = answers()
    assert(full === ref,
      "a retrain from the unchanged corpus returns to the all-trained answers")
    // crash window A: root renamed aside, staging complete -> the next
    // retrain completes forward and converges to the same answers
    assert(fs.rename(new Path(idxDir), new Path(idxDir + ".retrain_tmp")))
    Similarity.retrainIvfPqIndex(spark, dir, idxDir)
    assert(answers() === full, "completion-forward recovery lost the index")
    // crash window B: root renamed aside with only the old copy left ->
    // rollback, then the retrain converges again
    assert(fs.rename(new Path(idxDir), new Path(idxDir + ".retrain_old")))
    Similarity.retrainIvfPqIndex(spark, dir, idxDir)
    assert(answers() === full, "rollback recovery lost the index")
  }

  // ---------- s20: NN-Descent refinement round ----------

  test("s20: the descent round lifts recall over the blocked round-1 graph " +
    "at unchanged probe count, and never loses a round-1 neighbor set's quality") {
    // brute-force ground truth on the same quantized-L2 metric
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    val norms = raw.map { case (v, a) => v -> a.map(x => x * x).sum }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      -2L * s
    }
    val exact = raw.map { case (vi, a) =>
      vi -> raw.filter(_._1 != vi)
        .map { case (vj, b) => (norms(vi) + norms(vj) + d2(a, b), vj) }
        .sortBy(x => (x._1, x._2)).take(Similarity.TopK).map(_._2).toSet
    }.toMap
    def recallOf(edges: Array[org.apache.spark.sql.Row],
                 vCol: String, nCol: String): Double =
      edges.count(e => exact(e.getAs[Long](vCol)).contains(e.getAs[Long](nCol)))
        .toDouble / (raw.length * Similarity.TopK)
    val r1 = recallOf(Similarity.s20Round1Graph(spark, dir).collect(),
      "vec_id", "nb_id")
    val r2 = recallOf(Similarity.s20KnnGraph(spark, dir).collect(),
      "vec_id", "neighbor_id")
    info(s"s20 recall@${Similarity.TopK}: round-1 $r1 -> refined $r2")
    assert(r2 >= r1,
      "the descent round re-ranks a SUPERSET of round-1 candidates with the " +
        "exact metric — recall can only improve")
    // measured at sf0.001: 0.72 round-1 -> 0.89 refined; the floor
    // pins a real lift, not luck
    assert(r2 >= r1 + 0.05, s"descent round bought no measurable lift: $r1 -> $r2")
    assert(r2 >= 0.85, s"refined recall collapsed: $r2")
  }

  // ---------- t27: the rounds axis of BPE training ----------

  test("t27: widened merge rounds are prefix-stable and every round's " +
    "training frame stays exactly vocab-sized (corpus-independent cost)") {
    import graft.ext.TextAnalysis
    val vocab = TextAnalysis.bpeVocab(spark, dir)
    val nVocab = vocab.count()
    val (m8, rows8) = TextAnalysis.learnBpeMergesFrom(vocab, TextAnalysis.BpeRounds)
    val (m16, rows16) =
      TextAnalysis.learnBpeMergesFrom(vocab, 2 * TextAnalysis.BpeRounds)
    // prefix stability: training longer never rewrites earlier merges —
    // what makes the batched / driver-local production variants drop-in
    assert(m16.take(TextAnalysis.BpeRounds) === m8,
      "a 2x-rounds run must extend, not rewrite, the shorter merge table")
    assert(m16.length === 2 * TextAnalysis.BpeRounds)
    assert(m16.map(_._1) === (1 to 2 * TextAnalysis.BpeRounds))
    // the per-round cost bound: a merge rewrites toks, it never changes
    // the row count — every round processes exactly |vocab| rows no
    // matter how many rounds run or how big the corpus behind the
    // vocab cap was
    assert(rows8 === nVocab && rows16 === nVocab,
      s"training frame drifted from vocab size: $nVocab -> $rows8/$rows16")
  }

  // ---------- 3. trustRank empty-seed degenerate ----------

  test("trustRank: seeds disjoint from the graph yield all-zero trust, not nulls") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val seeds = Seq(99L).toDF("node")
    val out = Graph.trustRank(pairs, "a_id", "b_id", seeds).collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("r")), "trust must never be null")
      assert(r.getAs[Long]("r") === 0L, "zero seed mass propagates zero trust")
    }
  }

  // ---------- 4. waterFill avail=0 row ----------

  test("e8 waterFill: a zero-availability source allocates 0 with fill 0, " +
    "never null") {
    import spark.implicits._
    val spec = Seq(("a", 0L, 5L), ("b", 1000L, 1L), ("c", 500L, 2L))
      .toDF("source", "avail", "w")
    val rows = Pipeline.waterFill(spark, spec).collect()
    assert(rows.length === 3)
    val a = rows.find(_.getString(0) == "a").get
    assert(a.getAs[Long]("alloc_tokens") === 0L)
    assert(a.getAs[Long]("saturated") === 1,
      "an empty source is trivially saturated (alloc = avail = 0)")
    assert(a.getAs[Long]("fill_permille") === 0L)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("fill_permille")))
      assert(!r.isNullAt(r.fieldIndex("alloc_tokens")))
    }
  }

  // ---------- 5. index-lifecycle edge cases (review findings) ----------

  test("retrain doubles as CREATE: on a dir with no live index the staging " +
    "tree renames straight into place — no spurious swap failure, answers " +
    "equal a direct all-trained build") {
    val tmp = tempDir("graft_r10").toString
    val freshDir = s"$tmp/graft_r10_retrain_create"
    val refDir = s"$tmp/graft_r10_retrain_ref"
    val fs = FileSystem.get(new Path(freshDir).toUri,
      spark.sparkContext.hadoopConfiguration)
    Seq(freshDir, s"$freshDir.retrain_tmp", s"$freshDir.retrain_old", refDir)
      .foreach(p => fs.delete(new Path(p), true))
    Similarity.retrainIvfPqIndex(spark, dir, freshDir)
    assert(fs.exists(new Path(s"$freshDir/codes")), "retrain-as-create built the index")
    assert(!fs.exists(new Path(s"$freshDir.retrain_tmp")), "staging cleared")
    assert(!fs.exists(new Path(s"$freshDir.retrain_old")), "no aside left")
    Similarity.buildIvfPqIndex(spark, dir, refDir, lit(true), lit(true))
    val refAns = Similarity.queryIvfPqIndex(spark, dir, refDir).collect().toSeq
    assert(Similarity.queryIvfPqIndex(spark, dir, freshDir).collect().toSeq === refAns,
      "retrain-created index answers equal a direct all-trained build")
    // partial-staging crash in the CREATE path: no live root, a
    // staging tree WITHOUT its codes/_SUCCESS completeness witness —
    // recovery must discard it (never promote a partial tree to
    // serve) and the retrain must still land a correct index
    fs.delete(new Path(freshDir), true)
    fs.mkdirs(new Path(s"$freshDir.retrain_tmp/codes"))
    Similarity.retrainIvfPqIndex(spark, dir, freshDir)
    assert(!fs.exists(new Path(s"$freshDir.retrain_tmp")),
      "the partial staging tree is discarded, not promoted")
    assert(Similarity.queryIvfPqIndex(spark, dir, freshDir).collect().toSeq === refAns,
      "recovery from a partial staging rebuilds a correct index")
  }

  test("index generations are sealed: a stale codes.del_old from a previous " +
    "generation is cleared by the rebuild and never resurrected by a later " +
    "compaction; a stale codes.del_tmp is cleared even when the re-run has " +
    "no compaction work") {
    val idxDir = s"${tempDir("graft_r10")}/graft_r10_gen_idx"
    val fs = FileSystem.get(new Path(idxDir).toUri,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(idxDir), true)
    Similarity.buildIvfPqIndex(spark, dir, idxDir, lit(true), lit(true))
    // plant an OLD-GENERATION aside: a ccid the live index doesn't
    // have, carrying rows coded against a different model
    val oldRoot = new Path(s"$idxDir/codes.del_old")
    fs.mkdirs(oldRoot)
    spark.read.parquet(s"$idxDir/codes").limit(5).drop("ccid")
      .write.parquet(s"$oldRoot/ccid=999999")
    // plant a stale staging tree too
    fs.mkdirs(new Path(s"$idxDir/codes.del_tmp"))
    // rebuild = new generation: both scratch trees must be gone
    Similarity.buildIvfPqIndex(spark, dir, idxDir, lit(true), lit(true))
    assert(!fs.exists(oldRoot), "rebuild clears the stale aside tree")
    assert(!fs.exists(new Path(s"$idxDir/codes.del_tmp")),
      "rebuild clears the stale staging tree")
    // and a later compaction finds nothing to resurrect
    Similarity.deleteFromIvfPqIndex(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 6), idxDir)
    Similarity.compactIvfPqDeletes(spark, idxDir)
    assert(spark.read.parquet(s"$idxDir/codes")
      .filter(col("ccid") === 999999).count() === 0,
      "no old-generation partition leaks into the compacted index")
    // separately: a stale del_tmp alone (crash between aside-delete
    // and staging-delete) is cleared even when the tombstone table is
    // empty and the affected branch never runs
    fs.mkdirs(new Path(s"$idxDir/codes.del_tmp"))
    Similarity.compactIvfPqDeletes(spark, idxDir) // no tombstones pending
    assert(!fs.exists(new Path(s"$idxDir/codes.del_tmp")),
      "staging cleanup is unconditional, not tied to pending work")
  }

  // ---------- e10: epoch-append artifact refresh ----------

  test("e10: refresh is append-only (epoch-0 part files untouched by an " +
    "epoch-1 rebuild), conserves the mixed set's mass vs pack-at-once, " +
    "appends strictly above each shard's watermark, and is idempotent") {
    val root = new Path(Pipeline.e10Root(dir))
    val fs = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true) // cold build: the pin covers the build path
    val first = Pipeline.e10ArtifactRefresh(spark, dir).collect().toSeq
    def epochFiles(e: Int): Map[String, (Long, Long)] = {
      val it = fs.listFiles(new Path(root, s"epoch=$e"), true)
      val b = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val st = it.next()
        b(st.getPath.toString) = (st.getLen, st.getModificationTime)
      }
      b.toMap
    }
    val base1 = epochFiles(0)
    // force an epoch-1 rebuild: drop its marker, call again
    fs.delete(new Path(root, "epoch=1/_SUCCESS"), false)
    val second = Pipeline.e10ArtifactRefresh(spark, dir).collect().toSeq
    assert(second === first, "refresh is deterministic across rebuilds")
    assert(epochFiles(0) === base1,
      "epoch-0 part files (path, length, mtime) are untouched by the refresh")
    // idempotence: a marker-complete tree serves without rewriting
    val e1files = epochFiles(1)
    assert(Pipeline.e10ArtifactRefresh(spark, dir).collect().toSeq === first)
    assert(epochFiles(1) === e1files, "a complete epoch is never rewritten")
    // conservation vs the pack-at-once world (e3's bins over the SAME
    // mixed set): doc/token mass equal, bin count >= (append-only
    // packing never beats perfect fill)
    val atOnce = Pipeline.queries("e3_final_packing")(spark, dir)
      .agg(sum(col("n_docs")), sum(col("n_tokens")), count(lit(1))).collect()(0)
    val refreshed = Pipeline.e10Bins(spark, dir)
      .agg(sum(col("n_docs")), sum(col("n_tokens")), count(lit(1))).collect()(0)
    assert(refreshed.getLong(0) === atOnce.getLong(0), "docs conserved")
    assert(refreshed.getLong(1) === atOnce.getLong(1), "tokens conserved")
    assert(refreshed.getLong(2) >= atOnce.getLong(2),
      "append-only packing uses at least as many bins as pack-at-once")
    // watermark law: wherever both epochs have bins, the first new bin
    // sits exactly one above the shipped watermark
    val bins = Pipeline.e10Bins(spark, dir)
    val wm = bins.groupBy(col("shard"))
      .agg(max(when(col("epoch") === 0, col("bin"))).as("base_max"),
           min(when(col("epoch") === 1, col("bin"))).as("new_min"))
      .filter(col("base_max").isNotNull && col("new_min").isNotNull)
      .collect()
    assert(wm.nonEmpty, "the pin must see shards with both epochs")
    wm.foreach(r => assert(r.getAs[Long]("new_min") === r.getAs[Long]("base_max") + 1L,
      s"shard ${r.get(0)}: appended bins start at the watermark"))
  }

  // ---------- N-epoch composition of the refresh operator ----------

  test("epoch append composes N-fold: two delta waves chained through " +
    "appendEpochBins give disjoint, watermark-ordered, mass-conserving " +
    "epochs — daily deltas chain indefinitely") {
    val flags = Pipeline.docFlagsDerived(spark, dir,
      Pipeline.labelsDerived(spark, dir)).cache()
    // three ARRIVAL WAVES over the whole mixed set, split on
    // doc_id % 3: the shard hash is doc_id % 32 (a power of two), so
    // any (doc_id div 2^a) % 2 split would alias with shard bits and
    // starve the 3-deep case (no shard would ever chain epoch 2 above
    // epoch 1 — the very law under test); 3 is coprime with 32, so
    // every wave hits every shard class, and splitting the FULL mixed
    // set (not just e4's thin delta slice) gives the density the
    // corpus-level pin needs at sf0.001. The synthetic PropertySpec
    // property covers arbitrary wave shapes on top of this.
    val e0 = Pipeline.binsFrom(flags.filter(col("doc_id") % 3 === 0))
      .withColumn("epoch", lit(0))
    val e1 = Pipeline.appendEpochBins(flags.filter(col("doc_id") % 3 === 1),
        e0.drop("epoch"))
      .withColumn("epoch", lit(1))
    val e2 = Pipeline.appendEpochBins(flags.filter(col("doc_id") % 3 === 2),
        e0.drop("epoch").unionByName(e1.drop("epoch")))
      .withColumn("epoch", lit(2))
    val all = e0.unionByName(e1).unionByName(e2).cache()
    // disjoint + watermark-ordered per shard: each epoch's min bin is
    // exactly one above the previous non-empty epochs' max
    val byShard = all.groupBy(col("shard")).agg(
      max(when(col("epoch") === 0, col("bin"))).as("m0"),
      min(when(col("epoch") === 1, col("bin"))).as("lo1"),
      max(when(col("epoch") === 1, col("bin"))).as("m1"),
      min(when(col("epoch") === 2, col("bin"))).as("lo2")).collect()
    var chained = 0
    var chained12 = 0 // shards where epoch 2 stacks on epoch 1 — the 3-deep case
    byShard.foreach { r =>
      val m0 = Option(r.getAs[java.lang.Long]("m0"))
      val lo1 = Option(r.getAs[java.lang.Long]("lo1"))
      val m1 = Option(r.getAs[java.lang.Long]("m1"))
      val lo2 = Option(r.getAs[java.lang.Long]("lo2"))
      for (a <- m0; b <- lo1) { assert(b === a + 1L); chained += 1 }
      if (m0.isEmpty) lo1.foreach(b => assert(b === 0L,
        "a shard with no earlier bins starts its epoch at 0"))
      // epoch 2 sits above the highest EARLIER bin on this shard
      // (epoch 1 if present, else epoch 0, else it starts at 0)
      for (b <- lo2) {
        val prevMax = (m1.toSeq ++ m0.toSeq).map(_.toLong)
        if (prevMax.isEmpty) assert(b === 0L)
        else {
          assert(b === prevMax.max + 1L); chained += 1
          if (m1.isDefined) chained12 += 1
        }
      }
    }
    assert(chained > 0, "the pin must see genuinely chained epochs")
    assert(chained12 > 0,
      "the pin must see epoch 2 stacked directly on epoch 1 (3-deep chain)")
    // conservation: the three epochs carry exactly the mixed set's mass
    val tot = all.agg(sum(col("n_docs")), sum(col("n_tokens"))).collect()(0)
    val mass = flags.filter(col("s5"))
      .agg(count(lit(1)), sum(col("n_tok"))).collect()(0)
    flags.unpersist(); all.unpersist()
    assert(tot.getLong(0) === mass.getLong(0))
    assert(tot.getLong(1) === mass.getLong(1))
  }

  // ---------- e12: budget enforcement ----------

  test("e12: the prefix cap is maximal and exact — kept <= alloc, saturated " +
    "sources keep everything, and every report row matches an independent " +
    "Scala greedy over the census") {
    val report = Pipeline.e12BudgetEnforce(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val census = Pipeline.docFlagsDerived(spark, dir,
        Pipeline.labelsDerived(spark, dir))
      .filter(col("s5")).select(col("doc_id"), col("source"), col("n_tok"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(report.nonEmpty && census.nonEmpty)
    report.foreach { case (src, r) =>
      val alloc = r.getAs[Long]("alloc_tokens")
      val kept = r.getAs[Long]("kept_tokens")
      assert(kept <= alloc, s"$src: kept must never exceed alloc")
      if (r.getAs[Int]("saturated") === 1) {
        assert(r.getAs[Long]("n_docs_spilled") === 0L, s"$src: saturated spills nothing")
        assert(kept === r.getAs[Long]("avail_tokens"), s"$src: saturated keeps all")
      }
      // independent greedy prefix over the census, given the
      // (oracle-verified) alloc: admit docs whole in doc_id order
      // while the running total stays within alloc
      val docs = census.filter(_._2 == src).sortBy(_._1)
      var cum = 0L; var nK = 0L; var tK = 0L; var nS = 0L; var tS = 0L
      docs.foreach { case (_, _, t) =>
        cum += t
        if (cum <= alloc) { nK += 1; tK += t } else { nS += 1; tS += t }
      }
      assert(r.getAs[Long]("n_docs_kept") === nK, s"$src: n_docs_kept")
      assert(r.getAs[Long]("kept_tokens") === tK, s"$src: kept_tokens")
      assert(r.getAs[Long]("n_docs_spilled") === nS, s"$src: n_docs_spilled")
      assert(r.getAs[Long]("spilled_tokens") === tS, s"$src: spilled_tokens")
    }
    // non-vacuity: the gate instance exercises BOTH regimes
    assert(report.values.exists(_.getAs[Int]("saturated") === 1),
      "some source must saturate")
    assert(report.values.exists(_.getAs[Long]("n_docs_spilled") > 0L),
      "some source must spill")
  }

  // ---------- e11: retention delete through the artifacts ----------

  test("e11: delete-compact equals rebuild-without-deleted (independent " +
    "derivation), removed mass reconciles to the retired source's s5 docs, " +
    "and the pre-delete e10 tree is untouched") {
    val eroot = new Path(Pipeline.eArtifactRoot(dir))
    val fs = FileSystem.get(eroot.toUri, spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(eroot,
      s"bins_retained_${Pipeline.E11RetiredSource}"), true) // cold retained build
    // snapshot the pre-delete epochs, then run the delete
    Pipeline.e10Bins(spark, dir).count()
    def files(sub: String): Map[String, (Long, Long)] = {
      val it = fs.listFiles(new Path(eroot, sub), true)
      val b = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val st = it.next()
        b(st.getPath.toString) = (st.getLen, st.getModificationTime)
      }
      b.toMap
    }
    val e10Before = files("bins_epochs")
    val report = Pipeline.e11RetentionDelete(spark, dir).collect()
    assert(files("bins_epochs") === e10Before,
      "the retained generation is written beside, not over, the live epochs")
    // rebuild-without-deleted: the retained tree equals the epoch
    // pipeline derived FRESH (no artifacts) on the filtered mixed set
    val flagsD = Pipeline.docFlagsDerived(spark, dir,
      Pipeline.labelsDerived(spark, dir))
      .filter(col("source") =!= Pipeline.E11RetiredSource).cache()
    val base = Pipeline.binsFrom(flagsD.filter(!Pipeline.e4DeltaPred))
    val off = base.groupBy(col("shard")).agg((max(col("bin")) + 1L).as("off"))
    val delta = Pipeline.binsFrom(flagsD.filter(Pipeline.e4DeltaPred))
      .join(broadcast(off), Seq("shard"), "left")
      .withColumn("bin", col("bin") + coalesce(col("off"), lit(0L)))
      .drop("off")
    val derived = base.withColumn("epoch", lit(0))
      .unionByName(delta.withColumn("epoch", lit(1)))
      .select(col("epoch"), col("shard"), col("bin"), col("n_docs"), col("n_tokens"))
      .collect().map(_.toString).toSet
    val served = Pipeline.e11RetainedBins(spark, dir)
      .select(col("epoch"), col("shard"), col("bin"), col("n_docs"), col("n_tokens"))
      .collect().map(_.toString).toSet
    assert(served === derived, "delete-compact != rebuild-without-deleted")
    // removed-mass reconciliation: exactly the retired source's s5 docs
    val retired = Pipeline.docFlagsDerived(spark, dir,
      Pipeline.labelsDerived(spark, dir))
      .filter(col("source") === Pipeline.E11RetiredSource && col("s5"))
      .agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L))).collect()(0)
    flagsD.unpersist()
    assert(report.map(_.getAs[Long]("n_docs_removed")).sum === retired.getLong(0))
    assert(report.map(_.getAs[Long]("n_tokens_removed")).sum === retired.getLong(1))
    assert(retired.getLong(0) > 0, "the pin must remove real mass (non-vacuity)")
  }

  // ---------- 6. st11 degenerate inputs ----------

  test("st11: an empty events table stages two empty batches and yields an " +
    "empty census — no NPE from the null min/max midpoint") {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_r10_empty_events"
    val fs = FileSystem.get(new Path(tmp).toUri,
      spark.sparkContext.hadoopConfiguration)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val empty = spark.read.parquet(s"$dir/events.parquet").limit(0)
    // rewrite the fixture only when it is missing, partial or stale: a
    // rewrite changes the corpus fingerprint, and st11 would build a
    // fresh tree
    val events = new Path(s"$tmp/events.parquet")
    if (!fs.exists(new Path(events, "_SUCCESS")) ||
        spark.read.parquet(events.toString).schema != empty.schema) {
      fs.delete(new Path(tmp), true)
      empty.write.parquet(events.toString)
    }
    val out = EventsStream.st11SnapshotMerge(spark, tmp).collect()
    assert(out.isEmpty, "empty input converges to an empty snapshot census")
  }
}

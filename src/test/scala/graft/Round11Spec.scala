package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Graph, Pipeline}
import graft.streaming.WaveLedger

/** Round-11 pins — the candidate-pair artifact DAG extension
  * (signatures → pairs → labels now root the persisted tree, and the
  * whole pair-derived d/p family serves from it) plus the r10 ADVICE
  * hardenings:
  *
  *  1. pairs/signatures artifact-served ≡ the from-scratch d4
  *     derivation, and a crashed (marker-less) pairs write rebuilds.
  *  2. Consumer equivalence: d7's served labeling ≡ the from-scratch
  *     CC labeling; p1 over the artifact ≡ p1 over a fresh pair list.
  *  3. ensureArtifact's EMPTY-build guard: an artifact whose build
  *     frame has zero rows serves as a well-typed empty frame (the
  *     schema sidecar) instead of failing sticky on 'unable to infer
  *     schema' behind its own _SUCCESS marker.
  *  4. ArtifactRoots' corpus fingerprint: two dirs with identical
  *     paths-but-different-content tag differently; an unchanged dir
  *     tags stably.
  */
class Round11Spec extends AnyFunSuite with GraftSuite {

  // ---------- 1. pairs/signatures artifact ≡ derived ----------

  test("pair artifacts: served signatures and pairs equal the from-scratch " +
    "d4 derivation, and a crashed (marker-less) pairs write rebuilds") {
    val root = new Path(Pipeline.eArtifactRoot(dir))
    val fs = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    // cold build so the pin covers the build path
    fs.delete(root, true)
    val pairsServed = rows(Pipeline.pairsArtifact(spark, dir))
    val pairsDerived = rows(Dedup.d4MinhashLsh(spark, dir))
    assert(pairsServed === pairsDerived, "pairs artifact-served != derived")
    assert(pairsServed.nonEmpty, "vacuous pin: the sf0.001 pair graph is non-empty")
    assert(rows(Pipeline.signaturesArtifact(spark, dir)) ===
      rows(Dedup.signaturesDerived(spark, dir)),
      "signatures artifact-served != derived")
    assert(rows(Pipeline.truthPairsArtifact(spark, dir)) ===
      rows(Dedup.d3JaccardPairs(spark, dir)),
      "truth_pairs artifact-served != d3's exact derivation")
    // crashed write: data present, marker gone → rebuild, same rows
    val marker = new Path(s"${Pipeline.eArtifactRoot(dir)}/pairs/_SUCCESS")
    assert(fs.exists(marker))
    fs.delete(marker, false)
    assert(rows(Pipeline.pairsArtifact(spark, dir)) === pairsDerived,
      "rebuild after a marker-less (crashed) pairs write must reproduce the table")
    assert(fs.exists(marker), "the rebuild restores the completeness marker")
  }

  // ---------- 2. consumer equivalence ----------

  test("pair artifacts: d7's artifact-served labeling and p1's artifact-served " +
    "ranks equal the same operators over a fresh pair list") {
    val freshPairs = Dedup.d4MinhashLsh(spark, dir)
    val d7Derived = Dedup.connectedComponents(freshPairs, "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
    assert(rows(Dedup.d7DedupComponents(spark, dir)) === rows(d7Derived),
      "d7 artifact-served != CC over a fresh pair list")
    val p1Derived = Graph.pagerank(freshPairs, "a_id", "b_id")
      .select(col("node").as("doc_id"), col("r").as("rank_fp"))
    assert(rows(Graph.p1Pagerank(spark, dir)) === rows(p1Derived),
      "p1 artifact-served != pagerank over a fresh pair list")
  }

  // ---------- e13 incremental graph refresh ≡ full rebuild ----------

  test("e13: the incremental candidate-graph refresh (delta bands vs the " +
    "signatures artifact + d11 fold) lands on the full rebuild's labeling") {
    assert(rows(Pipeline.e13GraphRefresh(spark, dir)) ===
      rows(Dedup.d7DedupComponents(spark, dir)),
      "refresh != full rebuild")
    // non-vacuity: the delta slice actually contributes pairs at this
    // SF (measured: 3 delta-endpoint pairs at sf0.001), so the fold's
    // merge branch runs — an empty delta would make the pin trivial
    val deltaPairs = Pipeline.pairsArtifact(spark, dir)
      .filter(Pipeline.e4DeltaPredOn("a_id") || Pipeline.e4DeltaPredOn("b_id"))
      .count()
    assert(deltaPairs > 0, "no delta-endpoint pairs — the refresh merge is vacuous")
  }

  test("e13 fold: the CROSS-COMPONENT merge branch — a delta doc bridging two " +
    "pre-existing base clusters — lands on the rebuild labeling (constructed graph)") {
    // This corpus's delta pairs only ATTACH to single base components
    // at sf0.001 (checked: zero rebuild clusters span two base
    // components), so the one fold case that can diverge from rebuild
    // — merging two pre-existing clusters through a new node — is
    // pinned here on a constructed graph instead: base {1-2} {3-4},
    // delta doc 10 pairing into BOTH.
    import spark.implicits._
    val base = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val fresh = Seq((2L, 10L), (3L, 10L)).toDF("a_id", "b_id")
    val folded = Dedup.incrementalFold(base, fresh)
    val rebuilt = Dedup.connectedComponents(base.union(fresh), "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
    assert(rows(folded) === rows(rebuilt),
      "fold through a bridging delta doc != full rebuild")
    assert(folded.select(countDistinct(col("cluster_id"))).head().getLong(0) === 1L,
      "the two base components did not merge — the bridge was ignored")
  }

  // ---------- e12 two-level enforcement ≡ the window form ----------

  test("e12: the two-level hot-source escape (range-bucketed partial sums + " +
    "broadcast offsets) equals the single-window form row for row") {
    val window = Pipeline.e12BudgetEnforce(spark, dir).collect().toSeq
    val twoLevel = Pipeline.e12Enforced(spark, dir, twoLevel = true)
      .collect().toSeq
    assert(twoLevel === window, "two-level enforcement != window form")
    // non-vacuity: at least one source actually spills (both regimes
    // present, so the prefix decision is exercised at the boundary)
    assert(window.exists(_.getAs[Long]("n_docs_spilled") > 0),
      "no source spilled — the cap branch was not exercised")
  }

  // ---------- 3. empty-build artifacts serve, not stick ----------

  test("ensureArtifact: an EMPTY build frame round-trips as a well-typed " +
    "empty frame on the build call AND on later marker-served calls") {
    import spark.implicits._
    val table = "r11_empty_probe"
    val path = new Path(s"${Pipeline.eArtifactRoot(dir)}/$table")
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    try {
      val empty = Seq.empty[(Long, String)].toDF("k", "v").filter(lit(false))
      val built = Pipeline.ensureArtifact(spark, dir, table)(empty)
      assert(built.schema.fieldNames.toSeq === Seq("k", "v"))
      assert(built.count() === 0L)
      // the marker is present (the build 'succeeded'); the served read
      // must still work — pre-r11 this path failed sticky with
      // 'unable to infer schema'
      assert(fs.exists(new Path(s"$path/_SUCCESS")))
      var buildRan = false
      val served = Pipeline.ensureArtifact(spark, dir, table) {
        buildRan = true
        Seq.empty[(Long, String)].toDF("k", "v")
      }
      assert(!buildRan, "a marker-complete table must serve, not rebuild")
      assert(served.schema.fieldNames.toSeq === Seq("k", "v"))
      assert(served.count() === 0L)
    } finally fs.delete(path, true)
  }

  // ---------- s21 deferred compaction ----------

  test("s21 deferred updates: generation-served == compacted-served == " +
    "rebuild-with-current-values; max-generation wins; the crash window " +
    "between the fold's append and the ledger delete serves one copy") {
    import graft.ext.Similarity
    import org.apache.hadoop.fs.FileUtil
    val tmp = tempDir("graft_r11").toString
    val defDir = s"$tmp/graft_r11_defer_idx"
    val rebDir = s"$tmp/graft_r11_defreb_idx"
    val basePred = col("vec_id") % 10 =!= 9
    // batch 1: the appended slice re-embedded (reversed vectors);
    // batch 2: a sub-slice updated AGAIN, back to the original vector
    // — for those ids only the max-generation row may serve
    val b1 = Tables.embeddings(spark, dir).filter(!basePred)
      .withColumn("embedding", reverse(col("embedding")))
    val b2 = Tables.embeddings(spark, dir)
      .filter(!basePred && col("vec_id") % 20 === 19)
    assert(b2.count() > 0, "vacuous: the twice-updated sub-slice is empty")
    Similarity.buildIvfPqIndex(spark, dir, defDir, basePred, basePred)
    Similarity.appendIvfPqIndex(spark, dir, defDir, !basePred)
    Similarity.deferUpdateIvfPqIndex(spark, b1, defDir)
    Similarity.deferUpdateIvfPqIndex(spark, b2, defDir)
    val genServed = Similarity.queryIvfPqIndex(spark, dir, defDir).collect().toSeq
    // crash-window simulation: compact, then RESTORE the ledger as if
    // the process died between the append and the ledger delete —
    // both copies are on disk and the overlay must still serve one
    val genPath = new Path(s"$defDir/codes_gen")
    val aside = new Path(s"$defDir/codes_gen.crashcopy")
    val fs = FileSystem.get(genPath.toUri, spark.sparkContext.hadoopConfiguration)
    fs.delete(aside, true)
    FileUtil.copy(fs, genPath, fs, aside, false,
      spark.sparkContext.hadoopConfiguration)
    Similarity.compactIvfPqUpdates(spark, defDir)
    val compacted = Similarity.queryIvfPqIndex(spark, dir, defDir).collect().toSeq
    assert(genServed === compacted, "generation-served != compacted-served")
    if (!fs.rename(aside, genPath)) fail("crash simulation rename failed")
    assert(Similarity.queryIvfPqIndex(spark, dir, defDir).collect().toSeq
      === compacted, "crash window (folded rows + ledger both on disk) double-served")
    // the re-run converges: ledger folded again, gone, same answers
    Similarity.compactIvfPqUpdates(spark, defDir)
    assert(!fs.exists(genPath), "ledger survives compaction")
    assert(Similarity.queryIvfPqIndex(spark, dir, defDir).collect().toSeq
      === compacted, "crashed-fold re-run diverged")
    // rebuild with current values: batch-2 ids at their original
    // vectors, the rest of the slice at batch 1's reversed vectors
    val current = b1.filter(col("vec_id") % 20 =!= 19).unionByName(b2)
    Similarity.buildIvfPqIndex(spark, dir, rebDir, basePred, basePred)
    Similarity.appendIvfPqIndexFrom(spark, current, rebDir)
    assert(Similarity.queryIvfPqIndex(spark, dir, rebDir).collect().toSeq
      === compacted, "compacted-served != rebuild-with-current-values")
    // codes tables agree row-for-row (deferred path leaves no residue)
    def codeRows(d: String): Set[(Long, Int, Long, Long)] =
      spark.read.parquet(s"$d/codes")
        .withColumn("ccid", col("ccid").cast("long")).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
          r.getAs[Long]("cid"), r.getAs[Long]("ccid"))).toSet
    assert(codeRows(defDir) === codeRows(rebDir),
      "deferred-then-compacted codes != rebuild codes")
  }

  // ---------- batched BPE merges ----------

  test("t27 batched BPE: disjoint batches commute (== sequential, one " +
    "snapshot), conflicts defer to the next snapshot, and the real-corpus " +
    "widened case matches sequential with fewer round-trips") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    def asVocab(rows: Seq[(String, Long)]) =
      rows.toDF("word", "freq").withColumn("toks",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    // fully commuting: four symbol-disjoint dominant pairs — one
    // snapshot covers the whole batch, merge table identical
    val commuting = asVocab(Seq("abab" -> 100L, "cdcd" -> 90L,
      "efef" -> 80L, "ghgh" -> 70L))
    val seqC = TextAnalysis.learnBpeMergesFrom(commuting, 4)._1
    val (batC, snapC) = TextAnalysis.learnBpeMergesBatched(commuting, 4, batch = 4)
    assert(batC === seqC, "commuting batch diverged from sequential")
    assert(snapC === 1, "a fully-commuting batch must cost ONE snapshot")
    // conflicting: (a,b) and (b,c) share b — the batch stops at the
    // conflict (maximal compatible PREFIX, never skipping past), the
    // rest defers, and the result still equals sequential
    val conflicting = asVocab(Seq("ab" -> 60L, "bc" -> 50L, "de" -> 40L))
    val seqX = TextAnalysis.learnBpeMergesFrom(conflicting, 3)._1
    val (batX, snapX) = TextAnalysis.learnBpeMergesBatched(conflicting, 3, batch = 3)
    assert(batX === seqX, "conflict deferral diverged from sequential")
    assert(snapX === 2, "the conflicting case defers exactly once")
    // the real corpus, widened: batch-4 over the gate's BpeRounds —
    // the merge table matches sequential and the rounds-to-merges
    // ratio actually drops (that ratio is what the knob exists for).
    // NOTE this equality is a DETERMINISTIC regression pin for THIS
    // corpus, not a law: a created pair tying a later pick's count
    // could legally reorder the table (see learnBpeMergesBatched doc)
    val vocab = TextAnalysis.bpeVocab(spark, dir)
    val seqR = TextAnalysis.learnBpeMergesFrom(vocab, TextAnalysis.BpeRounds)._1
    val (batR, snapR) =
      TextAnalysis.learnBpeMergesBatched(vocab, TextAnalysis.BpeRounds, batch = 4)
    assert(batR === seqR, "real-corpus batched merges diverged from sequential")
    assert(snapR < TextAnalysis.BpeRounds, "batching saved no round-trips")
  }

  // ---------- 4. corpus fingerprint in the artifact tag ----------

  test("ArtifactRoots.tagged: stable for an unchanged dir, different for " +
    "same-path dirs whose content differs (regeneration detection — a " +
    "CROSS-session property; the per-JVM memo is reset to simulate " +
    "fresh sessions)") {
    val t1 = ArtifactRoots.tagged("r11_fp", dir)
    ArtifactRoots.resetTagCacheForTest()
    assert(t1 === ArtifactRoots.tagged("r11_fp", dir),
      "an unchanged corpus dir must tag stably across sessions")
    // a scratch dir standing in for 'the corpus path after regeneration':
    // same path string both times, different content
    val scratch = new java.io.File(
      s"${tempDir("graft_r11")}/graft_r11_fp_probe")
    def writeProbe(content: String, mtime: Long): Unit = {
      scratch.mkdirs()
      val f = new java.io.File(scratch, "t.parquet")
      java.nio.file.Files.writeString(f.toPath, content)
      f.setLastModified(mtime)
    }
    try {
      writeProbe("one", 1000000000000L)
      val a = ArtifactRoots.tagged("r11_fp", scratch.getPath)
      writeProbe("regenerated", 2000000000000L)
      ArtifactRoots.resetTagCacheForTest()
      val b = ArtifactRoots.tagged("r11_fp", scratch.getPath)
      assert(a !== b, "a regenerated corpus at the same path must re-tag")
      // the mtime axis ALONE must move the tag: same name, same length
      // (an in-place rewrite of identical size — only mtime differs)
      writeProbe("regenerated", 3000000000000L)
      ArtifactRoots.resetTagCacheForTest()
      val c = ArtifactRoots.tagged("r11_fp", scratch.getPath)
      assert(b !== c, "an mtime-only change must re-tag (size can tie)")
    } finally {
      new java.io.File(scratch, "t.parquet").delete()
      scratch.delete()
    }
  }

  // ---------- st13 streaming graph maintenance ----------

  test("st13 arrival law: a wave-2 doc pairs with an ALREADY-ARRIVED wave-1 " +
    "doc (constructed shingles — the cross-wave branch the corpus lacks at this SF)") {
    // at sf0.001/sf0.01 every delta pair has a base endpoint, so the
    // gate can't witness wave×wave discovery; pinned here instead:
    // docs 100 and 300 arrive in wave 1 (unrelated shingle sets),
    // doc 200 (≡ doc 100) arrives in wave 2 and must pair with 100
    // through the arrived-signature union — found at wave 2's turn,
    // found exactly once, verified at jaccard 1.0
    import spark.implicits._
    val sh = Seq(100L -> "x", 100L -> "y", 100L -> "z",
                 200L -> "x", 200L -> "y", 200L -> "z",
                 300L -> "p", 300L -> "q", 300L -> "r").toDF("doc_id", "s")
    val sigs = Dedup.minhashSignatures(sh).cache()
    val w1 = sigs.filter(col("doc_id") =!= 200L)
    val w2 = sigs.filter(col("doc_id") === 200L)
    assert(Dedup.verifyCandidates(sh, Dedup.arrivalCandidates(w1, w1)).count() === 0L,
      "wave 1 alone must produce no pairs (100 and 300 share nothing)")
    val p2 = Dedup.verifyCandidates(sh, Dedup.arrivalCandidates(w2, w1.unionByName(w2)))
      .select(col("a_id"), col("b_id"), col("jaccard")).collect()
    sigs.unpersist(false)
    assert(p2.length === 1 && p2(0).getLong(0) === 100L && p2(0).getLong(1) === 200L,
      s"wave 2 must discover exactly the cross-wave pair (100,200): ${p2.mkString(",")}")
    assert(p2(0).getDouble(2) === 1.0, "identical shingle sets verify at jaccard 1.0")
  }

  test("st13: the gate's restart is real (two committed waves across a " +
    "checkpoint resume), labels ≡ full rebuild, and a FRESH-checkpoint " +
    "replay of both waves re-derives nothing") {
    import graft.streaming.DocumentsStream
    val maintained = rows(DocumentsStream.st13GraphMaintain(spark, dir))
    val base = ArtifactRoots.tagged("graft_st13", dir)
    val waves = WaveLedger.committedBatches(spark, base)
    assert(waves.size === 2, s"expected two committed wave dirs, got $waves")
    val rebuilt = rows(Dedup.d7DedupComponents(spark, dir))
    assert(maintained === rebuilt, "maintained labeling != full rebuild")
    // fresh checkpoint: the file source re-delivers BOTH waves; the
    // content-keyed commit gate must skip them without rewriting a
    // byte (commit markers keep their mtimes) and the serve is
    // unchanged
    val hfs = FileSystem.get(new Path(base).toUri,
      spark.sparkContext.hadoopConfiguration)
    def markerTimes(): Seq[Long] = waves.map(w =>
      hfs.getFileStatus(new Path(w, "_GRAFT_COMMIT")).getModificationTime)
    val before = markerTimes()
    DocumentsStream.runMaintain(spark, dir, base, s"$base/cp_replay").stop()
    assert(markerTimes() === before,
      "a committed wave was rewritten on fresh-checkpoint re-delivery")
    assert(rows(DocumentsStream.labelsFromLedger(spark, dir, base)) === rebuilt,
      "labels drifted after the idempotent replay")
  }

  // ---------- e14 graph retraction ----------

  test("e14 split branch: retiring a BRIDGE doc splits its cluster in two and " +
    "the incremental relabel equals the rebuild-without-retired (constructed graph)") {
    // corpus data can't witness this branch at spec SFs (sf0.01's
    // affected cluster dissolves, sf0.001's shrinks but stays one
    // component), so the split is pinned here: one cluster
    // 1-2-3 with pendants 4 (on 1) and 5 (on 3); retiring bridge 2
    // must yield TWO components {1,4} and {3,5} — doc 3's label
    // moves off the old cluster min
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 5L)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(pairs, "a_id", "b_id")
    val retired = Seq(2L).toDF("doc_id")
    val got = Pipeline.retractFromGraph(pairs, labels, retired)
    val rebuilt = Dedup.connectedComponents(
        Seq((1L, 4L), (3L, 5L)).toDF("a_id", "b_id"), "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
    assert(rows(got) === rows(rebuilt), "incremental retract != rebuild on the split")
    assert(got.select(countDistinct(col("cluster_id"))).head().getLong(0) === 2L,
      "the bridge retirement did not split the cluster")
  }

  test("e14: incremental retract ≡ rebuild-without-retired on the corpus, and " +
    "the affected cluster actually changed (non-vacuity)") {
    val got = rows(Pipeline.e14GraphRetract(spark, dir))
    val retired = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === Pipeline.E14RetiredSource).select(col("doc_id"))
    val keptPairs = Pipeline.pairsArtifact(spark, dir)
      .join(retired.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
      .join(retired.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti")
      .select(col("a_id"), col("b_id"))
    val rebuilt = Dedup.connectedComponents(keptPairs, "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
    assert(got === rows(rebuilt), "incremental retract != full rebuild without retired")
    // non-vacuity: the retraction must touch something at this SF —
    // sf0.001's cluster {0,50,82} loses retired doc 82 and survives
    // as {0,50} (measured), so the output strictly shrinks
    val before = Pipeline.pairsArtifact(spark, dir)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct().count() // = the pre-retraction labeled-doc count
    assert(got.size < before, "retraction removed nothing — the pin is vacuous")
  }

  test("e14 property: on randomized graphs with randomized retired sets, " +
    "incremental retract ≡ rebuild-without-retired (d19's randomization " +
    "discipline — dissolves, shrinks, splits and multi-cluster hits all at once)") {
    import spark.implicits._
    for (seed <- Seq(11, 42, 1031)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }.distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // retire ~1/6 of the ACTUAL node set (guaranteed non-vacuous)
      // plus one id outside the graph (the no-op membership branch)
      val retiredIds = rnd.shuffle(nodes).take(math.max(1, nodes.size / 6)) :+ 999L
      val pairs = edges.toDF("a_id", "b_id")
      val labels = Dedup.connectedComponents(pairs, "a_id", "b_id")
      val got = rows(Pipeline.retractFromGraph(
        pairs, labels, retiredIds.toDF("doc_id")))
      val kept = edges.filter { case (a, b) =>
        !retiredIds.contains(a) && !retiredIds.contains(b) }
      val rebuilt = rows(Dedup.connectedComponents(kept.toDF("a_id", "b_id"),
          "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id")))
      assert(got === rebuilt, s"seed $seed: incremental retract != rebuild " +
        s"(retired ${retiredIds.size - 1}/${nodes.size} nodes)")
    }
  }
}

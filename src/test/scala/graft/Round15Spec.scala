package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Pipeline, Similarity}
import graft.streaming.WaveLedger

/** Round-15 pins — the shared-IVF-substrate refactor (VERDICT r14
  * item 1) and the round's structural additions:
  *
  *  1. Substrate ≡ build: the once-per-corpus-version drifted
  *     substrate answers the standard query set bit-for-bit like the
  *     per-invocation build+append chain it replaced (clone ≡ built).
  *  2. Clone isolation: a verb entry mutating its CLONE leaves the
  *     substrate byte-stable — the next consumer still serves the
  *     drifted answers.
  *  3. A clone is a sealed generation: no tombstone table, no update
  *     ledger, no substrate/verb markers travel with the copy.
  */
class Round15Spec extends AnyFunSuite with GraftSuite {

  // ---------- 1. the shared IVF substrate ----------

  test("drifted substrate serves the standard query set bit-for-bit " +
    "like the per-invocation build+append chain (clone ≡ built)") {
    val sub = Similarity.driftedSubstrate(spark, dir)
    val served = rows(Similarity.queryIvfPqIndex(spark, dir, sub))
    val built = rows(Similarity.s13PersistedIvfPq(spark, dir))
    assert(served.nonEmpty, "substrate answers must be non-empty")
    assert(served === built,
      "substrate-served answers must equal the fresh build+append chain")
  }

  test("a mutating verb on its clone leaves the substrate untouched: " +
    "s18's delete+compact runs, then the substrate still serves the " +
    "pre-delete drifted answers") {
    val before = rows(Similarity.queryIvfPqIndex(spark, dir,
      Similarity.driftedSubstrate(spark, dir)))
    val deleted = rows(Similarity.s18IndexDelete(spark, dir))
    assert(deleted !== before,
      "the delete verb must actually change the served answers " +
        "(otherwise this isolation pin is vacuous)")
    val after = rows(Similarity.queryIvfPqIndex(spark, dir,
      Similarity.driftedSubstrate(spark, dir)))
    assert(after === before,
      "the substrate must be byte-stable across a verb run on a clone")
  }

  test("a clone is a sealed generation: only the three index tables " +
    "travel — no deletes/codes_gen ledgers, no markers, no heartbeat") {
    val sub = Similarity.driftedSubstrate(spark, dir)
    val clone = graft.ArtifactRoots.tagged("graft_r15spec_clone", dir)
    graft.store.cloneTree(spark, sub, clone, Similarity.IndexTables)
    val fs = FileSystem.get(new Path(clone).toUri,
      spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(clone)).map(_.getPath.getName).toSet
    assert(names === Set("coarse_centroids", "pq_codebooks", "codes"),
      s"clone must carry exactly the three index tables, got $names")
    // and the clone serves identically to its source
    assert(rows(Similarity.queryIvfPqIndex(spark, dir, clone)) ===
      rows(Similarity.queryIvfPqIndex(spark, dir, sub)),
      "a clone must serve bit-for-bit like its source tree")
    fs.delete(new Path(clone), true)
  }

  // ---------- 2. d22 — document UPDATE at the pair tier ----------

  test("d22: incremental update (retract ∘ arrive ∘ fold) equals the " +
    "rebuild-with-current-text labeling exactly") {
    val updated = rows(Dedup.d22DocUpdate(spark, dir))
    val rebuilt = rows(
      Dedup.connectedComponents(
        Dedup.d4PairsOf(Dedup.d22CurrentDocs(spark, dir))
          .select(col("a_id"), col("b_id")), "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id")))
    assert(updated.nonEmpty, "the post-update labeling must be non-empty")
    assert(updated === rebuilt,
      "incremental update must equal rebuild over the post-edit corpus")
  }

  test("d22: an edited doc joins its predecessor's cluster, the edited " +
    "slice genuinely moves, and untouched clusters serve verbatim") {
    val upd = Dedup.d22DocUpdate(spark, dir).cache()
    val old = Pipeline.labelsArtifact(spark, dir)
      .select(col("node").as("doc_id"), col("cluster_id")).cache()
    // joins the new cluster: each edited doc's text IS its
    // predecessor's, so (d-1, d) must share a cluster for every edited
    // doc that appears in the labeling at all
    val together = upd.as("a").join(upd.as("b"),
        col("a.doc_id") === col("b.doc_id") + 1 &&
        col("a.doc_id") % 10 === Dedup.D22EditDigit &&
        col("a.cluster_id") === col("b.cluster_id"))
      .count()
    assert(together > 0,
      "at least one edited doc must share a cluster with its predecessor")
    // the labeling genuinely changed
    assert(rows(upd) !== rows(old.orderBy(col("doc_id"))),
      "the update must change the labeling (else the pin is vacuous)")
    // untouched clusters verbatim: docs whose OLD cluster contains no
    // edited doc and none of whose members touches a new (edited-
    // endpoint) pair keep their exact labels
    val editedPred = col("doc_id") % 10 === Dedup.D22EditDigit
    val newPairs = Dedup.d4PairsOf(Dedup.d22CurrentDocs(spark, dir))
      .filter(col("a_id") % 10 === Dedup.D22EditDigit ||
              col("b_id") % 10 === Dedup.D22EditDigit)
    val touchedDocs = newPairs.select(col("a_id").as("doc_id"))
      .union(newPairs.select(col("b_id").as("doc_id")))
      .union(old.filter(editedPred).select(col("doc_id")))
      .distinct()
    val touchedClusters = old.join(touchedDocs, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val untouched = old.join(touchedClusters, Seq("cluster_id"), "left_anti")
    val mismatched = untouched.as("u")
      .join(upd.as("n"), Seq("doc_id"), "left")
      .filter(col("u.cluster_id") =!= col("n.cluster_id") ||
        col("n.cluster_id").isNull)
      .count()
    assert(untouched.count() > 0,
      "the corpus must have untouched clusters (else the pin is vacuous)")
    assert(mismatched === 0L,
      "untouched clusters' labels must pass through verbatim")
    upd.unpersist(); old.unpersist()
  }

  // ---------- 3. st20 — streaming bins-tier arrival ----------

  test("st20: the wave kernel's flags equal the batch docflags delta " +
    "slice frame-for-frame, and the served census equals e10's batch " +
    "refresh") {
    // kernel law: docFlagsForWave over the whole delta doc frame must
    // equal the docflags chain's delta slice (stage expressions cannot
    // drift between the batch builder and the wave kernel)
    val deltaDocs = graft.Tables.documents(spark, dir)
      .filter(Pipeline.e4DeltaPredOn("doc_id"))
    val waveFlags = rows(Pipeline.docFlagsForWave(spark, dir, deltaDocs))
    val batchFlags = rows(Pipeline.docFlagsDerived(spark, dir,
        Pipeline.labelsArtifact(spark, dir))
      .filter(Pipeline.e4DeltaPredOn("doc_id")))
    assert(waveFlags.nonEmpty, "the delta slice must be non-empty")
    assert(waveFlags === batchFlags,
      "wave-kernel flags must equal the batch docflags delta slice")
    // serve law: the streamed epoch-append census ≡ e10's batch refresh
    val streamed = rows(graft.streaming.DocumentsStream.st20BinsArrive(spark, dir))
    val batch = rows(Pipeline.e10ArtifactRefresh(spark, dir))
    assert(streamed === batch,
      "stream-fold must equal the batch epoch-append refresh")
  }

  // ---------- 4. st21 — streaming pair-tier update ----------

  test("st21: the streamed retract∘arrive (tombstone manifest waves, " +
    "then re-edited content waves, restarts inside both) equals the " +
    "batch d22 update verb exactly") {
    val streamed = rows(graft.streaming.DocumentsStream.st21PairUpdate(spark, dir))
    val batch = rows(Dedup.d22DocUpdate(spark, dir))
    assert(streamed.nonEmpty, "the streamed labeling must be non-empty")
    assert(streamed === batch,
      "stream-fold must equal the batch update verb")
  }

  // ---------- 4b. st23 — streaming kNN-graph update ----------

  test("st23: the streamed retract∘arrive (tombstone manifest, then " +
    "re-embedded vector waves with a restart) equals the batch s28 " +
    "update verb exactly") {
    val streamed = rows(graft.streaming.EmbeddingsStream
      .st23GraphUpdate(spark, dir))
    val batch = rows(Similarity.s28GraphUpdate(spark, dir))
    assert(streamed.nonEmpty, "the streamed graph must be non-empty")
    assert(streamed === batch, "stream-fold must equal the batch update verb")
  }

  // ---------- 4c. st22 — streaming bins-tier retract ----------

  test("st22: the streamed takedown census equals the direct " +
    "repack-without-ids, and the removal is non-vacuous (real packed " +
    "mass leaves)") {
    val streamed = graft.streaming.DocumentsStream.st22BinsRetract(spark, dir)
      .cache()
    val removed = streamed.agg(sum(col("n_docs_removed"))).collect()(0).getLong(0)
    assert(removed > 0,
      "the takedown slice must remove real packed mass (vacuous census)")
    val ids = graft.Tables.documents(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") % 10 ===
        graft.streaming.DocumentsStream.St22RetireDigit)
    val direct = Pipeline.retentionReport(
      Pipeline.e10Bins(spark, dir),
      Pipeline.retainedBinsWithout(spark, dir, ids))
    assert(rows(streamed) === rows(direct),
      "stream-fold must equal the direct repack-without-ids census")
    streamed.unpersist()
  }

  test("st20/st22: a fresh-checkpoint re-delivery of every wave commits " +
    "nothing new — the shared ledger's content gate holds for the bins " +
    "tier's entries") {
    import graft.streaming.DocumentsStream
    // arrive side: entry leaves a 2-wave ledger; re-deliver both waves
    // under a NEW checkpoint numbering
    DocumentsStream.st20BinsArrive(spark, dir).collect()
    val aBase = ArtifactRoots.tagged("graft_st20", dir)
    val a0 = WaveLedger.committedBatches(spark, aBase).size
    assert(a0 === 2, s"two committed flag waves expected, saw $a0")
    DocumentsStream.runFlags(spark, dir, aBase, s"$aBase/cp_fresh").stop()
    assert(WaveLedger.committedBatches(spark, aBase).size === a0,
      "fresh-checkpoint re-delivery must commit no new flag wave")
    // retract side: same law on the takedown ledger
    DocumentsStream.st22BinsRetract(spark, dir).collect()
    val rBase = ArtifactRoots.tagged("graft_st22", dir)
    val r0 = WaveLedger.committedBatches(spark, rBase).size
    assert(r0 === 2, s"two committed id waves expected, saw $r0")
    DocumentsStream.runDocRetract(spark, rBase, s"$rBase/cp_fresh").stop()
    assert(WaveLedger.committedBatches(spark, rBase).size === r0,
      "fresh-checkpoint re-delivery must commit no new id wave")
  }

  // ---------- 5. size-gated assignment form ----------

  test("kmeans assignment auto-gate: broadcast under the session " +
    "threshold, shuffle past it, -1 (disabled) forces shuffle, and " +
    "byte-string thresholds parse") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "10485760")
      assert(Similarity.autoBroadcastAssign(spark, 100),
        "a 100-centroid frame must broadcast under 10MB")
      assert(!Similarity.autoBroadcastAssign(spark, 1000000),
        "a 1M-centroid frame (~576MB) must take the shuffle form")
      // the boundary is the named formula, not a fuzzy margin
      val edge = 10485760L / Similarity.assignBytesOf(1)
      assert(Similarity.autoBroadcastAssign(spark, edge))
      assert(!Similarity.autoBroadcastAssign(spark, edge + 1))
      spark.conf.set(key, "-1")
      assert(!Similarity.autoBroadcastAssign(spark, 1),
        "a disabled broadcast threshold must force the shuffle form")
      spark.conf.set(key, "10m")
      assert(Similarity.autoBroadcastAssign(spark, 100),
        "byte-string threshold values must parse")
    } finally {
      orig.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  // ---------- 5b. the ANN-family grading tier ----------

  test("each persisted ANN-family answer table serves exactly what a " +
    "fresh derivation produces (serve ≡ derive, per family)") {
    Similarity.annFamilyFormsForSpec(spark, dir).foreach {
      case (fam, served, derived) =>
        val s = rows(served)
        assert(s.nonEmpty, s"family $fam: served answers must be non-empty")
        assert(s === rows(derived),
          s"family $fam: persisted answers must equal a fresh derivation")
    }
  }

  test("the persisted base labeling serves exactly what a fresh CC over " +
    "the base-only pair graph derives (serve ≡ derive)") {
    val basePairs = Pipeline.pairsArtifact(spark, dir)
      .filter(!Pipeline.e4DeltaPredOn("a_id") && !Pipeline.e4DeltaPredOn("b_id"))
      .select(col("a_id"), col("b_id"))
    val derived = rows(Dedup.connectedComponents(basePairs, "a_id", "b_id")
      .select(col("node"), col("cluster_id")))
    val served = rows(Pipeline.baseLabelsArtifact(spark, dir)
      .select(col("node"), col("cluster_id")))
    assert(served.nonEmpty)
    assert(served === derived,
      "labels_base must equal a fresh base-only convergence")
  }

  test("the persisted family_pairs grading table serves exactly what " +
    "the six family derivations produce (serve ≡ derive)") {
    val served = rows(Pipeline.familyPairsArtifact(spark, dir))
    assert(served.nonEmpty)
    assert(served === rows(Dedup.d20FamilyPairsDerived(spark, dir)),
      "family_pairs must equal the fresh six-family derivation")
  }

  // ---------- 6. s20 probes frontier at sf0.1 ----------

  private def graphRecall(g: Set[(Long, Long)], x: Set[(Long, Long)]): Double =
    if (x.isEmpty) 0.0 else g.intersect(x).size.toDouble / x.size

  private def edgeSet(df: org.apache.spark.sql.DataFrame,
                      nbCol: String): Set[(Long, Long)] =
    df.select(col("vec_id"), col(nbCol)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("s20 probe frontier at sf0.1 (|C|≈21 — blocking non-degenerate, " +
    "unlike the spec SFs' 5-6 lists): measured recall@10 per probe " +
    "count, monotone in probes, production point above the floor") {
    // r15 measurement (full grid, rounds=2 unless noted): probes=3 →
    // 0.6915, 4 → 0.7478, 5 → 0.7807, 6 → 0.8069, 8 → 0.8450, 10 →
    // 0.8792; a THIRD descent round buys ≤ 0.01 at every width. No
    // knee: recall is ~linear in probes (~0.033/probe) because the
    // synthetic embeddings are unclustered (d20's measured fact) —
    // neighbors spread uniformly across lists, so recall tracks the
    // probed-list FRACTION, and the spec-SF 0.9492 reflected probing
    // 4 of ~6 lists, not a property of the algorithm. The knob doc
    // (SURVEY s20 row) carries these numbers; the production posture
    // is "probe to a measured recall target on the sampled truth
    // audit", not a universal constant.
    val bigDir = "/root/testdata/sf0.1"
    val exact = edgeSet(Similarity.exactKnnGraphForSpec(spark, bigDir), "nb_id")
    val rec = (for (p <- Seq(3, 4, 5)) yield {
      val g = edgeSet(Similarity.s20GraphAtForSpec(spark, bigDir, p, 2), "nb_id")
      val r = graphRecall(g, exact)
      info(f"sf0.1 probes=$p rounds=2 recall@10=$r%.4f")
      p -> r
    }).toMap
    assert(rec(4) >= rec(3), "widening probes must not lose recall")
    assert(rec(5) >= rec(4), "widening probes must not lose recall")
    // floor with regeneration margin under the measured 0.7478
    assert(rec(Similarity.S20Probes) >= 0.65,
      f"production operating point collapsed at sf0.1: ${rec(Similarity.S20Probes)}%.4f")
  }

  // ---------- 7. layer-keyed cutover crash state ----------

  test("cutover crash state is keyed by layer set: a BPE tail-crash " +
    "aside is invisible to the DSIR verb, and the BPE verb completes " +
    "its own window forward") {
    val scratch = Pipeline.stageModelClone(spark, dir, Pipeline.BpeModelLayers, "graft_e20_model")
    val fs = FileSystem.get(new Path(scratch).toUri,
      spark.sparkContext.hadoopConfiguration)
    try {
      Pipeline.modelCutover(spark, scratch, Pipeline.BpeModelLayers)
      assert(fs.exists(new Path(s"$scratch/bpe_cutover_done")),
        "the BPE cutover must write its OWN done marker")
      assert(!fs.exists(new Path(s"$scratch/model_cutover_done")),
        "the BPE cutover must not write the DSIR verb's marker")
      // simulate the BPE tail-crash window: marker unwritten, aside
      // rollback copies still present
      fs.delete(new Path(s"$scratch/bpe_cutover_done"), false)
      fs.mkdirs(new Path(s"$scratch/bpe_cutover_old/bpe_merges"))
      // the DSIR verb (no DSIR layers staged on this clone) must
      // REFUSE — before the layer-keyed fix it adopted the shared
      // aside as its own crash state, no-op-promoted, marked a
      // cutover that never ran, and deleted the BPE rollback copies
      intercept[java.io.IOException] {
        Pipeline.modelCutover(spark, scratch)
      }
      assert(!fs.exists(new Path(s"$scratch/model_cutover_done")),
        "the refused DSIR verb must not leave a done marker")
      assert(fs.exists(new Path(s"$scratch/bpe_cutover_old")),
        "the BPE rollback copies must survive the other verb's refusal")
      // the BPE verb itself completes its window forward
      Pipeline.modelCutover(spark, scratch, Pipeline.BpeModelLayers)
      assert(fs.exists(new Path(s"$scratch/bpe_cutover_done")))
      assert(!fs.exists(new Path(s"$scratch/bpe_cutover_old")),
        "forward completion cleans the aside")
    } finally fs.delete(new Path(scratch), true)
  }
}

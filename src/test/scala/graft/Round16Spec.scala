package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Pipeline, Similarity}
import graft.streaming.{DocumentsStream, EmbeddingsStream, WaveLedger}

/** Round-16 pins — st14's ledger-compaction laws generalized to the
  * other wave-ledger tiers through the now-shared [[WaveLedger]]
  * protocol (VERDICT r15 item 1):
  *
  *  1. kNN-graph arrive tier (st15): compaction folds the committed
  *     waves into ONE cumulative generation, the serve (gen + tail)
  *     is unchanged, a fresh-checkpoint re-delivery of compacted
  *     waves re-derives nothing (folded-tag vouching), and a
  *     MID-STREAM compact leaves the final serve identical — the
  *     next wave bands against the generation's assignments.
  *  2. Pair-graph update-arrive tier (st21): the same laws, plus the
  *     marker→delete crash window (a ghost wave with POISON pairs is
  *     excluded from every read and GC'd without minting a new
  *     generation) — the CC labeling makes poison visible, so the
  *     exclusion check is non-vacuous at this tier.
  *  3. kNN-graph update-arrive tier (st23): compaction folds
  *     {assign, pairs, emb}; serve and replay laws as above.
  */
class Round16Spec extends AnyFunSuite with GraftSuite {

  // ---------- 1. st15 tier: kNN-graph arrive ledger ----------

  test("st15 compaction: waves fold into ONE cumulative generation, the " +
    "serve is unchanged, a fresh-checkpoint replay of compacted waves " +
    "re-derives nothing, and a mid-stream compact serves identically " +
    "(the next wave bands against the generation's assignments)") {
    val served = rows(EmbeddingsStream.st15GraphArrive(spark, dir))
    val base = ArtifactRoots.tagged("graft_st15", dir)
    assert(WaveLedger.committedBatches(spark, base).size === 2,
      "precondition: two live waves before the compact")
    EmbeddingsStream.compactArriveLedger(spark, base)
    assert(WaveLedger.committedBatches(spark, base).isEmpty,
      "compaction must clear the folded wave dirs")
    assert(WaveLedger.committedGens(spark, base).size === 1,
      "cumulative compaction keeps exactly one live generation")
    val st = WaveLedger.ledgerState(spark, base)
    assert(st.folded.size === 2, s"both wave tags must be folded: ${st.folded}")
    assert(rows(EmbeddingsStream.st15Serve(spark, dir, base)) === served,
      "compacted serve != pre-compaction serve")

    // fresh-checkpoint replay: the file source re-delivers BOTH waves;
    // their dirs are GONE but the folded set vouches — zero dirs
    // recreated, zero pairs re-derived, serve unchanged
    EmbeddingsStream.runArrive(spark, dir, base, s"$base/cp_replay").stop()
    assert(WaveLedger.committedBatches(spark, base).isEmpty,
      "a compacted wave was re-derived on fresh-checkpoint re-delivery")
    assert(rows(EmbeddingsStream.st15Serve(spark, dir, base)) === served,
      "serve drifted after the post-compaction replay")

    // mid-stream compact: wave A → compact → wave B (wave B's prior
    // assignments come from the GENERATION, not a wave dir) — the
    // final serve must still equal the uncompacted run's
    val bp = new Path(base)
    fs(base).delete(bp, true)
    fs(base).mkdirs(new Path(s"$base/in"))
    EmbeddingsStream.stageWave(spark, dir, base, 0)
    EmbeddingsStream.runArrive(spark, dir, base, s"$base/cp").stop()
    EmbeddingsStream.compactArriveLedger(spark, base)
    assert(WaveLedger.ledgerState(spark, base).waves.isEmpty,
      "mid-stream compact must clear wave A's dir")
    EmbeddingsStream.stageWave(spark, dir, base, 1)
    EmbeddingsStream.runArrive(spark, dir, base, s"$base/cp").stop()
    val stMid = WaveLedger.ledgerState(spark, base)
    assert(stMid.gen.isDefined && stMid.waves.size === 1,
      "read plan after mid-stream compact must be ONE generation + tail")
    assert(rows(EmbeddingsStream.st15Serve(spark, dir, base)) === served,
      "mid-stream compaction changed the served graph")
  }

  // ---------- 2. st21 tier: pair-graph update-arrive ledger ----------

  test("st21 compaction: {docs,sigs,pairs} fold into one generation, " +
    "serve ≡ pre-compaction, replay re-derives nothing, the " +
    "marker→delete crash window double-serves nothing (poison pair), " +
    "and a mid-stream compact (wave B verifies against the gen's docs) " +
    "serves identically") {
    import spark.implicits._
    val served = rows(DocumentsStream.st21PairUpdate(spark, dir))
    val base = ArtifactRoots.tagged("graft_st21", dir)
    // the tombstone manifest is the once-per-corpus-version substrate
    // (r16) — consumers reference its root, the entry base holds only
    // the content-phase ledger
    val rSub = DocumentsStream.st21RetractSubstrate(spark, dir)
    val arr = s"$base/arrive"
    assert(WaveLedger.committedBatches(spark, arr).size === 2,
      "precondition: two live content waves before the compact")
    DocumentsStream.compactUpdateArriveLedger(spark, base)
    assert(WaveLedger.committedBatches(spark, arr).isEmpty &&
      WaveLedger.committedGens(spark, arr).size === 1,
      "compaction must clear the waves into one generation")
    val st = WaveLedger.ledgerState(spark, arr)
    assert(st.folded.size === 2, s"both wave tags must be folded: ${st.folded}")
    assert(rows(DocumentsStream.st21Serve(spark, dir, base, rSub)) === served,
      "compacted serve != pre-compaction serve")

    // fresh-checkpoint replay of the content phase: both waves
    // re-delivered, folded set vouches, nothing re-derived
    DocumentsStream.runUpdateArrive(spark, dir, base, s"$arr/cp_replay", rSub).stop()
    assert(WaveLedger.committedBatches(spark, arr).isEmpty,
      "a compacted content wave was re-derived on re-delivery")
    assert(rows(DocumentsStream.st21Serve(spark, dir, base, rSub)) === served,
      "serve drifted after the post-compaction replay")

    // crash window: marker present, wave dirs not yet deleted. Restore
    // a covered wave dir with POISON pairs — a new CC component would
    // appear if any reader opened it — then assert exclusion and that
    // the next compact GCs it without minting a new generation.
    val ghost = new Path(s"$arr/ledger/${st.folded.head}")
    Seq((999998L, 999999L, 1.0)).toDF("a_id", "b_id", "jaccard")
      .coalesce(1).write.mode("overwrite")
      .parquet(new Path(ghost, "pairs").toString)
    fs(arr).create(new Path(ghost, WaveLedger.CommitMarker), true).close()
    assert(WaveLedger.ledgerState(spark, arr).waves.isEmpty,
      "a folded wave leaked back into the live tail")
    assert(rows(DocumentsStream.st21Serve(spark, dir, base, rSub)) === served,
      "the crash-window leftover was double-served (poison pair read)")
    DocumentsStream.compactUpdateArriveLedger(spark, base)
    assert(WaveLedger.committedBatches(spark, arr).isEmpty,
      "the crash-window leftover was not GC'd")
    assert(WaveLedger.committedGens(spark, arr).size === 1 &&
      WaveLedger.ledgerState(spark, arr).folded.size === 2,
      "a GC-only compact must not mint a new generation")

    // mid-stream compact: content wave A → compact → content wave B.
    // Wave B's blocking state and its verify view read the GEN's
    // sigs/docs (the wave dirs are gone) — the fold must still equal
    // the uncompacted run.
    fs(base).delete(new Path(base), true)
    val rBase = s"$base/retract"
    fs(base).mkdirs(new Path(s"$rBase/in"))
    fs(base).mkdirs(new Path(s"$arr/in"))
    val editedIds = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") % 10 === Dedup.D22EditDigit)
    WaveLedger.stageFrameWave(spark,
      editedIds.filter(col("doc_id") % 3 === 0), base, s"$rBase/in", 0)
    WaveLedger.stageFrameWave(spark,
      editedIds.filter(col("doc_id") % 3 =!= 0), base, s"$rBase/in", 1)
    DocumentsStream.runDocRetract(spark, rBase, s"$rBase/cp").stop()
    val newDocs = Dedup.d22EditedBatch(spark, dir)
    WaveLedger.stageFrameWave(spark,
      newDocs.filter(col("doc_id") % 3 === 0), base, s"$arr/in", 2)
    DocumentsStream.runUpdateArrive(spark, dir, base, s"$arr/cp").stop()
    DocumentsStream.compactUpdateArriveLedger(spark, base)
    assert(WaveLedger.ledgerState(spark, arr).waves.isEmpty,
      "mid-stream compact must clear content wave A's dir")
    WaveLedger.stageFrameWave(spark,
      newDocs.filter(col("doc_id") % 3 =!= 0), base, s"$arr/in", 3)
    DocumentsStream.runUpdateArrive(spark, dir, base, s"$arr/cp").stop()
    assert(rows(DocumentsStream.st21Serve(spark, dir, base)) === served,
      "mid-stream compaction changed the served labeling")
  }

  // ---------- 3. st23 tier: kNN-graph update-arrive ledger ----------

  test("st23 compaction: {assign,pairs,emb} fold into one generation " +
    "(the NEW vectors ride the gen), serve ≡ pre-compaction, and a " +
    "fresh-checkpoint replay re-derives nothing") {
    val served = rows(EmbeddingsStream.st23GraphUpdate(spark, dir))
    val base = ArtifactRoots.tagged("graft_st23", dir)
    // the tombstone manifest is the once-per-corpus-version substrate
    // (r16) — st21's precedent at the vector tier
    val rSub = EmbeddingsStream.st23RetractSubstrate(spark, dir)
    val arr = s"$base/arrive"
    assert(WaveLedger.committedBatches(spark, arr).size === 2,
      "precondition: two live content waves before the compact")
    EmbeddingsStream.compactUpdArriveLedger(spark, base)
    assert(WaveLedger.committedBatches(spark, arr).isEmpty &&
      WaveLedger.committedGens(spark, arr).size === 1,
      "compaction must clear the waves into one generation")
    val st = WaveLedger.ledgerState(spark, arr)
    assert(st.folded.size === 2, s"both wave tags must be folded: ${st.folded}")
    // the gen's emb table carries every committed NEW vector — the
    // serve's current-view source after the wave dirs are gone
    val genEmb = spark.read.parquet(st.dirs("emb"): _*)
    val slice = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === Similarity.S28UpdateDigit)
    assert(genEmb.count() === slice.count(),
      "the generation must carry all committed new vectors")
    assert(rows(EmbeddingsStream.st23Serve(spark, dir, base, rSub)) === served,
      "compacted serve != pre-compaction serve")
    EmbeddingsStream.runUpdArrive(spark, dir, base, s"$arr/cp_replay").stop()
    assert(WaveLedger.committedBatches(spark, arr).isEmpty,
      "a compacted content wave was re-derived on re-delivery")
    assert(rows(EmbeddingsStream.st23Serve(spark, dir, base, rSub)) === served,
      "serve drifted after the post-compaction replay")
  }

  // ---------- 3b. id/flags ledger tiers: the same fold verb ----------

  test("id- and flags-ledger tiers run the same compaction verb: the " +
    "served id set / flags frame is invariant across the fold, waves " +
    "clear into one generation, and re-delivery after the fold commits " +
    "nothing (st19 pair ids, st16 vector ids, st20 flags)") {
    // st19 (pair-tier id ledger) — populate via the gate entry's flow
    val st19Rows = rows(DocumentsStream.st19PairRetract(spark, dir))
    val b19 = ArtifactRoots.tagged("graft_st19", dir)
    val ids19 = rows(DocumentsStream.retiredFromLedger(spark, b19))
    DocumentsStream.compactRetractLedger(spark, b19)
    assert(WaveLedger.committedBatches(spark, b19).isEmpty &&
      WaveLedger.committedGens(spark, b19).size === 1,
      "st19: waves must fold into one generation")
    assert(rows(DocumentsStream.retiredFromLedger(spark, b19)) === ids19,
      "st19: the served id set changed across the fold")
    DocumentsStream.runDocRetract(spark, b19, s"$b19/cp_replay").stop()
    assert(WaveLedger.committedBatches(spark, b19).isEmpty,
      "st19: a compacted id wave was re-derived on re-delivery")
    assert(rows(Pipeline.retractFromGraph(
        Pipeline.pairsArtifact(spark, dir).select(col("a_id"), col("b_id")),
        Pipeline.labelsArtifact(spark, dir),
        DocumentsStream.retiredFromLedger(spark, b19))
      .orderBy(col("doc_id"))) === st19Rows,
      "st19: the downstream fold drifted across compaction")

    // st16 (vector-tier id ledger)
    val st16Rows = rows(EmbeddingsStream.st16GraphRetract(spark, dir))
    val b16 = ArtifactRoots.tagged("graft_st16", dir)
    val ids16 = rows(EmbeddingsStream.retractIdsFromLedger(spark, b16))
    EmbeddingsStream.compactRetractLedger(spark, b16)
    assert(WaveLedger.committedBatches(spark, b16).isEmpty &&
      WaveLedger.committedGens(spark, b16).size === 1,
      "st16: waves must fold into one generation")
    assert(rows(EmbeddingsStream.retractIdsFromLedger(spark, b16)) === ids16,
      "st16: the served id set changed across the fold")
    EmbeddingsStream.runRetract(spark, b16, s"$b16/cp_replay").stop()
    assert(WaveLedger.committedBatches(spark, b16).isEmpty,
      "st16: a compacted id wave was re-derived on re-delivery")
    assert(rows(EmbeddingsStream.retractedFromLedger(spark, dir, b16)
      .select(col("vec_id"), col("nb_id").as("neighbor_id"),
        col("d2_fp"), col("rank"))) === st16Rows,
      "st16: the downstream fold drifted across compaction")

    // st20 (bins-tier flags ledger)
    rows(DocumentsStream.st20BinsArrive(spark, dir))
    val b20 = ArtifactRoots.tagged("graft_st20", dir)
    val flags = rows(DocumentsStream.flagsFromLedger(spark, b20))
    DocumentsStream.compactFlagsLedger(spark, b20)
    assert(WaveLedger.committedBatches(spark, b20).isEmpty &&
      WaveLedger.committedGens(spark, b20).size === 1,
      "st20: waves must fold into one generation")
    assert(rows(DocumentsStream.flagsFromLedger(spark, b20)) === flags,
      "st20: the served flags frame changed across the fold")
    DocumentsStream.runFlags(spark, dir, b20, s"$b20/cp_replay").stop()
    assert(WaveLedger.committedBatches(spark, b20).isEmpty,
      "st20: a compacted flags wave was re-derived on re-delivery")
  }

  // ---------- 4. s31 — the self-tuned probe knob ----------

  test("s31: the graded sweep is monotone in width (candidate supersets), " +
    "the chosen width is the MINIMAL one meeting the target and is strictly " +
    "interior on this corpus (non-vacuous), and the serve's decision " +
    "columns equal the sweep's chosen point") {
    val sweep = Similarity.s31Sweep(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    assert(sweep.map(_._1).toSeq === (1 to Similarity.S31MaxProbes),
      "the sweep must cover every width once")
    assert(sweep.sliding(2).forall(w => w(1)._2 >= w(0)._2),
      s"hits must be monotone in width: ${sweep.toSeq}")
    val nTruth = Similarity.knngExactTruth(spark, dir).count()
    val meets = sweep
      .filter { case (_, h) => h * 10000L >= Similarity.S31TargetRecallBp * nTruth }
      .map(_._1)
    assert(meets.nonEmpty, "some width must meet the target on this corpus " +
      "(the widest probes most lists) — if not, lower S31TargetRecallBp")
    val served = Similarity.s31ProbeAutotune(spark, dir).cache()
    val dec = served.select(col("probes"), col("n_hit")).distinct().collect()
    assert(dec.length === 1, "one decision must ride every served row")
    val (chosen, nHit) = (dec(0).getLong(0), dec(0).getLong(1))
    assert(chosen === meets.min.toLong,
      s"chosen width $chosen != minimal meeting width ${meets.min}")
    assert(chosen > 1L && chosen < Similarity.S31MaxProbes.toLong,
      s"vacuous: chosen $chosen is an endpoint — the sweep decided nothing " +
        "(re-measure the target against this corpus, don't weaken the pin)")
    assert(nHit === sweep.find(_._1.toLong == chosen).get._2,
      "the serve's n_hit must equal the sweep's value at the chosen width")
    // narrower-by-one genuinely fails the target — the decision is sharp
    val below = sweep.find(_._1.toLong == chosen - 1).get._2
    assert(below * 10000L < Similarity.S31TargetRecallBp * nTruth,
      "width chosen-1 also meets the target — chosen is not minimal")
    served.unpersist(false)
  }

  // ---------- 5. e21 — the unified maintenance census ----------

  test("e21: each tier's fired bit equals the standalone verb's decision " +
    "(s30 IVF, s29 graph, e19 DSIR, e20 tokenizer), and the census is " +
    "non-vacuous (both fired states present on this corpus)") {
    import graft.ext.TextAnalysis
    val census = Pipeline.e21MaintenanceCensus(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(census.keySet === Set("bpe_tokenizer", "dsir_model", "ivf_index",
      "knn_graph", "star_fact"), s"one row per tier: ${census.keySet}")
    // the warehouse tier (r17): a fingerprint-fresh star artifact has
    // zero drifted months against the source manifest census
    assert(census("star_fact") === 0L,
      "star tier's census bit fired on a fresh artifact")
    // standalone decisions, each from its own verb's plan
    val s30Fired = Similarity.s30IndexCutover(spark, dir)
      .select(col("fired")).distinct().collect()(0).getLong(0)
    assert(census("ivf_index") === s30Fired,
      "IVF tier's census bit != s30's executed decision")
    val s29Fired = Similarity.s29GraphRetrain(spark, dir)
      .select(col("fired")).distinct().collect()(0).getLong(0)
    assert(census("knn_graph") === s29Fired,
      "graph tier's census bit != s29's executed decision")
    val e19Fired = Pipeline.e19ModelCutover(spark, dir)
      .select(col("fired")).distinct().collect()(0).getLong(0)
    assert(census("dsir_model") === e19Fired,
      "DSIR tier's census bit != e19's executed decision")
    val e20Fired = Pipeline.e20TokenizerCutover(spark, dir)
      .select(col("fired")).distinct().collect()(0).getLong(0)
    assert(census("bpe_tokenizer") === e20Fired,
      "tokenizer tier's census bit != e20's executed decision")
    assert(census.values.toSet === Set(0L, 1L),
      "vacuous: every tier decided the same way — the dashboard " +
        "distinguishes nothing on this corpus (re-measure, don't weaken)")
    // fertility knob: the tokenizer measure is the max per-source gap
    val maxGap = TextAnalysis.t31TokenizerHealth(spark, dir)
      .agg(max(col("gen_gap_tpk"))).collect()(0).getLong(0)
    val m = Pipeline.e21MaintenanceCensus(spark, dir)
      .filter(col("tier") === "bpe_tokenizer")
      .collect()(0).getLong(1)
    assert(m === maxGap, "tokenizer measure != t31's max generation gap")
  }

  // ---------- 6. t28 — the auto-gated encode join ----------

  test("t28: the broadcast and shuffle encode-join forms are bit-equal, " +
    "the auto gate picks broadcast at this vocabulary size, and the " +
    "threshold knob flips the form without moving the answer") {
    import graft.ext.TextAnalysis
    val bcast = rows(TextAnalysis.t28BpeEncode(spark, dir, Some(true)))
    val shuffled = rows(TextAnalysis.t28BpeEncode(spark, dir, Some(false)))
    assert(bcast.nonEmpty && bcast === shuffled,
      "encode-join forms diverge — the gate would change an answer")
    assert(rows(TextAnalysis.t28BpeEncode(spark, dir, None)) === bcast,
      "auto-selected form diverges from the forced forms")
    // the gate itself: fits at this corpus's vocabulary, flips when
    // the dedicated knob shrinks, and the knob overrides the session
    // threshold rather than riding it
    val nWords = Pipeline.bpeEncodedWordsArtifact(spark, dir).count()
    assert(TextAnalysis.autoBroadcastEncode(spark, nWords),
      "the spec corpus's vocabulary should fit the default threshold")
    spark.conf.set(TextAnalysis.EncodeBroadcastThresholdKey, "1")
    try {
      assert(!TextAnalysis.autoBroadcastEncode(spark, nWords),
        "a 1-byte dedicated threshold must force the shuffle form")
      assert(rows(TextAnalysis.t28BpeEncode(spark, dir, None)) === bcast,
        "the shuffle form under the knob must serve the same census")
    } finally spark.conf.unset(TextAnalysis.EncodeBroadcastThresholdKey)
  }

  // ---------- 7. s32 — the selectivity-gated filtered search ----------

  test("s32: the selectivity decision fires exact for the narrow filter " +
    "and index for the broad one with >=3x margins, every served neighbor " +
    "satisfies its predicate, ranks are contiguous from 1, and the narrow " +
    "serve equals an independently computed exact filtered top-k") {
    val served = Similarity.s32FilteredSearch(spark, dir).cache()
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    // decision pattern + margins (integer cross-multiply, 3x off the line)
    val dec = served.select(col("filt"), col("n_match"), col("exact_scan"))
      .distinct().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dec.keySet === Set("f_broad", "f_narrow"),
      s"one decision per filter: ${dec.keySet}")
    val (mB, fB) = dec("f_broad")
    val (mN, fN) = dec("f_narrow")
    assert(fB === 0L && fN === 1L,
      s"decision pattern wrong (broad should ride the index): $dec")
    assert(mB * 10000L >= 3L * Similarity.S32SelBp * n,
      s"broad filter sits < 3x above the cliff (m=$mB, n=$n) — could flap")
    assert(mN * 10000L * 3L <= Similarity.S32SelBp * n,
      s"narrow filter sits < 3x below the cliff (m=$mN, n=$n) — could flap")
    // n_match is the predicate's true count (the shared-SQL law)
    Similarity.S32FilterSql.foreach { case (f, p) =>
      assert(dec(f)._1 === emb.filter(expr(p)).count(),
        s"$f: n_match drifted from its own predicate")
    }
    // every served neighbor satisfies its filter's predicate
    Similarity.S32FilterSql.foreach { case (f, p) =>
      val ids = emb.filter(expr(p)).select(col("vec_id").as("neighbor_id"))
      val viol = served.filter(col("filt") === f)
        .join(ids, Seq("neighbor_id"), "left_anti").count()
      assert(viol === 0L, s"$f served $viol neighbors outside the predicate")
    }
    // ranks contiguous 1..n per (filt, query) — the rank-after-filter law
    val badRanks = served.groupBy(col("filt"), col("query_id"))
      .agg(count(lit(1)).as("c"), max(col("rank")).as("mx"),
        min(col("rank")).as("mn"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("c")).count()
    assert(badRanks === 0L, "ranks must be 1..n within every (filt, query)")
    // the narrow serve IS the exact answer — recomputed here from raw
    // embeddings as a second implementation (quantize, sum-of-squares
    // distance, scala sort), not the code path under test
    val raw = emb.collect().map { r =>
      val e = r.getSeq[Float](r.fieldIndex("embedding")).toArray
      (r.getLong(0), r.getInt(r.fieldIndex("label")),
        e.map(x => math.floor(x.toDouble * Similarity.QuantScale).toLong))
    }
    val matching = raw.filter { case (id, lab, _) => lab == 3 && id % 8 == 0 }
    assert(matching.nonEmpty, "the narrow predicate matches nothing at spec SF")
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = raw.filter(_._1 < Similarity.QueryCount)
      .flatMap { case (q, _, qv) =>
        matching.filter(_._1 != q)
          .map { case (nb, _, nv) => (q, nb, d2(qv, nv)) }
          .sortBy { case (_, nb, d) => (d, nb) }
          .take(Similarity.TopK)
          .zipWithIndex.map { case ((qq, nb, d), i) => (qq, nb, d, i + 1) }
      }.toSet
    val got = served.filter(col("filt") === "f_narrow")
      .select(col("query_id"), col("neighbor_id"), col("d2_fp"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(got === expected,
      "narrow serve != the independently computed exact filtered top-k")
    served.unpersist(false)
  }

  // ---------- 8. d23 — quality-ranked keeper selection ----------

  test("d23: one keeper per duplicate cluster, the keeper is a member and " +
    "maximizes the integer keep score (ties to min id), n_members matches " +
    "the labels artifact, and the rule diverges LIVE from d15's min-id " +
    "keeper (moved non-vacuous both ways)") {
    import graft.ext.TextAnalysis
    val kept = Dedup.d23KeepBest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val members = Pipeline.labelsArtifact(spark, dir)
      .select(col("node").as("doc_id"), col("cluster_id"))
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        TextAnalysis.keepScore(col("text")).as("s")), Seq("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1)
    assert(kept.map(_._1).toSet === members.keySet,
      "exactly one keeper per labeled cluster")
    kept.foreach { case (cid, keeper, score, nMembers, moved) =>
      val ms = members(cid)
      assert(nMembers === ms.size.toLong, s"cluster $cid: n_members wrong")
      assert(ms.exists(m => m._2 == keeper && m._3 == score),
        s"cluster $cid: keeper $keeper/$score is not a member with that score")
      // maximality with the min-id tie-break — the argmax law itself
      val best = ms.map(m => (m._3, m._2)).sortBy { case (s, id) => (-s, id) }.head
      assert((best._2, best._1) === (keeper, score),
        s"cluster $cid: keeper $keeper is not the score argmax $best")
      assert(moved === (if (keeper != cid) 1L else 0L),
        s"cluster $cid: moved flag wrong")
    }
    val movedSet = kept.map(_._5).toSet
    assert(movedSet === Set(0L, 1L),
      "vacuous: the quality rule never/always diverges from min-id on this " +
        "corpus — the operator would be a re-statement of d15 (re-measure)")
  }

  // ---------- 8b. s33 — two-stage serve (ADC shortlist, exact re-rank) ----------

  test("s33: served distances are the TRUE exact distances (recomputed from " +
    "raw embeddings), ranks follow them, and the re-rank beats raw ADC@10 " +
    "against the cosine truth by the measured margin") {
    val served = Similarity.s33AdcRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(served.nonEmpty)
    // exact distances recomputed independently (sum-of-squares on the
    // quantized grid — the second implementation, not knnRankTopK)
    val raw = Tables.embeddings(spark, dir).collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](r.fieldIndex("embedding")).toArray
        .map(x => math.floor(x.toDouble * Similarity.QuantScale).toLong)
    }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    served.foreach { case (q, nb, d, _) =>
      assert(d === d2(raw(q), raw(nb)),
        s"served d2 for ($q,$nb) is not the exact quantized-grid distance")
    }
    served.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to byRank.size),
        s"query $q: ranks not contiguous")
      assert(byRank.sliding(2).forall(w =>
          w.size < 2 || w(0)._3 < w(1)._3 ||
            (w(0)._3 == w(1)._3 && w(0)._2 < w(1)._2)),
        s"query $q: rank order does not follow (d2, id)")
    }
    // the production claim, measured: exact re-rank of the ADC-30
    // shortlist strictly beats raw ADC@10 against the cosine truth
    // (18 -> 27 of 50 at this SF)
    val truth = Similarity.exactCosTruth(spark, dir)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcHits = Similarity.appendedAnswers(spark, dir)
      .select(col("query_id"), col("neighbor_id")).collect()
      .count(r => truth((r.getLong(0), r.getLong(1))))
    val rrHits = served.count(s => truth((s._1, s._2)))
    assert(rrHits > adcHits,
      s"re-rank must beat raw ADC on this corpus: rerank=$rrHits adc=$adcHits")
  }

  // ---------- 9. t32 — interpolated bigram-LM perplexity ----------

  test("t32: every source scores (finite positive nll from the JM floor), " +
    "the integer flag is live (some docs under the 2% modeled share, some " +
    "over), and the census is conserved (flagged <= docs, modeled pairs " +
    "present)") {
    import graft.ext.TextAnalysis
    val rows = TextAnalysis.t32BigramPerplexity(spark, dir).collect()
    assert(rows.nonEmpty, "census must cover the corpus's sources")
    rows.foreach { r =>
      val (nDocs, nll, nFlag, pairs) =
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
      assert(nDocs > 0 && !nll.isNaN && !nll.isInfinite && nll > 0.0,
        s"${r.getString(0)}: nll must be finite positive (the unigram " +
          s"floor keeps p > 0 everywhere), got $nll")
      assert(nFlag >= 0L && nFlag <= nDocs,
        s"${r.getString(0)}: flagged count out of range")
      assert(pairs >= 0L, "modeled pairs cannot be negative")
    }
    val totFlag = rows.map(_.getLong(3)).sum
    val totDocs = rows.map(_.getLong(1)).sum
    assert(totFlag > 0L && totFlag < totDocs,
      s"vacuous flag: $totFlag of $totDocs docs under the " +
        s"${TextAnalysis.BiHitNum}/${TextAnalysis.BiHitDen} modeled-share " +
        "line — the threshold no longer splits this corpus (re-measure)")
    assert(rows.map(_.getLong(4)).sum > 0L,
      "the bigram model matched nothing — the top-K table is dead weight")
  }
}

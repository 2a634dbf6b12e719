package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Pipeline, Similarity, TextAnalysis}
import graft.streaming.WaveLedger

/** Round-14 pins — the r13 ADVICE hardenings plus the round's
  * structural items:
  *
  *  1. The shuffle-join assignment escape (`broadcastAssign = false`)
  *     trains bit-identical centroids — the 100 TB knob is safe to
  *     flip.
  */
class Round14Spec extends AnyFunSuite with GraftSuite {

  // ---------- 1. shuffle-join assignment escape ----------

  test("kmeans centroids are bit-equal across the broadcastAssign flag " +
    "(broadcast vs SHUFFLE_REPLICATE_NL assignment)") {
    val (bcast, shuf) = Similarity.kmeansAssignFormsForSpec(spark, dir)
    val b = rows(bcast.orderBy(col("cid")))
    val s = rows(shuf.orderBy(col("cid")))
    assert(b.nonEmpty, "trained centroid set must be non-empty")
    assert(b === s,
      "shuffle-assignment centroids must be bit-identical to broadcast's")
  }

  // ---------- 2. the persisted BPE tokenizer ----------

  test("BPE artifacts serve exactly what a fresh learn derives " +
    "(merges, batched canon, encoded words)") {
    // t27: served merge table == fresh sequential learn
    val servedMerges = rows(TextAnalysis.t27BpeMerges(spark, dir))
    val freshMerges = rows(TextAnalysis.bpeMergesDerived(spark, dir))
    assert(servedMerges.nonEmpty)
    assert(servedMerges === freshMerges, "served merge table must equal a fresh learn")
    // t29: served canon view == fresh batched learn (snapshots column
    // equal too — the artifact carries the training run's economics)
    val servedBatched = rows(Pipeline.bpeBatchedMergesArtifact(spark, dir))
    val freshBatched = rows(TextAnalysis.bpeBatchedDerived(spark, dir))
    assert(servedBatched === freshBatched, "served batched canon must equal a fresh learn")
    // t28: served encoded-word table == fresh learn+fold
    val servedWords = rows(TextAnalysis.t28EncodedWords(spark, dir))
    val freshWords = rows(TextAnalysis.encodedWordsDerived(spark, dir))
    assert(servedWords === freshWords, "served encoded words must equal a fresh fold")
    // non-vacuity: the fold genuinely fused something (some word has
    // fewer toks than chars)
    val fused = TextAnalysis.t28EncodedWords(spark, dir)
      .filter(size(col("toks")) < length(col("word"))).count()
    assert(fused > 0, "at least one word must actually fuse under the learned merges")
  }

  // ---------- 3. the kNN-graph DELETE verb (s26) ----------

  test("s26: compacted graph drops every deleted endpoint, passes untouched " +
    "lists through verbatim, and tombstone-serve is a rank-order prefix " +
    "restriction of the compacted lists") {
    val (g, del, tomb, comp) = Similarity.s26FormsForSpec(spark, dir)
    val delIds = del.collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty, "the delete slice must be non-empty")
    // 1. no deleted endpoint survives compaction
    val offenders = comp.filter(col("vec_id").isInCollection(delIds) ||
      col("nb_id").isInCollection(delIds)).count()
    assert(offenders === 0L, "no compacted row may touch a deleted id")
    // 2. untouched survivor lists are VERBATIM artifact rows
    val touched = g.filter(!col("vec_id").isInCollection(delIds) &&
      col("nb_id").isInCollection(delIds))
      .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(touched.nonEmpty, "some surviving list must have held a deleted id")
    val untouchedComp = rows(comp.filter(!col("vec_id").isInCollection(touched))
      .orderBy(col("vec_id"), col("rank")))
    val untouchedOrig = rows(g.filter(!col("vec_id").isInCollection(delIds) &&
      !col("vec_id").isInCollection(touched)).orderBy(col("vec_id"), col("rank")))
    assert(untouchedComp === untouchedOrig, "untouched lists must pass through verbatim")
    // 3. prefix law: comp(u) restricted to tombstone-served members, in
    //    comp rank order, IS the tombstone-served nb sequence's prefix
    //    (both orders are d2-asc over the same surviving edges, and
    //    included survivors are necessarily the closest ones)
    val tombByU = tomb.collect().groupBy(_.getAs[Long]("vec_id"))
      .map { case (u, rs) => u -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("nb_id")).toSeq }
    val compByU = comp.collect().groupBy(_.getAs[Long]("vec_id"))
      .map { case (u, rs) => u -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("nb_id")).toSeq }
    touched.foreach { u =>
      val t = tombByU.getOrElse(u, Seq.empty)
      val c = compByU(u)
      val restricted = c.filter(t.toSet)
      assert(restricted === t.take(restricted.size),
        s"vec $u: surviving members of the compacted list must be the tombstone list's prefix")
    }
    // non-vacuity for the prefix law: at least one touched list actually
    // admitted a replacement (compacted members beyond the tombstone set)
    val replaced = touched.count(u => compByU(u).exists(n => !tombByU.getOrElse(u, Seq.empty).contains(n)))
    assert(replaced > 0, "at least one touched list must gain a replacement neighbor")
  }

  test("s26: a SECOND delete batch after the artifact exists folds in via " +
    "the compaction swap (marker does not freeze the table), and the " +
    "re-run with an empty ledger is a no-op") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import spark.implicits._
    val root = Similarity.knngRootForSpec(dir)
    val fs = FileSystem.get(new Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    val comp0 = rows(Similarity.s26GraphDelete(spark, dir)) // ensure + ledger drained
    try {
      // a survivor that actually appears in the compacted graph
      val x = Similarity.knngCompactedGraph(spark, dir)
        .filter(col("nb_id") % 10 =!= 6 && col("vec_id") % 10 =!= 6)
        .select(col("nb_id")).limit(1).collect()(0).getLong(0)
      Similarity.deleteFromKnnGraph(spark, Seq(x).toDF("vec_id"), root)
      val after = Similarity.s26GraphDelete(spark, dir).collect()
      assert(!after.exists(r => r.getAs[Long]("vec_id") == x ||
        r.getAs[Long]("neighbor_id") == x),
        s"second-batch deleted id $x must leave the served graph entirely")
      assert(!fs.exists(new Path(s"$root/graph_deletes")),
        "the ledger must clear after the fold commits")
      // artifact itself updated (not just an overlay): a direct read drops x
      val direct = Similarity.knngCompactedGraph(spark, dir)
        .filter(col("vec_id") === x || col("nb_id") === x).count()
      assert(direct === 0L, "the fold must rewrite the artifact, not overlay it")
      // no-op re-compact with an empty ledger
      Similarity.compactKnnGraphDeletes(spark, dir)
      assert(rows(Similarity.knngCompactedGraph(spark, dir)).nonEmpty)
    } finally {
      // restore the shared sf0.001 tree: drop the mutated table (and
      // any scratch) so the next ensure rebuilds the gate-slice state
      Seq("graph_compacted", "graph_compacted.next", "graph_compacted.old",
        "graph_deletes").foreach(t => fs.delete(new Path(s"$root/$t"), true))
    }
    val rebuilt = rows(Similarity.s26GraphDelete(spark, dir))
    assert(rebuilt === comp0, "restored tree must rebuild the gate-slice state")
  }

  test("s26: compacted-graph recall stays within the drift trigger of a " +
    "genuine rebuild over survivors") {
    val (_, del, _, comp) = Round14Support.s26(spark, dir)
    val delIds = del.collect().map(_.getLong(0)).toSet
    val keep = !col("vec_id").isInCollection(delIds)
    val exact = Similarity.exactKnnGraphForSpec(spark, dir, keep)
      .select(col("vec_id"), col("nb_id")).withColumn("t", lit(1L))
    val rebuild = Similarity.s20RebuildOverForSpec(spark, dir, keep)
    def recall(gr: org.apache.spark.sql.DataFrame): Double = {
      val j = exact.join(gr.select(col("vec_id"), col("nb_id")).withColumn("h", lit(1L)),
        Seq("vec_id", "nb_id"), "left")
      val r = j.agg(sum(coalesce(col("h"), lit(0L))).cast("double") / count(lit(1))).collect()(0)
      r.getDouble(0)
    }
    val rComp = recall(comp)
    val rReb = recall(rebuild)
    info(f"compacted recall $rComp%.4f vs survivor-rebuild $rReb%.4f")
    assert(rComp > 0.5, "compacted graph must retain real recall")
    assert(rReb - rComp < Similarity.S27GraphRetrainDrift,
      f"compacted recall $rComp%.4f must stay within the trigger of rebuild $rReb%.4f")
  }

  // ---------- 3b. e19 ∘ e4 composition ----------

  test("e19 then e4: a delta pass served from the PROMOTED frozen model " +
    "equals e4 computed on a from-scratch retrained base") {
    val scratch = Pipeline.stageModelClone(spark, dir)
    Pipeline.modelCutover(spark, scratch)
    val perdoc = spark.read.parquet(s"$scratch/model_frozen/dsir_perdoc")
    val cut = spark.read.parquet(s"$scratch/model_frozen/dsir_cut")
    val (servedF, servedScored) = Pipeline.e4FlagsFromModelForSpec(spark, dir, perdoc, cut)
    val (freshF, freshScored) = Pipeline.e4FlagsRetrainedForSpec(spark, dir)
    val served = rows(servedF)
    val fresh = rows(freshF)
    servedScored.unpersist(); freshScored.unpersist()
    assert(served.nonEmpty, "the composed delta pass must see delta docs")
    assert(served === fresh,
      "e4 over the promoted frozen tables must equal e4 on a fresh full retrain")
  }

  // ---------- 4. graph drift health (s27) ----------

  test("s27: appended and rebuilt graphs genuinely differ, and the live " +
    "drift sits under the named retrain trigger") {
    val health = Similarity.s27GraphHealth(spark, dir).collect()
    val byState = health.groupBy(_.getAs[String]("state"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Double]("recall")).sum / rs.length }
    assert(byState.keySet === Set("appended", "rebuilt"))
    // the trigger law: appended recall within S27GraphRetrainDrift of rebuilt
    assert(byState("rebuilt") - byState("appended") < Similarity.S27GraphRetrainDrift,
      s"drift ${byState("rebuilt") - byState("appended")} must sit under the trigger")
    // non-vacuity: the two graphs differ as edge sets (the health row is
    // a real measurement, not two reads of the same table)
    val (gFull, _, _, _) = Round14Support.s26(spark, dir)
    val app = graft.ext.Similarity.s25GraphAppend(spark, dir)
      .select(col("vec_id"), col("neighbor_id").as("nb_id"))
    val diff = gFull.select(col("vec_id"), col("nb_id")).exceptAll(app).count() +
      app.exceptAll(gFull.select(col("vec_id"), col("nb_id"))).count()
    assert(diff > 0, "appended and rebuilt graphs must genuinely differ")
  }
  // ---------- 4b. graph update verb (s28) ----------

  test("s28: every updated-graph edge carries the exact current-view " +
    "distance (no stale vectors), ranks are dense, updated lists genuinely " +
    "moved, and recall stays within the trigger of a current-view rebuild") {
    import org.apache.spark.sql.graftshim.ColumnShim
    val qvCur = Similarity.s28CurrentQv(spark, dir).cache()
    val upd = Similarity.s28GraphUpdate(spark, dir)
      .select(col("vec_id"), col("neighbor_id").as("nb_id"), col("d2_fp"), col("rank"))
      .cache()
    // 1. no stale distances: recompute every edge's d2 under the
    //    CURRENT view and compare bit-for-bit
    val dot = ColumnShim.column(graft.functions.LongDotProduct(
      ColumnShim.expression(col("va")), ColumnShim.expression(col("vb"))))
    val recomputed = upd
      .join(qvCur.select(col("vec_id"), col("qv").as("va"), col("nv").as("na")), Seq("vec_id"))
      .join(qvCur.select(col("vec_id").as("nb_id"), col("qv").as("vb"),
        col("nv").as("nb")), Seq("nb_id"))
      .withColumn("d2_cur", col("na") + col("nb") - lit(2L) * dot)
    assert(recomputed.filter(col("d2_cur") =!= col("d2_fp")).count() === 0L,
      "an edge served a distance not derived from the current vectors")
    // 2. dense ranks per list
    val lists = upd.collect().groupBy(_.getAs[Long]("vec_id"))
    lists.foreach { case (v, es) =>
      assert(es.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to es.length),
        s"vec $v has gappy ranks after the update")
    }
    // 3. non-vacuity: updated ids' neighborhoods genuinely moved vs
    //    graph_full (reversed vectors land elsewhere)
    val (gFull, _, _, _) = Similarity.s26FormsForSpec(spark, dir)
    val updIds = lists.keySet.filter(_ % 10 == Similarity.S28UpdateDigit)
    assert(updIds.nonEmpty, "the update slice must own lists")
    val before = gFull.filter(col("vec_id") % 10 === Similarity.S28UpdateDigit)
      .select(col("vec_id"), col("nb_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val after = upd.filter(col("vec_id") % 10 === Similarity.S28UpdateDigit)
      .select(col("vec_id"), col("nb_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((before -- after).nonEmpty && (after -- before).nonEmpty,
      "re-embedding must move the updated ids' neighborhoods")
    // 4. recall envelope vs a genuine rebuild over the CURRENT view
    val exact = Similarity.exactKnnGraphForSpec(spark, dir, lit(true), qvCur)
      .select(col("vec_id"), col("nb_id")).withColumn("t", lit(1L))
      .cache() // two recall grades below
    def recall(gr: org.apache.spark.sql.DataFrame): Double =
      exact.join(gr.select(col("vec_id"), col("nb_id")).withColumn("h", lit(1L)),
          Seq("vec_id", "nb_id"), "left")
        .agg(sum(coalesce(col("h"), lit(0L))).cast("double") / count(lit(1)))
        .collect()(0).getDouble(0)
    val rUpd = recall(upd)
    val rReb = recall(Similarity.s20RebuildOverForSpec(spark, dir, lit(true), qvCur))
    info(f"updated-graph recall $rUpd%.4f vs current-view rebuild $rReb%.4f")
    assert(rReb - rUpd < Similarity.S27GraphRetrainDrift,
      f"updated recall $rUpd%.4f must stay within the trigger of rebuild $rReb%.4f")
    upd.unpersist(); qvCur.unpersist(); exact.unpersist()
  }

  // ---------- 4c. graph retrain verb (s29) ----------

  test("s29: integer trigger form is exactly the float trigger at every " +
    "reachable gap, the quiet branch serves the appended generation, and " +
    "the CASE is non-vacuous (the two generations' query slices differ)") {
    val qk = Similarity.QueryCount * Similarity.TopK
    // exhaustive sweep of every reachable integer gap: the basis-point
    // inequality and the float inequality must pick the same side
    (-qk to qk).foreach { g =>
      val intFired = g.toLong * 10000L > Similarity.S29DriftBp * qk
      val fltFired = g.toDouble / qk > Similarity.S27GraphRetrainDrift
      assert(intFired === fltFired, s"trigger forms disagree at gap $g")
    }
    val out = Similarity.s29GraphRetrain(spark, dir).cache()
    val fired = out.select(col("fired")).distinct().collect().map(_.getLong(0))
    assert(fired.toSeq === Seq(0L), "the spec corpus must take the quiet branch")
    // quiet branch serves the appended generation's query slice verbatim
    val served = rows(out.select(col("query_id").as("vec_id"), col("neighbor_id"),
      col("d2_fp"), col("rank")))
    val app = rows(Similarity.s25GraphAppend(spark, dir)
      .filter(col("vec_id") < Similarity.QueryCount))
    assert(served === app, "quiet branch must serve the appended generation")
    // non-vacuity: the refreshed generation's query slice differs, so the
    // fired CASE genuinely selects between two different answers
    val full = rows(Similarity.s20KnnGraph(spark, dir)
      .filter(col("vec_id") < Similarity.QueryCount)
      .select(col("vec_id"), col("neighbor_id"), col("d2_fp"), col("rank")))
    assert(full !== served, "the two generations must differ on the query slice")
    out.unpersist()
  }

  test("s29: forced promotion serves graph_full bit-for-bit, the re-run is " +
    "a no-op, and both crash windows complete forward") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val full = rows(Similarity.s20KnnGraph(spark, dir)
      .select(col("vec_id"), col("neighbor_id"), col("d2_fp"), col("rank")))
    def serveRows(root: String): Set[String] =
      rows(spark.read.parquet(s"$root/serve")
        .select(col("vec_id"), col("neighbor_id"), col("d2_fp"), col("rank")))
    // 1. forced promotion (the fire branch, trigger-independent)
    val root = Similarity.stageS29Clone(spark, dir)
    val fs = FileSystem.get(new Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    Similarity.graphGenerationCutover(spark, root)
    assert(serveRows(root) === full, "promoted slot must serve the full rebuild")
    assert(!fs.exists(new Path(s"$root/refreshed")), "promotion consumes refreshed")
    assert(fs.exists(new Path(s"$root/graph_cutover_done")), "done marker written")
    // 2. no-op re-run (refreshed gone, marker present)
    Similarity.graphGenerationCutover(spark, root)
    assert(serveRows(root) === full, "re-run must not disturb the promoted slot")
    // 3. crash window A: live set aside, promote not yet run
    val rootA = Similarity.stageS29Clone(spark, dir)
    assert(fs.rename(new Path(s"$rootA/serve"), new Path(s"$rootA/graph_cutover_old")))
    Similarity.graphGenerationCutover(spark, rootA)
    assert(serveRows(rootA) === full, "window-A re-run must complete the promotion")
    assert(!fs.exists(new Path(s"$rootA/graph_cutover_old")), "aside cleaned up")
    // 4. crash window B (tail): refreshed consumed, marker unwritten
    val rootB = Similarity.stageS29Clone(spark, dir)
    assert(fs.rename(new Path(s"$rootB/serve"), new Path(s"$rootB/graph_cutover_old")))
    assert(fs.rename(new Path(s"$rootB/refreshed"), new Path(s"$rootB/serve")))
    Similarity.graphGenerationCutover(spark, rootB)
    assert(serveRows(rootB) === full, "window-B re-run must read as complete")
    assert(fs.exists(new Path(s"$rootB/graph_cutover_done")), "done marker written")
    // 5. empty root (no refreshed, no marker, no aside) throws
    val rootC = s"$rootB.empty"
    fs.mkdirs(new Path(rootC))
    intercept[java.io.IOException] {
      Similarity.graphGenerationCutover(spark, rootC)
    }
    Seq(root, rootA, rootB, rootC).foreach(r => fs.delete(new Path(r), true))
  }

  // ---------- 4d. IVF drift-gated cutover (s30) ----------

  test("s30: integer trigger form is exactly the float trigger at every " +
    "reachable gap, the quiet branch serves the drifted index, the CASE is " +
    "non-vacuous, and the forced-fire branch serves the retrain") {
    val qk = Similarity.QueryCount * Similarity.TopK
    (-qk to qk).foreach { g =>
      val intFired = g.toLong * 10000L > Similarity.S30DriftBp * qk
      val fltFired = g.toDouble / qk > Similarity.S14RetrainDrift
      assert(intFired === fltFired, s"trigger forms disagree at gap $g")
    }
    val out = Similarity.s30IndexCutover(spark, dir).cache()
    val fired = out.select(col("fired")).distinct().collect().map(_.getLong(0))
    assert(fired.toSeq === Seq(0L), "the spec corpus must take the quiet branch")
    // quiet branch serves the drifted (base-trained, frozen-append) index
    val served = rows(out.select(col("query_id"), col("neighbor_id"),
      col("d2_fp"), col("rank")))
    val drifted = rows(Similarity.s13PersistedIvfPq(spark, dir))
    assert(served === drifted, "quiet branch must serve the drifted index")
    // non-vacuity: the retrained world answers differently, so the fired
    // CASE genuinely selects between two different worlds
    val retrained = rows(Similarity.s12IvfPq(spark, dir))
    assert(retrained !== served, "the two index worlds must differ")
    out.unpersist()
    // forced-fire: executing the verb on the entry's own tree serves the
    // retrain (s22's law)
    import org.apache.hadoop.fs.{FileSystem, Path}
    val idxDir = Similarity.s30IdxDirForSpec(dir)
    val fs = FileSystem.get(new Path(idxDir).toUri,
      spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.retrainIvfPqIndex(spark, dir, idxDir)
      val promoted = rows(Similarity.queryIvfPqIndex(spark, dir, idxDir))
      assert(promoted === retrained, "forced-fire must serve the retrained world")
    } finally {
      // restore: drop the mutated tree AND its verb marker so the next
      // invocation's marker-gated verb rebuilds the quiet state
      fs.delete(new Path(idxDir), true)
    }
    val again = rows(Similarity.s30IndexCutover(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("d2_fp"), col("rank")))
    assert(again === served, "restored tree must rebuild the quiet-branch state")
  }

  test("s30 grading tier: each persisted truth table serves exactly what " +
    "its builder derives, and the marker-gated verb is serve-idempotent") {
    assert(rows(Similarity.exactCosTruth(spark, dir)) ===
      rows(Similarity.s1KnnBruteDerived(spark, dir)),
      "exact_cos must equal a fresh brute-force derivation")
    assert(rows(Similarity.appendedAnswers(spark, dir)) ===
      rows(Similarity.s13PersistedIvfPq(spark, dir)),
      "appended_q must equal the s13 lifecycle chain")
    assert(rows(Similarity.retrainedAnswers(spark, dir)) ===
      rows(Similarity.s12IvfPq(spark, dir)),
      "retrained_q must equal the all-trained s12 chain")
    val a = rows(Similarity.s30IndexCutover(spark, dir))
    val b = rows(Similarity.s30IndexCutover(spark, dir))
    assert(a === b, "a marker-served re-run must emit identical rows")
  }

  // ---------- 4e. tokenizer fertility health (t31) ----------

  test("t31: frozen merges serve what a base-slice learn derives, the " +
    "sf0.001 generation coincidence holds (gen_gap 0 — the corpus fact), " +
    "the new-data drift column keeps the measurement non-vacuous, and the " +
    "trigger stays quiet") {
    // serve ≡ learn for the frozen generation
    val served = rows(Pipeline.frozenBpeMergesArtifact(spark, dir))
    val fresh = rows(TextAnalysis.frozenBpeMergesDerived(spark, dir))
    assert(served.nonEmpty && served === fresh,
      "frozen merge table must equal a fresh base-slice learn")
    val out = TextAnalysis.t31TokenizerHealth(spark, dir).collect()
    assert(out.nonEmpty)
    // measured corpus fact at sf0.001: the 8-merge tables coincide, so
    // the generation gap is 0 for every source (at sf0.01 they diverge
    // — the driver's gate hashes that world every round)
    assert(out.forall(_.getAs[Long]("gen_gap_tpk") == 0L),
      "sf0.001's generations coincide — gen_gap must be 0")
    assert(rows(Pipeline.frozenBpeMergesArtifact(spark, dir)
        .select(col("lhs"), col("rhs"))) ===
      rows(Pipeline.bpeMergesArtifact(spark, dir).select(col("lhs"), col("rhs"))),
      "coincidence must hold at the merge-table level too")
    // non-vacuity survives the coincidence: the frozen tokenizer's
    // fertility on NEW data differs from its training slice
    assert(out.exists(_.getAs[Long]("newdata_drift_tpk") != 0L),
      "some source must show real new-data fertility drift")
    // trigger quiet with margin
    assert(out.forall(_.getAs[Long]("retrain") == 0L),
      "the spec corpus must stay under the retrain trigger")
    assert(out.forall(r => math.abs(r.getAs[Long]("gen_gap_tpk")) <=
      TextAnalysis.T31RetrainTpk), "measured gaps must sit under the trigger")
  }

  // ---------- 4f. tokenizer cutover (e20) ----------

  test("e20: the quiet branch serves the frozen generation's fertility " +
    "untouched, and a forced promotion makes the frozen tokenizer the " +
    "current generation bit-for-bit (no-op re-run included)") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val out = Pipeline.e20TokenizerCutover(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("fired") == 0L), "spec corpus stays quiet")
    // quiet serve == t31's frozen-generation fertility per source
    val t31 = TextAnalysis.t31TokenizerHealth(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tpk_frozen")).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("tpk_served") === t31(r.getAs[String]("source")),
        s"quiet branch must serve the frozen fertility for ${r.getAs[String]("source")}")
    }
    // forced promotion on a fresh scratch clone
    val scratch = Pipeline.stageModelClone(spark, dir, Pipeline.BpeModelLayers, "graft_e20_model")
    val fs = FileSystem.get(new Path(scratch).toUri,
      spark.sparkContext.hadoopConfiguration)
    Pipeline.modelCutover(spark, scratch, Pipeline.BpeModelLayers)
    val cur = rows(Pipeline.bpeMergesArtifact(spark, dir))
    val post = rows(spark.read.parquet(s"$scratch/model_frozen/bpe_merges"))
    assert(post === cur, "promoted frozen merges must equal the current generation")
    val curEnc = rows(Pipeline.bpeEncodedWordsArtifact(spark, dir))
    val postEnc = rows(spark.read.parquet(s"$scratch/model_frozen/bpe_encoded_words"))
    assert(postEnc === curEnc, "promoted frozen encode table must equal current")
    Pipeline.BpeModelLayers.foreach { l =>
      assert(!fs.exists(new Path(s"$scratch/$l")), s"promotion consumes $l")
    }
    // no-op re-run (layers consumed, marker present)
    Pipeline.modelCutover(spark, scratch, Pipeline.BpeModelLayers)
    assert(rows(spark.read.parquet(s"$scratch/model_frozen/bpe_merges")) === cur)
    fs.delete(new Path(scratch), true)
  }

  // ---------- 5. streaming graph arrival (st15) ----------

  test("st15: stream-fold equals the batch append bit-for-bit, and a " +
    "fresh-checkpoint re-delivery of both waves commits nothing new and " +
    "serves the same graph") {
    import graft.streaming.EmbeddingsStream
    val first = rows(EmbeddingsStream.st15GraphArrive(spark, dir))
    // the law the oracle also checks, pinned engine-side: the streamed
    // fold IS the one-shot batch append
    val batch = rows(Similarity.s25GraphAppend(spark, dir))
    assert(first === batch, "stream-fold must equal the batch append")
    // fresh-checkpoint replay: both waves re-delivered under a NEW
    // batch numbering — the content-keyed ledger skips them whole
    val base = ArtifactRoots.tagged("graft_st15", dir)
    val n0 = WaveLedger.committedBatches(spark, base).size
    assert(n0 === 2, s"two committed waves expected, saw $n0")
    EmbeddingsStream.runArrive(spark, dir, base, s"$base/cp_fresh").stop()
    val n1 = WaveLedger.committedBatches(spark, base).size
    assert(n1 === n0, "re-delivered waves must not commit new ledger dirs")
    val served = rows(EmbeddingsStream.appendedFromLedger(spark, dir, base)
      .select(col("vec_id"), col("nb_id").as("neighbor_id"), col("d2_fp"), col("rank"))
      .orderBy(col("vec_id"), col("rank")))
    assert(served === first, "replayed ledger must serve the identical graph")
  }

  // ---------- 6. streaming graph retract (st16) ----------

  test("st16: stream-folded retract equals the batch compaction bit-for-bit, " +
    "and a fresh-checkpoint re-delivery of both tombstone waves commits " +
    "nothing new and serves the same graph") {
    import graft.streaming.EmbeddingsStream
    val first = rows(EmbeddingsStream.st16GraphRetract(spark, dir))
    // the law the oracle also checks, pinned engine-side: the streamed
    // tombstone fold IS the one-shot batch delete+compact (s26's serve)
    val batch = rows(Similarity.s26GraphDelete(spark, dir))
    assert(first.nonEmpty)
    assert(first === batch, "stream-folded retract must equal the batch compaction")
    // fresh-checkpoint replay: both waves re-delivered under a NEW
    // batch numbering — the content-keyed ledger skips them whole
    val base = ArtifactRoots.tagged("graft_st16", dir)
    val n0 = WaveLedger.committedBatches(spark, base).size
    assert(n0 === 2, s"two committed tombstone waves expected, saw $n0")
    EmbeddingsStream.runRetract(spark, base, s"$base/cp_fresh").stop()
    val n1 = WaveLedger.committedBatches(spark, base).size
    assert(n1 === n0, "re-delivered waves must not commit new ledger dirs")
    val served = rows(EmbeddingsStream.retractedFromLedger(spark, dir, base)
      .select(col("vec_id"), col("nb_id").as("neighbor_id"), col("d2_fp"), col("rank"))
      .orderBy(col("vec_id"), col("rank")))
    assert(served === first, "replayed ledger must serve the identical graph")
  }

  // ---------- 7. streaming IVF ingest + retract (st17/st18) ----------

  test("st17: streamed upsert ingest equals the batch build+append chain " +
    "bit-for-bit, and a fresh-checkpoint re-delivery commits nothing new " +
    "and serves the same answers") {
    import graft.streaming.EmbeddingsStream
    val first = rows(EmbeddingsStream.st17IndexIngest(spark, dir))
    val batch = rows(Similarity.s13PersistedIvfPq(spark, dir))
    assert(first.nonEmpty)
    assert(first === batch, "stream-ingested index must answer like the batch chain")
    val base = ArtifactRoots.tagged("graft_st17", dir)
    val n0 = WaveLedger.committedBatches(spark, base).size
    assert(n0 === 2, s"two committed arrival waves expected, saw $n0")
    EmbeddingsStream.runIngest(spark, dir, base, s"$base/idx", s"$base/cp_fresh").stop()
    assert(WaveLedger.committedBatches(spark, base).size === n0,
      "re-delivered waves must not commit new ledger dirs")
    val again = rows(Similarity.queryIvfPqIndex(spark, dir, s"$base/idx"))
    assert(again === first, "replayed stream must serve the identical answers")
    // the gen-commit/marker crash window: re-running a wave's ledger
    // verb directly (as if the wave marker were lost) double-commits a
    // generation with identical codings — the max-generation overlay
    // must serve the same answers (value-idempotence)
    val wave1 = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === Similarity.S13AppendDigit)
      .filter(col("vec_id") % 3 === 0)
    Similarity.deferUpdateIvfPqIndex(spark, wave1, s"$base/idx")
    val crashed = rows(Similarity.queryIvfPqIndex(spark, dir, s"$base/idx"))
    assert(crashed === first, "a double-committed wave must serve identically")
  }

  test("st18: streamed retract equals the batch delete+compact chain's " +
    "answers, and a fresh-checkpoint re-delivery commits nothing new") {
    import graft.streaming.EmbeddingsStream
    val first = rows(EmbeddingsStream.st18IndexRetract(spark, dir))
    val batch = rows(Similarity.s18IndexDelete(spark, dir))
    assert(first.nonEmpty)
    assert(first === batch,
      "tombstone-served answers must equal the compacted batch chain's")
    val base = ArtifactRoots.tagged("graft_st18", dir)
    val n0 = WaveLedger.committedBatches(spark, base).size
    assert(n0 === 2, s"two committed tombstone waves expected, saw $n0")
    EmbeddingsStream.runRetract(spark, base, s"$base/cp_fresh").stop()
    assert(WaveLedger.committedBatches(spark, base).size === n0,
      "re-delivered waves must not commit new ledger dirs")
    EmbeddingsStream.retractIdsFromLedger(spark, base)
      .write.mode("overwrite").parquet(s"$base/idx/deletes")
    val again = rows(Similarity.queryIvfPqIndex(spark, dir, s"$base/idx"))
    assert(again === first, "replayed ledger must serve the identical answers")
  }

  test("st19: streamed pair-graph retract equals the batch incremental " +
    "retraction, genuinely removes graph members, and a fresh-checkpoint " +
    "re-delivery commits nothing new") {
    import graft.streaming.DocumentsStream
    val first = DocumentsStream.st19PairRetract(spark, dir).collect()
    assert(first.nonEmpty)
    // stream-fold == the batch incremental retraction over the same slice
    val sliceIds = Pipeline.labelsArtifact(spark, dir)
      .filter(col("node") % 10 === DocumentsStream.St19RetractDigit)
      .select(col("node").as("doc_id")).distinct()
    assert(sliceIds.count() > 0, "the takedown slice must hit live graph members")
    val batch = Pipeline.retractFromGraph(
      Pipeline.pairsArtifact(spark, dir).select(col("a_id"), col("b_id")),
      Pipeline.labelsArtifact(spark, dir),
      graft.Tables.documents(spark, dir).select(col("doc_id"))
        .filter(col("doc_id") % 10 === DocumentsStream.St19RetractDigit))
      .collect()
    assert(first.map(_.toString).toSet === batch.map(_.toString).toSet,
      "stream-folded retraction must equal the batch kernel")
    // the retraction is real: no retired id survives, and the labeling
    // genuinely changed vs the live artifact
    assert(!first.exists(_.getAs[Long]("doc_id") % 10 ==
      DocumentsStream.St19RetractDigit), "no retired doc may keep a label")
    val live = Pipeline.labelsArtifact(spark, dir).count()
    assert(first.length < live, "the retraction must shrink the labeling")
    // fresh-checkpoint re-delivery: content-keyed skip
    val base = ArtifactRoots.tagged("graft_st19", dir)
    val n0 = WaveLedger.committedBatches(spark, base).size
    assert(n0 === 2, s"two committed takedown waves expected, saw $n0")
    DocumentsStream.runDocRetract(spark, base, s"$base/cp_fresh").stop()
    assert(WaveLedger.committedBatches(spark, base).size === n0,
      "re-delivered waves must not commit new ledger dirs")
  }
}

/** Shared seam access (keeps the test bodies terse). */
private object Round14Support {
  def s26(spark: SparkSession, dir: String) = Similarity.s26FormsForSpec(spark, dir)
}

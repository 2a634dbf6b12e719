package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Pipeline, Similarity}

/** Round-13 pins — the r12 ADVICE hardenings plus the round's
  * structural items:
  *
  *  1. The artifact-GC 4×-grace bound keys on last-USE: a stale
  *     sibling tree with a fresh serve-time heartbeat survives the
  *     bound; the same tree without one is collected.
  *  2. Distributed Lloyd rounds are bit-equal to the collected form
  *     (kmeansCentroids / pqCodebooksOn no longer drive |C|×dims
  *     state through the driver).
  */
class Round13Spec extends AnyFunSuite with GraftSuite {

  // ---------- 1. heartbeat-aware artifact GC ----------

  test("artifact GC 4x-grace bound keys on last-use: an old stale sibling " +
    "with a fresh heartbeat is spared, without one it is collected") {
    val fs = FileSystem.get(new Path(ArtifactRoots.root).toUri,
      spark.sparkContext.hadoopConfiguration)
    val data = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_r13_gcdata")
    def touchData(name: String): Unit = {
      data.mkdirs()
      val f = new java.io.File(data, name)
      val w = new java.io.FileWriter(f); w.write(name); w.close()
    }
    def freshTag(): String = {
      ArtifactRoots.resetTagCacheForTest()
      ArtifactRoots.tagged("graft_r13spec_gc", data.getPath)
    }
    val graceMs = 60000L
    try {
      sys.props("graft.test.gcGraceMs") = graceMs.toString
      touchData("v1")
      val t1 = freshTag()
      fs.mkdirs(new Path(t1))
      fs.create(new Path(t1, "payload"), true).close()
      // age the tree past 4x grace (the bound that would collect it
      // even while the regeneration is fresh)
      val old = System.currentTimeMillis() - 10L * graceMs
      // heartbeat FIRST, then age the root dir: creating the
      // heartbeat file itself bumps the dir mtime, which would make
      // the spared assertion vacuous
      ArtifactRoots.touchServed(t1)
      fs.setTimes(new Path(t1), old, old)
      // regenerate the corpus NOW (fresh regeneration => grace path);
      // WITH a fresh heartbeat the old tree must be spared
      touchData("v2")
      val t2 = freshTag()
      assert(t2 !== t1, "fingerprint must move with the data")
      assert(fs.exists(new Path(t1, "payload")),
        "actively-served (heartbeat-fresh) stale sibling was collected")
      // same shape WITHOUT a heartbeat: collected at 4x grace even
      // mid-straddle (the CI-loop accumulation bound)
      fs.delete(new Path(t1, "_graft_heartbeat"), false)
      fs.setTimes(new Path(t1), old, old)
      touchData("v3")
      val t3 = freshTag()
      assert(t3 !== t2)
      assert(!fs.exists(new Path(t1)),
        "heartbeat-less tree older than 4x grace must be collected")
    } finally {
      sys.props.remove("graft.test.gcGraceMs")
      val root = new Path(ArtifactRoots.root)
      if (fs.exists(root))
        fs.listStatus(root).filter(_.getPath.getName.startsWith("graft_r13spec_gc"))
          .foreach(st => fs.delete(st.getPath, true))
      Seq("v1", "v2", "v3").foreach(n => new java.io.File(data, n).delete())
      data.delete()
      ArtifactRoots.resetTagCacheForTest()
    }
  }

  // ---------- 2. distributed Lloyd rounds ----------

  test("distributed Lloyd rounds are bit-equal to the collected form: " +
    "kmeansCentroids and pqCodebooksOn produce identical centroid sums / " +
    "codebook means (integer sums are associative; the floor-mean is the " +
    "same IEEE division)") {
    val (kd, kc, pd, pc) = Similarity.lloydFormsForSpec(spark, dir)
    def kRows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("cid"), col("sarr").cast("string"), col("nc"))
        .collect().map(_.toString).toSet
    def pRows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("sub"), col("cid"), col("ma").cast("string"), col("nc"))
        .collect().map(_.toString).toSet
    val kdr = kRows(kd)
    assert(kdr.nonEmpty, "vacuous: no centroids")
    assert(kdr === kRows(kc), "kmeans centroid sums diverged from the collected form")
    val pdr = pRows(pd)
    assert(pdr.nonEmpty, "vacuous: no codebook rows")
    assert(pdr === pRows(pc), "PQ codebook means diverged from the collected form")
  }

  // ---------- 3. persisted kNN graph: append vs rebuild ----------

  /** recall@k of `g` against the exact brute-force graph `x`, both as
    * (vec_id, neighbor) sets — integer hit count over integer truth. */
  private def graphRecall(g: Set[(Long, Long)], x: Set[(Long, Long)]): Double =
    if (x.isEmpty) 1.0 else g.intersect(x).size.toDouble / x.size

  private def edgeSet(df: org.apache.spark.sql.DataFrame,
                      nbCol: String): Set[(Long, Long)] =
    df.select(col("vec_id"), col(nbCol)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("graph append: the appended graph's recall vs the exact graph is " +
    "within the envelope of the full rebuild's; untouched base rows pass " +
    "through verbatim; every vector has rows and arrivals are covered") {
    import graft.ext.Similarity
    val qvCnt = Tables.embeddings(spark, dir).count()
    // exact graph on the same integer metric (all-pairs at spec SF)
    val exact = edgeSet(Similarity.exactKnnGraphForSpec(spark, dir), "nb_id")
    val rebuilt = edgeSet(
      Similarity.s20KnnGraphRounds(spark, dir, Similarity.S20DescentRounds),
      "neighbor_id")
    val appended = Similarity.s25GraphAppend(spark, dir)
    val appendedSet = edgeSet(appended, "neighbor_id")
    val rRecall = graphRecall(rebuilt, exact)
    val aRecall = graphRecall(appendedSet, exact)
    info(f"recall@10 vs exact: rebuilt=$rRecall%.4f appended=$aRecall%.4f")
    // measured at sf0.001 (probes=4 since r13): rebuilt 0.9492,
    // appended 0.9592 — the
    // appended path's frozen-centroid blocking plus the localized
    // descent hop lands WITHIN (here: above) the rebuild's envelope;
    // pin a 0.05 floor-margin so corpus regeneration noise can't flap
    assert(aRecall >= rRecall - 0.05,
      f"appended graph fell out of the rebuild's recall envelope: $aRecall%.4f vs $rRecall%.4f")
    assert(rRecall >= 0.85, "rebuild recall collapsed — blocking/descent broken")
    // coverage: every vector (base + arrival) answers with >= 1 row
    assert(appended.select(col("vec_id")).distinct().count() === qvCnt,
      "appended graph must cover every vector")
    val arrivals = appended.filter(col("vec_id") % 10 === Similarity.S13AppendDigit)
    assert(arrivals.count() > 0, "vacuous: no arrival rows")
    // untouched base rows are the artifact's very rows: re-deriving the
    // base graph and joining on (vec_id, rank) must agree bit-for-bit
    // wherever the appended graph kept a base vector untouched
    val base = Similarity.knngBaseGraph(spark, dir)
      .select(col("vec_id"), col("nb_id").as("b_nb"), col("d2_fp").as("b_d2"),
        col("rank"))
    val joined = appended.filter(col("vec_id") % 10 =!= Similarity.S13AppendDigit)
      .join(base, Seq("vec_id", "rank"), "left")
    val diverged = joined.filter(col("b_nb").isNull).count()
    // touched vectors may legitimately differ; assert SOME base vector
    // stayed verbatim (untouched pass-through is live, not vacuous)
    val verbatim = joined.filter(col("neighbor_id") === col("b_nb") &&
      col("d2_fp") === col("b_d2")).count()
    assert(verbatim > 0, "no untouched base row passed through verbatim")
    assert(diverged === 0L, "a base vec_id/rank pair missing from the base graph")
  }

  test("s20 probe/round frontier: measured recall@10 at sf0.001") {
    import graft.ext.Similarity
    val exact = edgeSet(Similarity.exactKnnGraphForSpec(spark, dir), "nb_id")
    val pts = for ((p, r) <- Seq((3, 2), (4, 2), (5, 2), (3, 3))) yield {
      val g = edgeSet(Similarity.s20GraphAtForSpec(spark, dir, p, r), "nb_id")
      val rec = graphRecall(g, exact)
      info(f"probes=$p rounds=$r recall@10=$rec%.4f")
      (p, r, rec)
    }
    val rec = pts.map { case (p, r, v) => (p, r) -> v }.toMap
    assert(rec((4, 2)) >= rec((3, 2)), "widening probes must not lose recall")
    assert(rec((5, 2)) >= rec((4, 2)), "widening probes must not lose recall")
  }

  // ---------- t29 batched-BPE merge-ORDER laws ----------

  test("t29 order laws: batch=1 degenerates to the sequential learner " +
    "VERBATIM at batched depth, and every snapshot's first pick is the " +
    "sequential argmax of that state (the order no lawful tie can bend)") {
    import graft.ext.TextAnalysis
    val vocab = TextAnalysis.bpeVocab(spark, dir)
    // law 1: width 1 IS sequential — order, symbols, counts, all of it,
    // at the full batched depth on the real corpus (Round11Spec pinned
    // this on constructed vocabs; this is the live-corpus closure)
    val (b1, snaps1) = TextAnalysis.learnBpeMergesBatched(
      vocab, TextAnalysis.BpeBatchedMerges, 1)
    val (seq, _) = TextAnalysis.learnBpeMergesFrom(
      vocab, TextAnalysis.BpeBatchedMerges)
    assert(snaps1 === TextAnalysis.BpeBatchedMerges)
    assert(b1 === seq, "batch=1 must be the sequential learner verbatim")
    // law 2: each snapshot's FIRST chosen merge equals the sequential
    // argmax over the state the snapshot saw — both learners rank by
    // the identical (cnt desc, l, r), and rank 1 cannot be blocked by
    // the compatible-prefix rule, so no creation-tie can displace it
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (batched, _) = TextAnalysis.learnBpeMergesBatched(
      vocab, TextAnalysis.BpeBatchedMerges, TextAnalysis.BpeBatch, bounds)
    assert(bounds.nonEmpty && bounds.head === 0)
    for (k <- bounds; if k < batched.size) {
      val folded = vocab.select(col("word"), col("freq"),
        batched.take(k).foldLeft(col("toks")) { case (t, (_, l, r, _)) =>
          TextAnalysis.bpeApplyMerge(t, l, r)
        }.as("toks")).localCheckpoint()
      val (one, _) = TextAnalysis.learnBpeMergesFrom(folded, 1)
      assert(one.nonEmpty)
      val (_, gl, gr, gc) = batched(k)
      val (_, sl, sr, sc) = one.head
      assert((gl, gr, gc) === ((sl, sr, sc)),
        s"snapshot starting at merge $k picked (${gl},${gr},$gc) but the " +
          s"sequential argmax of that state is (${sl},${sr},$sc)")
    }
  }

  // ---------- approx-NDV flag (q44/t20) ----------

  test("approx NDV flag: the sketch path stays inside the HLL error " +
    "envelope vs exact at both spec SFs (gate default remains exact)") {
    import graft.queries.AdvancedQueries
    import graft.ext.TextAnalysis
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ex44 = AdvancedQueries.q44ProfileOn(spark, d, approxNdv = false)
        .select(col("column_name"), col("n_distinct").as("exact_ndv"))
      val ap44 = AdvancedQueries.q44ProfileOn(spark, d, approxNdv = true)
        .select(col("column_name"), col("n_distinct").as("approx_ndv"))
      val errs44 = ex44.join(ap44, Seq("column_name")).collect().map { r =>
        val e = r.getAs[Long]("exact_ndv").toDouble
        (r.getString(0), math.abs(r.getAs[Long]("approx_ndv") - e) / math.max(e, 1.0))
      }
      val worst44 = errs44.maxBy(_._2)
      info(f"$d q44 worst NDV rel-err: ${worst44._1} ${worst44._2}%.4f")
      // HLL at rsd 0.02: 3σ ≈ 6%; the pin leaves measured headroom
      assert(worst44._2 <= 0.10, s"q44 approx NDV out of envelope: $worst44")
      val ex20 = TextAnalysis.t20DistinctNgramsOn(spark, d, approxNdv = false)
        .select(col("source"), col("n"), col("distinct_grams").as("exact_ndv"))
      val ap20 = TextAnalysis.t20DistinctNgramsOn(spark, d, approxNdv = true)
        .select(col("source"), col("n"), col("distinct_grams").as("approx_ndv"))
      val errs20 = ex20.join(ap20, Seq("source", "n")).collect().map { r =>
        val e = r.getAs[Long]("exact_ndv").toDouble
        ((r.getString(0), r.getAs[Int]("n")),
          math.abs(r.getAs[Long]("approx_ndv") - e) / math.max(e, 1.0))
      }
      val worst20 = errs20.maxBy(_._2)
      info(f"$d t20 worst NDV rel-err: ${worst20._1} ${worst20._2}%.4f")
      assert(worst20._2 <= 0.10, s"t20 approx NDV out of envelope: $worst20")
    }
  }

  // ---------- Mersenne fold escape (e15 census / e9 checksum) ----------

  test("Mersenne mod-sum: equals a BigInt reference at the int64-overflow " +
    "edge (any partial order), normalizes out-of-range inputs, and the " +
    "flagged census/manifest folds equal the exact folds while in-range") {
    import spark.implicits._
    val M = graft.functions.MersenneModSum.M
    def ref(ts: Seq[Long]): Long =
      (ts.map(t => ((BigInt(t) % M) + M) % M).sum % M).toLong
    // adversarial terms: int64 sum overflows many times over; includes
    // t >= M and negatives (normalization), zero, and random bulk
    val rnd = new scala.util.Random(13)
    val terms = Seq.fill(2000)(rnd.nextLong() & Long.MaxValue) ++
      Seq.fill(50)(M - 1) ++ Seq(0L, 1L, M, M + 7, -1L, -M, -(M + 5))
    val got = terms.toDF("t").repartition(16)
      .agg(graft.functions.MersenneModSum.msum(col("t")).as("s"))
      .collect()(0).getLong(0)
    assert(got === ref(terms), "Mersenne fold diverged from the BigInt law")
    // partial-order independence: a different partitioning, same value
    val got1 = terms.reverse.toDF("t").repartition(3)
      .agg(graft.functions.MersenneModSum.msum(col("t")).as("s"))
      .collect()(0).getLong(0)
    assert(got1 === got)
    // flagged layer census == exact census while the int64 sum is
    // in-range (every spec SF is; the flag only changes the algebra
    // PAST 2^23 rows/layer)
    val sigs = Pipeline.signaturesArtifact(spark, dir)
    val canon = col("doc_id").cast("string")
    val ex = Pipeline.layerCensusOn("sig", sigs, canon, mersenne = false)
      .collect()(0)
    val ms = Pipeline.layerCensusOn("sig", sigs, canon, mersenne = true)
      .collect()(0)
    assert(ex.toString === ms.toString,
      "mersenne census != exact census on in-range data")
    // flagged manifest checksum == exact on a synthetic bins frame
    val bins = Seq((0L, 1L, 10L, 100L), (0L, 2L, 20L, 200L),
      (1L, 1L, 5L, 50L)).toDF("shard", "bin", "n_docs", "n_tokens")
    val mEx = Pipeline.manifestOf(bins).collect().map(_.toString).toSet
    val mMs = Pipeline.manifestOf(bins, mersenne = true)
      .collect().map(_.toString).toSet
    assert(mEx === mMs, "mersenne manifest != exact manifest on in-range data")
  }

  // ---------- 4. e19 model cutover ----------

  test("e19 model cutover: resumes forward from mid-swap crash windows, " +
    "frozen-after-cutover == fresh full retrain, re-run is a no-op, missing " +
    "generation without the marker throws, and the sf0.001 decision fires") {
    val scratch = Pipeline.stageModelClone(spark, dir)
    val fs = FileSystem.get(new Path(scratch).toUri,
      spark.sparkContext.hadoopConfiguration)
    val refreshedPerdoc = rows(spark.read.parquet(s"$scratch/dsir_perdoc"))
    val refreshedCut = rows(spark.read.parquet(s"$scratch/dsir_cut"))
    val aside = s"$scratch/model_cutover_old"
    // CRASH WINDOW A: dsir_perdoc asided, not yet promoted
    fs.mkdirs(new Path(aside))
    assert(fs.rename(new Path(s"$scratch/model_frozen/dsir_perdoc"),
      new Path(s"$aside/dsir_perdoc")))
    // CRASH WINDOW B: dsir_cut fully promoted (aside done, refreshed consumed)
    assert(fs.rename(new Path(s"$scratch/model_frozen/dsir_cut"),
      new Path(s"$aside/dsir_cut")))
    assert(fs.rename(new Path(s"$scratch/dsir_cut"),
      new Path(s"$scratch/model_frozen/dsir_cut")))
    Pipeline.modelCutover(spark, scratch)
    assert(rows(spark.read.parquet(s"$scratch/model_frozen/dsir_perdoc"))
      === refreshedPerdoc, "post-swap frozen perdoc != refreshed generation")
    assert(rows(spark.read.parquet(s"$scratch/model_frozen/dsir_cut"))
      === refreshedCut, "post-swap frozen cut != refreshed generation")
    assert(!fs.exists(new Path(aside)), "aside must be cleaned")
    assert(fs.exists(new Path(s"$scratch/model_cutover_done")))
    // the literal law: frozen-after-cutover == a fresh full retrain
    val derived = graft.ext.TextAnalysis.dsirPerDoc(spark, dir)
    assert(rows(spark.read.parquet(s"$scratch/model_frozen/dsir_perdoc"))
      === rows(derived), "promoted frozen model != from-scratch full retrain")
    // idempotent re-run over the completed state (generation consumed)
    Pipeline.modelCutover(spark, scratch)
    assert(rows(spark.read.parquet(s"$scratch/model_frozen/dsir_perdoc"))
      === refreshedPerdoc)
    // missing generation WITHOUT the completion witness throws
    fs.delete(new Path(s"$scratch/model_cutover_done"), false)
    intercept[java.io.IOException] {
      Pipeline.modelCutover(spark, scratch)
    }
    // TAIL crash window: every layer consumed, marker not yet written —
    // recognized by the leftover aside dir, resumes forward (marker
    // restored, aside cleaned, promoted tables untouched)
    fs.mkdirs(new Path(aside))
    Pipeline.modelCutover(spark, scratch)
    assert(fs.exists(new Path(s"$scratch/model_cutover_done")),
      "tail-crash resume must restore the completion witness")
    assert(!fs.exists(new Path(aside)))
    assert(rows(spark.read.parquet(s"$scratch/model_frozen/dsir_perdoc"))
      === refreshedPerdoc)
    // the gate path is non-vacuous at sf0.001: src7's drift fires the
    // promotion, and the served census is the refreshed generation's
    val e19 = Pipeline.e19ModelCutover(spark, dir).collect()
    assert(e19.exists(_.getAs[Long]("retrain") == 1L),
      "no source fired at sf0.001 — the cutover path is vacuous")
    assert(e19.forall(_.getAs[Long]("fired") == 1L))
  }

  test("graph serve: s24 answers from the artifact with k = TopK per query " +
    "and sane recall") {
    import graft.ext.Similarity
    val served = Similarity.s24GraphServed(spark, dir).collect()
    assert(served.nonEmpty, "vacuous: no served queries")
    served.foreach { r =>
      assert(r.getAs[Long]("k") === Similarity.TopK.toLong)
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }
}

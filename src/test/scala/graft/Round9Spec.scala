package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Pipeline

/** Round-9 pins for the e5 new-source bootstrap (quarantine-and-admit):
  *
  *  1. Quarantine census — when a whole source arrives with zero base
  *     history, every doc of it that survives the frozen vetting
  *     stages is QUARANTINED (n_quarantined = n_selected) and none is
  *     mixed (n_final = 0): the feed is parked, not silently dropped.
  *  2. Nothing vanishes — n_arrived covers the whole non-eval slice
  *     of the new source, and the funnel counts are monotone.
  *  3. Admit-on-retrain — re-running the same delta against a base
  *     that now covers the new source empties the quarantine
  *     (n_quarantined = 0) and admits docs through the mix lottery:
  *     include-on-retrain is a real path, not documentation.
  *  4. e4's established slicing keeps an empty quarantine (every
  *     source has base mass), so the new column changes nothing for
  *     the existing gate entry.
  */
class Round9Spec extends AnyFunSuite with GraftSuite {

  test("e5: a delta-only source is quarantined, not silently dropped") {
    val rows = Pipeline.e5NewSourceIngest(spark, dir).collect()
    assert(rows.length === 1, "the arrived slice is exactly the new source")
    val r = rows.head
    assert(r.getAs[String]("source") === Pipeline.E5NewSource)
    val arrived = r.getAs[Long]("n_arrived")
    val selected = r.getAs[Long]("n_selected")
    val quarantined = r.getAs[Long]("n_quarantined")
    assert(arrived > 0, "the new feed has docs")
    assert(selected > 0,
      "the planted corpus keeps some vetted docs from the new source " +
        "(otherwise the quarantine pin below is vacuous)")
    assert(quarantined === selected,
      "every vetted doc of an unseen source must be quarantined")
    assert(r.getAs[Long]("n_final") === 0L,
      "no doc of an unseen source enters the final mix")
    assert(r.getAs[Long]("final_tokens") === 0L)
    // monotone funnel: arrived >= dedup >= quality >= clean >= selected
    val chain = Seq("n_arrived", "n_after_dedup", "n_after_quality",
      "n_clean", "n_selected").map(r.getAs[Long])
    assert(chain.zip(chain.tail).forall { case (a, b) => a >= b }, chain.toString)
  }

  test("e5: admit-on-retrain empties the quarantine and admits through the mix") {
    import spark.implicits._
    // retrain = the base now covers everything (including the new
    // source); the very same delta slice is re-scored
    val (quar, fin, sel): (Long, Long, Long) =
      Pipeline.e4FlagsOf(spark, dir, lit(true), Pipeline.e5DeltaPred)
        .agg(sum(when(col("quar"), 1L).otherwise(0L)).as("q"),
          sum(when(col("s5"), 1L).otherwise(0L)).as("f"),
          sum(when(col("s4"), 1L).otherwise(0L)).as("sel"))
        .as[(Long, Long, Long)].collect().head
    assert(quar === 0L, "a retrained base leaves nothing in quarantine")
    assert(sel > 0L)
    assert(fin > 0L, "admitted docs flow through the mix lottery")
  }

  test("s14: appended-index recall stays within the retrain trigger of a full retrain") {
    import graft.ext.Similarity
    val rows = Similarity.s14IndexHealth(spark, dir).collect()
    val byState = rows.groupBy(_.getAs[String]("state"))
    assert(byState.keySet === Set("appended", "retrained"))
    // same query grid on both sides
    assert(byState("appended").length === byState("retrained").length)
    assert(rows.forall(_.getAs[Long]("k") > 0))
    def mean(st: String): Double = {
      val rs = byState(st).map(_.getAs[Double]("recall"))
      rs.sum / rs.length
    }
    val drift = mean("retrained") - mean("appended")
    info(f"recall drift (retrained - appended) = $drift%.4f, trigger = ${Similarity.S14RetrainDrift}")
    assert(drift <= Similarity.S14RetrainDrift,
      f"appended index drifted $drift%.4f below a full retrain — past the retrain trigger")
  }

  test("s14: the retrained state reconciles with s11's ivfpq family row-for-row") {
    import graft.ext.Similarity
    val health = Similarity.s14IndexHealth(spark, dir).collect()
      .filter(_.getAs[String]("state") === "retrained")
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    val matrix = Similarity.s11RecallMatrix(spark, dir).collect()
      .filter(_.getAs[String]("family") === "ivfpq")
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    assert(health.nonEmpty)
    assert(health === matrix,
      "s14's retrained grading and s11's ivfpq grading are the same measurement")
  }

  test("m7: planted-twin recall = 1 holds at the driver gate SFs, not just sf0.001") {
    import graft.ext.Multimodal
    // the bucket cap can in principle swallow a planted pair at a
    // larger SF while the oracle swallows the same pair (the gate
    // would still hash-match) — so recall is asserted at the SFs the
    // driver actually runs: sf0.01 (correctness) and sf0.1 (bench)
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val pairs = Multimodal.m7PerceptualLsh(spark, d).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      val planted = Tables.documents(spark, d)
        .filter(col("doc_id") % Multimodal.M7PlantStride === 0 &&
          length(encode(col("text"), "UTF-8")) >= 2)
        .select(col("doc_id")).collect().map(_.getLong(0))
      assert(planted.nonEmpty, d)
      planted.foreach { id =>
        assert(pairs.contains((id, id + Multimodal.M7TwinOffset)),
          s"planted twin of $id not recalled at $d")
      }
    }
  }

  test("s15: fused lists are full, integer-exact, and genuinely hybrid") {
    import graft.ext.Similarity
    val rows = Similarity.s15HybridRrf(spark, dir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet === Similarity.HybridTerms.map(_._1.toLong).toSet)
    byQ.values.foreach { qs =>
      assert(qs.map(_.getAs[Int]("rank")).sorted.toSeq ===
        (1 to Similarity.HybridTopK), "dense ranks 1..k per query")
    }
    // the fused score is exactly recomputable from the leg ranks —
    // no float ever enters the fusion
    rows.foreach { r =>
      def c(rank: Int): Long =
        if (rank == 0) 0L else Similarity.RrfScale / (Similarity.RrfK + rank)
      assert(r.getAs[Long]("rrf_scaled") ===
        c(r.getAs[Int]("d_rank")) + c(r.getAs[Int]("l_rank")),
        r.toString)
    }
    // non-vacuous fusion: at least one top-k doc is carried by each
    // leg alone, and at least one is endorsed by both
    assert(rows.exists(r => r.getAs[Int]("d_rank") > 0 && r.getAs[Int]("l_rank") === 0))
    assert(rows.exists(r => r.getAs[Int]("l_rank") > 0 && r.getAs[Int]("d_rank") === 0))
    assert(rows.exists(r => r.getAs[Int]("d_rank") > 0 && r.getAs[Int]("l_rank") > 0),
      "no doc endorsed by both legs — the fusion would be a disjoint union")
  }

  test("e6: the split is exhaustive, cluster-atomic, and non-vacuously so") {
    import graft.ext.{Dedup, Pipeline}
    import graft.functions.StableHash
    val doc = Pipeline.e6DocSplits(spark, dir)
      .select(col("doc_id"), col("split_key"), col("split")).cache()
    try {
      // exhaustive + disjoint: every document lands in exactly one split
      val total = Tables.documents(spark, dir).count()
      assert(doc.count() === total)
      assert(doc.select(col("split")).distinct().collect().map(_.getString(0)).toSet
        === Set("train", "valid", "test"), "all three splits are inhabited")
      // cluster atomicity: no near-dup cluster spans two splits
      val straddling = doc.groupBy(col("split_key"))
        .agg(countDistinct(col("split")).as("n_splits"))
        .filter(col("n_splits") > 1).count()
      assert(straddling === 0L, "a near-dup cluster crossed the split wall")
      // non-vacuity: the naive PER-DOC lottery does straddle a real
      // multi-member cluster — the guard changes actual outcomes
      val naive = doc.withColumn("naive_ppm",
          pmod(StableHash.hash64(Pipeline.SplitSeed, col("doc_id").cast("string")),
            lit(Pipeline.SplitPpm)))
        .withColumn("naive_split",
          when(col("naive_ppm") < Pipeline.SplitTrainPpm, "train")
            .when(col("naive_ppm") < Pipeline.SplitValidPpm, "valid")
            .otherwise("test"))
      val leaky = naive.groupBy(col("split_key"))
        .agg(count(lit(1)).as("n"), countDistinct(col("naive_split")).as("n_splits"))
        .filter(col("n") > 1 && col("n_splits") > 1).count()
      assert(leaky > 0L,
        "no multi-member cluster would straddle under the naive split — " +
          "the cluster-key guard is vacuous on this corpus")
    } finally doc.unpersist()
  }

  test("t26: drift KL is Gibbs-nonnegative, per-source complete, and smoothing-floored for the eval source") {
    import graft.ext.TextAnalysis
    val rows = TextAnalysis.t26SourceDrift(spark, dir).collect()
    assert(rows.length === 20, "one drift row per source")
    rows.foreach { r =>
      assert(r.getAs[Double]("kl_nats") >= 0.0,
        s"Gibbs: smoothed KL cannot be negative — ${r}")
      assert(r.getAs[Long]("base_tokens") > 0L)
    }
    // source = doc_id % 20 and eval = doc_id % 20 == 0, so src0 is the
    // all-eval source: its delta is empty BY THE FROZEN-EVAL RULE (eval
    // docs never arrive as training candidates), and its KL is the
    // smoothing floor (uniform-over-vocab vs base), not a gap in the report
    val src0 = rows.find(_.getAs[String]("source") === "src0").get
    assert(src0.getAs[Long]("delta_tokens") === 0L)
    // non-vacuity: real deltas measurably diverge past the empty-delta floor
    assert(rows.exists(r => r.getAs[Double]("kl_nats") >
      src0.getAs[Double]("kl_nats")),
      "no source drifts past the smoothing floor — the measure is flat")
  }

  test("e6: split tickets are stable under corpus growth except where clusters merge") {
    import graft.ext.{Dedup, Pipeline}
    // "growth": sf0.001 is a strict subset-shaped stand-in — compare the
    // split of each doc computed against the SMALL corpus's clustering
    // vs the FULL sf0.01 clustering. A doc may move splits ONLY if its
    // cluster representative changed (a merge pulled it under a new
    // ticket); every other doc's assignment must be bit-stable.
    val small = Pipeline.e6DocSplits(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("split_key"), col("split")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val big = Pipeline.e6DocSplits(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("split_key"), col("split")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val shared = small.keySet intersect big.keySet
    assert(shared.nonEmpty)
    val moved = shared.filter(id => small(id)._2 != big(id)._2)
    val movedWithSameKey = moved.filter(id => small(id)._1 == big(id)._1)
    assert(movedWithSameKey.isEmpty,
      s"docs changed split without a cluster-key change: $movedWithSameKey — " +
        "the lottery must be a pure function of the representative")
  }

  test("s16: MMR picks are complete, anchored on the top hit, and genuinely diversify") {
    import graft.ext.Similarity
    val mmr = Similarity.s16MmrRerank(spark, dir).collect()
    val byQ = mmr.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size === Similarity.QueryCount)
    byQ.values.foreach { qs =>
      assert(qs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to Similarity.MmrTopK))
    }
    val s1 = Similarity.s1KnnBrute(spark, dir).collect()
    // rank-1 MMR pick = the exact top-1 neighbor (relevance anchors the greedy)
    val top1 = s1.filter(_.getAs[Int]("rank") === 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    byQ.foreach { case (q, qs) =>
      val first = qs.find(_.getAs[Int]("rank") === 1).get.getAs[Long]("doc_id")
      assert(first === top1(q), s"query $q: MMR must open with the most relevant hit")
    }
    // non-vacuous: the diversified set differs from plain top-k relevance
    val topK = s1.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val mmrSet = mmr.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))).toSet
    assert((mmrSet -- topK).nonEmpty,
      "MMR returned exactly the relevance top-k — redundancy penalty is vacuous here")
  }

  test("s17: index-served hybrid fuses the SAME lexical leg; only the dense leg is swapped") {
    import graft.ext.Similarity
    val exact = Similarity.s15HybridRrf(spark, dir).collect()
    val indexed = Similarity.s17HybridIndexed(spark, dir).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
    val byQ = indexed.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size === Similarity.QueryCount)
    byQ.values.foreach(qs =>
      assert(qs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to Similarity.HybridTopK)))
    // the lexical leg is shared code AND shared numbers: wherever the
    // same doc surfaces in both fused lists, its l_rank is identical
    val exactL = exact.map(r => key(r) -> r.getAs[Int]("l_rank")).toMap
    val common = indexed.filter(r => exactL.contains(key(r)))
    assert(common.nonEmpty, "the two hybrids share no docs — implausible on this corpus")
    common.foreach { r =>
      assert(r.getAs[Int]("l_rank") === exactL(key(r)),
        s"lexical leg diverged at ${key(r)} — it must be the same measurement")
    }
  }

  test("d19: big-star labels equal d7's label-propagation labels on the real pair graph") {
    import graft.ext.Dedup
    val d7 = Dedup.d7DedupComponents(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d19 = Dedup.d19CcBigstar(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d19.nonEmpty)
    assert(d19 === d7, "two CC algorithms, one labeling contract")
  }

  test("d19: a 300-node chain — the topology d7's O(diameter) loop cannot label — converges log-fast") {
    import spark.implicits._
    import graft.ext.Dedup
    // path 0-1-2-...-300: diameter 300 > the 50-round label-propagation
    // cap (d7's documented failure mode; its posture is to throw, not
    // mislabel). Star contraction must close it in O(log n) rounds.
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.bigStarComponentsWithRounds(chain, "a_id", "b_id")
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length === 301)
    assert(out.forall(_._2 === 0L), "one chain, one component, min-rooted")
    assert(rounds <= 15, s"star contraction took $rounds rounds on a 300-chain — not log-bounded")
  }

  test("d19: randomized graph labels match brute-force union-find") {
    import spark.implicits._
    import graft.ext.Dedup
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    // reference: plain union-find with min-relabel
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = Dedup.bigStarComponents(edges.toDF("a_id", "b_id"), "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("e4's block-slice keeps an empty quarantine (every source has base mass)") {
    val rows = Pipeline.e4DeltaIngest(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_quarantined") === 0L),
      "e4's slicing leaves ~90% of every source in base, so no " +
        "source is rate-less")
  }

  // ---------- d20: dedup quality matrix ----------

  test("d20: exact self-grade is 1000/1000, hits are bounded, families discriminate") {
    import graft.ext.Dedup
    val rows = Dedup.d20DedupQuality(spark, dir).collect()
    val byFam = rows.map(r => r.getAs[String]("family") -> r).toMap
    assert(byFam.keySet ===
      Set("exact", "fingerprint", "minhash_lsh", "simhash", "snm",
        "semdedup", "edit_distance"))
    val ex = byFam("exact")
    assert(ex.getAs[Long]("precision_permille") === 1000L)
    assert(ex.getAs[Long]("recall_permille") === 1000L)
    assert(ex.getAs[Long]("n_pred") === ex.getAs[Long]("n_truth"))
    rows.foreach { r =>
      val (np, nh, nt) = (r.getAs[Long]("n_pred"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("n_truth"))
      assert(nh <= np && nh <= nt, r.toString)
      assert(nt === ex.getAs[Long]("n_truth"), "n_truth constant across rows")
    }
    // the matrix genuinely measures: some family trades precision away,
    // and the production family (minhash-lsh) keeps recall high
    assert(rows.exists(r => r.getAs[String]("family") != "exact" &&
      r.getAs[Long]("precision_permille") < 1000L))
    assert(byFam("minhash_lsh").getAs[Long]("recall_permille") >= 900L)
  }

  test("d21: capture is monotone in band count (bands nest), the " +
    "theory literals match the Scala formula, and d4 sits inside its point") {
    import graft.ext.Dedup
    val rows = Dedup.d21LshTuning(spark, dir).collect()
    assert(rows.map(_.getAs[Int]("bands")).toSeq === Dedup.D21BandConfigs)
    // 16 = 2·8 band boundaries nest: an 8-row band match implies its
    // 4-row and 2-row sub-bands match, so capture (and candidate
    // volume) can only grow with b — a LAW of the sweep, not a datum
    val recall = rows.map(_.getAs[Long]("recall_permille")).toSeq
    val cand = rows.map(_.getAs[Long]("n_cand")).toSeq
    assert(recall.zip(recall.tail).forall { case (a, b) => a <= b }, recall.toString)
    assert(cand.zip(cand.tail).forall { case (a, b) => a <= b }, cand.toString)
    rows.foreach { r =>
      assert(r.getAs[Long]("theory_min_permille") ===
        Dedup.d21TheoryMinPermille(r.getAs[Int]("bands")))
    }
    // d4 = the b=4 point's candidates SHRUNK by the jaccard verify
    val b4 = rows.find(_.getAs[Int]("bands") == 4).get
    assert(Dedup.d4MinhashLsh(spark, dir).count() <= b4.getAs[Long]("n_cand"))
  }

  // ---------- t27: BPE tokenizer training ----------

  /** Independent greedy left-to-right one-pass merge (standard BPE). */
  private def greedyMerge(toks: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toSeq
  }

  /** The oracle's island-odd-rank positional rule, simulated. */
  private def islandMerge(toks: Seq[String], l: String, r: String): Seq[String] = {
    val cand = (0 until toks.length - 1).filter(i => toks(i) == l && toks(i + 1) == r)
    val keep = cand.zipWithIndex
      .groupBy { case (p, rank) => p - rank } // consecutive runs
      .values.flatMap(_.map(_._1).sorted.zipWithIndex.collect {
        case (p, rr) if rr % 2 == 0 => p
      }).toSet
    toks.indices.flatMap { i =>
      if (keep(i)) Some(l + r)
      else if (keep(i - 1)) None
      else Some(toks(i))
    }
  }

  test("t27: the aggregate-HOF fold ≡ greedy reference ≡ the oracle's island rule") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(150) {
      val n = 1 + rnd.nextInt(10)
      Seq.fill(n)(Seq("a", "b", "ab")(rnd.nextInt(3)))
    } ++ Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a"), Seq("a", "b"),
      Seq("b", "a"), Seq("a"), Seq("ab", "a", "b"))
    for ((l, r) <- Seq(("a", "a"), ("a", "b"), ("ab", "a"))) {
      val df = cases.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "toks")
      val got = df.select(col("id"),
          TextAnalysis.bpeApplyMerge(col("toks"), l, r).as("m"))
        .collect().map(row => row.getInt(0) -> row.getSeq[String](1)).toMap
      cases.zipWithIndex.foreach { case (t, i) =>
        val ref = greedyMerge(t, l, r)
        assert(got(i) === ref, s"fold vs greedy on $t merge ($l,$r)")
        assert(islandMerge(t, l, r) === ref, s"island vs greedy on $t merge ($l,$r)")
      }
    }
  }

  test("t27: the per-round argmax plans as a TakeOrdered, never a global sort") {
    import graft.ext.TextAnalysis
    val plan = TextAnalysis.t27Round1Pairs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"1-row argmax must be a top-k, got:\n$plan")
  }

  test("t27: merge table — full rounds, weakly-decreasing argmax, learned multi-char merges") {
    import graft.ext.TextAnalysis
    val rows = TextAnalysis.t27BpeMerges(spark, dir).collect()
    assert(rows.length === TextAnalysis.BpeRounds)
    assert(rows.map(_.getAs[Int]("merge_rank")).toSeq === (1 to TextAnalysis.BpeRounds))
    val counts = rows.map(_.getAs[Long]("pair_count")).toSeq
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"a merged pair's successors can never outnumber it: $counts")
    assert(rows.exists(r => r.getAs[String]("lhs").length > 1 ||
      r.getAs[String]("rhs").length > 1),
      "later rounds consume earlier rounds' fused symbols — the " +
        "iterative structure is real, not 8 independent argmaxes")
  }

  // ---------- cache hygiene of the round-9 self-releasing ops ----------

  test("s19: no pinned blocks survive the operator in a bare session; " +
    "p7 leaves only its result checkpoint") {
    import graft.ext.{Graph, Similarity}
    // s19 manages its own caches end-to-end (the d18 discipline the
    // r8 verdict asked e4 to adopt): candidate cache released, index
    // build self-contained — a bare session comes back clean without
    // harness-level clearCache. (e9 is excluded: it traverses the
    // shared BOUNDED model caches — |sources|-row rates, B-bucket
    // DSIR — the audit-accepted pattern.)
    val before = spark.sparkContext.getPersistentRDDs.size
    Similarity.s19RadiusSearch(spark, dir).collect()
    val afterS19 = spark.sparkContext.getPersistentRDDs.size
    assert(afterS19 <= before,
      s"s19 leaked pinned blocks: $before -> $afterS19")
    // a graph op's RESULT is itself a localCheckpoint (it must outlive
    // the harness call), and the d4 pair source keeps its one shared
    // shingle cache (the cross-entry reuse pattern every consumer of
    // the LSH graph inherits) — everything ELSE p7 pinned (degree
    // edges, seed-mass vector, per-round ranks) must be freed
    Graph.p7TrustRank(spark, dir).collect()
    val afterP7 = spark.sparkContext.getPersistentRDDs.size
    assert(afterP7 <= afterS19 + 2,
      s"p7 pinned more than its result + d4's shared cache: $afterS19 -> $afterP7")
  }

  // ---------- s20: approximate kNN-graph construction ----------

  test("s20: well-formed graph, exact distances, and measured recall vs brute force") {
    import graft.ext.Similarity
    val edges = Similarity.s20KnnGraph(spark, dir).collect()
    // structural: contiguous ranks from 1, distances non-decreasing
    // with rank, no self-edges
    edges.groupBy(_.getAs[Long]("vec_id")).foreach { case (v, es) =>
      val sorted = es.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to es.length))
      val ds = sorted.map(_.getAs[Long]("d2_fp")).toSeq
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
      es.foreach(e => assert(e.getAs[Long]("neighbor_id") != v))
    }
    // brute-force ground truth on the SAME quantized-L2 metric
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
    val hits = edges.count(e =>
      exact(e.getAs[Long]("vec_id")).contains(e.getAs[Long]("neighbor_id")))
    val recall = hits.toDouble / (raw.length * Similarity.TopK)
    info(s"s20 recall@${Similarity.TopK} vs brute force: $recall")
    // measured 0.89 after the descent round (0.72 blocked-only at 3
    // probes, 0.56 at 2) — the floor sits well under it, pinning
    // structural quality, not luck (Round10Spec pins the lift itself)
    assert(recall >= 0.55, s"kNN-graph recall collapsed: $recall")
  }

  // ---------- e9: restart-integrity manifest ----------

  test("e9: checksum catches swapped composition at equal totals (census-blind), " +
    "drops stay shard-local, recompute is stable") {
    val bins = Pipeline.e3FinalPacking(spark, dir).cache()
    val m1 = Pipeline.manifestOf(bins).collect()
    assert(m1.toSeq === Pipeline.manifestOf(bins).collect().toSeq,
      "a resumed run recomputing the manifest must reproduce it exactly")
    bins.unpersist()
    // doctor a CONSTRUCTED bins frame (manifestOf is input-agnostic;
    // sf0.001's shards pack into single bins, so the swap needs a
    // multi-bin shard built by hand): swap n_tokens between two bins
    // of shard 0 — totals balance, so every count/sum column stays
    // identical and only the position-weighted content hash can notice
    import spark.implicits._
    val synth = Seq((0L, 0L, 3L, 100L), (0L, 1L, 2L, 200L), (0L, 2L, 4L, 300L),
        (1L, 0L, 1L, 50L), (1L, 1L, 2L, 60L))
      .toDF("shard", "bin", "n_docs", "n_tokens")
    val ms = Pipeline.manifestOf(synth).collect()
    val doctored = synth.withColumn("n_tokens",
      when(col("shard") === 0L && col("bin") === 0L, lit(200L))
        .when(col("shard") === 0L && col("bin") === 1L, lit(100L))
        .otherwise(col("n_tokens")))
    val md = Pipeline.manifestOf(doctored).collect()
    val orig = ms.find(_.getLong(0) == 0L).get
    val doct = md.find(_.getLong(0) == 0L).get
    assert(doct.getAs[Long]("n_bins") === orig.getAs[Long]("n_bins") &&
      doct.getAs[Long]("n_docs") === orig.getAs[Long]("n_docs") &&
      doct.getAs[Long]("n_tokens") === orig.getAs[Long]("n_tokens"),
      "the census columns are provably blind to this corruption")
    assert(doct.getAs[Long]("order_checksum") !== orig.getAs[Long]("order_checksum"),
      "the order checksum must catch it")
    // a dropped bin changes ITS shard's row and no other
    val mdrop = Pipeline.manifestOf(
      synth.filter(!(col("shard") === 0L && col("bin") === 1L))).collect()
    assert(mdrop.find(_.getLong(0) == 0L).get.getAs[Long]("n_bins")
      === orig.getAs[Long]("n_bins") - 1)
    assert(mdrop.filterNot(_.getLong(0) == 0L).toSeq
      === ms.filterNot(_.getLong(0) == 0L).toSeq,
      "unrelated shards' manifests are untouched by a shard-local drop")
  }

  // ---------- s19: radius search from the persisted index ----------

  test("s19: census agrees with the top-k path — threshold respected, " +
    "top-k hits within R are never missed") {
    import graft.ext.Similarity
    val census = Similarity.s19RadiusSearch(spark, dir).collect()
    assert(census.nonEmpty, "the self-calibrated radius must catch someone")
    val topk = Similarity.s13PersistedIvfPq(spark, dir).collect()
    val radius = topk.map(_.getAs[Long]("d2_fp")).sum / topk.length
    val byQuery = census.map(r => r.getLong(0) -> r).toMap
    census.foreach { r =>
      assert(r.getAs[Long]("max_d2_fp") <= radius,
        s"a census row can never exceed the radius: $r vs $radius")
      assert(r.getAs[Long]("min_d2_fp") <= r.getAs[Long]("max_d2_fp"))
      val (n, mn, mx, sm) = (r.getAs[Long]("n_within"), r.getAs[Long]("min_d2_fp"),
        r.getAs[Long]("max_d2_fp"), r.getAs[Long]("sum_d2_fp"))
      assert(n * mn <= sm && sm <= n * mx, s"moment consistency: $r")
    }
    // the top-k answers are a subset of the radius candidates, so any
    // query whose top-k path already found m hits within R must report
    // n_within >= m (and in particular must APPEAR in the census)
    topk.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val m = rows.count(_.getAs[Long]("d2_fp") <= radius)
      if (m > 0) {
        assert(byQuery.contains(q), s"query $q has $m top-k hits within R but no census row")
        assert(byQuery(q).getAs[Long]("n_within") >= m.toLong,
          s"radius search can only ADD neighbors past the top-k: $q")
      }
    }
  }

  // ---------- e8: token-budget water-filling ----------

  test("e8: exact saturation both regimes, truncation remainder < |unsaturated|, " +
    "and the cut respects the ratio order") {
    val rows = Pipeline.e8TokenBudget(spark, dir).collect()
    val sat = rows.filter(_.getAs[Int]("saturated") == 1)
    val unsat = rows.filter(_.getAs[Int]("saturated") == 0)
    assert(sat.nonEmpty && unsat.nonEmpty,
      s"budget 3/4 must land inside the ladder's ratio spread (${sat.length} sat)")
    sat.foreach { r =>
      assert(r.getAs[Long]("alloc_tokens") === r.getAs[Long]("avail_tokens"),
        s"a saturated source contributes EVERYTHING it has: $r")
      assert(r.getAs[Long]("fill_permille") === 1000L)
    }
    unsat.foreach { r =>
      assert(r.getAs[Long]("alloc_tokens") < r.getAs[Long]("avail_tokens"),
        s"an unsaturated source must sit strictly under its availability: $r")
    }
    val tot = rows.map(_.getAs[Long]("avail_tokens")).sum
    val budget = (Pipeline.E8BudgetNum * tot) / Pipeline.E8BudgetDen
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(alloc <= budget, "the budget is a hard cap")
    assert(budget - alloc <= unsat.length.toLong,
      s"truncating θ·w loses under one token per unsaturated source " +
        s"(and the least() guard never bound): $budget vs $alloc")
    // the water level separates the two regimes in exact-ratio order
    def rkey(r: org.apache.spark.sql.Row): Long =
      r.getAs[Long]("avail_tokens") * Pipeline.E8RatioLcm / r.getAs[Long]("weight")
    assert(sat.map(rkey).max <= unsat.map(rkey).min,
      "every saturated avail/weight ratio sits at or below every unsaturated one")
  }

  // ---------- p7: TrustRank (seed-personalized PageRank) ----------

  test("p7: seeds = all nodes degenerates to exactly p1's PageRank") {
    import graft.ext.{Dedup, Graph}
    val seeds = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("node"))
    val ppr = Graph.trustRank(Dedup.d4MinhashLsh(spark, dir), "a_id", "b_id", seeds)
      .select(col("node").as("doc_id"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("doc_id")).collect().toSeq
    val pr = Graph.p1Pagerank(spark, dir).collect().toSeq
    assert(ppr.length === pr.length)
    ppr.zip(pr).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0) && a.getLong(1) === b.getLong(1),
        s"uniform-seed TrustRank must be bit-identical to PageRank: $a vs $b")
    }
  }

  test("p7: trust is exactly zero on seedless components, positive on seeded ones, " +
    "and mass stays bounded by Scale") {
    import graft.ext.{Dedup, Graph}
    val ranks = Graph.p7TrustRank(spark, dir).collect()
    assert(ranks.nonEmpty)
    val total = ranks.map(_.getAs[Long]("trust_fp")).sum
    assert(total > 0L && total <= Graph.Scale,
      s"truncating divisions only ever LOSE mass: $total")
    // component census: a component's trust is nonzero iff it holds a seed
    val seedSrc = spark.read.parquet(s"$dir/documents.parquet")
      .agg(min(col("source"))).collect()(0).getString(0)
    val seedIds = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === seedSrc)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val comp = Dedup.d7DedupComponents(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rankByDoc = ranks.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seededComps = comp.collect { case (d, c) if seedIds.contains(d) => c }.toSet
    val (zeroComps, liveComps) = comp.values.toSet.partition(!seededComps.contains(_))
    assert(liveComps.nonEmpty && zeroComps.nonEmpty,
      "the pin needs both kinds of component to be non-vacuous")
    comp.foreach { case (d, c) =>
      if (seededComps.contains(c))
        assert(rankByDoc(d) >= 0L) // seeded component: nonneg; seeds strictly positive below
      else
        assert(rankByDoc(d) === 0L,
          s"doc $d sits in seedless component $c — teleport mass cannot reach it")
    }
    val nSeedsInGraph = comp.keySet.count(seedIds.contains)
    val floor = (3L * (Graph.Scale / nSeedsInGraph)) / 20L
    seedIds.filter(comp.contains).foreach { s =>
      assert(rankByDoc(s) >= floor,
        s"a seed keeps at least its teleport term: $s has ${rankByDoc(s)} < $floor")
    }
  }

  // ---------- t28: BPE encode (the apply side of t27) ----------

  test("t28: encoding conserves every word — toks concatenate back exactly") {
    import graft.ext.TextAnalysis
    val bad = TextAnalysis.t28EncodedWords(spark, dir)
      .filter(concat_ws("", col("toks")) =!= col("word")).count()
    assert(bad === 0L, "a BPE merge must never alter the character stream")
  }

  test("t28: census invariants — words ≤ tokens ≤ chars, real compression, cap tail still encodes") {
    import graft.ext.TextAnalysis
    val rows = TextAnalysis.t28BpeEncode(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, tok, ch) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("n_chars"))
      assert(w <= tok, s"every word is at least one token: $r")
      assert(tok <= ch, s"a merge only ever shrinks a word's token count: $r")
      assert(r.getAs[Long]("chars_per_token_pm") >= 1000L,
        s"compression ratio is ≥1 by construction: $r")
    }
    // the tokenizer actually fused something corpus-wide (else the
    // census is a vacuous char count)
    assert(rows.map(_.getAs[Long]("n_bpe_tokens")).sum <
      rows.map(_.getAs[Long]("n_chars")).sum,
      "8 learned merges must compress the corpus strictly")
    assert(rows.map(_.getAs[Long]("n_fused_words")).sum > 0L,
      "some frequent word fuses to a single token within 8 merges " +
        "or the merge table learned nothing useful")
  }

  // ---------- e7: deterministic epoch shuffle ----------

  test("e7: epoch orders are deterministic permutations that differ by epoch; " +
    "range-partition + local sort ≡ the logical orderBy") {
    val bins = Pipeline.e3FinalPacking(spark, dir)
    def orderOf(epoch: Int): Seq[(Long, Long)] =
      bins.withColumn("h", Pipeline.e7OrderHash(lit(epoch)))
        .orderBy(col("h")).select(col("shard"), col("bin"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val o1 = orderOf(1)
    val o2 = orderOf(2)
    val all = bins.select(col("shard"), col("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(o1.toSet === all && o1.length === all.size, "epoch 1 is a permutation")
    assert(o2.toSet === all && o2.length === all.size, "epoch 2 is a permutation")
    assert(o1 === orderOf(1), "re-evaluation reproduces the identical order")
    assert(o1 !== o2, "each epoch is a different permutation")
    // the scalable materialization: range shuffle + partition-local sort
    val ranged = bins.withColumn("h", Pipeline.e7OrderHash(lit(1)))
      .repartitionByRange(4, col("h")).sortWithinPartitions(col("h"))
      .select(col("shard"), col("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ranged === o1,
      "repartitionByRange + sortWithinPartitions IS the global hash order")
  }

  test("e7: quartile census reconciles with e3's bins") {
    val bins = Pipeline.e3FinalPacking(spark, dir).collect()
    val census = Pipeline.e7TrainingOrder(spark, dir).collect()
    val perEpoch = census.groupBy(_.getAs[Int]("epoch"))
    assert(perEpoch.keySet === Set(1, 2))
    perEpoch.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("n_bins")).sum === bins.length.toLong)
      assert(rows.map(_.getAs[Long]("bin_docs")).sum ===
        bins.map(_.getAs[Long]("n_docs")).sum)
      assert(rows.map(_.getAs[Long]("bin_tokens")).sum ===
        bins.map(_.getAs[Long]("n_tokens")).sum)
    }
  }

  // ---------- s18: vector-store delete path ----------

  test("s18: tombstone-serve ≡ compacted-serve ≡ rebuild-without-deleted; " +
    "untouched lists keep their very files; the ledger clears") {
    import graft.ext.Similarity
    import org.apache.hadoop.fs.{FileSystem, Path}
    val idx = tempDir("s18spec").toString
    Similarity.buildIvfPqIndex(spark, dir, idx, lit(true), lit(true))
    // delete three specific vectors — small enough that most inverted
    // lists are untouched, so the untouched-files pin is non-vacuous
    val delIds = Seq(6L, 16L, 26L)
    val del = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(delIds: _*)).select(col("vec_id"))
    Similarity.deleteFromIvfPqIndex(spark, del, idx)
    def answers(): Seq[(Long, Long, Long, Int)] =
      Similarity.queryIvfPqIndex(spark, dir, idx).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Long]("d2_fp"), r.getAs[Int]("rank"))).toSeq
    val tombstoned = answers()
    assert(tombstoned.nonEmpty)
    assert(!tombstoned.exists(a => delIds.contains(a._2)),
      "a tombstoned vector must never be served as a neighbor")
    val fs = FileSystem.get(new Path(idx).toUri,
      spark.sparkContext.hadoopConfiguration)
    val affected = spark.read.parquet(s"$idx/codes")
      .join(del, Seq("vec_id"), "left_semi")
      .select(col("ccid").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    def partFiles(): Map[String, Seq[(String, Long)]] =
      fs.listStatus(new Path(s"$idx/codes")).filter(_.isDirectory).map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath)
          .map(f => (f.getPath.getName, f.getModificationTime)).toSeq.sorted
      }.toMap
    val before = partFiles()
    assert(affected.nonEmpty && affected.size < before.size,
      "the 3-vector delete touches some lists but not all — else the " +
        "untouched pin below is vacuous")
    Similarity.compactIvfPqDeletes(spark, idx)
    val after = partFiles()
    before.keys.filterNot(k => affected.contains(k.stripPrefix("ccid=").toLong))
      .foreach { k =>
        assert(after(k) === before(k),
          s"untouched list $k must keep its very part files (names + mtimes)")
      }
    assert(!fs.exists(new Path(s"$idx/deletes")),
      "compaction clears the tombstone ledger")
    val compacted = answers()
    assert(compacted === tombstoned,
      "physical compaction must not change a single served answer")
    // rebuild-without-deleted: same frozen model (train on everything),
    // codes only over survivors — the oracle's statement, re-proven here
    val idx2 = tempDir("s18spec2").toString
    Similarity.buildIvfPqIndex(spark, dir, idx2, lit(true),
      !col("vec_id").isin(delIds: _*))
    val rebuilt = Similarity.queryIvfPqIndex(spark, dir, idx2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("d2_fp"), r.getAs[Int]("rank"))).toSeq
    assert(rebuilt === compacted, "delete ≡ rebuild-without-deleted")
  }

  // ---------- p6: community modularity ----------

  test("p6: the LPA partition beats random (Σq_num > 0) and every " +
    "conservation law holds against the pair graph") {
    import graft.ext.{Dedup, Graph}
    val rows = Graph.p6Modularity(spark, dir).collect()
    val pairs = Dedup.d4MinhashLsh(spark, dir)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val m = pairs.length.toLong
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
    assert(rows.map(_.getAs[Long]("deg_sum")).sum === 2 * m,
      "degrees sum to twice the edge count")
    assert(rows.map(_.getAs[Long]("intra_edges")).sum <= m)
    assert(rows.map(_.getAs[Long]("n_members")).sum === nodes,
      "every node of the pair graph is in exactly one community")
    rows.foreach { r =>
      val (n, e) = (r.getAs[Long]("n_members"), r.getAs[Long]("intra_edges"))
      assert(e <= n * (n - 1) / 2, s"intra edges bounded by the clique: $r")
      assert(r.getAs[Long]("q_num") ===
        4 * m * e - r.getAs[Long]("deg_sum") * r.getAs[Long]("deg_sum"))
    }
    assert(rows.map(_.getAs[Long]("q_num")).sum > 0,
      "the community structure must beat the random-graph expectation")
    // the graded communities ARE p3's communities, member for member
    val p3 = Graph.p3Communities(spark, dir).collect()
      .map(r => r.getAs[Long]("community_id") -> r.getAs[Long]("n_members")).toMap
    rows.foreach { r =>
      assert(p3(r.getAs[Long]("community_id")) === r.getAs[Long]("n_members"))
    }
  }

  // ---------- m8: scene segmentation ----------

  test("m8: a planted step payload cuts exactly two scenes; flat stays one") {
    import spark.implicits._
    import graft.ext.Multimodal
    // 320 bytes: 'A' (65) → permille 253 per segment; 'z' (122) → 476.
    // One 223‰ jump at segment 8 — far past the 40‰ boundary rule.
    val step = ("A" * 160) + ("z" * 160)
    val flat = "m" * 320
    val media = Seq(
      (1L, "video", "video/mp4", step.getBytes("UTF-8"), 320L),
      (2L, "video", "video/mp4", flat.getBytes("UTF-8"), 320L),
      (3L, "image", "image/png", step.getBytes("UTF-8"), 320L))
      .toDF("media_id", "kind", "mime", "payload", "n_bytes")
    val out = Multimodal.m8ScenesOf(media).collect()
    assert(out.map(_.getAs[Long]("media_id")).toSeq === Seq(1L, 2L),
      "only video media segment; the image row is out of scope")
    val stepRow = out.find(_.getAs[Long]("media_id") == 1L).get
    assert(stepRow.getAs[Long]("n_scenes") === 2L)
    assert(stepRow.getAs[Long]("max_scene_len") === 8L)
    val flatRow = out.find(_.getAs[Long]("media_id") == 2L).get
    assert(flatRow.getAs[Long]("n_scenes") === 1L)
    assert(flatRow.getAs[Long]("max_scene_len") === 16L)
  }

  test("m8: corpus scenes are well-formed and the threshold discriminates") {
    import graft.ext.Multimodal
    val rows = Multimodal.m8SceneSegmentation(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ns, ml) = (r.getAs[Long]("n_scenes"), r.getAs[Long]("max_scene_len"))
      assert(ns >= 1L && ns <= Multimodal.M7Segments.toLong, r.toString)
      assert(ml >= 1L && ml <= Multimodal.M7Segments.toLong - ns + 1L, r.toString)
    }
    // 40‰ sits inside the corpus's Δ distribution: both static and
    // multi-scene media exist, so the statistic carries signal
    assert(rows.exists(_.getAs[Long]("n_scenes") === 1L))
    assert(rows.exists(_.getAs[Long]("n_scenes") > 1L))
  }
}

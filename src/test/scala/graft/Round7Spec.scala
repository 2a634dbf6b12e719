package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Multimodal, Pipeline, Similarity, TextAnalysis}

/** Round-7 pins: the completed training-data pipeline (e2 selection +
  * mixing, e3 packing) reconciles stage-by-stage with the standalone
  * operators whose models it composes; the s11 recall matrix agrees
  * with the s7 gate it generalizes; and m6's cross-modal cosines sit
  * measured-margin clear of their round(·,6) boundary (the rule every
  * rounded threshold in this repo follows).
  */
class Round7Spec extends AnyFunSuite with GraftSuite {

  test("e2: stages monotone; clean ≡ e1; target kept whole; pool selection ⊆ t21's") {
    val e1 = Pipeline.e1CorpusFunnel(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_clean")).toMap
    val t21 = TextAnalysis.t21DsirSelect(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_selected")).toMap
    val e2 = Pipeline.e2SelectionMix(spark, dir).collect()
    assert(e2.nonEmpty)
    e2.foreach { r =>
      val src = r.getAs[String]("source")
      val (c, s, f) = (r.getAs[Long]("n_clean"), r.getAs[Long]("n_selected"),
        r.getAs[Long]("n_final"))
      assert(c >= s && s >= f, r.toString)
      assert(e1(src) === c, s"$src: e2 clean count diverged from e1")
      if (src == TextAnalysis.DsirTarget)
        assert(s === c, s"$src: target domain must be kept by definition")
      else
        // e2 selects from the CLEAN subset with t21's cut, so its
        // per-source selected count is bounded by the standalone op's
        assert(s <= t21(src), s"$src: selected ${s} > standalone t21 ${t21(src)}")
    }
  }

  test("e2 mixing: sources at the full keep rate carry every selected doc through") {
    val rates = TextAnalysis.mixRates(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("rate_ppm")).toMap
    val full = rates.filter(_._2 == TextAnalysis.MixPpm).keySet
    assert(full.nonEmpty, "the min-token-mass source must sit at rate_ppm = MixPpm")
    Pipeline.e2SelectionMix(spark, dir).collect()
      .filter(r => full(r.getAs[String]("source")))
      .foreach { r =>
        assert(r.getAs[Long]("n_final") === r.getAs[Long]("n_selected"), r.toString)
      }
  }

  test("e3: packing conserves e2's final docs and tokens; bins contiguous per shard") {
    val e2 = Pipeline.e2SelectionMix(spark, dir).collect()
    val e3 = Pipeline.e3FinalPacking(spark, dir).collect()
    assert(e3.map(_.getAs[Long]("n_tokens")).sum ===
      e2.map(_.getAs[Long]("final_tokens")).sum)
    assert(e3.map(_.getAs[Long]("n_docs")).sum ===
      e2.map(_.getAs[Long]("n_final")).sum)
    // stream packing: a shard's bins are a contiguous 0..max run
    // (every bin except the last is filled past its start boundary)
    e3.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rows) =>
      val bins = rows.map(_.getAs[Long]("bin")).sorted.toSeq
      assert(bins === (0L until bins.size.toLong), s"shard $sh bins: $bins")
    }
  }

  test("s11: lsh row ≡ s7's gate; every family k=10 with a valid hit count") {
    val s7 = Similarity.s7RecallEval(spark, dir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("k"), r.getAs[Long]("n_hit")))).toMap
    val m = Similarity.s11RecallMatrix(spark, dir).collect()
    assert(m.length === 5 * Similarity.QueryCount)
    m.foreach { r =>
      val (k, h) = (r.getAs[Long]("k"), r.getAs[Long]("n_hit"))
      assert(k === Similarity.TopK.toLong, r.toString)
      assert(h >= 0L && h <= k, r.toString)
    }
    m.filter(_.getAs[String]("family") == "lsh").foreach { r =>
      val (k, h) = s7(r.getAs[Long]("query_id"))
      assert(r.getAs[Long]("k") === k && r.getAs[Long]("n_hit") === h,
        s"s11 lsh row diverged from s7: $r")
    }
  }

  test("s12: IVF-PQ distances agree with s6's full-ADC scan on shared pairs") {
    // same codes, same tables — the IVF stage only restricts WHICH
    // pairs are scored, never what a pair scores
    val s6 = Similarity.s6PqAdc(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Long]("d2_fp")).toMap
    val s12 = Similarity.s12IvfPq(spark, dir).collect()
    assert(s12.nonEmpty)
    val shared = s12.flatMap { r =>
      s6.get((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .map(d6 => (r, d6))
    }
    assert(shared.nonEmpty, "no overlap between s12 and s6 top-k to compare")
    shared.foreach { case (r, d6) =>
      assert(r.getAs[Long]("d2_fp") === d6, s"ADC distance diverged: $r")
    }
  }

  test("p5: peeling reached its fixpoint (an extra round is a no-op) and core degrees ≥ k") {
    import graft.ext.{Dedup, Graph}
    val pairs = Dedup.d4MinhashLsh(spark, dir).select("a_id", "b_id").cache()
    try {
      val atR = Graph.kcore(pairs, "a_id", "b_id").collect()
        .map(r => r.getAs[Long]("src") -> r.getAs[Long]("core_deg")).toMap
      val atR1 = Graph.kcore(pairs, "a_id", "b_id",
        rounds = Graph.CoreRounds + 1).collect()
        .map(r => r.getAs[Long]("src") -> r.getAs[Long]("core_deg")).toMap
      assert(atR === atR1, "CoreRounds has not converged on the test graph")
      assert(atR.nonEmpty)
      atR.values.foreach(d => assert(d >= Graph.CoreK))
    } finally { pairs.unpersist(); () }
  }

  test("q54: support/confidence identities hold on every emitted rule") {
    val rows = graft.queries.AdvancedQueries.q54BasketLift(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, a, b) = (r.getAs[Long]("pair_orders"),
        r.getAs[Long]("orders_a"), r.getAs[Long]("orders_b"))
      assert(p <= math.min(a, b), s"support exceeds an item count: $r")
      assert(r.getAs[Long]("conf_ab_ppm") <= 1000000L, r.toString)
      assert(r.getAs[Long]("lift_ppm") > 0L, r.toString)
    }
  }

  test("t24: per-rule fail counts reconcile with independently computed word-count fails") {
    val t24 = TextAnalysis.t24GopherRules(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val wcFails = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(when(size(split(trim(col("text")), " ")) < TextAnalysis.GopherMinWords, 1L)
        .otherwise(0L)).as("f")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("f")).toMap
    assert(t24.nonEmpty)
    t24.foreach { case (src, r) =>
      assert(r.getAs[Long]("fail_word_count") === wcFails(src), src)
      assert(r.getAs[Long]("n_pass_all") <= r.getAs[Long]("n_docs"), src)
    }
  }

  test("t25: novelty bounded and anti-monotone in shared mass") {
    TextAnalysis.t25NgramNovelty(spark, dir).collect().foreach { r =>
      val (tg, sg, pm) = (r.getAs[Long]("total_grams"), r.getAs[Long]("shared_grams"),
        r.getAs[Long]("novelty_permille"))
      assert(sg <= tg, r.toString)
      assert(pm >= 0L && pm <= 1000L, r.toString)
      assert(pm === 1000L * (tg - sg) / tg, r.toString)
    }
  }

  test("m6 cross-modal cosines sit ≫ float-noise from the round(·,6) boundary (measured)") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // distance of every pair's cosine from the nearest .5 rounding
      // boundary on the 1e-6 grid; cross-engine sum-order noise is
      // ~1e-9 grid units, so a 1e-6-grid-unit margin is 3 orders clear
      val g = Multimodal.m6Scored(spark, d)
        .select((col("cosraw") * 1e6).as("g"))
        .select(abs(col("g") - floor(col("g")) - 0.5).as("dist"))
        .agg(min(col("dist")).as("m")).collect().head.getAs[Double]("m")
      assert(g >= 1e-6, s"$d: min boundary distance $g below margin")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Similarity, TextAnalysis}
import graft.queries.AdvancedQueries

/** Semantics checks for the advanced-operator slice (rollup/cube,
  * as-of join, percentiles, HLL sketch, IVF ANN, embedding dedup,
  * winnowing fingerprints) on sf0.001. The DuckDB hash-match runs
  * per-round via Verify; these tests pin the invariants a hash can't
  * express (sketch error bounds, ANN-vs-exact recall, as-of ordering).
  */
class AdvancedQueriesSpec extends AnyFunSuite with GraftSuite {

  test("q20 rollup: grand total row equals sum of region subtotals") {
    val rows = AdvancedQueries.q20Rollup(spark, dir).collect()
    val grand = rows.filter(_.getAs[Int]("gid") == 3)
    val regions = rows.filter(_.getAs[Int]("gid") == 1)
    val nations = rows.filter(_.getAs[Int]("gid") == 0)
    assert(grand.length === 1)
    assert(math.abs(grand.head.getAs[Double]("revenue") -
      regions.map(_.getAs[Double]("revenue")).sum) < 0.5)
    assert(grand.head.getAs[Long]("n_lines") === nations.map(_.getAs[Long]("n_lines")).sum)
  }

  test("q21 cube: every grouping set present, counts consistent") {
    val rows = AdvancedQueries.q21Cube(spark, dir).collect()
    val gids = rows.map(_.getAs[Int]("gid")).toSet
    assert(gids === Set(0, 1, 2, 3))
    val total = rows.filter(_.getAs[Int]("gid") == 3).head.getAs[Long]("n_orders")
    assert(rows.filter(_.getAs[Int]("gid") == 0).map(_.getAs[Long]("n_orders")).sum === total)
  }

  test("q22 as-of join: prior-error gaps are non-negative and only non-error types appear") {
    val rows = AdvancedQueries.q22AsofJoin(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.map(_.getAs[String]("event_type")).contains("error"))
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_secs_since_error")
      assert(r.getAs[Long]("n_with_prior_error") <= r.getAs[Long]("n_events"))
      if (!r.isNullAt(r.fieldIndex("avg_secs_since_error"))) assert(avg >= 0.0)
    }
  }

  test("q24 approx_count_distinct within 5% of exact") {
    AdvancedQueries.q24Raw(spark, dir).collect().foreach { r =>
      val ao = r.getAs[Long]("approx_orders").toDouble
      val eo = r.getAs[Long]("exact_orders").toDouble
      assert(math.abs(ao - eo) / eo < 0.05, s"orders sketch off: $ao vs $eo")
      val ap = r.getAs[Long]("approx_parts").toDouble
      val ep = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(ap - ep) / ep < 0.05, s"parts sketch off: $ap vs $ep")
    }
  }

  test("s3 IVF ANN: results are a subset of brute-force scores, self excluded") {
    val ivf = Similarity.s3IvfAnn(spark, dir).collect()
    assert(ivf.nonEmpty)
    val brute = Similarity.s1KnnBrute(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine"))
      .toMap
    ivf.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(key._1 != key._2)
      // every IVF hit that brute-force also ranked must agree on the score
      brute.get(key).foreach(c => assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
  }

  test("s5 k-means IVF: deterministic across runs, scores agree with brute force") {
    val a = Similarity.s5IvfKmeans(spark, dir).collect()
    assert(a.nonEmpty)
    // Lloyd rounds over integer centroid sums must be exactly
    // reproducible — a second full build yields identical rows
    val b = Similarity.s5IvfKmeans(spark, dir).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
       r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
    assert(key(a) === key(b))
    val brute = Similarity.s1KnnBrute(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine"))
      .toMap
    a.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(k._1 != k._2)
      brute.get(k).foreach(c => assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
    // recall@10 against exact kNN: probe-2 of the small centroid set
    // must recover at least half the true neighbors on this corpus
    val hits = a.count(r => brute.contains(
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
    assert(hits >= a.length / 2, s"recall too low: $hits/${a.length}")
  }

  test("d6 embedding near-dup: pairs ordered, above threshold, no self-pairs") {
    val rows = Similarity.d6EmbeddingNearDup(spark, dir).collect()
    assert(rows.nonEmpty) // guard against vacuous pass if candidates break
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_id") < r.getAs[Long]("dup_id"))
      assert(r.getAs[Double]("cosine") >= Similarity.NearDupThreshold)
    }
  }

  test("s4 codegen cosine_sim matches s1 zip_with form row-for-row") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
       r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
    val fused = key(Similarity.s4KnnCodegen(spark, dir))
    assert(fused === key(Similarity.s1KnnBrute(spark, dir)))
    // the served s1 table may have been built fused; the un-fused
    // derived chain is the zip_with reference proper
    val (hof, optimized) = withoutFusion {
      val s1 = Similarity.s1KnnBruteDerived(spark, dir)
      (key(s1), s1.queryExecution.optimizedPlan.toString)
    }
    assert(optimized.contains("aggregate(zip_with"), s"the reference was fused:\n$optimized")
    assert(fused === hof)
  }

  test("cosine_sim: zero-norm input yields NULL; SQL-callable after register") {
    graft.functions.CosineSimilarity.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS z,
                cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS one""").collect().head
    assert(r.isNullAt(0))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("connectedComponents: chains merge transitively, disjoint clusters stay apart") {
    import spark.implicits._
    import graft.ext.Dedup
    // 1-2-3-4 is one chain (never directly 1-4); 7-8 is separate
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("d3 hot-shingle cap: huge cap is exact, cap=1 is empty, caps only remove pairs") {
    import graft.ext.Dedup
    def pairs(cap: Option[Long]) =
      Dedup.d3JaccardPairsCapped(spark, dir, cap).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val exact = pairs(None)
    assert(exact.nonEmpty)
    assert(pairs(Some(Long.MaxValue)) === exact, "no-op cap must be exact")
    assert(pairs(Some(1L)).isEmpty, "cap=1 keeps no repeated shingle")
    // an intermediate cap can only drop pairs, never invent one
    assert(pairs(Some(3L)).subsetOf(exact))
  }

  test("BottomK aggregator: reduce and merge keep the k smallest distinct values") {
    import graft.functions.{BottomK, BottomKSketch}
    val agg = new BottomK(3)
    val b = Seq(5L, 1L, 9L, 1L, 7L, 2L).foldLeft(agg.zero)(agg.reduce)
    assert(b.values === Seq(1L, 2L, 5L))
    val m = agg.merge(BottomKSketch(Vector(0L, 3L)), b)
    assert(m.values === Seq(0L, 1L, 2L))
    assert(agg.merge(agg.zero, agg.zero).values.isEmpty)
  }

  test("q36 grouping sets: exactly the three requested granularities, no grand total") {
    val rows = AdvancedQueries.q36Gsets(spark, dir).collect()
    val gids = rows.map(_.getAs[Int]("gid")).toSet
    assert(gids === Set(0, 1, 2), "detail, year-marginal, priority-marginal — nothing else")
    val detailTotal = rows.filter(_.getAs[Int]("gid") == 0).map(_.getAs[Long]("n_orders")).sum
    val yearTotal = rows.filter(_.getAs[Int]("gid") == 1).map(_.getAs[Long]("n_orders")).sum
    val prioTotal = rows.filter(_.getAs[Int]("gid") == 2).map(_.getAs[Long]("n_orders")).sum
    assert(detailTotal === yearTotal)
    assert(detailTotal === prioTotal)
  }

  test("q37 anti join: survivors exist and are exactly the complement of urgent-order customers") {
    val c = graft.Tables.customer(spark, dir)
    val o = graft.Tables.orders(spark, dir)
    val idle = AdvancedQueries.q37Anti(spark, dir).collect()
    assert(idle.nonEmpty, "anti join must not be vacuous at sf0.001")
    val nIdle = idle.map(_.getAs[Long]("n_idle_customers")).sum
    val nUrgentCust = o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").distinct().count()
    assert(nIdle === c.count() - nUrgentCust)
  }

  test("q38 rank windows: per-nation ranks span [0,1], quartiles in 1..4") {
    val rows = AdvancedQueries.q38Rank(spark, dir).collect()
    assert(rows.nonEmpty)
    val byNation = rows.groupBy(_.getAs[String]("nation"))
    byNation.values.foreach { ns =>
      val prs = ns.map(_.getAs[Double]("pct_rank"))
      assert(prs.min === 0.0)
      if (ns.length > 1) assert(prs.max === 1.0)
      ns.foreach { r =>
        val q = r.getAs[Int]("quartile")
        assert(q >= 1 && q <= 4)
        val cd = r.getAs[Double]("cume")
        assert(cd > 0.0 && cd <= 1.0)
      }
    }
  }

  test("q39 range join: bucketed form equals the naive cross-join filter") {
    val e = graft.Tables.events(spark, dir)
    val errs = e.filter(col("event_type") === "error")
      .select(col("user_id").as("u2"), unix_micros(col("ts")).as("lo"))
    val naive = e.filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("p"))
      .crossJoin(errs)
      .filter(col("user_id") === col("u2") &&
        col("p") >= col("lo") && col("p") <= col("lo") + AdvancedQueries.ErrorWindowMicros)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("event_id")).as("n_events"))
      .orderBy(col("event_type"))
      .collect()
    val bucketed = AdvancedQueries.q39Range(spark, dir).collect()
    assert(bucketed.nonEmpty)
    assert(bucketed.toSeq === naive.toSeq)
  }

  test("d8 SNM: pairs are distinct neighbors with Jaccard in [0.5, 1]") {
    val rows = graft.ext.Dedup.d8Snm(spark, dir).collect()
    assert(rows.nonEmpty, "SNM must find neighbor pairs at sf0.001")
    val keys = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_id")))
    assert(keys.distinct.length === keys.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") !== r.getAs[Long]("dup_id"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("d8 SNM: block-size bound is an identity when blocks fit, splits when they don't") {
    // When every block fits under the bound, sub = 0 everywhere and
    // the salted form must be bit-identical to an effectively-unsplit
    // run — the bound changes nothing until it has to.
    val default = graft.ext.Dedup.d8Snm(spark, dir).collect().toSeq
    val unsplit = graft.ext.Dedup.d8SnmBounded(spark, dir, Int.MaxValue).collect().toSeq
    assert(default === unsplit, "bound must be inert while blocks fit")
    // Force splitting: with the bound at 1 the expected sub-block size
    // is one doc, so multi-doc blocks genuinely split — the output is
    // a valid SNM pair set (neighbors under a finer blocking), not an
    // error, and pairs can only come from the same original block.
    // (No subset relation is asserted between the two pair sets:
    // splitting removes adjacencies but can also create them — a doc
    // salted away from between two similar docs makes them neighbors.)
    val forced = graft.ext.Dedup.d8SnmBounded(spark, dir, 1).collect().toSeq
    forced.foreach { r =>
      assert(r.getAs[Long]("doc_id") !== r.getAs[Long]("dup_id"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("s6 PQ-ADC: deterministic, full top-10 per query, recall floor vs exact L2") {
    val a = Similarity.s6PqAdc(spark, dir).collect()
    val b = Similarity.s6PqAdc(spark, dir).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
       r.getAs[Long]("d2_fp"), r.getAs[Int]("rank"))).toSeq
    // int64 ADC distances admit no float drift: two full builds
    // (codebook training included) must be bit-identical
    assert(key(a) === key(b))
    assert(a.length === Similarity.QueryCount * Similarity.TopK,
      "every query must fill its top-10 (corpus ≫ k)")
    a.foreach { r =>
      assert(r.getAs[Long]("query_id") !== r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Long]("d2_fp") >= 0L)
    }
    // exact L2 top-10 baseline, computed inline the brute-force way
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < Similarity.QueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val d2 = aggregate(
      zip_with(col("qe"), col("embedding"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("vec_id"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("d2", d2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Similarity.TopK)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = a.count(r =>
      exact.contains((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
    // measured 0.46 on this structureless corpus (see PqTargetK
    // scaladoc); 0.3 is the regression floor, not the quality claim
    assert(hits * 10 >= a.length * 3, s"PQ recall collapsed: $hits/${a.length}")
  }

  test("t16 temperature mix: flattens toward uniform, smallest source kept whole") {
    val rows = TextAnalysis.t16TemperatureMix(spark, dir).collect()
    assert(rows.nonEmpty)
    val in = rows.map(_.getAs[Long]("n_docs"))
    val kept = rows.map(_.getAs[Long]("n_kept"))
    assert(kept.sum < in.sum, "sampling never engaged — vacuous")
    rows.foreach(r => assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs")))
    // the token-lightest source's rate is exactly MixPpm (sqrt(1)
    // floor), so every hash lands under it — nothing small is lost
    val whole = rows.filter(_.getAs[Long]("rate_ppm") === TextAnalysis.MixPpm)
    assert(whole.nonEmpty, "no source at the full keep rate — weight base broken")
    whole.foreach(r => assert(r.getAs[Long]("n_kept") === r.getAs[Long]("n_docs")))
    // every rate is a genuine probability in (0, MixPpm]
    rows.foreach { r =>
      val p = r.getAs[Long]("rate_ppm")
      assert(p > 0L && p <= TextAnalysis.MixPpm)
    }
  }

  test("q40 mode: matches independent recount with (count desc, value asc) tie-break") {
    val rows = AdvancedQueries.q40ModeMedian(spark, dir).collect()
    assert(rows.nonEmpty)
    val joined = graft.Tables.orders(spark, dir)
      .join(graft.Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(graft.Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_orderpriority")).collect()
    val expect = joined.groupBy(_.getString(0)).map { case (nation, rs) =>
      val byPrio = rs.groupBy(_.getString(1)).map { case (p, xs) => (p, xs.length) }
      nation -> byPrio.toSeq.minBy { case (p, c) => (-c, p) }._1
    }
    rows.foreach { r =>
      assert(r.getAs[String]("mode_priority") === expect(r.getAs[String]("n_name")))
      assert(r.getAs[Double]("median_price") > 0.0)
    }
  }

  test("t15 vocab-ppl: OOV floor engages, flags match exact integer criterion") {
    val rows = TextAnalysis.t15VocabPerplexity(spark, dir).collect()
    assert(rows.nonEmpty)
    // non-vacuous: the corpus has 31 distinct tokens, vocab keeps 24,
    // so OOV mass and flags must exist at every SF
    assert(rows.map(_.getAs[Long]("oov_tokens")).sum > 0L, "OOV floor never engaged")
    assert(rows.map(_.getAs[Long]("n_flagged")).sum > 0L, "no docs flagged — vacuous gate")
    // per-doc recount of the flag criterion, independently of the query
    val toks = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("t"))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(TextAnalysis.VocabK)
      .collect().map(_.getString(0)).toSet
    val perDoc = toks.collect().groupBy(_.getLong(0)).toSeq.map { case (_, ts) =>
      val tot = ts.length
      val oov = ts.count(r => !vocab.contains(r.getString(1)))
      (tot, oov)
    }
    val expectFlagged = perDoc.count { case (tot, oov) =>
      oov * TextAnalysis.OovDen > tot * TextAnalysis.OovNum }
    assert(rows.map(_.getAs[Long]("n_flagged")).sum === expectFlagged)
  }

  test("d9 containment: bounds, ordering, and containment >= jaccard on shared pairs") {
    val cont = graft.ext.Dedup.d9Containment(spark, dir).collect()
    assert(cont.nonEmpty)
    cont.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      val c = r.getAs[Double]("containment")
      assert(c >= 0.9 && c <= 1.0)
    }
    // |A∩B|/min ≥ |A∩B|/|A∪B| always: any d3 pair both queries emit
    // must score at least its Jaccard here
    val jac = graft.ext.Dedup.d3JaccardPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Double]("jaccard"))
      .toMap
    cont.foreach { r =>
      val k = (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))
      jac.get(k).foreach(j =>
        assert(r.getAs[Double]("containment") >= j - 1e-9))
    }
  }

  test("d11 incremental CC: fold == rebuild exactly, both arrival halves non-empty") {
    import graft.ext.Dedup
    // cache the LSH pair plan once: the cache manager matches d11's
    // and d7's internal identical d4 subplans, so the expensive
    // minhash build runs once for all three uses instead of three times
    val pairsDf = Dedup.d4MinhashLsh(spark, dir).cache()
    try {
      val pairs = pairsDf.collect()
      val halves = pairs.partition(r => (r.getAs[Long]("a_id") + r.getAs[Long]("b_id")) % 2 == 0)
      assert(halves._1.nonEmpty && halves._2.nonEmpty,
        "the old/new split must genuinely exercise the incremental path")
      val incremental = Dedup.d11IncrementalCc(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val rebuild = Dedup.d7DedupComponents(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(incremental === rebuild, "incremental labeling diverged from full rebuild")
    } finally pairsDf.unpersist()
  }

  test("d10 multipass SNM: superset of the prefix pass, suffix pass contributes") {
    val multi = graft.ext.Dedup.d10SnmMultipass(spark, dir).collect()
    val prefix = graft.ext.Dedup.d8Snm(spark, dir).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val multiKeys = multi.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(prefix.subsetOf(multiKeys), "every prefix-pass pair must survive the union")
    assert(multiKeys.size > prefix.size, "suffix pass found nothing — rotated key vacuous")
    multi.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      val f = r.getAs[Int]("found_by")
      assert(f === 1 || f === 2)
    }
    // pairs confirmed by BOTH sort keys exist on this corpus (the
    // high-confidence tier a multipass run is usually mined for)
    assert(multi.exists(_.getAs[Int]("found_by") === 2))
  }

  test("p1 pagerank: rank mass conserved up to truncation, nodes = graph, deterministic") {
    import graft.ext.{Dedup, Graph}
    val pairs = Dedup.d4MinhashLsh(spark, dir).select("a_id", "b_id").collect()
    val nodes = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val ranks = Graph.p1Pagerank(spark, dir).collect()
    assert(ranks.map(_.getAs[Long]("doc_id")).toSet === nodes,
      "every endpoint of the candidate graph is ranked, nothing else")
    ranks.foreach(r => assert(r.getAs[Long]("rank_fp") > 0L))
    // Each int64 truncating division loses < 1 unit; per round that is
    // < |edges| (contribs) + |nodes| (the div-20s), so after 10 rounds
    // the total shortfall is far under 1% of Scale at this graph size.
    val total = ranks.map(_.getAs[Long]("rank_fp")).sum
    assert(total <= Graph.Scale)
    assert(total > (Graph.Scale * 0.99).toLong,
      s"rank mass $total lost more than truncation can explain")
    // Exact determinism is the operator's contract (it is what makes
    // the DuckDB oracle a hash-compare, not a tolerance-compare).
    val again = Graph.p1Pagerank(spark, dir).collect()
    assert(ranks.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("t13 packing: bins are contiguous per shard and conserve tokens") {
    val rows = TextAnalysis.t13Packing(spark, dir).collect()
    val totalTokens = graft.Tables.documents(spark, dir)
      .agg(sum(size(split(trim(col("text")), " ")))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === totalTokens)
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { bins =>
      val ids = bins.map(_.getAs[Long]("bin")).sorted.toSeq
      assert(ids.head === 0L)
      assert(ids === ids.indices.map(_.toLong), "bins contiguous from 0")
    }
  }

  test("t14 BM25: top-k scores are positive and non-increasing") {
    val rows = TextAnalysis.t14Bm25(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= TextAnalysis.Bm25TopN)
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.forall(_ > 0))
    scores.sliding(2).foreach { case Array(a, b) => assert(a >= b); case _ => () }
  }

  test("t4 winnowing: shared token runs produce shared fingerprints") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"$shared unique tail one two three four five six seven eight nine"),
      (2L, s"prefix words here then $shared and a different ending entirely now"),
      (3L, "completely different text with no overlap at all in any window here today"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprintRows(docs, "text")
    val byDoc = fps.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "12-token shared run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
  }
}

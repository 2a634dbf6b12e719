package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Graph, TextAnalysis}
import graft.queries.AdvancedQueries

/** Laws and corpus invariants for the round-4 surface: triangle
  * census (closed-form counts on constructed graphs), token entropy
  * (H=0 / H=ln n laws), span dedup (span-count conservation vs an
  * independent per-row computation), gaps-and-islands (mass
  * conservation), and gap fill (coverage monotonicity — a carried
  * value never un-fills). The DuckDB hash-match runs per-round via
  * Verify; these pin what a hash can't express.
  */
class Round4Spec extends AnyFunSuite with GraftSuite {

  test("triangle census: K4 has 4 triangles, a path has 0, K3 has 1") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val r4 = Graph.triangleCensus(k4, "a", "b").collect().head
    assert(r4.getAs[Long]("n_nodes") === 4L)
    assert(r4.getAs[Long]("n_edges") === 6L)
    assert(r4.getAs[Long]("n_triangles") === 4L)

    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.triangleCensus(path, "a", "b")
      .collect().head.getAs[Long]("n_triangles") === 0L)

    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    assert(Graph.triangleCensus(k3, "a", "b")
      .collect().head.getAs[Long]("n_triangles") === 1L)
  }

  test("token entropy laws: constant doc → 0; all-distinct doc → ln n") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "x x x x x x x x"),             // constant: H = 0
      (2L, "s", "a b c d e f g h"),             // uniform distinct: H = ln 8
      (3L, "s", "a a b b")                      // two pairs: H = ln 2
    ).toDF("doc_id", "source", "text")
    val h = TextAnalysis.tokenEntropyPerDoc(docs, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("h")).toMap
    assert(math.abs(h(1L)) < 1e-12)
    assert(math.abs(h(2L) - math.log(8)) < 1e-12)
    assert(math.abs(h(3L) - math.log(2)) < 1e-12)
  }

  test("d12 span dedup: span counts conserve against an independent per-row formula") {
    // independent count: each doc contributes max(1, n_tokens - SpanK + 1)
    val expected = Tables.documents(spark, dir)
      .select(greatest(lit(1L),
        (size(split(trim(col("text")), " ")) - lit(Dedup.SpanK - 1)).cast("long")).as("k"))
      .agg(sum(col("k"))).collect().head.getLong(0)
    val out = Dedup.d12SpanDedup(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_spans")).sum === expected)
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup_spans") <= r.getAs[Long]("n_spans"))
      assert(r.getAs[Long]("n_flagged_docs") <= r.getAs[Long]("n_docs"))
    }
    // the corpus plants exact duplicates, which share every span
    assert(out.map(_.getAs[Long]("n_dup_spans")).sum > 0)
  }

  test("q42 islands: total streak mass equals the distinct (customer, month) count") {
    val rows = AdvancedQueries.q42Islands(spark, dir).collect()
    val mass = rows.map(r =>
      r.getAs[Long]("streak_months") * r.getAs[Long]("n_streaks")).sum
    val cells = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))))
      .distinct().count()
    assert(mass === cells)
    rows.foreach(r => assert(r.getAs[Long]("n_customers") <= r.getAs[Long]("n_streaks")))
  }

  test("s7 recall eval: one row per query, k = TopK, recall is the exact quotient") {
    val rows = graft.ext.Similarity.s7RecallEval(spark, dir).collect()
    assert(rows.length === graft.ext.Similarity.QueryCount)
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      val hit = r.getAs[Long]("n_hit")
      assert(k === graft.ext.Similarity.TopK.toLong)
      assert(hit >= 0L && hit <= k)
      assert(math.abs(r.getAs[Double]("recall") -
        math.rint(hit.toDouble / k * 10000) / 10000) < 1e-12)
    }
  }

  test("q45 retention: offset-0 diagonal is exactly the cohort at 100%") {
    val rows = AdvancedQueries.q45Retention(spark, dir).collect()
    assert(rows.nonEmpty)
    val offset0 = rows.filter(_.getAs[Int]("month_offset") == 0)
    // every cohort has its month-0 cell, fully retained by definition
    offset0.foreach { r =>
      assert(r.getAs[Long]("active_customers") === r.getAs[Long]("cohort_size"))
      assert(r.getAs[Double]("retention_pct") === 100.0)
    }
    // month-0 cells cover every customer exactly once
    val totalCust = Tables.orders(spark, dir)
      .select(col("o_custkey")).distinct().count()
    assert(offset0.map(_.getAs[Long]("cohort_size")).sum === totalCust)
    // retention never exceeds the cohort
    rows.foreach(r =>
      assert(r.getAs[Long]("active_customers") <= r.getAs[Long]("cohort_size")))
  }

  test("t18 pii redact: planted counts reconcile — one email and one phone per planted doc") {
    val rows = TextAnalysis.t18PiiRedact(spark, dir).collect()
    val planted = Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0).count()
    assert(rows.map(_.getAs[Long]("emails_redacted")).sum === planted)
    assert(rows.map(_.getAs[Long]("phones_redacted")).sum === planted)
    assert(rows.map(_.getAs[Long]("docs_with_pii")).sum === planted)
    // redaction strictly shrinks every planted doc (tags are shorter
    // than the planted strings), and untouched docs contribute zero
    rows.foreach { r =>
      val withPii = r.getAs[Long]("docs_with_pii")
      val removed = r.getAs[Long]("chars_removed")
      assert(if (withPii > 0) removed > 0 else removed === 0L)
    }
  }

  test("m3 media metadata: header round-trip matches direct arithmetic on doc_id") {
    import graft.ext.Multimodal
    val viaBytes = Multimodal.m3MediaMetadata(spark, dir).collect()
    // independent derivation, never touching payload bytes
    val direct = Tables.documents(spark, dir)
      .select(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        (col("doc_id") % 2 + 1).cast("int").as("format_version"),
        ((col("doc_id") % 64) * 8 + 64).cast("int").as("width"),
        ((col("doc_id") / 7).cast("long") % 48 * 12 + 36).cast("int").as("height"))
      .groupBy(col("kind"), col("format_version"))
      .agg(count(lit(1)).as("n_media"),
           round(avg(col("width")), 2).as("avg_width"),
           round(avg(col("height")), 2).as("avg_height"),
           sum(col("width").cast("long") * col("height")).as("total_pixels"))
      .orderBy(col("kind"), col("format_version"))
      .collect()
    assert(viaBytes.map(_.toString).toSeq === direct.map(_.toString).toSeq)
    assert(viaBytes.map(_.getAs[Long]("n_media")).sum ===
      Tables.documents(spark, dir).count())
  }

  test("t19 bloom decontaminate: verify stage cancels FPs — flags exactly t10's doc set") {
    val bloom = TextAnalysis.t19BloomDecontaminate(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_bloom_pass"),
         r.getAs[Long]("n_confirmed"), r.getAs[Long]("n_contaminated_docs"))).toMap
    // bloom guarantee: no false negatives, so pass ⊇ confirmed ⊆ grams
    bloom.values.foreach { case (grams, pass, conf, _) =>
      assert(conf <= pass && pass <= grams)
    }
    // the exact-verify stage must reproduce t10's exact answer per source
    val exact = TextAnalysis.t10Decontaminate(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_contaminated")).toMap
    assert(bloom.keySet === exact.keySet)
    bloom.foreach { case (src, (_, _, _, docs)) => assert(docs === exact(src), src) }
  }

  test("d17 cross-source: pair mass conserves against d4 and the flag matches the keys") {
    val rows = Dedup.d17CrossSourcePairs(spark, dir).collect()
    val d4Pairs = Dedup.d4MinhashLsh(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === d4Pairs)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_source") ===
        (r.getAs[String]("src_a") == r.getAs[String]("src_b")))
    }
  }

  test("q51 ltv curve: average cumulative spend is non-decreasing in tenure") {
    val rows = AdvancedQueries.q51LtvCurve(spark, dir)
      .orderBy(col("month_offset")).collect()
    assert(rows.nonEmpty)
    // cumulative spend only grows, and longer tenures belong to fewer
    // (earlier-cohort) customers
    val curve = rows.map(_.getAs[Double]("avg_cum_spend"))
    val counts = rows.map(_.getAs[Long]("n_customers"))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    // per-customer cum is monotone; the AVERAGE can only dip when the
    // population shrinks, so assert monotonicity on fixed-population
    // prefixes (consecutive offsets with the same customer count)
    rows.zip(rows.tail).foreach { case (a, b) =>
      if (a.getAs[Long]("n_customers") == b.getAs[Long]("n_customers"))
        assert(b.getAs[Double]("avg_cum_spend") >= a.getAs[Double]("avg_cum_spend"))
    }
    assert(curve.head >= 0.0)
  }

  test("q50 revenue bridge: class deltas reconcile to the total period change exactly") {
    val rows = AdvancedQueries.q50RevenueBridge(spark, dir).collect()
    assert(rows.nonEmpty)
    def totalCents(yr: Int): Long = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === yr)
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))).head().getLong(0)
    val bridged = rows.map(r => math.round(r.getAs[Double]("revenue_delta") * 100)).sum
    assert(bridged === totalCents(1997) - totalCents(1996))
    // every class present is non-degenerate
    rows.foreach(r => assert(r.getAs[Long]("n_customers") > 0L))
  }

  test("q48 yoy: first calendar year reports null prior, later months align to m-12") {
    val rows = AdvancedQueries.q48Yoy(spark, dir).collect()
    assert(rows.nonEmpty)
    val byMonth = rows.map(r => r.getAs[java.sql.Date]("month_start").toString -> r).toMap
    rows.foreach { r =>
      val m = r.getAs[java.sql.Date]("month_start").toLocalDate
      val prior = byMonth.get(m.minusMonths(12).toString)
      if (prior.isDefined)
        assert(r.getAs[Double]("revenue_prior_year") === prior.get.getAs[Double]("revenue"))
      else assert(r.isNullAt(r.fieldIndex("revenue_prior_year")))
    }
  }

  test("q49 pareto: classes partition the catalog, shares sum to 100, A-heavy") {
    val rows = AdvancedQueries.q49Pareto(spark, dir).collect()
    assert(rows.map(_.getAs[String]("pareto_class")).toSeq === Seq("A", "B", "C"))
    val nParts = Tables.lineitem(spark, dir).select(col("l_partkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_products")).sum === nParts)
    val shares = rows.map(_.getAs[Double]("share_pct"))
    assert(math.abs(shares.sum - 100.0) < 0.05)
    // Pareto structure: A covers ~80% of revenue with a minority of products
    assert(shares.head >= 75.0 && shares.head <= 81.0)
  }

  test("d16 source overlap: full upper triangle, jaccard in (0,1]") {
    val rows = Dedup.d16SourceOverlap(spark, dir).collect()
    val nSrc = Tables.documents(spark, dir).select(col("source")).distinct().count()
    assert(rows.length === (nSrc * (nSrc - 1) / 2).toInt) // shared corpus vocab ⇒ no zero pairs
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      val j = r.getAs[Double]("vocab_jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("p4 bfs depth: canonical at 0, everything reached within the round budget") {
    val rows = Graph.p4BfsDepth(spark, dir).collect()
    val labels = Dedup.d7DedupComponents(spark, dir).collect()
    assert(rows.length === labels.length)
    rows.foreach { r =>
      val d = r.getAs[Int]("depth")
      assert(d >= 0 && d <= Graph.BfsRounds,
        s"unreached or over-budget node: $r")
      assert((d == 0) === (r.getAs[Long]("doc_id") === r.getAs[Long]("cluster_id")))
    }
    // near-dup components have a canonical-adjacent member by
    // construction — depth 1 must occur
    assert(rows.exists(_.getAs[Int]("depth") == 1))
  }

  test("s9 filtered knn: every neighbor satisfies the predicate (no post-filter under-fill)") {
    import graft.ext.Similarity
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.s9FilteredKnn(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("label") === labels(r.getAs[Long]("query_id")))
      assert(r.getAs[Int]("label") === labels(r.getAs[Long]("neighbor_id")))
    }
    // the filter composes BEFORE the rank: lists stay full as long as
    // the label has ≥ TopK members
    val perQuery = rows.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length)
    perQuery.foreach { case (q, n) => assert(n === Similarity.TopK, s"query $q") }
  }

  test("t23 spans: affected docs equal t10's contaminated set; excision bounded by doc size") {
    val spans = TextAnalysis.t23DecontamSpans(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("affected_docs"),
         r.getAs[Long]("total_tokens"), r.getAs[Long]("excised_tokens"))).toMap
    val t10 = TextAnalysis.t10Decontaminate(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_train_docs"), r.getAs[Long]("n_contaminated"))).toMap
    assert(spans.keySet === t10.keySet)
    spans.foreach { case (src, (docs, affected, total, excised)) =>
      // a doc has ≥1 hit span iff it shares ≥1 gram — identical sets
      assert((docs, affected) === t10(src), src)
      assert(excised <= total)
      // every affected doc excises ≥ 1 token and spans never overlap
      if (affected > 0) assert(excised >= affected)
      else assert(excised === 0L)
    }
  }

  test("s8 sq8: full rank lists per query, non-negative distances, self excluded") {
    import graft.ext.Similarity
    val rows = Similarity.s8Sq8Scan(spark, dir).collect()
    assert(rows.length === Similarity.QueryCount * Similarity.TopK)
    rows.foreach { r =>
      assert(r.getAs[Long]("d2") >= 0L)
      assert(r.getAs[Long]("neighbor_id") !== r.getAs[Long]("query_id"))
      val rk = r.getAs[Int]("rank")
      assert(rk >= 1 && rk <= Similarity.TopK)
    }
    // compressed-scan quality sanity: SQ8 top-10 overlaps the exact
    // cosine top-10 somewhere (the corpus's near-dups are unmissable
    // at 8-bit resolution)
    val exact = Similarity.s1KnnBrute(spark, dir)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.count(r =>
      exact((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
    assert(hits > 0, "SQ8 scan should recover at least one exact neighbor")
  }

  test("misra-gries law: an item over the n/(w+1) guarantee survives any split order") {
    import graft.functions.{MGSummary, MisraGries}
    val mg = new MisraGries(3)
    // 'a' appears 10/22 > 22/4: guaranteed into the summary
    val stream = Seq.fill(10)("a") ++ (1 to 12).map(i => s"x$i")
    def runSplit(at: Int): MGSummary = {
      val (l, r) = stream.splitAt(at)
      mg.merge(l.foldLeft(mg.zero)(mg.reduce), r.foldLeft(mg.zero)(mg.reduce))
    }
    (0 to stream.length by 2).foreach { at =>
      assert(runSplit(at).keys.contains("a"), s"split at $at lost the heavy item")
    }
    // the reversed stream too — order independence of the guarantee
    val rev = stream.reverse.foldLeft(mg.zero)(mg.reduce)
    assert(rev.keys.contains("a"))
  }

  test("t22 heavy hitters: every output token really exceeds the 1/K share, exactly") {
    val rows = TextAnalysis.t22HeavyHitters(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), " ")).as("t")).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_occurrences") * TextAnalysis.HeavyK > n, r.toString)
    }
  }

  test("e1 funnel: stages are monotone and reconcile with the standalone operators") {
    import graft.ext.Pipeline
    val rows = Pipeline.e1CorpusFunnel(spark, dir).collect()
    rows.foreach { r =>
      val (p, d, q, c) = (r.getAs[Long]("n_pool"), r.getAs[Long]("n_after_dedup"),
        r.getAs[Long]("n_after_quality"), r.getAs[Long]("n_clean"))
      assert(p >= d && d >= q && q >= c, r.toString)
    }
    // pool = t10's training split, exactly
    val t10 = TextAnalysis.t10Decontaminate(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_pool")).sum ===
      t10.map(_.getAs[Long]("n_train_docs")).sum)
    // dedup drops = d7's non-canonical members restricted to the pool
    val nonCanonPool = Dedup.d7DedupComponents(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id") &&
        col("doc_id") % TextAnalysis.EvalStride =!= 0).count()
    assert(rows.map(r => r.getAs[Long]("n_pool") - r.getAs[Long]("n_after_dedup")).sum
      === nonCanonPool)
    // contaminated survivors cannot exceed t10's contaminated count
    assert(rows.map(r => r.getAs[Long]("n_after_quality") - r.getAs[Long]("n_clean")).sum
      <= t10.map(_.getAs[Long]("n_contaminated")).sum)
  }

  test("m5 cdc: shift resistance — a 1-char prefix edit changes only the first chunk") {
    import spark.implicits._
    import graft.ext.Multimodal
    val base = Tables.documents(spark, dir)
      .orderBy(col("doc_id")).limit(1).collect().head.getAs[String]("text")
    val docs = Seq((1L, base), (2L, "X " + base)).toDF("media_id", "text")
    val chunks = Multimodal.cdcChunks(docs).collect()
    val h1 = chunks.filter(_.getAs[Long]("media_id") == 1L).map(_.getAs[String]("h")).toSet
    val h2 = chunks.filter(_.getAs[Long]("media_id") == 2L).map(_.getAs[String]("h")).toSet
    // every boundary of the original recurs shifted in the edited
    // copy, so all chunks except the (changed) first one are shared
    assert(h1.size >= 2, s"need multiple chunks to test (got ${h1.size})")
    assert((h1 -- h2).size <= 1, s"shift broke ${(h1 -- h2).size} chunks")
    // byte mass conserves per doc
    val bytes1 = chunks.filter(_.getAs[Long]("media_id") == 1L)
      .map(_.getAs[Int]("bytes").toLong).sum
    assert(bytes1 === base.length.toLong)
  }

  test("m4 signature dedup: exact text dupes share a signature; clusters within one kind") {
    import graft.ext.Multimodal
    val rows = Multimodal.m4SignatureDedup(spark, dir).collect()
    // the corpus plants exact duplicate texts; same bytes → same
    // histogram → same signature, and doc_id % 3 may split a pair
    // across kinds, so compare against the per-kind duplicate count
    val expectMin = Tables.documents(spark, dir)
      .groupBy((col("doc_id") % 3).as("kind"), col("text"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(rows.length >= expectMin.toInt, s"${rows.length} < $expectMin")
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_size") >= 2L)
      assert(Set("image", "audio", "video")(r.getAs[String]("kind")))
    }
  }

  test("q47 scd2 as-of: row counts conserve and pre-history orders surface explicitly") {
    val rows = AdvancedQueries.q47Scd2Asof(spark, dir).collect()
    val nOrders = Tables.orders(spark, dir).count()
    // non-overlapping versions ⇒ the as-of join preserves row counts
    assert(rows.map(_.getAs[Long]("n_orders")).sum === nOrders)
    // orders before the first SCD2 version must land in the explicit
    // bucket, not vanish
    val pre = rows.find(_.getAs[String]("priority_at_order") == "(pre-history)")
    assert(pre.nonEmpty && pre.get.getAs[Long]("n_orders") > 0L)
  }

  test("lpa laws: K3 converges to one community; K2 oscillates back to singletons") {
    import spark.implicits._
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val c3 = Graph.labelPropagation(k3, "a", "b").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    assert(c3.values.toSet === Set(1L), s"K3 must converge to min label: $c3")
    // synchronous LPA has period 2 on K2; LpaRounds is even, so the
    // labels land back on the start — the documented oscillation case
    val k2 = Seq((7L, 9L)).toDF("a", "b")
    val c2 = Graph.labelPropagation(k2, "a", "b").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    assert(Graph.LpaRounds % 2 === 0)
    assert(c2 === Map(7L -> 7L, 9L -> 9L), s"K2 period-2 oscillation: $c2")
  }

  test("t21 dsir: target excluded, selection is the strict-above-p90 tenth of the pool") {
    val rows = TextAnalysis.t21DsirSelect(spark, dir).collect()
    assert(!rows.exists(_.getAs[String]("source") == TextAnalysis.DsirTarget))
    val pool = rows.map(_.getAs[Long]("n_docs")).sum
    val sel = rows.map(_.getAs[Long]("n_selected")).sum
    assert(sel > 0L, "selection must not be vacuous")
    // strictly-above-an-exact-p90 count is within interpolation slack
    // of 10% of the pool
    assert(math.abs(sel - pool / 10.0) <= 2.0, s"sel=$sel pool=$pool")
  }

  test("q46 concurrency: peaks bounded by sessions and by the user population") {
    val rows = AdvancedQueries.q46Concurrency(spark, dir).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, dir).select(col("user_id")).distinct().count()
    rows.foreach { r =>
      val peak = r.getAs[Long]("max_concurrent")
      assert(peak >= 1L && peak <= r.getAs[Long]("n_sessions"))
      // a user contributes ≤ 1 concurrent session per instant (30-min
      // gap sessions per user cannot overlap when the grace < gap)
      assert(peak <= nUsers)
    }
  }

  test("d15 dedup materialize: kept + removed = docs, and removals match d7's non-canonical members") {
    val rows = Dedup.d15DedupMaterialize(spark, dir).collect()
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    rows.foreach(r => assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed")
      === r.getAs[Long]("n_docs")))
    val nonCanonical = Dedup.d7DedupComponents(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id")).count()
    assert(rows.map(_.getAs[Long]("n_removed")).sum === nonCanonical)
    assert(nonCanonical > 0) // the corpus plants near-dups
  }

  test("t20 distinct-n: gram totals follow the max(1, tokens-n+1) formula per source") {
    val rows = TextAnalysis.t20DistinctNgrams(spark, dir).collect()
    val tokens = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(trim(col("text")), " ")).cast("long")).as("t"),
           count(lit(1)).as("d"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("t"), r.getAs[Long]("d"))).toMap
    // formula check needs per-doc clamping, so verify n=1 exactly and
    // bounds for higher n
    rows.foreach { r =>
      val (tok, docs) = tokens(r.getAs[String]("source"))
      val n = r.getAs[Int]("n")
      val total = r.getAs[Long]("total_grams")
      val uniq = r.getAs[Long]("distinct_grams")
      if (n == 1) assert(total === tok)
      else assert(total >= docs && total <= tok) // ≥1 gram/doc, ≤1 gram/token
      assert(uniq >= 1L && uniq <= total)
      val ratio = r.getAs[Double]("distinct_ratio")
      assert(ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("d14: the banded codegen kernel matches the builtin levenshtein row for row") {
    val banded = Dedup.d14EditDistance(spark, dir).collect().map(_.toString).toSeq
    val builtin = Dedup.d14WithDistance(spark, dir,
      (a, b) => levenshtein(a, b)).collect().map(_.toString).toSeq
    assert(banded === builtin)
    assert(banded.nonEmpty)
  }

  test("d14 edit distance: bounds hold, pairs unique, exact dupes surface at distance 0") {
    val rows = Dedup.d14EditDistance(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Int]("edit_dist")
      assert(e >= 0 && e <= Dedup.EditMaxDist)
      assert(r.getAs[Long]("doc_id") !== r.getAs[Long]("dup_id"))
    }
    val pairs = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_id")))
    assert(pairs.distinct.length === pairs.length)
    // the corpus plants exact duplicates; identical texts sort adjacent
    // inside their block, so distance-0 pairs must exist
    assert(rows.exists(_.getAs[Int]("edit_dist") === 0))
  }

  test("d13 semdedup: members conserve and kept + removed = members per cluster") {
    import graft.ext.Similarity
    val rows = Similarity.d13SemDedup(spark, dir).collect()
    val nVec = Tables.embeddings(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum === nVec)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed") ===
        r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("n_kept") >= 1L) // the min-id member always survives
    }
  }

  test("q43 gap fill: coverage is monotone non-decreasing — carry-forward never un-fills") {
    val rows = AdvancedQueries.q43GapFill(spark, dir)
      .orderBy(col("month_start")).collect()
    assert(rows.nonEmpty)
    val nCust = rows.head.getAs[Long]("n_customers")
    assert(rows.forall(_.getAs[Long]("n_customers") === nCust))
    val coverage = rows.map(r => r.getAs[Long]("n_observed") + r.getAs[Long]("n_filled"))
    assert(coverage.zip(coverage.tail).forall { case (a, b) => b >= a })
    // a filled cell requires some earlier observation, so month 1 has none
    assert(rows.head.getAs[Long]("n_filled") === 0L)
  }
}

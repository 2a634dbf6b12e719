package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CoreQueries, InventoryQueries}

/** Plan-shape assertions — the properties that decide whether a query
  * survives a 100× scale-up, checked on the optimized physical plan
  * rather than guessed from timings: filters/projections reaching the
  * parquet scan, dim joins broadcasting, top-k avoiding a global
  * sort, and shuffle counts staying at their minimum.
  */
class PlanShapeSpec extends AnyFunSuite with GraftSuite {

  /** Final (post-AQE) physical plan text only — AdaptiveSparkPlan's
    * toString appends the Initial Plan too, which would double-count
    * operators. */
  private def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q18: predicate pushdown and column pruning reach the scan") {
    val p = plan(InventoryQueries.q18ScanFilter(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert("l_quantity#\\d+ > 45".r.findFirstIn(p).nonEmpty, p) // data filter at the scan stage
    // projection pruned to the 4 selected + 2 filter columns — never
    // the full 16-column lineitem schema
    val scanLine = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scanLine.nonEmpty && !scanLine.contains("l_returnflag") &&
      !scanLine.contains("l_partkey"),
      s"scan reads unprojected columns: $scanLine")
  }

  test("q2: dim join broadcasts; top-k plans TakeOrderedAndProject, no global sort") {
    val p = plan(CoreQueries.q2TopParts(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation shuffles once (partial+final), plus only the output sort") {
    val p = plan(CoreQueries.q1PricingSummary(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
    assert(countOf(p, "Exchange rangepartitioning") === 1, p)
  }

  test("q44: column-parallel profile — one pruned scan per column, no Expand") {
    val p = plan(graft.queries.AdvancedQueries.q44Profile(spark, dir))
    // the multi-distinct Expand form replicated every row 12× and
    // shuffled an 11-value-column key (23 s at sf0.1 vs ~2 s for
    // this shape); per-column branches each scan ONE pruned column —
    // same total bytes off a columnar store — and shuffle only their
    // own NDV via two-phase distinct aggs
    assert(countOf(p, "Expand") === 0, s"profile must not plan an Expand:\n$p")
    assert(countOf(p, "FileScan parquet") === graft.queries.AdvancedQueries.profileColCount, p)
    // every branch's scan is pruned to a single column
    p.linesIterator.filter(_.contains("ReadSchema: struct<")).foreach { l =>
      val cols = l.substring(l.indexOf("ReadSchema: struct<"))
        .count(_ == ':') - 1 // "ReadSchema:" itself contributes one
      assert(cols === 1, s"scan must read exactly one column: $l")
    }
  }

  test("q45: retention matrix plans no Expand and broadcasts the cohort sizes") {
    val p = plan(graft.queries.AdvancedQueries.q45Retention(spark, dir))
    // cells count a pre-distincted grid — a countDistinct here would
    // mean the grid dedup was lost
    assert(countOf(p, "Expand") === 0, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q46: the endpoint sweep windows by (day, hour) — no single-partition global sort") {
    val p = plan(graft.queries.AdvancedQueries.q46Concurrency(spark, dir))
    // every Window operator carries a partition spec (day+hour or user_id)
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { l =>
      assert(l.contains("windowspecdefinition(day") ||
        l.contains("windowspecdefinition(user_id"), s"unpartitioned window: $l")
    }
    // the sweep itself must be HOUR-refined: a single viral day is 24
    // partitions, not one
    assert(specs.exists(l => l.contains("windowspecdefinition(day") && l.contains("hour")),
      s"sweep window not (day, hour)-partitioned:\n${specs.mkString("\n")}")
  }

  test("st10: the streaming outer join plans a state-store symmetric hash join under watermarks") {
    import graft.streaming.EventsStream
    import org.apache.spark.sql.functions.col
    val sd = tempDir("events_stream_plan")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      sd.resolve("events.parquet"))
    val q = EventsStream.runToMemory(
      EventsStream.attributionOuterStream(
          EventsStream.readEventsStream(spark, sd.toString))
        .select(col("user_id"), col("buy_id"), col("view_id")),
      "st10_plan_probe", mode = "append")
    try {
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
        q.explain()
      }
      val p = baos.toString("UTF-8")
      // the stateful join operator (per-partition state stores on
      // both sides), its outer mode, and the event-time watermarks
      // that drive orphan emission must all be visible in the plan
      assert(p.contains("StreamingSymmetricHashJoin"), p)
      assert(p.contains("LeftOuter"), p)
      assert(p.contains("EventTimeWatermark"), p)
    } finally q.stop()
  }

  test("st12: the streaming FULL OUTER join keeps the symmetric state-store shape") {
    import graft.streaming.EventsStream
    import org.apache.spark.sql.functions.col
    val sd = tempDir("events_stream_plan12")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      sd.resolve("events.parquet"))
    val q = EventsStream.runToMemory(
      EventsStream.attributionFullOuterStream(
          EventsStream.readEventsStream(spark, sd.toString))
        .select(col("user_id"), col("buy_id"), col("view_id")),
      "st12_plan_probe", mode = "append")
    try {
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
        q.explain()
      }
      val p = baos.toString("UTF-8")
      // same stateful operator as st10/st4, in its last join mode:
      // both sides keep watermark-bounded state and both emit
      // null-extended rows on expiry
      assert(p.contains("StreamingSymmetricHashJoin"), p)
      assert(p.contains("FullOuter"), p)
      assert(p.contains("EventTimeWatermark"), p)
    } finally q.stop()
  }

  test("q49: the global cumulative runs bucket-partitioned — no single-partition window") {
    val p = plan(graft.queries.AdvancedQueries.q49Pareto(spark, dir))
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { l =>
      assert(l.contains("windowspecdefinition(bucket"), s"unpartitioned window: $l")
    }
  }

  test("t19: the bloom bitset reaches the probe as a broadcast, not a shuffle join") {
    val p = plan(graft.ext.TextAnalysis.t19BloomDecontaminate(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q5: one hash shuffle serves both the aggregation and the lifetime window") {
    val p = plan(CoreQueries.q5MonthlySnapshot(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") === 1,
      s"agg+window must share the customer_id partitioning:\n$p")
  }

  test("q29: serves from the persisted star artifact (no staging re-derivation " +
    "in the plan, one broadcast dim join); the BUILD path still prunes " +
    "staging columns") {
    import org.apache.spark.sql.functions._
    val df = graft.etl.RetailStar.q29TopProducts(spark, dir)
    val p = plan(df)
    // the product dim broadcasts; the serve reads the artifact's
    // parquet — the staging synthesis (lineitem⋈orders⋈part) and the
    // cleaning pipeline must be absent from the serve plan (r17: the
    // warehouse model — ETL once, queries read persisted tables)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("graft_star_v1"), s"q29 must scan the star artifact:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("FileScan") && l.contains("orders")),
      s"the serve must not re-run the staging synthesis:\n$p")
    // the BUILDER keeps the pruning property: the same rollup over the
    // inline build reads only what the cleaning pipeline needs from
    // orders — never o_totalprice / o_orderstatus
    val star = graft.etl.RetailStar.buildStar(spark, dir)
    val bp = plan(star.fact.join(broadcast(star.product), Seq("product_key"))
      .groupBy(col("product_name"), col("product_brand"))
      .agg(sum(col("line_total_amount")).as("revenue")))
    val ordersScan = bp.linesIterator.find(l => l.contains("FileScan") && l.contains("orders"))
      .getOrElse("")
    assert(ordersScan.nonEmpty && !ordersScan.contains("o_totalprice"),
      s"orders scan reads unprojected columns: $ordersScan")
  }

  test("q26: decile assignment is window-free — no single-partition sort anywhere") {
    val p = plan(graft.queries.AdvancedQueries.q26SpendDeciles(spark, dir))
    // the r1 form planned ntile over Window(ORDER BY …) — a one-task
    // sort of every customer. (The remaining Exchange SinglePartition
    // is the percentile agg's final step over per-partition partials —
    // one row per partition, not the dataset.)
    assert(!p.contains("Window"), s"q26 must not plan a WindowExec:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"decile bounds should broadcast back:\n$p")
  }

  test("s6: PQ argmin plans as hash aggregates — no sort-based aggregate, no window") {
    val p = plan(graft.ext.Similarity.s6PqAdc(spark, dir))
    // the packed-long min() must stay a HashAggregate; min_by over a
    // (d2,cid) struct fell back to SortAggregate and tripled the cost
    assert(!p.contains("SortAggregate"), s"PQ argmin fell out of hash agg:\n$p")
    // the only WindowExec is the final per-query top-k over candidate
    // scores — never over the corpus-sized assignment ("Window [" is
    // the exec node; WindowGroupLimit is its pushed-down limit and
    // shares the substring)
    assert(countOf(p, "Window [") <= 1, s"unexpected windows in PQ plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"ADC lookup must broadcast:\n$p")
  }

  test("t15: top-K vocab is a TakeOrderedAndProject, not a global sort/window") {
    val p = plan(graft.ext.TextAnalysis.t15VocabPerplexity(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-K should plan per-partition heaps + driver merge:\n$p")
    assert(!p.contains("Window"), s"no window belongs in t15:\n$p")
  }

  test("q40: mode/median touch no window; counts aggregate map-side first") {
    val p = plan(graft.queries.AdvancedQueries.q40ModeMedian(spark, dir))
    assert(!p.contains("Window"), s"mode must be an aggregation, not a ranking:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"wide count should map-side combine:\n$p")
  }

  test("t16: keep decision is row-local — rate table broadcasts, corpus never shuffles wide") {
    val p = plan(graft.ext.TextAnalysis.t16TemperatureMix(spark, dir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"rate table must broadcast:\n$p")
    // shuffles: the per-source aggregates (counts + final rollup);
    // the documents scan itself must not hash-repartition by doc
    assert(countOf(p, "Exchange hashpartitioning") <= 3,
      s"too many shuffles for a row-local sampler:\n$p")
  }

  test("q54: no hard broadcast hint on the catalog-sized itemOrders side") {
    val df = graft.queries.AdvancedQueries.q54BasketLift(spark, dir)
    // itemOrders grows with the product catalog — the only permitted
    // hint is the 1-row nBaskets cross-join broadcast; side choice for
    // the stats joins belongs to AQE at runtime
    val logical = df.queryExecution.analyzed.toString
    assert(countOf(logical, "ResolvedHint") <= 1,
      s"q54 carries a catalog-sized broadcast hint:\n$logical")
    df.collect() // still executes green without the hint
  }

  test("s15: both retrieval legs rank via WindowGroupLimit and broadcast their model side") {
    val p = plan(graft.ext.Similarity.s15HybridRrf(spark, dir))
    // per-leg top-depth + fused top-k: rank pushdown, never a global sort
    assert(countOf(p, "WindowGroupLimit") >= 4, // partial+final × (dense, lex) at least
      s"leg ranking must use WindowGroupLimit (partitioned rank pushdown):\n$p")
    // query vectors and the 1-row BM25 stats both broadcast — the
    // corpus-sized sides never move for the legs
    assert(countOf(p, "BroadcastExchange") >= 2,
      s"query set and stats row must broadcast:\n$p")
    // (this spec runs the production session, so the plan above is
    // the FuseDotProduct-extended shape; the rule firing itself is
    // asserted in CatalystExtensionSpec)
  }

  test("e2: the artifact serve pushes the clean-set filter into the " +
    "docflags scan and prunes the unused flag columns") {
    val p = plan(graft.ext.Pipeline.e2SelectionMix(spark, dir))
    val scan = p.linesIterator
      .find(l => l.contains("FileScan") && l.contains("docflags")).getOrElse("")
    assert(scan.nonEmpty, s"e2 must serve from the docflags artifact:\n$p")
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(s3,true)"),
      s"the s3 filter must reach the parquet scan:\n$p")
    assert(!scan.contains("doc_id"),
      s"doc_id must be pruned from e2's artifact scan:\n$p")
  }

  test("d20: the quality grading joins pair lists on their keys — " +
    "no cartesian product anywhere in the five-family matrix") {
    val p = plan(graft.ext.Dedup.d20DedupQuality(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"d20 must never plan a cartesian product:\n$p")
    // the membership grade is a KEYED join on the pair identity —
    // pair-bounded by construction (both sides are candidate lists)
    val gradingJoin = p.linesIterator.exists(l =>
      l.matches(".*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*") &&
        l.contains("a_id") && l.contains("b_id"))
    assert(gradingJoin, s"grading join must key on (a_id, b_id):\n$p")
  }

  test("s14: the index-health grade is a |Q|·k membership join keyed on " +
    "(query_id, neighbor_id) — the corpus never enters the grading") {
    val p = plan(graft.ext.Similarity.s14IndexHealth(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"s14 must never plan a cartesian product:\n$p")
    val gradingJoin = p.linesIterator.exists(l =>
      l.matches(".*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*") &&
        l.contains("query_id") && l.contains("neighbor_id"))
    assert(gradingJoin,
      s"grading join must key on (query_id, neighbor_id):\n$p")
  }

  test("e10/e11: the refresh and retention reports serve from the " +
    "epoch-tree scans — no corpus table, no cartesian product, and the " +
    "manifest window partitions by shard") {
    val p10 = plan(graft.ext.Pipeline.e10ArtifactRefresh(spark, dir))
    assert(p10.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("bins_epochs")),
      s"e10 must serve from the persisted epoch tree:\n$p10")
    assert(!p10.contains("documents") && !p10.contains("CartesianProduct"),
      s"the corpus never enters e10's serve path:\n$p10")
    assert(p10.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy") ||
        l.contains("windowspecdefinition(shard")),
      s"the manifest position window must partition by shard:\n$p10")
    val p11 = plan(graft.ext.Pipeline.e11RetentionDelete(spark, dir))
    assert(p11.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("bins_retained")),
      s"e11 must serve from the retained generation:\n$p11")
    assert(!p11.contains("documents") && !p11.contains("CartesianProduct"),
      s"the corpus never enters e11's serve path:\n$p11")
  }

  test("e12: enforcement serves from the docflags artifact with the alloc " +
    "table broadcast — the corpus table never enters, the cum window " +
    "partitions by source") {
    val p = plan(graft.ext.Pipeline.e12BudgetEnforce(spark, dir))
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("docflags")),
      s"e12 must serve from the docflags artifact:\n$p")
    assert(!p.contains("documents") && !p.contains("CartesianProduct"),
      s"the corpus never enters e12's serve path:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("source")),
      s"the |sources|-row alloc table must broadcast onto the census:\n$p")
    assert(p.contains("windowspecdefinition(source"),
      s"the cumulative window must partition by source:\n$p")
  }

  test("pairs artifact: the d4 gate entry is a pure artifact scan (no join, " +
    "no shingle pipeline) and d17 reads pairs from parquet") {
    // the path SEGMENT "/pairs" — a bare "pairs" substring would also
    // match the truth_pairs table, which shares the (a_id, b_id,
    // jaccard) schema and would make a mis-wiring invisible
    val pd4 = plan(graft.ext.Dedup.d4MinhashLshServed(spark, dir))
    assert(pd4.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("/pairs")),
      s"the d4 entry must serve from the persisted pairs artifact:\n$pd4")
    assert(!pd4.contains("Join"),
      s"the served d4 entry must be scan + sort only:\n$pd4")
    val pd17 = plan(graft.ext.Dedup.d17CrossSourcePairs(spark, dir))
    assert(pd17.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("/pairs")),
      s"d17 must read the pairs artifact, not re-derive the LSH build:\n$pd17")
  }

  test("e13 delta-verify: signatures served from the artifact and the " +
    "verify shingle scan endpoint-bounded by a semi-join") {
    val p = plan(graft.ext.Pipeline.e13NewPairsFrame(spark, dir))
    // the path SEGMENT "/signatures" — the refresh must band the
    // PERSISTED per-doc signatures, never re-run the md5 pass
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("/signatures")),
      s"e13 must band the persisted signatures artifact:\n$p")
    // the bounding that keeps the verify stage delta-proportional: a
    // LeftSemi between the shingle table and the candidate endpoints
    // (dropping it silently regresses verify to three corpus scans)
    assert(p.contains("LeftSemi"),
      s"the verify shingle input must be endpoint-semi-joined:\n$p")
  }

  test("e14 retraction: the gate row SERVES the persisted offboarded labels " +
    "(one artifact FileScan, nothing re-derived); the builder keeps the " +
    "anti-join pass-through shape") {
    // since r12 e14 reads the offboarded generation's labels table —
    // the retraction is an artifact, so the serve plan is a scan
    val p = plan(graft.ext.Pipeline.e14GraphRetract(spark, dir))
    // the location string truncates mid-path ("…/offboard_src2…"), so
    // the pin matches the generation segment; content ≡ labels is the
    // gate's hash check
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("/offboard_")),
      s"e14 must serve the persisted offboarded labels artifact:\n$p")
    // the BUILDER (the incremental retraction) keeps the r11 shape:
    // untouched labels off the live artifact under the affected-cluster
    // anti-join; the relabeled side roots at the fold's checkpoint
    val b = plan(graft.ext.Pipeline.e14Derived(spark, dir))
    assert(b.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("/labels")),
      s"the builder must pass untouched labels through from the artifact:\n$b")
    assert(b.contains("LeftAnti"),
      s"the affected-cluster exclusion must be an anti-join:\n$b")
  }

  test("e12 two-level: the running sum windows per (source, range) — no " +
    "window partition spans a whole source") {
    val p = plan(graft.ext.Pipeline.e12Enforced(spark, dir, twoLevel = true))
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(source") && l.contains("bucket")),
      s"the two-level cum window must partition by (source, bucket):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product in the two-level form:\n$p")
  }

  private def countOf(haystack: String, needle: String): Int =
    haystack.sliding(needle.length).count(_ == needle)
}

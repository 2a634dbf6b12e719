package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Shared harness for iterative operators over a pair-derived graph
  * (connected components, PageRank): symmetrize and checkpoint the
  * edge list once, and hand the body a shuffle WIDTH sized to the
  * EDGE count, not the session default — the candidate graph is
  * pair-bounded (LSH only emits pairs inside band buckets), so at
  * test scale it is tens of rows and default-width rounds are pure
  * scheduler overhead, while at 100 TB the same rule yields one
  * partition per ~2M edges. The width is applied by each body as an
  * explicit `repartition(width, joinKey)` on ONE side of its
  * per-round join — Catalyst's EnsureRequirements then co-partitions
  * the other side at the same width, so the round's big (edge-sized)
  * exchanges run at `width` without touching the session-global
  * `spark.sql.shuffle.partitions` conf (a previous version set that
  * conf around the loop; a concurrently-planned query on the same
  * session would have inherited the reduced width). The small
  * node-sized aggregate after the join keeps the session default —
  * at scale that knob is the cluster-tuned one, and the aggregate's
  * input has already been map-side combined. */
private[ext] object IterativeGraph {
  import org.apache.spark.sql.graftshim.CheckpointShim

  /** One shuffle partition per ~2M edges. */
  def widthFor(nEdges: Long): Int = math.max(1L, nEdges / 2000000L).toInt

  /** Build the symmetric checkpointed edge list (`src`, `dst`) from
    * `pairs` and run `body(edges, width)` — width as above. The edge
    * checkpoint is freed when body returns — on the error path too —
    * so a result that outlives the call must be checkpointed by body
    * itself. `pairs` is materialized first so the upstream pipeline
    * (for d7/p1, the whole LSH build) does not execute once per
    * direction. */
  def withSymmetricEdges[T](pairs: DataFrame, aCol: String, bCol: String,
                            distinctEdges: Boolean)(body: (DataFrame, Int) => T): T = {
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint()
    val e0 = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
    val edges = (if (distinctEdges) e0.distinct() else e0).localCheckpoint()
    CheckpointShim.unpersist(p)
    val nEdges = edges.count()
    try body(edges, widthFor(nEdges))
    finally CheckpointShim.unpersist(edges)
  }
}

/** Iterative graph analytics over the near-dup candidate graph —
  * the step after clustering (Dedup.connectedComponents) when a
  * pipeline needs to RANK documents inside a duplicate neighborhood
  * (e.g. pick the canonical copy by centrality rather than min-id).
  *
  * Everything here is exact int64 fixed-point arithmetic: ranks are
  * integers scaled by 1e12 and every update is integer
  * multiply/divide, so the result is bit-identical in ANY engine and
  * ANY aggregation order — the same discipline that made s5's
  * k-means centroids oracle-checkable (float PageRank sums drift
  * with reduction order and cannot be hash-compared across engines).
  */
object Graph {
  import org.apache.spark.sql.graftshim.CheckpointShim

  /** Fixed-point scale: ranks sum to ~Scale (minus integer-division
    * truncation, < 1 per edge per round — bounded and spec-checked). */
  val Scale = 1000000000000L

  /** Damping 0.85 as the exact rational 17/20 (base 0.15 = 3/20). */
  val Iterations = 10

  /** PageRank with a FIXED iteration count (power iteration,
    * unrolled): r_{k+1}(v) = 0.15/N + 0.85 * Σ_{u→v} r_k(u)/deg(u),
    * all in scaled int64 with truncating division.
    *
    * Shape per round: one join of the edge list against the current
    * rank vector + one sum-aggregate — identical to the connected-
    * components round (both run under the shared IterativeGraph
    * harness; ranks and edges both stay distributed, nothing is ever
    * collected). localCheckpoint truncates lineage each round and
    * the superseded round's blocks are freed as soon as the next
    * materializes.
    *
    * A fixed iteration count (not a convergence test) is what makes
    * the operator oracle-checkable: the DuckDB mirror unrolls the
    * same 10 updates as chained CTEs and must agree bit-for-bit.
    * Nodes all have degree ≥ 1 by construction (they come from the
    * edge list), so there is no dangling-mass term. */
  def pagerank(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    IterativeGraph.withSymmetricEdges(pairs, aCol, bCol, distinctEdges = false) { (edges, width) =>
      // degree is a per-edge constant across rounds — join it into the
      // edge list ONCE, repartitioned by the round-join key at the
      // edge-sized width, and checkpoint: each round is one join + one
      // aggregate (10 rounds save 10 join stages), and the checkpoint
      // preserves the partitioning so every round's join reuses it
      // (the rank side co-partitions to match — no session-conf games)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val degEdges = edges.join(deg, Seq("src"))
        .repartition(width, col("src")).localCheckpoint()
      // 1-row node count, broadcast into every round — no driver-side
      // value steers the computation, so the plan is scale-free
      val nn = degEdges.select(col("src")).distinct()
        .agg(count(lit(1)).as("n")).localCheckpoint()
      var ranks = degEdges.select(col("src").as("node")).distinct()
        .crossJoin(broadcast(nn))
        .select(col("node"), expr(s"$Scale div n").as("r"))
        .localCheckpoint()
      for (_ <- 1 to Iterations) {
        // rank side pinned to the same width on the join key →
        // co-partitioned with the checkpointed degEdges, so the round
        // join needs NO fresh edge-sized exchange (node-sized ranks
        // move; edge-sized degEdges stay put)
        val next = degEdges
          .join(ranks.repartition(width, col("node")), col("src") === col("node"))
          .select(col("dst"), expr("r div outdeg").as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("sc"))
          .crossJoin(broadcast(nn))
          .select(col("dst").as("node"),
            expr(s"(3 * ($Scale div n)) div 20 + (17 * sc) div 20").as("r"))
          .localCheckpoint()
        CheckpointShim.unpersist(ranks)
        ranks = next
      }
      CheckpointShim.unpersist(degEdges)
      CheckpointShim.unpersist(nn)
      ranks
    }

  /** P1 — PageRank over the d4 MinHash-LSH near-dup graph: which
    * documents sit at the CENTER of duplicate neighborhoods (a
    * centrality-based canonical-copy choice; min-id d7 is the
    * arbitrary one). rank_fp is the exact scaled-int64 rank. */
  def p1Pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerank(Pipeline.pairsArtifact(spark, dir), "a_id", "b_id")
      .select(col("node").as("doc_id"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("doc_id"))

  /** TrustRank (Gyöngyi, Garcia-Molina, Pedersen: "Combating Web Spam
    * with TrustRank", VLDB 2004): PageRank with the teleport vector
    * concentrated on a TRUSTED SEED SET instead of uniform — the
    * quality-propagation form a corpus-curation pipeline runs when a
    * small vetted feed exists and quality must flow outward along
    * near-dup edges (a near-dup of a trusted doc inherits trust; a
    * component containing NO seed gets EXACTLY zero — mass cannot
    * teleport into it, an integer-exact property Round9Spec pins).
    *
    * Same harness, fixed-point discipline and per-round shape as
    * [[pagerank]]: r_{k+1}(v) = 0.15·s(v) + 0.85·Σ_{u→v} r_k(u)/deg(u)
    * with s(v) = Scale/|S∩V| on seeds and 0 elsewhere, all scaled
    * int64 with truncating division. The seed-mass vector is
    * node-sized, co-partitioned on the round-join key ONCE and
    * checkpointed — each round adds one node-sized join over p1's
    * shape (the uniform teleport constant becomes a vector).
    * With S = all nodes it degenerates to exactly [[pagerank]]
    * (same per-node teleport integer) — spec-pinned. */
  def trustRank(pairs: DataFrame, aCol: String, bCol: String, seeds: DataFrame): DataFrame =
    IterativeGraph.withSymmetricEdges(pairs, aCol, bCol, distinctEdges = false) { (edges, width) =>
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val degEdges = edges.join(deg, Seq("src"))
        .repartition(width, col("src")).localCheckpoint()
      val nodes = degEdges.select(col("src").as("node")).distinct()
      val seedN = nodes.join(seeds.select(col("node")).distinct(), Seq("node"))
      val ns = seedN.agg(count(lit(1)).as("n")).localCheckpoint()
      val mass = nodes
        .join(seedN.select(col("node"), lit(1).as("is_seed")), Seq("node"), "left")
        .crossJoin(broadcast(ns))
        .select(col("node"),
          // greatest(n, 1): a seed set disjoint from the graph makes
          // n = 0 — all-zero trust is the defined degenerate on BOTH
          // engines (DuckDB's // would otherwise raise div-by-zero
          // while Spark's div yields null: a silent divergence)
          when(col("is_seed").isNotNull, expr(s"$Scale div greatest(n, 1)"))
            .otherwise(lit(0L)).as("sv"))
        .repartition(width, col("node")).localCheckpoint()
      var ranks = mass.select(col("node"), col("sv").as("r")).localCheckpoint()
      for (_ <- 1 to Iterations) {
        val next = degEdges
          .join(ranks.repartition(width, col("node")), col("src") === col("node"))
          .select(col("dst"), expr("r div outdeg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
          .join(mass.select(col("node"), col("sv")), col("dst") === col("node"))
          .select(col("node"), expr("(3 * sv) div 20 + (17 * sc) div 20").as("r"))
          .localCheckpoint()
        CheckpointShim.unpersist(ranks)
        ranks = next
      }
      CheckpointShim.unpersist(degEdges)
      CheckpointShim.unpersist(mass)
      CheckpointShim.unpersist(ns)
      ranks
    }

  /** P7 — TrustRank over the d4 near-dup graph, seeded by the corpus's
    * lexicographically-first source (the deterministic stand-in for
    * "the vetted feed" — at 100 TB the seed list is whatever curated
    * whitelist exists; it enters as a plain DataFrame). Output: every
    * graph node's exact scaled-int64 trust. */
  def p7TrustRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val seedSrc = docs.agg(min(col("source")).as("s"))
    val seeds = docs.join(broadcast(seedSrc), col("source") === col("s"))
      .select(col("doc_id").as("node"))
    trustRank(Pipeline.pairsArtifact(spark, dir), "a_id", "b_id", seeds)
      .select(col("node").as("doc_id"), col("r").as("trust_fp"))
      .orderBy(col("trust_fp").desc, col("doc_id"))
  }

  /** P2 — triangle census of the near-dup candidate graph: a
    * triangle means three documents that are all pairwise near-dups —
    * the signature of a true duplicate CLUSTER rather than a chain of
    * borderline pairs (chains are what make min-label components
    * over-merge). One row: nodes, edges, triangles.
    *
    * Runs the DEGREE-ORDERED census ([[triangleCensusOriented]]) —
    * the production form whose two-hop fan-out is bounded by each
    * node's OUT-degree under the (degree, id) orientation, O(√|E|)
    * per node, instead of a hub's full degree under plain id order
    * (one celebrity node with d neighbors would otherwise fan out
    * d²/2 two-hop rows). The census count is orientation-invariant —
    * Round5Spec pins oriented ≡ plain on constructed graphs AND on
    * this exact LSH graph — so the DuckDB oracle keeps the simple
    * id-oriented form. */
  def p2Triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCensusOriented(Pipeline.pairsArtifact(spark, dir), "a_id", "b_id")

  /** Core census over any undirected edge list. Precondition: each
    * edge appears exactly once, oriented aCol < bCol (what d4 emits);
    * a symmetrized or duplicated list would overcount. */
  def triangleCensus(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs
      .select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint()
    censusOverOriented(e)
  }

  /** The degree-ordered census (Schank–Wagner / forward counting):
    * re-orient every edge toward the higher (degree, id) endpoint
    * first, THEN run the same two-hop + closure join. Under that
    * total order each triangle {x,y,z} with rank x<y<z appears
    * exactly once as x→y ⋈ y→z closed by x→z, and every node's
    * two-hop fan-out is bounded by its OUT-degree, which the
    * orientation caps at O(√|E|) — the bound that survives hub nodes
    * at 100 TB. Two extra degree joins (edge-sized, broadcastable
    * degree table at candidate-graph scale) buy the fan-out cap;
    * the count is identical to [[triangleCensus]] (spec-pinned). */
  def triangleCensusOriented(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint()
    val deg = p.select(col("a").as("v")).union(p.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val e = p
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(when(aFirst, col("a")).otherwise(col("b")).as("a"),
              when(aFirst, col("b")).otherwise(col("a")).as("b"))
      .localCheckpoint()
    import org.apache.spark.sql.graftshim.CheckpointShim
    CheckpointShim.unpersist(p)
    censusOverOriented(e)
  }

  /** nodes/edges/triangles over an edge list in which each triangle's
    * three edges agree with ONE total order (id or (degree, id)) —
    * the two-hop join e1(a,b)⋈e2(b,c) closed by e3(a,c) then counts
    * each triangle exactly once, no /6 correction, no symmetrized
    * blow-up. `e` is checkpointed by the caller so the upstream build
    * (for p2, the whole LSH pipeline) runs once, not three times. */
  private def censusOverOriented(e: DataFrame): DataFrame = {
    val nV = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    nV.crossJoin(nE).crossJoin(tri)
  }

  val LpaRounds = 4

  /** Synchronous label propagation over any pair list: every node
    * starts as its own label; each round, a node adopts the most
    * frequent label among its NEIGHBORS (ties → smallest label).
    * A fixed round count with fully synchronous updates is the form
    * both engines can replay exactly — the classic async/random-order
    * LPA converges better but is irreproducible by construction.
    * Synchronous LPA can oscillate on bipartite-ish structures
    * (spec-pinned on K2); what the operator is FOR here is splitting
    * the chain-merged components d7 produces into denser cores, the
    * same over-merge p2's triangle census diagnoses.
    *
    * Shape per round: one edge⋈label join + two grouped aggregates,
    * at edge-sized parallelism under the shared IterativeGraph
    * harness — the same per-round cost envelope as d7/p1. */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    IterativeGraph.withSymmetricEdges(pairs, aCol, bCol, distinctEdges = true) { (edges, width) =>
      // the round join hits edges on `dst`: pin the edge-sized width
      // there once; each round's label side co-partitions to match
      val e = edges.repartition(width, col("dst")).localCheckpoint()
      var labels = e.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")).localCheckpoint()
      for (_ <- 1 to LpaRounds) {
        val next = e.join(labels.repartition(width, col("node")), col("dst") === col("node"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          // argmax with min-label tie-break as one max(struct): highest
          // count wins, then the highest negated label = smallest label
          .groupBy(col("src"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("src").as("node"), (-col("m.nl")).as("lbl"))
          .localCheckpoint()
        CheckpointShim.unpersist(labels)
        labels = next
      }
      CheckpointShim.unpersist(e)
      labels
    }

  /** P3 — label-propagation communities of the near-dup graph,
    * reported as community sizes. Communities refine d7's components:
    * a chain of borderline pairs that min-label CC merges into one
    * cluster splits here unless the middle is genuinely dense. */
  def p3Communities(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(Pipeline.pairsArtifact(spark, dir), "a_id", "b_id")
      .groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_doc_id"))
      .orderBy(col("community_id"))

  val BfsRounds = 6

  /** P4 — BFS hop depth from each component's canonical copy (the
    * provenance question after dedup picks canonicals: how far is a
    * dropped doc from the copy that replaced it? depth 1 = direct
    * near-dup of the keeper, depth ≥ 2 = kept only transitively —
    * exactly the chain-merge distance p2/p3 diagnose). Unrolled
    * synchronous frontier expansion with min-depth merge, the same
    * fixed-round discipline as PageRank/LPA; rounds exceed the
    * candidate graph's diameter (spec asserts nothing is left
    * unreached). All-integer, exact unrolled-recursive oracle. */
  def p4BfsDepth(spark: SparkSession, dir: String): DataFrame = {
    // pairs AND the labeling both serve from the persisted artifact
    // DAG — previously this re-ran the whole LSH build plus a CC label
    // loop per query; now the only iterative work left is the BFS
    // rounds themselves
    val pairs = Pipeline.pairsArtifact(spark, dir).select(col("a_id"), col("b_id"))
    val labels = Pipeline.labelsArtifact(spark, dir)
    IterativeGraph.withSymmetricEdges(pairs, "a_id", "b_id",
        distinctEdges = true) { (edges, width) =>
      val canon = labels.filter(col("node") === col("cluster_id"))
        .select(col("node"), lit(0).as("depth"))
      var depths = canon.localCheckpoint()
      for (t <- 1 to BfsRounds) {
        // frontier side pinned to the edge-sized width on the join
        // key; the edge list co-partitions to match (see harness doc)
        val next = edges.join(depths.repartition(width, col("node")),
            col("src") === col("node"))
          .select(col("dst").as("node"), lit(t).as("depth"))
          .unionAll(depths)
          .groupBy(col("node")).agg(min(col("depth")).as("depth"))
          .localCheckpoint()
        CheckpointShim.unpersist(depths)
        depths = next
      }
      // checkpointed so the result survives the harness's edge unpersist
      val res = labels.join(depths, Seq("node"), "left")
        .select(col("node").as("doc_id"), col("cluster_id"),
          coalesce(col("depth"), lit(-1)).as("depth"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      CheckpointShim.unpersist(depths)
      res
    }
  }

  val CoreK = 2
  val CoreRounds = 4

  /** K-core of an undirected pair graph by synchronous peeling:
    * each round recomputes alive-subgraph degrees and drops nodes
    * below k; survivors after the last round form the k-core, each
    * reported with its within-core degree. Fixed unrolled rounds (the
    * repo's oracle-checkable iteration discipline — PageRank/LPA/BFS
    * all do this); Round7Spec asserts a further round is a no-op at
    * test scale, and at 100 TB the round count is the knob (peeling
    * converges in O(peel depth) rounds — typically ≤ tens — each
    * round one degree aggregate + two node-sized semi-joins at edge
    * parallelism, the same per-round cost envelope as [[pagerank]]). */
  def kcore(pairs: DataFrame, aCol: String, bCol: String,
            k: Int = CoreK, rounds: Int = CoreRounds): DataFrame =
    IterativeGraph.withSymmetricEdges(pairs, aCol, bCol, distinctEdges = true) { (edges, width) =>
      var cur = edges.repartition(width, col("src")).localCheckpoint()
      for (_ <- 1 to rounds) {
        val alive = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src"))
        // symmetric edge list ⇒ filtering BOTH endpoints against the
        // alive set preserves symmetry; node-sized alive side joins
        // at the edge-partitioned width
        val next = cur
          .join(alive, Seq("src"), "left_semi")
          .join(alive.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .repartition(width, col("src")).localCheckpoint()
        CheckpointShim.unpersist(cur)
        cur = next
      }
      val res = cur.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
        .localCheckpoint()
      CheckpointShim.unpersist(cur)
      res
    }

  /** P5 — k-core decomposition of the near-dup candidate graph (k=2):
    * the density gate BETWEEN p2's triangle census and p3's
    * communities — a node outside the 2-core sits on a tree fringe
    * (chained borderline pairs, the over-merge signature), while the
    * 2-core is where true duplicate clusters live. Output: each core
    * member with its within-core degree. */
  def p5Kcore(spark: SparkSession, dir: String): DataFrame =
    kcore(Pipeline.pairsArtifact(spark, dir), "a_id", "b_id")
      .select(col("src").as("doc_id"), col("core_deg"))
      .orderBy(col("doc_id"))

  /** P6 — MODULARITY of p3's communities: the quality measure that
    * grades the partition LPA produced (the d20/s11 pattern — every
    * heuristic in this library gets a measurement operator). Newman
    * modularity per community c over the undirected pair graph:
    *   Q_c = e_c/m − (deg_c / 2m)²
    * reported in EXACT integer form q_num = 4·m·e_c − deg_c² (so
    * Q_c = q_num / 4m² and ΣQ·4m² = Σq_num) — no division, no float,
    * no negative-integer-division cross-engine hazard. A community
    * with q_num > 0 beats the random-graph expectation; a chain
    * community LPA failed to split shows q_num ≤ 0. Round9Spec pins
    * Σq_num > 0 (the partition is better than random) and the
    * degree/edge conservation laws.
    *
    * Scale shape: the labeling is p3's (edge-sized rounds); the
    * grading adds one degree aggregate, two pair-sized label lookups,
    * and a |communities|-row rollup — nothing beyond the pair volume.
    * The pair list is cached once and shared by the labeling, the
    * degree count, and the 1-row edge count (pair-bounded, the d16
    * vocab pattern). */
  def p6Modularity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.CheckpointShim
    // pairs serve from the persisted artifact — a parquet table needs
    // no cache to be scanned by the labeling, the degree count, and
    // the grading joins
    val pairs = Pipeline.pairsArtifact(spark, dir)
      .select(col("a_id"), col("b_id"))
    val labels = labelPropagation(pairs, "a_id", "b_id") // (node, lbl), checkpointed
    val out = p6GradingFrame(pairs, labels)
      // p7's self-releasing discipline: materialize the
      // |communities|-row result, then drop the labeling checkpoint —
      // repeated invocations in one session pin only the result
      .localCheckpoint()
    CheckpointShim.unpersist(labels)
    out
  }

  /** The p6 grading frame, LAZY over caller-supplied pairs + labels —
    * factored out so PlanDump can pin the distributed grading plan
    * (one degree aggregate, two pair-sized label lookups, broadcast
    * 1-row edge count); the gate entry above materializes it behind a
    * localCheckpoint for cache hygiene, whose price is a
    * Scan-ExistingRDD plan. */
  private[graft] def p6GradingFrame(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val mm = pairs.agg(count(lit(1)).as("m")) // 1-row plan-side aggregate
    val deg = pairs.select(col("a_id").as("node"))
      .unionAll(pairs.select(col("b_id").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val intra = pairs
      .join(labels.select(col("node").as("a_id"), col("lbl").as("la")), Seq("a_id"))
      .join(labels.select(col("node").as("b_id"), col("lbl").as("lb")), Seq("b_id"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community_id"))
      .agg(count(lit(1)).as("intra_edges"))
    labels.join(deg, Seq("node"))
      .groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("deg_sum"))
      .join(intra, Seq("community_id"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(mm))
      .withColumn("q_num",
        lit(4L) * col("m") * col("intra_edges") - col("deg_sum") * col("deg_sum"))
      .select(col("community_id"), col("n_members"), col("intra_edges"),
        col("deg_sum"), col("q_num"))
      .orderBy(col("community_id"))
  }

  /** PlanDump entry point: the p6 grading plan over the artifact-
    * served pair list and its labeling — the same shape the gate
    * entry runs (parquet scans of the pairs table feeding the grading
    * joins). The labeling's checkpoint is NOT released here —
    * PlanDump is a one-shot JVM, and eager release would require
    * collecting before the caller can dump the plan; the gate entry
    * (p6Modularity) is the self-releasing path. */
  private[graft] def p6PlanFrame(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Pipeline.pairsArtifact(spark, dir).select(col("a_id"), col("b_id"))
    p6GradingFrame(pairs, labelPropagation(pairs, "a_id", "b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p6_modularity" -> (p6Modularity _),
    "p5_kcore" -> (p5Kcore _),
    "p1_pagerank" -> (p1Pagerank _),
    "p7_trustrank" -> (p7TrustRank _),
    "p2_triangles" -> (p2Triangles _),
    "p3_communities" -> (p3Communities _),
    "p4_bfs_depth" -> (p4BfsDepth _))

  /** The same 10 updates unrolled as chained CTEs, every arithmetic
    * step mirrored in int64 (`//` is DuckDB's integer division; sums
    * of BIGINT go HUGEINT and are cast back before the scalar ops so
    * the types — not just the values — match Spark's). `pairs` and
    * `edges` are hinted MATERIALIZED: every round references them,
    * and DuckDB's default inlining re-ran the whole LSH build once
    * per round (measured 90 s+ → 1.5 s at sf0.1). */
  /** One TrustRank round as SQL — prRound with the uniform teleport
    * constant replaced by the per-node seed-mass vector sv. */
  private def trRound(k: Int): String =
    s"""r$k AS (
       SELECT t.node,
              CAST((3 * v.sv) // 20 + (17 * t.sc) // 20 AS BIGINT) AS r
       FROM (SELECT e.d AS node, CAST(sum(p.r // g.outdeg) AS BIGINT) AS sc
             FROM edges e
             JOIN r${k - 1} p ON p.node = e.s
             JOIN deg g ON g.s = e.s
             GROUP BY e.d) t
       JOIN sv v ON v.node = t.node)"""

  private def prRound(k: Int): String =
    s"""r$k AS (
       SELECT e.d AS node,
              CAST((3 * ($Scale // (SELECT n FROM nn))) // 20
                   + (17 * CAST(sum(p.r // g.outdeg) AS BIGINT)) // 20 AS BIGINT) AS r
       FROM edges e
       JOIN r${k - 1} p ON p.node = e.s
       JOIN deg g ON g.s = e.s
       GROUP BY e.d)"""

  /** One synchronous LPA round as SQL: per node, rank neighbor labels
    * by (count DESC, label ASC) and keep the winner. */
  private def lpaRound(k: Int): String =
    s"""c$k AS (
       SELECT e.s AS node, l.lbl,
              row_number() OVER (PARTITION BY e.s
                ORDER BY count(*) DESC, l.lbl) AS rn
       FROM edges e JOIN l${k - 1} l ON l.node = e.d
       GROUP BY e.s, l.lbl),
     l$k AS (SELECT node, lbl FROM c$k WHERE rn = 1)"""

  /** One synchronous peel round as SQL: recompute degrees over edges
    * whose BOTH endpoints survive in a{k-1}, keep nodes at ≥ CoreK. */
  private def peelRound(k: Int): String =
    s"""a$k AS (
       SELECT e.s AS n FROM edges e
       JOIN a${k - 1} x ON x.n = e.s
       JOIN a${k - 1} y ON y.n = e.d
       GROUP BY e.s HAVING count(*) >= $CoreK)"""

  val oracles: Map[String, String] = Map(
    // p6: p3's unrolled LPA labels (materialized — referenced three
    // times here), then pure integer grading over the pair list
    "p6_modularity" -> {
      val rounds = (1 to LpaRounds).map(lpaRound).mkString(",\n         ")
      s"""WITH pairs AS MATERIALIZED (${Dedup.d4OracleSql}),
         edges AS MATERIALIZED (
           SELECT DISTINCT s, d FROM (
             SELECT a_id AS s, b_id AS d FROM pairs
             UNION ALL SELECT b_id, a_id FROM pairs)),
         l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM edges),
         $rounds,
         lab AS MATERIALIZED (SELECT node, lbl FROM l$LpaRounds),
         mm AS (SELECT count(*) AS m FROM pairs),
         deg AS (SELECT node, count(*) AS deg FROM (
             SELECT a_id AS node FROM pairs
             UNION ALL SELECT b_id FROM pairs) u GROUP BY 1),
         intra AS (
           SELECT la.lbl AS community_id, count(*) AS intra_edges
           FROM pairs p
           JOIN lab la ON la.node = p.a_id
           JOIN lab lb ON lb.node = p.b_id AND lb.lbl = la.lbl
           GROUP BY 1),
         comm AS (
           SELECT l.lbl AS community_id, count(*) AS n_members,
                  CAST(sum(d.deg) AS BIGINT) AS deg_sum
           FROM lab l JOIN deg d ON d.node = l.node
           GROUP BY 1)
         SELECT c.community_id, c.n_members,
                CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
                c.deg_sum,
                4 * mm.m * CAST(COALESCE(i.intra_edges, 0) AS BIGINT)
                  - c.deg_sum * c.deg_sum AS q_num
         FROM comm c
         LEFT JOIN intra i USING (community_id)
         CROSS JOIN mm
         ORDER BY c.community_id"""
    },
    "p5_kcore" -> {
      val rounds = (1 to CoreRounds).map(peelRound).mkString(",\n         ")
      s"""WITH pairs AS MATERIALIZED (${Dedup.d4OracleSql}),
         edges AS MATERIALIZED (
           SELECT DISTINCT s, d FROM (
             SELECT a_id AS s, b_id AS d FROM pairs
             UNION ALL SELECT b_id, a_id FROM pairs)),
         a0 AS (SELECT DISTINCT s AS n FROM edges),
         $rounds
         SELECT e.s AS doc_id, count(*) AS core_deg
         FROM edges e
         JOIN a$CoreRounds x ON x.n = e.s
         JOIN a$CoreRounds y ON y.n = e.d
         GROUP BY e.s ORDER BY doc_id"""
    },
    // bounded-depth recursive BFS; min(dp) per node is the true hop
    // distance when BfsRounds ≥ the component diameter
    "p4_bfs_depth" ->
      s"""WITH RECURSIVE ${Dedup.d7LabelCtes},
         canon AS (SELECT doc_id AS node, 0 AS dp FROM labels
                   WHERE doc_id = cluster_id),
         bfs AS (
           SELECT node, dp FROM canon
           UNION ALL
           SELECT e.d AS node, b.dp + 1 AS dp
           FROM bfs b JOIN edges e ON e.s = b.node
           WHERE b.dp < $BfsRounds),
         md AS (SELECT node, min(dp) AS depth FROM bfs GROUP BY 1)
         SELECT l.doc_id, l.cluster_id,
                CAST(COALESCE(md.depth, -1) AS INTEGER) AS depth
         FROM labels l LEFT JOIN md ON md.node = l.doc_id
         ORDER BY doc_id""",
    "p3_communities" -> {
      val rounds = (1 to LpaRounds).map(lpaRound).mkString(",\n         ")
      s"""WITH pairs AS MATERIALIZED (${Dedup.d4OracleSql}),
         edges AS MATERIALIZED (
           SELECT DISTINCT s, d FROM (
             SELECT a_id AS s, b_id AS d FROM pairs
             UNION ALL SELECT b_id, a_id FROM pairs)),
         l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM edges),
         $rounds
         SELECT lbl AS community_id, count(*) AS n_members,
                min(node) AS min_doc_id
         FROM l$LpaRounds GROUP BY 1 ORDER BY community_id"""
    },
    "p2_triangles" ->
      s"""WITH pairs AS MATERIALIZED (${Dedup.d4OracleSql}),
         e AS (SELECT a_id AS a, b_id AS b FROM pairs),
         nv AS (SELECT count(DISTINCT v) AS n_nodes FROM
                 (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
         ne AS (SELECT count(*) AS n_edges FROM e),
         tri AS (SELECT count(*) AS n_triangles
                 FROM e e1
                 JOIN e e2 ON e1.b = e2.a
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT n_nodes, n_edges, n_triangles FROM nv, ne, tri""",
    "p7_trustrank" -> {
      val rounds = (1 to Iterations).map(trRound).mkString(",\n         ")
      s"""WITH pairs AS MATERIALIZED (${Dedup.d4OracleSql}),
         edges AS MATERIALIZED (
           SELECT a_id AS s, b_id AS d FROM pairs
           UNION ALL SELECT b_id, a_id FROM pairs),
         deg AS (SELECT s, count(*) AS outdeg FROM edges GROUP BY 1),
         seeds AS (SELECT DISTINCT doc_id FROM documents
                   WHERE source = (SELECT min(source) FROM documents)),
         nodes AS (SELECT DISTINCT s AS node FROM edges),
         sn AS (SELECT count(*) AS n
                FROM nodes JOIN seeds ON seeds.doc_id = nodes.node),
         sv AS MATERIALIZED (
           SELECT node, CASE WHEN sd.doc_id IS NOT NULL
                        THEN CAST($Scale // greatest((SELECT n FROM sn), 1) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS sv
           FROM nodes LEFT JOIN seeds sd ON sd.doc_id = nodes.node),
         r0 AS (SELECT node, sv AS r FROM sv),
         $rounds
         SELECT node AS doc_id, r AS trust_fp FROM r$Iterations
         ORDER BY trust_fp DESC, doc_id"""
    },
    "p1_pagerank" -> {
      val rounds = (1 to Iterations).map(prRound).mkString(",\n         ")
      s"""WITH pairs AS MATERIALIZED (${Dedup.d4OracleSql}),
         edges AS MATERIALIZED (
           SELECT a_id AS s, b_id AS d FROM pairs
           UNION ALL SELECT b_id, a_id FROM pairs),
         deg AS (SELECT s, count(*) AS outdeg FROM edges GROUP BY 1),
         nn AS (SELECT count(DISTINCT s) AS n FROM edges),
         r0 AS (
           SELECT DISTINCT s AS node,
                  CAST($Scale // (SELECT n FROM nn) AS BIGINT) AS r
           FROM edges),
         $rounds
         SELECT node AS doc_id, r AS rank_fp FROM r$Iterations
         ORDER BY rank_fp DESC, doc_id"""
    })
}

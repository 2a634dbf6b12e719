package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.StableHash

/** The operators COMPOSED: one DAG that takes the raw corpus through
  * the canonical training-data preparation funnel —
  *
  *   eval split → near-dup dedup (d7 labeling) → repetition quality
  *   filter (t9 rule) → benchmark decontamination (t10 rule)
  *
  * — and reports the per-source survivor funnel with final token
  * mass. Each stage reuses the SAME rule its standalone operator
  * ships (and the oracle reuses the same SQL fragments), so this is
  * a composition proof, not a re-implementation: the numbers here
  * must reconcile with d15/t9/t10 run alone.
  *
  * Scale shape: the union of the parts, nothing new — the d7
  * labeling is candidate-pair-bounded, the quality rule is row-local,
  * the eval-gram semi-join broadcasts, and the funnel rollup is one
  * hash agg. One pass over the corpus feeds all three stage columns.
  */
object Pipeline {

  // ---------------------------------------------------------------
  // PERSISTED PIPELINE ARTIFACTS — the s13 persist-once pattern
  // applied to the e-family AND the whole pair-derived
  // d/p families. A real training-data pipeline's stages are
  // materialized, checkpointed TABLES (every production stack writes
  // its candidate-pair graph, dedup labels, per-doc decisions, and
  // packed shards to storage between stages); re-deriving the
  // shingle→minhash→band pipeline per graph query was gate
  // scaffolding, not the production shape — a 100 TB candidate graph
  // is a table, not a per-query derivation. One fixed
  // per-(version, sf-dir, corpus-fingerprint) parquet root holds the
  // stage DAG:
  //
  //   signatures/ (doc_id, mh0..mh15)             — the MinHash signature
  //                                                 table (the md5-dominated
  //                                                 corpus pass)
  //   truth_pairs/ (a_id, b_id, jaccard)          — d3's EXACT ground-truth
  //                                                 pairs (sibling root: the
  //                                                 expensive audit d20/d21
  //                                                 grade against)
  //   pairs/     (a_id, b_id, jaccard)            — d4's VERIFIED near-dup
  //                                                 candidate pairs (banded
  //                                                 from signatures, exact-
  //                                                 Jaccard confirmed)
  //   labels/    (node, cluster_id)               — d7's global CC labeling,
  //                                                 closed over pairs/
  //   docflags/  (doc_id, source, n_tok, s1..s5,
  //               rate_ppm)                       — per-doc funnel + frozen-
  //                                                 model selection decisions
  //   bins/      (shard, bin, n_docs, n_tokens)   — e3's packed context windows
  //   manifest/  (shard, n_bins, n_docs,
  //               n_tokens, order_checksum)       — e9's restart-integrity
  //                                                 artifact, written BESIDE
  //                                                 the bins as its doc promises
  //   bpe_merges/ (merge_rank, lhs, rhs,
  //               pair_count)                     — t27's learned tokenizer
  //                                                 (the model table; trained
  //                                                 once per corpus version)
  //   bpe_merges_batched/ (merge_rank, lhs, rhs,
  //               pair_count, snapshots)          — t29's batched-learner canon
  //                                                 view + its round-trip count
  //   bpe_encoded_words/ (word, toks)             — the distinct-word table
  //                                                 folded through bpe_merges
  //                                                 (vocabulary-sized; t28/e8's
  //                                                 encode joins read it)
  //
  // Each table is built on demand from its PARENT table's parquet
  // (never recomputed from scratch), gated on Spark's _SUCCESS marker
  // (a crashed write has no marker and rebuilds — overwrite mode makes
  // the rebuild idempotent). Gate entries read the artifacts: d4 IS
  // the pairs table; d7/d15/d19's labeling, d11's fold halves, d17's
  // provenance rollup, d20's minhash row, and every p1–p7 graph
  // operator read pairs/labels; d21 bands the signatures three ways;
  // e1/e2 aggregate docflags, e3/e7 read bins, e9 reads the manifest,
  // e6 and the e4/e5 ingest paths read labels. [[EArtifactVersion]]
  // is part of the root path — bump it whenever any table's semantics
  // change so a stale tree from an older build can never serve (data
  // changes are covered separately: ArtifactRoots folds a corpus
  // fingerprint into the tag). Round10/11Spec pin artifact-served ≡
  // freshly-derived for every consumer plus the crashed-write rebuild.
  //
  // 100 TB posture: the artifacts live where the corpus lives (here
  // java.io.tmpdir stands in for the warehouse); stage cost is paid
  // once per corpus version instead of once per downstream query, and
  // the incremental path for the pairs/labels tables is d11's fold.
  // ---------------------------------------------------------------

  val EArtifactVersion = 3 // v3: signatures/pairs tables root the DAG

  private[graft] def eArtifactRoot(dir: String): String =
    graft.ArtifactRoots.tagged(s"graft_e_artifacts_v$EArtifactVersion", dir)

  /** Build `table` under the e-artifact root unless it is complete,
    * then serve it from parquet ([[graft.store.table]]). */
  private[graft] def ensureArtifact(spark: SparkSession, dir: String, table: String,
                             partitionCols: Seq[String] = Nil)
                            (build: => DataFrame): DataFrame =
    graft.store.table(spark, eArtifactRoot(dir), table, partitionCols)(build)

  /** The MinHash signature table — the md5-dominated corpus pass at
    * the root of the DAG, banded by the pairs build below and
    * re-banded three ways by d21's tuning sweep. */
  private[graft] def signaturesArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "signatures")(Dedup.signaturesDerived(spark, dir))

  /** d4's verified near-dup candidate pairs — the graph every
    * pair-derived operator (d7/d11/d15/d17/d19/d20, p1–p7) consumes.
    * Built from the signatures artifact (banding + candidate join +
    * exact-Jaccard verify against a fresh shingle pass). */
  private[graft] def pairsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "pairs")(
      Dedup.d4PairsFromSignatures(spark, dir, signaturesArtifact(spark, dir)))

  /** d3's exact 3-gram-Jaccard pair set — the GROUND-TRUTH table the
    * d20/d21 quality harnesses grade against (and d3's own gate row).
    * The exact pass is the expensive quadratic-ish audit: at 100 TB
    * it runs rarely and is materialized, never re-derived per
    * grading — the same posture as the pairs table, one level up in
    * exactness. A sibling root-level table (parent = corpus). */
  private[graft] def truthPairsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "truth_pairs")(Dedup.d3JaccardPairs(spark, dir))

  /** d20's grading input — every cheap family's predicted pair set in
    * one table (the family gate rows keep benchmarking their own
    * derivations, this is the once-per-corpus-version grading copy). */
  private[graft] def familyPairsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "family_pairs")(
      Dedup.d20FamilyPairsDerived(spark, dir))

  /** m7's verified perceptual near-dup pairs PERSISTED — the media tier joins the pair-artifact discipline it
    * was the last family outside of: built once per corpus version by
    * the m7 chain (planted twins included — the artifact IS the gate
    * row's world), served by the m7 gate entry and available to any
    * e-family media consumer. Kept a SIBLING of `family_pairs`, not a
    * member: d20's grading compares text families against the d3
    * text-Jaccard truth, and media_id pairs have no row in that truth
    * — folding them in would grade apples against orange truth. */
  private[graft] def mediaPairsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "media_pairs")(
      Multimodal.m7PerceptualLsh(spark, dir))

  /** t21's DSIR model PERSISTED — the scored pool (doc_id, source,
    * logw) with its 1-row selection cut beside it: the standalone t21
    * row and the docflags builder both read ONE tokenize+bucket pass
    * instead of re-deriving it per query (the d-family's serve law at
    * the model layer), and the frozen-model posture every offboard/
    * retention verb documents ("models forget on the retrain cadence,
    * rows leave now") becomes literal — the frozen model IS this
    * table. e4/e5's delta scorings keep the parameterized derivation:
    * their train/score predicate splits are not the full-pool model. */
  private[graft] def dsirPerDocArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "dsir_perdoc")(TextAnalysis.dsirPerDoc(spark, dir))

  private[graft] def dsirCutArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "dsir_cut")(
      TextAnalysis.dsirCut(dsirPerDocArtifact(spark, dir)))

  /** The FROZEN model generation — e4's world persisted: the bucket
    * model trains on the BASE slice only, scores the whole pool, and
    * the cut is the quantile of the BASE-scored docs (a quantile over
    * the full pool would let the arriving delta move the selection
    * bar — the drift the frozen posture exists to prevent). The
    * refreshed generation is [[dsirPerDocArtifact]] (full retrain);
    * t30 serves the transition between the two. */
  private[graft] def frozenDsirPerDocArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "model_frozen/dsir_perdoc")(
      TextAnalysis.dsirPerDocOn(spark, dir, !e4DeltaPred, lit(true)))

  private[graft] def frozenDsirCutArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "model_frozen/dsir_cut")(
      TextAnalysis.dsirCut(
        frozenDsirPerDocArtifact(spark, dir).filter(!e4DeltaPredOn("doc_id"))))

  /** t27's BPE merge table PERSISTED — the tokenizer is a MODEL: it
    * trains once per corpus version (8.6s/round of gate time went to
    * re-learning it in t27/t28/t29/e8 before it persisted) and every consumer
    * serves the 8-row parquet table. The t21 DSIR precedent at the
    * tokenizer layer; Round14Spec pins serve ≡ learn. */
  private[graft] def bpeMergesArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "bpe_merges")(TextAnalysis.bpeMergesDerived(spark, dir))

  /** t29's batched-learner canonical merge view, with the training
    * run's snapshot count alongside (the served row re-asserts
    * snapshots < merges from it). */
  private[graft] def bpeBatchedMergesArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "bpe_merges_batched")(
      TextAnalysis.bpeBatchedDerived(spark, dir))

  /** The distinct-word table folded through the persisted merges —
    * built FROM the bpe_merges artifact (parent-table discipline; the
    * merge list is ≤BpeRounds rows of bounded driver state), so the
    * encode side of the tokenizer (t28's census, e8's budget) joins a
    * vocabulary-sized parquet table instead of re-folding per query. */
  private[graft] def bpeEncodedWordsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "bpe_encoded_words") {
      val merges = bpeMergesArtifact(spark, dir)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.encodedWordsFrom(spark, dir, merges)
    }

  /** The FROZEN tokenizer generation's merge table — learned on the
    * BASE slice only (the tokenizer version that existed before the
    * delta arrived; the model_frozen/dsir_* posture at the tokenizer
    * layer). t31 measures its fertility drift. */
  private[graft] def frozenBpeMergesArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "model_frozen/bpe_merges")(
      TextAnalysis.frozenBpeMergesDerived(spark, dir))

  /** The full vocabulary encoded under the FROZEN merges — the frozen
    * generation's memoized model application (the serve-time encode a
    * production store does when new words meet an old tokenizer). */
  private[graft] def frozenBpeEncodedWordsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "model_frozen/bpe_encoded_words") {
      val merges = frozenBpeMergesArtifact(spark, dir)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.encodedWordsFrom(spark, dir, merges)
    }

  /** d7's global CC labeling FROM SCRATCH (no artifact tree touched) —
    * the spec-side twin Round10/11Spec compare the served tables
    * against; the artifact build itself goes through [[pairsArtifact]]
    * so each DAG stage reads its parent table, never re-derives it. */
  private[graft] def labelsDerived(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(Dedup.d4MinhashLsh(spark, dir), "a_id", "b_id")

  private[graft] def labelsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "labels")(
      Dedup.connectedComponents(pairsArtifact(spark, dir), "a_id", "b_id"))

  /** YESTERDAY'S labeling — CC over the BASE-only pair graph (both
    * endpoints outside the e4 delta), persisted: the fold
    * starting state every arrival serve (e13 batch, st13/st14
    * streaming) previously re-converged per invocation. NOT the full
    * labels artifact filtered to base nodes — a delta doc bridging
    * two base components would have already merged their labels
    * there, which is exactly the state the refresh must REACH, not
    * start from (e13's law). */
  private[graft] def baseLabelsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "labels_base")(
      Dedup.connectedComponents(
        pairsArtifact(spark, dir)
          .filter(!e4DeltaPredOn("a_id") && !e4DeltaPredOn("b_id"))
          .select(col("a_id"), col("b_id")), "a_id", "b_id"))

  /** Non-canonical members of a labeling = the docs dedup drops (one
    * definition with Dedup.nonCanonicalDocs' semantics, over an
    * already-materialized labels table). */
  private def dropsOf(labels: DataFrame): DataFrame =
    labels.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"))

  private def docFlagsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "docflags")(
      docFlagsDerived(spark, dir, labelsArtifact(spark, dir)))

  /** Spec seam: the served docflags artifact (Round17Spec's e24
    * split-consistency grade recomputes the release split from it). */
  private[graft] def docFlagsForSpec(spark: SparkSession, dir: String): DataFrame =
    docFlagsArtifact(spark, dir)

  /** PARTITIONED by shard — the bins table IS the shard directory a
    * training worker opens, so the layout lets a per-shard reader
    * prune to its own partition (s13's inverted-list lesson). The
    * partition column reads back type-inferred; pin it to long. */
  private def binsArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "bins", Seq("shard"))(
      binsFrom(docFlagsArtifact(spark, dir)))
      .select(col("shard").cast("long").as("shard"),
        col("bin"), col("n_docs"), col("n_tokens"))

  private def manifestArtifact(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "manifest")(
      manifestOf(binsArtifact(spark, dir)))

  /** E1 — the composed corpus-preparation funnel. Stages are
    * CUMULATIVE (a doc must survive every earlier stage to be
    * counted at a later one), mirroring a real pipeline's order:
    * dedup first (cheapest global signal), then row-local quality,
    * then decontamination. */
  /** The shared per-doc funnel frame: every non-eval doc with its
    * token count and CUMULATIVE stage-survival flags s1 (dedup), s2
    * (quality), s3 (decontam) — the first three columns of the
    * docflags artifact. `labels` is the materialized CC labeling. */
  private def funnelFrame(spark: SparkSession, dir: String,
                          labels: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(trim(col("text")), " ").as("_w"))
    val isEval = TextAnalysis.isEvalDoc

    // stage 1 — global near-dup labeling over the WHOLE corpus (the
    // labeling must see eval docs too: a train doc that duplicates an
    // eval doc is exactly what the canonical-copy rule must catch).
    // Same drop set as d15's, served from the labels artifact.
    val drops = dropsOf(labels).withColumn("dup", lit(1L))

    // stage 2 — t9's duplicate-3-gram fraction, row-local
    val total = greatest(size(Dedup.shinglesOf(col("_w"))), lit(1))
    val dupFrac = (total - size(array_distinct(Dedup.shinglesOf(col("_w")))))
      .cast("double") / total.cast("double")

    // stage 3 — t10's shared-8-gram contamination, via t10's own
    // helper (one definition of the split and the gram rule)
    val contaminated = TextAnalysis.contaminatedOf(docs).withColumn("contam", lit(1L))

    docs.filter(!isEval)
      .join(drops, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("n_tok", size(col("_w")).cast("long"))
      .withColumn("s1", col("dup").isNull)
      .withColumn("s2", col("s1") && dupFrac <= TextAnalysis.RepetitionThreshold)
      .withColumn("s3", col("s2") && col("contam").isNull)
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("s1"), col("s2"), col("s3"))
  }

  def e1CorpusFunnel(spark: SparkSession, dir: String): DataFrame =
    docFlagsArtifact(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pool"),
           sum(when(col("s1"), 1L).otherwise(0L)).as("n_after_dedup"),
           sum(when(col("s2"), 1L).otherwise(0L)).as("n_after_quality"),
           sum(when(col("s3"), 1L).otherwise(0L)).as("n_clean"),
           sum(when(col("s3"), col("n_tok")).otherwise(0L))
             .as("clean_tokens"))
      .orderBy(col("source"))

  /** The full per-doc decision table behind the docflags artifact:
    * the funnel flags (s1..s3) extended with the two remaining
    * pipeline stages — s4 (DSIR selection: t21's standalone model and
    * cut, target domain kept by definition) and s5 (temperature
    * mixing: t16's full-corpus rate table and hash lottery).
    * Reusing the STANDALONE operators' models is the point: this
    * composes the pipeline, it does not re-fit each stage on its
    * shrunken input, so every flag reconciles 1:1 with the standalone
    * op (spec). rate_ppm rides along (left join) so e2 can reproduce
    * the rated-source semantics without re-reading the rate table:
    * null marks a source with no mix-rate row, whose docs never
    * reach the final mix. */
  private[graft] def docFlagsDerived(spark: SparkSession, dir: String,
                                     labels: DataFrame): DataFrame = {
    val perDoc = dsirPerDocArtifact(spark, dir).select(col("doc_id"), col("logw"))
    val cut = dsirCutArtifact(spark, dir)
    val rates = TextAnalysis.mixRates(spark, dir)
    funnelFrame(spark, dir, labels)
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(cut))
      // target-domain docs are in-domain by definition; pool docs
      // survive iff their importance weight clears t21's cut (the
      // standalone op's compare)
      .withColumn("s4", col("s3") &&
        (col("source") === TextAnalysis.DsirTarget || col("logw") > col("cut")))
      .join(broadcast(rates), Seq("source"), "left")
      .withColumn("s5", col("s4") && TextAnalysis.mixKeepHash < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("s1"), col("s2"), col("s3"), col("s4"), col("s5"), col("rate_ppm"))
  }

  /** Distance from every pool doc's DSIR weight to t21's cut, the one
    * float compare behind [[docFlagsDerived]]'s s4 (the persisted
    * dsir_perdoc/dsir_cut tables hold exactly these values) — Round8Spec
    * asserts it ≫ cross-engine ln/sum drift, as [[e4CutMargin]] does
    * for e4's frozen cut. */
  private[graft] def docFlagsCutMargin(spark: SparkSession, dir: String): Double = {
    val perDoc = TextAnalysis.dsirPerDoc(spark, dir)
    perDoc.crossJoin(broadcast(TextAnalysis.dsirCut(perDoc)))
      .agg(min(abs(col("logw") - col("cut")))).collect()(0).getDouble(0)
  }

  /** Per-WAVE docflags under the persisted model tables — st20's
    * micro-batch kernel: the [[docFlagsDerived]] chain restricted to
    * an arrived wave of document rows. Every stage is per-doc given
    * the persisted global tables (labels artifact for s1 canonicality,
    * dsir_perdoc/dsir_cut for s4, the rate table for s5; s2 is
    * row-local and s3 joins the stationary eval-gram set — eval docs
    * never arrive as training candidates by definition), so the union
    * over waves equals the batch delta slice VERBATIM — the
    * stream-fold ≡ batch-refresh law st20's gate pins (expressions
    * copied stage-for-stage from docFlagsDerived/funnelFrame;
    * Round15Spec pins frame equality so they cannot drift).
    *
    * Scale: the wave side is micro-batch-sized; drops/perDoc joins
    * broadcast the wave against the persisted tables; the eval-gram
    * set is tiny and broadcast (t10's argument); model tables are the
    * same bounded broadcasts as e2. Nothing corpus-sized recomputes
    * per wave. */
  private[graft] def docFlagsForWave(spark: SparkSession, dir: String,
                                     wave: DataFrame): DataFrame = {
    val w = wave.filter(!TextAnalysis.isEvalDoc)
      .select(col("doc_id"), col("source"), split(trim(col("text")), " ").as("_w"))
    val drops = dropsOf(labelsArtifact(spark, dir)).withColumn("dup", lit(1L))
    val total = greatest(size(Dedup.shinglesOf(col("_w"))), lit(1))
    val dupFrac = (total - size(array_distinct(Dedup.shinglesOf(col("_w")))))
      .cast("double") / total.cast("double")
    val evalDocs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), " ").as("_w"))
    val contaminated = w.select(col("doc_id"), TextAnalysis.decontamGrams)
      .join(broadcast(TextAnalysis.evalGramsOf(evalDocs)), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("contam", lit(1L))
    val perDoc = dsirPerDocArtifact(spark, dir).select(col("doc_id"), col("logw"))
    val cut = dsirCutArtifact(spark, dir)
    val rates = TextAnalysis.mixRates(spark, dir)
    w.join(drops, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("n_tok", size(col("_w")).cast("long"))
      .withColumn("s1", col("dup").isNull)
      .withColumn("s2", col("s1") && dupFrac <= TextAnalysis.RepetitionThreshold)
      .withColumn("s3", col("s2") && col("contam").isNull)
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(cut))
      .withColumn("s4", col("s3") &&
        (col("source") === TextAnalysis.DsirTarget || col("logw") > col("cut")))
      .join(broadcast(rates), Seq("source"), "left")
      .withColumn("s5", col("s4") && TextAnalysis.mixKeepHash < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("s1"), col("s2"), col("s3"), col("s4"), col("s5"), col("rate_ppm"))
  }

  /** E2 — the pipeline COMPLETED: e1's clean set → t21 DSIR
    * selection → t16 temperature mixing, per-source funnel with the
    * final token mass a training run actually consumes. Served from
    * the docflags artifact: one narrow scan + one hash agg; the
    * rate_ppm IS NOT NULL filter reproduces the rated-source join
    * semantics of the derivation. */
  def e2SelectionMix(spark: SparkSession, dir: String): DataFrame =
    docFlagsArtifact(spark, dir)
      .filter(col("s3") && col("rate_ppm").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_clean"),
           sum(when(col("s4"), 1L).otherwise(0L)).as("n_selected"),
           sum(when(col("s5"), 1L).otherwise(0L)).as("n_final"),
           sum(when(col("s5"), col("n_tok")).otherwise(0L)).as("final_tokens"))
      .orderBy(col("source"))

  /** t13's shard-local stream packing over the mixed (s5) set — the
    * bins-artifact builder: same shard hash, same capacity, same
    * straddle rule as the standalone t13; one window per shard at any
    * corpus size, no global sort. */
  /** Token-bin packing of the s5 survivors. `extraPart` prepends
    * partition columns to the shard axis (e24 packs per split in ONE
    * scan — each (extraPart, shard) stream offsets independently). */
  private[graft] def binsFrom(flags: DataFrame,
                              extraPart: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = extraPart.map(col) :+ col("shard")
    val w = Window.partitionBy(part: _*).orderBy(col("doc_id"))
    flags.filter(col("s5"))
      .select(extraPart.map(col) ++ Seq(col("doc_id"),
        pmod(col("doc_id"), lit(TextAnalysis.PackShards)).as("shard"),
        col("n_tok")): _*)
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", floor(col("start_off") / TextAnalysis.PackCapacity))
      .groupBy(part :+ col("bin"): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** E3 — the LAST pipeline step: the mixed corpus laid into
    * fixed-capacity context windows, so the funnel ends where a
    * training job begins — at batches. Served from the bins
    * artifact (the packed-shard table a training job actually
    * reads). */
  def e3FinalPacking(spark: SparkSession, dir: String): DataFrame =
    binsArtifact(spark, dir)
      .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"))
      .orderBy(col("shard"), col("bin"))

  /** The ~10% "newly arrived" slice for the e4 gate entry: every 10th
    * row-BLOCK within each source ((doc_id div 20) cycles the
    * per-source row index because source = doc_id % 20 in this
    * corpus), minus eval-rule docs — orthogonal to source, so every
    * source keeps ~90% of its mass in the base and the frozen models
    * stay meaningful. (A doc_id % 10 slice would swallow src7/src17
    * WHOLE — a frozen-rate table with no mass for a source keeps
    * nothing from it, the documented new-source posture.) Eval-rule
    * docs never arrive as training candidates: the eval set is frozen
    * at base by definition. */
  val E4DeltaDigit = 7
  /** The delta predicate over an arbitrary id column name — pure
    * doc_id arithmetic, so it applies directly to artifact tables
    * (signatures' doc_id, pairs' a_id/b_id) as well as doc rows. */
  private[graft] def e4DeltaPredOn(idCol: String): Column =
    expr(s"($idCol div 20) % 10 = $E4DeltaDigit") &&
      !TextAnalysis.isEvalDocOn(idCol)
  private[graft] def e4DeltaPred: Column = e4DeltaPredOn("doc_id")

  /** Per-delta-doc stage flags under FROZEN base-trained models —
    * factored so Round8Spec can pin (a) e4(all, all) ≡ e1⋈e2 and
    * (b) report-slice independence (scoring a delta doc gives the
    * same answer whether or not the rest of the corpus is scored
    * alongside it). */
  private[graft] def e4FlagsOf(spark: SparkSession, dir: String,
                               basePred: Column, deltaPred: Column): DataFrame =
    e4FlagsScored(spark, dir, basePred, deltaPred)._1

  /** Flags plus the cached `scored` handle, so the gate-entry rollups
    * can release the cache themselves once their bounded report is
    * collected (d18's self-contained discipline) instead of relying
    * on the harness-level clearCache between queries.
    *
    * `model` optionally REPLACES the inline stage-4/5 derivation with
    * explicit (per-doc scores, cut) frames — the seam that lets a
    * delta pass consume the PROMOTED post-e19 frozen tables, and
    * Round14Spec pin the composition law e19 ∘ e4: a delta ingest
    * served from the promoted model ≡ e4 computed on a from-scratch
    * retrained base. */
  private def e4FlagsScored(spark: SparkSession, dir: String,
                            basePred: Column, deltaPred: Column,
                            model: Option[(DataFrame, DataFrame)] = None)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(trim(col("text")), " ").as("_w"))
    val frozenEval = TextAnalysis.isEvalDoc && basePred
    // stage 1 — near-dup canonical labeling stays GLOBAL (base+delta:
    // a new doc duplicating a kept base doc must drop). Served from
    // the labels artifact; the incremental path for this stage is
    // d11's fold ≡ rebuild CC — e4 uses the converged labels, which
    // d11 proves the incremental fold reaches.
    val drops = dropsOf(labelsArtifact(spark, dir)).withColumn("dup", lit(1L))
    // stage 2 — t9's dup-fraction, row-local on the delta rows
    val total = greatest(size(Dedup.shinglesOf(col("_w"))), lit(1))
    val dupFrac = (total - size(array_distinct(Dedup.shinglesOf(col("_w")))))
      .cast("double") / total.cast("double")
    // stage 3 — decontam against the FROZEN eval-gram set
    val contaminated = TextAnalysis
      .contaminatedOfOn(docs, frozenEval, deltaPred && !frozenEval)
      .withColumn("contam", lit(1L))
    // stages 4/5 — frozen DSIR model + cut and frozen mix rates,
    // trained on base, applied to delta rows only. Base and delta
    // docs score in ONE pass (scoring is per-doc independent — the
    // property the report-slice-independence spec pins), so the
    // tokenize+bucket scan isn't paid twice for cut vs flags.
    val scored = model.map(_._1).getOrElse(TextAnalysis
      .dsirPerDocOn(spark, dir, basePred, basePred || deltaPred)).cache()
    val cut = model.map(_._2)
      .getOrElse(TextAnalysis.dsirCut(scored.filter(basePred)))
    val perDocDelta = scored.filter(deltaPred)
      .select(col("doc_id"), col("logw"))
    val rates = TextAnalysis.mixRatesOn(spark, dir, basePred)
    val flags = docs.filter(deltaPred && !frozenEval)
      .join(drops, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("n_tok", size(col("_w")).cast("long"))
      .withColumn("s1", col("dup").isNull)
      .withColumn("s2", col("s1") && dupFrac <= TextAnalysis.RepetitionThreshold)
      .withColumn("s3", col("s2") && col("contam").isNull)
      .join(perDocDelta, Seq("doc_id"), "left")
      .crossJoin(broadcast(cut))
      .withColumn("s4", col("s3") &&
        (col("source") === TextAnalysis.DsirTarget || col("logw") > col("cut")))
      .join(broadcast(rates), Seq("source"), "left")
      // a source with NO base token mass has no frozen rate. Its docs
      // that survive every frozen vetting stage (s4) are QUARANTINED,
      // not silently dropped: they are counted per source, excluded
      // from the final mix (s5), and the documented admit path is
      // include-on-retrain — the next model retrain's base covers the
      // new feed, it gets a rate row, and the same docs flow the
      // batch path (Round8/9Spec pin e4(base=all) ≡ e1⋈e2 and
      // quarantine emptying under a full-base rerun).
      .withColumn("quar", col("s4") && col("rate_ppm").isNull)
      .withColumn("s5", col("s4") &&
        TextAnalysis.mixKeepHash < coalesce(col("rate_ppm"), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("s1"), col("s2"), col("s3"), col("s4"), col("quar"), col("s5"))
    (flags, scored)
  }

  /** E4 — INCREMENTAL ingest: the production "daily delta" pass the
    * batch funnel (e1–e3) doesn't cover. New documents are processed
    * against FROZEN models — the base-trained DSIR bucket model and
    * selection cut, the base token-mass mixing rates, the frozen
    * eval-gram set — touching only the delta rows (plus the global
    * dedup labels, whose incremental path is d11): the e-family twin
    * of s13's frozen-model append. Per-source funnel of the arrived
    * slice through all five stages.
    *
    * Scale: model tables are the SAME bounded broadcasts as e2
    * (B buckets, 1-row cut, |sources| rates, tiny eval-gram set);
    * the only corpus-sized work is the delta scan itself — daily
    * ingest cost is proportional to the delta, not the corpus. */
  /** Distance from every scored doc (base AND delta) to the frozen
    * base-trained cut — Round8Spec asserts it ≫ cross-engine ln/sum
    * drift, the t12/t21 threshold discipline applied to e4's one
    * float compare. Measured: 1.1e-1 at sf0.001, 7.4e-3 at sf0.01,
    * 1.4e-3 at sf0.1 — all ≫ the ~1e-12 drift scale. */
  private[graft] def e4CutMargin(spark: SparkSession, dir: String): Double = {
    val cut = TextAnalysis.dsirCut(
      TextAnalysis.dsirPerDocOn(spark, dir, !e4DeltaPred, !e4DeltaPred))
    TextAnalysis.dsirPerDocOn(spark, dir, !e4DeltaPred, lit(true))
      .crossJoin(broadcast(cut))
      .agg(min(abs(col("logw") - col("cut")))).collect()(0).getDouble(0)
  }

  /** Shared ingest rollup for e4/e5: per-source funnel of the arrived
    * slice through all five frozen-model stages plus the quarantine
    * census. The report is ≤|sources| rows — BOUNDED driver state —
    * so it is collected, the scored cache this operator pinned is
    * released, and a local relation is returned (d18's self-contained
    * discipline: no reliance on harness-level clearCache). */
  private def ingestAgg(spark: SparkSession, dir: String,
                        basePred: Column, deltaPred: Column): (DataFrame, DataFrame) = {
    val (flags, scored) = e4FlagsScored(spark, dir, basePred, deltaPred)
    val agg = flags
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_arrived"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n_after_dedup"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n_after_quality"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("quar"), 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("s5"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("s5"), col("n_tok")).otherwise(0L)).as("final_tokens"))
      .orderBy(col("source"))
    (agg, scored)
  }

  private def ingestReport(spark: SparkSession, dir: String,
                           basePred: Column, deltaPred: Column): DataFrame = {
    val (agg, scored) = ingestAgg(spark, dir, basePred, deltaPred)
    val rows = agg.collect()
    scored.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  /** The DISTRIBUTED plan behind e4's gate entry, pre-collect: the
    * gate returns a bounded local relation (so the operator can
    * release its own cache — see ingestReport), which hides the real
    * plan behind a LocalTableScan; PlanDump dumps this frame so
    * PLANS.md keeps showing the broadcast-model delta-scan shape. */
  private[graft] def e4DeltaIngestFrame(spark: SparkSession, dir: String): DataFrame =
    ingestAgg(spark, dir, !e4DeltaPred, e4DeltaPred)._1

  def e4DeltaIngest(spark: SparkSession, dir: String): DataFrame =
    ingestReport(spark, dir, !e4DeltaPred, e4DeltaPred)

  /** Round14Spec seam — the e19 ∘ e4 composition: a delta pass whose
    * stage-4/5 model inputs are explicit frames (the PROMOTED
    * model_frozen tables of a cut-over clone) under a full-pool base
    * (what the promoted model was trained on). Returns (flags, scored)
    * so the spec can release the scored cache after comparing (the
    * d18 self-release discipline the tuple exists for). */
  private[graft] def e4FlagsFromModelForSpec(spark: SparkSession, dir: String,
                                             perdoc: DataFrame, cut: DataFrame)
      : (DataFrame, DataFrame) =
    e4FlagsScored(spark, dir, lit(true), e4DeltaPred, Some((perdoc, cut)))

  /** The reference side of the composition pin: e4's flags with the
    * model DERIVED from a from-scratch full-pool retrain. */
  private[graft] def e4FlagsRetrainedForSpec(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    e4FlagsScored(spark, dir, lit(true), e4DeltaPred)

  /** The NEW-feed scenario e4's block-slice deliberately avoids: one
    * whole source arrives with ZERO base history. Its docs are vetted
    * by the frozen models (dedup against the full corpus, frozen
    * eval-gram decontam, frozen DSIR cut) but have no frozen mix rate,
    * so every selected doc lands in quarantine (n_quarantined =
    * n_selected, n_final = 0) instead of being silently dropped —
    * the bootstrap posture a daily-ingest user sees the first time a
    * feed onboards. Admit path: include-on-retrain (Round9Spec pins
    * quarantine emptying once the base covers the new source). The
    * new source's eval-rule docs are in NEITHER base nor delta: an
    * eval set frozen before the feed existed cannot contain them, and
    * they are held out as eval candidates, not training candidates. */
  val E5NewSource = "src7"
  private[graft] def e5BasePred: Column = col("source") =!= E5NewSource
  private[graft] def e5DeltaPred: Column =
    col("source") === E5NewSource && !TextAnalysis.isEvalDoc
  def e5NewSourceIngest(spark: SparkSession, dir: String): DataFrame =
    ingestReport(spark, dir, e5BasePred, e5DeltaPred)

  // 80/10/10 in ppm of the split-key hash space
  val SplitSeed = 9001
  val SplitTrainPpm = 800000L
  val SplitValidPpm = 900000L
  val SplitPpm = 1000000L

  /** Doc-level split assignment behind e6: every document joins the
    * d7 near-dup labeling and is keyed by its CLUSTER representative
    * (its own id when unclustered), so the hash lottery places whole
    * near-dup clusters — never individual members — into a split.
    * Factored out so Round9Spec can pin the cluster-atomicity and
    * exhaustiveness laws at the doc grain. */
  private[graft] def e6DocSplits(spark: SparkSession, dir: String): DataFrame =
    e6DocSplitsFrom(spark, dir, labelsArtifact(spark, dir))

  private[graft] def e6DocSplitsFrom(spark: SparkSession, dir: String,
                                     ccLabels: DataFrame): DataFrame = {
    val labels = ccLabels.select(col("node").as("doc_id"), col("cluster_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("ppm",
        pmod(StableHash.hash64(SplitSeed, col("split_key").cast("string")), lit(SplitPpm)))
      .withColumn("split",
        when(col("ppm") < SplitTrainPpm, "train")
          .when(col("ppm") < SplitValidPpm, "valid")
          .otherwise("test"))
  }

  /** E6 — leakage-safe train/valid/test split: the assignment unit is
    * the NEAR-DUP CLUSTER, not the document. A per-doc hash split
    * leaks — two near-identical documents land on opposite sides of
    * the train/test wall and the eval measures memorization — so e6
    * hashes the d7 cluster representative instead: every member of a
    * cluster rides the same lottery ticket, and singletons (the vast
    * majority) hash their own id. The split is exhaustive, disjoint,
    * and STABLE under corpus growth (a doc's ticket never depends on
    * corpus size — only cluster merges can move it, which is exactly
    * when it must move). Census per (split, source).
    *
    * Scale shape: the labeling is d4/d7's candidate-pair-bounded CC
    * (its incremental path is d11); the join is doc⟕labels on the
    * doc key; the lottery is row-local; the rollup is one hash agg.
    * Nothing new shuffles beyond d7 itself. */
  def e6LeakageSplit(spark: SparkSession, dir: String): DataFrame =
    e6DocSplits(spark, dir)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("split"), col("source"))

  val E7Epochs = 2
  /** 2^58: the 60-bit StableHash space splits into 4 equal quartile
    * ranges by one integer division — a row-local, engine-exact
    * position statistic over the shuffle key. */
  val E7QuartileDiv: Long = 1L << 58

  /** The per-epoch shuffle key for a packed window: a fresh
    * deterministic 60-bit draw per (epoch, shard, bin). The TRAINING
    * ORDER of epoch e is "bins ascending by this hash" — at scale
    * materialized as repartitionByRange(h) + sortWithinPartitions(h)
    * (range partition + partition-local sort, the scalable total
    * order), never a single-partition global window. */
  private[graft] def e7OrderHash(epoch: Column): Column =
    StableHash.hash64(concat(lit("e7:"), epoch.cast("string"), lit(":"),
      col("shard").cast("string"), lit(":"), col("bin").cast("string")))

  /** E7 — deterministic epoch shuffle of the training batches: the
    * step after e3's packing that a real run needs BEFORE the first
    * optimizer step. Reading packed windows in their natural (shard,
    * bin) order feeds the model each shard's documents contiguously —
    * a curriculum accident that measurably hurts convergence — so
    * every epoch re-orders the windows by a seeded hash: deterministic
    * (re-runs and restarts see the identical order — a requirement
    * for reproducible training and mid-epoch resume), epoch-varying
    * (each epoch is a DIFFERENT permutation — hash seeded by epoch),
    * and coordination-free (any worker computes any window's position
    * without a shuffle service or a driver-held permutation table).
    *
    * The gate row is the order census: per (epoch, hash-range
    * quartile) window/doc/token mass — uniform hashing means each
    * quartile of the training order carries ~¼ of every source's
    * mass, which is exactly the interleaving claim. Round9Spec pins
    * the real thing: the hash order is a true permutation of e3's
    * bins, the two epochs order differently, and the
    * range-partition + local-sort materialization equals the logical
    * orderBy.
    *
    * Scale shape: the quartile is ONE integer division on the
    * row's own hash — row-local, no rank, no window, no sort in the
    * report; the production order pays exactly one range shuffle of
    * the BIN directory (windows × a few counters, ≪ corpus — the
    * payload rows follow their bin). */
  def e7TrainingOrder(spark: SparkSession, dir: String): DataFrame =
    binsArtifact(spark, dir)
      .withColumn("epoch", explode(array((1 to E7Epochs).map(lit(_)): _*)))
      .withColumn("h", e7OrderHash(col("epoch")))
      .withColumn("quartile", expr(s"h div $E7QuartileDiv"))
      .groupBy(col("epoch"), col("quartile"))
      .agg(count(lit(1)).as("n_bins"),
           sum(col("n_docs")).as("bin_docs"),
           sum(col("n_tokens")).as("bin_tokens"))
      .orderBy(col("epoch"), col("quartile"))

  /** Content-hash modulus for e9's order checksum: keeping each term
    * pos·c under 2^40 (c < 2^20, pos < 2^20 bins/shard) bounds the
    * int64 sum to 2^60 for up to a million bins per shard — the
    * documented knob; past that, reduce the sum modulo 2^61−1 per
    * partial (Mersenne fold) instead of widening. */
  val E9HashMod = 1L << 20

  /** E9 — the RESTART-INTEGRITY MANIFEST of the training order: per
    * packing shard, the bin/doc/token census of epoch 1's order PLUS
    * an order-sensitive checksum Σ pos·hash(shard,bin,n_docs,n_tokens)
    * — the reproducibility artifact a real run writes next to its
    * shards so a resume (or a re-run on different hardware) can prove
    * it is reading EXACTLY the data, in EXACTLY the order, of the
    * original run. A count/sum census cannot see two bins trading
    * content while totals balance; the position-weighted content hash
    * can (Round9Spec pins exactly that corruption, plus drop
    * detection and recompute-determinism).
    *
    * Scale: one row per (shard) — the windows are shard-partitioned
    * (e3's own partitioning), the manifest is |shards| rows, and the
    * checksum is an int64 sum of bounded terms ([[E9HashMod]]).
    * Served from the PERSISTED manifest artifact — the file a resume
    * actually opens, written beside the bins it describes. */
  def e9OrderManifest(spark: SparkSession, dir: String): DataFrame =
    manifestArtifact(spark, dir)
      .select(col("shard"), col("n_bins"), col("n_docs"), col("n_tokens"),
        col("order_checksum"))
      .orderBy(col("shard"))

  /** Factored over an arbitrary bins frame so the spec can doctor the
    * input and watch the checksum catch it. `mersenne` is the
    * IMPLEMENTED million-bins-per-shard escape the [[E9HashMod]] doc
    * names: the position-weighted fold reduces per partial modulo
    * 2^61−1 instead of relying on the 2^60 int64 headroom — equal to
    * the exact checksum verbatim while that headroom holds (pinned in
    * Round13Spec with the property tests). Gate default stays exact
    * (the oracle computes the plain sum). */
  private[graft] def manifestOf(bins: DataFrame,
                                mersenne: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("bin"))
    val term = col("pos") * col("c")
    val fold =
      if (mersenne) graft.functions.MersenneModSum.msum(term)
      else sum(term)
    bins.withColumn("h", e7OrderHash(lit(1)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("c", pmod(StableHash.hash64(concat(lit("e9:"),
        col("shard").cast("string"), lit(":"), col("bin").cast("string"),
        lit(":"), col("n_docs").cast("string"), lit(":"),
        col("n_tokens").cast("string"))), lit(E9HashMod)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        fold.as("order_checksum"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // E10 — artifact REFRESH: the lifecycle verb the stage DAG was
  // missing. The index family has build/append/delete/update/retrain
  // (s13/s18/s21/s22); the pipeline artifacts only had full rebuild.
  // When e4's delta arrives, its s5 survivors must reach the bins
  // table WITHOUT rewriting shipped bins — a shipped context window
  // is immutable (training jobs, resumes, and e9 manifests already
  // reference it). So the bins artifact gains an EPOCH axis:
  //
  //   bins/epoch=0/shard=*   the base packing, written once
  //   bins/epoch=1/shard=*   the delta packing, appended by refresh
  //
  // Append-only packing law: epoch-1 docs pack into NEW bins whose
  // ids start at each shard's base watermark (max base bin + 1) —
  // never topping up a partial base bin. That trades perfect fill for
  // immutability (n_bins ≥ the pack-at-once count; doc/token mass is
  // conserved exactly — both spec-pinned), which is the trade every
  // production format makes (immutable segments + append, compaction
  // as a separate verb). The manifest is recomputed from the combined
  // bins table — |shards| rows, trivially rewritable; append-only
  // applies to the CORPUS-sized table, not the census.
  //
  // Crash/idempotence: each epoch directory is gated on its own
  // _SUCCESS marker; a crashed write has no marker and rebuilds via
  // overwrite (deterministic input ⇒ identical files), so refresh
  // never double-appends. 100 TB shape: the refresh scans only the
  // delta slice of docflags (delta-sized, not corpus-sized), the
  // offsets are a |shards|-row broadcast, and the packing window is
  // per-shard — the same one-window-per-shard plan as e3.
  // ---------------------------------------------------------------

  /** The epoch tree lives INSIDE the versioned e-artifact root: it is
    * derived from the docflags artifact, so the EArtifactVersion bump
    * that invalidates docflags must invalidate the epoch packing with
    * it — a marker-complete epoch tree packed from an older build's
    * docflags must never serve (the CLAUDE.md invariant). */
  private[graft] def e10Root(dir: String): String =
    s"${eArtifactRoot(dir)}/bins_epochs"

  /** Pack a docflags slice as the NEXT epoch above `prev` (the
    * combined bins of every earlier epoch): per-shard watermark from
    * prev (a shard with no earlier bins starts at 0), local packing
    * offset above it. The refresh operator is N-FOLD composable —
    * epoch k's ids depend only on epochs < k, so daily deltas chain
    * indefinitely (Round10Spec pins the 3-epoch composition against
    * the independent derivation). */
  private[graft] def appendEpochBins(flags: DataFrame, prev: DataFrame): DataFrame = {
    val offsets = prev
      .select(col("shard").cast("long").as("shard"), col("bin"))
      .groupBy(col("shard")).agg((max(col("bin")) + 1L).as("off"))
    binsFrom(flags)
      .join(broadcast(offsets), Seq("shard"), "left")
      .withColumn("bin", col("bin") + coalesce(col("off"), lit(0L)))
      .drop("off")
  }

  /** Build both epochs of the epoch-partitioned bins tree (marker-
    * gated via ensureArtifact, idempotent) and return the combined
    * frame. */
  /** The BASE (epoch-0) packing alone, marker-gated — factored so
    * st20's streaming arrival appends its committed wave union above
    * the same base watermark e10's batch refresh uses. */
  private[graft] def e10BaseBins(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, "bins_epochs/epoch=0", Seq("shard"))(
      binsFrom(docFlagsArtifact(spark, dir).filter(!e4DeltaPred)))

  private[graft] def e10Bins(spark: SparkSession, dir: String): DataFrame = {
    val base = e10BaseBins(spark, dir)
    ensureArtifact(spark, dir, "bins_epochs/epoch=1", Seq("shard"))(
      appendEpochBins(docFlagsArtifact(spark, dir).filter(e4DeltaPred), base))
    Tables.read(spark, e10Root(dir))
      .select(col("epoch").cast("int").as("epoch"),
        col("shard").cast("long").as("shard"),
        col("bin"), col("n_docs"), col("n_tokens"))
  }

  /** E10 — the refreshed packing's per-shard census: base vs appended
    * bin counts plus e9's position-weighted order checksum over the
    * COMBINED bin order (offsets make epoch-1 bin ids disjoint, so the
    * combined order is well-defined and a resume after the refresh
    * verifies against THIS manifest). */
  def e10ArtifactRefresh(spark: SparkSession, dir: String): DataFrame =
    e10Report(e10Bins(spark, dir))

  /** The refresh census over an arbitrary epoch'd bins frame —
    * factored so st20's streaming serve emits the identical report
    * shape over (persisted epoch-0 ∪ ledger-appended epoch-1). */
  private[graft] def e10Report(bins: DataFrame): DataFrame = {
    val perEpoch = bins.groupBy(col("shard"))
      .agg(sum(when(col("epoch") === 0, 1L).otherwise(0L)).as("n_bins_base"),
           sum(when(col("epoch") === 1, 1L).otherwise(0L)).as("n_bins_new"))
    manifestOf(bins.select(col("shard"), col("bin"), col("n_docs"), col("n_tokens")))
      .join(perEpoch, Seq("shard"))
      .select(col("shard"), col("n_bins_base"), col("n_bins_new"),
        col("n_docs"), col("n_tokens"), col("order_checksum"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // E11 — RETENTION DELETE: right-to-be-forgotten propagated through
  // the packed training artifacts — s18's delete discipline at the
  // artifact layer. A feed OFFBOARDS (licensing lapse, takedown,
  // retention expiry): every one of its docs must leave the packed
  // bins, and unlike e10's append, deletion cannot be append-only —
  // removing a doc shifts every later start_off in its shard, so the
  // compaction REPACKS each epoch's survivors (bin ids re-derived
  // under the same watermark law, so epoch-1 still sits above
  // epoch-0). The law is s18's verbatim: delete ∘ compact ≡
  // rebuild-without-deleted — the retained tree equals the epoch
  // pipeline run on a corpus whose mixed set never contained the
  // retired source (spec-pinned against the independent derivation).
  //
  // The retained generation lands in its OWN marker-gated tree beside
  // the e10 epochs (bins_retained_<source>/ inside the versioned
  // root — the retired source is part of the path): gate
  // entries stay independent and re-runnable in any order; production
  // would atomically swap the retained root over the live one with
  // s22's aside-first discipline, serving the old tree until cutover.
  //
  // 100 TB shape: the repack is one docflags scan + the same
  // one-window-per-shard packing as e3/e10; the report joins two
  // |shards|-row summaries. At real scale deletion batches on the
  // compaction cadence (tombstone doc ids first, repack once), which
  // is exactly s18's ledger posture — the gate compacts immediately
  // because the census, not the ledger, is the operator under test.
  // ---------------------------------------------------------------

  /** The feed that offboards in the e11 gate instance — chosen to
    * carry final (s5) token mass at every driver SF so the removed
    * columns are non-degenerate. */
  val E11RetiredSource = "src2"

  /** Build the retained (post-delete) epoch tree: both epochs
    * repacked WITHOUT the retired source's docs, marker-gated like
    * every artifact. */
  private[graft] def e11RetainedBins(spark: SparkSession, dir: String): DataFrame = {
    // the retired source is part of the PATH: a marker-complete tree
    // packed for a different retirement can never serve a changed
    // E11RetiredSource (the structural form of the version-bump
    // invariant, like the versioned root itself)
    val tag = s"bins_retained_$E11RetiredSource"
    val keep = col("source") =!= E11RetiredSource
    val base = ensureArtifact(spark, dir, s"$tag/epoch=0", Seq("shard"))(
      binsFrom(docFlagsArtifact(spark, dir).filter(!e4DeltaPred && keep)))
    ensureArtifact(spark, dir, s"$tag/epoch=1", Seq("shard"))(
      appendEpochBins(docFlagsArtifact(spark, dir).filter(e4DeltaPred && keep), base))
    Tables.read(spark, s"${eArtifactRoot(dir)}/$tag")
      .select(col("epoch").cast("int").as("epoch"),
        col("shard").cast("long").as("shard"),
        col("bin"), col("n_docs"), col("n_tokens"))
  }

  /** E11 — the post-delete manifest with the per-shard removed mass:
    * what the pre-delete (e10) packing carried for the retired feed.
    * Emitted from the PRE-delete shard set (left join + coalesce), so
    * a shard whose every doc belonged to the retired source still
    * reports its removal instead of vanishing from the census. */
  def e11RetentionDelete(spark: SparkSession, dir: String): DataFrame =
    retentionReport(e10Bins(spark, dir), e11RetainedBins(spark, dir))

  /** The post-delete census shape — pre-delete per-shard mass joined
    * with the retained packing's manifest, removal emitted from the
    * PRE-delete shard set (a shard fully emptied by the deletion
    * still reports) — ONE definition shared by the batch retention
    * verb (e11) and the streaming takedown retract (st22). */
  private[graft] def retentionReport(before: DataFrame,
                                     retained: DataFrame): DataFrame = {
    val b = before.groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("b_docs"), sum(col("n_tokens")).as("b_tokens"))
    val after = manifestOf(retained
      .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens")))
    b.join(after, Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (col("b_docs") - coalesce(col("n_docs"), lit(0L))).as("n_docs_removed"),
        (col("b_tokens") - coalesce(col("n_tokens"), lit(0L))).as("n_tokens_removed"),
        coalesce(col("order_checksum"), lit(0L)).as("order_checksum"))
      .orderBy(col("shard"))
  }

  /** The retained epoch packing WITHOUT the given doc ids — the
    * TAKEDOWN form of e11's repack (id-frame-keyed retirement instead
    * of source-keyed), computed in-flight: both epochs repacked under
    * the same watermark law. The id set is takedown-cadence-bounded
    * (s18's tombstone argument), so it broadcasts; the repack is one
    * docflags scan + the per-shard packing windows — e11's cost
    * shape, delta of which is the removed rows. */
  private[graft] def retainedBinsWithout(spark: SparkSession, dir: String,
                                         retiredIds: DataFrame): DataFrame = {
    val keep = docFlagsArtifact(spark, dir)
      .join(broadcast(retiredIds.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    val b0 = binsFrom(keep.filter(!e4DeltaPred))
    val b1 = appendEpochBins(keep.filter(e4DeltaPred), b0)
    b0.unionByName(b1)
  }

  /** e8's budget: (3/4)·total available BPE tokens — a real
    * downsampling posture that lands the water level strictly inside
    * the spec ladder's ratio spread at every SF (measured: 10-11 of
    * 20 sources saturate), so BOTH allocation regimes are always
    * exercised. */
  val E8BudgetNum = 3L
  val E8BudgetDen = 4L
  /** The gate's stand-in mixture spec: a priority ladder 1..20 cycled
    * over the alphabetical source catalog. In production the spec is
    * an external table (DoReMi / hand-tuned domain weights) — the
    * operator under test is the ALLOCATOR, not the weights. */
  val E8WeightLadder = 20L
  /** lcm(1..20): (avail·Lcm) div w is an EXACT integer for every
    * ladder weight, so ordering by it IS ordering by the true
    * rational avail/weight — no float sort key, no quantization ties
    * (beyond genuine ratio equality, broken by source). Bound: avail
    * · 2.33e8 must fit int64 — fine to ~4e10 tokens/source; at
    * 100 TB hold the product as DECIMAL(38,0) (the documented knob). */
  val E8RatioLcm = 232792560L

  /** E8 — token-budget allocation across sources (water-filling): the
    * step between "we measured what each source has" (t28's census) and
    * "this is what each source contributes to the training mix" — cap
    * a global token budget B against per-source availability,
    * proportional to declared mixture weights, with EXACT saturation
    * semantics: sources whose availability runs out at the water
    * level contribute everything they have; the rest get θ·w tokens
    * at the common level θ.
    *
    * Closed form, not iteration: sort sources by the exact rational
    * avail/weight (the saturation order), prefix-sum availability and
    * weight, and pick the FIRST position where the remaining budget
    * over the remaining weight mass no longer exhausts that source
    * (decided by integer cross-multiply, the t24/t15 discipline —
    * avail·den > num·w, no division). Everything left of the cut
    * saturates (alloc = avail, exact); everything right gets
    * (num·w) div den at the frozen θ = num/den — truncating, so the
    * unallocated remainder is < |unsaturated| tokens (spec-pinned).
    *
    * Scale shape: the windows (rank, two prefix sums) run over the
    * MIXTURE SPEC table — |sources| rows, catalog-bounded like q2's
    * brand table, NEVER the corpus — and the 1-row cut broadcasts
    * back; the corpus-sized work is entirely inside t28's census.
    * The sentinel row makes B ≥ total degrade to all-saturated
    * instead of an empty cut frame. */
  def e8TokenBudget(spark: SparkSession, dir: String): DataFrame =
    waterFill(spark, ladderSpec(TextAnalysis.t28BpeEncode(spark, dir)
      .select(col("source"), col("n_bpe_tokens").as("avail"))))

  /** The spec-ladder weight law — ONE Scala definition shared by e8
    * and e12 (the waterFillSqlCtes lesson applied to the Spark twin):
    * weights 1..E8WeightLadder cycled over the alphabetical source
    * order of an (source, avail) frame. */
  private def ladderSpec(avail: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSpec = Window.orderBy(col("source"))
    avail.withColumn("w",
      (((row_number().over(wSpec) - 1) % E8WeightLadder) + 1).cast("long"))
  }

  /** E12 — BUDGET ENFORCEMENT: the step that makes e8's allocation
    * actionable. e8 answers "how many tokens may each source
    * contribute"; nothing downstream enforced it. e12 applies the
    * water-filled allocation as a deterministic per-source cap over
    * the mixed set: docs are admitted in doc_id order until the next
    * doc would cross the source's alloc, docs stay WHOLE (truncating
    * at doc granularity — kept_tokens ≤ alloc, and the prefix rule is
    * maximal: the first spilled doc's cumulative total provably
    * exceeds alloc, spec-pinned). The gate instance allocates over
    * the docflags s5 census (whitespace n_tok — ONE denomination for
    * avail, alloc, and enforcement; e8's BPE census is the tokenizer-
    * true variant of the same allocator), budget = e8's ¾·total, so
    * both regimes appear: saturated sources keep everything, capped
    * sources spill a tail.
    *
    * Scale shape: the allocator runs on the |sources|-row spec
    * (e8's shape); enforcement adds ONE per-source cumulative window
    * over the mixed set plus a broadcast of the |sources|-row alloc
    * table. A hot source = one window partition — the TWO-LEVEL form
    * below (q49's pattern, `twoLevel = true`) is the 100 TB escape:
    * per-source doc_id decile boundaries (tiny mergeable-sketch agg,
    * broadcast) split each source into value-disjoint ranges, range
    * totals self-join into broadcast per-range offsets, and the
    * running sum windows WITHIN each (source, range) and adds its
    * offset — no window partition ever holds more than a range's
    * docs, and because ranges are doc_id-disjoint with intra-range
    * order matching the per-source global order, the two-level
    * cumulative equals the single-window one EXACTLY for any cut set
    * (Round11Spec pins row-for-row equality; the decision stays the
    * same integer compare). */
  def e12BudgetEnforce(spark: SparkSession, dir: String): DataFrame =
    e12Enforced(spark, dir, twoLevel = false)

  private[graft] def e12Enforced(spark: SparkSession, dir: String,
                                 twoLevel: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = docFlagsArtifact(spark, dir).filter(col("s5"))
      .select(col("doc_id"), col("source"), col("n_tok"))
    val alloc = waterFill(spark, ladderSpec(
        census.groupBy(col("source")).agg(sum(col("n_tok")).as("avail"))))
      .select(col("source"), col("avail_tokens"), col("alloc_tokens"),
        col("saturated"))
    // explicit ROWS frame: the default is RANGE, whose peer-row
    // semantics would diverge from the oracle's ROWS window if
    // (source, doc_id) ever stopped being unique
    val wCum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cummed =
      if (!twoLevel) census.withColumn("cum", sum(col("n_tok")).over(wCum))
      else {
        // value-disjoint doc_id ranges per source; approx boundaries
        // are fine — the cumulative is exact for ANY cut set
        val bounds = census.groupBy(col("source")).agg(expr(
          "approx_percentile(doc_id, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 1000)")
          .as("bs"))
        val bucketed = census.join(broadcast(bounds), Seq("source"))
          .withColumn("bucket", size(filter(col("bs"), b => b < col("doc_id"))))
          .drop("bs")
        val totals = bucketed.groupBy(col("source"), col("bucket"))
          .agg(sum(col("n_tok")).as("bc"))
        val offsets = totals
          .join(totals.select(col("source"), col("bucket").as("yb"), col("bc").as("ybc")),
            Seq("source"))
          .groupBy(col("source"), col("bucket"))
          .agg(sum(when(col("yb") < col("bucket"), col("ybc")).otherwise(0L)).as("off"))
        val wRange = Window.partitionBy(col("source"), col("bucket"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bucketed.join(broadcast(offsets), Seq("source", "bucket"))
          .withColumn("cum", col("off") + sum(col("n_tok")).over(wRange))
      }
    val stats = cummed
      .join(broadcast(alloc.select(col("source"), col("alloc_tokens"))), Seq("source"))
      .withColumn("keep", col("cum") <= col("alloc_tokens"))
      .groupBy(col("source"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
           sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tokens"),
           sum(when(!col("keep"), 1L).otherwise(0L)).as("n_docs_spilled"),
           sum(when(!col("keep"), col("n_tok")).otherwise(0L)).as("spilled_tokens"))
    alloc.join(stats, Seq("source"))
      .select(col("source"), col("avail_tokens"), col("alloc_tokens"),
        col("saturated"), col("n_docs_kept"), col("kept_tokens"),
        col("n_docs_spilled"), col("spilled_tokens"))
      .orderBy(col("source"))
  }

  /** The allocator itself over an arbitrary (source, avail, w) spec
    * frame — factored so PropertySpec can drive it with ScalaCheck
    * instances against an independent iterative-greedy reference
    * (the closed form and the round-by-round greedy provably agree
    * in exact rational arithmetic; the test checks the integer
    * implementations agree too, truncation and all).
    *
    * `wide` is the DECIMAL(38,0) escape the int64 bound names: the
    * sort key avail·lcm(1..20) overflows int64 past ~4e10
    * tokens/source, so the wide path carries every avail-scaled
    * product (sort key, prefix sums, cross-multiply cut, θ·w
    * allocation, fill numerator) as DECIMAL(38,0) and casts only the
    * bounded outputs (alloc ≤ avail, fill ≤ 1000) back to BIGINT, so
    * the result schema is identical in both modes. The wide domain is
    * the FULL int64 avail range (~9.2e18 tokens/source — 9 orders
    * past the narrow bound, and already ~10⁵× every token ever
    * written): avail is a BIGINT input and alloc a BIGINT output, so
    * int64 bounds the interface by construction, and inside it every
    * decimal intermediate provably fits — products ≤ avail·lcm ≈
    * 2.2e27 < 1e38, and every division's QUOTIENT (the part decimal
    * division can overflow — results are DECIMAL(38,6), integer
    * capacity 1e32) is ≤ max(avail·lcm ≈ 2.2e27, bNum·Σavail/bDen),
    * under 1e32 for any catalog-bounded source count and sane budget
    * ratio. floor-division replaces `div` because Spark's
    * IntegralDivide always narrows to long; a multiply-back
    * correction (see idiv) undoes the scale-6 quotient's HALF_UP
    * rounding, so the wide floor is exact for any divisor — no
    * small-divisor assumption. PropertySpec drives
    * the wide path past the int64 sort-key bound AND at the int64
    * avail edge against the same BigInt greedy reference. The e8 GATE
    * stays narrow (its census is ≪ the bound; the oracle mirrors
    * int64). */
  private[graft] def waterFill(spark: SparkSession, spec: DataFrame,
                               bNum: Long = E8BudgetNum,
                               bDen: Long = E8BudgetDen,
                               wide: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val T = if (wide) "DECIMAL(38,0)" else "BIGINT"
    def big(c: String): String = s"CAST(($c) AS $T)"
    // Wide-mode floor division must correct for Spark's decimal
    // division ROUNDING: the DECIMAL(38,6) quotient is the nearest
    // scale-6 grid value, so when the exact quotient sits within 5e-7
    // BELOW an integer the rounded value crosses it and floor() lands
    // one too high (the other direction is safe — an integer is its
    // own nearest grid point). One multiply-back correction makes the
    // floor exact for ANY divisor, with no small-divisor caveat.
    def idiv(a: String, b: String): String =
      if (wide)
        s"(CAST(floor(($a) / ($b)) AS $T) - " +
          s"(CASE WHEN CAST(floor(($a) / ($b)) AS $T) * ($b) > ($a) THEN 1 ELSE 0 END))"
      else s"($a) div ($b)"
    val base = spec.withColumn("rkey",
      expr(idiv(s"${big("avail")} * $E8RatioLcm", "w")))
    val totals = base.agg(sum(expr(big("avail"))).as("ta"), sum(col("w")).as("tw"))
    val wOrd = Window.orderBy(col("rkey"), col("source"))
    val pre = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val flags = base.crossJoin(broadcast(totals))
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("pa",
        coalesce(sum(expr(big("avail"))).over(pre), lit(0L).cast(T)))
      .withColumn("pw", coalesce(sum(col("w")).over(pre), lit(0L)))
      .withColumn("num", expr(idiv(s"$bNum * ta", s"$bDen")) - col("pa"))
      .withColumn("den", col("tw") - col("pw"))
    val cut = flags.filter(expr(s"${big("avail")} * den > num * w"))
      .select(col("rn").as("kk"), col("num").as("tn"), col("den").as("td"))
      .union(spark.range(1).select(lit(Long.MaxValue).as("kk"),
        lit(0L).cast(T).as("tn"), lit(1L).as("td")))
      .orderBy(col("kk")).limit(1)
    flags.crossJoin(broadcast(cut))
      .withColumn("saturated", (col("rn") < col("kk")).cast("int"))
      .withColumn("alloc", when(col("rn") < col("kk"), expr(big("avail")))
        .otherwise(least(expr(big("avail")), expr(idiv("tn * w", "td")))))
      .select(col("source"), col("w").as("weight"), col("avail").as("avail_tokens"),
        col("alloc").cast("long").as("alloc_tokens"), col("saturated"),
        // greatest(avail, 1): a spec row with avail = 0 (a declared
        // source whose census came back empty) reports fill 0/1 = 0
        // on BOTH engines instead of Spark-null vs DuckDB
        // division-by-zero
        expr(idiv(s"1000 * ${big("alloc")}", "greatest(avail, 1)"))
          .cast("long").as("fill_permille"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e12_budget_enforce"   -> (e12BudgetEnforce _),
    "e13_graph_refresh" -> (e13GraphRefresh _),
    "e14_graph_retract" -> (e14GraphRetract _),
    "e15_source_offboard" -> (e15SourceOffboard _),
    "e16_offboard_split" -> (e16OffboardSplit _),
    "e17_retract_then_arrive" -> (e17RetractThenArrive _),
    "e18_offboard_cutover" -> (e18OffboardCutover _),
    "e19_model_cutover" -> (e19ModelCutover _),
    "e20_tokenizer_cutover" -> (e20TokenizerCutover _),
    "e21_maintenance_census" -> (e21MaintenanceCensus _),
    "e22_maintenance_apply" -> (e22MaintenanceApply _),
    "e23_split_guard" -> (e23SplitGuard _),
    "e24_release_pack" -> (e24ReleasePack _),
    "e11_retention_delete" -> (e11RetentionDelete _),
    "e10_artifact_refresh" -> (e10ArtifactRefresh _),
    "e9_order_manifest" -> (e9OrderManifest _),
    "e8_token_budget"   -> (e8TokenBudget _),
    "e7_training_order" -> (e7TrainingOrder _),
    "e1_corpus_funnel"  -> (e1CorpusFunnel _),
    "e2_selection_mix"  -> (e2SelectionMix _),
    "e3_final_packing"  -> (e3FinalPacking _),
    "e4_delta_ingest"   -> (e4DeltaIngest _),
    "e5_new_source"     -> (e5NewSourceIngest _),
    "e6_leakage_split"  -> (e6LeakageSplit _))

  /** E13 — incremental CANDIDATE-GRAPH refresh: the artifact DAG's
    * lifecycle verb at the GRAPH layer (e10 refreshes the packed
    * bins; this refreshes pairs + labels when e4's delta arrives —
    * the "incremental path is d11's fold" the DAG doc names, landed
    * as executed, gate-checked code). Steps, all delta-proportional
    * beyond the pair-bounded verify:
    *
    *   1. delta band rows: the delta slice of the SIGNATURES artifact
    *      banded (no md5 pass — per-doc signatures are arrival-
    *      invariant, so the persisted table serves; a genuinely new
    *      doc would pay its own signature pass, delta-sized);
    *   2. new candidates: delta bands joined against the FULL band
    *      table — exactly the full graph's pairs with ≥ 1 delta
    *      endpoint (base×base buckets are untouched by arrivals);
    *   3. exact-Jaccard verify on those candidates (pair-bounded);
    *   4. labels: d11's fold — the BASE labeling entered as star
    *      edges, unioned with the new pairs, re-converged in rounds
    *      bounded by the NEW merge graph's diameter.
    *
    * The refresh law (base×base pairs unchanged + delta-endpoint
    * candidates complete + per-pair verify identical) makes
    * base-pairs ∪ new-pairs EQUAL the full-corpus d4 table, and
    * d11's fold ≡ rebuild law lands the labeling on the full
    * rebuild's fixpoint — so the ORACLE is d7's full-rebuild SQL
    * verbatim, and the gate hash-checks the whole incremental chain
    * against it. The base state here derives from the persisted
    * full-corpus artifacts restricted to base ids (valid by the same
    * law; in production it IS yesterday's pairs/labels tables).
    *
    * Scale shape: delta bands are delta-sized; the candidate join is
    * band-bucket-bounded; verify is pair-bounded; the fold's rounds
    * move node-sized label frames at edge-sized width. Nothing
    * re-derives the base corpus. */
  def e13GraphRefresh(spark: SparkSession, dir: String): DataFrame = {
    val cand = e13Candidates(spark, dir)
      .cache() // consumed 4× below (endpoint ids ×2, verify joins ×2)
    val sh = e13VerifyShingles(spark, dir, cand).cache()
    val newPairs = Dedup.verifyCandidates(sh, cand)
      .select(col("a_id"), col("b_id"))
    // yesterday's labeling served from the PERSISTED base labeling
    // (see baseLabelsArtifact's doc for why it is NOT the full
    // labels artifact filtered). The fold is d11's, by construction:
    // one shared definition (Dedup.incrementalFoldFrom).
    val out = Dedup.incrementalFoldFrom(baseLabelsArtifact(spark, dir), newPairs)
    // the fold's CC calls are eager (localCheckpoint-materialized),
    // so newPairs — and with it cand/sh — are fully consumed here
    cand.unpersist(false)
    sh.unpersist(false)
    out
  }

  /** e13's candidate stage: the delta slice of the signatures
    * artifact banded against the FULL band table — exactly the full
    * graph's pairs with ≥ 1 delta endpoint (base×base buckets are
    * untouched by arrivals). */
  private[graft] def e13Candidates(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signaturesArtifact(spark, dir)
    // the arrival-candidate law's batch special case: arrived = the
    // whole corpus, new = the whole delta (one shared definition with
    // st13's per-micro-batch slices — Dedup.arrivalCandidates)
    Dedup.arrivalCandidates(sigs.filter(e4DeltaPredOn("doc_id")), sigs)
  }

  /** e13's verify input: the shingle table SEMI-JOINED to the
    * candidate endpoints first, so the three verify-stage consumers
    * (sizes, x-join, y-join) each scan an endpoint-bounded — i.e.
    * delta-proportional — table, not the corpus (d4's from-scratch
    * builder caches the full table instead because ITS candidates
    * span the corpus; here they must not). */
  private[graft] def e13VerifyShingles(spark: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    // semi-join at the DOCUMENT level, before the shingle explode
    // (guide §2.3): a join cannot be pushed below a generator by
    // the optimizer, so the post-explode form shingled the whole
    // corpus and then dropped non-candidate rows — this shingles only
    // candidate docs. Same rows out (the filter key exists per doc).
    Dedup.shingleRows(
      graft.Tables.documents(spark, dir).join(candIds, Seq("doc_id"), "left_semi"))
  }

  /** The refresh's delta-verify stage as ONE uncached frame — the
    * plan PlanDump/PlanShapeSpec inspect. The gate entry's own final
    * plan roots at the fold's localCheckpoint (round-iterated CC), so
    * the scale-bearing shape — banded candidate join + endpoint
    * semi-join bounding the verify scans — is only visible here.
    * Composes the same two stage builders the gate entry runs. */
  private[graft] def e13NewPairsFrame(spark: SparkSession, dir: String): DataFrame = {
    val cand = e13Candidates(spark, dir)
    Dedup.verifyCandidates(e13VerifyShingles(spark, dir, cand), cand)
      .select(col("a_id"), col("b_id"))
  }

  /** The feed whose offboarding e14 propagates — E11's, so the graph
    * layer and the bins layer tell ONE retention story. */
  val E14RetiredSource: String = E11RetiredSource

  /** The retraction core, pure over its three inputs so the one
    * branch the corpus can't witness at spec SFs — a retired BRIDGE
    * doc splitting its cluster in two — is pinned on a constructed
    * graph (Round11Spec). Law: pairs never cross clusters, so
    * deleting retired-endpoint pairs can only change clusters that
    * CONTAIN a retired doc; every other label is served as-is and
    * only the affected subgraph re-converges.
    *
    * Scale shape: the pairs table is scanned ONCE; the two-column
    * labels artifact is scanned three times at pruned width (the
    * affected derivation, the members derivation, and the untouched
    * PASS-THROUGH — which is the output itself); nothing is ever
    * re-derived from the corpus. `members` (all docs of affected
    * clusters — affected-cluster-mass-bounded) is materialized once
    * with an eager localCheckpoint and feeds BOTH downstream
    * consumers, so the affected-cluster subtree evaluates exactly
    * once; the checkpoint's footprint is bounded by the retired
    * slice's cluster mass and is the operator's working state. The
    * CC re-converge touches only the affected subgraph. A doc whose
    * every pair had a retired endpoint leaves the labeling, exactly
    * as the rebuild drops it (labels cover pair-graph members
    * only). */
  private[graft] def retractFromGraph(pairs: DataFrame, labels: DataFrame,
                                      retired: DataFrame): DataFrame = {
    val (untouched, survivors) = retractParts(pairs, labels, retired)
    val relabeled = Dedup.connectedComponents(survivors, "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
    untouched.unionByName(relabeled).orderBy(col("doc_id"))
  }

  /** The retraction's PRE-CONVERGE decomposition — (untouched labels
    * to pass through, affected clusters' surviving pairs) — shared by
    * [[retractFromGraph]] (which re-converges the survivors alone)
    * and the update verbs' single-CC fold (d22/st21: survivors
    * converge TOGETHER with the arrival pairs in ONE labeling pass —
    * collapsing the survivor subgraph to component stars first and
    * re-converging was a second CC whose fixpoint the combined CC
    * reaches anyway, d11's star-collapse law). */
  private[graft] def retractParts(pairs: DataFrame, labels: DataFrame,
                                  retired: DataFrame): (DataFrame, DataFrame) = {
    val affected = labels
      .join(retired, labels("node") === retired("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    // a doc is untouched iff it is NOT a member of an affected
    // cluster, so `members` serves both the pass-through exclusion
    // and the subgraph selection — one materialization, two readers
    val members = labels.join(affected, Seq("cluster_id"), "left_semi")
      .select(col("node")).localCheckpoint()
    val untouched = labels.join(members, Seq("node"), "left_anti")
      .select(col("node").as("doc_id"), col("cluster_id"))
    // a-side membership selects the whole affected subgraph: a pair's
    // endpoints always share a cluster
    val affectedPairs = pairs
      .join(members.select(col("node").as("a_id")), Seq("a_id"), "left_semi")
      .select(col("a_id"), col("b_id"))
    val survivors = affectedPairs
      .join(retired.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
      .join(retired.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti")
      .select(col("a_id"), col("b_id"))
    (untouched, survivors)
  }

  /** E14 — GRAPH RETRACTION: e11's right-to-be-forgotten discipline
    * at the pairs/labels layer (e11 removes the retired feed's docs
    * from the packed bins; this removes them from the candidate
    * graph). The graph's lifecycle is now closed like the bins':
    * build (pairs artifact), arrive (e13 batch / st13 streaming),
    * retract (this). Serve-side incremental: untouched clusters'
    * labels pass through from the artifact, only clusters containing
    * a retired doc re-converge over their surviving pairs — and the
    * oracle is d7's closure chain over the pair table WITH the
    * retired-endpoint rows removed (one CTE text, d7LabelCtesFrom),
    * so the gate hash-checks incremental-retract ≡
    * rebuild-without-retired every round. At sf0.01 the affected
    * cluster dissolves entirely (its one pair had a retired
    * endpoint); at sf0.001 it shrinks and survives; the SPLIT branch
    * is Round11Spec's constructed pin. */
  def e14GraphRetract(spark: SparkSession, dir: String): DataFrame =
    // served from the PERSISTED retraction (the offboarded generation's
    // labels table) — the retraction is an artifact, not a
    // per-query recompute; [[e14Derived]] keeps the from-scratch
    // incremental path as the spec twin (Round12Spec pins served ≡
    // derived), and the oracle still hash-checks the content against
    // rebuild-without-retired every round.
    offboardLabels(spark, dir).orderBy(col("doc_id"))

  /** The from-scratch incremental retraction — the offboard labels
    * artifact's builder and the spec-side twin. */
  private[graft] def e14Derived(spark: SparkSession, dir: String): DataFrame =
    retractFromGraph(
      pairsArtifact(spark, dir).select(col("a_id"), col("b_id")),
      labelsArtifact(spark, dir), retiredDocs(spark, dir))

  // ---------------------------------------------------------------
  // E15/E16/E17 — the OFFBOARDED GENERATION of the artifact DAG.
  // e11 removes a retired feed's rows from the packed bins under
  // FROZEN flags (the serve-side fast path: "their rows leave the
  // shipped artifact NOW"), and e14 computes the retracted labeling —
  // but that left retirement split across layers: the pairs/labels
  // artifacts still carried the retired rows on disk, every later
  // arrival banded against the FULL signatures table (so a near-dup
  // of a retired doc could re-enter the graph and resurrect the
  // feed), and no single verb said "the feed is gone" across the
  // whole DAG. The offboarded generation closes all three: ONE
  // marker-gated subtree beside the live DAG —
  //
  //   offboard_<src>/signatures   live sigs minus retired (the
  //                               tombstone-applied banding base every
  //                               post-offboard arrival joins against)
  //   offboard_<src>/pairs        pairs minus retired-endpoint rows
  //   offboard_<src>/labels       e14's incremental retraction,
  //                               PERSISTED (untouched clusters pass
  //                               through, affected ones re-converge)
  //   offboard_<src>/docflags     the funnel RE-DERIVED from the
  //                               retracted labels (a doc whose only
  //                               canonical was retired re-enters
  //                               dedup-survival — the cascade e11's
  //                               frozen-flag filter deliberately
  //                               skips), retired rows gone
  //   offboard_<src>/bins         e10's epoch packing over the
  //                               offboarded docflags
  //   offboard_<src>/manifest     e9's restart manifest over them
  //
  // The law at EVERY layer is e11's, cascaded: offboarded ≡ the
  // pipeline rebuilt on a corpus whose GRAPH never contained the
  // retired docs, under frozen scoring models (DSIR buckets/cut, mix
  // rates, eval grams keep their full-corpus-trained values — models
  // forget on the retrain cadence, rows leave now; that is e4/e5's
  // frozen posture and the only honest one, since the alternative
  // silently retrains every model as a side effect of a takedown).
  // e15 gate-checks the whole claim as one row per layer (count +
  // order-independent content fold) against a single DuckDB statement
  // that rebuilds every layer from scratch without the source; e16
  // proves a downstream consumer (the e6 leakage split) serves the
  // retracted state; e17 proves the retract-then-arrive composition:
  // arrivals folded over the offboarded base — with the retired
  // exclusion on both the arriving slice and the banding state —
  // land on rebuild-without-retired-plus-delta exactly.
  //
  // 100 TB shape: every builder is a filter/anti-join over an
  // existing artifact or the same one-window-per-shard packing as
  // e3/e10; the only graph work is the affected-cluster re-converge
  // (retractFromGraph — retired-cluster-mass-bounded, never a global
  // CC). The census folds are one narrow scan + 1-row agg per layer;
  // terms are bounded to 2^40, int64-exact to ~2^23 rows per layer —
  // past that, fold partials modulo 2^61−1 (e9's documented knob).
  // Production cutover swaps the offboarded subtree over the live one
  // with s22's aside-first discipline; the gate keeps both so entries
  // stay order-independent and re-runnable.
  // ---------------------------------------------------------------

  private[graft] def offboardTag: String = s"offboard_$E14RetiredSource"

  private[graft] def retiredDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("source") === lit(E14RetiredSource))
      .select(col("doc_id"))

  /** The tombstone-applied signature table — the banding base for
    * every post-offboard arrival (e17; the production e13/st13 after
    * a retirement read THIS, not the live signatures). */
  private[graft] def offboardSignatures(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, s"$offboardTag/signatures")(
      signaturesArtifact(spark, dir)
        .join(retiredDocs(spark, dir), Seq("doc_id"), "left_anti"))

  private[graft] def offboardPairs(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, s"$offboardTag/pairs") {
      val r = retiredDocs(spark, dir)
      pairsArtifact(spark, dir)
        .join(r.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
        .join(r.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti")
    }

  /** e14's retraction persisted: built ONCE by the incremental path
    * (untouched labels pass through, affected clusters re-converge),
    * then every consumer — e14's own gate row, e16's split, e17's
    * arrival fold — reads the table. */
  private[graft] def offboardLabels(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, s"$offboardTag/labels")(e14Derived(spark, dir))

  private[graft] def offboardDocflags(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, s"$offboardTag/docflags")(
      docFlagsDerived(spark, dir,
        offboardLabels(spark, dir)
          .select(col("doc_id").as("node"), col("cluster_id")))
        .filter(col("source") =!= E14RetiredSource))

  private[graft] def offboardBins(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureArtifact(spark, dir, s"$offboardTag/bins/epoch=0", Seq("shard"))(
      binsFrom(offboardDocflags(spark, dir).filter(!e4DeltaPred)))
    ensureArtifact(spark, dir, s"$offboardTag/bins/epoch=1", Seq("shard"))(
      appendEpochBins(offboardDocflags(spark, dir).filter(e4DeltaPred), base))
    Tables.read(spark, s"${eArtifactRoot(dir)}/$offboardTag/bins")
      .select(col("epoch").cast("int").as("epoch"),
        col("shard").cast("long").as("shard"),
        col("bin"), col("n_docs"), col("n_tokens"))
  }

  private[graft] def offboardManifest(spark: SparkSession, dir: String): DataFrame =
    ensureArtifact(spark, dir, s"$offboardTag/manifest")(
      manifestOf(offboardBins(spark, dir)
        .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"))))

  /** One layer's census row: count + an order-independent content
    * fold (sum of 2^40-bounded StableHash terms over a canonical
    * per-row string — the same fold the oracle computes, so the gate
    * hash-checks every layer's CONTENT, not just its cardinality).
    * Exact to ~2^23 rows/layer; `mersenne` is the IMPLEMENTED escape
    * past that (the e8-wide precedent): the fold reduces per partial
    * modulo 2^61−1, overflow-free at any layer size, and equals the
    * exact fold verbatim while the exact fold is in-range (both
    * pinned in Round13Spec). The gate keeps exact — the oracle
    * hash-checks the plain sum. */
  private def layerCensus(layer: String, df: DataFrame, canonical: Column): DataFrame =
    layerCensusOn(layer, df, canonical, mersenne = false)

  private[graft] def layerCensusOn(layer: String, df: DataFrame, canonical: Column,
                                   mersenne: Boolean): DataFrame = {
    val term = pmod(StableHash.hash64(canonical), lit(1L << 40))
    val fold =
      if (mersenne) graft.functions.MersenneModSum.msum(term)
      else sum(term)
    df.agg(count(lit(1)).as("n_rows"),
      coalesce(fold, lit(0L)).as("content_sum"))
      .select(lit(layer).as("layer"), col("n_rows"), col("content_sum"))
  }

  private def b01(c: Column): Column = when(c, "1").otherwise("0")

  /** E15 — SOURCE OFFBOARDING as one gate-checked claim: the whole
    * offboarded generation, layer by layer, equals the pipeline
    * rebuilt without the retired source (frozen models). Six rows:
    * (layer, n_rows, content_sum), layer-ordered. */
  def e15SourceOffboard(spark: SparkSession, dir: String): DataFrame = {
    val sigStr = concat_ws(":",
      col("doc_id") +: (0 until Dedup.NumHashes).map(k => col(s"mh$k")): _*)
    val flg = offboardDocflags(spark, dir)
    Seq(
      layerCensus("signatures", offboardSignatures(spark, dir), sigStr),
      layerCensus("pairs", offboardPairs(spark, dir),
        concat_ws(":", col("a_id"), col("b_id"),
          round(col("jaccard") * 1000).cast("long"))),
      layerCensus("labels", offboardLabels(spark, dir),
        concat_ws(":", col("doc_id"), col("cluster_id"))),
      layerCensus("docflags", flg,
        concat_ws(":", col("doc_id"), col("source"), col("n_tok"),
          b01(col("s1")), b01(col("s2")), b01(col("s3")), b01(col("s4")),
          b01(col("s5")), coalesce(col("rate_ppm"), lit(-1L)))),
      layerCensus("bins", offboardBins(spark, dir),
        concat_ws(":", col("epoch"), col("shard"), col("bin"),
          col("n_docs"), col("n_tokens"))),
      layerCensus("manifest", offboardManifest(spark, dir),
        concat_ws(":", col("shard"), col("n_bins"), col("n_docs"),
          col("n_tokens"), col("order_checksum"))))
      .reduce(_ unionByName _)
      .orderBy(col("layer"))
  }

  /** E16 — the downstream proof: the e6 leakage split drawn AFTER the
    * offboarding serves the retracted state (cluster tickets from the
    * offboarded labels, retired rows gone). Same census shape as e6;
    * the oracle rebuilds the chain without the source. */
  def e16OffboardSplit(spark: SparkSession, dir: String): DataFrame =
    e6DocSplitsFrom(spark, dir,
      offboardLabels(spark, dir)
        .select(col("doc_id").as("node"), col("cluster_id")))
      .filter(col("source") =!= E14RetiredSource)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("split"), col("source"))

  /** E17 — RETRACT THEN ARRIVE: the composition that closes the
    * resurrection hole. The e13/st13 arrival law banded new docs
    * against the FULL signatures artifact, so a doc arriving after a
    * retirement could band into a retired doc's bucket, verify, and
    * mint a pair with a retired endpoint — undoing the retraction.
    * Here the arrival runs against the OFFBOARDED generation: the
    * delta slice of the tombstone-applied signature table (a retired
    * feed's own arrivals are excluded with it) bands against that
    * same table, verifies endpoint-bounded, and folds into the
    * offboarded base pairs — and the oracle (e14's verbatim) pins
    * the result to rebuild-without-retired EXACTLY, every round.
    * Scale shape is e13's unchanged: delta-sized bands, bucket-
    * bounded candidates, endpoint-bounded verify, d11's fold. */
  def e17RetractThenArrive(spark: SparkSession, dir: String): DataFrame = {
    val offSigs = offboardSignatures(spark, dir)
    val cand = Dedup.arrivalCandidates(
        offSigs.filter(e4DeltaPredOn("doc_id")), offSigs)
      .cache() // endpoint ids ×2 + verify joins ×2 (e13's policy)
    val sh = e13VerifyShingles(spark, dir, cand).cache()
    val newPairs = Dedup.verifyCandidates(sh, cand)
      .select(col("a_id"), col("b_id"))
    val basePairs = offboardPairs(spark, dir)
      .filter(!e4DeltaPredOn("a_id") && !e4DeltaPredOn("b_id"))
      .select(col("a_id"), col("b_id"))
    val out = Dedup.incrementalFold(basePairs, newPairs)
    cand.unpersist(false)
    sh.unpersist(false)
    out
  }

  /** The six layers of the artifact DAG in dependency order — the
    * cutover's swap list (the offboarded generation carries exactly
    * these). */
  private[graft] val DagLayers =
    Seq("signatures", "pairs", "labels", "docflags", "bins", "manifest")

  /** PRODUCTION CUTOVER — the verb the e15 docs named ("production
    * swaps the offboarded subtree over the live one with s22's
    * aside-first discipline") made executable: every layer of
    * `$root/$fromTag/` is promoted over the live table under `root` by
    * [[graft.store.cutover]], RESUMABLE at every crash window; the
    * emptied generation dir is removed with the asides. The
    * generation DIR outlives every layer promote, so a missing one
    * without the done marker means it was never built (or the tag is
    * mistyped) — unlike [[modelCutover]], a leftover aside is NOT
    * accepted as a tail witness here, or a manually mangled tree would
    * defensively restore the OLD generation and then stamp it done.
    * Each promoted layer is sealed as a complete table: the bins
    * generation keeps its markers INSIDE epoch subdirs, and the
    * promoted manifest keeps the epoch-order checksums. Production
    * readers follow the epoch-partitioned bins tree the way e10's
    * combined read does; the flat pre-offboard bins table leaves with
    * the old generation. */
  private[graft] def cutoverSubtree(spark: SparkSession, root: String,
                                    fromTag: String): Unit = {
    val aside = s"$root/cutover_old_$fromTag"
    graft.store.cutover(spark, new Path(s"$root/cutover_done_$fromTag"), new Path(aside),
      DagLayers.map(l => graft.store.Layer(new Path(s"$root/$fromTag/$l"),
        new Path(s"$root/$l"), new Path(s"$aside/$l"))),
      generation = Some(new Path(s"$root/$fromTag")), tables = true)
  }

  /** E18 — the cutover run for real and served: both generations are
    * forced, the twelve tables are CLONED into a scratch root (the
    * gate must not mutate the shared tree the other entries serve
    * from — production runs the verb on the serving root itself,
    * exclusively), the cutover promotes the offboarded generation,
    * and the entry serves the cutover root's LIVE labels table —
    * oracle = e14's rebuild-without-retired verbatim, so the gate
    * hash-checks "after the swap, the live path IS the retracted
    * state" every round. Round12Spec pins the crash windows (resume
    * mid-swap, already-promoted skip) and the bins/manifest layer
    * content. */
  def e18OffboardCutover(spark: SparkSession, dir: String): DataFrame = {
    val scratch = stageCutoverClone(spark, dir)
    cutoverSubtree(spark, scratch, offboardTag)
    Tables.read(spark, s"$scratch/labels").orderBy(col("doc_id"))
  }

  /** Clone the live + offboarded layer tables into the e18 scratch
    * root (rebuilt per invocation — st11's no-accumulation
    * discipline), forcing both generations to exist first. */
  private[graft] def stageCutoverClone(spark: SparkSession, dir: String): String = {
    // force EVERY layer of both generations: the manifest chain pulls
    // manifest→bins→docflags→labels, but signatures/pairs are PARALLEL
    // branches of the offboard DAG (bins don't depend on them), so a
    // partially-rebuilt tree would otherwise clone incomplete
    offboardSignatures(spark, dir)
    offboardPairs(spark, dir)
    offboardManifest(spark, dir)
    manifestArtifact(spark, dir) // live chain is linear down to signatures
    val scratch = graft.store.scratch(spark, "graft_e18_cutover", dir)
    graft.store.cloneTree(spark, eArtifactRoot(dir), scratch, DagLayers :+ offboardTag)
    scratch
  }

  /** The model layer's two tables — the e19 cutover's swap list. */
  private[graft] val ModelLayers = Seq("dsir_perdoc", "dsir_cut")

  /** PRODUCTION MODEL CUTOVER — the verb t30's retrain decision
    * implies, executable: the REFRESHED model generation (the
    * root-level tables of `layers`) is promoted over the FROZEN root
    * (the model_frozen subtree) by [[graft.store.cutover]], each layer
    * sealed as a complete table. The promotion CONSUMES the refreshed
    * tables; the next ensureArtifact of the refreshed generation
    * rebuilds it from the corpus, which is exactly the "models forget
    * on the retrain cadence" law: post-cutover, frozen ≡ the retrain,
    * and the next delta epoch accumulates against it. With no
    * generation dir to outlive the promotes, a leftover aside is the
    * tail-crash witness and completes forward. Exclusivity is e18's
    * (operator action on the serving root — readers must not race
    * it).
    *
    * The done marker and aside dir are KEYED BY LAYER SET: on a shared
    * serving root the DSIR and BPE cutovers are independent verbs, and
    * a shared marker would let one verb's crashed-tail state (aside
    * present, marker unwritten) be read by the OTHER verb's "nothing
    * to promote" guard — which would then no-op-promote, write a done
    * marker for a cutover that never ran, and delete the first verb's
    * rollback copies. The two shipped sets keep their names (markers
    * already on serving roots must keep resolving); any other set gets
    * a content-keyed namespace (String.hashCode is JVM-spec-stable,
    * masked to unsigned hex so the dir name is filesystem-clean). */
  private[graft] def modelCutover(spark: SparkSession, root: String,
                                  layers: Seq[String] = ModelLayers): Unit = {
    val tag =
      if (layers == BpeModelLayers) "bpe"
      else if (layers == ModelLayers) "model"
      else f"ls_${layers.mkString("\u0000").hashCode & 0xffffffffL}%08x"
    val aside = s"$root/${tag}_cutover_old"
    graft.store.cutover(spark, new Path(s"$root/${tag}_cutover_done"), new Path(aside),
      layers.map(l => graft.store.Layer(new Path(s"$root/$l"),
        new Path(s"$root/model_frozen/$l"), new Path(s"$aside/$l"))),
      tables = true)
  }

  /** The tokenizer model layer's two tables — the e20 cutover's swap
    * list (the generalized [[modelCutover]] runs the same aside-first
    * per-layer promotion over it). */
  private[graft] val BpeModelLayers = Seq("bpe_merges", "bpe_encoded_words")

  /** Clone BOTH generations of a model layer set — each layer's
    * root-level table and its model_frozen twin, forced first — into
    * the scratch root under `prefix` (rebuilt per invocation: the gate
    * must not mutate the shared tree the other entries serve from;
    * production runs [[modelCutover]] on the serving root itself). */
  private[graft] def stageModelClone(spark: SparkSession, dir: String,
                                     layers: Seq[String] = ModelLayers,
                                     prefix: String = "graft_e19_model"): String = {
    if (layers == BpeModelLayers) {
      bpeMergesArtifact(spark, dir)
      bpeEncodedWordsArtifact(spark, dir)
      frozenBpeMergesArtifact(spark, dir)
      frozenBpeEncodedWordsArtifact(spark, dir)
    } else {
      dsirPerDocArtifact(spark, dir)
      dsirCutArtifact(spark, dir)
      frozenDsirPerDocArtifact(spark, dir)
      frozenDsirCutArtifact(spark, dir)
    }
    val scratch = graft.store.scratch(spark, prefix, dir)
    graft.store.cloneTree(spark, eArtifactRoot(dir), scratch,
      layers ++ layers.map(l => s"model_frozen/$l"))
    scratch
  }

  /** E19 — the drift-gated MODEL-GENERATION CUTOVER run for real and
    * served: t30 emits the retrain decision, e18 proved the subtree
    * swap — this entry composes them. Both model generations are
    * forced and CLONED to scratch; if ANY pool source's drift exceeds
    * [[TextAnalysis.DriftRetrainKl]] (a 1-row bounded aggregate —
    * fires three sources at sf0.01, src7 at sf0.001, nothing at
    * sf0.1), [[modelCutover]] promotes the refreshed generation over
    * the frozen root; the entry then serves the per-source selection
    * census FROM THE POST-VERB FROZEN ROOT next to the decision —
    * so the gate hash-checks "after the swap, the frozen path IS the
    * retrain" (and on quiet corpora, "no swap, the frozen path is
    * untouched") every round. Oracle composes the drift chain, both
    * DSIR generations, and the fired CASE in one statement.
    * Round13Spec pins the crash windows (e18's pattern) and
    * frozen-after-cutover ≡ fresh full retrain. */
  def e19ModelCutover(spark: SparkSession, dir: String): DataFrame = {
    val scratch = stageModelClone(spark, dir)
    // collect the decision table ONCE (|sources| rows — bounded driver
    // state) and serve the output from the local relation: deciding
    // via a separate aggregate and re-embedding the lazy plan would
    // run the t26 drift chain — the entry's one corpus-tokenizing
    // scan — twice per invocation
    val decPlan = TextAnalysis.t30Decisions(spark, dir)
    val decRows = decPlan.collect()
    val fired = decRows.exists(_.getAs[Long]("retrain") == 1L)
    val dec = spark.createDataFrame(
      java.util.Arrays.asList(decRows: _*), decPlan.schema)
    if (fired) modelCutover(spark, scratch)
    val perdoc = Tables.read(spark, s"$scratch/model_frozen/dsir_perdoc")
    val cut = Tables.read(spark, s"$scratch/model_frozen/dsir_cut")
    val census = perdoc.crossJoin(broadcast(cut))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("logw") > col("cut"), 1L).otherwise(0L)).as("n_selected"))
    dec.withColumn("fired", lit(if (fired) 1L else 0L))
      .join(census, Seq("source"))
      .select(col("source"), col("kl_nats"), col("retrain"), col("fired"),
        col("n_scored"), col("n_selected"))
      .orderBy(col("source"))
  }

  /** e19's oracle: the drift decisions, the global fired flag, and
    * the census under the PROMOTED-OR-KEPT model — frozen when quiet,
    * the full retrain when any source fires. */
  private lazy val e19OracleSql: String = {
    s"""WITH ${TextAnalysis.t26DriftCtes()},
         ${TextAnalysis.dsirTwoGenCtes},
         dec AS (SELECT source, kl_nats,
                        CAST(CASE WHEN kl_nats > ${TextAnalysis.DriftRetrainKl}
                             THEN 1 ELSE 0 END AS BIGINT) AS retrain
                 FROM drift),
         fired AS (SELECT max(retrain) AS f FROM dec),
         fc AS (SELECT p.source, count(*) AS n_scored,
                       CAST(sum(CASE WHEN p.logw > c.cut THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_selected
                FROM fperdoc p CROSS JOIN fcut c GROUP BY 1),
         rc AS (SELECT p.source, count(*) AS n_scored,
                       CAST(sum(CASE WHEN p.logw > c.cut THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_selected
                FROM rperdoc p CROSS JOIN rcut c GROUP BY 1)
         SELECT d.source, d.kl_nats, d.retrain, fi.f AS fired,
                CASE WHEN fi.f = 1 THEN rc.n_scored ELSE fc.n_scored END
                  AS n_scored,
                CASE WHEN fi.f = 1 THEN rc.n_selected ELSE fc.n_selected END
                  AS n_selected
         FROM dec d JOIN fc USING (source) JOIN rc USING (source)
         CROSS JOIN fired fi
         ORDER BY source"""
  }

  /** E20 — the drift-gated TOKENIZER-GENERATION CUTOVER run for real
    * and served (e19's verb at the tokenizer layer — t31 measures,
    * this entry executes): both tokenizer generations are forced and
    * cloned to scratch; if ANY pool source's generation gap exceeds
    * [[TextAnalysis.T31RetrainTpk]] (a |sources|-row bounded decision
    * — quiet at every spec SF, the measured frontier is 12 tpk), the
    * generalized [[modelCutover]] promotes the current generation
    * over the frozen root ([[BpeModelLayers]] — same aside-first
    * crash-resumable per-layer promotion, Round13Spec's pinned
    * windows); the entry then serves the per-source delta fertility
    * FROM THE POST-VERB FROZEN encoded table next to the decision, so
    * the gate hash-checks "after the swap, the frozen tokenizer IS
    * the retrain; on quiet corpora, the frozen generation is
    * untouched" every round. Oracle = the shared t31 fertility body +
    * the fired CASE. Scale: the fertility decision is t31's (two
    * censuses against vocabulary-sized persisted tables); the
    * promotion is per-layer renames. A tokenizer swap invalidates
    * every downstream token count — which is exactly why the verb is
    * drift-GATED rather than cadence-scheduled: it fires only when
    * the frozen generation's inflation on new data exceeds what a
    * retrain would buy back. */
  def e20TokenizerCutover(spark: SparkSession, dir: String): DataFrame = {
    // collect the decision ONCE (|sources| rows — bounded driver
    // state; e19's discipline): re-embedding the lazy plan would run
    // the two corpus censuses twice per invocation. The decision rows
    // carry n_delta_chars and BOTH generations' fertility, so the
    // QUIET branch serves straight from them: the verb
    // touched nothing, hence the frozen fertility t31 just measured
    // IS the served fertility — no second delta census, no clone.
    val decPlan = TextAnalysis.t31TokenizerHealth(spark, dir)
      .select(col("source"), col("gen_gap_tpk"), col("retrain"),
        col("n_delta_chars"), col("tpk_frozen"))
    val decRows = decPlan.collect()
    val fired = decRows.exists(_.getAs[Long]("retrain") == 1L)
    val dec = spark.createDataFrame(
      java.util.Arrays.asList(decRows: _*), decPlan.schema)
    if (!fired)
      return dec.withColumn("fired", lit(0L))
        .select(col("source"), col("gen_gap_tpk"), col("retrain"),
          col("fired"), col("n_delta_chars"),
          col("tpk_frozen").as("tpk_served"))
        .orderBy(col("source"))
    // FIRED: stage the clone, execute the swap, and re-census FROM
    // THE POST-VERB frozen tree — the swap itself must be witnessed
    // by the served rows, not inferred from the decision
    val scratch = stageModelClone(spark, dir, BpeModelLayers, "graft_e20_model")
    modelCutover(spark, scratch, BpeModelLayers)
    val encPost = Tables.read(spark, s"$scratch/model_frozen/bpe_encoded_words")
      .select(col("word"), size(col("toks")).cast("long").as("ptok1"))
    val census = TextAnalysis.sourceWordFreqOn(spark, dir, e4DeltaPred)
      .join(encPost, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("freq") * col("ptok1")).as("ptok"))
    dec.withColumn("fired", lit(1L))
      .join(census, Seq("source"))
      .withColumn("tpk_served", expr("(1000 * ptok) div n_delta_chars"))
      .select(col("source"), col("gen_gap_tpk"), col("retrain"), col("fired"),
        col("n_delta_chars"), col("tpk_served"))
      .orderBy(col("source"))
  }

  /** e20's oracle: the shared t31 fertility body, the global fired
    * flag, and the served fertility under the PROMOTED-OR-KEPT frozen
    * tokenizer — base-trained when quiet, the full retrain when any
    * source fires. */
  private lazy val e20OracleSql: String =
    s"""WITH ${TextAnalysis.t31BodyCtes},
         fired AS (SELECT max(retrain) AS f FROM fert)
         SELECT t.source, t.gen_gap_tpk, t.retrain, fi.f AS fired,
                t.n_delta_chars,
                CASE WHEN fi.f = 1 THEN t.tpk_current ELSE t.tpk_frozen END
                  AS tpk_served
         FROM fert t CROSS JOIN fired fi
         ORDER BY source"""

  /** E21 — the UNIFIED MAINTENANCE CENSUS: four
    * drift gates now guard the persisted-artifact DAG — s14/s30 (IVF
    * index), s27/s29 (kNN graph), t26/t30+e19 (DSIR model), t31+e20
    * (BPE tokenizer) — and an operator had to read four rows to know
    * the DAG's health. This entry evaluates all five persisted-
    * artifact decisions in one pass (the warehouse tier joined as
    * q58's freshness rule as a census row — drifted-month count
    * vs 0 against the source manifest census) and emits the per-tier
    * (measure, threshold, fired) census — the ops dashboard of the
    * whole DAG. Every measure is the tier's OWN exact integer (s29's
    * discipline, never floats): the vector tiers' truth-hit gap
    * ×10000 vs trigger·|Q|·k, the DSIR tier's count of sources above
    * [[TextAnalysis.DriftRetrainKl]] vs 0 (e19's any-source rule as
    * a count), the tokenizer tier's max per-source generation gap vs
    * [[TextAnalysis.T31RetrainTpk]]. Round16Spec pins each tier's
    * fired bit equal to the standalone verb's decision.
    *
    * Scale: no new corpus work — the vector grades are |Q|·k joins
    * over the persisted grading tiers, the DSIR measure is t26's
    * K-row-broadcast drift chain, the tokenizer measure joins the
    * persisted encoded-word tables, the warehouse measure is two
    * month-grain censuses; driver state is 5 rows of three longs. At 100 TB this is the after-each-ingest-window health
    * query — one row per persisted artifact, one trigger each. */
  def e21MaintenanceCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    maintenanceDecisions(spark, dir).rows
      .toDF("tier", "measure", "threshold")
      .withColumn("fired",
        when(col("measure") > col("threshold"), 1L).otherwise(0L))
      .orderBy(col("tier"))
  }

  /** The five tiers' drift decisions gathered ONCE — the single
    * definition e21's census and e22's apply both read, so the two
    * verbs cannot desynchronize on a measure or a trigger. Holds the
    * raw per-tier integers the apply's quiet witnesses also need
    * (appended-generation hits; the collected tokenizer rows). */
  private final case class MaintenanceDecisions(
      ivfApp: Long, ivfReb: Long, gApp: Long, gReb: Long,
      dsirMeasure: Long, starDrift: Long, starTotal: Long,
      bpeRows: Array[org.apache.spark.sql.Row]) {
    val qk: Long = Similarity.QueryCount.toLong * Similarity.TopK
    def bpeMeasure: Long = bpeRows.map(_.getAs[Long]("gen_gap_tpk")).max
    def tpkFrozenSum: Long = bpeRows.map(_.getAs[Long]("tpk_frozen")).sum
    def deltaChars: Map[String, Long] = bpeRows.map(r =>
      r.getAs[String]("source") -> r.getAs[Long]("n_delta_chars")).toMap
    /** (tier, measure, threshold) in the census's tier order. */
    def rows: Seq[(String, Long, Long)] = Seq(
      ("bpe_tokenizer", bpeMeasure, TextAnalysis.T31RetrainTpk),
      ("dsir_model", dsirMeasure, 0L),
      ("ivf_index", (ivfReb - ivfApp) * 10000L, Similarity.S30DriftBp * qk),
      ("knn_graph", (gReb - gApp) * 10000L, Similarity.S29DriftBp * qk),
      ("star_fact", starDrift, 0L))
    def fired: Map[String, Boolean] =
      rows.map { case (t, m, th) => t -> (m > th) }.toMap
  }

  private def maintenanceDecisions(spark: SparkSession,
                                   dir: String): MaintenanceDecisions = {
    val (ivfApp, ivfReb) = Similarity.s30DriftHits(spark, dir)
    val (gApp, gReb) = Similarity.s29DriftHits(spark, dir)
    val dsirMeasure = TextAnalysis.t30Decisions(spark, dir)
      .agg(sum(col("retrain")).as("n")).collect()(0).getLong(0)
    // |sources| rows — bounded driver state (e19/e20's discipline);
    // the apply's quiet tokenizer branch serves straight from these
    val bpeRows = TextAnalysis.t31TokenizerHealth(spark, dir)
      .select(col("source"), col("gen_gap_tpk"), col("n_delta_chars"),
        col("tpk_frozen"))
      .collect()
    val (starDrift, starTotal) = starFactState(spark, dir)
    MaintenanceDecisions(ivfApp, ivfReb, gApp, gReb, dsirMeasure,
      starDrift, starTotal, bpeRows)
  }

  /** The warehouse tier's drift measure (q58's freshness rule at the
    * census grain): the number of months whose served-fact row count
    * disagrees with the source manifest census — the per-month
    * lineitem-line counts, which IS what a 100 TB load pipeline keeps
    * as its load manifest (q58's doc). The full-outer join catches a
    * month missing from either side. 0 on a fingerprint-fresh
    * artifact; any standing corruption or partial write fires — and
    * the gate hash breaks with it, because the oracle states 0 from
    * first principles. Returns (drifted months, served-fact row
    * total) from the SAME month-grain frame — the quiet apply's
    * witness rides along instead of paying a second fact scan. */
  private[graft] def starFactState(spark: SparkSession, dir: String): (Long, Long) = {
    val art = graft.etl.Warehouse.monthCensus(
        graft.etl.RetailStar.servedStar(spark, dir).fact)
      .select(col("month_key"), col("n_rows").as("_a"))
    val manifest = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "MMyyyy")
        .as("month_key"))
      .agg(count(lit(1)).as("_m"))
    // month-grain collect — bounded driver state (80 rows here)
    val months = art.join(manifest, Seq("month_key"), "full")
      .select(coalesce(col("_a"), lit(0L)).as("_a"),
        coalesce(col("_m"), lit(0L)).as("_m"))
      .collect()
    (months.count(r => r.getLong(0) != r.getLong(1)).toLong,
      months.map(_.getLong(0)).sum)
  }

  /** e21's oracle: the five tiers' single-row decision subqueries
    * (each tier's own chain, nested so the CTE vocabularies stay
    * apart), unioned and fired by the shared integer rule. */
  private lazy val e21OracleSql: String =
    s"""WITH bm AS MATERIALIZED (SELECT * FROM ${TextAnalysis.t31DecisionSql} tb),
         dm AS MATERIALIZED (SELECT * FROM ${TextAnalysis.t30DecisionSql} td),
         im AS MATERIALIZED (SELECT * FROM ${Similarity.s30DecisionSql} ti),
         gm AS MATERIALIZED (SELECT * FROM ${Similarity.s29DecisionSql} tg),
         allr AS (
           SELECT 'bpe_tokenizer' AS tier, measure, threshold FROM bm
           UNION ALL SELECT 'dsir_model', measure, threshold FROM dm
           UNION ALL SELECT 'ivf_index', measure, threshold FROM im
           UNION ALL SELECT 'knn_graph', measure, threshold FROM gm
           -- star tier: the warehouse census vs the source manifest
           -- census is identically 0 drifted months from first
           -- principles (fact rows = lineitem lines, month = order
           -- month); the ENGINE measures the served artifact for
           -- real, so any standing corruption breaks this hash
           UNION ALL SELECT 'star_fact', CAST(0 AS BIGINT), CAST(0 AS BIGINT))
         SELECT tier, measure, threshold,
                CAST(CASE WHEN measure > threshold THEN 1 ELSE 0 END AS BIGINT)
                  AS fired
         FROM allr ORDER BY tier"""

  /** E22 — MAINTENANCE APPLY: e21 reads the four
    * drift decisions but executes nothing; the four cutover verbs
    * exist separately (s30 IVF, s29 graph, e19 DSIR, e20 tokenizer).
    * This verb closes the census→action gap: evaluate all five
    * decisions in one pass (e21's exact-integer chains over the
    * persisted grading artifacts), EXECUTE every fired trigger
    * against the maintenance roots (each tier's own staged
    * clone+promote — graft_e22_* prefixes so the gate never mutates
    * the trees the standalone entries serve), and emit the POST-APPLY
    * census: per tier (measure, threshold, fired, served), where
    * `served` is witnessed from the post-apply artifacts — the fired
    * branches re-grade the tree the swap actually produced (e20's
    * witness discipline), the quiet branches report the serving
    * generation's already-persisted grade without cloning anything
    * (the quiet rule). On this corpus the DSIR tier fires
    * at the spec SFs and the other three stay quiet, so both branches
    * are live under the gate; Round17Spec force-fires the quiet tiers
    * and pins each post-apply state equal to the standalone
    * cutover's. This is the scheduled "maintenance run" a production
    * 100 TB pipeline owns: one verb after each ingest window, every
    * persisted artifact — the four model tiers and the warehouse
    * fact — checked and refreshed exactly when its own
    * trigger says so.
    *
    * Scale: decisions are |Q|·k membership joins / K-row broadcasts
    * over persisted tiers (e21's posture); each fired apply costs
    * what its standalone verb costs (renames + one retrain where
    * fired); driver state is 5 rows of four longs. */
  def e22MaintenanceApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = maintenanceDecisions(spark, dir) // ONE computation with e21
    val fired = d.fired
    val served = Map[String, Long](
      "ivf_index" -> (if (fired("ivf_index"))
        Similarity.e22IvfFiredApply(spark, dir) else d.ivfApp),
      "knn_graph" -> (if (fired("knn_graph"))
        Similarity.e22GraphFiredApply(spark, dir) else d.gApp),
      "dsir_model" -> e22DsirServed(spark, dir, fired("dsir_model")),
      "bpe_tokenizer" -> (if (fired("bpe_tokenizer"))
        e22BpeFiredServed(spark, dir, d.deltaChars) else d.tpkFrozenSum),
      // quiet = the served fact's row total, witnessed from the
      // census pass the decision already paid (nothing staged, no
      // second fact scan); fired = q58's gated refresh run against an
      // e22-root clone
      "star_fact" -> (if (fired("star_fact"))
        e22StarFiredApply(spark, dir) else d.starTotal))
    d.rows.map { case (tier, m, th) =>
      (tier, m, th, if (fired(tier)) 1L else 0L, served(tier))
    }
      .toDF("tier", "measure", "threshold", "fired", "served")
      .orderBy(col("tier"))
  }

  /** e22's DSIR tier: total selected-document count under the served
    * model generation. Quiet = one aggregate over the already-
    * persisted frozen artifacts (nothing cloned, nothing touched);
    * fired = stage the clone under the e22 root, execute
    * [[modelCutover]], and count from the POST-SWAP frozen layer. */
  private[graft] def e22DsirServed(spark: SparkSession, dir: String,
                            fired: Boolean): Long = {
    val (perdoc, cut) =
      if (fired) {
        val scratch = stageModelClone(spark, dir, prefix = "graft_e22_model")
        modelCutover(spark, scratch)
        (Tables.read(spark, s"$scratch/model_frozen/dsir_perdoc"),
          Tables.read(spark, s"$scratch/model_frozen/dsir_cut"))
      } else
        (frozenDsirPerDocArtifact(spark, dir), frozenDsirCutArtifact(spark, dir))
    perdoc.crossJoin(broadcast(cut))
      .agg(sum(when(col("logw") > col("cut"), 1L).otherwise(0L)).as("n"))
      .collect()(0).getLong(0)
  }

  /** e22's tokenizer tier, FIRED branch: stage the clone under the
    * e22 root, promote via [[modelCutover]] ([[BpeModelLayers]]), and
    * re-census the delta fertility from the POST-SWAP frozen encoded
    * table (e20's fired census, summed across sources — per-source
    * n_delta_chars rides in from the already-collected decision
    * rows). */
  private[graft] def e22BpeFiredServed(spark: SparkSession, dir: String,
                                deltaChars: Map[String, Long]): Long = {
    val scratch = stageModelClone(spark, dir, BpeModelLayers, "graft_e22_bpe")
    modelCutover(spark, scratch, BpeModelLayers)
    val encPost = Tables.read(spark, s"$scratch/model_frozen/bpe_encoded_words")
      .select(col("word"), size(col("toks")).cast("long").as("ptok1"))
    val ptok = TextAnalysis.sourceWordFreqOn(spark, dir, e4DeltaPred)
      .join(encPost, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("freq") * col("ptok1")).as("ptok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    deltaChars.map { case (s, ch) => (1000L * ptok(s)) / ch }.sum
  }

  /** e22's warehouse tier, FIRED branch (never live on a fingerprint-
    * fresh artifact — Round17Spec force-fires it): stage a STALE
    * partitioned clone of the served fact under the e22 root (q58's
    * late slice withheld), run [[graft.etl.Warehouse
    * .refreshDriftedMonths]] against the served fact as source, and
    * return the post-apply total row count — which must equal the
    * source's (gate ∘ refresh ≡ rebuild, pinned). */
  private[graft] def e22StarFiredApply(spark: SparkSession, dir: String): Long = {
    import graft.etl.{RetailStar, Warehouse}
    val target = s"${graft.store.scratch(spark, "graft_e22_star", dir)}/fact_by_month"
    // q58's exact staging (one shared definition — the forced-apply
    // law must exercise the scenario q58 actually gates)
    val fact = RetailStar.stageStaleWarehouse(spark, dir, target)
    Warehouse.refreshDriftedMonths(spark, target, fact.schema, fact)
    Tables.read(spark, fact.schema, target).count()
  }

  /** e22's oracle: the five tiers' single-row (measure, threshold,
    * served) subqueries — the vector tiers' decision fragments now
    * carry their fired-CASE served hit counts, the DSIR tier's apply
    * fragment scores both model generations, the tokenizer tier's
    * sums the served generation's fertility — unioned under the one
    * shared fired rule. */
  private lazy val e22OracleSql: String =
    s"""WITH bm AS MATERIALIZED (SELECT * FROM ${TextAnalysis.t31DecisionSql} tb),
         dm AS MATERIALIZED (SELECT * FROM ${TextAnalysis.t30ApplySql} td),
         im AS MATERIALIZED (SELECT * FROM ${Similarity.s30DecisionSql} ti),
         gm AS MATERIALIZED (SELECT * FROM ${Similarity.s29DecisionSql} tg),
         allr AS (
           SELECT 'bpe_tokenizer' AS tier, measure, threshold, served FROM bm
           UNION ALL SELECT 'dsir_model', measure, threshold, served FROM dm
           UNION ALL SELECT 'ivf_index', measure, threshold, served FROM im
           UNION ALL SELECT 'knn_graph', measure, threshold, served FROM gm
           -- star tier: 0 drifted months from first principles (the
           -- e21 rationale); served = the quiet branch's witnessed
           -- fact total, which must equal the source line count
           UNION ALL SELECT 'star_fact', CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), (SELECT count(*) FROM lineitem))
         SELECT tier, measure, threshold,
                CAST(CASE WHEN measure > threshold THEN 1 ELSE 0 END AS BIGINT)
                  AS fired,
                served
         FROM allr ORDER BY tier"""

  /** The 90/10 split lottery — ONE definition of the hash rule e23
    * grades and e24 packs by (a drifted copy would let the release
    * pack a different split than the guard certified). `c` is the
    * split unit: the doc id for the naive scheme, the cluster key for
    * the guarded one. */
  private def splitOf(c: Column): Column =
    when(StableHash.hash64(concat(lit("e23:"), c.cast("string"))) % 10 < 9,
      "train").otherwise("val")

  /** E23 — LEAKAGE-SAFE train/validation split (the split step a
    * training-data pipeline runs after dedup, with the guard the
    * naive form silently lacks): a document-level hash split strands
    * near-duplicate pairs across the train/val boundary — the
    * validation set then "contains" training documents up to a
    * near-dup rewrite, the classic eval-contamination channel
    * (deduplication work, e.g. Lee et al. 2022, measures exactly this
    * leak). The guard: assign every DEDUP CLUSTER wholesale — the
    * split unit is the labels artifact's cluster_id (singletons are
    * their own cluster), hashed with the portable [[StableHash]], so
    * both endpoints of every verified pair land on the same side BY
    * CONSTRUCTION. The entry runs BOTH schemes and emits the per-
    * (scheme, split) census with each scheme's measured leak count —
    * doc_hash leaks live on this corpus (3 pairs at sf0.001, 2 at
    * sf0.01), cluster leaks exactly 0; the gate hashes the contrast
    * every round. 90/10 by hash mod 10 — deterministic, portable,
    * stable under corpus growth (a doc's side never changes when
    * other docs arrive, unlike quantile-based splits).
    *
    * Scale: the split column is a row-local hash over a LEFT join
    * against the candidate-pair-bounded labels artifact (≪ corpus);
    * the leak grade joins the persisted pairs table (bounded by LSH
    * candidates) against the split table on doc_id — no corpus-sized
    * shuffle beyond the one labels join; driver state is 2 leak
    * longs. */
  def e23SplitGuard(spark: SparkSession, dir: String): DataFrame = {
    val labels = labelsArtifact(spark, dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    // no cache: the split frame is a row-local projection over one
    // labels left-join — its three consumers (census union ×2, leak
    // grade ×1) re-derive it more cheaply than a corpus-sized cache
    // would hold it at scale
    val sp = docs
      .join(labels.select(col("node").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        splitOf(col("doc_id")).as("doc_split"),
        splitOf(coalesce(col("cluster_id"), col("doc_id"))).as("cl_split"))
    val pa = sp.select(col("doc_id").as("a_id"),
      col("doc_split").as("a_d"), col("cl_split").as("a_c"))
    val pb = sp.select(col("doc_id").as("b_id"),
      col("doc_split").as("b_d"), col("cl_split").as("b_c"))
    // 1-row leak frame, broadcast under the census — the whole entry
    // stays one lazy distributed plan (no driver-side collect)
    val lk = pairsArtifact(spark, dir).select(col("a_id"), col("b_id"))
      .join(pa, Seq("a_id")).join(pb, Seq("b_id"))
      .agg(
        coalesce(sum(when(col("a_d") =!= col("b_d"), 1L).otherwise(0L)), lit(0L))
          .as("doc_leak"),
        coalesce(sum(when(col("a_c") =!= col("b_c"), 1L).otherwise(0L)), lit(0L))
          .as("cl_leak"))
    sp.select(lit("doc_hash").as("scheme"), col("doc_split").as("split"),
        col("n_tok"))
      .unionByName(sp.select(lit("cluster").as("scheme"),
        col("cl_split").as("split"), col("n_tok")))
      .groupBy(col("scheme"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .crossJoin(broadcast(lk))
      .withColumn("leaked_pairs",
        when(col("scheme") === "doc_hash", col("doc_leak"))
          .otherwise(col("cl_leak")))
      .drop("doc_leak", "cl_leak")
      .orderBy(col("scheme"), col("split"))
  }

  /** e23's oracle: the d7 closure (labels + pairs CTEs), the same
    * portable-hash split columns, the leak grade over the pair table,
    * and the per-(scheme, split) census in one statement. */
  private lazy val e23OracleSql: String =
    s"""WITH RECURSIVE ${Dedup.d7LabelCtes},
         e23ck AS (
           SELECT d.doc_id, len(string_split(trim(d.text), ' ')) AS n_tok,
                  COALESCE(l.cluster_id, d.doc_id) AS ckey
           FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         e23sp AS MATERIALIZED (
           SELECT doc_id, n_tok,
                  CASE WHEN ${StableHash.duckdbHash64(
                    "'e23:' || CAST(doc_id AS VARCHAR)")} % 10 < 9
                       THEN 'train' ELSE 'val' END AS doc_split,
                  CASE WHEN ${StableHash.duckdbHash64(
                    "'e23:' || CAST(ckey AS VARCHAR)")} % 10 < 9
                       THEN 'train' ELSE 'val' END AS cl_split
           FROM e23ck),
         e23lk AS (
           SELECT CAST(sum(CASE WHEN a.doc_split <> b.doc_split
                           THEN 1 ELSE 0 END) AS BIGINT) AS doc_leak,
                  CAST(sum(CASE WHEN a.cl_split <> b.cl_split
                           THEN 1 ELSE 0 END) AS BIGINT) AS cl_leak
           FROM pairs p JOIN e23sp a ON a.doc_id = p.a_id
           JOIN e23sp b ON b.doc_id = p.b_id),
         e23cen AS (
           SELECT 'doc_hash' AS scheme, doc_split AS split,
                  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
           FROM e23sp GROUP BY 2
           UNION ALL
           SELECT 'cluster', cl_split, count(*), CAST(sum(n_tok) AS BIGINT)
           FROM e23sp GROUP BY 2)
         SELECT c.scheme, c.split, c.n_docs, c.n_tokens,
                CASE WHEN c.scheme = 'doc_hash' THEN k.doc_leak
                     ELSE k.cl_leak END AS leaked_pairs
         FROM e23cen c CROSS JOIN e23lk k
         ORDER BY scheme, split"""

  /** E24 — split-aware RELEASE PACKING (the step after e23: the
    * certified split, delivered as trainable shards): the funnel's
    * final survivors (docflags s5 — dedup'd, quality-filtered,
    * decontaminated, DSIR-selected, mix-sampled) are assigned their
    * CLUSTER-WHOLESALE split (e23's exact hash rule — [[splitOf]] is
    * one shared definition, so the release can never pack a different
    * split than the guard certified) and each split is packed
    * independently into e7's fixed-capacity token bins (same shard
    * arithmetic, same in-order offset law — [[binsFrom]] verbatim per
    * split). Serve = the per-(split, shard) bin/doc/token census —
    * what a training job's data loader reads to open its train and
    * held-out streams. Oracle composes the full selectedCtes funnel,
    * the labels closure it already embeds, the shared hash split, and
    * the packing window in one statement.
    *
    * Scale: the split column rides the docflags scan (row-local hash
    * + the candidate-pair-bounded labels left-join); packing is e7's
    * shard-local window — the census is |splits|·|shards| rows. */
  def e24ReleasePack(spark: SparkSession, dir: String): DataFrame = {
    val labels = labelsArtifact(spark, dir)
      .select(col("node").as("doc_id"), col("cluster_id"))
    val sp = docFlagsArtifact(spark, dir)
      .select(col("doc_id"), col("n_tok"), col("s5"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("s5"),
        splitOf(coalesce(col("cluster_id"), col("doc_id"))).as("split"))
    // ONE docflags scan: both splits pack in the same window pass,
    // each (split, shard) stream offsetting independently
    val packed = binsFrom(sp, Seq("split"))
    packed.groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("shard"))
  }

  /** e24's oracle: the funnel chain (labels CTE included), the shared
    * split hash, and the per-split packing window in one statement. */
  private lazy val e24OracleSql: String =
    s"""WITH RECURSIVE $selectedCtes,
         e24sp AS (
           SELECT m.doc_id, m.n_tok,
                  CASE WHEN ${StableHash.duckdbHash64(
                    "'e23:' || CAST(COALESCE(l.cluster_id, m.doc_id) AS VARCHAR)")}
                         % 10 < 9
                       THEN 'train' ELSE 'val' END AS split
           FROM mx m LEFT JOIN labels l ON l.doc_id = m.doc_id
           WHERE m.s5 = 1),
         e24off AS (
           SELECT split, doc_id % ${TextAnalysis.PackShards} AS shard, n_tok,
                  sum(n_tok) OVER (
                    PARTITION BY split, doc_id % ${TextAnalysis.PackShards}
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tok AS start_off
           FROM e24sp),
         e24b AS (
           SELECT split, shard,
                  CAST(floor(start_off / ${TextAnalysis.PackCapacity}) AS BIGINT)
                    AS bin,
                  count(*) AS nd, CAST(sum(n_tok) AS BIGINT) AS nt
           FROM e24off GROUP BY 1, 2, 3)
         SELECT split, shard, count(*) AS n_bins,
                CAST(sum(nd) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens
         FROM e24b GROUP BY 1, 2 ORDER BY split, shard"""

  /** The retention-delete census as SQL, parameterized over the KEEP
    * predicate (e11 retires a source, st22 a streamed takedown id
    * slice — one statement of delete ∘ repack ≡
    * rebuild-without-deleted for both). */
  private[graft] def retentionOracleSql(keepSql: String): String =
    s"""WITH RECURSIVE $selectedCtes,
         ${epochPackSql("b", "TRUE")},
         bsum AS (
           SELECT shard, CAST(sum(n_docs) AS BIGINT) AS b_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS b_tokens
           FROM ballb GROUP BY 1),
         ${epochPackSql("r", keepSql)},
         rhb AS (
           SELECT shard, bin, n_docs, n_tokens,
                  (${StableHash.duckdbHash64(
                    "'e7:1:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)")}) AS h,
                  (${StableHash.duckdbHash64(
                    "'e9:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)" +
                      " || ':' || CAST(n_docs AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR)")})
                    % $E9HashMod AS c
           FROM rallb),
         rp AS (
           SELECT shard, n_docs, n_tokens, c,
                  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, bin) AS BIGINT) AS pos
           FROM rhb),
         aft AS (
           SELECT shard, count(*) AS n_bins,
                  CAST(sum(n_docs) AS BIGINT) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                  CAST(sum(pos * c) AS BIGINT) AS order_checksum
           FROM rp GROUP BY 1)
         SELECT b.shard,
                COALESCE(a.n_bins, 0) AS n_bins,
                COALESCE(a.n_docs, 0) AS n_docs,
                COALESCE(a.n_tokens, 0) AS n_tokens,
                b.b_docs - COALESCE(a.n_docs, 0) AS n_docs_removed,
                b.b_tokens - COALESCE(a.n_tokens, 0) AS n_tokens_removed,
                COALESCE(a.order_checksum, 0) AS order_checksum
         FROM bsum b LEFT JOIN aft a ON a.shard = b.shard
         ORDER BY b.shard"""

  /** The offboarded pair table's SQL twin: d4's full pair SELECT with
    * retired-endpoint rows removed via LEFT-JOIN membership (the
    * binder-safe form of two NOT INs) — the `pairs` body of every
    * retracted-labeling oracle. */
  private lazy val offboardPairsSql: String =
    s"""SELECT p.a_id, p.b_id FROM (${Dedup.d4OracleSql}) p
        LEFT JOIN documents da
          ON da.doc_id = p.a_id AND da.source = '$E14RetiredSource'
        LEFT JOIN documents db
          ON db.doc_id = p.b_id AND db.source = '$E14RetiredSource'
        WHERE da.doc_id IS NULL AND db.doc_id IS NULL"""

  /** Rebuild-without-retired as one SELECT — the shared oracle of
    * e14 (incremental retraction) and e17 (retract-then-arrive). */
  private lazy val retractedLabelsOracleSql: String =
    s"""WITH RECURSIVE ${Dedup.d7LabelCtesFrom(offboardPairsSql)}
        SELECT doc_id, cluster_id FROM labels ORDER BY doc_id"""

  /** e15's oracle: ONE statement rebuilding every offboarded layer
    * from scratch without the retired source — one shared minhash
    * chain (signatures read from `mh`, pairs from the verified-pair
    * select), d7's closure over the filtered pairs, the funnel with
    * drops from the RETRACTED labels and frozen full-corpus models,
    * e10's epoch packing, e9's manifest — each folded with the same
    * 2^40-bounded content hash the Spark census computes. */
  private lazy val e15OracleSql: String = {
    val mod = 1L << 40
    def hsum(expr: String): String =
      s"CAST(COALESCE(sum(${StableHash.duckdbHash64(expr)} % $mod), 0) AS BIGINT)"
    def census(layer: String, from: String, expr: String): String =
      s"SELECT '$layer' AS layer, count(*) AS n_rows, ${hsum(expr)} AS content_sum FROM $from"
    val keep = s"source <> '$E14RetiredSource'"
    val sigStr = (Seq("CAST(doc_id AS VARCHAR)") ++
      (0 until Dedup.NumHashes).map(k => s"CAST(mh$k AS VARCHAR)"))
      .mkString(" || ':' || ")
    def i01(c: String): String = s"(CASE WHEN $c THEN '1' ELSE '0' END)"
    s"""WITH RECURSIVE ${Dedup.d4ChainCtes},
         oret AS (SELECT doc_id FROM documents WHERE source = '$E14RetiredSource'),
         offsig AS (
           SELECT mh.* FROM mh LEFT JOIN oret ON oret.doc_id = mh.doc_id
           WHERE oret.doc_id IS NULL),
         offpairs AS MATERIALIZED (
           SELECT p.a_id, p.b_id, p.jaccard FROM (${Dedup.d4PairsSelect}) p
           LEFT JOIN oret ra ON ra.doc_id = p.a_id
           LEFT JOIN oret rb ON rb.doc_id = p.b_id
           WHERE ra.doc_id IS NULL AND rb.doc_id IS NULL),
         ${cleanCtesFrom(
           Dedup.d7LabelCtesFrom("SELECT a_id, b_id FROM offpairs"))},
         ${TextAnalysis.dsirCtes},
         ${TextAnalysis.mixRateCtes},
         ${fullFlagCtes(keep)},
         mx AS (SELECT doc_id, source, n_tok,
                       CASE WHEN s5 THEN 1 ELSE 0 END AS s5
                FROM ofl),
         ${epochPackSql("o", "TRUE")},
         omhb AS (
           SELECT shard, bin, n_docs, n_tokens,
                  (${StableHash.duckdbHash64(
                    "'e7:1:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)")}) AS h,
                  (${StableHash.duckdbHash64(
                    "'e9:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)" +
                      " || ':' || CAST(n_docs AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR)")})
                    % $E9HashMod AS c
           FROM oallb),
         omp AS (
           SELECT shard, n_docs, n_tokens, c,
                  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, bin) AS BIGINT) AS pos
           FROM omhb),
         oman AS (
           SELECT shard, count(*) AS n_bins,
                  CAST(sum(n_docs) AS BIGINT) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                  CAST(sum(pos * c) AS BIGINT) AS order_checksum
           FROM omp GROUP BY 1)
         ${census("signatures", "offsig", sigStr)}
         UNION ALL ${census("pairs", "offpairs",
      "CAST(a_id AS VARCHAR) || ':' || CAST(b_id AS VARCHAR) || ':' || " +
        "CAST(CAST(round(jaccard * 1000) AS BIGINT) AS VARCHAR)")}
         UNION ALL ${census("labels", "labels",
      "CAST(doc_id AS VARCHAR) || ':' || CAST(cluster_id AS VARCHAR)")}
         UNION ALL ${census("docflags", "ofl",
      "CAST(doc_id AS VARCHAR) || ':' || source || ':' || CAST(n_tok AS VARCHAR)" +
        s" || ':' || ${i01("s1")} || ':' || ${i01("s2")} || ':' || ${i01("s3")}" +
        s" || ':' || ${i01("s4")} || ':' || ${i01("s5")}" +
        " || ':' || CAST(COALESCE(rate_ppm, -1) AS VARCHAR)")}
         UNION ALL ${census("bins", "oallb",
      "CAST(epoch AS VARCHAR) || ':' || CAST(shard AS VARCHAR) || ':' || " +
        "CAST(bin AS VARCHAR) || ':' || CAST(n_docs AS VARCHAR) || ':' || " +
        "CAST(n_tokens AS VARCHAR)")}
         UNION ALL ${census("manifest", "oman",
      "CAST(shard AS VARCHAR) || ':' || CAST(n_bins AS VARCHAR) || ':' || " +
        "CAST(n_docs AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR) || ':' || " +
        "CAST(order_checksum AS VARCHAR)")}
         ORDER BY layer"""
  }

  /** The e1 stage-1..3 CTE chain (labels → clean set), shared by the
    * e1/e2/e3 oracles so the funnel's SQL twin has one definition —
    * parameterized over the LABELS source so the offboarded world
    * (e15: drops from the RETRACTED labeling) states the same funnel
    * with one text. Only `drops` depends on the labeling; the
    * eval-gram set stays the frozen full-corpus one in both worlds
    * (eval docs are doc_id % ${TextAnalysis.EvalStride} = 0, never
    * the retired source in this corpus — and model freezing is the
    * documented offboard posture: models forget on retrain cadence,
    * rows leave now). */
  private def cleanCtesFrom(labelCtes: String): String =
    s"""$labelCtes,
         w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
         drops AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id),
         q AS (SELECT doc_id, source, len(w) AS n_tok,
                 CAST(greatest(len(g), 1) - len(list_distinct(g)) AS DOUBLE)
                   / CAST(greatest(len(g), 1) AS DOUBLE) AS dfrac
               FROM (SELECT doc_id, source, w, ${TextAnalysis.sqlGrams(3)} AS g FROM w) t),
         u AS (SELECT doc_id,
                      unnest(list_distinct(${TextAnalysis.sqlGrams(TextAnalysis.DecontaminationGramK)})) AS g
               FROM w),
         ev AS (SELECT DISTINCT g FROM u WHERE doc_id % ${TextAnalysis.EvalStride} = 0),
         contam AS (SELECT DISTINCT u.doc_id FROM u JOIN ev USING (g)
                    WHERE u.doc_id % ${TextAnalysis.EvalStride} <> 0)"""

  private lazy val cleanCtes: String = cleanCtesFrom(Dedup.d7LabelCtes)

  /** e2's selection+mixing flags over the clean set — the s4/s5 CTE
    * tail shared by the e2 and e3 oracles. Composes the standalone
    * models verbatim: t21's dsirCtes (perdoc, cut) and t16's
    * mixRateCtes (mixr). The same flag algebra in full-width boolean
    * form lives in [[fullFlagCtes]] (the docflags row shape, e15's
    * census) — edit s4/s5 semantics in BOTH. */
  private lazy val selectedCtes: String =
    s"""$cleanCtes,
         clean AS (
           SELECT q.doc_id, q.source, q.n_tok
           FROM q
           LEFT JOIN drops dr ON dr.doc_id = q.doc_id
           LEFT JOIN contam c3 ON c3.doc_id = q.doc_id
           WHERE q.doc_id % ${TextAnalysis.EvalStride} <> 0
             AND dr.doc_id IS NULL
             AND q.dfrac <= ${TextAnalysis.RepetitionThreshold}
             AND c3.doc_id IS NULL),
         ${TextAnalysis.dsirCtes},
         ${TextAnalysis.mixRateCtes},
         sel AS (
           SELECT cl.doc_id, cl.source, cl.n_tok,
                  CASE WHEN cl.source = '${TextAnalysis.DsirTarget}'
                         OR pd.logw > ct.cut THEN 1 ELSE 0 END AS s4
           FROM clean cl
           LEFT JOIN perdoc pd ON pd.doc_id = cl.doc_id
           CROSS JOIN cut ct),
         mx AS (
           SELECT s.doc_id, s.source, s.n_tok, s.s4,
                  CASE WHEN s.s4 = 1
                        AND (${TextAnalysis.mixKeepSql("s.doc_id")}) < r.rate_ppm
                       THEN 1 ELSE 0 END AS s5
           FROM sel s JOIN mixr r ON r.source = s.source)"""

  /** The FULL-WIDTH boolean twin of [[selectedCtes]]' survivor-form
    * sel/mx — the docflags artifact's row shape (every pool doc,
    * cumulative boolean s1..s5, LEFT-joined rate_ppm), consumed by
    * the e15 layer census. ONE flag algebra stated in two shapes
    * (survivor-only ints with a rated-inner-join there; all-docs
    * booleans with left-join rates here): edit the s1–s5 definitions
    * in BOTH, or the docflags census drifts from the funnel censuses.
    * The drift is not silent — both texts hash-compare against the
    * SAME Spark flag code (docFlagsDerived) at the gate, so a
    * one-sided edit fails e15 or e1–e3 loudly — but keep them
    * adjacent and named so it never gets that far. Expects
    * cleanCtesFrom's q/drops/contam and the dsir/mixRate model CTEs
    * in scope; `keep` filters the pool (e15: the retired source). */
  private def fullFlagCtes(keep: String): String =
    s"""oflj AS (
           SELECT q.doc_id, q.source, q.n_tok,
                  (dr.doc_id IS NULL) AS s1,
                  (dr.doc_id IS NULL
                    AND q.dfrac <= ${TextAnalysis.RepetitionThreshold}) AS s2,
                  (dr.doc_id IS NULL
                    AND q.dfrac <= ${TextAnalysis.RepetitionThreshold}
                    AND c3.doc_id IS NULL) AS s3
           FROM q
           LEFT JOIN drops dr ON dr.doc_id = q.doc_id
           LEFT JOIN contam c3 ON c3.doc_id = q.doc_id
           WHERE q.doc_id % ${TextAnalysis.EvalStride} <> 0 AND (q.$keep)),
         ofl AS (
           SELECT j.doc_id, j.source, j.n_tok, j.s1, j.s2, j.s3,
                  (j.s3 AND (j.source = '${TextAnalysis.DsirTarget}'
                     OR pd.logw > ct.cut)) AS s4,
                  (j.s3 AND (j.source = '${TextAnalysis.DsirTarget}'
                     OR pd.logw > ct.cut)
                    AND (${TextAnalysis.mixKeepSql("j.doc_id")}) < r.rate_ppm) AS s5,
                  r.rate_ppm
           FROM oflj j
           LEFT JOIN perdoc pd ON pd.doc_id = j.doc_id
           CROSS JOIN cut ct
           LEFT JOIN mixr r ON r.source = j.source)"""

  /** e4/e5's mirror: the same stages with every model CTE
    * train-filtered to the base slice and every scoring/report CTE
    * delta-filtered — the SQL statement of "frozen models, delta-only
    * processing". Parameterized over base and delta as doc_id-level
    * predicates (source = 'src' || doc_id % 20 in this corpus, so
    * source predicates are doc_id-expressible); base need NOT be the
    * complement of delta — e5's new-source case keeps the new feed's
    * eval-rule docs out of BOTH. */
  private def ingestOracleSql(baseOf: String => String,
                              deltaOf: String => String): String = {
    val base = baseOf("doc_id")
    val delta = deltaOf("doc_id")
    s"""WITH RECURSIVE ${Dedup.d7LabelCtes},
         w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
         drops AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id),
         q AS (SELECT doc_id, source, len(w) AS n_tok,
                 CAST(greatest(len(g), 1) - len(list_distinct(g)) AS DOUBLE)
                   / CAST(greatest(len(g), 1) AS DOUBLE) AS dfrac
               FROM (SELECT doc_id, source, w, ${TextAnalysis.sqlGrams(3)} AS g
                     FROM w WHERE $delta) t),
         u AS (SELECT doc_id,
                      unnest(list_distinct(${TextAnalysis.sqlGrams(TextAnalysis.DecontaminationGramK)})) AS g
               FROM w
               WHERE (doc_id % ${TextAnalysis.EvalStride} = 0 AND ($base)) OR ($delta)),
         ev AS (SELECT DISTINCT g FROM u
                WHERE doc_id % ${TextAnalysis.EvalStride} = 0 AND ($base)),
         contam AS (SELECT DISTINCT u.doc_id FROM u JOIN ev USING (g)
                    WHERE ${deltaOf("u.doc_id")}),
         ${TextAnalysis.dsirModelCtes(base)},
         ${TextAnalysis.dsirPerdocCte("perdocb", baseOf("f.doc_id"))},
         cut AS (SELECT quantile_cont(logw, ${TextAnalysis.DsirSelectQuantile}) AS cut
                 FROM perdocb),
         ${TextAnalysis.dsirPerdocCte("perdocd", deltaOf("f.doc_id"))},
         ${TextAnalysis.mixRateCtesOn(base)},
         j AS (
           SELECT q.doc_id, q.source, q.n_tok,
                  (dr.doc_id IS NULL) AS s1,
                  (dr.doc_id IS NULL
                    AND q.dfrac <= ${TextAnalysis.RepetitionThreshold}) AS s2,
                  (dr.doc_id IS NULL
                    AND q.dfrac <= ${TextAnalysis.RepetitionThreshold}
                    AND c.doc_id IS NULL) AS s3
           FROM q
           LEFT JOIN drops dr ON dr.doc_id = q.doc_id
           LEFT JOIN contam c ON c.doc_id = q.doc_id
           WHERE NOT (q.doc_id % ${TextAnalysis.EvalStride} = 0
                      AND ${baseOf("q.doc_id")})),
         sel AS (
           SELECT j.doc_id, j.source, j.n_tok, j.s1, j.s2, j.s3,
                  (j.s3 AND (j.source = '${TextAnalysis.DsirTarget}'
                     OR pd.logw > ct.cut)) AS s4
           FROM j
           LEFT JOIN perdocd pd ON pd.doc_id = j.doc_id
           CROSS JOIN cut ct),
         mx AS (
           SELECT s.doc_id, s.source, s.n_tok, s.s1, s.s2, s.s3, s.s4,
                  (s.s4 AND r.rate_ppm IS NULL) AS quar,
                  (s.s4 AND (${TextAnalysis.mixKeepSql("s.doc_id")})
                     < COALESCE(r.rate_ppm, 0)) AS s5
           FROM sel s LEFT JOIN mixr r ON r.source = s.source)
         SELECT source, count(*) AS n_arrived,
                CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
                CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
                CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
                CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
                CAST(sum(CASE WHEN quar THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
                CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
                CAST(sum(CASE WHEN s5 THEN n_tok ELSE 0 END) AS BIGINT) AS final_tokens
         FROM mx GROUP BY 1 ORDER BY source"""
  }

  /** e4's concrete predicates: delta = every 10th row-block per
    * source minus eval-rule docs; base = its complement. */
  private[ext] def e4DeltaSqlOf(id: String): String =
    s"(($id // 20) % 10 = $E4DeltaDigit AND $id % ${TextAnalysis.EvalStride} <> 0)"
  private lazy val e4OracleSql: String =
    ingestOracleSql(id => s"NOT ${e4DeltaSqlOf(id)}", e4DeltaSqlOf)

  /** e5's: the whole of src7 arrives new (source = 'src' || doc_id %
    * 20 ⇒ src7 ⇔ doc_id % 20 = 7); base strictly excludes it, and the
    * new feed's eval-rule docs are in neither slice. (doc_id % 20 = 7
    * already implies non-eval — eval is doc_id % 20 = 0 — but the
    * predicate states the rule, not the corpus accident.) */
  private lazy val e5OracleSql: String = {
    val digit = E5NewSource.stripPrefix("src").toInt
    ingestOracleSql(
      id => s"($id % 20 <> $digit)",
      id => s"($id % 20 = $digit AND $id % ${TextAnalysis.EvalStride} <> 0)")
  }

  /** The same funnel assembled from the standalone operators' oracle
    * fragments: d7's transitive-closure labeling, t9's dup-fraction
    * formula, t10's eval-gram overlap. */
  /** e6's twin: the same d7 transitive-closure labels, the same
    * cluster-representative key, the same md5-derived lottery —
    * parameterized over the labeling and the document filter so e16
    * can state the identical split census over the OFFBOARDED world
    * (retracted labels, retired rows gone). */
  private def e6CensusSql(labelCtes: String, keep: String): String =
    s"""WITH RECURSIVE $labelCtes,
         docs AS (
           SELECT doc_id, source,
                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
           FROM documents WHERE ($keep)),
         keyed AS (
           SELECT d.doc_id, d.source, d.n_tok,
                  COALESCE(l.cluster_id, d.doc_id) AS split_key
           FROM docs d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         sp AS (
           SELECT source, n_tok,
                  CASE WHEN ppm < $SplitTrainPpm THEN 'train'
                       WHEN ppm < $SplitValidPpm THEN 'valid'
                       ELSE 'test' END AS split
           FROM (SELECT *,
                   (${StableHash.duckdbHash64(SplitSeed, "CAST(split_key AS VARCHAR)")})
                     % $SplitPpm AS ppm
                 FROM keyed) t)
         SELECT split, source, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM sp GROUP BY 1, 2 ORDER BY split, source"""

  private lazy val e6OracleSql: String = e6CensusSql(Dedup.d7LabelCtes, "TRUE")

  /** waterFill's oracle chain — the spec ladder, exact-ratio sort,
    * prefix sums, cross-multiply cut (sentinel row for the B ≥ total
    * degenerate), and the frozen θ allocation, all integer — assuming
    * an `avail(source, avail)` CTE precedes it; ends with `alloc`.
    * ONE definition shared by the e8 and e12 oracles (the epochPackSql
    * lesson: a law in two SQL copies drifts). */
  private lazy val waterFillSqlCtes: String =
    s"""wfbase AS (
           SELECT source, avail,
                  ((row_number() OVER (ORDER BY source) - 1) % $E8WeightLadder) + 1 AS w
           FROM avail),
         wfb2 AS (SELECT source, avail, w, (avail * $E8RatioLcm) // w AS rkey FROM wfbase),
         wftt AS (SELECT CAST(sum(avail) AS BIGINT) AS ta,
                       CAST(sum(w) AS BIGINT) AS tw FROM wfb2),
         wfflags AS (
           SELECT b.source, b.avail, b.w, b.rkey, t.ta, t.tw,
                  row_number() OVER (ORDER BY b.rkey, b.source) AS rn,
                  COALESCE(CAST(sum(b.avail) OVER (ORDER BY b.rkey, b.source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                    0) AS pa,
                  COALESCE(CAST(sum(b.w) OVER (ORDER BY b.rkey, b.source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                    0) AS pw
           FROM wfb2 b, wftt t),
         wff2 AS (
           SELECT *, ($E8BudgetNum * ta) // $E8BudgetDen - pa AS num,
                  tw - pw AS den
           FROM wfflags),
         wfcut AS (
           SELECT * FROM (
             SELECT rn AS kk, num AS tn, den AS td FROM wff2
             WHERE avail * den > num * w
             UNION ALL
             SELECT 9223372036854775807, CAST(0 AS BIGINT), CAST(1 AS BIGINT)) u
           ORDER BY kk LIMIT 1),
         wfalloc AS (
           SELECT f.source, f.w AS weight, f.avail AS avail_tokens,
                  CASE WHEN f.rn < c.kk THEN f.avail
                       ELSE least(f.avail, (c.tn * f.w) // c.td) END AS alloc_tokens,
                  CASE WHEN f.rn < c.kk THEN 1 ELSE 0 END AS saturated
           FROM wff2 f, wfcut c)"""

  /** e8's oracle: t28's census chain as the avail subquery, then the
    * shared water-filling chain. */
  private lazy val e8OracleSql: String =
    s"""WITH avail AS MATERIALIZED (
           SELECT source, n_bpe_tokens AS avail
           FROM (${TextAnalysis.t28OracleSql}) t28),
         $waterFillSqlCtes
         SELECT source, CAST(weight AS BIGINT) AS weight, avail_tokens,
                CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
                CAST(saturated AS INTEGER) AS saturated,
                CAST((1000 * alloc_tokens) // greatest(avail_tokens, 1) AS BIGINT) AS fill_permille
         FROM wfalloc ORDER BY source"""

  /** The epoch-packing CTE chain over `mx` (e10's append law: base
    * slice packed first, delta slice offset past each shard's
    * watermark), name-prefixed so one statement can hold several
    * worlds, with an extra row predicate for e11's retained world.
    * Ends with `<p>allb` = (epoch, shard, bin, n_docs, n_tokens). */
  private def epochPackSql(p: String, extra: String): String =
    s"""${p}fin0 AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard, n_tok
                  FROM mx WHERE s5 = 1 AND NOT ${e4DeltaSqlOf("doc_id")} AND ($extra)),
         ${p}coff0 AS (
           SELECT shard, n_tok,
                  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
           FROM ${p}fin0),
         ${p}bins0 AS (
           SELECT shard, CAST(floor(start_off / ${TextAnalysis.PackCapacity}) AS BIGINT) AS bin,
                  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
           FROM ${p}coff0 GROUP BY 1, 2),
         ${p}off AS (SELECT shard, max(bin) + 1 AS o FROM ${p}bins0 GROUP BY 1),
         ${p}fin1 AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard, n_tok
                  FROM mx WHERE s5 = 1 AND ${e4DeltaSqlOf("doc_id")} AND ($extra)),
         ${p}coff1 AS (
           SELECT shard, n_tok,
                  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
           FROM ${p}fin1),
         ${p}bins1 AS (
           SELECT c.shard,
                  COALESCE(o.o, 0) + CAST(floor(c.start_off / ${TextAnalysis.PackCapacity}) AS BIGINT) AS bin,
                  count(*) AS n_docs, CAST(sum(c.n_tok) AS BIGINT) AS n_tokens
           FROM ${p}coff1 c LEFT JOIN ${p}off o ON o.shard = c.shard
           GROUP BY 1, 2),
         ${p}allb AS (
           SELECT 0 AS epoch, shard, bin, n_docs, n_tokens FROM ${p}bins0
           UNION ALL
           SELECT 1 AS epoch, shard, bin, n_docs, n_tokens FROM ${p}bins1)"""

  val oracles: Map[String, String] = Map(
    // e12: the s5 census as the avail CTE, the shared water-filling
    // chain, then the per-source cumulative prefix rule — keep iff
    // the running total INCLUDING this doc stays within alloc (cum is
    // monotone per source, so the kept set is a clean prefix)
    "e12_budget_enforce" ->
      s"""WITH RECURSIVE $selectedCtes,
         avail AS MATERIALIZED (
           SELECT source, CAST(sum(n_tok) AS BIGINT) AS avail
           FROM mx WHERE s5 = 1 GROUP BY 1),
         $waterFillSqlCtes,
         cum AS (
           SELECT source, n_tok,
                  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM mx WHERE s5 = 1),
         dec AS (
           SELECT c.source, c.n_tok,
                  (c.cum <= a.alloc_tokens) AS keep
           FROM cum c JOIN wfalloc a ON a.source = c.source)
         SELECT a.source, a.avail_tokens,
                CAST(a.alloc_tokens AS BIGINT) AS alloc_tokens,
                CAST(a.saturated AS INTEGER) AS saturated,
                CAST(sum(CASE WHEN d.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
                CAST(sum(CASE WHEN d.keep THEN d.n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
                CAST(sum(CASE WHEN d.keep THEN 0 ELSE 1 END) AS BIGINT) AS n_docs_spilled,
                CAST(sum(CASE WHEN d.keep THEN 0 ELSE d.n_tok END) AS BIGINT) AS spilled_tokens
         FROM wfalloc a JOIN dec d ON d.source = a.source
         GROUP BY 1, 2, 3, 4 ORDER BY a.source""",
    // e13: refresh ≡ rebuild is the operator's LAW (base×base pairs
    // arrival-invariant + delta-endpoint candidates complete + d11's
    // fold ≡ rebuild), so the oracle is d7's full-rebuild transitive
    // closure verbatim — the strongest possible statement of the
    // incremental chain's correctness
    "e13_graph_refresh" -> Dedup.d7ComponentsOracleSql,
    // e14: incremental retract ≡ rebuild-without-retired — d7's
    // closure chain (ONE CTE text, d7LabelCtesFrom) over the d4 pair
    // table with retired-endpoint rows removed via LEFT-JOIN
    // membership (the binder-safe form of two NOT INs)
    "e14_graph_retract" -> retractedLabelsOracleSql,
    // e17: retract-then-arrive ≡ rebuild-without-retired — the SAME
    // oracle as e14 states the composition law: arrivals folded over
    // the offboarded base, with the retired exclusion on both the
    // arriving slice and the banding state, land on exactly the
    // labeling a full rebuild without the retired source reaches
    "e17_retract_then_arrive" -> retractedLabelsOracleSql,
    // e18: after the cutover, the LIVE labels path serves the
    // retracted state — the same rebuild-without-retired law, now
    // stated about the post-swap serving root
    "e18_offboard_cutover" -> retractedLabelsOracleSql,
    "e19_model_cutover" -> e19OracleSql,
    "e20_tokenizer_cutover" -> e20OracleSql,
    "e21_maintenance_census" -> e21OracleSql,
    "e22_maintenance_apply" -> e22OracleSql,
    "e23_split_guard" -> e23OracleSql,
    "e24_release_pack" -> e24OracleSql,
    "e15_source_offboard" -> e15OracleSql,
    // e16: the split census a user draws AFTER offboarding — the e6
    // chain over the retracted labeling with the retired rows gone
    "e16_offboard_split" -> e6CensusSql(
      Dedup.d7LabelCtesFrom(offboardPairsSql),
      s"source <> '$E14RetiredSource'"),
    // e11: the e10 packing chain twice — the pre-delete world for the
    // per-shard removed mass, the retained world (mixed set minus the
    // retired source) for the post-delete manifest — emitted from the
    // pre-delete shard set so fully-retired shards still report
    "e11_retention_delete" -> retentionOracleSql(s"source <> '$E11RetiredSource'"),
    // e10: e3's packing CTE run twice — once over the base slice of
    // the mixed set, once over the delta slice with each shard's bin
    // ids offset past the base watermark — then e9's manifest chain
    // over the combined bins plus the per-epoch bin census
    "e10_artifact_refresh" ->
      s"""WITH RECURSIVE $selectedCtes,
         ${epochPackSql("", "TRUE")},
         hb AS (
           SELECT epoch, shard, bin, n_docs, n_tokens,
                  (${StableHash.duckdbHash64(
                    "'e7:1:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)")}) AS h,
                  (${StableHash.duckdbHash64(
                    "'e9:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)" +
                      " || ':' || CAST(n_docs AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR)")})
                    % $E9HashMod AS c
           FROM allb),
         p AS (
           SELECT epoch, shard, n_docs, n_tokens, c,
                  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, bin) AS BIGINT) AS pos
           FROM hb)
         SELECT shard,
                CAST(sum(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_base,
                CAST(sum(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_new,
                CAST(sum(n_docs) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                CAST(sum(pos * c) AS BIGINT) AS order_checksum
         FROM p GROUP BY 1 ORDER BY shard""",
    "e8_token_budget" -> e8OracleSql,
    "e6_leakage_split" -> e6OracleSql,
    "e4_delta_ingest" -> e4OracleSql,
    "e5_new_source" -> e5OracleSql,
    "e2_selection_mix" ->
      s"""WITH RECURSIVE $selectedCtes
         SELECT source, count(*) AS n_clean,
                CAST(sum(s4) AS BIGINT) AS n_selected,
                CAST(sum(s5) AS BIGINT) AS n_final,
                CAST(sum(CASE WHEN s5 = 1 THEN n_tok ELSE 0 END) AS BIGINT)
                  AS final_tokens
         FROM mx GROUP BY 1 ORDER BY source""",
    "e3_final_packing" ->
      s"""WITH RECURSIVE $selectedCtes,
         fin AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard, n_tok
                 FROM mx WHERE s5 = 1),
         coff AS (
           SELECT shard, n_tok,
                  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
           FROM fin)
         SELECT shard, CAST(floor(start_off / ${TextAnalysis.PackCapacity}) AS BIGINT) AS bin,
                count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM coff GROUP BY 1, 2 ORDER BY shard, bin""",
    // e7: e3's bins CTE chain verbatim, cross-joined with the epoch
    // spine; the order hash is the same StableHash over the same
    // "e7:epoch:shard:bin" key, the quartile the same 2^58 division
    // e9: e3's bins chain verbatim, then the epoch-1 order hash, the
    // bounded content hash, the per-shard position window, and the
    // position-weighted checksum rollup
    "e9_order_manifest" ->
      s"""WITH RECURSIVE $selectedCtes,
         fin AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard, n_tok
                 FROM mx WHERE s5 = 1),
         coff AS (
           SELECT shard, n_tok,
                  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
           FROM fin),
         bins AS (
           SELECT shard, CAST(floor(start_off / ${TextAnalysis.PackCapacity}) AS BIGINT) AS bin,
                  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
           FROM coff GROUP BY 1, 2),
         hb AS (
           SELECT shard, bin, n_docs, n_tokens,
                  (${StableHash.duckdbHash64(
                    "'e7:1:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)")}) AS h,
                  (${StableHash.duckdbHash64(
                    "'e9:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)" +
                      " || ':' || CAST(n_docs AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR)")})
                    % $E9HashMod AS c
           FROM bins),
         p AS (
           SELECT shard, n_docs, n_tokens, c,
                  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, bin) AS BIGINT) AS pos
           FROM hb)
         SELECT shard, count(*) AS n_bins,
                CAST(sum(n_docs) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                CAST(sum(pos * c) AS BIGINT) AS order_checksum
         FROM p GROUP BY 1 ORDER BY shard""",
    "e7_training_order" ->
      s"""WITH RECURSIVE $selectedCtes,
         fin AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard, n_tok
                 FROM mx WHERE s5 = 1),
         coff AS (
           SELECT shard, n_tok,
                  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
           FROM fin),
         bins AS (
           SELECT shard, CAST(floor(start_off / ${TextAnalysis.PackCapacity}) AS BIGINT) AS bin,
                  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
           FROM coff GROUP BY 1, 2),
         ep AS (
           SELECT b.shard, b.bin, b.n_docs, b.n_tokens,
                  CAST(e.range + 1 AS INTEGER) AS epoch
           FROM bins b CROSS JOIN range($E7Epochs) e),
         qz AS (
           SELECT epoch, n_docs, n_tokens,
                  (${StableHash.duckdbHash64(
                    "'e7:' || CAST(epoch AS VARCHAR) || ':' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)")})
                    // $E7QuartileDiv AS quartile
           FROM ep)
         SELECT epoch, quartile, count(*) AS n_bins,
                CAST(sum(n_docs) AS BIGINT) AS bin_docs,
                CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         FROM qz GROUP BY 1, 2 ORDER BY epoch, quartile""",
    "e1_corpus_funnel" ->
      s"""WITH RECURSIVE $cleanCtes,
         j AS (
           SELECT q.doc_id, q.source, q.n_tok,
                  (dr.doc_id IS NULL) AS s1,
                  (dr.doc_id IS NULL AND q.dfrac <= ${TextAnalysis.RepetitionThreshold}) AS s2,
                  (dr.doc_id IS NULL AND q.dfrac <= ${TextAnalysis.RepetitionThreshold}
                     AND c.doc_id IS NULL) AS s3
           FROM q
           LEFT JOIN drops dr ON dr.doc_id = q.doc_id
           LEFT JOIN contam c ON c.doc_id = q.doc_id
           WHERE q.doc_id % ${TextAnalysis.EvalStride} <> 0)
         SELECT source, count(*) AS n_pool,
                CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
                CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
                CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
                CAST(sum(CASE WHEN s3 THEN n_tok ELSE 0 END) AS BIGINT) AS clean_tokens
         FROM j GROUP BY 1 ORDER BY source""")
}

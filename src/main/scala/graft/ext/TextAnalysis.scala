package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for training-data pipelines (SURVEY.md
  * §2.10 extension surface): token counting, n-gram-heuristic
  * language ID, quality scoring. Everything is built from codegen'd
  * built-ins (split / array_intersect / regexp_replace) — no UDFs —
  * and every heuristic is mirrored 1:1 in the DuckDB oracle so the
  * scoring function itself is hash-checked, not just row counts.
  */
object TextAnalysis {

  private[ext] def words(c: Column): Column = split(trim(c), " ")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(words(c))

  /** BPE-ish subword proxy: alphanumeric chunks plus standalone
    * punctuation marks, a cheap stand-in for a real tokenizer's piece
    * count. regexp_extract_all keeps the pattern RE2-compatible so
    * the DuckDB oracle computes the identical number (no lookarounds
    * — RE2 has none). */
  def pieceCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9]+"), lit(0))) +
      size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword marker sets per language — tiny by design; the point is
    * a deterministic, portable argmax heuristic, not model-grade LID. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "les", "et", "une"))

  /** Distinct-stopword hit count for one language. */
  private def hits(c: Column, lang: String): Column = {
    val set = stopwords.toMap.apply(lang)
    size(array_intersect(array_distinct(words(c)), array(set.map(lit): _*)))
  }

  /** Heuristic language guess: argmax of stopword hits with a fixed
    * priority order (en > de > es > fr) for ties; no hits → "und". */
  def langGuess(c: Column): Column = {
    val scores = stopwords.map { case (l, _) => l -> hits(c, l) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality score in [0,1]: half length-saturation (tokens/50 capped
    * at 1), half English-stopword coverage (hits/4). */
  def qualityScore(c: Column): Column =
    round(least(tokenCount(c) / 50.0, lit(1.0)) * 0.5 + (hits(c, "en") / 4.0) * 0.5, 2)

  /** The same heuristic as an EXACT-INTEGER score (200× the [0,1]
    * form — the en stopword set caps hits at 4, so the two orderings
    * agree): min(tokens, 50)·2 + en-hits·25. d23's keeper argmax
    * compares only integers cross-engine (the float-discipline rule —
    * an argmax on a rounded double could flip between engines at a
    * representation boundary; this one cannot). */
  def keepScore(c: Column): Column =
    (least(tokenCount(c), lit(50)) * 2 + hits(c, "en") * 25).cast("long")

  /** T1 — per-language corpus statistics. */
  def t1TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(tokenCount(col("text"))), 2).as("avg_tokens"),
           round(avg(pieceCount(col("text"))), 2).as("avg_pieces"),
           round(avg(col("n_chars")), 2).as("avg_chars"),
           round(avg(length(col("text"))), 2).as("avg_text_len"))
      .orderBy(col("lang"))

  /** T2 — language-ID confusion matrix: labeled lang × heuristic
    * guess. (On this synthetic corpus the text is English-like for
    * every label, so the matrix exposes the heuristic's determinism,
    * not its accuracy.) */
  def t2LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), langGuess(col("text")).as("guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("guess"))

  /** T3 — quality-score histogram (0.1-wide buckets). */
  def t3QualityHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(round(floor(qualityScore(col("text")) * 10) / 10.0, 1).as("quality_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("quality_bucket"))

  val GramK = 4       // token k-gram width for the rolling hash
  val WinnowWindow = 8 // winnowing window (MOSS-style document fingerprinting)
  val FpSeed = 11

  /** Distinct winnowing fingerprints per document — the classic MOSS
    * document-fingerprint sketch: hash every GramK-token gram (the
    * rolling-hash sequence), then keep the minimum hash of each
    * WinnowWindow-wide window. Guarantees any shared run of
    * GramK+WinnowWindow-1 tokens yields a shared fingerprint.
    *
    * Shape: rows-first, not nested arrays. Grams are exploded to
    * (doc_id, pos, gram) rows, hashed with the codegen'd md5 path,
    * and the window-min runs as a frame-bounded min() over positions.
    * The earlier all-array formulation (slice+array_min inside a
    * transform lambda) looked equivalent but ran 50× slower: once a
    * Generate consumed the array, Catalyst inlined the gram-hash
    * array into the per-window lambda — no CSE across lambda
    * boundaries — re-hashing every gram once per window (O(tokens²)
    * md5 calls, measured 320 s vs ~6 s on sf0.1). Row form keeps
    * every expression inside WholeStageCodegen and costs one narrow
    * shuffle on doc_id. */
  def winnowFingerprintRows(df: DataFrame, textCol: String): DataFrame = {
    // staged token array: the gram lambda reads a buffer, not a re-split
    val grams = Dedup.shinglesOf(col("_w"), GramK)
    val hs = df
      .select(col("doc_id"), words(col(textCol)).as("_w"))
      .select(col("doc_id"), posexplode(grams).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
              graft.functions.StableHash.hash64(FpSeed, col("g")).as("h"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val wRoll = wDoc.orderBy(col("pos")).rowsBetween(Window.currentRow, WinnowWindow - 1)
    hs.withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("wmin", min(col("h")).over(wRoll))
      // window starts: pos ≤ n-W for full windows; a short doc (n<W)
      // keeps only pos 0, whose truncated frame is the global min
      .filter(col("pos") <= col("n") - WinnowWindow ||
              (col("n") < WinnowWindow && col("pos") === 0))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
  }

  /** T4 — rolling-hash document fingerprinting: winnowing sketches,
    * then shared-fingerprint clusters (docs with overlapping token
    * runs). The sketch is ~|tokens|/WinnowWindow hashes per doc, so
    * the exploded table — and the shuffle — is an order of magnitude
    * smaller than the full shingle set d3/d4 work from. */
  def t4WinnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintRows(Tables.documents(spark, dir), "text")
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           min(col("doc_id")).as("min_doc"),
           max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  /** T5 — bottom-k (KMV) sketch per document via the custom typed
    * Aggregator (graft.functions.BottomK, SURVEY §2.10 UDAF surface):
    * the 4 smallest distinct token hashes fingerprint each doc with
    * O(k) state. Output is the exploded sketch, rank included, so the
    * DuckDB oracle (list_sort + slice) checks the aggregate's exact
    * semantics — partial/merge paths included, since Spark runs them
    * map-side. */
  def t5BottomkSketch(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BottomK.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("t"))
      .select(col("doc_id"), graft.functions.StableHash.hash64(col("t")).as("h"))
      .groupBy(col("doc_id"))
      .agg(call_function("bottom_k", col("h")).getField("values").as("sk"))
      .select(col("doc_id"), posexplode(col("sk")).as(Seq("pos", "h")))
      .select(col("doc_id"), (col("pos") + 1).as("rank"), col("h"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val PmiMinCount = 5
  val PmiTopN = 20

  /** T6 — PMI collocations: corpus-wide bigram counts vs unigram
    * marginals, top-20 by pointwise mutual information. Two narrow
    * explodes + three hash aggs; the bigram table is the only
    * shuffle that scales with corpus size (map-side combined). */
  def t6PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), words(col("text")).as("_w"))
    val toks = docs.select(explode(col("_w")).as("t"))
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt")).cache()
    val nTokens = uni.agg(sum(col("cnt")).as("n"))
    val bigrams = docs
      .select(posexplode(slice(col("_w"), lit(1), greatest(size(col("_w")) - 1, lit(0)))).as(Seq("pos", "x")),
              col("_w"))
      .select(col("x"), element_at(col("_w"), col("pos") + 2).as("y"))
    val big = bigrams.groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))
      .filter(col("nxy") >= PmiMinCount)
    val nBigrams = bigrams.groupBy().agg(count(lit(1)).as("nb"))
    big
      .join(uni.select(col("t").as("x"), col("cnt").as("nx")), Seq("x"))
      .join(uni.select(col("t").as("y"), col("cnt").as("ny")), Seq("y"))
      .crossJoin(broadcast(nTokens)).crossJoin(broadcast(nBigrams))
      .withColumn("pmi",
        round(log((col("nxy") / col("nb")) / ((col("nx") / col("n")) * (col("ny") / col("n")))), 3))
      .select(col("x"), col("y"), col("nxy"), col("pmi"))
      .orderBy(desc("pmi"), col("x"), col("y"))
      .limit(PmiTopN)
  }

  /** T7 — deterministic stratified sampling (the pretraining-mix
    * primitive: down-weight over-represented sources). Keep rates per
    * source come from a broadcast map; membership is a pure function
    * of doc_id (portable hash mod 100 < rate), so the sample is
    * reproducible on any engine and any cluster layout — no RNG, no
    * seed coordination. */
  val sampleRates: Seq[(String, Int)] =
    Seq("web" -> 10, "wiki" -> 80, "books" -> 50, "code" -> 50, "news" -> 25)

  def t7StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = sampleRates.foldRight(lit(100): Column) { case ((s, r), acc) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("keep",
        graft.functions.StableHash.hash64(col("doc_id").cast("string")) % 100 < rate)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** T8 — percentile length filter (classic pretraining quality
    * filter): drop docs outside the [p5, p95] token-length band of
    * their language. Exact interpolated percentiles per language
    * (tiny aggregate) broadcast back against the corpus. */
  def t8LengthFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokenCount(col("text")).cast("double").as("n_tok"))
    val bounds = docs.groupBy(col("lang"))
      .agg(percentile(col("n_tok"), lit(0.05)).as("p05"),
           percentile(col("n_tok"), lit(0.95)).as("p95"))
    docs.join(broadcast(bounds), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_tok") >= col("p05") && col("n_tok") <= col("p95"), 1L)
             .otherwise(0L)).as("n_kept"),
           round(min(col("p05")), 2).as("p05"),
           round(min(col("p95")), 2).as("p95"))
      .orderBy(col("lang"))
  }

  val RepetitionThreshold = 0.2

  /** T9 — Gopher-style repetition quality filter: the fraction of a
    * document's 3-gram occurrences that are duplicates (1 −
    * distinct/total). High values mean boilerplate/looped text —
    * a standard pretraining drop rule. Entirely row-local (two
    * array expressions per doc), then one per-source rollup. */
  def t9RepetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val total = greatest(size(Dedup.shinglesOf(col("_w"))), lit(1))
    val dupFrac = (total - size(array_distinct(Dedup.shinglesOf(col("_w")))))
      .cast("double") / total.cast("double")
    Tables.documents(spark, dir)
      .select(col("source"), words(col("text")).as("_w"))
      .select(col("source"), dupFrac.as("dup_frac"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("dup_frac") > RepetitionThreshold, 1L).otherwise(0L)).as("n_flagged"),
           round(avg(col("dup_frac")), 4).as("avg_dup_frac"))
      .orderBy(col("source"))
  }

  val DecontaminationGramK = 8
  // eval set = doc_id % 20 == 0: a deterministic stand-in wide enough
  // that the corpus's planted near-dups actually cross the train/eval
  // boundary at every SF (stride 100 found zero overlaps at sf0.01 —
  // a vacuously-passing gate)
  val EvalStride = 20

  /** The eval/train split predicate — ONE definition for t10, t19,
    * e1, and the e4 delta slice (via [[isEvalDocOn]]), so the rule
    * can never desynchronize between them. The column-name-
    * parameterized form exists because artifact tables carry the id
    * under other names (pairs' a_id/b_id). */
  private[ext] def isEvalDocOn(idCol: String): Column =
    col(idCol) % EvalStride === 0
  private[ext] def isEvalDoc: Column = isEvalDocOn("doc_id")

  /** Per-row distinct decontamination grams of a `_w` token array. */
  private[ext] def decontamGrams: Column =
    explode(array_distinct(Dedup.shinglesOf(col("_w"), DecontaminationGramK))).as("g")

  /** Distinct eval-split 8-gram set over (doc_id, `_w`) rows.
    * `evalPred` lets e4 freeze the eval set to the base slice. */
  private[ext] def evalGramsOf(docs: DataFrame,
                               evalPred: Column = isEvalDoc): DataFrame =
    docs.filter(evalPred).select(decontamGrams).distinct()

  /** Distinct candidate doc_ids sharing ≥ 1 gram with the eval set —
    * parameterized form (e4 passes a frozen eval slice and a delta
    * candidate slice). */
  private[ext] def contaminatedOfOn(docs: DataFrame, evalPred: Column,
                                    candPred: Column): DataFrame =
    docs.filter(candPred)
      .select(col("doc_id"), decontamGrams)
      .join(broadcast(evalGramsOf(docs, evalPred)), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()

  /** Distinct training doc_ids sharing ≥ 1 gram with the eval set. */
  private[ext] def contaminatedOf(docs: DataFrame): DataFrame =
    contaminatedOfOn(docs, isEvalDoc, !isEvalDoc)

  /** T10 — benchmark decontamination: flag training documents sharing
    * any 8-gram with the held-out eval set (the doc_id-stride subset
    * stands in for a real benchmark). The eval gram set is tiny at any
    * corpus scale, so the semi-join BROADCASTS — the training corpus
    * is never shuffled, which is what makes decontamination a narrow
    * pass at 100 TB. */
  def t10Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("_w"))
    docs.filter(!isEvalDoc)
      .join(contaminatedOf(docs).withColumn("hit", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train_docs"),
           sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .orderBy(col("source"))
  }

  val ChunkSize = 64
  val ChunkOverlap = 16
  val ChunkStride: Int = ChunkSize - ChunkOverlap

  /** T11 — fixed-window document chunking (training/RAG context prep):
    * 64-token windows at stride 48 (16-token overlap), last window
    * clipped. One row per chunk with its token count and content
    * digest, so the oracle hash-checks the chunk CONTENT, not just
    * counts. Pure slice/explode — narrow, no shuffle until the
    * output sort. */
  def t11Chunking(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("_w"))
    val nChunks = greatest(lit(1),
      floor((n - lit(ChunkOverlap) + lit(ChunkStride - 1)) / lit(ChunkStride)).cast("int"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("_w"))
      .select(col("doc_id"), col("_w"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("_w"), col("chunk_idx") * ChunkStride + 1, lit(ChunkSize)).as("_c"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("_c")).as("chunk_tokens"),
        md5(concat_ws(" ", col("_c"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  // flags the ~5% high-NLL tail at every SF (the planted repetitive /
  // near-dup docs); the nearest document sits 4e-3 from the cut, so
  // the count is safe against cross-engine float noise (~1e-13)
  val PplThreshold = 3.43

  /** T12 — unigram-LM perplexity quality filter (the CCNet/C4 pattern
    * with a unigram stand-in for KenLM): score each document by the
    * mean negative log-probability of its tokens under the corpus
    * unigram distribution; flag docs above threshold. Two-pass shape:
    * the vocab table is a corpus-wide aggregate joined back per term
    * — broadcast here; at 100 TB the production form prunes to a
    * top-K vocab with an OOV floor so the broadcast stays bounded
    * (t15 is exactly that form). Every token's probability is an
    * exact count ratio, so the score is reproducible cross-engine
    * (rounded at the rollup edge).
    *
    * The corpus is tokenized ONCE into cached per-(doc, term) counts;
    * the unigram table, the total, and the scoring join all read that
    * compact frame. The earlier per-token-instance formulation
    * re-exploded the corpus three times (once per consumer — no CSE
    * across DataFrame subtrees) and joined at token-instance
    * granularity; the (doc, term, k) grain carries the same
    * information at a fraction of the join volume, and the per-doc
    * mean becomes the k-weighted mean Σk·nll(t) / Σk. */
  def t12UnigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(words(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("source"), col("t"))
      .agg(count(lit(1)).as("k")).cache()
    val uni = tf.groupBy(col("t")).agg(sum(col("k")).as("cnt"))
    val n = uni.agg(sum(col("cnt")).cast("double").as("n"))
    val scored = tf
      .join(broadcast(uni), Seq("t"))
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"), col("source"))
      .agg((sum(col("k") * -log(col("cnt") / col("n"))) / sum(col("k"))).as("nll"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("nll")), 3).as("avg_nll"),
           sum(when(col("nll") > PplThreshold, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("source"))
  }

  val VocabK = 24
  /** Flag when oov/total > OovNum/OovDen — compared cross-multiplied
    * in integers, so the flag decision is EXACT in both engines (an
    * nll threshold puts the cut inside a float continuum where the
    * nearest doc sits ~1e-4 away — measured — and cross-engine avg()
    * drift could flip it; gate-vacuity lesson applied). */
  val OovNum = 1
  val OovDen = 4

  /** T15 — the production form of t12's perplexity filter, made
    * executable: the unigram LM is PRUNED to the top-`VocabK` vocab
    * (ties on count break by token), out-of-vocabulary tokens score
    * at the 1/N floor (-ln(1/N) = ln N), and docs are flagged by
    * exact-integer OOV share. This is the 100 TB shape t12's
    * scaladoc promises: the broadcast is bounded by K no matter how
    * large the corpus vocabulary grows, and the top-K itself is a
    * TakeOrderedAndProject (per-partition heaps + driver merge of K
    * rows), not a global sort. avg_nll is reported per source
    * (rounded at the edge, same discipline as t12); the flag never
    * depends on a float compare. */
  def t15VocabPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(words(col("text"))).as("t"))
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val vocab = uni.orderBy(col("cnt").desc, col("t")).limit(VocabK)
    val n = uni.agg(sum(col("cnt")).cast("double").as("n"))
    val perDoc = toks
      .join(broadcast(vocab), Seq("t"), "left")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        avg(when(col("cnt").isNotNull, -log(col("cnt") / col("n")))
          .otherwise(log(col("n")))).as("nll"),
        count(lit(1)).as("tot"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("oov"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("nll")), 3).as("avg_nll"),
           sum(when(col("oov") * OovDen > col("tot") * OovNum, 1L)
             .otherwise(0L)).as("n_flagged"),
           sum(col("oov")).as("oov_tokens"))
      .orderBy(col("source"))
  }

  /** Bigram model size (top-K bigrams by count, ties on the pair) and
    * the flag's integer share rule: a doc is flagged when fewer than
    * [[BiHitNum]]/[[BiHitDen]] of its token pairs hit the bigram
    * model (hit·Den < tot·Num — exact integers, t15's OOV-flag
    * discipline; measured at sf0.1 the per-doc modeled share spans
    * 0–0.33 with mean ~0.06, so the 2% line splits docs live). */
  val BigramK = 48
  val BiHitNum = 1
  val BiHitDen = 50

  /** T32 — interpolated BIGRAM-LM perplexity filter: the
    * context-sensitive upgrade of the t12/t15 unigram filters and the
    * honest distributed form of the CCNet/KenLM n-gram scorer. The
    * model is BOUNDED from the start (t15's discipline at both
    * tiers): top-[[VocabK]] unigrams with the 1/N OOV floor, plus the
    * top-[[BigramK]] bigrams each carrying c(x), the UNIGRAM count of
    * its left word, as denominator — the standard MLE conditional
    * c(x,y)/c(x) (note: c(x) counts every occurrence of x including
    * doc-final ones, so Σ_y P_bi(y|x) < 1 where x ever ends a doc —
    * a deliberate, documented denominator choice BOTH engines use
    * verbatim; switching either side to the true left marginal would
    * break the oracle twin); each token pair scores Jelinek-Mercer
    * style — p = ½·P_bi(y|x) + ½·P_uni(y), with P_bi = 0 when the
    * pair is outside the model and P_uni the floored unigram —
    * so p is always strictly positive and ln p is defined everywhere.
    * Per-source census: mean per-doc nll (rounded at the edge only,
    * t12's float discipline), the INTEGER-share flag count (a doc
    * whose modeled-pair share sits under [[BiHitNum]]/[[BiHitDen]]
    * reads as out-of-domain for the model), and total modeled pairs.
    * Docs with fewer than 2 tokens have no pairs and leave the
    * census (documented, deterministic both engines).
    *
    * Scale shape: the bigram count is ONE corpus groupBy (map-side
    * combined — t6's only scaling shuffle); both model tables are
    * K-bounded broadcasts (TakeOrderedAndProject top-K, no global
    * sort); scoring is two broadcast left joins at pair grain + one
    * doc-keyed agg + one source rollup — no corpus-sized state on
    * the driver at any size. */
  def t32BigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("_w"))
    val uni = docs.select(explode(col("_w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt")).cache()
    val n = uni.agg(sum(col("cnt")).cast("double").as("n"))
    val vocab = uni.orderBy(col("cnt").desc, col("t")).limit(VocabK)
    val bi = docs
      .select(posexplode(slice(col("_w"), lit(1),
          greatest(size(col("_w")) - 1, lit(0)))).as(Seq("pos", "x")),
        col("doc_id"), col("source"), col("_w"))
      .select(col("doc_id"), col("source"), col("x"),
        element_at(col("_w"), col("pos") + 2).as("y"))
    val bigm = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))
      .orderBy(col("nxy").desc, col("x"), col("y")).limit(BigramK)
      .join(uni.select(col("t").as("x"), col("cnt").as("nx")), Seq("x"))
    val perDoc = bi
      .join(broadcast(bigm), Seq("x", "y"), "left")
      .join(broadcast(vocab.select(col("t").as("y"), col("cnt").as("cy"))),
        Seq("y"), "left")
      .crossJoin(broadcast(n))
      .withColumn("p",
        lit(0.5) * coalesce(col("nxy") / col("nx"), lit(0.0)) +
          lit(0.5) * (coalesce(col("cy"), lit(1L)).cast("double") / col("n")))
      .groupBy(col("doc_id"), col("source"))
      .agg(avg(-log(col("p"))).as("nll"), count(lit(1)).as("tot"),
        sum(when(col("nxy").isNotNull, 1L).otherwise(0L)).as("hit"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("nll")), 3).as("avg_nll"),
        sum(when(col("hit") * BiHitDen < col("tot") * BiHitNum, 1L)
          .otherwise(0L)).as("n_flagged"),
        sum(col("hit")).as("modeled_pairs"))
      .orderBy(col("source"))
  }

  /** T26 — per-source DISTRIBUTION DRIFT of the arriving slice
    * against its history: add-one-smoothed unigram KL(delta ‖ base)
    * over the FROZEN base top-VocabK vocabulary, per source. This is
    * the corpus-side twin of s14's index-health gate: e4 applies
    * base-trained models (DSIR buckets, selection cut, mix rates) to
    * every delta — valid only while the delta still looks like the
    * base — and t26 is the measurement that says when it stops
    * looking like it (retrain trigger). The vocabulary is frozen at
    * base (t15's top-K discipline: ties break by token) so the
    * measure never shifts under the feet of the thing it monitors;
    * add-one smoothing keeps both distributions strictly positive on
    * the whole vocab, so the KL is always defined — no dropped terms,
    * no epsilon tuning.
    *
    * Scale shape: one tokenize pass; the vocab is a K-row
    * TakeOrderedAndProject broadcast; the dense (source × vocab) grid
    * is |sources|·K rows — bounded model-side state, never corpus
    * data; the rollup is one hash agg. At 100 TB "base/delta" become
    * date partitions and the same plan runs per ingest window. */
  def t26SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val isDelta = Pipeline.e4DeltaPred
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
        when(isDelta, lit("delta")).otherwise(lit("base")).as("side"),
        explode(words(col("text"))).as("t"))
    val vocab = toks.filter(col("side") === "base")
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(VocabK)
      .select(col("t"))
    val cnt = toks.join(broadcast(vocab), Seq("t"))
      .groupBy(col("source"), col("t"))
      .agg(sum(when(col("side") === "base", 1L).otherwise(0L)).as("kb"),
           sum(when(col("side") === "delta", 1L).otherwise(0L)).as("kd"))
    // dense grid so zero-count vocab terms still carry their smoothed
    // mass (otherwise the KL silently drops exactly the terms that
    // signal drift — a vanished token is drift, not missing data)
    val grid = toks.select(col("source")).distinct().crossJoin(broadcast(vocab))
    val dense = grid.join(cnt, Seq("source", "t"), "left")
      .select(col("source"), col("t"),
        coalesce(col("kb"), lit(0L)).as("kb"),
        coalesce(col("kd"), lit(0L)).as("kd"))
    val tot = dense.groupBy(col("source"))
      .agg(sum(col("kb")).as("nb"), sum(col("kd")).as("nd"))
    dense.join(broadcast(tot), Seq("source"))
      .withColumn("pd", (col("kd") + 1).cast("double") / (col("nd") + VocabK))
      .withColumn("pb", (col("kb") + 1).cast("double") / (col("nb") + VocabK))
      .groupBy(col("source"))
      .agg(min(col("nb")).as("base_tokens"),
           min(col("nd")).as("delta_tokens"),
           round(sum(col("pd") * log(col("pd") / col("pb"))), 4).as("kl_nats"))
      .orderBy(col("source"))
  }

  /** t30's retrain trigger: a source whose round-4 KL(delta ‖ base)
    * exceeds this retrains its selection models. Corpus-calibrated
    * (the knob, not the value, is the operator surface — production
    * tunes it per ingest window): measured spreads put 0.15 inside a
    * real gap at both spec SFs — sf0.001 tops out 0.1295 → 0.2035
    * (fires src7 alone, margin 0.02+), sf0.01 0.1332 → 0.16/0.164/
    * 0.1836 (fires three, margin 0.01) — and both engines compare the
    * SAME hash-pinned round(·,4) value, so the compare cannot drift
    * between them even at a margin of one ulp. At sf0.1 drift
    * flattens (max 0.019) and nothing fires — more data, less
    * sampling noise, which is itself the measurement working. */
  val DriftRetrainKl = 0.15

  /** T30 — the MODEL lifecycle's refresh verb, drift-gated: e4/e5
    * score deltas under FROZEN base-trained models ("models forget on
    * the retrain cadence, rows leave now"), t26 measures when the
    * delta stops looking like the base, and this entry runs the
    * TRANSITION those two postures imply. Both model generations are
    * PERSISTED artifacts: the frozen one (bucket counts trained on
    * base, cut = quantile of base-scored docs —
    * Pipeline.frozenDsir*Artifact) and the refreshed one (the full
    * retrain — the live dsir_perdoc/dsir_cut t21 serves). Output, per
    * pool source: the drift measurement, the retrain decision
    * ([[DriftRetrainKl]]), and the selection census under EACH
    * generation — the operator-facing "what changes if we retrain
    * now" row. Oracle rebuilds both generations + the drift chain in
    * one statement (prefixed CTE families), so the whole transition
    * is hash-checked every round. Production swap of the refreshed
    * generation over the frozen root is e18's cutover verb — this
    * entry is the decision + both-worlds serve that precedes it.
    *
    * Scale: the drift chain is t26's (K-row vocab broadcast, dense
    * |sources|×K grid); each census is one narrow artifact scan + a
    * broadcast 1-row cut; nothing re-tokenizes the corpus (both
    * perdoc generations serve from parquet). */
  /** The decision table t30 emits and e19 acts on: per pool source,
    * the round-4 drift measurement and the retrain verdict. */
  private[ext] def t30Decisions(spark: SparkSession, dir: String): DataFrame =
    t26SourceDrift(spark, dir).select(col("source"), col("kl_nats"))
      .withColumn("retrain",
        when(col("kl_nats") > lit(DriftRetrainKl), 1L).otherwise(0L))

  def t30ModelRefresh(spark: SparkSession, dir: String): DataFrame = {
    val drift = t26SourceDrift(spark, dir).select(col("source"), col("kl_nats"))
    val frozen = Pipeline.frozenDsirPerDocArtifact(spark, dir)
      .crossJoin(broadcast(Pipeline.frozenDsirCutArtifact(spark, dir)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_scored"),
           sum(when(col("logw") > col("cut"), 1L).otherwise(0L))
             .as("n_frozen_selected"))
    val refreshed = Pipeline.dsirPerDocArtifact(spark, dir)
      .crossJoin(broadcast(Pipeline.dsirCutArtifact(spark, dir)))
      .groupBy(col("source"))
      .agg(sum(when(col("logw") > col("cut"), 1L).otherwise(0L))
             .as("n_refreshed_selected"))
    frozen.join(refreshed, Seq("source")) // pool sources (perdoc excludes target)
      .join(drift, Seq("source"))
      .withColumn("retrain",
        when(col("kl_nats") > lit(DriftRetrainKl), 1L).otherwise(0L))
      .select(col("source"), col("kl_nats"), col("retrain"), col("n_scored"),
        col("n_frozen_selected"), col("n_refreshed_selected"))
      .orderBy(col("source"))
  }

  val MixSeed = 7
  val MixPpm = 1000000L

  /** T16 — temperature-flattened source mixing, the corpus-assembly
    * step between cleaning and packing: over-represented sources are
    * down-weighted so the mixture moves toward uniform without
    * discarding small sources. Weights are TOKEN mass, not document
    * count — training budgets are tokens, and doc counts can be
    * uniform while token mass skews (exactly this corpus: 25 docs
    * per source at every SF, token mass spread 1.4×; doc-count
    * weighting would be a vacuous no-op). Keep rate per source ∝
    * (tok_min/tok_s)^(1/2) (temperature τ=2), held as an integer
    * parts-per-million rate; a document survives iff its seeded
    * StableHash lands under its source's rate — the same
    * deterministic hash-mod membership as t7, so the sample is
    * reproducible row-for-row in any engine, needs no RNG state,
    * and composes with retries. The per-source rate table is a tiny
    * aggregate broadcast back; the corpus itself never shuffles
    * (the keep decision is row-local). floor/sqrt/division all run
    * on exactly-representable inputs, so the ppm rates are
    * bit-identical cross-engine. */
  /** t16's per-source keep-rate table (source, rate_ppm), factored
    * for reuse by the e2 pipeline stage. Rates derive from the FULL
    * corpus token mass (the standalone operator's model — e2 reuses
    * the model, not a re-fit on its shrunken input). */
  private[graft] def mixRates(spark: SparkSession, dir: String): DataFrame =
    mixRatesOn(spark, dir, lit(true))

  /** Parameterized form: rates derive from `trainPred` docs' token
    * mass only — e4 freezes them on the base slice. */
  private[graft] def mixRatesOn(spark: SparkSession, dir: String,
                                trainPred: Column): DataFrame = {
    val d = Tables.documents(spark, dir).filter(trainPred)
      .select(col("source"), tokenCount(col("text")).cast("long").as("n_tok"))
    // cached: per-source rows (tiny), referenced by both nmin and the
    // rate table — without it the corpus is scanned+tokenized once
    // per reference (DataFrames get no cross-subtree CSE)
    val counts = d.groupBy(col("source")).agg(sum(col("n_tok")).as("tok_src")).cache()
    val nmin = counts.agg(min(col("tok_src")).as("tok_min"))
    counts.crossJoin(broadcast(nmin))
      .withColumn("rate_ppm",
        floor(lit(MixPpm.toDouble) * sqrt(col("tok_min").cast("double") / col("tok_src"))))
      .select(col("source"), col("rate_ppm"))
  }

  /** The deterministic mixing lottery ticket for the current row's
    * doc_id — compare `< rate_ppm` to decide keep (integer-exact). */
  private[ext] def mixKeepHash: Column =
    pmod(graft.functions.StableHash.hash64(MixSeed,
      col("doc_id").cast("string")), lit(MixPpm))

  def t16TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).cast("long").as("n_tok"))
    d.join(broadcast(mixRates(spark, dir)), Seq("source"))
      .withColumn("h", mixKeepHash)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("h") < col("rate_ppm"), 1L).otherwise(0L)).as("n_kept"),
           min(col("rate_ppm")).as("rate_ppm"))
      .orderBy(col("source"))
  }

  val PackCapacity = 2048
  val PackShards = 32

  /** T13 — sequence packing: lay documents end-to-end into
    * fixed-capacity context windows (the step between a cleaned
    * corpus and a training batch). Packing is inherently sequential,
    * so it runs SHARD-LOCAL: docs hash to one of PackShards streams
    * (doc_id mod — deterministic and balanced), and within a shard
    * the token stream is laid out in doc_id order; a doc's bin is
    * its start offset divided by capacity (docs may straddle a bin
    * boundary — stream packing with document splitting, the
    * GPT-style regime — so every bin except a shard's last is
    * exactly full). One window per shard = the same plan at any
    * corpus size; no global sort exists. Output: per-bin doc/token
    * counts (docs counted at their start bin). */
  def t13Packing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(PackShards)).as("shard"),
              tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", floor(col("start_off") / PackCapacity))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopN = 15
  val Bm25Terms: Seq[String] = Seq("spark", "table", "merge")

  /** T14 — BM25 keyword retrieval (Lucene's formulation, including
    * the +1 inside the idf log that keeps it non-negative): score
    * every document against a fixed term set, return the top 15.
    * Corpus statistics (N, avgdl, per-term df) are ONE tiny aggregate
    * row broadcast back to the scan, so the whole query is two
    * passes over the corpus with no shuffle wider than the final
    * top-k — at 100 TB the stats row is still one row. tf comes from
    * a filter() over the staged token array (short arrays; the
    * interpreted-HOF cost is bounded by query-term count, not corpus
    * vocabulary). */
  def t14Bm25(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("dl", size(col("w")).cast("double"))
    val stats = d.agg(
      count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl") +:
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("w"), t), 1.0).otherwise(0.0)).as(s"df$i")
        }: _*)
    val score = Bm25Terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("w"), x => x === lit(t))).cast("double")
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0)
      idf * (tf * (Bm25K1 + 1.0)) /
        (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    d.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 3).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopN)
  }

  // flags the repetitive low-tail; the nearest document sits 7.6e-3
  // from the cut at sf0.1 (2.8e-2 at sf0.01), so the count is safe
  // against cross-engine ln() drift (~1e-13) — PplThreshold discipline
  val EntropyThreshold = 2.0

  /** T17 — token-entropy quality filter (the distribution-skew signal
    * next to t9's adjacency signal: t9 catches REPEATED RUNS, entropy
    * catches a skewed vocabulary even when no 3-gram repeats — e.g.
    * keyword-stuffed spam). Per doc, Shannon entropy of the token
    * frequency distribution, computed as H = ln n − (Σ k·ln k)/n over
    * the per-(doc, term) counts — one pass over the same (doc, term,
    * k) grain t12 scores from, no per-token probability join. Docs
    * below EntropyThreshold are flagged; per-source rollup.
    *
    * Scale shape: explode → map-side-combined (doc, term) count →
    * per-doc agg → per-source agg; every shuffle key is bounded by
    * the corpus token volume and nothing is corpus-global except the
    * tiny final rollup. */
  def t17TokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropyPerDoc(Tables.documents(spark, dir), "text")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("h")), 3).as("avg_entropy"),
           sum(when(col("h") < EntropyThreshold, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("source"))

  /** Per-doc entropy core over any (doc_id, source, `textCol`) frame
    * — split out so the closed-form laws (H=0 for a constant doc,
    * H=ln n for all-distinct tokens) are testable on constructed
    * input. */
  def tokenEntropyPerDoc(df: DataFrame, textCol: String): DataFrame = {
    val tf = df
      .select(col("doc_id"), col("source"), explode(words(col(textCol))).as("t"))
      .groupBy(col("doc_id"), col("source"), col("t"))
      .agg(count(lit(1)).as("k"))
    tf.groupBy(col("doc_id"), col("source"))
      .agg((log(sum(col("k"))) - sum(col("k") * log(col("k"))) / sum(col("k"))).as("h"))
  }

  // RE2-safe (no lookarounds) so DuckDB computes the identical match
  // set; the corpus is lowercase-tokenized so [a-z0-9] covers it
  val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val PhoneRe = "\\+1-555-[0-9]{4}"

  /** Deterministic PII planting: every doc_id ≡ 0 (mod 3) gets one
    * email and one phone appended — pure string arithmetic both
    * engines reproduce, same discipline as m1's payload synthesis.
    * The corpus itself has no PII, so without planting the operator
    * would be vacuously green. */
  private def plantedPii: Column =
    when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))

  /** T18 — PII redaction accounting (the scrub every training corpus
    * runs before release): regex-detect emails and phone numbers,
    * replace with typed placeholder tags, report per-source match and
    * size-delta counts. Detection and replacement are codegen'd
    * regexp builtins — row-local, no UDF, no shuffle except the tiny
    * per-source rollup; at 100 TB this is a pure map pass over the
    * corpus, which is exactly why redaction is cheap and skipping it
    * is inexcusable. */
  def t18PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(col("pii"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    Tables.documents(spark, dir)
      .withColumn("pii", plantedPii)
      .select(col("source"),
        size(regexp_extract_all(col("pii"), lit(EmailRe), lit(0))).as("n_email"),
        size(regexp_extract_all(col("pii"), lit(PhoneRe), lit(0))).as("n_phone"),
        (length(col("pii")) - length(redacted)).as("delta"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_email") + col("n_phone") > 0, 1L).otherwise(0L))
             .as("docs_with_pii"),
           sum(col("n_email")).cast("long").as("emails_redacted"),
           sum(col("n_phone")).cast("long").as("phones_redacted"),
           sum(col("delta")).cast("long").as("chars_removed"))
      .orderBy(col("source"))
  }

  val BloomBits = 1 << 20 // 1M bits ≈ 1e-3 FP at ~35k grams, k=3
  val BloomHashes = 3
  val BloomSeed = 101
  val BloomWordBits = 32 // 32-bit words in int64 → no sign-bit hazards in either engine

  /** T19 — bloom-filter decontamination: t10's exact-semi-join scan
    * with a BLOOM PRE-PRUNE in front of it — the form that survives
    * when the eval-gram set outgrows an exact broadcast (t10
    * broadcasts every eval gram; a 1M-bit bloom is ~128 KB no matter
    * how many grams went in). Eval 8-grams set k=3 md5-derived bits;
    * training grams probe the packed bitset (pure codegen: element_at
    * + bitwiseAND on a broadcast array of 32-bit words) and only
    * bloom-passing grams reach the exact verify join. Reported per
    * source: gram volume, bloom passes, exact confirmations — the
    * pass−confirm margin IS the measured false-positive cost, which
    * is the number that justifies (or indicts) the bloom's sizing.
    *
    * Scale shape: the bloom build is one groupBy over set bit
    * positions; the probe is row-local against a broadcast array; the
    * exact join's input shrinks from every training gram to the
    * bloom-pass set (~FP-rate of the corpus when contamination is
    * rare). The bitset stays exact cross-engine because every bit
    * index is StableHash-derived and the packing is lossless. */
  def t19BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("_w"))
    // cached: read by both the bloom build and the exact verify join
    val evalGrams = evalGramsOf(docs).cache()
    def bitPos(j: Int, g: Column): Column =
      pmod(graft.functions.StableHash.hash64(BloomSeed + j, g), lit(BloomBits.toLong))
    // packed bitset: position → (word, 2^bit), bit_or per word, dense
    // word spine (missing words = 0), one sorted array row
    val setBits = evalGrams
      .select(explode(array((0 until BloomHashes).map(j => bitPos(j, col("g"))): _*)).as("p"))
      .select((col("p") / BloomWordBits).cast("int").as("w"),
        pow(lit(2.0), (col("p") % BloomWordBits).cast("double")).cast("long").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
    val spine = spark.range(BloomBits / BloomWordBits)
      .select(col("id").cast("int").as("w"))
    val bloom = spine.join(setBits, Seq("w"), "left")
      .select(col("w"), coalesce(col("bits"), lit(0L)).as("bits"))
      .agg(transform(array_sort(collect_list(struct(col("w"), col("bits")))),
        s => s.getField("bits")).as("bloom"))
    def probe(j: Int): Column = {
      val pos = bitPos(j, col("g"))
      val bit = pow(lit(2.0), (pos % BloomWordBits).cast("double")).cast("long")
      (element_at(col("bloom"), (pos / BloomWordBits).cast("int") + 1)
        .bitwiseAND(bit)) =!= 0L
    }
    val train = docs.filter(!isEvalDoc).select(col("doc_id"), col("source"), decontamGrams)
      .crossJoin(broadcast(bloom))
      .withColumn("pass", (0 until BloomHashes).map(probe).reduce(_ && _))
      .drop("bloom")
    // the verify is a SHUFFLE semi-join, not a broadcast: its probe
    // side is already shrunk to the bloom-pass set, and broadcasting
    // evalGrams here would re-impose exactly the t10 bound the bloom
    // exists to escape
    val confirmed = train.filter(col("pass"))
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col("doc_id"), col("source"), lit(1L).as("c"))
    val perDoc = train.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
    val confDoc = confirmed.groupBy(col("doc_id")).agg(sum(col("c")).as("n_conf"))
    perDoc.join(confDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train_docs"),
           sum(col("n_grams")).as("n_grams"),
           sum(col("n_pass")).as("n_bloom_pass"),
           sum(coalesce(col("n_conf"), lit(0L))).as("n_confirmed"),
           sum(when(coalesce(col("n_conf"), lit(0L)) > 0, 1L).otherwise(0L))
             .as("n_contaminated_docs"))
      .orderBy(col("source"))
  }

  val DistinctNMax = 3

  /** T20 — distinct-n diversity metrics (the distinct-1/2/3 family
    * used to quantify corpus diversity and catch mode-collapsed or
    * templated text — low distinct-2 at healthy distinct-1 is the
    * signature of recombined boilerplate): per (source, n), unique
    * n-grams over total n-grams. One exploded pass per n, each a
    * map-side-combined count + a distinct count keyed by the gram —
    * shuffle bounded by corpus token volume. At 100 TB flip
    * `approxNdv` (IMPLEMENTED, not just named — e8's wide-flag
    * precedent): the exact distinct becomes approx_count_distinct
    * (HLL, rsd 0.02 — one pass, sketch-sized shuffle, no per-gram
    * dedup shuffle at all); Round13Spec measures the relative-error
    * envelope vs exact at both spec SFs. The GATE keeps the exact
    * default — the oracle hash-checks exact counts. */
  def t20DistinctNgrams(spark: SparkSession, dir: String): DataFrame =
    t20DistinctNgramsOn(spark, dir, approxNdv = false)

  val ApproxNdvRsd = 0.02

  private[graft] def t20DistinctNgramsOn(spark: SparkSession, dir: String,
                                         approxNdv: Boolean): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), words(col("text")).as("_w"))
    val ndv: Column => Column =
      if (approxNdv) c => approx_count_distinct(c, ApproxNdvRsd)
      else c => countDistinct(c)
    (1 to DistinctNMax).map { n =>
      d.select(col("source"), explode(Dedup.shinglesOf(col("_w"), n)).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total_grams"),
             ndv(col("g")).as("distinct_grams"))
        .select(col("source"), lit(n).as("n"), col("total_grams"),
          col("distinct_grams"),
          round(col("distinct_grams") / col("total_grams"), 4).as("distinct_ratio"))
    }.reduce(_ unionAll _).orderBy(col("source"), col("n"))
  }

  val DsirBuckets = 4096
  val DsirSeed = 7
  val DsirTarget = "src0"
  /** Selection keeps the pool above this exact interpolated
    * log-weight percentile. An absolute cut (the paper's form) is
    * calibrated per corpus; on this synthetic pool every doc scores
    * below 0 because the target slice isn't distributionally
    * distinct, so a fixed constant is either vacuous or
    * SF-dependent — the quantile form selects a real set at every
    * SF. The cut-to-nearest-doc margin is measured ≥ 4.4e-3 at
    * sf0.1 (1.7e-2 at sf0.01), ≫ cross-engine ln()/sum drift
    * ~1e-12 — t12's threshold discipline. */
  val DsirSelectQuantile = 0.9

  /** T21 — DSIR-style importance-weighted data selection (Xie et al.
    * 2023, arXiv:2302.03169): score every candidate document by how
    * much more likely its tokens are under a TARGET domain's hashed
    * n-gram distribution than under the raw pool's, and select docs
    * with positive log weight. Here the target is the `src0` slice
    * standing in for a curated domain; features are unigrams hashed
    * into `DsirBuckets` buckets with add-one smoothing — hashing is
    * what bounds the model: the bucket table is B rows no matter how
    * large the corpus vocabulary grows, which is the whole reason
    * DSIR runs at pretraining scale.
    *
    * Shape: one tokenize+bucket pass, two B-row count aggregates
    * broadcast back, per-doc weighted sum, per-source rollup. The
    * log-weight sums are doubles; the report rounds at the edge and
    * the selection margin is spec-measured, matching t12. */
  /** t21's model, factored for reuse by the e2 pipeline stage: per
    * non-target-doc DSIR log importance weight (doc_id, source,
    * logw) from the hashed-unigram bucket model. */
  private[graft] def dsirPerDoc(spark: SparkSession, dir: String): DataFrame =
    dsirPerDocOn(spark, dir, lit(true), lit(true))

  /** Parameterized form: the bucket model (target/raw counts +
    * totals) trains on `trainPred` docs only; `scorePred` selects the
    * pool docs that receive a log weight — e4's frozen-model delta
    * scoring (train = base slice, score = newly-arrived slice). */
  private[graft] def dsirPerDocOn(spark: SparkSession, dir: String,
                                trainPred: Column, scorePred: Column): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(words(col("text"))).as("t"))
      .withColumn("b", pmod(graft.functions.StableHash.hash64(DsirSeed, col("t")),
        lit(DsirBuckets.toLong)))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("k")).cache()
    def bucketCounts(cond: Column, name: String): DataFrame =
      tf.filter(trainPred && cond).groupBy(col("b")).agg(sum(col("k")).as(name))
    val ct = bucketCounts(col("source") === DsirTarget, "ct")
    val cr = bucketCounts(col("source") =!= DsirTarget, "cr")
    val spine = spark.range(DsirBuckets).select(col("id").as("b"))
      .join(ct, Seq("b"), "left").join(cr, Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = spine.agg(
      (sum(col("ct")) + DsirBuckets).cast("double").as("nt"),
      (sum(col("cr")) + DsirBuckets).cast("double").as("nr"))
    tf.filter(scorePred && col("source") =!= DsirTarget)
      .join(broadcast(spine), Seq("b"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("k") * (log((col("ct") + 1) / col("nt"))
        - log((col("cr") + 1) / col("nr")))).as("logw"))
  }

  /** Pool-wide selection cut: a 1-row exact-percentile aggregate
    * broadcast back (t8's pattern) — never a global sort/rank. */
  private[graft] def dsirCut(perDoc: DataFrame): DataFrame =
    perDoc.agg(percentile(col("logw"), lit(DsirSelectQuantile)).as("cut"))

  def t21DsirSelect(spark: SparkSession, dir: String): DataFrame =
    // served from the PERSISTED model (Pipeline.dsirPerDocArtifact +
    // its cut) — one tokenize+bucket pass per corpus, not
    // per query; [[t21Derived]] keeps the from-scratch path as the
    // spec twin and the builder, and the DuckDB oracle still rebuilds
    // the whole model per round, so the artifact's CONTENT stays
    // hash-pinned to the derivation.
    t21RollupFrom(Pipeline.dsirPerDocArtifact(spark, dir),
      Pipeline.dsirCutArtifact(spark, dir))

  /** The from-scratch t21 — the model artifact's builder shape and
    * the spec-side twin (Round12Spec pins served ≡ derived). */
  private[graft] def t21Derived(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = dsirPerDoc(spark, dir)
    t21RollupFrom(perDoc, dsirCut(perDoc))
  }

  private def t21RollupFrom(perDoc: DataFrame, cut: DataFrame): DataFrame =
    perDoc.crossJoin(broadcast(cut))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("logw")), 3).as("avg_logw"),
           sum(when(col("logw") > col("cut"), 1L).otherwise(0L)).as("n_selected"))
      .orderBy(col("source"))

  val HeavyK = 64 // heavy = tokens with count·K > corpus total (freq > 1/K)

  /** T22 — exact heavy hitters by sketch-then-verify: a Misra–Gries
    * pass (width = HeavyK, so any token with frequency > n/(K+1) is
    * guaranteed into the candidate set in ANY aggregation order)
    * bounds the candidates to ≤ K tokens; an exact re-count of just
    * those keys emits the true heavy hitters with exact counts. The
    * output is fully deterministic even though MG's internal counts
    * aren't — the sketch only prunes, the verify decides (t19's
    * bloom discipline applied to frequency). The flag is the
    * integer cross-product count·K > n, never a float share.
    *
    * Scale shape: pass 1 reduces every partition to one O(K) summary
    * before a single-row merge; pass 2 is an exact count filtered to
    * ≤ K literal keys. A direct groupBy-all-tokens + HAVING computes
    * the same answer but shuffles the full vocabulary; the sketch
    * pass shuffles O(K·partitions). */
  def t22HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    graft.functions.MisraGries.register(spark, HeavyK)
    // cached: the sketch pass, the corpus count, and the exact
    // re-count all read this — uncached it would tokenize three times
    val toks = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("t")).cache()
    val cand: Seq[String] = toks.agg(expr("misra_gries(t)").as("mg"))
      .select(col("mg.keys")).head().getSeq[String](0)
    val n = toks.agg(count(lit(1)).as("n"))
    toks.filter(col("t").isin(cand: _*))
      .groupBy(col("t")).agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(n))
      .filter(col("n_occurrences") * HeavyK > col("n"))
      .select(col("t").as("token"), col("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("token"))
  }

  /** T23 — SPAN-level decontamination: instead of t10's whole-doc
    * flag, count the exact tokens covered by eval-overlapping 8-gram
    * spans (the surgical excision Lee et al.-style pipelines apply —
    * a doc with one leaked quote loses a sentence, not itself).
    * Hit positions per doc merge into runs (two hits ≤ K apart
    * overlap), each run covers [p0, min(p1+K, n)) tokens; per-source
    * rollup reports docs touched and token mass excised vs kept.
    *
    * Scale shape: the hit set is the training-gram stream semi-joined
    * against the broadcast eval set (t10's join, positions kept);
    * run-merging is a per-doc window over HIT rows only — bounded by
    * contamination volume, not corpus size. */
  def t23DecontamSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = DecontaminationGramK
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("_w"))
    val hits = docs.filter(!isEvalDoc)
      .select(col("doc_id"), col("source"), size(col("_w")).as("n_tok"),
        posexplode(Dedup.shinglesOf(col("_w"), k)).as(Seq("pos", "g")))
      .join(broadcast(evalGramsOf(docs)), Seq("g"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = hits
      .withColumn("brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") - lag(col("pos"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("run", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("source"), col("n_tok"), col("run"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      .withColumn("covered",
        least(col("p1") + k, col("n_tok")).cast("long") - col("p0"))
    val perDoc = runs.groupBy(col("doc_id"), col("source"), col("n_tok"))
      .agg(sum(col("covered")).as("excised"))
    docs.filter(!isEvalDoc)
      .select(col("doc_id"), col("source"), size(col("_w")).cast("long").as("n_tok"))
      .join(perDoc.select(col("doc_id"), col("excised")), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("excised").isNotNull, 1L).otherwise(0L)).as("affected_docs"),
           sum(col("n_tok")).as("total_tokens"),
           sum(coalesce(col("excised"), lit(0L))).as("excised_tokens"))
      .orderBy(col("source"))
  }

  /** Gopher rule-bundle constants (Rae et al. 2021, Table A1 — the
    * widely-reused heuristic filter suite): word-count bounds, mean
    * word length bounds, max symbol-to-word ratio, min alpha-word
    * ratio, min distinct stopword hits. */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanWordLen = 3
  val GopherMaxMeanWordLen = 10
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /** T24 — the Gopher quality-rule bundle: five row-local heuristic
    * rules evaluated per document, rolled up per source with
    * PER-RULE fail counts (the number a corpus curator actually
    * tunes against — "this source loses 40% to word-count alone").
    * Every rule is an integer cross-multiply, never a float ratio:
    * mean word length ∈ [3,10] is `3n ≤ Σlen ≤ 10n`, alpha-word
    * ratio ≥ 0.8 is `5·alpha ≥ 4n`, symbol ratio ≤ 0.1 is
    * `10·symbols ≤ n` — bit-exact cross-engine, no rounding margin
    * needed (t15's OOV discipline).
    *
    * Scale shape: one narrow map pass per doc (no joins, no shuffle
    * beyond the |sources|-row rollup); at 100 TB this is the cheapest
    * possible corpus operator — scan-bounded, fully codegen'd. */
  def t24GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(col("source"),
        size(w).as("n"),
        length(array_join(w, "")).as("sumlen"),
        size(filter(w, x => x.rlike("[A-Za-z]"))).as("alpha"),
        (size(regexp_extract_all(col("text"), lit("#"), lit(0))) +
          size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0)))).as("symbols"),
        size(array_intersect(array_distinct(w),
          array(GopherStopwords.map(lit): _*))).as("stop_hits"))
      .select(col("source"),
        (col("n") < GopherMinWords || col("n") > GopherMaxWords).as("f_wc"),
        (col("sumlen") < col("n") * GopherMinMeanWordLen ||
          col("sumlen") > col("n") * GopherMaxMeanWordLen).as("f_mwl"),
        (col("alpha") * 5 < col("n") * 4).as("f_alpha"),
        (col("symbols") * 10 > col("n")).as("f_sym"),
        (col("stop_hits") < GopherMinStopHits).as("f_stop"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_wc"), 1L).otherwise(0L)).as("fail_word_count"),
        sum(when(col("f_mwl"), 1L).otherwise(0L)).as("fail_mean_word_len"),
        sum(when(col("f_alpha"), 1L).otherwise(0L)).as("fail_alpha_ratio"),
        sum(when(col("f_sym"), 1L).otherwise(0L)).as("fail_symbol_ratio"),
        sum(when(col("f_stop"), 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when(!col("f_wc") && !col("f_mwl") && !col("f_alpha") &&
          !col("f_sym") && !col("f_stop"), 1L).otherwise(0L)).as("n_pass_all"))
      .orderBy(col("source"))
  }

  val NoveltyGramK = 3

  /** T25 — cross-document n-gram novelty: what fraction of each
    * source's distinct 3-gram mass is SHARED with at least one other
    * document (boilerplate / template mass), vs novel. The
    * complement of t20's within-source diversity: t20 asks "how
    * varied is this source's text", t25 asks "how much of it is
    * copied around the corpus" — the signal used to down-weight
    * template-heavy sources before training. novelty_permille is an
    * integer div of summed counts (exact); doc-level novelty
    * extremes are reported for triage.
    *
    * Scale shape: d3's bounded frequency join — distinct (doc,gram)
    * pairs semi-joined against the grams whose doc-frequency ≥ 2
    * (computed by one gram-keyed groupBy with map-side combine). No
    * pair explosion: each gram contributes its doc count, never
    * doc². At 100 TB the hot-gram cap (d3's knob) bounds the
    * frequency table's skew; the rollup is |sources| rows. */
  def t25NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("_w"))
    val grams = docs
      .select(col("doc_id"), col("source"),
        explode(array_distinct(Dedup.shinglesOf(col("_w"), NoveltyGramK))).as("g"))
    val shared = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("df")).filter(col("df") >= 2)
      .select(col("g"))
    val perDoc = grams
      .join(shared, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val docGrams = grams.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"))
    docGrams.join(perDoc, Seq("doc_id"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        expr("(1000 * (n_grams - coalesce(n_shared, 0))) div n_grams").as("doc_novelty_pm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("total_grams"),
        sum(col("n_shared")).as("shared_grams"),
        expr("(1000 * sum(n_grams - n_shared)) div sum(n_grams)").as("novelty_permille"),
        min(col("doc_novelty_pm")).as("min_doc_novelty_pm"),
        max(col("doc_novelty_pm")).as("max_doc_novelty_pm"))
      .orderBy(col("source"))
  }

  /** Merge-round count for the t27 gate. The ROUNDS axis is the
    * other named knob next to [[BpeVocabCap]]: training cost is
    * rounds × (one vocab-sized pair-count pass + a 1-row argmax
    * round-trip), so a production tokenizer's ~30k merges means ~30k
    * driver round-trips — each cheap (vocab-bounded,
    * corpus-independent: Round10Spec measures the training frame at
    * EXACTLY |vocab| rows at every widened round) but latency-bound
    * in aggregate. The standard mitigations, in preference order:
    * (a) the capped vocab IS bounded driver state (≤[[BpeVocabCap]]
    * rows) — collect it once after the corpus groupBy and run the
    * remaining merges driver-local, keeping the distributed encode
    * (t28) unchanged; (b) batch B non-overlapping argmax pairs per
    * round (merges whose symbols don't touch commute), cutting
    * round-trips ~B× — LANDED as [[learnBpeMergesBatched]], pinned
    * ≡ sequential where batches commute (Round11Spec). Round10Spec
    * also pins PREFIX STABILITY — a 2×-rounds run's first half equals
    * the shorter run's merge table — which is what makes the
    * batched/driver-local variants drop-in. */
  val BpeRounds = 8
  /** Vocabulary cap for BPE training (freq desc, word asc tie-break —
    * deterministic on both engines). The 100 TB knob: BPE trains on
    * the WORD-FREQUENCY table (Sennrich et al., arXiv:1508.07909),
    * so after the one corpus-sized groupBy the iterative phase costs
    * O(cap · word_len) per round regardless of corpus size; the cap
    * bounds that state and drops only the frequency tail that cannot
    * win a merge anyway. */
  val BpeVocabCap = 65536

  /** One greedy left-to-right BPE merge pass over a symbol array:
    * fold that either fuses the accumulator's last symbol with the
    * incoming one (when they equal the round's winning pair) or
    * appends. `get()` (0-based, null-on-out-of-range) keeps the
    * empty-accumulator probe ANSI-safe. Greedy semantics under
    * overlap ("aaa" + merge(a,a) → ["aa","a"]) are exactly standard
    * BPE's non-overlapping left-to-right replace; Round9Spec
    * property-tests this fold against an independent Scala reference
    * on arbitrary symbol runs. */
  private[graft] def bpeApplyMerge(toks: Column, l: String, r: String): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, x) => when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** T27 — distributed BPE tokenizer training: the first [[BpeRounds]]
    * merge rules learned from the corpus, the actual
    * tokenizer-construction step of an LLM data pipeline (every
    * token-count/packing operator upstream assumes a tokenizer came
    * from somewhere — this is the somewhere). Standard
    * word-frequency formulation: the corpus collapses to (word, freq)
    * once, words split into character symbols, and each round (a)
    * counts adjacent symbol pairs weighted by word frequency, (b)
    * takes the argmax pair (count desc, then lexicographic — fully
    * deterministic), (c) fuses that pair greedily left-to-right in
    * every word. Output: the learned merge table (rank, pair, count).
    *
    * Scale shape: stage 1 is ONE map-side-combined groupBy of the
    * corpus (the only corpus-sized work); every round after runs on
    * the ≤[[BpeVocabCap]]-row vocabulary — corpus-size-INDEPENDENT —
    * with the argmax a 1-row TakeOrdered (bounded driver state, like
    * s5's centroids). The per-round vocab cache is materialized then
    * the predecessor unpersisted, so peak storage is two vocab
    * copies, never `rounds`. */
  /** The capped (word, freq, toks) vocabulary — BPE's whole view of
    * the corpus after the one corpus-sized groupBy. */
  private[graft] def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocabOn(spark, dir, lit(true))

  /** The training vocabulary over a document slice — t31's frozen
    * generation learns on the BASE slice only (the tokenizer version
    * that existed before the delta arrived). */
  private[graft] def bpeVocabOn(spark: SparkSession, dir: String,
                                learnPred: Column): DataFrame =
    Tables.documents(spark, dir).filter(learnPred)
      .select(explode(words(col("text"))).as("word"))
      // empty tokens (doubled separators) are not words — and
      // sequence(1, length('')) would DESCEND (the m2 lesson)
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(BpeVocabCap)
      .select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("toks"))

  /** Frequency-weighted adjacent-pair counts of a symbol-sequence
    * frame — one BPE round's statistics. */
  private def bpePairCounts(seqDf: DataFrame): DataFrame =
    seqDf.filter(size(col("toks")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
           i -> named_struct('l', element_at(toks, i), 'r', element_at(toks, i + 1)))""")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** Round-1's argmax frame (vocab pair count + 1-row TakeOrdered) —
    * the distributed plan PLANS.md shows for t27, whose gate result
    * is a driver-assembled merge table (a local relation). */
  private[graft] def t27Round1Pairs(spark: SparkSession, dir: String): DataFrame =
    bpePairCounts(bpeVocab(spark, dir))
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)

  /** The training loop itself, returning the learned merge table as
    * bounded driver state ([[BpeRounds]] rows) — t27 reports it, t28
    * applies it. */
  private def learnBpeMerges(spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    learnBpeMergesFrom(bpeVocab(spark, dir), BpeRounds)._1

  /** Parameterized over the vocab frame and round count so
    * Round10Spec can widen the rounds axis and pin (a) prefix
    * stability and (b) the per-round frame staying exactly
    * vocab-sized. Returns (merge table, final training-frame rows). */
  private[graft] def learnBpeMergesFrom(vocab: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], Long) = {
    var seq0 = vocab.cache()
    var nRows = 0L
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val best = bpePairCounts(seq0)
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .collect()(0) // 1 row per round — bounded driver state
      val (l, rr, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r, l, rr, cnt))
      // eager localCheckpoint, not cache: cache keeps the full logical
      // lineage, so a widened rounds axis (t29's 32-merge oracle twin,
      // Round10Spec's sweep) accumulates a linearly deeper chained-HOF
      // plan whose rendering alone can OOM the driver; the checkpoint
      // pins each vocab-bounded round as an RDD scan (plan depth 1).
      val next = seq0.select(col("word"), col("freq"),
        bpeApplyMerge(col("toks"), l, rr).as("toks")).localCheckpoint()
      nRows = next.count()
      seq0.unpersist()
      seq0 = next
    }
    seq0.unpersist()
    (merges.result(), nRows)
  }

  /** BATCHED BPE training — the (b) mitigation the rounds-knob doc
    * above names, landed behind a knob: each ROUND takes the top
    * `batch` pairs from ONE pair-count snapshot, keeps the maximal
    * rank-order PREFIX whose SYMBOL SETS are pairwise disjoint
    * (stopping at the first conflicting candidate — skipping PAST a
    * conflict would reorder the sequential learner's picks), and
    * applies the whole prefix in one chained fold pass — one driver
    * round-trip per batch instead of per merge, so a ~30k-merge
    * production tokenizer runs ~30k/B round-trips (the
    * rounds-to-merges ratio is exactly |merges| / |snapshots|;
    * Round11Spec asserts the widened case uses ≤ ceil(merges/B)+1
    * snapshots on this corpus).
    *
    * Why disjoint ⇒ safe: a merge (a,b) fuses adjacent sites of its
    * own two symbols; a symbol-disjoint merge (c,d) neither destroys
    * such a site (a and b don't participate) nor creates one (fusing
    * c,d inserts `cd` BETWEEN its neighbors — two symbols become one,
    * nothing is removed, so no new (a,b) adjacency can form). Disjoint
    * merges therefore commute — in either order or one fused pass the
    * symbol sequences agree — and each one's pair count is exactly
    * what a sequential recount would have produced, so the recorded
    * (rank, pair, count) table matches the sequential learner's
    * whenever the snapshot's compatible prefix is what sequential
    * would have picked. Disjointness alone does NOT guarantee that
    * last condition: a pair CREATED by an earlier in-batch merge
    * (count bounded by its source merge's count, never above it) can
    * still tie a later pick's count and win the lexicographic
    * tie-break — batched BPE accepts that divergence as the price of
    * the round-trips, exactly as production batched trainers do.
    * Round11Spec pins equality where it is guaranteed (a constructed
    * commuting vocab; an overlapping vocab where batching must
    * degenerate to sequential) and pins the real-corpus batch-4 run
    * as a DETERMINISTIC regression case for this corpus, not a law.
    * Incompatible candidates are NOT batched — they defer to the
    * next snapshot, trading round-trips back for exactness. */
  private[graft] def learnBpeMergesBatched(vocab: DataFrame, totalMerges: Int,
                                           batch: Int,
                                           boundaries: scala.collection.mutable.Buffer[Int] = null)
      : (Seq[(Int, String, String, Long)], Int) = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    var seq0 = vocab.cache()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var snapshots = 0
    var exhausted = false
    while (rank < totalMerges && !exhausted) {
      val want = math.min(batch, totalMerges - rank)
      // snapshot: the top `batch` candidates by (cnt desc, l, r) —
      // bounded driver state, exactly the sequential learner's argmax
      // widened to a prefix
      val top = bpePairCounts(seq0)
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(batch)
        .collect()
      snapshots += 1
      // spec seam: record each snapshot's first merge index, so
      // Round13Spec can pin "every snapshot's first pick IS the
      // sequential argmax of that state" (the order law no lawful
      // creation-tie can bend — rank 1 of the shared (cnt desc, l, r)
      // ordering is tie-break-identical in both learners)
      if (boundaries != null && top.nonEmpty) boundaries += rank
      if (top.isEmpty) exhausted = true // vocab fully fused
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val chosen = Seq.newBuilder[(String, String, Long)]
        var n = 0
        var conflicted = false
        top.foreach { row =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          // a self-pair (l == r) occupies one symbol; compatibility is
          // simply "none of my symbols used by an earlier pick"
          if (!conflicted && n < want) {
            if (!used(l) && !used(r)) {
              used += l; used += r
              chosen += ((l, r, c)); n += 1
            } else conflicted = true
          }
        }
        val picked = chosen.result()
        picked.foreach { case (l, r, c) =>
          rank += 1
          merges += ((rank, l, r, c))
        }
        // eager localCheckpoint, not cache: it TRUNCATES the lineage.
        // 17 snapshots × ≤8 chained `aggregate` HOF lambdas otherwise
        // accumulate a ~136-deep expression tree whose explain-string
        // rendering alone OOMs the driver at sf0.1 — each round's
        // frame is vocab-bounded (≤ BpeVocabCap rows), so pinning it
        // as an RDD scan is cheap and resets plan depth to 1.
        val next = seq0.select(col("word"), col("freq"),
          picked.foldLeft(col("toks")) { case (t, (l, r, _)) =>
            bpeApplyMerge(t, l, r)
          }.as("toks")).localCheckpoint()
        seq0.unpersist()
        seq0 = next
      }
    }
    seq0.unpersist()
    (merges.result(), snapshots)
  }

  /** The FRESH merge-table derivation — the artifact BUILDER and the
    * Round14Spec serve≡learn twin (the t21 DSIR split: derived = the
    * from-scratch chain, the artifact = that chain persisted once per
    * corpus version). */
  private[graft] def bpeMergesDerived(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(learnBpeMerges(spark, dir))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")

  /** T27 now SERVES the persisted tokenizer: a production tokenizer is
    * trained once, versioned, and served — every budget/packing
    * decision upstream is denominated in its tokens — so the merge
    * table is a marker-gated artifact under the e-family root
    * (t21's DSIR precedent at the tokenizer layer), learned on first
    * touch per corpus version and read from parquet ever after.
    * Content is identical to the from-scratch learn (the artifact IS
    * the learner's output), so the gate hash is unchanged;
    * Round14Spec pins serve ≡ learn. */
  def t27BpeMerges(spark: SparkSession, dir: String): DataFrame =
    Pipeline.bpeMergesArtifact(spark, dir)
      .orderBy(col("merge_rank"))

  /** t29's depth: 4× t27's merge count, learned at batch width
    * [[BpeBatch]] — the gate path itself runs with strictly fewer
    * snapshots than merges (measured 17 for 32 on this corpus at both
    * spec SFs: its frequent pairs form CHAINS — colu→colum→column —
    * and a chained merge consumes the symbol its predecessor created,
    * so the compatible-prefix rule defers it; symbol-diverse corpora
    * approach the merges/B ideal), the production round-trip claim
    * made driver-visible. */
  val BpeBatchedMerges = 32
  val BpeBatch = 8

  /** T29 — the BATCHED BPE learner under the hash gate: the first
    * [[BpeBatchedMerges]] merges learned via [[learnBpeMergesBatched]]
    * at width [[BpeBatch]], oracle = the SEQUENTIAL learn chain at the
    * same depth. The entry asserts snapshots < merges in-path (the
    * whole point of batching). Both sides emit the CANONICAL
    * (pair_count desc, lhs, rhs) view of the merge table — the one
    * lawful batched-vs-sequential divergence is a pair CREATED
    * mid-batch tying an existing candidate's count (live on this
    * corpus: merge 26 creates 'colum', and ('colum','n') ties
    * ('cu','st') at 934 — sequential interleaves them one way, the
    * batched learner sees the creation one snapshot later), which
    * permutes equal-count neighbors without changing the SET, so the
    * canonical view is the strongest order both learners share; the
    * gate hash-pins every merge's symbols and exact count against the
    * sequential rebuild each round, and learned-ORDER equality stays
    * pinned in Round11Spec where disjointness guarantees it. Bounded
    * driver state: ≤ batch rows per snapshot, |merges| rows total. */
  /** The fresh batched derivation (builder + spec twin): the canonical
    * merge view with the training run's snapshot count carried as a
    * constant column, so the served row can keep asserting the
    * round-trip claim (snapshots < merges — the whole point of
    * batching) without re-training. */
  private[graft] def bpeBatchedDerived(spark: SparkSession, dir: String): DataFrame = {
    val (merges, snapshots) =
      learnBpeMergesBatched(bpeVocab(spark, dir), BpeBatchedMerges, BpeBatch)
    require(snapshots < merges.size,
      s"batching bought nothing: $snapshots snapshots for ${merges.size} merges")
    val canon = merges.map { case (_, l, r, c) => (l, r, c) }
      .sortBy { case (l, r, c) => (-c, l, r) }
      .zipWithIndex.map { case ((l, r, c), i) => (i + 1, l, r, c) }
    spark.createDataFrame(canon)
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .withColumn("snapshots", lit(snapshots))
  }

  def t29BpeBatched(spark: SparkSession, dir: String): DataFrame = {
    val a = Pipeline.bpeBatchedMergesArtifact(spark, dir)
    // re-assert the batching claim from the PERSISTED snapshot count
    // (2 longs of driver state) — the artifact carries the training
    // run's round-trip economics, and the served row must keep the
    // in-path guarantee the learner made
    val stats = a.agg(max(col("snapshots")).cast("long"),
      count(lit(1))).collect()(0)
    require(stats.getLong(0) < stats.getLong(1),
      s"batching bought nothing: ${stats.getLong(0)} snapshots for ${stats.getLong(1)} merges")
    a.select(col("merge_rank"), col("lhs"), col("rhs"), col("pair_count"))
      .orderBy(col("merge_rank"))
  }

  /** T28 — ENCODE the corpus with the tokenizer t27 trained: the
    * apply side of BPE, the step that turns "we have a merge table"
    * into the per-source token counts every budget/mixing/packing
    * decision upstream (t13, t16, e3) is denominated in. Encoding is
    * word-deterministic, so the corpus is NEVER re-scanned per merge:
    * the distinct-word table (Heaps-law vocabulary-sized, the named
    * 100 TB bound — sublinear in corpus size) is folded through all
    * [[BpeRounds]] learned merges in rank order as ONE lazy column
    * pipeline (8 chained [[bpeApplyMerge]] HOF folds, a linear-depth
    * expression — no per-round action, no per-round shuffle), then
    * joined back to the per-(source, word) frequency table for an
    * integer-exact census: words, BPE tokens, chars, fully-fused
    * words, and chars-per-token compression in truncating permille.
    *
    * Out-of-cap words still encode: merges operate on character
    * sequences, so the frequency tail the [[BpeVocabCap]] training
    * cap dropped simply fuses less (that is standard BPE inference).
    * At 100 TB the encode table joins shuffle-on-word (broadcast only
    * while it fits); the corpus-sized work is the one (source, word)
    * groupBy — same shape as t27's stage 1. */
  /** The per-(source, word) frequency table t28 censuses. */
  private def sourceWordFreq(spark: SparkSession, dir: String): DataFrame =
    sourceWordFreqOn(spark, dir, lit(true))

  /** The same census over a document slice — t31 censuses the delta
    * and base slices separately. */
  private[graft] def sourceWordFreqOn(spark: SparkSession, dir: String,
                                      pred: Column): DataFrame =
    Tables.documents(spark, dir).filter(pred)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("freq"))

  /** The distinct-word table folded through an explicit merge list in
    * rank order — one lazy column pipeline, (word, toks) out. This is
    * the artifact BUILDER's kernel: Pipeline.bpeEncodedWordsArtifact
    * feeds it the persisted merge table (the DAG discipline — each
    * artifact builds from its PARENT table, never from scratch), and
    * the fresh-merges form below is Round14Spec's serve≡learn twin. */
  private[graft] def encodedWordsFrom(spark: SparkSession, dir: String,
                                      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(
        sourceWordFreq(spark, dir).select(col("word")).distinct().withColumn("toks",
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      ) { case (df, (l, r)) =>
        df.select(col("word"), bpeApplyMerge(col("toks"), l, r).as("toks"))
      }

  /** Fresh end-to-end derivation (learn + fold) — the Round14Spec
    * twin of the served table. */
  private[graft] def encodedWordsDerived(spark: SparkSession, dir: String): DataFrame =
    encodedWordsFrom(spark, dir, learnBpeMerges(spark, dir).map(m => (m._2, m._3)))

  /** The encoded distinct-word table SERVED from its artifact —
    * Heaps-law vocabulary-sized, the tokenizer's second persisted
    * table (merges = the model, this = the model applied to the
    * vocabulary, the memoized form every encode pass joins against).
    * Exposed for Round9Spec's conservation/monotonicity pins. */
  private[graft] def t28EncodedWords(spark: SparkSession, dir: String): DataFrame =
    Pipeline.bpeEncodedWordsArtifact(spark, dir)

  /** Decision bytes of the encode join's build side: one encoded-word
    * row ≈ the word string + its token array (~per-char duplication)
    * + row overhead — a named formula (the k-means auto-gate's
    * discipline), not a heuristic buried in a call site. */
  private[graft] def encodeBytesOf(nWords: Long): Long = nWords * 96L

  /** Dedicated knob for the encode-join form (the k-means gate's conf
    * discipline): read THIS key first, fall back to the session's
    * `spark.sql.autoBroadcastJoinThreshold` — so suppressing SQL
    * broadcast joins globally doesn't silently flip every BPE census
    * onto the shuffle form, and vice versa. */
  private[graft] val EncodeBroadcastThresholdKey =
    "spark.graft.encode.broadcastThreshold"

  /** The auto gate of t28's encode join — "broadcast only while it
    * fits" made CODE: broadcast the
    * vocabulary-sized encoded table while [[encodeBytesOf]] its row
    * count fits the threshold; shuffle-on-word past it (Heaps-law
    * growth eventually outruns any executor). Forms are pinned
    * bit-equal in Round16Spec, so the gate can only change a plan,
    * never an answer. */
  private[graft] def autoBroadcastEncode(spark: SparkSession,
                                         nWords: Long): Boolean =
    SizeGate.fits(spark, EncodeBroadcastThresholdKey, encodeBytesOf(nWords))

  def t28BpeEncode(spark: SparkSession, dir: String): DataFrame =
    t28BpeEncode(spark, dir, None)

  /** `broadcastEncode` is the spec seam (Some forces a form); the
    * gate entry passes None — size-gated auto selection. The count
    * feeding the gate is a vocabulary-sized artifact scan. */
  private[graft] def t28BpeEncode(spark: SparkSession, dir: String,
                                  broadcastEncode: Option[Boolean]): DataFrame = {
    val ws = sourceWordFreq(spark, dir)
    val encoded = t28EncodedWords(spark, dir)
      .select(col("word"), size(col("toks")).cast("long").as("n_tok"),
        length(col("word")).cast("long").as("n_char"))
    val bcast = broadcastEncode.getOrElse(
      autoBroadcastEncode(spark, encoded.count()))
    val encSide = if (bcast) broadcast(encoded) else encoded.hint("merge")
    ws.join(encSide, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("freq") * col("n_tok")).as("n_bpe_tokens"),
        sum(col("freq") * col("n_char")).as("n_chars"),
        sum(when(col("n_tok") === 1, col("freq")).otherwise(0L)).as("n_fused_words"))
      .withColumn("chars_per_token_pm", expr("(1000 * n_chars) div n_bpe_tokens"))
      .select(col("source"), col("n_words"), col("n_distinct_words"),
        col("n_bpe_tokens"), col("n_chars"), col("n_fused_words"),
        col("chars_per_token_pm"))
      .orderBy(col("source"))
  }

  /** The frozen tokenizer generation's merge table DERIVED — learned
    * on the BASE slice only (the builder of
    * Pipeline.frozenBpeMergesArtifact and its serve ≡ learn spec
    * twin). */
  private[graft] def frozenBpeMergesDerived(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
        learnBpeMergesFrom(bpeVocabOn(spark, dir, !Pipeline.e4DeltaPred), BpeRounds)._1)
      .toDF("merge_rank", "lhs", "rhs", "pair_count")

  /** t31's retrain trigger, in tokens-per-1000-chars: a source whose
    * delta slice needs more than this many EXTRA tokens per 1000
    * chars under the frozen tokenizer (vs a full retrain) flags for
    * retrain. Corpus-calibrated (t30's discipline — the knob is the
    * operator surface): measured per-source generation gaps top out
    * at 12 tpk at sf0.01 (src8; the two generations' merge tables
    * genuinely diverge there — rank 7 is 'a·t' vs 't·a') and 0 at
    * sf0.001 (the 8-merge tables coincide on the small corpus), so 20
    * sits above the live frontier with real margin; both engines
    * compare the SAME exact integers, so the margin protects the
    * claim, not the hash. */
  val T31RetrainTpk = 20L

  /** T31 — TOKENIZER HEALTH, the model-health verb the BPE family
    * lacked (the DSIR model has t26 drift + t30 refresh + e19
    * cutover): FERTILITY drift of the persisted tokenizer, the
    * measurement production tokenizer owners watch (tokens per unit
    * text — budgets, packing, and serving cost are all denominated in
    * tokens, and a tokenizer that inflates on new data silently taxes
    * every downstream consumer). Two persisted generations — FROZEN
    * (merges learned on the base slice only: the tokenizer version
    * that existed before the delta arrived, e4's frozen-model posture
    * at the tokenizer layer) and CURRENT (the full-corpus bpe_merges
    * artifact t27 serves) — each applied to the full vocabulary as a
    * persisted encoded-word table. Per pool source, on the DELTA
    * slice: tokens-per-1000-chars under each generation (exact
    * integer division), the GENERATION GAP (frozen − current: what a
    * retrain would buy, the retrain trigger [[T31RetrainTpk]]'s
    * subject), and the NEW-DATA DRIFT (the frozen tokenizer's
    * fertility on the delta vs on its own training slice — non-zero
    * even when the two generations coincide, so the measurement can
    * never go vacuous). Oracle replays both learn+encode worlds
    * (nested WITH keeps their CTE vocabularies apart) + both censuses
    * in one statement.
    *
    * Scale: the two corpus-sized passes are the (source, word)
    * censuses (t27 stage-1's shape); encoding joins the persisted
    * vocabulary-sized encoded tables; the learns are the artifacts'
    * builders, paid once per corpus version. */
  def t31TokenizerHealth(spark: SparkSession, dir: String): DataFrame = {
    val encF = Pipeline.frozenBpeEncodedWordsArtifact(spark, dir)
      .select(col("word"), size(col("toks")).cast("long").as("ftok1"))
    val encC = Pipeline.bpeEncodedWordsArtifact(spark, dir)
      .select(col("word"), size(col("toks")).cast("long").as("ctok1"))
    val wsD = sourceWordFreqOn(spark, dir, Pipeline.e4DeltaPred)
    val wsB = sourceWordFreqOn(spark, dir, !Pipeline.e4DeltaPred)
    val d = wsD.join(encF, Seq("word")).join(encC, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_delta_words"),
        sum(col("freq") * length(col("word")).cast("long")).as("n_delta_chars"),
        sum(col("freq") * col("ftok1")).as("ftok"),
        sum(col("freq") * col("ctok1")).as("ctok"))
    val b = wsB.join(encF, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("freq") * length(col("word")).cast("long")).as("bchars"),
        sum(col("freq") * col("ftok1")).as("bftok"))
    d.join(b, Seq("source"))
      .withColumn("tpk_frozen", expr("(1000 * ftok) div n_delta_chars"))
      .withColumn("tpk_current", expr("(1000 * ctok) div n_delta_chars"))
      .withColumn("gen_gap_tpk", col("tpk_frozen") - col("tpk_current"))
      .withColumn("tpk_base", expr("(1000 * bftok) div bchars"))
      .withColumn("newdata_drift_tpk", col("tpk_frozen") - col("tpk_base"))
      .withColumn("retrain",
        when(col("gen_gap_tpk") > lit(T31RetrainTpk), 1L).otherwise(0L))
      .select(col("source"), col("n_delta_words"), col("n_delta_chars"),
        col("tpk_frozen"), col("tpk_current"), col("gen_gap_tpk"),
        col("tpk_base"), col("newdata_drift_tpk"), col("retrain"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t27_bpe_merges"       -> (t27BpeMerges _),
    "t29_bpe_batched"      -> (t29BpeBatched _),
    "t30_model_refresh"    -> (t30ModelRefresh _),
    "t31_tokenizer_health" -> (t31TokenizerHealth _),
    "t28_bpe_encode"       -> (t28BpeEncode _),
    "t25_ngram_novelty"    -> (t25NgramNovelty _),
    "t26_source_drift"     -> (t26SourceDrift _),
    "t24_gopher_rules"     -> (t24GopherRules _),
    "t23_decontam_spans"   -> (t23DecontamSpans _),
    "t22_heavy_hitters"    -> (t22HeavyHitters _),
    "t21_dsir_select"      -> (t21DsirSelect _),
    "t20_distinct_ngrams"  -> (t20DistinctNgrams _),
    "t19_bloom_decontaminate" -> (t19BloomDecontaminate _),
    "t18_pii_redact"       -> (t18PiiRedact _),
    "t17_token_entropy"    -> (t17TokenEntropy _),
    "t13_packing"          -> (t13Packing _),
    "t14_bm25"             -> (t14Bm25 _),
    "t12_unigram_ppl"      -> (t12UnigramPerplexity _),
    "t15_vocab_ppl"        -> (t15VocabPerplexity _),
    "t32_bigram_ppl"       -> (t32BigramPerplexity _),
    "t16_temperature_mix"  -> (t16TemperatureMix _),
    "t9_repetition_filter" -> (t9RepetitionFilter _),
    "t10_decontaminate"    -> (t10Decontaminate _),
    "t11_chunking"         -> (t11Chunking _),
    "t1_token_stats"  -> (t1TokenStats _),
    "t2_lang_id"      -> (t2LangId _),
    "t3_quality_hist" -> (t3QualityHist _),
    "t4_winnow_fingerprint" -> (t4WinnowFingerprint _),
    "t5_bottomk_sketch"     -> (t5BottomkSketch _),
    "t6_pmi_collocations"   -> (t6PmiCollocations _),
    "t7_stratified_sample"  -> (t7StratifiedSample _),
    "t8_length_filter"      -> (t8LengthFilter _))

  // ------------- DuckDB mirrors of the heuristics -------------

  private def sqlHits(lang: String): String = {
    val set = stopwords.toMap.apply(lang).map(s => s"'$s'").mkString(", ")
    s"len(list_intersect(list_distinct(string_split(trim(text), ' ')), [$set]))"
  }

  private val sqlTokens = "len(string_split(trim(text), ' '))"

  /** [[keepScore]]'s DuckDB twin — shared with the d23 oracle. */
  private[ext] lazy val sqlKeepScore: String =
    s"least($sqlTokens, 50) * 2 + ${sqlHits("en")} * 25"

  private def sqlLangGuess: String = {
    val best = stopwords.map { case (l, _) => sqlHits(l) }
      .reduce((a, b) => s"greatest($a, $b)")
    // same fixed priority order as the Scala foldRight; `best` is
    // inlined (RE2/DuckDB would allow a correlated subquery, but the
    // inline form keeps it a plain scalar expression)
    stopwords.reverse.foldLeft("'und'") { case (acc, (l, _)) =>
      s"CASE WHEN ${sqlHits(l)} = ($best) AND ($best) > 0 THEN '$l' ELSE $acc END"
    }
  }

  private val sqlQuality =
    s"round(least($sqlTokens / 50.0, 1.0) * 0.5 + (${sqlHits("en")} / 4.0) * 0.5, 2)"

  /** Non-distinct k-gram list over `w` (duplicates preserved) —
    * mirrors Dedup.shinglesOf exactly, short-doc fallback included. */
  private[ext] def sqlGrams(k: Int): String = {
    val cat = (0 until k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""CASE WHEN len(w) >= $k
         THEN list_transform(range(1, len(w) - ${k - 2}), i -> $cat)
         ELSE [array_to_string(w, ' ')] END"""
  }

  /** t21's whole DSIR model as a composable CTE chain (toks → tf →
    * bucket spine → perdoc log weights → the quantile cut) — shared
    * by the t21 oracle and the e2 pipeline oracle so the two can
    * never drift apart. */
  /** DSIR bucket-model CTEs (toks → tf → ctc/crc → spine → tot) with
    * the TRAINING population restricted to `train` — the SQL twin of
    * dsirPerDocOn's trainPred. CTE names take prefix `p` so one
    * statement can hold TWO model generations (t30 composes the
    * frozen base-trained model and the full retrain); the default ""
    * keeps every existing oracle text byte-identical. */
  private[ext] def dsirModelCtes(train: String = "TRUE", p: String = ""): String =
    s"""${p}toks AS (
           SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS t
           FROM documents),
         ${p}tf AS (
           SELECT doc_id, source,
                  (${graft.functions.StableHash.duckdbHash64(DsirSeed, "t")}) % $DsirBuckets AS b,
                  count(*) AS k
           FROM ${p}toks GROUP BY 1, 2, 3),
         ${p}ctc AS (SELECT b, sum(k) AS ct FROM ${p}tf
                 WHERE source = '$DsirTarget' AND ($train) GROUP BY 1),
         ${p}crc AS (SELECT b, sum(k) AS cr FROM ${p}tf
                 WHERE source <> '$DsirTarget' AND ($train) GROUP BY 1),
         ${p}spine AS (
           SELECT CAST(r.range AS BIGINT) AS b,
                  COALESCE(${p}ctc.ct, 0) AS ct, COALESCE(${p}crc.cr, 0) AS cr
           FROM range($DsirBuckets) r
           LEFT JOIN ${p}ctc ON ${p}ctc.b = r.range
           LEFT JOIN ${p}crc ON ${p}crc.b = r.range),
         ${p}tot AS (SELECT CAST(sum(ct) + $DsirBuckets AS DOUBLE) AS nt,
                        CAST(sum(cr) + $DsirBuckets AS DOUBLE) AS nr
                 FROM ${p}spine)"""

  /** A perdoc-shaped scoring CTE over the model above, restricted to
    * `score` pool docs — named so e4 can emit two (base for the cut,
    * delta for the flags); `p` selects which model generation's
    * tf/spine/tot it scores against. */
  private[ext] def dsirPerdocCte(name: String, score: String = "TRUE",
                                 p: String = ""): String =
    s"""$name AS (
           SELECT f.doc_id, f.source,
                  sum(f.k * (ln((s.ct + 1) / t.nt) - ln((s.cr + 1) / t.nr))) AS logw
           FROM ${p}tf f JOIN ${p}spine s USING (b) CROSS JOIN ${p}tot t
           WHERE f.source <> '$DsirTarget' AND ($score)
           GROUP BY 1, 2)"""

  private[ext] lazy val dsirCtes: String =
    s"""${dsirModelCtes()},
         ${dsirPerdocCte("perdoc")},
         cut AS (SELECT quantile_cont(logw, $DsirSelectQuantile) AS cut FROM perdoc)"""

  /** BOTH persisted DSIR model generations as one CTE prelude —
    * frozen (f-prefixed: base-trained, cut = quantile of base-scored
    * docs) and refreshed (r-prefixed: full retrain) with their cuts —
    * shared by the t30 and e19 oracles so the two gate rows can never
    * desynchronize on the generation definitions. */
  private[ext] lazy val dsirTwoGenCtes: String = {
    val base = s"NOT ${Pipeline.e4DeltaSqlOf("doc_id")}"
    val baseF = s"NOT ${Pipeline.e4DeltaSqlOf("f.doc_id")}"
    s"""${dsirModelCtes(base, "f")},
         ${dsirPerdocCte("fperdoc", "TRUE", "f")},
         fcut AS (SELECT quantile_cont(logw, $DsirSelectQuantile) AS cut
                  FROM fperdoc f WHERE ($baseF)),
         ${dsirModelCtes("TRUE", "r")},
         ${dsirPerdocCte("rperdoc", "TRUE", "r")},
         rcut AS (SELECT quantile_cont(logw, $DsirSelectQuantile) AS cut
                  FROM rperdoc)"""
  }

  /** t16's full-corpus rate table as CTEs (mixd → mixr), names
    * prefixed so the fragment composes into the e2 oracle without
    * CTE collisions. */
  private[ext] lazy val mixRateCtes: String = mixRateCtesOn()

  /** Parameterized rate table: token mass from `train` docs only. */
  private[ext] def mixRateCtesOn(train: String = "TRUE"): String =
    s"""mixd AS (
           SELECT doc_id, source, len(string_split(trim(text), ' ')) AS n_tok
           FROM documents WHERE ($train)),
         mixc AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok_src FROM mixd GROUP BY 1),
         mixm AS (SELECT min(tok_src) AS tok_min FROM mixc),
         mixr AS (SELECT source,
                      CAST(floor($MixPpm.0 * sqrt(CAST(tok_min AS DOUBLE) / tok_src)) AS BIGINT)
                        AS rate_ppm
               FROM mixc, mixm)"""

  /** t26's whole drift chain as prefixable CTEs ending in
    * `${p}drift(source, base_tokens, delta_tokens, kl_nats)` — shared
    * by the t26 oracle and t30's refresh-decision oracle (which also
    * holds two DSIR model generations, hence the prefix axis). */
  private[ext] def t26DriftCtes(p: String = ""): String =
    s"""${p}ktoks AS (
           SELECT source,
                  CASE WHEN ((doc_id // 20) % 10 = ${Pipeline.E4DeltaDigit}
                             AND doc_id % $EvalStride <> 0)
                       THEN 'delta' ELSE 'base' END AS side,
                  unnest(string_split(trim(text), ' ')) AS t
           FROM documents),
         ${p}kvocab AS (
           SELECT t FROM (
             SELECT t, count(*) AS cnt FROM ${p}ktoks WHERE side = 'base'
             GROUP BY 1 ORDER BY cnt DESC, t LIMIT $VocabK) v),
         ${p}kcnt AS (
           SELECT source, t,
                  sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS kb,
                  sum(CASE WHEN side = 'delta' THEN 1 ELSE 0 END) AS kd
           FROM ${p}ktoks JOIN ${p}kvocab USING (t) GROUP BY 1, 2),
         ${p}kgrid AS (
           SELECT s.source, v.t
           FROM (SELECT DISTINCT source FROM ${p}ktoks) s CROSS JOIN ${p}kvocab v),
         ${p}kdense AS (
           SELECT g.source, g.t, COALESCE(c.kb, 0) AS kb, COALESCE(c.kd, 0) AS kd
           FROM ${p}kgrid g LEFT JOIN ${p}kcnt c ON c.source = g.source AND c.t = g.t),
         ${p}ktot AS (SELECT source, sum(kb) AS nb, sum(kd) AS nd FROM ${p}kdense GROUP BY 1),
         ${p}kp AS (
           SELECT d.source, t2.nb, t2.nd,
                  CAST(d.kd + 1 AS DOUBLE) / (t2.nd + $VocabK) AS pd,
                  CAST(d.kb + 1 AS DOUBLE) / (t2.nb + $VocabK) AS pb
           FROM ${p}kdense d JOIN ${p}ktot t2 USING (source)),
         ${p}drift AS (
           SELECT source, CAST(min(nb) AS BIGINT) AS base_tokens,
                  CAST(min(nd) AS BIGINT) AS delta_tokens,
                  round(sum(pd * ln(pd / pb)), 4) AS kl_nats
           FROM ${p}kp GROUP BY 1)"""

  /** SQL twin of [[mixKeepHash]] for an arbitrary doc_id expression. */
  private[ext] def mixKeepSql(docId: String): String =
    s"(${graft.functions.StableHash.duckdbHash64(MixSeed, s"CAST($docId AS VARCHAR)")}) % $MixPpm"

  /** One BPE round as CTEs: pair counts from a per-word lead()
    * window, the deterministic argmax, then the positional greedy
    * merge — candidate positions, island-odd-rank selection (a run of
    * consecutive candidates means a repeated symbol, where greedy
    * takes the 1st, 3rd, … occurrence), winners fused / absorbed
    * right-symbols dropped, arrays rebuilt in position order. The
    * island-odd-rank rule IS the fold's greedy left-to-right pass;
    * Round9Spec property-tests the equivalence. seq/tk/best are
    * MATERIALIZED: each is referenced 2-3× and the chain is
    * [[BpeRounds]] deep — inlining would replicate the whole prefix
    * exponentially (the s16 lesson). */
  private def bpeRoundSql(r: Int): String =
    s"""tk$r AS MATERIALIZED (
           SELECT word, freq, unnest(toks) AS tok,
                  generate_subscripts(toks, 1) AS p
           FROM seq$r),
         nb$r AS MATERIALIZED (
           SELECT word, freq, tok, p,
                  lead(tok) OVER (PARTITION BY word ORDER BY p) AS nxt
           FROM tk$r),
         best$r AS MATERIALIZED (
           SELECT tok AS l, nxt AS r, cnt FROM (
             SELECT tok, nxt, CAST(sum(freq) AS BIGINT) AS cnt
             FROM nb$r WHERE nxt IS NOT NULL GROUP BY 1, 2) t
           ORDER BY cnt DESC, tok, nxt LIMIT 1),
         ck$r AS (
           SELECT n.word, n.p,
                  row_number() OVER (PARTITION BY n.word ORDER BY n.p) AS rn
           FROM nb$r n, best$r b WHERE n.tok = b.l AND n.nxt = b.r),
         keep$r AS MATERIALIZED (
           SELECT word, p FROM (
             SELECT word, p,
                    row_number() OVER (PARTITION BY word, p - rn ORDER BY p) AS rr
             FROM ck$r) t
           WHERE rr % 2 = 1),
         seq${r + 1} AS MATERIALIZED (
           SELECT t.word, min(t.freq) AS freq,
                  list(CASE WHEN k.p IS NOT NULL THEN b.l || b.r ELSE t.tok END
                       ORDER BY t.p) AS toks
           FROM tk$r t
           CROSS JOIN best$r b
           LEFT JOIN keep$r k ON k.word = t.word AND k.p = t.p
           LEFT JOIN keep$r k2 ON k2.word = t.word AND k2.p = t.p - 1
           WHERE k2.p IS NULL
           GROUP BY t.word)"""

  /** One BPE APPLY round over the full distinct-word table — the same
    * positional island-odd-rank machinery as [[bpeRoundSql]] but with
    * the round's winning pair READ from the learn chain's best$r
    * (1 row) instead of recomputed: candidates, greedy selection,
    * rebuild. No freq column — encoding is pure word → toks. */
  private def bpeApplyRoundSql(r: Int): String =
    s"""ftk$r AS MATERIALIZED (
           SELECT word, unnest(toks) AS tok,
                  generate_subscripts(toks, 1) AS p
           FROM fseq$r),
         fnb$r AS MATERIALIZED (
           SELECT word, tok, p,
                  lead(tok) OVER (PARTITION BY word ORDER BY p) AS nxt
           FROM ftk$r),
         fck$r AS (
           SELECT n.word, n.p,
                  row_number() OVER (PARTITION BY n.word ORDER BY n.p) AS rn
           FROM fnb$r n, best$r b WHERE n.tok = b.l AND n.nxt = b.r),
         fkeep$r AS MATERIALIZED (
           SELECT word, p FROM (
             SELECT word, p,
                    row_number() OVER (PARTITION BY word, p - rn ORDER BY p) AS rr
             FROM fck$r) t
           WHERE rr % 2 = 1),
         fseq${r + 1} AS MATERIALIZED (
           SELECT t.word,
                  list(CASE WHEN k.p IS NOT NULL THEN b.l || b.r ELSE t.tok END
                       ORDER BY t.p) AS toks
           FROM ftk$r t
           CROSS JOIN best$r b
           LEFT JOIN fkeep$r k ON k.word = t.word AND k.p = t.p
           LEFT JOIN fkeep$r k2 ON k2.word = t.word AND k2.p = t.p - 1
           WHERE k2.p IS NULL
           GROUP BY t.word)"""

  /** t28's oracle: replay the learn chain (identical CTEs to t27's —
    * same merges fall out), then apply each round's winner to the
    * distinct-word table and roll up the freq-weighted census. */
  private[ext] lazy val t28OracleSql: String = {
    val learnRounds = (1 to BpeRounds).map(bpeRoundSql).mkString(",\n         ")
    val applyRounds = (1 to BpeRounds).map(bpeApplyRoundSql).mkString(",\n         ")
    s"""WITH v0 AS (
           SELECT w AS word, count(*) AS freq
           FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
           WHERE w <> '' GROUP BY 1),
         vcap AS (SELECT word, freq FROM v0 ORDER BY freq DESC, word LIMIT $BpeVocabCap),
         seq1 AS MATERIALIZED (
           SELECT word, CAST(freq AS BIGINT) AS freq,
                  list_transform(range(1, length(word) + 1),
                                 i -> substr(word, CAST(i AS INTEGER), 1)) AS toks
           FROM vcap),
         $learnRounds,
         ws AS MATERIALIZED (
           SELECT source, w AS word, count(*) AS freq
           FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS w FROM documents)
           WHERE w <> '' GROUP BY 1, 2),
         fseq1 AS MATERIALIZED (
           SELECT word,
                  list_transform(range(1, length(word) + 1),
                                 i -> substr(word, CAST(i AS INTEGER), 1)) AS toks
           FROM (SELECT DISTINCT word FROM ws)),
         $applyRounds,
         enc AS MATERIALIZED (
           SELECT word, len(toks) AS n_tok, length(word) AS n_char
           FROM fseq${BpeRounds + 1})
         SELECT ws.source,
                CAST(sum(ws.freq) AS BIGINT) AS n_words,
                count(*) AS n_distinct_words,
                CAST(sum(ws.freq * e.n_tok) AS BIGINT) AS n_bpe_tokens,
                CAST(sum(ws.freq * e.n_char) AS BIGINT) AS n_chars,
                CAST(sum(CASE WHEN e.n_tok = 1 THEN ws.freq ELSE 0 END) AS BIGINT)
                  AS n_fused_words,
                CAST((1000 * CAST(sum(ws.freq * e.n_char) AS BIGINT))
                     // CAST(sum(ws.freq * e.n_tok) AS BIGINT) AS BIGINT)
                  AS chars_per_token_pm
         FROM ws JOIN enc e USING (word)
         GROUP BY 1 ORDER BY source"""
  }

  /** A self-contained encode WORLD for t31's oracle: learn
    * [[BpeRounds]] merges over `learnFilter`'s documents, fold the
    * FULL corpus's distinct words through them — `SELECT word, n_tok`
    * (t28's machinery with the training slice parameterized; nested
    * by the t31 statement so two worlds' identical CTE names stay
    * apart). */
  private def bpeEncWorldSql(learnFilter: String): String = {
    val learnRounds = (1 to BpeRounds).map(bpeRoundSql).mkString(",\n         ")
    val applyRounds = (1 to BpeRounds).map(bpeApplyRoundSql).mkString(",\n         ")
    s"""WITH v0 AS (
           SELECT w AS word, count(*) AS freq
           FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
                 WHERE $learnFilter)
           WHERE w <> '' GROUP BY 1),
         vcap AS (SELECT word, freq FROM v0 ORDER BY freq DESC, word LIMIT $BpeVocabCap),
         seq1 AS MATERIALIZED (
           SELECT word, CAST(freq AS BIGINT) AS freq,
                  list_transform(range(1, length(word) + 1),
                                 i -> substr(word, CAST(i AS INTEGER), 1)) AS toks
           FROM vcap),
         $learnRounds,
         fseq1 AS MATERIALIZED (
           SELECT word,
                  list_transform(range(1, length(word) + 1),
                                 i -> substr(word, CAST(i AS INTEGER), 1)) AS toks
           FROM (SELECT DISTINCT w AS word
                 FROM (SELECT unnest(string_split(trim(text), ' ')) AS w
                       FROM documents) u
                 WHERE w <> '') dw),
         $applyRounds
         SELECT word, CAST(len(toks) AS BIGINT) AS n_tok FROM fseq${BpeRounds + 1}"""
  }

  /** t31's CTE body through `cd`/`cb` (the per-source delta and base
    * fertility censuses under both generations) — shared by the t31
    * oracle and e20's cutover oracle so the two gate rows can never
    * diverge on the measurement. */
  private[ext] lazy val t31BodyCtes: String = {
    val delta = Pipeline.e4DeltaSqlOf("doc_id")
    s"""fenc AS MATERIALIZED (
           SELECT word, n_tok FROM (${bpeEncWorldSql(s"NOT $delta")}) tf),
         cenc AS MATERIALIZED (
           SELECT word, n_tok FROM (${bpeEncWorldSql("TRUE")}) tc),
         wsd AS MATERIALIZED (
           SELECT source, w AS word, count(*) AS freq
           FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS w
                 FROM documents WHERE $delta) u
           WHERE w <> '' GROUP BY 1, 2),
         wsb AS MATERIALIZED (
           SELECT source, w AS word, count(*) AS freq
           FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS w
                 FROM documents WHERE NOT $delta) u
           WHERE w <> '' GROUP BY 1, 2),
         cd AS (
           SELECT s.source,
                  CAST(sum(s.freq) AS BIGINT) AS n_delta_words,
                  CAST(sum(s.freq * length(s.word)) AS BIGINT) AS n_delta_chars,
                  CAST(sum(s.freq * f.n_tok) AS BIGINT) AS ftok,
                  CAST(sum(s.freq * c.n_tok) AS BIGINT) AS ctok
           FROM wsd s JOIN fenc f USING (word) JOIN cenc c USING (word)
           GROUP BY 1),
         cb AS (
           SELECT s.source,
                  CAST(sum(s.freq * length(s.word)) AS BIGINT) AS bchars,
                  CAST(sum(s.freq * f.n_tok) AS BIGINT) AS bftok
           FROM wsb s JOIN fenc f USING (word)
           GROUP BY 1),
         fert AS (
           SELECT d.source, d.n_delta_words, d.n_delta_chars,
                  CAST((1000 * d.ftok) // d.n_delta_chars AS BIGINT) AS tpk_frozen,
                  CAST((1000 * d.ctok) // d.n_delta_chars AS BIGINT) AS tpk_current,
                  CAST((1000 * d.ftok) // d.n_delta_chars
                       - (1000 * d.ctok) // d.n_delta_chars AS BIGINT) AS gen_gap_tpk,
                  CAST((1000 * b.bftok) // b.bchars AS BIGINT) AS tpk_base,
                  CAST((1000 * d.ftok) // d.n_delta_chars
                       - (1000 * b.bftok) // b.bchars AS BIGINT) AS newdata_drift_tpk,
                  CAST(CASE WHEN (1000 * d.ftok) // d.n_delta_chars
                               - (1000 * d.ctok) // d.n_delta_chars > $T31RetrainTpk
                       THEN 1 ELSE 0 END AS BIGINT) AS retrain
           FROM cd d JOIN cb b USING (source))"""
  }

  /** The DSIR tier's drift decision as a SINGLE-ROW (measure,
    * threshold) subquery: measure = the number of sources above
    * [[DriftRetrainKl]] (e19's any-source trigger as an exact count —
    * the KL itself stays a round-4 double in t26/t30's own rows),
    * threshold = 0. e21's maintenance census composes it. */
  private[ext] lazy val t30DecisionSql: String =
    s"""(SELECT * FROM (
           WITH ${t26DriftCtes()}
           SELECT CAST(sum(CASE WHEN kl_nats > $DriftRetrainKl
                           THEN 1 ELSE 0 END) AS BIGINT) AS measure,
                  CAST(0 AS BIGINT) AS threshold
           FROM drift) q)"""

  /** The tokenizer tier's decision as a SINGLE-ROW subquery: measure
    * = the max per-source generation gap (exact integer tpk),
    * threshold = [[T31RetrainTpk]] — fired iff any source's gap
    * crosses, which is exactly max > threshold. `served` is the
    * post-apply witness for e22: the cross-source sum of the served
    * generation's delta fertility (frozen when quiet, the current
    * retrain after a fired swap). */
  private[ext] lazy val t31DecisionSql: String =
    s"""(SELECT * FROM (
           WITH $t31BodyCtes
           SELECT CAST(max(gen_gap_tpk) AS BIGINT) AS measure,
                  CAST($T31RetrainTpk AS BIGINT) AS threshold,
                  CAST(CASE WHEN max(gen_gap_tpk) > $T31RetrainTpk
                       THEN sum(tpk_current) ELSE sum(tpk_frozen)
                       END AS BIGINT) AS served
           FROM fert) q)"""

  /** The DSIR tier's decision EXTENDED with the post-apply witness
    * (e22's `served` column): the total selected-document count under
    * the served model generation — frozen when quiet, the full
    * retrain after a fired swap. Heavier than [[t30DecisionSql]]
    * (it scores both model generations), so it lives beside it
    * rather than widening e21's census oracle. */
  private[ext] lazy val t30ApplySql: String =
    s"""(SELECT * FROM (
           WITH ${t26DriftCtes()},
             $dsirTwoGenCtes,
             m AS (SELECT CAST(sum(CASE WHEN kl_nats > $DriftRetrainKl
                               THEN 1 ELSE 0 END) AS BIGINT) AS measure
                   FROM drift),
             fsel AS (SELECT CAST(sum(CASE WHEN p.logw > c.cut THEN 1 ELSE 0 END)
                             AS BIGINT) AS n
                      FROM fperdoc p CROSS JOIN fcut c),
             rsel AS (SELECT CAST(sum(CASE WHEN p.logw > c.cut THEN 1 ELSE 0 END)
                             AS BIGINT) AS n
                      FROM rperdoc p CROSS JOIN rcut c)
           SELECT m.measure, CAST(0 AS BIGINT) AS threshold,
                  CAST(CASE WHEN m.measure > 0 THEN rsel.n ELSE fsel.n
                       END AS BIGINT) AS served
           FROM m, fsel, rsel) q)"""

  /** t31's mirror: the shared fertility body, served in full. */
  private lazy val t31OracleSql: String =
    s"""WITH $t31BodyCtes
         SELECT source, n_delta_words, n_delta_chars, tpk_frozen,
                tpk_current, gen_gap_tpk, tpk_base, newdata_drift_tpk, retrain
         FROM fert ORDER BY source"""

  /** The sequential BPE learn chain as one SELECT, parameterized over
    * the merge count — t27's oracle at [[BpeRounds]] and t29's at
    * [[BpeBatchedMerges]] (the batched learner's ground truth IS the
    * sequential table wherever its compatible prefixes hold, which
    * t29's gate row certifies on this corpus every round). */
  private def bpeLearnOracleSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map(bpeRoundSql).mkString(",\n         ")
    val out = (1 to nMerges).map(r =>
      s"SELECT CAST($r AS INTEGER) AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM best$r")
      .mkString("\n           UNION ALL ")
    s"""WITH v0 AS (
           SELECT w AS word, count(*) AS freq
           FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
           WHERE w <> '' GROUP BY 1),
         vcap AS (SELECT word, freq FROM v0 ORDER BY freq DESC, word LIMIT $BpeVocabCap),
         seq1 AS MATERIALIZED (
           SELECT word, CAST(freq AS BIGINT) AS freq,
                  list_transform(range(1, length(word) + 1),
                                 i -> substr(word, CAST(i AS INTEGER), 1)) AS toks
           FROM vcap),
         $rounds
         SELECT merge_rank, lhs, rhs, pair_count FROM (
           $out) u
         ORDER BY merge_rank"""
  }

  private lazy val t27OracleSql: String = bpeLearnOracleSql(BpeRounds)

  val oracles: Map[String, String] = Map(
    "t27_bpe_merges" -> t27OracleSql,
    // t29: the sequential chain at batched depth, re-ranked to the
    // canonical (count, lhs, rhs) order both learners share — see
    // t29BpeBatched's creation-tie note
    "t29_bpe_batched" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, lhs, rhs)
                 AS INTEGER) AS merge_rank, lhs, rhs, pair_count
          FROM (${bpeLearnOracleSql(BpeBatchedMerges)}) s
          ORDER BY merge_rank""",
    "t28_bpe_encode" -> t28OracleSql,
    "t24_gopher_rules" -> {
      val stopList = GopherStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH s AS (
           SELECT source,
                  len(string_split(trim(text), ' ')) AS n,
                  length(array_to_string(string_split(trim(text), ' '), '')) AS sumlen,
                  len(list_filter(string_split(trim(text), ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
                  len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
                  len(list_intersect(list_distinct(string_split(trim(text), ' ')),
                      $stopList)) AS stop_hits
           FROM documents),
         f AS (
           SELECT source,
                  (n < $GopherMinWords OR n > $GopherMaxWords) AS f_wc,
                  (sumlen < $GopherMinMeanWordLen * n
                    OR sumlen > $GopherMaxMeanWordLen * n) AS f_mwl,
                  (alpha * 5 < n * 4) AS f_alpha,
                  (symbols * 10 > n) AS f_sym,
                  (stop_hits < $GopherMinStopHits) AS f_stop
           FROM s)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
                CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
                CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_ratio,
                CAST(sum(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
                CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
                CAST(sum(CASE WHEN NOT f_wc AND NOT f_mwl AND NOT f_alpha
                               AND NOT f_sym AND NOT f_stop THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_pass_all
         FROM f GROUP BY 1 ORDER BY source"""
    },
    "t26_source_drift" ->
      s"""WITH ${t26DriftCtes()}
         SELECT source, base_tokens, delta_tokens, kl_nats
         FROM drift ORDER BY source""",
    "t31_tokenizer_health" -> t31OracleSql,
    // t30: both model generations + the drift chain in ONE statement —
    // frozen (f-prefixed, trained on base, cut over base-scored docs)
    // and refreshed (r-prefixed, the full retrain), censused under
    // their own cuts, joined to t26's drift and the retrain decision
    "t30_model_refresh" -> {
      s"""WITH ${t26DriftCtes()},
         $dsirTwoGenCtes,
         fc AS (SELECT p.source, count(*) AS n_scored,
                       CAST(sum(CASE WHEN p.logw > c.cut THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_frozen_selected
                FROM fperdoc p CROSS JOIN fcut c GROUP BY 1),
         rc AS (SELECT p.source,
                       CAST(sum(CASE WHEN p.logw > c.cut THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_refreshed_selected
                FROM rperdoc p CROSS JOIN rcut c GROUP BY 1)
         SELECT fc.source, d.kl_nats,
                CAST(CASE WHEN d.kl_nats > $DriftRetrainKl THEN 1 ELSE 0 END
                     AS BIGINT) AS retrain,
                fc.n_scored, fc.n_frozen_selected, rc.n_refreshed_selected
         FROM fc JOIN rc USING (source) JOIN drift d USING (source)
         ORDER BY source"""
    },
    "t25_ngram_novelty" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
         u AS (SELECT doc_id, source, unnest(list_distinct(${sqlGrams(NoveltyGramK)})) AS g
               FROM w),
         sh AS (SELECT g FROM u GROUP BY g HAVING count(*) >= 2),
         perdoc AS (
           SELECT u.doc_id, u.source, count(*) AS n_grams,
                  CAST(sum(CASE WHEN sh.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
           FROM u LEFT JOIN sh ON sh.g = u.g
           GROUP BY 1, 2),
         d AS (SELECT source, n_grams, n_shared,
                      (1000 * (n_grams - n_shared)) // n_grams AS doc_novelty_pm
               FROM perdoc)
         SELECT source, count(*) AS n_docs,
                CAST(sum(n_grams) AS BIGINT) AS total_grams,
                CAST(sum(n_shared) AS BIGINT) AS shared_grams,
                CAST((1000 * CAST(sum(n_grams - n_shared) AS BIGINT))
                     // CAST(sum(n_grams) AS BIGINT) AS BIGINT) AS novelty_permille,
                CAST(min(doc_novelty_pm) AS BIGINT) AS min_doc_novelty_pm,
                CAST(max(doc_novelty_pm) AS BIGINT) AS max_doc_novelty_pm
         FROM d GROUP BY 1 ORDER BY source""",
    "t18_pii_redact" ->
      s"""WITH p AS (
           SELECT source,
                  CASE WHEN doc_id % 3 = 0
                       THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE text END AS pii
           FROM documents),
         x AS (
           SELECT source,
                  len(regexp_extract_all(pii, '$EmailRe')) AS n_email,
                  len(regexp_extract_all(pii, '$PhoneRe')) AS n_phone,
                  length(pii) - length(regexp_replace(regexp_replace(
                    pii, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'))
                    AS delta
           FROM p)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS docs_with_pii,
                CAST(sum(n_email) AS BIGINT) AS emails_redacted,
                CAST(sum(n_phone) AS BIGINT) AS phones_redacted,
                CAST(sum(delta) AS BIGINT) AS chars_removed
         FROM x GROUP BY 1 ORDER BY source""",
    "t17_token_entropy" ->
      s"""WITH toks AS (
           SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS t
           FROM documents),
         tf AS (SELECT doc_id, source, t, count(*) AS k FROM toks GROUP BY 1, 2, 3),
         ent AS (
           SELECT doc_id, source,
                  ln(sum(k)) - sum(k * ln(k)) / sum(k) AS h
           FROM tf GROUP BY 1, 2)
         SELECT source, count(*) AS n_docs,
                round(avg(h), 3) AS avg_entropy,
                CAST(sum(CASE WHEN h < $EntropyThreshold THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_flagged
         FROM ent GROUP BY 1 ORDER BY source""",
    "t13_packing" ->
      s"""WITH d AS (
           SELECT doc_id, doc_id % $PackShards AS shard,
                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT shard, n_tok,
                  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
           FROM d)
         SELECT shard, CAST(floor(start_off / $PackCapacity) AS BIGINT) AS bin,
                count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1, 2 ORDER BY shard, bin""",
    "t14_bm25" -> {
      val tfs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n                  ")
      val dfs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN list_contains(w, '$t') THEN 1.0 ELSE 0.0 END) AS df$i"
      }.mkString(",\n                  ")
      val score = Bm25Terms.indices.map { i =>
        s"""ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * ($Bm25K1 + 1.0))
            / (tf$i + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))"""
      }.mkString(" + ")
      s"""WITH d AS (
           SELECT doc_id, string_split(trim(text), ' ') AS w,
                  CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl
           FROM documents),
         s AS (
           SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                  $dfs
           FROM d),
         tf AS (
           SELECT doc_id, dl,
                  $tfs
           FROM d),
         sc AS (SELECT doc_id, round($score, 3) AS bm25 FROM tf, s)
         SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
         ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopN"""
    },
    "t16_temperature_mix" ->
      s"""WITH $mixRateCtes,
         k AS (SELECT d.source, r.rate_ppm,
                      CASE WHEN (${mixKeepSql("d.doc_id")}) < r.rate_ppm THEN 1 ELSE 0 END AS kept
               FROM mixd d JOIN mixr r USING (source))
         SELECT source, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
                min(rate_ppm) AS rate_ppm
         FROM k GROUP BY 1 ORDER BY source""",
    "t15_vocab_ppl" ->
      s"""WITH toks AS (
           SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS t
           FROM documents),
         uni AS (SELECT t, count(*) AS cnt FROM toks GROUP BY 1),
         vocab AS (SELECT t, cnt FROM uni ORDER BY cnt DESC, t LIMIT $VocabK),
         n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni),
         d AS (SELECT doc_id, source,
                 avg(CASE WHEN v.cnt IS NOT NULL THEN -ln(v.cnt / n.n)
                     ELSE ln(n.n) END) AS nll,
                 count(*) AS tot,
                 CAST(sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov
               FROM toks LEFT JOIN vocab v USING (t), n GROUP BY 1, 2)
         SELECT source, count(*) AS n_docs, round(avg(nll), 3) AS avg_nll,
                CAST(sum(CASE WHEN oov * $OovDen > tot * $OovNum THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_flagged,
                CAST(sum(oov) AS BIGINT) AS oov_tokens
         FROM d GROUP BY 1 ORDER BY source""",
    // t32: the same two model tables (top-K unigram vocab + top-K
    // bigrams with left marginals) and the identical JM-interpolated
    // p-expression — float ops written verbatim so IEEE agrees; the
    // flag and the modeled-pair census are exact integers
    "t32_bigram_ppl" ->
      s"""WITH w AS MATERIALIZED (
           SELECT doc_id, source, string_split(trim(text), ' ') AS w
           FROM documents),
         uni AS MATERIALIZED (
           SELECT t, count(*) AS cnt
           FROM (SELECT unnest(w) AS t FROM w) GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni),
         vocab AS (SELECT t, cnt FROM uni ORDER BY cnt DESC, t LIMIT $VocabK),
         bi AS MATERIALIZED (
           SELECT doc_id, source, w[i] AS x, w[i+1] AS y
           FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
                 FROM w) t),
         bigm AS (SELECT b.x, b.y, b.nxy, u.cnt AS nx
                  FROM (SELECT x, y, count(*) AS nxy FROM bi GROUP BY 1, 2
                        ORDER BY nxy DESC, x, y LIMIT $BigramK) b
                  JOIN uni u ON u.t = b.x),
         sc AS (SELECT b.doc_id, b.source,
                  0.5 * COALESCE(CAST(g.nxy AS DOUBLE) / g.nx, 0.0) +
                    0.5 * (COALESCE(v.cnt, 1) / n.n) AS p,
                  CASE WHEN g.x IS NOT NULL THEN 1 ELSE 0 END AS hit
                FROM bi b
                LEFT JOIN bigm g ON g.x = b.x AND g.y = b.y
                LEFT JOIN vocab v ON v.t = b.y, n),
         d AS (SELECT doc_id, source, avg(-ln(p)) AS nll, count(*) AS tot,
                      CAST(sum(hit) AS BIGINT) AS hit
               FROM sc GROUP BY 1, 2)
         SELECT source, count(*) AS n_docs, round(avg(nll), 3) AS avg_nll,
                CAST(sum(CASE WHEN hit * $BiHitDen < tot * $BiHitNum
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
                CAST(sum(hit) AS BIGINT) AS modeled_pairs
         FROM d GROUP BY 1 ORDER BY source""",
    "t12_unigram_ppl" ->
      s"""WITH tf AS (
           SELECT doc_id, source, t, count(*) AS k
           FROM (SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS t
                 FROM documents) GROUP BY 1, 2, 3),
         uni AS (SELECT t, sum(k) AS cnt FROM tf GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni),
         d AS (SELECT doc_id, source,
                 sum(k * -ln(cnt / n.n)) / sum(k) AS nll
               FROM tf JOIN uni USING (t), n GROUP BY 1, 2)
         SELECT source, count(*) AS n_docs, round(avg(nll), 3) AS avg_nll,
                CAST(sum(CASE WHEN nll > $PplThreshold THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_flagged
         FROM d GROUP BY 1 ORDER BY source""",
    "t9_repetition_filter" ->
      s"""WITH w AS (SELECT source, string_split(trim(text), ' ') AS w FROM documents),
         g AS (SELECT source, ${sqlGrams(3)} AS g FROM w),
         d AS (SELECT source,
                 CAST(greatest(len(g), 1) - len(list_distinct(g)) AS DOUBLE)
                   / CAST(greatest(len(g), 1) AS DOUBLE) AS dup_frac
               FROM g)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN dup_frac > $RepetitionThreshold THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_flagged,
                round(avg(dup_frac), 4) AS avg_dup_frac
         FROM d GROUP BY 1 ORDER BY source""",
    "t23_decontam_spans" -> {
      val k = DecontaminationGramK
      s"""WITH w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
         gr AS (
           SELECT doc_id, source, len(w) AS n_tok,
                  unnest(gl) AS g, generate_subscripts(gl, 1) - 1 AS pos
           FROM (SELECT doc_id, source, w, ${sqlGrams(k)} AS gl FROM w) t
           WHERE doc_id % $EvalStride <> 0),
         ev AS (SELECT DISTINCT unnest(list_distinct(${sqlGrams(k)})) AS g
                FROM w WHERE doc_id % $EvalStride = 0),
         h AS (SELECT gr.doc_id, gr.source, gr.n_tok, gr.pos
               FROM gr JOIN ev USING (g)),
         r AS (
           SELECT doc_id, source, n_tok, pos,
                  CASE WHEN lag(pos) OVER win IS NULL
                        OR pos - lag(pos) OVER win > $k THEN 1 ELSE 0 END AS brk
           FROM h WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         rr AS (
           SELECT doc_id, source, n_tok, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM r),
         runs AS (SELECT doc_id, n_tok, run, min(pos) AS p0, max(pos) AS p1
                  FROM rr GROUP BY 1, 2, 3),
         pd AS (SELECT doc_id, sum(least(p1 + $k, n_tok) - p0) AS excised
                FROM runs GROUP BY 1),
         tr AS (SELECT doc_id, source, len(w) AS n_tok FROM w
                WHERE doc_id % $EvalStride <> 0)
         SELECT tr.source, count(*) AS n_docs,
                CAST(sum(CASE WHEN pd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS affected_docs,
                CAST(sum(tr.n_tok) AS BIGINT) AS total_tokens,
                CAST(sum(COALESCE(pd.excised, 0)) AS BIGINT) AS excised_tokens
         FROM tr LEFT JOIN pd USING (doc_id)
         GROUP BY 1 ORDER BY tr.source"""
    },
    // the MG sketch only PRUNES candidates — the exact verify decides
    // membership — so the oracle is the direct exact heavy-hitter
    // query; a sketch bug that dropped a true heavy hitter would
    // surface here as a missing row
    "t22_heavy_hitters" ->
      s"""WITH toks AS (
           SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents),
         n AS (SELECT count(*) AS n FROM toks),
         c AS (SELECT t, count(*) AS cnt FROM toks GROUP BY 1)
         SELECT c.t AS token, c.cnt AS n_occurrences
         FROM c, n WHERE c.cnt * $HeavyK > n.n
         ORDER BY n_occurrences DESC, token""",
    "t21_dsir_select" ->
      s"""WITH $dsirCtes
         SELECT source, count(*) AS n_docs, round(avg(logw), 3) AS avg_logw,
                CAST(sum(CASE WHEN logw > c.cut THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_selected
         FROM perdoc CROSS JOIN cut c GROUP BY 1 ORDER BY source""",
    "t20_distinct_ngrams" -> {
      val branches = (1 to DistinctNMax).map { n =>
        s"""SELECT source, $n AS n, count(*) AS total_grams,
               count(DISTINCT g) AS distinct_grams
           FROM (SELECT source, unnest(${sqlGrams(n)}) AS g FROM w) g$n
           GROUP BY source"""
      }.mkString("\n           UNION ALL\n           ")
      s"""WITH w AS (SELECT source, string_split(trim(text), ' ') AS w FROM documents),
         u AS (
           $branches)
         SELECT source, CAST(n AS INTEGER) AS n, total_grams, distinct_grams,
                round(distinct_grams * 1.0 / total_grams, 4) AS distinct_ratio
         FROM u ORDER BY source, n"""
    },
    // the bloom's packed-bitset probe is mirrored as plain set
    // membership over the same bit positions — lossless-equivalent
    // (a bit is set iff its position is in the distinct set), so the
    // FP accounting hash-checks without replaying the packing
    "t19_bloom_decontaminate" -> {
      val hashes = (0 until BloomHashes).map(j =>
        s"(${graft.functions.StableHash.duckdbHash64(BloomSeed + j, "u.g")}) % $BloomBits")
      val evBits = hashes.map(h =>
        s"SELECT DISTINCT (${h.replace("u.g", "g")}) AS p FROM ev")
        .mkString("\n           UNION\n           ")
      // membership via LEFT JOIN on a computed key, not IN(subquery):
      // DuckDB 1.0's binder rejects repeated IN-subqueries here, and
      // bloombits is distinct so the joins can't fan out
      val joins = hashes.zipWithIndex.map { case (h, j) =>
        s"LEFT JOIN bloombits b$j ON b$j.p = ($h)" }.mkString("\n           ")
      val passPred = (0 until BloomHashes).map(j => s"b$j.p IS NOT NULL")
        .mkString(" AND ")
      s"""WITH w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
         u AS (SELECT doc_id, source, unnest(list_distinct(${sqlGrams(DecontaminationGramK)})) AS g
               FROM w),
         ev AS (SELECT DISTINCT g FROM u WHERE doc_id % $EvalStride = 0),
         bloombits AS (
           $evBits),
         probe AS (
           SELECT u.doc_id, u.source, u.g,
                  ($passPred) AS pass
           FROM u
           $joins
           WHERE u.doc_id % $EvalStride <> 0),
         conf AS (SELECT p.doc_id, count(*) AS n_conf
                  FROM probe p JOIN ev USING (g) WHERE p.pass GROUP BY 1),
         perdoc AS (SELECT doc_id, source, count(*) AS n_grams,
                           sum(CASE WHEN pass THEN 1 ELSE 0 END) AS n_pass
                    FROM probe GROUP BY 1, 2)
         SELECT d.source, count(*) AS n_train_docs,
                CAST(sum(d.n_grams) AS BIGINT) AS n_grams,
                CAST(sum(d.n_pass) AS BIGINT) AS n_bloom_pass,
                CAST(sum(COALESCE(c.n_conf, 0)) AS BIGINT) AS n_confirmed,
                CAST(sum(CASE WHEN COALESCE(c.n_conf, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contaminated_docs
         FROM perdoc d LEFT JOIN conf c USING (doc_id)
         GROUP BY 1 ORDER BY d.source"""
    },
    "t10_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
         u AS (SELECT doc_id, source, unnest(list_distinct(${sqlGrams(DecontaminationGramK)})) AS g
               FROM w),
         ev AS (SELECT DISTINCT g FROM u WHERE doc_id % $EvalStride = 0),
         hits AS (SELECT DISTINCT u.doc_id FROM u JOIN ev USING (g)
                  WHERE u.doc_id % $EvalStride <> 0),
         train AS (SELECT doc_id, source FROM documents WHERE doc_id % $EvalStride <> 0)
         SELECT t.source, count(*) AS n_train_docs,
                CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contaminated
         FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
         GROUP BY 1 ORDER BY t.source""",
    "t11_chunking" ->
      s"""WITH w AS (
           SELECT doc_id, string_split(trim(text), ' ') AS w,
                  len(string_split(trim(text), ' ')) AS n
           FROM documents),
         c AS (
           SELECT doc_id, w, CAST(i AS INTEGER) AS chunk_idx
           FROM (SELECT doc_id, w,
                   unnest(range(greatest(1, (n - $ChunkOverlap + ${ChunkStride - 1}) // $ChunkStride))) AS i
                 FROM w)),
         s AS (
           SELECT doc_id, chunk_idx,
                  w[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkSize] AS c
           FROM c)
         SELECT doc_id, chunk_idx, CAST(len(c) AS INTEGER) AS chunk_tokens,
                md5(array_to_string(c, ' ')) AS chunk_md5
         FROM s ORDER BY doc_id, chunk_idx""",
    "t1_token_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         round(avg($sqlTokens), 2) AS avg_tokens,
         round(avg(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
               + len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))), 2) AS avg_pieces,
         round(avg(n_chars), 2) AS avg_chars,
         round(avg(length(text)), 2) AS avg_text_len
         FROM documents GROUP BY 1 ORDER BY lang""",
    "t2_lang_id" ->
      s"""WITH g AS (SELECT lang, $sqlLangGuess AS guess FROM documents)
         SELECT lang, guess, count(*) AS n_docs FROM g
         GROUP BY 1, 2 ORDER BY lang, guess""",
    "t3_quality_hist" ->
      s"""SELECT round(floor($sqlQuality * 10) / 10.0, 1) AS quality_bucket,
         count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY quality_bucket""",
    "t4_winnow_fingerprint" -> {
      val h = graft.functions.StableHash.duckdbHash64(FpSeed, "x")
      s"""WITH words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         grams AS (SELECT doc_id,
           CASE WHEN len(w) >= $GramK
             THEN list_transform(range(1, len(w) - ${GramK - 2}),
                    i -> ${(0 until GramK).map(j => s"w[i+$j]").mkString(" || ' ' || ")})
             ELSE [array_to_string(w, ' ')] END AS g
           FROM words),
         hs AS (SELECT doc_id, list_transform(g, x -> $h) AS h FROM grams),
         fps AS (SELECT doc_id,
           CASE WHEN len(h) >= $WinnowWindow
             THEN list_distinct(list_transform(range(1, len(h) - ${WinnowWindow - 2}),
                    j -> list_min(h[j:j+${WinnowWindow - 1}])))
             ELSE [list_min(h)] END AS f
           FROM hs),
         u AS (SELECT doc_id, unnest(f) AS fp FROM fps)
         SELECT fp, count(DISTINCT doc_id) AS n_docs,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM u GROUP BY 1 HAVING count(DISTINCT doc_id) > 1 ORDER BY fp"""
    },
    "t5_bottomk_sketch" -> {
      val h = graft.functions.StableHash.duckdbHash64("t")
      val k = graft.functions.BottomK.DefaultK
      s"""WITH toks AS (
           SELECT doc_id, $h AS h
           FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents)),
         sk AS (
           SELECT doc_id, list_sort(list_distinct(list(h)))[1:$k] AS l
           FROM toks GROUP BY 1)
         SELECT doc_id, generate_subscripts(l, 1) AS rank, unnest(l) AS h
         FROM sk ORDER BY doc_id, rank"""
    },
    "t6_pmi_collocations" ->
      s"""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         toks AS (SELECT unnest(w) AS t FROM w),
         uni AS (SELECT t, count(*) AS cnt FROM toks GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni),
         bi AS (SELECT w[i] AS x, w[i+1] AS y
                FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w) t),
         big AS (SELECT x, y, count(*) AS nxy FROM bi GROUP BY 1, 2
                 HAVING count(*) >= $PmiMinCount),
         nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bi)
         SELECT x, y, nxy,
                round(ln((nxy / nb.nb) / ((ux.cnt / n.n) * (uy.cnt / n.n))), 3) AS pmi
         FROM big
         JOIN uni ux ON ux.t = big.x
         JOIN uni uy ON uy.t = big.y, n, nb
         ORDER BY pmi DESC, x, y LIMIT $PmiTopN""",
    "t7_stratified_sample" -> {
      val h = graft.functions.StableHash.duckdbHash64("CAST(doc_id AS VARCHAR)")
      val rateCase = sampleRates
        .map { case (s, r) => s"WHEN '$s' THEN $r" }
        .mkString("CASE source ", " ", " ELSE 100 END")
      s"""SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN ($h) % 100 < ($rateCase) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM documents GROUP BY 1 ORDER BY source"""
    },
    "t8_length_filter" ->
      """WITH d AS (
           SELECT doc_id, lang,
                  CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS n_tok
           FROM documents),
         b AS (SELECT lang, quantile_cont(n_tok, 0.05) AS lo, quantile_cont(n_tok, 0.95) AS hi
               FROM d GROUP BY 1)
         SELECT d.lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN n_tok >= lo AND n_tok <= hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                round(min(lo), 2) AS p05, round(min(hi), 2) AS p95
         FROM d JOIN b ON d.lang = b.lang
         GROUP BY 1 ORDER BY d.lang""")
}

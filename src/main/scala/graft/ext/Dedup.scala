package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.StableHash

/** Deduplication operators for large-scale text pipelines — the
  * training-data-pipeline extension surface (SURVEY.md §2.10).
  *
  * Scale design: every operator here is shuffle-bounded by the
  * *duplicate-candidate* volume, never by |docs|²:
  *  - exact / fingerprint dedup: one hash-groupBy (map-side combine).
  *  - shingle-Jaccard: self-join on shingle VALUES — fan-out bounded
  *    by shingle frequency, not document count. At 100 TB you cap
  *    hot shingles (drop top-frequency shingles, standard practice)
  *    or go through MinHash-LSH below.
  *  - MinHash-LSH: candidate pairs only form inside an LSH band
  *    bucket — the 100 TB path. Signature build is a single groupBy;
  *    banding re-keys 4 small rows per doc.
  *
  * All hashing uses the engine-portable StableHash so every stage is
  * DuckDB-oracle-checkable end to end.
  */
object Dedup {

  /** Words of `text`, single-space tokenization (matches the corpus
    * format; a regex split costs 3-4× in codegen for no benefit here). */
  private def words(c: Column): Column = split(trim(c), " ")

  /** 3-word shingles over an already-materialized token array — the
    * granularity that separates true near-dups from same-vocabulary
    * noise on this corpus (word-set Jaccard saturates; 3-shingles
    * give a bimodal 1.0-vs-0.0 split).
    *
    * `w` must be a plain column attribute, not the split() expression
    * itself: element_at inside the transform lambda re-evaluates its
    * child per gram (no CSE across lambda boundaries), so an inlined
    * split would re-tokenize the document ~3·|grams| times. */
  def shinglesOf(w: Column, k: Int = 3): Column =
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - lit(k)),
        i => concat_ws(" ", (0 until k).map(j => element_at(w, i + lit(j + 1))): _*))
    ).otherwise(array(concat_ws(" ", w)))

  /** Sorted-distinct-token-set fingerprint: order-insensitive, so
    * word-shuffled copies collapse to one fingerprint. */
  def tokenSetFingerprint(c: Column): Column =
    md5(array_join(array_sort(array_distinct(words(c))), " "))

  /** D1 — exact dedup accounting per source: keep-first-by-min-id
    * over identical raw text. */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("text")).as("n_unique_texts"),
           (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dupes"))
      .orderBy(col("source"))

  /** D2 — near-dup accounting via the order-insensitive token-set
    * fingerprint (catches shuffled copies exact dedup misses). */
  def d2FingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(tokenSetFingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("fp")).as("n_fingerprints"),
           (count(lit(1)) - countDistinct(col("fp"))).as("n_near_dupes"))

  /** Distinct (doc_id, shingle) pairs; the token array is staged as
    * its own projection so the shingle lambda reads a buffer, not a
    * re-evaluated split. Distinctness is per-document, so it's an
    * array_distinct BEFORE the explode — a narrow per-row op instead
    * of a corpus-wide dedup shuffle. Precondition: doc_id is the
    * table's key (one row per doc) — duplicated doc_id rows would
    * need the corpus-wide distinct back. */
  private[ext] def shingleSet(spark: SparkSession, dir: String): DataFrame =
    shingleRows(Tables.documents(spark, dir))

  /** The same shingle pass over a caller-supplied document frame —
    * factored so the streaming arrival path (st13) shingles a
    * micro-batch with the corpus pass's one definition. */
  private[graft] def shingleRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("_w"))
      .select(col("doc_id"), explode(array_distinct(shinglesOf(col("_w")))).as("s"))

  /** D3 — exact n-gram-Jaccard near-dup pairs (threshold 0.8):
    * shingle self-join → intersection counts → Jaccard. Shingles
    * appearing in a single document can't intersect anything, so the
    * self-join runs only over repeated shingles (a semi-join against
    * per-shingle doc counts) — on a mostly-unique corpus this shrinks
    * the joined volume by an order of magnitude without changing a
    * single output row.
    *
    * This is the FROM-SCRATCH derivation (the truth_pairs artifact's
    * builder and the spec/oracle twin); the gate entry and the d20/d21
    * grading harnesses serve the persisted table —
    * [[d3JaccardPairsServed]]. */
  def d3JaccardPairs(spark: SparkSession, dir: String): DataFrame =
    d3JaccardPairsCapped(spark, dir, maxShingleDocFreq = None)

  /** The d3 GATE entry: serves the persisted truth_pairs artifact
    * (re-ordered — parquet does not preserve row order), pinning the
    * ground-truth table's content against the oracle every round. */
  def d3JaccardPairsServed(spark: SparkSession, dir: String): DataFrame =
    Pipeline.truthPairsArtifact(spark, dir).orderBy(col("a_id"), col("b_id"))

  /** The exact path with the 100 TB knob made executable: shingles
    * appearing in more than `maxShingleDocFreq` documents are dropped
    * from the self-join (standard hot-shingle capping — a shingle in
    * k docs fans out k² pairs, and the hottest shingles are
    * boilerplate that contributes intersection mass to pairs that
    * were never near-dups). `None` = exact. Capping can only REMOVE
    * pairs or lower Jaccard estimates, never invent a pair
    * (spec-asserted); at threshold ∞ it IS d3. */
  def d3JaccardPairsCapped(spark: SparkSession, dir: String,
                           maxShingleDocFreq: Option[Long]): DataFrame =
    d3JaccardOf(Tables.documents(spark, dir), maxShingleDocFreq)

  /** d3 over an arbitrary (doc_id, text) frame — the seam Round5Spec
    * uses to plant a boilerplate shingle past the cap and pin the
    * knob's measured semantics (capped pairs ⊆ exact pairs, per-pair
    * jaccard never raised). */
  private[graft] def d3JaccardOf(docs: DataFrame,
                                 maxShingleDocFreq: Option[Long]): DataFrame =
    shinglePairCountsOf(docs, maxShingleDocFreq)
      .withColumn("jaccard", round(col("i") / (col("na") + col("nb") - col("i")), 3))
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  /** Shared candidate machinery of the exact pair scorers (d3
    * Jaccard, d9 containment): per-pair intersection counts `i` with
    * both docs' shingle-set sizes (`na`, `nb`), restricted to
    * repeated shingles (singletons can't intersect) and optionally
    * hot-shingle-capped. The scorers differ only in the final
    * normalization. */
  private def shinglePairCountsOf(docs: DataFrame,
                                  maxShingleDocFreq: Option[Long]): DataFrame = {
    // Per-doc set size computed NARROWLY — size of the row's own
    // distinct-shingle array — instead of a corpus-wide groupBy over
    // the exploded rows. At 100 TB the exploded set cannot be cached,
    // so a groupBy form would re-shuffle the whole corpus just to
    // count; this is one more narrow pass over the scan.
    val sizes = docs
      .select(col("doc_id"), words(col("text")).as("_w"))
      .select(col("doc_id"), size(array_distinct(shinglesOf(col("_w")))).as("n"))
    // Join identity = the 64-bit StableHash of the shingle string:
    // 8-byte shuffle/compare keys instead of ~20-byte strings (the
    // at-scale norm for shingle pipelines). The oracle hashes the
    // same distinct-string rows with the same md5-based function, so
    // parity is exact even under (astronomically rare) collisions —
    // both engines would see the identical collision.
    val sh = docs
      .select(col("doc_id"), words(col("text")).as("_w"))
      .select(col("doc_id"), explode(array_distinct(shinglesOf(col("_w")))).as("s"))
      .select(col("doc_id"), StableHash.hash64(col("s")).as("s")).cache()
    val repeated = sh.groupBy(col("s")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") > 1 &&
        maxShingleDocFreq.map(m => col("ns") <= m).getOrElse(lit(true)))
      .select(col("s"))
    val shRep = sh.join(repeated, Seq("s"), "left_semi")
    val inter = shRep.as("a")
      .join(shRep.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("a_id") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("b_id") === col("doc_id")).drop("doc_id")
  }

  val ContainmentThreshold = 0.9

  /** D9 — asymmetric containment pairs (quote / inclusion
    * detection): containment = |A∩B| / min(|A|,|B|) over 3-gram
    * shingle sets. Jaccard (d3) misses the doc-inside-doc case — a
    * paragraph quoted verbatim inside a much longer document scores
    * low Jaccard (union is huge) but containment ≈ 1 — and
    * containment-heavy corpora are exactly what boilerplate/quote
    * stripping targets. Same repeated-shingle semi-join pre-filter
    * and shingle-value self-join as d3: the fan-out is bounded by
    * shingle frequency, never |docs|², and the d3 hot-shingle cap
    * applies unchanged at 100 TB. */
  def d9Containment(spark: SparkSession, dir: String): DataFrame =
    d9ContainmentCapped(spark, dir, maxShingleDocFreq = None)

  /** The capped form, same knob and same monotonicity argument as
    * d3JaccardPairsCapped: capping can only remove pairs or lower
    * scores, never invent a pair; `None` = exact. */
  def d9ContainmentCapped(spark: SparkSession, dir: String,
                          maxShingleDocFreq: Option[Long]): DataFrame =
    shinglePairCountsOf(Tables.documents(spark, dir), maxShingleDocFreq)
      .withColumn("containment", round(col("i") / least(col("na"), col("nb")), 3))
      .filter(col("containment") >= ContainmentThreshold)
      .select(col("a_id"), col("b_id"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))

  val NumHashes = 16
  val Bands = 4 // 4 rows per band; P(candidate) = 1-(1-j^4)^4 — ~0.97 at j=0.8

  /** Universal-hash family for MinHash: h_k(x) = (a_k·x + b_k) mod P
    * over a base hash x < P. One md5 per shingle instead of 16 —
    * the md5 is the cost at scale (measured 16 s → ~4 s at sf0.1;
    * at 100 TB the minhash build is the dominant dedup stage). P is
    * prime < 2^30 and a_k < P, so a_k·x < 2^60 — exact in int64 in
    * both engines, keeping DuckDB bit-identical. */
  val MinhashP = 1073741789L
  def minhashA(k: Int): Long = ((k + 1) * 2654435761L % MinhashP) | 1L
  def minhashB(k: Int): Long = (k + 1) * 40503L % MinhashP

  /** MinHash signature: per doc, min over shingles of the 16
    * affine-permuted base hashes — one groupBy, 16 codegen'd
    * min-aggregates over ONE md5 evaluation per shingle. */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val h0 = StableHash.hash64(col("s")) % MinhashP
    val mins = (0 until NumHashes).map(k =>
      min((lit(minhashA(k)) * col("h0") + lit(minhashB(k))) % MinhashP).as(s"mh$k"))
    sh.withColumn("h0", h0).groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** D4 — MinHash-LSH near-dup pairs, verified with exact Jaccard
    * (threshold 0.5 on candidates). The 100 TB path: candidates only
    * form within a band bucket, so cost tracks duplicate density, not
    * corpus size².
    *
    * This is the FROM-SCRATCH derivation (one shingle pass shared by
    * the signature build and the verify stage) — the spec/oracle twin.
    * Consumers serve the same rows from the persisted pairs artifact
    * ([[graft.ext.Pipeline.pairsArtifact]], whose builder is
    * [[d4PairsFromSignatures]] over the signatures artifact): a
    * 100 TB candidate graph is a materialized table, not a per-query
    * derivation. */
  def d4MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSet(spark, dir).cache()
    d4VerifiedPairs(sh, minhashSignatures(sh))
  }

  /** The signature pass alone — the artifact DAG's root-table builder
    * (Pipeline.signaturesArtifact). */
  private[graft] def signaturesDerived(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(shingleSet(spark, dir))

  /** d4's banding + candidate join + exact-Jaccard verify over a
    * caller-supplied signature table (the pairs-artifact build serves
    * the signatures from parquet; the shingle pass still runs here —
    * the verify stage needs the shingle SETS, which the signature
    * table deliberately does not carry). */
  private[graft] def d4PairsFromSignatures(spark: SparkSession, dir: String,
                                         mh: DataFrame): DataFrame =
    d4VerifiedPairs(shingleSet(spark, dir).cache(), mh)

  /** The d4 GATE entry: serves the persisted pairs artifact
    * (re-ordered — a parquet roundtrip does not preserve row order),
    * which pins the artifact's CONTENT against the DuckDB oracle
    * every round on top of Round11Spec's served ≡ derived pin. */
  def d4MinhashLshServed(spark: SparkSession, dir: String): DataFrame =
    Pipeline.pairsArtifact(spark, dir).orderBy(col("a_id"), col("b_id"))

  /** Band rows (doc_id, band, sig) of a signature table — d4's LSH
    * bucketing, factored so the incremental graph refresh (e13) can
    * band a DELTA slice against an existing signature table. */
  private[ext] def bandsOf(mh: DataFrame): DataFrame = {
    val rowsPerBand = NumHashes / Bands
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("sig"))
    }
    mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** ARRIVAL candidates: a new signature slice banded against the
    * arrived signature state (base + earlier arrivals + the slice
    * itself) — exactly the full graph's candidate pairs with ≥ 1
    * new endpoint, because buckets among already-arrived docs are
    * untouched by an arrival. ONE definition of the law shared by
    * the batch refresh (e13, where arrived = the whole corpus and
    * new = the whole delta) and the streaming maintenance path
    * (st13, where each micro-batch is its own slice).
    *
    * `broadcastNew` (guide §3.1 — broadcast the side that fits):
    * the streaming callers' `new` side is ONE MICRO-BATCH, bounded by
    * the trigger (maxFilesPerTrigger), so its band rows (wave ×
    * [[Bands]]) broadcast safely at any corpus size and the
    * corpus-sized arrived side is probed IN PLACE — zero exchange of
    * the arrived bands (the join otherwise plans as a sort-merge that
    * shuffles the whole banded corpus per wave). The default keeps
    * the shuffle form for the batch callers, whose delta slice is
    * corpus-proportional (e13/e17/d22). Same pairs either way — join
    * strategy never changes the joined set. */
  private[graft] def arrivalCandidates(newSigs: DataFrame,
                                       arrivedSigs: DataFrame,
                                       broadcastNew: Boolean = false): DataFrame = {
    val newBands = bandsOf(newSigs)
    (if (broadcastNew) broadcast(newBands) else newBands).as("a")
      .join(bandsOf(arrivedSigs).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
  }

  /** Exact-Jaccard verification of a candidate (a_id, b_id) list over
    * a shingle table covering every involved id — d4's verify tail
    * (pair-bounded: `sh` fans in only where a candidate exists).
    * No output order imposed; callers order. */
  private[graft] def verifyCandidates(sh: DataFrame, cand: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("x"), col("a_id") === col("x.doc_id"))
      .join(sh.as("y"), col("b_id") === col("y.doc_id") && col("x.s") === col("y.s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("a_id") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("b_id") === col("doc_id")).drop("doc_id")
      .withColumn("jaccard", round(col("i") / (col("na") + col("nb") - col("i")), 3))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** From-scratch d4 pairs over an arbitrary document frame — the
    * d22 spec twin's rebuild-with-current-text path (Round15Spec
    * pins the incremental verb against CC over exactly this). */
  private[graft] def d4PairsOf(docs: DataFrame): DataFrame = {
    val sh = shingleRows(docs).cache()
    d4VerifiedPairs(sh, minhashSignatures(sh))
  }

  private def d4VerifiedPairs(sh: DataFrame, mh: DataFrame): DataFrame = {
    val bands = bandsOf(mh)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyCandidates(sh, cand)
      .orderBy(col("a_id"), col("b_id"))
  }

  val SimhashBits = 32

  /** D5 — SimHash clusters: 32-bit signature from token hashes
    * (per-bit +1/-1 vote), computed as 32 codegen'd conditional sums
    * in ONE groupBy — no per-bit explode, no UDF. Word-shuffled
    * copies share token multisets, hence identical signatures; the
    * query reports multi-doc signature clusters. */
  /** Per-doc 32-bit SimHash signature frame (doc_id, simhash) —
    * factored out of d5 so d20's quality matrix can grade the
    * same-signature pair set d5's clusters imply. */
  private[graft] def d5Signatures(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("t"))
      .withColumn("h", StableHash.hash64(99, col("t")))
    val sums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val bitSums = toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    bitSums.withColumn("simhash",
      (0 until SimhashBits).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)): Column).reduce(_ + _))
      .select(col("doc_id"), col("simhash"))
  }

  def d5SimhashClusters(spark: SparkSession, dir: String): DataFrame =
    d5Signatures(spark, dir).groupBy(col("simhash"))
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("keep_doc_id"))
      .filter(col("cluster_size") > 1)
      .orderBy(col("simhash"))

  /** Connected components by iterative min-label propagation: each
    * node starts labeled with itself; every round takes the min of
    * its neighbors' labels; fixpoint = component minimum. O(diameter)
    * rounds, each one join + one aggregate — the standard large-scale
    * formulation (components fit nothing in memory; GraphX's CC is
    * this same loop). localCheckpoint truncates lineage per round so
    * plans don't grow with iteration count; each superseded round's
    * checkpoint blocks are freed as soon as the next round
    * materializes, so peak storage is two rounds, not `rounds`.
    *
    * Edge symmetrization, checkpoint lifecycle, and the edge-sized
    * shuffle width come from the shared [[IterativeGraph]] harness
    * (PageRank runs the same rounds shape; the width is applied as an
    * explicit per-round `repartition`, never via the session-global
    * shuffle-partitions conf). A graph whose
    * diameter exceeds the round cap fails loudly instead of returning
    * a non-fixpoint
    * labeling; the production answer for such graphs is
    * pointer-doubling / large-star-small-star (O(log d) rounds),
    * not a bigger cap. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    IterativeGraph.withSymmetricEdges(pairs, aCol, bCol, distinctEdges = true)(
      ccLabelsOnEdges)

  /** The label loop over a PREBUILT symmetric edge list — factored so
    * callers already inside a withSymmetricEdges body (p4's BFS) can
    * label without symmetrizing and checkpointing the edges twice. */
  private[ext] def ccLabelsOnEdges(edges: DataFrame, width: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.CheckpointShim
    // pin the edge-sized width on the round join's edge-side key once;
    // each round's (node-sized) label side repartitions to match, so
    // the join is co-partitioned at `width` with no fresh edge shuffle
    val e = edges.repartition(width, col("dst")).localCheckpoint()
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val neighborMin = e.join(labels.repartition(width, col("node")), col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val updated = labels.join(neighborMin, col("node") === col("src"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("newLabel"))
        .localCheckpoint()
      changed = updated.filter(col("newLabel") =!= col("label")).count()
      CheckpointShim.unpersist(labels)
      labels = updated.select(col("node"), col("newLabel").as("label"))
      rounds += 1
    }
    CheckpointShim.unpersist(e)
    if (changed != 0) {
      // free the label checkpoint before failing (the harness frees
      // the edge checkpoint on every exit path)
      CheckpointShim.unpersist(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $rounds rounds " +
          s"($changed labels still changing); graph diameter exceeds the cap — " +
          "switch to pointer-doubling rather than raising it")
    }
    // the final round's checkpoint stays pinned until the caller
    // consumes the result — one component-sized block, not one per round
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** D7 — near-dup clusters: the LSH pair list (d4) closed into
    * connected components; cluster_id = min doc_id of the component
    * (the canonical keep-one-per-cluster decision every dedup
    * pipeline ends with). Oracle: recursive-CTE transitive closure
    * over the same pairs. Served from the persisted labels artifact —
    * the labeling IS that table; Round11Spec pins served ≡ the
    * from-scratch labeling. */
  def d7DedupComponents(spark: SparkSession, dir: String): DataFrame =
    Pipeline.labelsArtifact(spark, dir)
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  /** D11 — INCREMENTAL connected components, the arriving-data form
    * of d7: yesterday's cluster assignment plus today's new pairs
    * re-converge without re-clustering the world. The old labeling
    * enters as (node → cluster_id) label edges — each old component
    * collapses to a star around its representative — so rounds scale
    * with the diameter of the NEW merge graph, not the historical
    * one, and the historical PAIR LIST never needs to be kept, only
    * the labeling (at 100 TB that is the difference between state
    * linear in documents and state linear in candidate pairs).
    *
    * Here the d4 pair list splits deterministically into an "old"
    * and a "new" half to stand in for two arrival days; the fixpoint
    * must equal the full-rebuild d7 labeling EXACTLY — the fold ≡
    * rebuild law the incremental snapshot already obeys — so d11
    * shares d7's oracle verbatim. */
  def d11IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    // the persisted pairs artifact feeds both halves (previously this
    // localCheckpointed a fresh LSH build; a parquet table needs no
    // checkpoint to be read twice)
    val pairs = Pipeline.pairsArtifact(spark, dir).select(col("a_id"), col("b_id"))
    val old = pairs.filter((col("a_id") + col("b_id")) % 2 === 0)
    val fresh = pairs.filter((col("a_id") + col("b_id")) % 2 === 1)
    incrementalFold(old, fresh)
  }

  /** The incremental-CC fold itself — ONE definition shared by d11
    * and the e13 graph refresh, so the fold ≡ rebuild mechanism
    * (star-edge construction, union, re-converge, checkpoint release)
    * cannot drift between the two verbs. `oldPairs` is yesterday's
    * pair graph, `fresh` today's new pairs; output is the converged
    * (doc_id, cluster_id) labeling, doc_id-ordered. */
  private[graft] def incrementalFold(oldPairs: DataFrame, fresh: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.CheckpointShim
    val equiv = connectedComponents(oldPairs, "a_id", "b_id")
    val out = incrementalFoldFrom(equiv, fresh)
    // both CC calls have materialized their own checkpoints by now;
    // the first run's labels can go
    CheckpointShim.unpersist(equiv)
    out
  }

  /** The fold with YESTERDAY'S LABELING supplied directly — the form
    * d11's law actually states ("the historical pair list never needs
    * to be kept, only the labeling"): label edges include the
    * representatives' (x, x) self-edges, which is what keeps nodes
    * whose component gains no new pair present in the merged graph.
    * The e13/st13/st14 serves pass the PERSISTED base
    * labeling (Pipeline.baseLabelsArtifact) here instead of
    * re-converging the base pair graph per invocation;
    * [[incrementalFold]] remains the derive-from-pairs form (d11's
    * own benchmark row). */
  private[graft] def incrementalFoldFrom(oldLabels: DataFrame,
                                         fresh: DataFrame): DataFrame = {
    val equiv = oldLabels
      .select(col("node").as("a_id"), col("cluster_id").as("b_id"))
    connectedComponents(equiv.union(fresh.select(col("a_id"), col("b_id"))),
        "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // D22 — document UPDATE at the pair/dedup tier: the verb the
  // two vector tiers already had (s21/s23 upsert, s28 graph update)
  // and the pair graph did not. A re-edited document (same doc_id,
  // new text) must LEAVE its old shingle buckets and pairs and
  // RE-ENTER as an arrival, with affected clusters re-converging —
  // update ≡ retract ∘ arrive, composed from the two existing
  // kernels (e14's retractFromGraph, e13's arrivalCandidates) plus
  // d11's fold law, all shared definitions. Nothing here is new
  // machinery; the operator is the COMPOSITION, gate-hash-checked
  // against rebuild-with-current-text every round.
  //
  // Scale shape: retraction is affected-cluster-mass-bounded (e14's
  // bound); the arrival candidate join is batch-sized bands against
  // the persisted signature state (e13's bound); verification scans
  // an endpoint-bounded shingle view; the re-converge folds the
  // retracted labeling as star edges (d11's bound — rounds scale
  // with the NEW merge graph's diameter, state linear in docs).
  // Nothing rebuilds corpus-sized state.
  // ---------------------------------------------------------------

  /** The edited slice for the d22 gate entry: doc_id % 10 = 7 (free
    * of st19's retract digit 3 and e4's div-20 delta pattern, so the
    * verbs stay independently observable). */
  val D22EditDigit = 7
  private def d22EditedOn(c: String): Column = col(c) % 10 === D22EditDigit

  /** The deterministic re-edit stand-in (s21's reversed-vector
    * discipline at the text tier): each edited doc's new text is the
    * PRECEDING doc's original text — exactly expressible on both
    * engines, and it guarantees the edited doc genuinely changes
    * cluster membership (jaccard 1.0 with its predecessor). A doc
    * with no predecessor keeps its text (the oracle's NULL guard). */
  private[graft] def d22EditedBatch(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.filter(d22EditedOn("doc_id")).select(col("doc_id"), col("text"))
      .join(d.select((col("doc_id") + 1).as("doc_id"), col("text").as("_new")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_new"), col("text")).as("text"))
  }

  /** The post-edit CURRENT view of the corpus — the world the update
    * must be indistinguishable from rebuilding against. */
  private[graft] def d22CurrentDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.join(d22EditedBatch(spark, dir).select(col("doc_id"), col("text").as("_new")),
        Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("_new"), col("text")))
      .drop("_new")
  }

  /** The update's arrival-verify stage as ONE uncached frame — the
    * plan PlanDump inspects (e13NewPairsFrame's pattern: the gate
    * entry's own final plan roots at the fold's checkpointed CC
    * rounds, so the scale-bearing shape — batch bands against the
    * post-edit signature state + endpoint-bounded verify over the
    * current view — is only visible here). */
  private[graft] def d22NewPairsFrame(spark: SparkSession, dir: String): DataFrame = {
    val newSigs = minhashSignatures(shingleRows(d22EditedBatch(spark, dir)))
    val survivorSigs = Pipeline.signaturesArtifact(spark, dir)
      .filter(!d22EditedOn("doc_id"))
    val cand = arrivalCandidates(newSigs, survivorSigs.unionByName(newSigs))
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    verifyCandidates(
      shingleRows(d22CurrentDocs(spark, dir)
        .join(candIds, Seq("doc_id"), "left_semi")), cand)
      .select(col("a_id"), col("b_id"))
  }

  /** D22 — the update verb: retract the edited docs from the pair
    * graph (e14's kernel over the persisted pairs/labels artifacts —
    * only clusters CONTAINING an edited doc re-converge), re-admit
    * the batch with its new text through the arrival law (e13's
    * candidate kernel against the survivor signature state ∪ the
    * batch itself, exact-Jaccard verified over the post-edit shingle
    * view), then fold the new pairs into the retracted labeling
    * (d11's star-edge fold). Oracle = d7's closure chain over the d4
    * pair table derived from the post-edit corpus view — update ≡
    * rebuild-with-current-text, hash-checked every round; Round15Spec
    * additionally pins the Spark-side equivalence and the
    * changed-doc-moves / untouched-clusters-verbatim laws. */
  def d22DocUpdate(spark: SparkSession, dir: String): DataFrame = {
    val edited = Tables.documents(spark, dir).filter(d22EditedOn("doc_id"))
      .select(col("doc_id"))
    // RETRACT (pre-converge): the edited docs leave their pairs —
    // untouched labels pass through as star edges, affected clusters'
    // survivors enter the ONE fold below as raw pairs (the
    // intermediate survivor-only CC was a second labeling pass whose
    // fixpoint the combined CC reaches anyway)
    val (untouched, survivors) = Pipeline.retractParts(
      Pipeline.pairsArtifact(spark, dir).select(col("a_id"), col("b_id")),
      Pipeline.labelsArtifact(spark, dir), edited)
    // ARRIVE: the batch re-enters with its new text — candidates are
    // batch bands against the post-edit signature state (survivor
    // signatures from the artifact ∪ the batch's fresh signatures)
    val newSigs = minhashSignatures(shingleRows(d22EditedBatch(spark, dir)))
    val survivorSigs = Pipeline.signaturesArtifact(spark, dir)
      .filter(!d22EditedOn("doc_id"))
    val cand = arrivalCandidates(newSigs, survivorSigs.unionByName(newSigs))
      .cache() // consumed 3×: endpoint ids ×2, verify join
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    // candidate-doc filter BEFORE the shingle explode (guide §2.3 —
    // the optimizer cannot push a join below the generator), and the
    // endpoint-bounded shingle view cached: verifyCandidates reads it
    // three times (sizes, both sides of the intersection join)
    val sh = shingleRows(d22CurrentDocs(spark, dir)
      .join(candIds, Seq("doc_id"), "left_semi")).cache()
    val newPairs = verifyCandidates(sh, cand).select(col("a_id"), col("b_id"))
    // FOLD: one labeling pass over untouched star edges ∪ surviving
    // pairs ∪ new pairs — d11's fold ≡ rebuild law
    val labelEdges = untouched
      .select(col("doc_id").as("a_id"), col("cluster_id").as("b_id"))
    val out = connectedComponents(
      labelEdges.unionByName(survivors).unionByName(newPairs), "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
    cand.unpersist() // CC is eager (checkpointed rounds): cand is consumed
    sh.unpersist()
    out
  }

  /** D19 — connected components by LARGE-STAR / SMALL-STAR
    * alternation (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): the pointer-doubling family d7's label
    * loop names as the production answer for high-diameter graphs.
    * d7/d11 converge in O(diameter) label rounds — fine for LSH
    * candidate graphs (star-ish, tiny diameter), fatal for
    * chain-shaped graphs: a 300-link chain blows the 50-round cap,
    * and the documented posture was "switch algorithms", not "raise
    * the cap". This IS that switch. Star rounds contract paths
    * exponentially — O(log² n) rounds w.h.p. on ANY topology — so
    * the cap stops being a topology assumption and becomes a real
    * safety margin. Same labeling contract as d7 (cluster_id =
    * component min over the d4 pair graph), same oracle; pinned
    * label-for-label against d7 on the real pair graph, against
    * brute-force union-find on a randomized graph, and on the
    * 300-node chain d7's loop cannot label (Round9Spec).
    *
    * Scale shape per round: a groupBy-min and an edge-sized join per
    * star phase, both at edge-sized width; the convergence check is
    * two anti-join counts on the pair-bounded edge set. Nothing is
    * node² or corpus-sized; round count is log-bounded, never
    * diameter-bounded. */
  def d19CcBigstar(spark: SparkSession, dir: String): DataFrame =
    bigStarComponents(Pipeline.pairsArtifact(spark, dir), "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  def bigStarComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    bigStarComponentsWithRounds(pairs, aCol, bCol)._1

  private[graft] def bigStarComponentsWithRounds(
      pairs: DataFrame, aCol: String, bCol: String): (DataFrame, Int) =
    IterativeGraph.withSymmetricEdges(pairs, aCol, bCol, distinctEdges = true)(
      bigStarLabelsOnEdges)

  /** The star-contraction loop over a PREBUILT symmetric edge list.
    * Edges live in canonical (hi > lo) undirected form between
    * rounds; each round runs one LARGE-STAR (every edge processed
    * from its smaller endpoint u: neighbors v > u re-point at
    * m(u) = min(Γ(u) ∪ {u})) then one SMALL-STAR (every edge
    * processed from its larger endpoint hi: hi and its smaller
    * neighbors re-point at their min). Fixpoint = a union of stars
    * centered at component minima. */
  private[ext] def bigStarLabelsOnEdges(edges: DataFrame, width: Int): (DataFrame, Int) = {
    import org.apache.spark.sql.graftshim.CheckpointShim
    // every original node: final labels must cover nodes whose edges
    // are rewritten away as their component contracts onto the root
    val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
    var e = edges.filter(col("src") > col("dst"))
      .select(col("src").as("hi"), col("dst").as("lo"))
      .distinct().localCheckpoint()
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < 50) {
      // LARGE-STAR
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mu = sym.repartition(width, col("u")).groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // m ≤ u < v, so (v, m) is already canonical and never a self-loop
      val ls = sym.filter(col("v") > col("u"))
        .join(mu, Seq("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct().localCheckpoint()
      // SMALL-STAR: m = min of hi's smaller neighbors (= min(N∪{hi}))
      val mv = ls.repartition(width, col("hi")).groupBy(col("hi"))
        .agg(min(col("lo")).as("m"))
      val withM = ls.join(mv, Seq("hi"))
      val eNew = withM.select(col("hi"), col("m").as("lo"))
        .union(withM.filter(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo")))
        .distinct().localCheckpoint()
      changed = eNew.except(e).count() + e.except(eNew).count()
      CheckpointShim.unpersist(ls)
      CheckpointShim.unpersist(e)
      e = eNew
      rounds += 1
    }
    if (changed != 0) {
      CheckpointShim.unpersist(nodes)
      CheckpointShim.unpersist(e)
      throw new IllegalStateException(
        s"bigStar did not converge within $rounds rounds — impossible for any " +
          "graph with < 2^50-scale contraction depth; investigate the edge set")
    }
    // fixpoint edges are (member, root) stars; roots label themselves
    val labels = nodes
      .join(e.select(col("hi").as("node"), col("lo").as("lab")), Seq("node"), "left")
      .select(col("node"), coalesce(col("lab"), col("node")).as("cluster_id"))
      .localCheckpoint()
    CheckpointShim.unpersist(nodes)
    CheckpointShim.unpersist(e)
    (labels, rounds)
  }

  val SnmJaccardThreshold = 0.5

  /** Blocks larger than this are hash-split before the sort window;
    * on a real corpus a hot 2-token prefix (a common boilerplate
    * opening — "the following", "copyright c") would otherwise put an
    * entire block on one task. */
  val SnmMaxBlockDocs = 512

  /** D8 — sorted-neighborhood dedup (the third classic dedup family
    * next to the value-join d3 and the banded d4): block by the
    * 2-token prefix, sort each block, compare each document ONLY to
    * its immediate successor, keep pairs with token-set Jaccard ≥
    * 0.5. Cost is one partitioned sort + a lead() window — no
    * self-join at all — which is what makes SNM the cheapest
    * candidate generator at scale; the price is recall limited to
    * neighbors under this one sort key (production runs multiple
    * passes with rotated keys; prefix-blocked near-dups here are the
    * common head-insertion/suffix-edit copies). */
  def d8Snm(spark: SparkSession, dir: String): DataFrame =
    d8SnmBounded(spark, dir, SnmMaxBlockDocs)

  /** The block-size bound made executable: a block with cnt docs is
    * split into ceil(cnt / maxBlockDocs) sub-blocks by a stable hash
    * of doc_id, and the sort window partitions by (blk, sub) — so the
    * expected partition size is ≤ maxBlockDocs no matter how hot a
    * prefix gets, which is what lets the one-window claim survive a
    * boilerplate-heavy 100 TB corpus. Splitting is the standard SNM
    * recall trade (a doc's neighbor may land in another sub-block,
    * exactly as it may land outside the prefix block itself); when
    * every block fits, sub = 0 everywhere and the output is
    * IDENTICAL to the unsplit form (spec-asserted). The per-block
    * counts are a tiny prefix-grain aggregate broadcast back; at
    * extreme prefix cardinality the same plan works as a blk-keyed
    * shuffle join, whose partitioning the (blk, sub) window then
    * reuses (subset-clustering). The hash is [[StableHash]], so the
    * DuckDB oracle computes the same sub-block assignment — the
    * equivalence is structural, not corpus-dependent. */
  def d8SnmBounded(spark: SparkSession, dir: String, maxBlockDocs: Int): DataFrame =
    snmPass(spark, dir, snmPrefixKey, maxBlockDocs)
      .orderBy(col("doc_id"), col("dup_id"))

  /** Prefix block key: first 2 tokens. */
  private def snmPrefixKey: Column =
    array_join(slice(words(col("text")), 1, 2), " ")

  /** Suffix block key: LAST 2 tokens, the classic rotated key for a
    * second SNM pass. Start index is computed as greatest(n-1, 1) —
    * not a negative slice index — because Spark and DuckDB disagree
    * on negative starts when the array is shorter than the slice;
    * this form means "last two, or the whole array if shorter" in
    * both engines. */
  private def snmSuffixKey: Column = {
    val w = words(col("text"))
    array_join(slice(w, greatest(size(w) - 1, lit(1)), lit(2)), " ")
  }

  /** One SNM pass over an arbitrary block key (unordered pairs). */
  private def snmPass(spark: SparkSession, dir: String, blk: Column,
                      maxBlockDocs: Int): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), array_distinct(words(col("text"))).as("ts"))
      .withColumn("blk", blk)
    val cnts = d.groupBy(col("blk")).agg(count(lit(1)).as("cnt"))
    val sub = pmod(StableHash.hash64(col("doc_id")),
                   ceil(col("cnt") / lit(maxBlockDocs.toDouble)))
    val w = Window.partitionBy(col("blk"), col("sub")).orderBy(col("text"), col("doc_id"))
    val j = size(array_intersect(col("ts"), col("nts"))).cast("double") /
      size(array_union(col("ts"), col("nts")))
    d.join(broadcast(cnts), Seq("blk"))
      .withColumn("sub", sub)
      .withColumn("nid", lead(col("doc_id"), 1).over(w))
      .withColumn("nts", lead(col("ts"), 1).over(w))
      .filter(col("nid").isNotNull)
      .select(col("doc_id"), col("nid").as("dup_id"), round(j, 4).as("jaccard"))
      .filter(col("jaccard") >= SnmJaccardThreshold)
  }

  /** D10 — multi-pass SNM, the production practice d8's scaladoc
    * names: a second pass sorts under a ROTATED key (last-2-token
    * blocks), recovering suffix-blocked near-dups the prefix pass
    * structurally misses (head-edited copies). Pairs canonicalize to
    * (min, max) and found_by counts the passes that produced each —
    * the Jaccard is key-independent, so colliding pairs agree on it
    * and the groupBy is exact. Cost is exactly 2× one pass; passes
    * share nothing at runtime, so they parallelize trivially. */
  def d10SnmMultipass(spark: SparkSession, dir: String): DataFrame = {
    val pre = snmPass(spark, dir, snmPrefixKey, SnmMaxBlockDocs)
    val suf = snmPass(spark, dir, snmSuffixKey, SnmMaxBlockDocs)
    pre.union(suf)
      .select(least(col("doc_id"), col("dup_id")).as("a_id"),
              greatest(col("doc_id"), col("dup_id")).as("b_id"),
              col("jaccard"))
      .groupBy(col("a_id"), col("b_id"), col("jaccard"))
      .agg(count(lit(1)).cast("int").as("found_by"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** D15 — deduplicated-corpus materialization: the production OUTPUT
    * step the pair-finding family (d3/d4/d7) exists to feed. d7's
    * component labeling picks the canonical copy (min doc_id = the
    * cluster label itself); every other member is dropped, and the
    * kept corpus is reported per source with its surviving token
    * volume — the number a training run actually budgets against.
    * Docs outside every component are keepers by construction (they
    * never enter the labeling, so the left join leaves them null).
    *
    * Scale shape: one left join of the corpus against the
    * component-member list (candidate-pair-sized, ≪ corpus) plus the
    * per-source rollup; the emit step adds nothing beyond d7 itself.
    * The real deployment writes the kept rows straight back out with
    * the same join — this query IS that plan with a count instead of
    * a sink. */
  def d15DedupMaterialize(spark: SparkSession, dir: String): DataFrame = {
    val drops = nonCanonicalDocs(spark, dir).withColumn("dr", lit(1L))
    Tables.documents(spark, dir)
      .join(drops, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("dr"), lit(0L))).as("n_removed"),
           (count(lit(1)) - sum(coalesce(col("dr"), lit(0L)))).as("n_kept"),
           sum(when(col("dr").isNull, size(words(col("text"))).cast("long"))
             .otherwise(0L)).as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** D23 — QUALITY-RANKED keeper selection: d15 materializes
    * the deduplicated corpus under d7's min-id keep rule; production
    * pipelines keep the BEST member of each duplicate cluster instead
    * — a near-dup cluster often mixes a clean original with truncated
    * or boilerplate-padded variants, and min-id keeps whichever
    * arrived first. Keeper = argmax of the exact-integer keep score
    * ([[TextAnalysis.keepScore]], 200× t3's quality heuristic), ties
    * to the smallest doc_id; one row per cluster with `moved` = 1
    * where the quality rule picked a different keeper than min-id
    * (measured live: 3 of 20 clusters at sf0.001, 7 of 22 at sf0.01 —
    * the rule is not a re-statement of d15's).
    *
    * Scale shape: the labels artifact is candidate-pair-bounded
    * (≪ corpus); scoring joins it against documents keyed on doc_id
    * with the corpus side pruned to (doc_id, text); ONE rank window
    * partitioned per cluster (both window functions share the
    * partition spec — one shuffle). The production materialization
    * composes this keeper set with d15's join in place of the min-id
    * rule. */
  def d23KeepBest(spark: SparkSession, dir: String): DataFrame = {
    val members = Pipeline.labelsArtifact(spark, dir)
      .select(col("node").as("doc_id"), col("cluster_id"))
    val scored = members.join(
      Tables.documents(spark, dir).select(col("doc_id"),
        TextAnalysis.keepScore(col("text")).as("keep_score")), Seq("doc_id"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val ordered = byCluster.orderBy(desc("keep_score"), col("doc_id"))
    scored
      .withColumn("r", row_number().over(ordered))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("r") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("keep_score"), col("n_members"),
        when(col("doc_id") =!= col("cluster_id"), lit(1L)).otherwise(lit(0L))
          .as("moved"))
      .orderBy(col("cluster_id"))
  }

  /** D16 — source-overlap matrix: pairwise vocabulary Jaccard between
    * SOURCES (the corpus-level redundancy audit that decides which
    * feeds to deduplicate against each other first — two sources with
    * high vocabulary overlap are where cross-source near-dups live).
    * Token sets are per-source distinct vocabularies; the pair
    * intersection is a self-join on the token, bounded by per-token
    * source frequency (≤ |sources| per token — the d3 fan-out
    * argument at source grain, where it is trivially small). At
    * 100 TB the vocabulary swap is bottom-k sketches per source (t5)
    * with the same matrix shape. */
  def d16SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(col("source"), explode(array_distinct(words(col("text")))).as("t"))
      .distinct().cache()
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = vocab.as("a")
      .join(vocab.as("b"),
        col("a.t") === col("b.t") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("n").as("na")), Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 4).as("vocab_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** D17 — cross-source near-dup provenance: d4's verified candidate
    * pairs annotated with their documents' SOURCES and rolled up per
    * source pair — the evidence view that tells a pipeline where its
    * duplication actually comes from (d16's vocabulary overlap is
    * the leading indicator; this is the ground truth). within_source
    * marks intra-feed duplication vs cross-feed contamination. Two
    * dimension-key lookups on the pair list (pair-bounded, ≪ corpus)
    * plus a tiny rollup. */
  def d17CrossSourcePairs(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    Pipeline.pairsArtifact(spark, dir)
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
      .select(least(col("sa"), col("sb")).as("src_a"),
              greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within_source", col("src_a") === col("src_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** d18's sketch width. Sized BELOW this corpus's ~31-token
    * per-source vocabularies on purpose: the estimator must actually
    * estimate (k ≥ |vocab| would silently degenerate to d16's exact
    * path and the error spec would test nothing). At 100 TB the same
    * k rides against billion-token vocabularies — state per source is
    * k hashes regardless. */
  val SketchK = 16

  /** D18 — d16's named production swap landed as code: the
    * source-overlap matrix from bottom-k (KMV) vocabulary SKETCHES
    * instead of exact vocabularies. d16's exact intersection
    * self-joins the full per-source vocabularies — fine while
    * vocabularies are small, but its shuffle grows with vocabulary
    * size; here each source first reduces to its k smallest distinct
    * token hashes (the [[graft.functions.BottomK]] typed Aggregator —
    * O(k) buffer, map-side partials, so the corpus-sized pass emits
    * constant state per source), and every later stage touches only
    * |sources|·k rows. Estimator: merge two sketches, keep the k
    * smallest of the union, and count how many of those sit in BOTH —
    * est_J = n_both / n_union_k (Beyer et al., SIGMOD'07). Membership
    * inside the union-top-k is exact: a hash among the k smallest of
    * A∪B that belongs to A is necessarily among the k smallest of A,
    * so A's sketch contains it.
    *
    * Exactness discipline: hashes are StableHash (DuckDB replays the
    * identical sketch), the estimate is emitted as integer PERMILLE
    * via integer division — no float ratio near a rounding boundary
    * (n_union_k can be a power of two, where round-half behavior
    * diverges across engines). Round6Spec measures the estimate
    * against d16's exact matrix. */
  def d18SketchOverlap(spark: SparkSession, dir: String): DataFrame = {
    val fn = graft.functions.BottomK.registerWidth(spark, SketchK)
    val vh = Tables.documents(spark, dir)
      .select(col("source"), explode(array_distinct(words(col("text")))).as("t"))
      .distinct()
      .select(col("source"), StableHash.hash64(col("t")).as("h"))
    // the ONLY corpus-bounded stage; output is k hashes per source
    val sk = vh.groupBy(col("source"))
      .agg(call_function(fn, col("h")).getField("values").as("hs"))
    // |sources|·k rows from here on — BOUNDED state (k hashes per
    // source at ANY corpus size), so collect it once to the driver
    // (the same bounded-driver-state discipline as the k-means
    // centroids, ext/Similarity.scala) and rebuild a local relation:
    // the corpus pass runs exactly once, both sides of the pair
    // construction read the local copy, nothing stays pinned in the
    // block manager, and the operator is self-contained — no
    // reliance on a harness-level clearCache.
    import spark.implicits._
    val ex = sk.select(col("source"), explode(col("hs")).as("h"))
      .as[(String, Long)].collect().toSeq.toDF("source", "h")
    val srcs = ex.select(col("source")).distinct()
    val pr = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    val ua = pr.join(ex.withColumnRenamed("source", "src_a"), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val ub = pr.join(ex.withColumnRenamed("source", "src_b"), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val merged = ua.unionByName(ub)
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    // union-top-k per pair: the window partition holds ≤ 2k rows by
    // construction — partitioned, never a global sort
    val w = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
    merged.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SketchK)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_union_k"),
           sum(col("in_a") * col("in_b")).as("n_both"))
      .select(col("src_a"), col("src_b"), lit(SketchK.toLong).as("sketch_k"),
        col("n_both"), col("n_union_k"),
        expr("n_both * 1000 div n_union_k").as("est_jaccard_permille"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** doc_ids the d7 labeling drops (non-canonical members) — ONE
    * definition for d15 and the e1 funnel, served from the persisted
    * labels artifact. */
  private[ext] def nonCanonicalDocs(spark: SparkSession, dir: String): DataFrame =
    Pipeline.labelsArtifact(spark, dir)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"))

  val EditPrefixChars = 48
  val EditMaxDist = 12

  /** D14 — edit-distance near-dup pairs (record-linkage's classic
    * character-level matcher, the signal token-set Jaccard can't see:
    * in-word typos and punctuation edits barely move Jaccard but sit
    * a few edits apart). Candidates come from the same SNM machinery
    * as d8 (prefix blocks, bounded block size, successor-only
    * compare), scored with codegen'd levenshtein over a FIXED-LENGTH
    * prefix — O(EditPrefixChars²) per pair regardless of document
    * length, which is what keeps edit distance affordable at all:
    * unbounded levenshtein over full documents is quadratic in doc
    * length and never runs at corpus scale. Distances are exact
    * integers (both engines implement plain unit-cost Levenshtein),
    * so pairs hash-match bit-for-bit.
    *
    * The distance itself runs through the codegen'd
    * [[graft.functions.BoundedLevenshtein]] — banded O(k·n) DP with
    * early exit at bound EditMaxDist, rather than the builtin's full
    * O(n·m) table. The bound contract (min(true, k+1)) makes the
    * swap invisible to the ≤ EditMaxDist filter; a property test
    * pins the kernel to a full-DP reference and a spec pins this
    * query to the builtin form row for row. */
  def d14EditDistance(spark: SparkSession, dir: String): DataFrame =
    d14WithDistance(spark, dir, bandedDistance)

  /** The codegen'd banded distance (production form). */
  private def bandedDistance(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.BoundedLevenshtein(
      ColumnShim.expression(a), ColumnShim.expression(b), EditMaxDist))
  }

  /** d14 parameterized by the distance implementation, so the spec
    * can run the identical plan over the builtin levenshtein and
    * assert row-for-row equality with the banded kernel. */
  def d14WithDistance(spark: SparkSession, dir: String,
                      dist: (Column, Column) => Column): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, EditPrefixChars).as("px"))
      .withColumn("blk", snmPrefixKey)
    val cnts = d.groupBy(col("blk")).agg(count(lit(1)).as("cnt"))
    val sub = pmod(StableHash.hash64(col("doc_id")),
                   ceil(col("cnt") / lit(SnmMaxBlockDocs.toDouble)))
    val w = Window.partitionBy(col("blk"), col("sub")).orderBy(col("text"), col("doc_id"))
    d.join(broadcast(cnts), Seq("blk"))
      .withColumn("sub", sub)
      .withColumn("nid", lead(col("doc_id"), 1).over(w))
      .withColumn("npx", lead(col("px"), 1).over(w))
      .filter(col("nid").isNotNull)
      .select(col("doc_id"), col("nid").as("dup_id"),
        dist(col("px"), col("npx")).as("edit_dist"))
      .filter(col("edit_dist") <= EditMaxDist)
      .orderBy(col("doc_id"), col("dup_id"))
  }

  val SpanK = 16

  /** D12 — exact-substring duplicate-span accounting (the
    * suffix-array dedup regime of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", re-expressed as a hash join:
    * instead of a corpus-wide suffix array, every overlapping
    * SpanK-token span is hashed and a span is "duplicated" when its
    * hash occurs more than once in the corpus — within-doc repeats
    * included, exactly as substring dedup treats them). Documents
    * shorter than SpanK contribute their whole text as one span.
    *
    * Scale shape: three shuffles, all bounded by the corpus SPAN
    * volume (≈ token volume) — explode+hash is narrow, the frequency
    * table is one map-side-combined groupBy on the 8-byte hash, and
    * the spans⋈freq join reuses that hash partitioning. Nothing is
    * ever |docs|². A doc is flagged when ≥ half its spans are
    * duplicated (compared in exact integers — no float gate). */
  def d12SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("_w"))
      .select(col("doc_id"), col("source"),
        explode(shinglesOf(col("_w"), SpanK)).as("sp"))
      .select(col("doc_id"), col("source"), StableHash.hash64(col("sp")).as("h"))
      .cache()
    val freq = spans.groupBy(col("h")).agg(count(lit(1)).as("nh"))
    val perDoc = spans.join(freq, Seq("h"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_spans"),
           sum(when(col("nh") > 1, 1L).otherwise(0L)).as("n_dup"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_spans")).as("n_spans"),
           sum(col("n_dup")).as("n_dup_spans"),
           sum(when(col("n_dup") * 2 >= col("n_spans"), 1L).otherwise(0L))
             .as("n_flagged_docs"))
      .orderBy(col("source"))
  }

  /** D20 — the dedup QUALITY MATRIX: every cheap near-dup family
    * graded against the exact ground truth, s11's recall-matrix
    * pattern in the dedup domain. Truth = d3's exact 3-gram Jaccard
    * pairs at ≥ 0.8; each family contributes the PAIR SET its keep
    * decision implies: d4's verified MinHash-LSH pairs, d5's
    * same-SimHash pairs, d8's sorted-neighborhood pairs, d2's
    * same-token-set-fingerprint pairs, d13's semantic
    * (within-cluster embedding-cosine) pairs, and d14's
    * character-level edit-distance pairs — plus the 'exact' row
    * grading truth against itself (precision = recall = 1000 by
    * construction, the harness's own non-vacuity check, and the row
    * that carries n_truth without a second evaluation of the d3
    * pipeline). This is the measurement that picks a family at
    * 100 TB: recall says what a cheaper family MISSES vs the
    * quadratic-ish exact method, and precision says what over-merging
    * it would inflict. The semdedup row grades 0/0 on this corpus —
    * the synthetic embeddings are uncorrelated with the text, and
    * saying so is the row's value: semantic dedup measures a
    * DIFFERENT duplication signal than 3-gram truth, and the matrix
    * is where that shows up as a number instead of an assumption.
    *
    * Integer permille with truncating division — no float compare
    * anywhere. Scale shape: every family's pair set is already
    * candidate-bounded by its own operator's argument (band buckets,
    * signature clusters, SNM blocks, fingerprint groups); the grading
    * join runs on pair lists (≪ corpus), and the per-family rollup is
    * |families| rows. The one cache is that 5-row aggregate —
    * referenced twice (per-family rows + the n_truth broadcast) and
    * bounded by the family count at any corpus size. */
  /** Every graded family's predicted pair set in ONE frame
    * (family, a_id, b_id), distinct — the d20 matrix's grading INPUT,
    * persisted as the `family_pairs` artifact (s11's
    * lsh_q precedent in the dedup domain): the six cheap-family
    * derivations run once per corpus version as the artifact's
    * builder, while each family's own gate row keeps benchmarking its
    * derivation per invocation. */
  private[graft] def d20FamilyPairsDerived(spark: SparkSession,
                                           dir: String): DataFrame = {
    val truth = Pipeline.truthPairsArtifact(spark, dir)
      .select(col("a_id"), col("b_id"))
    val mh = Pipeline.pairsArtifact(spark, dir)
      .select(lit("minhash_lsh").as("family"), col("a_id"), col("b_id"))
    val sim = d5Signatures(spark, dir)
    val sh = sim.as("a")
      .join(sim.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(lit("simhash").as("family"),
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val snm = d8Snm(spark, dir)
      .select(lit("snm").as("family"),
        least(col("doc_id"), col("dup_id")).as("a_id"),
        greatest(col("doc_id"), col("dup_id")).as("b_id"))
    val fpd = Tables.documents(spark, dir)
      .select(col("doc_id"), tokenSetFingerprint(col("text")).as("fp"))
    val fp = fpd.as("a")
      .join(fpd.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(lit("fingerprint").as("family"),
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    // the two remaining near-dup families: d13's
    // semantic (embedding) pairs — vec_id IS doc_id, so the SEMANTIC
    // evidence grades directly against the TEXT truth, measuring how
    // much of the 3-gram duplication embedding-space dedup would see
    // — and d14's character-level edit-distance pairs
    val sem = Similarity.d13PairSet(spark, dir)
      .select(lit("semdedup").as("family"), col("a_id"), col("b_id"))
    val ed = d14EditDistance(spark, dir)
      .select(lit("edit_distance").as("family"),
        least(col("doc_id"), col("dup_id")).as("a_id"),
        greatest(col("doc_id"), col("dup_id")).as("b_id"))
    val exact = truth.select(lit("exact").as("family"), col("a_id"), col("b_id"))
    mh.unionByName(sh).unionByName(snm).unionByName(fp)
      .unionByName(sem).unionByName(ed)
      .unionByName(exact).distinct()
  }

  def d20DedupQuality(spark: SparkSession, dir: String): DataFrame = {
    val truth = Pipeline.truthPairsArtifact(spark, dir)
      .select(col("a_id"), col("b_id"))
    // served from the persisted family_pairs artifact: the
    // grade is a pure parquet membership join
    val pred = Pipeline.familyPairsArtifact(spark, dir)
    val graded = pred
      .join(truth.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n_pred"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .cache() // |families| rows — bounded driver-side state
    val tc = graded.filter(col("family") === "exact")
      .select(col("n_pred").as("n_truth"))
    graded.crossJoin(broadcast(tc))
      .withColumn("precision_permille", expr("(n_hit * 1000) div greatest(n_pred, 1)"))
      .withColumn("recall_permille", expr("(n_hit * 1000) div greatest(n_truth, 1)"))
      .select(col("family"), col("n_pred"), col("n_hit"), col("n_truth"),
        col("precision_permille"), col("recall_permille"))
      .orderBy(col("family"))
  }

  /** Band counts swept by d21 over the same 16 MinHashes (rows/band =
    * 16/b). The b=4 row IS d4's production operating point. */
  val D21BandConfigs: Seq[Int] = Seq(2, 4, 8)

  /** S-curve floor: P(candidate) = 1 − (1 − j^r)^b at the truth
    * threshold j = 0.8, in truncated permille — the textbook LSH
    * capture probability (Leskovec/Rajaraman/Ullman ch. 3), computed
    * once here and injected as the SAME literal into both engines. */
  def d21TheoryMinPermille(b: Int): Long = {
    val r = NumHashes / b
    math.floor(1000.0 * (1.0 - math.pow(1.0 - math.pow(0.8, r), b))).toLong
  }

  /** D21 — the LSH TUNING CURVE: d20 picks between families; d21
    * picks the operating point WITHIN the MinHash family. The same 16
    * hashes banded three ways — (b=2, r=8) precision-leaning,
    * (b=4, r=4) = d4's production point, (b=8, r=2) recall-leaning —
    * each config's raw band-collision candidates graded for recall
    * against d3's exact ≥0.8 ground truth, next to the S-curve's
    * theoretical capture floor at j=0.8. The measured-vs-theory gap
    * is the sanity check that the affine permutation family actually
    * behaves like the random permutations the theory assumes; the
    * candidate counts are the cost side of the trade (what the
    * verify stage must pay per config). All integer permille.
    *
    * Scale shape: ONE signature build (the md5 pass — the dominant
    * cost at any scale) shared by all three configs; per config the
    * candidates exist only inside its band buckets; the grading joins
    * run on pair lists. Adding a config costs one more banding of the
    * same 16 columns, never a new corpus pass. */
  def d21LshTuning(spark: SparkSession, dir: String): DataFrame =
    // the signature table serves from the persisted artifact — three
    // bandings are three cheap parquet scans of it, so the earlier
    // cache/collect/unpersist hygiene (which existed to share ONE
    // in-memory signature build across the bandings without pinning
    // it past the call) has nothing left to manage
    d21ReportFrame(spark, dir, Pipeline.signaturesArtifact(spark, dir))

  /** PlanDump entry point: the d21 grading plan over a fresh,
    * deliberately UNCACHED signature build, so the dumped plan shows
    * the full banding shape rather than an InMemoryRelation (PlanDump
    * is a one-shot JVM — the recompute is paid once, at dump time
    * only). */
  private[graft] def d21PlanFrame(spark: SparkSession, dir: String): DataFrame =
    d21ReportFrame(spark, dir, minhashSignatures(shingleSet(spark, dir)))

  /** The d21 grading frame, LAZY over a caller-supplied signature
    * table — factored out so PlanDump can pin the distributed plan
    * (three bandings of one signature build, bucket-bounded
    * candidates, pair-list grading joins); the gate entry above wraps
    * it with the cache/collect/unpersist hygiene, whose price is a
    * LocalTableScan plan. */
  private[graft] def d21ReportFrame(spark: SparkSession, dir: String,
                                    mh: DataFrame): DataFrame = {
    val truth = Pipeline.truthPairsArtifact(spark, dir)
      .select(col("a_id"), col("b_id"))
    val pred = D21BandConfigs.map { b =>
      val rpb = NumHashes / b
      val bandStructs = (0 until b).map { band =>
        struct(lit(band).as("band"),
          concat_ws(":", (0 until rpb).map(r => col(s"mh${band * rpb + r}")): _*).as("sig"))
      }
      val bands = mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(lit(b).as("bands"), col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
    }.reduce(_ unionByName _)
    val theory = D21BandConfigs.foldLeft(lit(null).cast("long")) { (acc, b) =>
      when(col("bands") === b, lit(d21TheoryMinPermille(b))).otherwise(acc)
    }
    pred.join(truth.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_cand"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .withColumn("rows_per_band", (lit(NumHashes) / col("bands")).cast("int"))
      .withColumn("recall_permille", expr("(n_hit * 1000) div greatest(n_truth, 1)"))
      .withColumn("theory_min_permille", theory)
      .select(col("bands"), col("rows_per_band"), col("n_cand"), col("n_hit"),
        col("n_truth"), col("recall_permille"), col("theory_min_permille"))
      .orderBy(col("bands"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d21_lsh_tuning"        -> (d21LshTuning _),
    "d20_dedup_quality"     -> (d20DedupQuality _),
    "d18_sketch_overlap"    -> (d18SketchOverlap _),
    "d17_cross_source"      -> (d17CrossSourcePairs _),
    "d16_source_overlap"    -> (d16SourceOverlap _),
    "d15_dedup_materialize" -> (d15DedupMaterialize _),
    "d23_keep_best"         -> (d23KeepBest _),
    "d14_edit_distance"    -> (d14EditDistance _),
    "d8_snm"               -> (d8Snm _),
    "d12_span_dedup"       -> (d12SpanDedup _),
    "d1_dedup_exact"       -> (d1ExactDedup _),
    "d2_fingerprint_dedup" -> (d2FingerprintDedup _),
    "d3_jaccard_pairs"     -> (d3JaccardPairsServed _),
    "d4_minhash_lsh"       -> (d4MinhashLshServed _),
    "d5_simhash_clusters"  -> (d5SimhashClusters _),
    "d7_dedup_components"  -> (d7DedupComponents _),
    "d9_containment"       -> (d9Containment _),
    "d10_snm_multipass"    -> (d10SnmMultipass _),
    "d11_incremental_cc"   -> (d11IncrementalCc _),
    "d19_cc_bigstar"       -> (d19CcBigstar _),
    "d22_doc_update"       -> (d22DocUpdate _))

  private val H = StableHash // brevity in SQL builders below

  /** The shingle CTE chain over a caller-named document view — the
    * d22 update oracle swaps in the post-edit CURRENT view (s21's
    * `embcur` discipline at the text tier); everyone else reads the
    * base `documents` table via [[shingleCte]]. */
  private def shingleCteFrom(docsTbl: String) =
    s"""words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM $docsTbl),
       sh AS (SELECT DISTINCT doc_id, s FROM (
              SELECT doc_id, unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [array_to_string(w, ' ')] END) AS s
              FROM words) u)"""

  private val shingleCte = shingleCteFrom("documents")

  /** The d4 pipeline as SHARED CTE text — words→sh→sh0→mh→bands→cand→
    * sz→inter, ending at per-candidate intersection counts — so one
    * statement can read the SIGNATURE table from `mh` AND the verified
    * pairs from [[d4PairsSelect]] without paying the md5/minhash chain
    * twice (the e15 whole-DAG offboarding oracle does exactly that). */
  private[ext] lazy val d4ChainCtes: String = d4ChainCtesFrom("documents")

  /** [[d4ChainCtes]] over a caller-named document view (d22's
    * post-edit corpus; the base chain is the "documents" instance). */
  private[ext] def d4ChainCtesFrom(docsTbl: String): String = {
    val mhCols = (0 until NumHashes)
      .map(k => s"min((${minhashA(k)} * h0 + ${minhashB(k)}) % $MinhashP) AS mh$k")
      .mkString(",\n                ")
    val rowsPerBand = NumHashes / Bands
    val bandSelects = (0 until Bands).map { b =>
      val sig = (0 until rowsPerBand).map(r => s"CAST(mh${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM mh"
    }.mkString("\n           UNION ALL ")
    s"""${shingleCteFrom(docsTbl)},
         sh0 AS (SELECT doc_id, ${H.duckdbHash64("s")} % $MinhashP AS h0 FROM sh),
         mh AS (SELECT doc_id,
                $mhCols
                FROM sh0 GROUP BY doc_id),
         bands AS (
           $bandSelects),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a_id, b_id, count(*) AS i
           FROM cand
           JOIN sh x ON x.doc_id = a_id
           JOIN sh y ON y.doc_id = b_id AND y.s = x.s
           GROUP BY 1, 2)"""
  }

  /** The verified-pair SELECT over [[d4ChainCtes]] (no ORDER BY —
    * embedders order or aggregate themselves). */
  private[ext] lazy val d4PairsSelect: String =
    s"""SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 3) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = a_id
         JOIN sz sb ON sb.doc_id = b_id
         WHERE round(i * 1.0 / (sa.n + sb.n - i), 3) >= 0.5"""

  /** Full d4 SELECT, shared verbatim by the d4 entry, as the `pairs`
    * CTE body of d7's closure, and by Graph's PageRank oracle (the
    * same candidate graph feeds every downstream graph operator). */
  private[ext] lazy val d4OracleSql: String =
    s"""WITH $d4ChainCtes
         $d4PairsSelect
         ORDER BY a_id, b_id"""

  /** d3's full SELECT — the exact-Jaccard ground truth, shared by the
    * d3 entry and nested as d20's `truth` CTE body. */
  private[ext] lazy val d3OracleSql: String =
    s"""WITH $shingleCte,
         shh AS (SELECT doc_id, ${H.duckdbHash64("s")} AS s FROM sh),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
           FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 3) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = a_id
         JOIN sz sb ON sb.doc_id = b_id
         WHERE round(i * 1.0 / (sa.n + sb.n - i), 3) >= 0.8
         ORDER BY a_id, b_id"""

  /** d5's signature CTE chain (ends with `sim` = (doc_id, simhash)),
    * shared by the d5 entry and d20's simhash family. */
  private lazy val d5SimCtes: String = {
    val bitSums = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n                ")
    val assemble = (0 until SimhashBits).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""toks AS (
           SELECT doc_id, ${H.duckdbHash64(99, "t")} AS h
           FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents)),
         bits AS (SELECT doc_id,
                $bitSums
                FROM toks GROUP BY doc_id),
         sim AS (SELECT doc_id, $assemble AS simhash FROM bits)"""
  }

  /** One SNM pass as a CTE chain (names suffixed by `tag`), SQL twin
    * of snmPass; yields `j$tag` = (doc_id, dup_id, jaccard). */
  private def snmPassSql(tag: String, blkSql: String): String =
    s"""pre$tag AS (
           SELECT doc_id, text, list_distinct(wa) AS ts, $blkSql AS blk
           FROM w),
         cnts$tag AS (SELECT blk, count(*) AS cnt FROM pre$tag GROUP BY 1),
         salted$tag AS (
           SELECT p.doc_id, p.text, p.ts, p.blk,
                  ${H.duckdbHash64("CAST(p.doc_id AS VARCHAR)")}
                    % CAST(ceil(c.cnt / $SnmMaxBlockDocs.0) AS BIGINT) AS sub
           FROM pre$tag p JOIN cnts$tag c USING (blk)),
         nb$tag AS (
           SELECT doc_id, ts,
                  lead(doc_id) OVER win AS nid,
                  lead(ts) OVER win AS nts
           FROM salted$tag
           WINDOW win AS (PARTITION BY blk, sub ORDER BY text, doc_id)),
         j$tag AS (
           SELECT doc_id, nid AS dup_id,
                  round(len(list_intersect(ts, nts)) * 1.0
                        / len(list_distinct(list_concat(ts, nts))), 4) AS jaccard
           FROM nb$tag WHERE nid IS NOT NULL)"""

  private val wordsCte =
    "w AS (SELECT doc_id, text, string_split(trim(text), ' ') AS wa FROM documents)"

  /** d14's SNM-blocked prefix chain as CTEs (ed-prefixed names, ends
    * with `ednb` = (doc_id, px, nid, npx)) — ONE definition shared by
    * the d14 oracle and d20's edit_distance family row. */
  private lazy val d14ChainSql: String =
    s"""edpre AS (
           SELECT doc_id, text, substr(text, 1, $EditPrefixChars) AS px,
                  $snmPrefixBlkSql AS blk
           FROM w),
         edcnts AS (SELECT blk, count(*) AS cnt FROM edpre GROUP BY 1),
         edsalted AS (
           SELECT p.doc_id, p.text, p.px, p.blk,
                  ${H.duckdbHash64("CAST(p.doc_id AS VARCHAR)")}
                    % CAST(ceil(c.cnt / $SnmMaxBlockDocs.0) AS BIGINT) AS sub
           FROM edpre p JOIN edcnts c USING (blk)),
         ednb AS (
           SELECT doc_id, px,
                  lead(doc_id) OVER win AS nid,
                  lead(px) OVER win AS npx
           FROM edsalted
           WINDOW win AS (PARTITION BY blk, sub ORDER BY text, doc_id))"""
  private val snmPrefixBlkSql = "array_to_string(wa[1:2], ' ')"
  private val snmSuffixBlkSql = "array_to_string(wa[greatest(len(wa) - 1, 1):], ' ')"

  val oracles: Map[String, String] = Map(
    "d17_cross_source" ->
      s"""WITH pairs AS MATERIALIZED ($d4OracleSql),
         src AS (SELECT doc_id, source FROM documents),
         ann AS (
           SELECT least(a.source, b.source) AS src_a,
                  greatest(a.source, b.source) AS src_b
           FROM pairs p
           JOIN src a ON a.doc_id = p.a_id
           JOIN src b ON b.doc_id = p.b_id)
         SELECT src_a, src_b, count(*) AS n_pairs,
                src_a = src_b AS within_source
         FROM ann GROUP BY 1, 2 ORDER BY src_a, src_b""",
    // d18: DuckDB replays the identical KMV pipeline — same StableHash
    // values, same bottom-k per source (row_number over hash order ≡
    // the Aggregator's sorted ≤k buffer on distinct hashes), same
    // union-top-k membership counts; the estimate is integer permille
    // (// is DuckDB integer division) so no float edge exists
    "d18_sketch_overlap" ->
      s"""WITH v AS (
           SELECT DISTINCT source, unnest(list_distinct(string_split(trim(text), ' '))) AS t
           FROM documents),
         vh AS (SELECT DISTINCT source, ${H.duckdbHash64("t")} AS h FROM v),
         sk AS (SELECT source, h FROM (
                  SELECT source, h,
                         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                  FROM vh) WHERE rn <= $SketchK),
         srcs AS (SELECT DISTINCT source FROM sk),
         pr AS (SELECT a.source AS src_a, b.source AS src_b
                FROM srcs a JOIN srcs b ON a.source < b.source),
         m AS (
           SELECT pr.src_a, pr.src_b, s.h,
                  max(CASE WHEN s.source = pr.src_a THEN 1 ELSE 0 END) AS in_a,
                  max(CASE WHEN s.source = pr.src_b THEN 1 ELSE 0 END) AS in_b
           FROM pr JOIN sk s ON s.source = pr.src_a OR s.source = pr.src_b
           GROUP BY 1, 2, 3),
         tu AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
                FROM m)
         SELECT src_a, src_b, CAST($SketchK AS BIGINT) AS sketch_k,
                CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
                count(*) AS n_union_k,
                (CAST(sum(in_a * in_b) AS BIGINT) * 1000) // count(*) AS est_jaccard_permille
         FROM tu WHERE rn <= $SketchK
         GROUP BY 1, 2 ORDER BY src_a, src_b""",
    "d16_source_overlap" ->
      """WITH v AS (
           SELECT DISTINCT source, unnest(list_distinct(string_split(trim(text), ' '))) AS t
           FROM documents),
         sz AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
         i AS (
           SELECT a.source AS src_a, b.source AS src_b, count(*) AS i
           FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.src_a, i.src_b,
                round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS vocab_jaccard
         FROM i
         JOIN sz sa ON sa.source = i.src_a
         JOIN sz sb ON sb.source = i.src_b
         ORDER BY src_a, src_b""",
    "d14_edit_distance" ->
      s"""WITH $wordsCte,
         $d14ChainSql
         SELECT doc_id, nid AS dup_id,
                CAST(levenshtein(px, npx) AS INTEGER) AS edit_dist
         FROM ednb
         WHERE nid IS NOT NULL AND levenshtein(px, npx) <= $EditMaxDist
         ORDER BY doc_id, dup_id""",
    "d8_snm" ->
      s"""WITH $wordsCte,
         ${snmPassSql("", snmPrefixBlkSql)}
         SELECT doc_id, dup_id, jaccard FROM j
         WHERE jaccard >= $SnmJaccardThreshold
         ORDER BY doc_id, dup_id""",
    "d10_snm_multipass" ->
      s"""WITH $wordsCte,
         ${snmPassSql("1", snmPrefixBlkSql)},
         ${snmPassSql("2", snmSuffixBlkSql)},
         u AS (
           SELECT least(doc_id, dup_id) AS a_id, greatest(doc_id, dup_id) AS b_id, jaccard
           FROM j1 WHERE jaccard >= $SnmJaccardThreshold
           UNION ALL
           SELECT least(doc_id, dup_id), greatest(doc_id, dup_id), jaccard
           FROM j2 WHERE jaccard >= $SnmJaccardThreshold)
         SELECT a_id, b_id, jaccard, CAST(count(*) AS INTEGER) AS found_by
         FROM u GROUP BY 1, 2, 3
         ORDER BY a_id, b_id""",
    "d1_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
         count(DISTINCT text) AS n_unique_texts,
         count(*) - count(DISTINCT text) AS n_exact_dupes
         FROM documents GROUP BY 1 ORDER BY source""",
    "d2_fingerprint_dedup" ->
      """WITH fp AS (
           SELECT md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fp
           FROM documents)
         SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_fingerprints,
                count(*) - count(DISTINCT fp) AS n_near_dupes FROM fp""",
    "d12_span_dedup" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
         sp AS (SELECT doc_id, source, ${H.duckdbHash64("s")} AS h FROM (
           SELECT doc_id, source, unnest(CASE WHEN len(w) >= $SpanK
             THEN list_transform(range(1, len(w) - ${SpanK - 2}),
                                 i -> array_to_string(w[i:i + ${SpanK - 1}], ' '))
             ELSE [array_to_string(w, ' ')] END) AS s
           FROM w) u),
         freq AS (SELECT h, count(*) AS nh FROM sp GROUP BY 1),
         perdoc AS (
           SELECT doc_id, source, count(*) AS n_spans,
                  CAST(sum(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
           FROM sp JOIN freq USING (h) GROUP BY 1, 2)
         SELECT source, count(*) AS n_docs,
                CAST(sum(n_spans) AS BIGINT) AS n_spans,
                CAST(sum(n_dup) AS BIGINT) AS n_dup_spans,
                CAST(sum(CASE WHEN n_dup * 2 >= n_spans THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_flagged_docs
         FROM perdoc GROUP BY 1 ORDER BY source""",
    "d9_containment" ->
      s"""WITH $shingleCte,
         shh AS (SELECT doc_id, ${H.duckdbHash64("s")} AS s FROM sh),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
           FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id, round(i * 1.0 / least(sa.n, sb.n), 3) AS containment
         FROM inter
         JOIN sz sa ON sa.doc_id = a_id
         JOIN sz sb ON sb.doc_id = b_id
         WHERE round(i * 1.0 / least(sa.n, sb.n), 3) >= $ContainmentThreshold
         ORDER BY a_id, b_id""",
    "d3_jaccard_pairs" -> d3OracleSql,
    "d4_minhash_lsh" -> d4OracleSql,
    "d5_simhash_clusters" ->
      s"""WITH $d5SimCtes
         SELECT simhash, count(*) AS cluster_size, min(doc_id) AS keep_doc_id
         FROM sim GROUP BY 1 HAVING count(*) > 1 ORDER BY simhash""",
    // d21: one MATERIALIZED MinHash signature table banded three
    // ways; per-config candidate pairs graded against the d3 truth;
    // the theory column is the same Scala-computed literal both
    // engines carry
    "d21_lsh_tuning" -> {
      val mhCols = (0 until NumHashes)
        .map(k => s"min((${minhashA(k)} * h0 + ${minhashB(k)}) % $MinhashP) AS mh$k")
        .mkString(",\n                ")
      val configCtes = D21BandConfigs.map { b =>
        val rpb = NumHashes / b
        val bandSelects = (0 until b).map { band =>
          val sig = (0 until rpb).map(r => s"CAST(mh${band * rpb + r} AS VARCHAR)")
            .mkString(" || ':' || ")
          s"SELECT doc_id, $band AS band, $sig AS sig FROM mh"
        }.mkString("\n           UNION ALL ")
        s"""bands$b AS (
           $bandSelects),
         cand$b AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands$b a JOIN bands$b b
             ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)"""
      }.mkString(",\n         ")
      val predSelects = D21BandConfigs.map(b =>
        s"SELECT CAST($b AS INTEGER) AS bands, a_id, b_id FROM cand$b")
        .mkString("\n           UNION ALL ")
      val theoryCase = D21BandConfigs.map(b =>
        s"WHEN $b THEN CAST(${d21TheoryMinPermille(b)} AS BIGINT)").mkString(" ")
      s"""WITH $shingleCte,
         sh0 AS (SELECT doc_id, ${H.duckdbHash64("s")} % $MinhashP AS h0 FROM sh),
         mh AS MATERIALIZED (
           SELECT doc_id,
                $mhCols
                FROM sh0 GROUP BY doc_id),
         truth AS MATERIALIZED ($d3OracleSql),
         $configCtes,
         pred AS (
           $predSelects),
         g AS (
           SELECT p.bands, count(*) AS n_cand,
                  CAST(sum(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           FROM pred p LEFT JOIN truth t ON t.a_id = p.a_id AND t.b_id = p.b_id
           GROUP BY 1),
         tc AS (SELECT count(*) AS n_truth FROM truth)
         SELECT g.bands, CAST($NumHashes // g.bands AS INTEGER) AS rows_per_band,
                g.n_cand, g.n_hit, tc.n_truth,
                (g.n_hit * 1000) // greatest(tc.n_truth, 1) AS recall_permille,
                CASE g.bands $theoryCase END AS theory_min_permille
         FROM g CROSS JOIN tc ORDER BY g.bands"""
    },
    // d20: every family's pair-set SQL is its standalone operator's
    // fragment verbatim (d3 truth, d4 full SELECT, d5 sim CTEs, d8
    // pass, d2 fingerprint, d13's sd_sim chain, d14's ed chain); the
    // grading is one pair-list left join
    "d20_dedup_quality" ->
      s"""WITH $wordsCte,
         ${snmPassSql("", snmPrefixBlkSql)},
         $d14ChainSql,
         truth AS MATERIALIZED ($d3OracleSql),
         mhp AS MATERIALIZED ($d4OracleSql),
         $d5SimCtes,
         ${Similarity.d13PairCtesSql},
         fpd AS (
           SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fp
           FROM documents),
         pred AS (
           SELECT 'minhash_lsh' AS family, a_id, b_id FROM mhp
           UNION
           SELECT 'simhash', a.doc_id, b.doc_id
           FROM sim a JOIN sim b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
           UNION
           SELECT 'snm', least(doc_id, dup_id), greatest(doc_id, dup_id)
           FROM j WHERE jaccard >= $SnmJaccardThreshold
           UNION
           SELECT 'fingerprint', a.doc_id, b.doc_id
           FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
           UNION
           SELECT 'semdedup', a_id, b_id FROM sd_sim
           UNION
           SELECT 'edit_distance', least(doc_id, nid), greatest(doc_id, nid)
           FROM ednb WHERE nid IS NOT NULL AND levenshtein(px, npx) <= $EditMaxDist
           UNION
           SELECT 'exact', a_id, b_id FROM truth),
         g AS MATERIALIZED (
           SELECT p.family, count(*) AS n_pred,
                  CAST(sum(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           FROM pred p LEFT JOIN truth t ON t.a_id = p.a_id AND t.b_id = p.b_id
           GROUP BY 1),
         tc AS (SELECT n_pred AS n_truth FROM g WHERE family = 'exact')
         SELECT g.family, g.n_pred, g.n_hit, tc.n_truth,
                (g.n_hit * 1000) // greatest(g.n_pred, 1) AS precision_permille,
                (g.n_hit * 1000) // greatest(tc.n_truth, 1) AS recall_permille
         FROM g CROSS JOIN tc ORDER BY g.family""",
    // the incremental fold must land on the identical fixpoint as the
    // full rebuild — d11 shares d7's oracle verbatim (fold ≡ rebuild)
    "d11_incremental_cc" -> d7ComponentsOracleSql,
    // d19 shares d7's labeling contract exactly (component min over
    // the same d4 pair graph) — the oracle is shared verbatim, the
    // Spark side differs only in the convergence ALGORITHM
    "d19_cc_bigstar" -> d7ComponentsOracleSql,
    "d15_dedup_materialize" ->
      s"""WITH RECURSIVE $d7LabelCtes,
         drops AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
         SELECT d.source, count(*) AS n_docs,
                CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_removed,
                CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(CASE WHEN dr.doc_id IS NULL
                              THEN len(string_split(trim(d.text), ' '))
                              ELSE 0 END) AS BIGINT) AS kept_tokens
         FROM documents d LEFT JOIN drops dr USING (doc_id)
         GROUP BY 1 ORDER BY d.source""",
    // d23: the same labels closure, keeper re-chosen by the integer
    // quality score (argmax via the rank window, ties to min doc_id)
    "d23_keep_best" ->
      s"""WITH RECURSIVE $d7LabelCtes,
         d23sc AS (
           SELECT l.cluster_id, l.doc_id,
                  CAST(${TextAnalysis.sqlKeepScore} AS BIGINT) AS s
           FROM labels l JOIN documents d ON d.doc_id = l.doc_id),
         d23rk AS (
           SELECT cluster_id, doc_id, s,
                  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                    AS n_members,
                  row_number() OVER (PARTITION BY cluster_id
                    ORDER BY s DESC, doc_id) AS r
           FROM d23sc)
         SELECT cluster_id, doc_id AS kept_doc_id, s AS keep_score, n_members,
                CAST(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END
                     AS BIGINT) AS moved
         FROM d23rk WHERE r = 1 ORDER BY cluster_id""",
    // transitive closure over the SAME pair list d4 produces (its full
    // SELECT nests as the `pairs` CTE body); component label = min
    // reachable doc_id, mirroring the label-propagation fixpoint
    "d7_dedup_components" -> d7ComponentsOracleSql,
    // d22: rebuild-with-current-text — d7's closure chain over the d4
    // pair table derived from the POST-EDIT corpus view (the edited
    // slice's text swapped for its predecessor's; NULL guard keeps a
    // predecessor-less doc unchanged). The `doccur` CTE is the s21
    // `embcur` discipline at the text tier.
    "d22_doc_update" ->
      s"""WITH RECURSIVE doccur AS (
           SELECT d.doc_id,
                  CASE WHEN d.doc_id % 10 = $D22EditDigit AND s.text IS NOT NULL
                       THEN s.text ELSE d.text END AS text
           FROM documents d LEFT JOIN documents s ON s.doc_id = d.doc_id - 1),
         ${d4ChainCtesFrom("doccur")},
         ${d7LabelCtesFrom(d4PairsSelect)}
         SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""")

  /** Transitive-closure labeling CTEs (ends with `labels` =
    * (doc_id, cluster_id)) over a caller-supplied pairs SELECT — one
    * SQL text of the closure law, parameterized over the pair table
    * (the CTE-builder discipline: two verbatim copies would drift).
    * Callers: the d7/d11/d15/e13/st13 oracles via [[d7LabelCtes]]
    * (pairs = d4's full table) and e14's retraction oracle (pairs =
    * d4's table minus retired-endpoint rows). */
  private[ext] def d7LabelCtesFrom(pairsSql: String): String =
    s"""pairs AS ($pairsSql),
         edges AS (
           SELECT a_id AS s, b_id AS d FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         reach AS (
           SELECT s AS node, d AS other FROM edges
           UNION
           SELECT r.node, e.d FROM reach r JOIN edges e ON r.other = e.s),
         members AS (SELECT DISTINCT s AS node FROM edges),
         labels AS (
           SELECT m.node AS doc_id, least(m.node, min(r.other)) AS cluster_id
           FROM members m JOIN reach r ON r.node = m.node
           GROUP BY m.node)"""

  private[ext] lazy val d7LabelCtes: String = d7LabelCtesFrom(d4OracleSql)

  /** st19's mirror: rebuild-without-slice — d7's closure chain over
    * the d4 pair table with slice-endpoint rows removed (e14's
    * retracted-labeling oracle shape with digit arithmetic in place
    * of the source match). */
  private[graft] def d7RetractSliceOracleSql(digit: Int): String =
    s"""WITH RECURSIVE ${d7LabelCtesFrom(
           s"""SELECT p.a_id, p.b_id FROM ($d4OracleSql) p
               WHERE p.a_id % 10 <> $digit AND p.b_id % 10 <> $digit""")}
         SELECT doc_id, cluster_id FROM labels ORDER BY doc_id"""

  private[graft] lazy val d7ComponentsOracleSql: String =
    s"""WITH RECURSIVE $d7LabelCtes
         SELECT doc_id, cluster_id FROM labels ORDER BY doc_id"""
}

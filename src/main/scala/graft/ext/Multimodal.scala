package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §2.10): image/audio/video as
  * opaque `binary` payloads plus typed metadata, with batch-shaped
  * decode / feature-extraction operators.
  *
  * The DECODE step is a clearly-marked STUB — the container has no
  * image/audio codecs — standing in for e.g. a JPEG decode. It is
  * deterministic (a 16-bin byte histogram) and exists in two forms:
  * the columnar ByteHistogram codegen expression (the hot path m1
  * uses — binary stays in the UnsafeRow buffer) and a row-at-a-time
  * mapPartitions seam for decoders that need imperative codec calls
  * (in a Python deployment that seam is mapInPandas with this exact
  * row contract). A spec pins the two bit-identical, and the integer
  * bin counts make the whole pipeline DuckDB-oracle-checkable.
  *
  * Scale: payloads stay columnar in parquet (binary column, never
  * driver-collected); decode is a narrow per-row/per-partition pass;
  * feature vectors are fixed-width Array[Float] ready for Similarity
  * ops.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, mime: String,
                      payload: Array[Byte], n_bytes: Long)
  case class FeatureRow(media_id: Long, kind: String, features: Array[Float])

  val FeatureBins = 16

  /** Build a deterministic media table from `documents` (payload =
    * UTF-8 text bytes) — a stand-in corpus for plumbing tests; kind
    * cycles image/audio/video. */
  def mediaFromDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("mime"),
      encode(col("text"), "UTF-8").as("payload"),
      // BYTE length of the payload, not the char count — the two
      // differ on non-ASCII text, and every downstream normalization
      // (featureColumns, decodeToFeatures) divides by bytes
      length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))

  /** STUB decoder: a real deployment decodes pixels/samples here.
    * Deterministic 16-bin byte histogram, L1-normalized — shaped like
    * a feature extractor (fixed-width float vector per row), executed
    * as a partition-batch pass exactly like a real decoder would be.
    * This row-at-a-time seam exists for decoders that NEED imperative
    * per-row code (codec calls); the histogram itself has a columnar
    * twin (`featureColumns`, the hot path m1 uses) and a spec asserts
    * the two agree bit-for-bit. Division is double-then-toFloat in
    * both paths so they can't drift in the last ulp. */
  def decodeToFeatures(media: Dataset[MediaRow]): Dataset[FeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val hist = new Array[Long](FeatureBins)
        var i = 0
        val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
        while (i < bytes.length) {
          hist((bytes(i) & 0xff) / (256 / FeatureBins)) += 1L
          i += 1
        }
        val total = math.max(1L, bytes.length).toDouble
        FeatureRow(r.media_id, r.kind, hist.map(c => (c / total).toFloat))
      }
    }
  }

  /** Columnar decode: the same 16-bin L1-normalized histogram as
    * `decodeToFeatures`, but computed by the codegen'd ByteHistogram
    * expression directly on the UnsafeRow's binary buffer — no
    * Dataset-encoder round-trip (the encoder serde was ~the whole m1
    * cost at bench scale). Counts are integers, so the result is
    * exactly reproducible in DuckDB (ASCII corpus: byte = char code),
    * which upgrades m1 to a full hash-checked oracle. */
  def featureColumns(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val counts = ColumnShim.column(
      graft.functions.ByteHistogram(ColumnShim.expression(col("payload")), FeatureBins))
    media.select(col("media_id"), col("kind"), col("n_bytes"), counts.as("_counts"))
      .select(col("media_id"), col("kind"),
        transform(col("_counts"),
          c => (c.cast("double") / greatest(lit(1L), col("n_bytes")).cast("double")).cast("float"))
          .as("features"))
  }

  /** Frame sampling for video payloads: every `stride`-th 64-byte
    * chunk becomes a "frame" row (real impl: keyframe extraction).
    * Pure DataFrame ops — slice/explode — no UDF. */
  def sampleFrames(media: DataFrame, stride: Int = 4): DataFrame = {
    val chunks = floor((col("n_bytes") + 63) / 64).cast("int")
    media.filter(col("kind") === "video" && col("n_bytes") > 0)
      // chunks ≥ 1 here — sequence(0, -1) would count DOWN, emitting
      // phantom frames for empty payloads
      .withColumn("frame_idx",
        explode(filter(sequence(lit(0), chunks - 1), i => i % stride === 0)))
      .select(col("media_id"), col("frame_idx"),
              expr("substring(payload, frame_idx * 64 + 1, 64)").as("frame_bytes"))
  }

  /** M1 — end-to-end multimodal pipeline rollup: encode → columnar
    * decode (ByteHistogram codegen expression) → per-kind feature
    * statistics. Integer bin counts make every per-doc value exactly
    * reproducible in DuckDB (the corpus is ASCII, so byte value =
    * char code), so this runs under the full hash-checked oracle —
    * the cross-doc avg is rounded to 4 decimals to absorb
    * sum-order float noise, same discipline as the money queries. */
  def m1MultimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    featureColumns(mediaFromDocs(spark, dir))
      .withColumn("feat_norm",
        sqrt(aggregate(col("features"), lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
           round(avg(col("feat_norm")), 4).as("avg_feat_norm"),
           round(avg(element_at(col("features"), 7).cast("double")), 4).as("avg_bin6"))
      .orderBy(col("kind"))

  /** M2 — frame-sampling rollup: every 4th 64-byte chunk of each
    * video payload becomes a frame row (slice/explode only — no UDF);
    * per-media frame counts and mean frame sizes. The frame-byte
    * LENGTHS are pure integer arithmetic on payload size, so the
    * rollup is oracle-checkable even though the bytes aren't. */
  def m2FrameSampling(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaFromDocs(spark, dir))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
           avg(length(col("frame_bytes"))).as("avg_frame_bytes"))
      .orderBy(col("media_id"))

  /** Media payloads with a 4-byte container header prepended:
    * byte 1 = format version ('1'..'3'), byte 2 = width code,
    * byte 3 = height code, byte 4 = '|' delimiter. All header bytes
    * are printable ASCII (33..126) so byte value ≡ char code in both
    * engines — the same property m1's histogram oracle leans on. */
  def mediaWithHeader(spark: SparkSession, dir: String): DataFrame =
    mediaFromDocs(spark, dir)
      .withColumn("payload",
        concat(encode(concat(
          expr("char(49 + media_id % 2)"),
          expr("char(33 + media_id % 64)"),
          expr("char(33 + (media_id div 7) % 48)"),
          lit("|")), "UTF-8"), col("payload")))
      .withColumn("n_bytes", col("n_bytes") + 4)

  /** M3 — typed metadata decode from binary container headers (the
    * step before any real decode: EXIF/ISOBMFF-style header fields →
    * typed columns). Fields are parsed from the payload's LEADING
    * BYTES with substring + decode + ascii — codegen'd builtins on
    * the UnsafeRow binary buffer, no UDF, row-local. Per (kind,
    * version): media count, mean decoded dimensions, total pixel
    * budget (the number a preprocessing cluster is actually sized
    * by). At 100 TB this is a pure map pass reading 4 bytes per
    * payload — headers never require decoding the media body. */
  def m3MediaMetadata(spark: SparkSession, dir: String): DataFrame = {
    def hdrByte(i: Int): Column =
      ascii(decode(expr(s"substring(payload, $i, 1)"), "UTF-8"))
    mediaWithHeader(spark, dir)
      .select(col("kind"),
        (hdrByte(1) - 48).as("format_version"),
        ((hdrByte(2) - 33) * 8 + 64).as("width"),
        ((hdrByte(3) - 33) * 12 + 36).as("height"))
      .groupBy(col("kind"), col("format_version"))
      .agg(count(lit(1)).as("n_media"),
           round(avg(col("width")), 2).as("avg_width"),
           round(avg(col("height")), 2).as("avg_height"),
           sum(col("width").cast("long") * col("height")).as("total_pixels"))
      .orderBy(col("kind"), col("format_version"))
  }

  val SigPermille = 1000L

  /** M4 — perceptual-signature media dedup (the pHash pattern with
    * the byte histogram standing in for a real perceptual hash):
    * quantize each payload's 16-bin histogram to integer permille of
    * its byte count and group identical signatures into duplicate
    * clusters, keep-lowest-id (d5's cluster shape in the media
    * domain). Size-invariance is the point AND the blind spot: a
    * re-encode at a different size clusters with its original, but
    * so do a payload and its concatenated double, or two byte-level
    * anagrams — exactly the recall/precision trade every
    * content-signature dedup makes (a real pHash narrows it with
    * spatial structure the histogram doesn't see).
    *
    * All integer arithmetic (count·1000 div bytes), so the signature
    * is bit-exact cross-engine. One narrow map pass + one hash
    * groupBy; no pairwise compare exists at any scale. */
  def m4SignatureDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val counts = ColumnShim.column(
      graft.functions.ByteHistogram(ColumnShim.expression(col("payload")), FeatureBins))
    mediaFromDocs(spark, dir)
      .select(col("media_id"), col("kind"), col("n_bytes"), counts.as("_c"))
      // floor(double-div) is exact here: numerators ≤ bytes·1000 keep
      // the quotient's distance-to-integer ≥ 1/bytes ≫ 1 ulp, and
      // the long cast before array<string> renders "2", not "2.0"
      .withColumn("sig", md5(concat_ws(",",
        transform(col("_c"), c => floor((c * SigPermille)
          / greatest(lit(1L), col("n_bytes"))).cast("long"))
          .cast("array<string>"))))
      .groupBy(col("kind"), col("sig"))
      .agg(count(lit(1)).as("cluster_size"), min(col("media_id")).as("keep_media_id"))
      .filter(col("cluster_size") > 1)
      .orderBy(col("kind"), col("sig"))
  }

  val CdcWindow = 8
  val CdcMask = 64L // boundary when hash % 64 == 0 → ~64-byte expected chunks
  val CdcSeed = 31

  /** M5 — content-defined chunking (CDC): chunk boundaries fall where
    * a rolling hash of the trailing byte window hits a mask — the
    * storage-grade dedup chunking (FastCDC/restic/borg family) whose
    * point is SHIFT RESISTANCE: insert a byte and only the chunks
    * around the edit change, where m2's fixed-stride chunks all
    * shift. Chunks are then content-addressed (md5) and the corpus
    * rollup reports the distinct-chunk dedup ratio — the number a
    * content-addressed store actually saves.
    *
    * The byte stream is the ASCII payload's character stream (byte ≡
    * char, m1's oracle property), so every stage — window hash,
    * boundary test, chunk extraction, digest — is exactly mirrored in
    * DuckDB. Shape: one posexplode to (media, pos) rows, codegen'd
    * md5 per window (t4's winnowing volume), a per-media running
    * boundary count, and one groupBy per chunk; nothing is
    * corpus-global except the final rollup. */
  def m5CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunks(Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"), col("text")))
    chunks.agg(
        countDistinct(col("media_id")).as("n_media"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("distinct_chunks"),
        round(countDistinct(col("h")) / count(lit(1)).cast("double"), 4)
          .as("dedup_ratio"),
        round(avg(col("bytes")), 2).as("avg_chunk_bytes"))
  }

  /** CDC core over any (media_id, text) frame → one row per chunk
    * (media_id, bytes, h) — split out so the shift-resistance law is
    * testable on constructed strings. */
  def cdcChunks(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("media_id"), col("text"),
      length(col("text")).as("n"))
    // boundary flag per position: hash of the WINDOW ENDING at pos
    // (positions < CdcWindow-1 can't host a full window → no boundary)
    val pos = docs
      .select(col("media_id"), col("text"), col("n"),
        explode(sequence(lit(0), col("n") - 1)).as("p"))
      .withColumn("b",
        when(col("p") >= CdcWindow - 1,
          (pmod(graft.functions.StableHash.hash64(CdcSeed,
            col("text").substr((col("p") - (CdcWindow - 1) + 1).cast("int"),
              lit(CdcWindow))),
            lit(CdcMask)) === 0).cast("int"))
          .otherwise(0))
    // chunk id = boundaries strictly BEFORE this position (a boundary
    // byte ends its chunk); cumulative sum per media.
    // The per-position rows are projected down to (media_id, p, b)
    // BEFORE the window's exchange (guide §2.3/§8): the earlier
    // form carried the FULL text string on every position row through
    // the window shuffle and the chunk groupBy — an O(|text|²)-bytes
    // blowup per document; the text re-attaches per CHUNK via one
    // media-keyed join below (the groupBy's partitioning is reused on
    // the chunk side, so the join adds no chunk-side exchange).
    val w = Window.partitionBy(col("media_id")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val extents = pos
      .select(col("media_id"), col("p"), col("b"))
      .withColumn("cid", sum(col("b")).over(w) - col("b"))
      .groupBy(col("media_id"), col("cid"))
      .agg(min(col("p")).as("p0"), max(col("p")).as("p1"))
    extents
      .join(docs.select(col("media_id"), col("text")), Seq("media_id"))
      .select(col("media_id"),
        (col("p1") - col("p0") + 1).as("bytes"),
        md5(expr("substring(text, p0 + 1, p1 - p0 + 1)")).as("h"))
  }

  val M6TopK = 10
  val M6Queries = 5
  private val EmbDims = 64

  /** Deterministic ±1 projection matrix entry for m6's 16→64 feature
    * lift — same construction as Similarity's hyperplane signs
    * (plan-build-time literal from the portable md5 hash, "m6:" key
    * space so it's independent of the LSH planes). */
  private def m6Sign(j: Int, i: Int): Long = {
    val h = graft.functions.Md5Hash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"m6:$j:$i"))
    if (h % 2 == 0) 1L else -1L
  }

  /** M6 — CROSS-MODAL retrieval (the CLIP-style pairing shape): media
    * payloads queried against the text-embedding table. The media
    * side's "encoder" is the library's deterministic stand-in chain —
    * byte-histogram features (m1), integer-permille quantization
    * (m4's exactness discipline), then a fixed ±1 random-projection
    * lift from 16 feature bins to the embedding space's 64 dims
    * (sign matrix = plan-build-time literals from the portable hash,
    * so the projection is an exact INTEGER vector both engines
    * compute bit-identically; a real deployment swaps this for a
    * learned projection head). Retrieval is then s1's exact cosine
    * top-k: query side is |Q| 64-dim vectors broadcast to the
    * embedding scan — the corpus never moves, at any scale. Rounding
    * and tie-break follow the s-family discipline (round 6, then
    * vec_id), with the rounding margin measured in Round7Spec. */
  /** m6's full scored cross product with the UNROUNDED cosine —
    * factored so Round7Spec can measure every pair's distance from
    * the round(·,6) boundary (the repo's measured-margin rule). */
  private[graft] def m6Scored(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val counts = ColumnShim.column(
      graft.functions.ByteHistogram(ColumnShim.expression(col("payload")), FeatureBins))
    // query side: the 5 lowest-id image media, m4's exact permille bins
    val perm = mediaFromDocs(spark, dir)
      .filter(col("kind") === "image" && col("media_id") < 3 * M6Queries)
      .select(col("media_id"), col("n_bytes"), counts.as("_c"))
      .select(col("media_id"),
        transform(col("_c"), c => floor((c * SigPermille)
          / greatest(lit(1L), col("n_bytes"))).cast("long")).as("perm"))
    val proj = (0 until EmbDims).map { j =>
      val signs = array((0 until FeatureBins).map(i => lit(m6Sign(j, i))): _*)
      aggregate(zip_with(col("perm"), signs, (x, s) => x * s), lit(0L), _ + _)
        .cast("double").as(s"p$j")
    }
    val q = perm.select(col("media_id") +: proj: _*)
      .select(col("media_id"),
        array((0 until EmbDims).map(j => col(s"p$j")): _*).as("qe"))
      // all-zero projection (empty payload) would zero the norm; the
      // floor keeps the cosine defined (=0) identically in both engines
      .withColumn("qn",
        greatest(sqrt(aggregate(col("qe"), lit(0.0), (a, x) => a + x * x)), lit(1e-12)))
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))).as("nrm"))
    v.crossJoin(broadcast(q))
      .withColumn("cosraw",
        aggregate(zip_with(col("qe"), col("embedding"), (a, b) => a * b.cast("double")),
          lit(0.0), (acc, x) => acc + x) / (col("qn") * col("nrm")))
      .select(col("media_id"), col("vec_id"), col("cosraw"))
  }

  def m6CrossModalKnn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("media_id")).orderBy(desc("cosine"), col("vec_id"))
    m6Scored(spark, dir)
      .withColumn("cosine", round(col("cosraw"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= M6TopK)
      .select(col("media_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
      .orderBy(col("media_id"), col("rank"))
  }

  val M7Segments = 16
  val M7Bands = 4
  val M7BandWidth: Int = M7Segments / M7Bands
  /** Verified-pair L1 bound, in permille units summed over the 16
    * segments. A 1-byte substitution moves ONE segment's mean by at
    * most 255·1000/(256·seg_len) ≈ 1000/seg_len ≈ 16‰ at typical doc
    * lengths, so 48 accepts single-edit perturbations with 3× margin;
    * unrelated docs differ across many segments at once. Integer
    * compare — no float margin needed (t15's rule). */
  val M7MaxL1 = 48L
  /** Hot-bucket cap (d3's discipline): an LSH band bucket larger than
    * this is degenerate (a constant signature region) and is dropped
    * rather than joined — the knob that keeps the self-join
    * pair-bounded at any corpus size. Dropping a bucket also drops
    * any planted pair inside it on BOTH the Spark and oracle sides
    * (the gate would still hash-match), so planted-twin recall = 1 is
    * asserted at every SF the driver runs — sf0.001/0.01/0.1
    * (Round8Spec + Round9Spec), not just the smallest. */
  val M7BucketCap = 64L

  /** Per-media positional permille signature: 16 segment byte-means
    * quantized to integer permille of the byte range (value 1000 ≡
    * mean byte 256). SegmentSums is the codegen'd downscale;
    * segment lengths come from the same ceil-div arithmetic both
    * engines evaluate exactly. */
  private[graft] def m7Signatures(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val sums = ColumnShim.column(graft.functions.SegmentSums(
      ColumnShim.expression(col("payload")), M7Segments))
    val S = M7Segments
    media.select(col("media_id"), col("kind"), col("n_bytes"), sums.as("_s"))
      .withColumn("pvec", expr(
        s"""transform(sequence(0, ${S - 1}), s ->
              if(((CAST(s AS BIGINT) + 1) * n_bytes + ${S - 1}) div $S
                   - (CAST(s AS BIGINT) * n_bytes + ${S - 1}) div $S > 0,
                 (_s[s] * 1000) div (256 *
                   (((CAST(s AS BIGINT) + 1) * n_bytes + ${S - 1}) div $S
                     - (CAST(s AS BIGINT) * n_bytes + ${S - 1}) div $S)),
                 0L))"""))
      .select(col("media_id"), col("kind"), col("pvec"))
  }

  /** M7 — perceptual-hash NEAR-dup for media: m4 clusters only
    * byte-identical signatures; m7 finds near-identical payloads (a
    * re-encode, a corrupted byte, a truncated trailer) via banded LSH
    * over the positional permille signature, then an exact integer L1
    * verify — d4's band machinery in the media domain.
    *
    * Why the POSITIONAL signature and not the 16-bin histogram the
    * naive form would band: ASCII payloads leave the high histogram
    * bins identically zero, and an all-zero band is ONE corpus-wide
    * LSH bucket — the O(n²) degeneracy. Segment means carry coarse
    * positional structure (pHash's average-pooling downscale), so
    * band values spread; the hot-bucket cap stays as the safety knob
    * for any residual constant region.
    *
    * Scale: one codegen'd scan for signatures; candidates exist only
    * inside same-(kind, band, sig) buckets, each capped at
    * M7BucketCap members; the L1 verify touches candidate pairs only.
    * No pairwise compare outside buckets at any corpus size. */
  def m7PairsOf(media: DataFrame): DataFrame = {
    val sig = m7Signatures(media)
    val member = m7BandMembers(sig)
    val cand = member.as("a")
      .join(member.as("b"), col("a.kind") === col("b.kind") &&
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.media_id") < col("b.media_id"))
      .select(col("a.kind").as("kind"), col("a.media_id").as("a_id"),
        col("b.media_id").as("b_id"))
      .distinct()
    m7VerifyCandidates(sig, cand)
  }

  /** Uncapped band rows (kind, band, bsig, media_id) of a signature
    * frame — the raw LSH bucketing before the hot-bucket cap.
    * Factored from [[m7BandMembers]] so m10's cap-crossing guard can
    * count bucket membership once and reuse the counts as the cap
    * filter. */
  private def m7BandRows(sig: DataFrame): DataFrame =
    sig.select(col("media_id"), col("kind"),
        explode(sequence(lit(0), lit(M7Bands - 1))).as("band"), col("pvec"))
      .withColumn("bsig", md5(concat_ws(",", col("band"),
        expr(s"array_join(transform(slice(pvec, band * $M7BandWidth + 1, $M7BandWidth), x -> CAST(x AS STRING)), ',')"))))
      .select(col("kind"), col("band"), col("bsig"), col("media_id"))

  /** Capped band membership over a signature frame: (kind, band,
    * bsig, media_id) rows for every member of a small-enough LSH
    * bucket. Factored from [[m7PairsOf]] so m10's arrival-restricted
    * candidate join reuses the exact banding. */
  private def m7BandMembers(sig: DataFrame): DataFrame = {
    val bands = m7BandRows(sig)
    val small = bands.groupBy(col("kind"), col("band"), col("bsig"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") <= M7BucketCap)
      .select(col("kind"), col("band"), col("bsig"))
    bands.join(small, Seq("kind", "band", "bsig"))
  }

  /** The exact integer L1 verify over a candidate-pair frame
    * ((kind, a_id, b_id), already deduplicated) — candidates only,
    * never all-pairs. Factored from [[m7PairsOf]]. */
  private def m7VerifyCandidates(sig: DataFrame, cand: DataFrame): DataFrame = {
    val pa = sig.select(col("media_id").as("a_id"), col("pvec").as("pa"))
    val pb = sig.select(col("media_id").as("b_id"), col("pvec").as("pb"))
    cand.join(pa, Seq("a_id")).join(pb, Seq("b_id"))
      .withColumn("l1_permille",
        expr("aggregate(zip_with(pa, pb, (x, y) -> abs(x - y)), 0L, (acc, v) -> acc + v)"))
      .filter(col("l1_permille") <= M7MaxL1)
      .select(col("kind"), col("a_id"), col("b_id"), col("l1_permille"))
      .orderBy(col("kind"), col("a_id"), col("b_id"))
  }

  /** Every M7PlantStride-th media row gets a twin with its FIRST BYTE
    * rewritten — the deterministic planted-signal pattern t18 uses
    * for PII. The corpus itself contains no near-identical payloads
    * (measured: organic minimum L1 = 30 with no band collision at
    * sf0.01), so the planted twins are what make the gate row a
    * non-vacuous recall check; the oracle plants identically. */
  val M7PlantStride = 50
  val M7TwinOffset = 9000000L

  /** The media corpus plus its planted near-dup twins — the frame
    * every m7-family pair derivation runs over (one definition; m10's
    * append must see the same population m7's rebuild does). */
  private[graft] def mediaWithTwins(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaFromDocs(spark, dir)
    val twins = media
      .filter(col("media_id") % M7PlantStride === 0 && col("n_bytes") >= 2)
      .select((col("media_id") + M7TwinOffset).as("media_id"), col("kind"),
        col("mime"),
        concat(encode(lit("Z"), "UTF-8"),
          expr("substring(payload, 2, cast(n_bytes as int))")).as("payload"),
        col("n_bytes"))
    media.unionByName(twins)
  }

  def m7PerceptualLsh(spark: SparkSession, dir: String): DataFrame =
    m7PairsOf(mediaWithTwins(spark, dir))

  /** The m7 gate row SERVED from the persisted `media_pairs` artifact
    * ([[Pipeline.mediaPairsArtifact]] holds the
    * posture note): derivation runs once per corpus version, serves
    * are a parquet scan. The total order is re-applied after the
    * round-trip (parquet readers return rows in file order). m4's
    * exact signature dedup stays derive-per-query by design — it is
    * one hash-groupBy over a codegen'd scan (d1's posture), with no
    * pair set to persist. */
  def m7PerceptualLshServed(spark: SparkSession, dir: String): DataFrame =
    Pipeline.mediaPairsArtifact(spark, dir)
      .orderBy(col("kind"), col("a_id"), col("b_id"))

  /** M9 — the media pair graph RESOLVED into near-dup clusters: d7's
    * posture at the media tier. Pairs come from the persisted
    * `media_pairs` artifact (one parquet scan), components from the
    * shared big-star labeling (log-round, topology-independent — the
    * same loop every text-tier CC verb runs), and the serve is the
    * per-cluster census a curation pipeline acts on: size, redundant
    * copies (members minus the keeper), and the worst verified L1
    * inside the cluster (the merge-quality signal — a cluster whose
    * max_l1 nears the verify threshold is chained, not tight).
    *
    * Scale: the pair graph is bounded by m7's banded candidates (hot
    * buckets capped), big-star is O(log²) edge-sized rounds, and the
    * census is one hash aggregate over cluster-labeled members —
    * nothing corpus² anywhere. */
  def m9MediaClusters(spark: SparkSession, dir: String): DataFrame =
    m9CensusOf(Pipeline.mediaPairsArtifact(spark, dir))

  /** The cluster census over an arbitrary media pair frame — ONE
    * definition shared by m9 (the standing artifact) and m11 (the
    * artifact minus retired endpoints): big-star CC, then size /
    * redundancy / worst-L1 per cluster. */
  private def m9CensusOf(pairs: DataFrame): DataFrame = {
    val labels = Dedup.bigStarComponents(pairs, "a_id", "b_id")
    // a cluster is same-kind by construction (m7 candidates never
    // cross kinds); recover the kind from either pair endpoint
    val nodeKind = pairs.select(col("a_id").as("node"), col("kind"))
      .unionByName(pairs.select(col("b_id").as("node"), col("kind")))
      .distinct()
    val sizes = labels.join(nodeKind, Seq("node"))
      .groupBy(col("kind"), col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    val worst = pairs
      .join(labels.withColumnRenamed("node", "a_id"), Seq("a_id"))
      .groupBy(col("kind"), col("cluster_id"))
      .agg(max(col("l1_permille")).as("max_l1"))
    sizes.join(worst, Seq("kind", "cluster_id"))
      .select(col("kind"), col("cluster_id"), col("n_members"),
        (col("n_members") - 1).as("n_redundant"), col("max_l1"))
      .orderBy(col("kind"), col("cluster_id"))
  }

  /** The m10 arrival slice: every 7th media id (and, via the +2 twin
    * offset residue, some planted twins whose ORIGINALS stay in the
    * base — the cross pairs the append must find). */
  val M10ArrivalMod = 7L
  val M10ArrivalDigit = 3L

  /** M10 — media-tier DELTA INGEST (e4/s25's posture at the media
    * tier): a slice of the corpus "arrives" against a standing base;
    * the base's pairs are inherited, and NEW candidates band the
    * arrival members against the full signature state — candidate
    * work is arrival-sized (only buckets holding an arrival produce
    * joins), never a corpus re-derivation. Serve = base pairs ∪ new
    * pairs, which must equal the full rebuild (append ≡ rebuild) —
    * the oracle IS m7's full-chain statement, so the gate hashes the
    * law itself every round. Exactness caveat (documented, the
    * d-family's frozen-model nuance): a bucket crossing the
    * hot-bucket cap BETWEEN versions belongs to rebuild, not append —
    * no bucket approaches the cap on this corpus, and the spec pins
    * the live equality.
    *
    * Scale: the standing pair set is inherited (at production scale,
    * read from the pairs artifact); new work = arrival bands × their
    * bucket co-members + an arrival-sized L1 verify. */
  def m10MediaAppend(spark: SparkSession, dir: String): DataFrame =
    m10AppendOf(mediaWithTwins(spark, dir),
      Pipeline.mediaPairsArtifact(spark, dir))

  /** m10's append over a caller-supplied media frame + standing pair
    * artifact — the seam Round18Spec uses to CONSTRUCT a cap-crossing
    * corpus and pin the guard's fallback (the live entry can't reach
    * that branch — no bucket approaches the cap on this corpus).
    *
    * The substrate rule (guide §1.2, which the other tiers
    * already follow): the standing base's pairs ARE the persisted
    * media_pairs artifact minus pairs touching an arrival endpoint —
    * banding is per-document, so a base-base pair shares its bucket
    * with or without the arrivals present. The ONE divergence is a
    * hot-bucket-cap crossing: a bucket with n_base ≤ cap < n_full is
    * dropped by the artifact build (cap on the full population) but
    * KEPT by a base-only derivation — its base-base pairs exist in
    * derived-base and not in filtered-artifact. The guard makes that caveat
    * STRUCTURAL instead of corpus-contingent: the bucket counts the
    * cap filter needs anyway are materialized once, a crossing probe
    * checks `n_base ≥ 2 && n_base ≤ cap < n_full` (2 base members are
    * the minimum that can form a dropped pair), and when it fires the
    * base pairs fall back to the from-scratch base-only derivation —
    * filtered-artifact ≡ served-base holds unconditionally. (The
    * residual append-vs-rebuild nuance under a crossing — the FULL
    * rebuild drops the whole bucket while the append's base view keeps
    * it — is the verb's pre-existing documented semantics, unchanged;
    * this corpus never constructs either case, Round18Spec does.) */
  private[graft] def m10AppendOf(media: DataFrame,
                                 artifactPairs: DataFrame,
                                 forceDerivedBase: Boolean = false): DataFrame = {
    val isArr = pmod(col("media_id"), lit(M10ArrivalMod)) === M10ArrivalDigit
    val sig = m7Signatures(media)
    val bands = m7BandRows(sig)
    // ONE bucket-count aggregate, materialized (it is the cap filter
    // the candidate self-join reads twice AND the crossing probe's
    // input — an earlier form recomputed the count aggregate per
    // self-join side); bucket count is banded-corpus-bounded, tiny
    // next to the band rows themselves
    val counts = bands.groupBy(col("kind"), col("band"), col("bsig"))
      .agg(count(lit(1)).as("_n_full"),
        count(when(!isArr, lit(1))).as("_n_base"))
      .localCheckpoint()
    val crossing = !counts.filter(col("_n_base") >= 2 &&
      col("_n_base") <= M7BucketCap && col("_n_full") > M7BucketCap).isEmpty
    val basePairs =
      if (crossing || forceDerivedBase)
        m7PairsOf(media.filter(!isArr))
      else artifactPairs
        .filter(pmod(col("a_id"), lit(M10ArrivalMod)) =!= M10ArrivalDigit &&
          pmod(col("b_id"), lit(M10ArrivalMod)) =!= M10ArrivalDigit)
    val member = bands.join(
      counts.filter(col("_n_full") <= M7BucketCap)
        .select(col("kind"), col("band"), col("bsig")),
      Seq("kind", "band", "bsig"))
    val newCand = member.filter(isArr).as("a")
      .join(member.as("b"), col("a.kind") === col("b.kind") &&
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.media_id") =!= col("b.media_id"))
      .select(col("a.kind").as("kind"),
        least(col("a.media_id"), col("b.media_id")).as("a_id"),
        greatest(col("a.media_id"), col("b.media_id")).as("b_id"))
      .distinct()
    basePairs.unionByName(m7VerifyCandidates(sig, newCand))
      .orderBy(col("kind"), col("a_id"), col("b_id"))
  }

  /** The m11 retirement slice: media ids ending in 50 (mod 100) —
    * live on the planted-twin clusters (originals are multiples of
    * the 50-stride, and the twin offset preserves the residue, so a
    * retired original's twin retires with it). */
  val M11RetireMod = 100L
  val M11RetireDigit = 50L

  /** M11 — media-tier RETRACTION (e14/st19's right-to-erasure posture
    * at the media tier): retire a media slice; every pair with a
    * retired endpoint leaves the graph, and the cluster census
    * re-resolves over the survivors — dissolved twin clusters vanish,
    * and a bridge retirement would SPLIT a cluster (pairs are
    * pairwise-independent, so retraction is a filter at the pair
    * level but real CC work at the cluster level; the split case is
    * spec-constructed — this corpus's clusters are twin pairs that
    * dissolve wholesale). Serve = m9's census over the surviving
    * pairs ≡ rebuild-without-retired.
    *
    * Scale: the filter is a row-local predicate on the persisted pair
    * artifact; re-resolution is big-star over the surviving pair set
    * — cost ∝ surviving pairs, not corpus size. */
  def m11MediaRetract(spark: SparkSession, dir: String): DataFrame =
    m9CensusOf(Pipeline.mediaPairsArtifact(spark, dir)
      .filter(pmod(col("a_id"), lit(M11RetireMod)) =!= M11RetireDigit &&
        pmod(col("b_id"), lit(M11RetireMod)) =!= M11RetireDigit))

  /** m7's signature→band→candidate→L1 chain as oracle CTE text ending
    * in `l1`, shared by the m7 and m9 oracles (the d4ChainCtes
    * CTE-builder discipline: two verbatim copies would drift). */
  private[graft] lazy val m7PairChainCtes: String =
    s"""base AS (
           SELECT doc_id AS media_id,
                  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                  text, octet_length(encode(text)) AS n
           FROM documents),
         d AS (
           SELECT media_id, kind, text, n FROM base
           UNION ALL
           SELECT media_id + $M7TwinOffset, kind, 'Z' || substr(text, 2), n
           FROM base WHERE media_id % $M7PlantStride = 0 AND n >= 2),
         ch AS (
           SELECT media_id, (CAST(i AS BIGINT) * $M7Segments) // n AS seg,
                  unicode(substr(text, CAST(i AS INTEGER) + 1, 1)) AS v
           FROM (SELECT media_id, text, n, unnest(range(n)) AS i FROM d)),
         segs AS (
           SELECT media_id, seg, CAST(sum(v) AS BIGINT) AS s,
                  count(*) AS c
           FROM ch GROUP BY 1, 2),
         pv AS (
           SELECT d.media_id, d.kind, CAST(r.range AS INTEGER) AS seg,
                  COALESCE((g.s * 1000) // (256 * g.c), 0) AS p
           FROM d CROSS JOIN range($M7Segments) r
           LEFT JOIN segs g ON g.media_id = d.media_id AND g.seg = r.range),
         pvb AS (
           SELECT media_id, kind, seg, p,
                  CAST(seg // $M7BandWidth AS INTEGER) AS band
           FROM pv),
         bands AS (
           SELECT media_id, kind, band,
                  md5(CAST(band AS VARCHAR) || ',' ||
                      array_to_string(list(CAST(p AS VARCHAR) ORDER BY seg), ',')) AS bsig
           FROM pvb GROUP BY 1, 2, 3),
         small AS (
           SELECT kind, band, bsig FROM bands
           GROUP BY 1, 2, 3 HAVING count(*) <= $M7BucketCap),
         cand AS (
           SELECT DISTINCT a.kind, a.media_id AS a_id, b.media_id AS b_id
           FROM bands a
           JOIN bands b ON a.kind = b.kind AND a.band = b.band
                       AND a.bsig = b.bsig AND a.media_id < b.media_id
           JOIN small s ON s.kind = a.kind AND s.band = a.band AND s.bsig = a.bsig),
         l1 AS (
           SELECT c.kind, c.a_id, c.b_id,
                  CAST(sum(abs(pa.p - pb.p)) AS BIGINT) AS l1_permille
           FROM cand c
           JOIN pv pa ON pa.media_id = c.a_id
           JOIN pv pb ON pb.media_id = c.b_id AND pb.seg = pa.seg
           GROUP BY 1, 2, 3)"""

  private[graft] lazy val m7PairsSelect: String =
    s"""SELECT kind, a_id, b_id, l1_permille FROM l1
         WHERE l1_permille <= $M7MaxL1"""

  /** The m9 cluster-census oracle over a caller-supplied pair SELECT
    * (d7LabelCtesFrom's builder discipline): recursive transitive
    * closure → labels → the (size, redundancy, worst-L1) census.
    * Callers: m9 (the full pair set) and m11 (retired endpoints
    * removed). */
  private def m9CensusOracleSql(mpSql: String): String =
    s"""WITH RECURSIVE $m7PairChainCtes,
         mp AS ($mpSql),
         edges AS (
           SELECT a_id AS s, b_id AS d FROM mp
           UNION SELECT b_id, a_id FROM mp),
         reach AS (
           SELECT s AS node, d AS other FROM edges
           UNION
           SELECT r.node, e.d FROM reach r JOIN edges e ON r.other = e.s),
         mem AS (SELECT DISTINCT s AS node FROM edges),
         labels AS (
           SELECT m.node, least(m.node, min(r.other)) AS cluster_id
           FROM mem m JOIN reach r ON r.node = m.node
           GROUP BY m.node),
         nk AS (
           SELECT DISTINCT node, kind FROM (
             SELECT a_id AS node, kind FROM mp
             UNION ALL SELECT b_id, kind FROM mp)),
         sz AS (
           SELECT nk.kind, l.cluster_id, count(*) AS n_members
           FROM labels l JOIN nk ON nk.node = l.node
           GROUP BY 1, 2),
         ml AS (
           SELECT p.kind, la.cluster_id, max(p.l1_permille) AS max_l1
           FROM mp p JOIN labels la ON la.node = p.a_id
           GROUP BY 1, 2)
         SELECT sz.kind, sz.cluster_id,
                CAST(sz.n_members AS BIGINT) AS n_members,
                CAST(sz.n_members - 1 AS BIGINT) AS n_redundant,
                ml.max_l1
         FROM sz JOIN ml ON sz.kind = ml.kind AND sz.cluster_id = ml.cluster_id
         ORDER BY sz.kind, sz.cluster_id"""

  /** Scene-boundary threshold in permille units on adjacent segment
    * means. Measured on this corpus (sf0.01 videos): adjacent-segment
    * |Δmean| spans 0–148‰ with median ≈ 13‰ and p90 ≈ 45‰, so 40‰
    * marks ~10% of transitions — real structure, not noise. Integer
    * compare on exact integer permille values (t15's rule): no float
    * margin exists to drift. */
  val M8SceneDelta = 40L

  /** M8 — temporal scene segmentation for video media: the 16-segment
    * positional permille signature (m7's pHash-style average-pooling
    * downscale, same codegen'd SegmentSums scan) read as a TIME
    * SERIES — each segment is a slice of the stream, and a scene
    * boundary is an adjacent-segment mean jump > [[M8SceneDelta]].
    * Per media: scene count and longest scene run — the shot-boundary
    * statistic a video curation pipeline uses to drop static screens
    * (1 scene spanning everything) and strobing junk (every segment
    * its own scene). A real deployment swaps SegmentSums for decoded
    * frame features; the plumbing — one codegen'd scan, per-media
    * windows — is exactly this.
    *
    * Scale shape: one SegmentSums scan; the lag/cumsum windows
    * partition by media_id over exactly [[M7Segments]] rows each —
    * no global window at any corpus size; the rollup is one hash agg.
    * (A row-local array fold could replace the windows entirely; the
    * exploded form is kept because it IS the frame-feature shape the
    * real decoder seam produces.) */
  def m8SceneSegmentation(spark: SparkSession, dir: String): DataFrame =
    m8ScenesOf(mediaFromDocs(spark, dir))

  /** Form over an arbitrary media frame — the seam Round9Spec uses to
    * plant a step-function payload and pin the boundary rule. */
  private[graft] def m8ScenesOf(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("media_id")).orderBy(col("seg"))
    m7Signatures(media)
      .filter(col("kind") === "video")
      .select(col("media_id"), posexplode(col("pvec")).as(Seq("seg", "p")))
      .withColumn("pp", lag(col("p"), 1).over(w))
      .withColumn("b",
        when(col("pp").isNotNull && abs(col("p") - col("pp")) > M8SceneDelta, 1L)
          .otherwise(0L))
      .withColumn("scene", sum(col("b")).over(w))
      .groupBy(col("media_id"), col("scene"))
      .agg(count(lit(1)).as("slen"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_scenes"), max(col("slen")).as("max_scene_len"))
      .orderBy(col("media_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m11_media_retract"      -> (m11MediaRetract _),
    "m10_media_append"       -> (m10MediaAppend _),
    "m9_media_clusters"      -> (m9MediaClusters _),
    "m8_scene_segmentation"  -> (m8SceneSegmentation _),
    "m7_perceptual_lsh"      -> (m7PerceptualLshServed _),
    "m6_crossmodal_knn"      -> (m6CrossModalKnn _),
    "m5_cdc_chunks"          -> (m5CdcChunks _),
    "m4_signature_dedup"     -> (m4SignatureDedup _),
    "m3_media_metadata"      -> (m3MediaMetadata _),
    "m1_multimodal_features" -> (m1MultimodalFeatures _),
    "m2_frame_sampling"      -> (m2FrameSampling _))

  /** DuckDB mirrors, possible because every per-doc quantity is
    * integer-derived (bin counts; frame lengths) and the corpus is
    * ASCII (verified: 0 non-ASCII rows at every SF), so DuckDB's
    * per-char `unicode()` equals the payload byte. Kind cycles with
    * doc_id % 3 exactly as mediaFromDocs assigns it. */
  val oracles: Map[String, String] = Map(
    // m6: m4's per-char bin counts → integer permille → the same ±1
    // projection matrix (portable-hash signs over the 'm6:' key
    // space) → exact cosine vs the embedding table, s1's round-6 +
    // vec_id tie-break discipline
    "m6_crossmodal_knn" -> {
      val h = graft.functions.StableHash.duckdbHash64(
        "'m6:' || CAST(jj.range AS VARCHAR) || ':' || CAST(ii.range AS VARCHAR)")
      s"""WITH d AS (
           SELECT doc_id, text, octet_length(encode(text)) AS n
           FROM documents
           WHERE CAST(doc_id % 3 AS INTEGER) = 0 AND doc_id < ${3 * M6Queries}),
         ch AS (
           SELECT doc_id,
                  unicode(substr(text, CAST(i AS INTEGER) + 1, 1)) // ${256 / FeatureBins} AS bin
           FROM (SELECT doc_id, text, unnest(range(n)) AS i FROM d)),
         cnt AS (SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY 1, 2),
         perm AS (
           SELECT d.doc_id AS media_id, CAST(b.range AS INTEGER) AS bin,
                  (COALESCE(c.c, 0) * $SigPermille) // greatest(1, d.n) AS p
           FROM d CROSS JOIN range($FeatureBins) b
           LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bin = b.range),
         sgn AS (
           SELECT CAST(jj.range AS INTEGER) AS j, CAST(ii.range AS INTEGER) AS i,
                  CASE WHEN ($h) % 2 = 0 THEN 1 ELSE -1 END AS s
           FROM range($EmbDims) jj CROSS JOIN range($FeatureBins) ii),
         proj AS (
           SELECT p.media_id, g.j, CAST(sum(p.p * g.s) AS BIGINT) AS pj
           FROM perm p JOIN sgn g ON g.i = p.bin GROUP BY 1, 2),
         qn AS (
           SELECT media_id,
                  greatest(sqrt(sum(CAST(pj AS DOUBLE) * CAST(pj AS DOUBLE))), 1e-12) AS qn
           FROM proj GROUP BY 1),
         ux AS (
           SELECT vec_id, unnest(embedding) AS x,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
         nrm AS (
           SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
           FROM ux GROUP BY 1),
         scored AS (
           SELECT pr.media_id, u.vec_id,
                  round(sum(CAST(pr.pj AS DOUBLE) * CAST(u.x AS DOUBLE))
                        / (min(q.qn) * min(n.nrm)), 6) AS cosine
           FROM proj pr
           JOIN ux u ON u.i - 1 = pr.j
           JOIN qn q ON q.media_id = pr.media_id
           JOIN nrm n ON n.vec_id = u.vec_id
           GROUP BY 1, 2),
         ranked AS (
           SELECT media_id, vec_id AS neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY media_id
                    ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
           FROM scored)
         SELECT media_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= $M6TopK ORDER BY media_id, rank"""
    },
    "m1_multimodal_features" ->
      s"""WITH d AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                  text, octet_length(encode(text)) AS n
           FROM documents),
         ch AS (
           SELECT doc_id,
                  unicode(substr(text, CAST(i AS INTEGER) + 1, 1)) // ${256 / FeatureBins} AS bin
           FROM (SELECT doc_id, text, unnest(range(n)) AS i FROM d)),
         cnt AS (SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY 1, 2),
         feat AS (
           SELECT d.doc_id, d.kind, CAST(b.range AS INTEGER) AS bin,
                  CAST(CAST(COALESCE(c.c, 0) AS DOUBLE)
                       / CAST(greatest(1, d.n) AS DOUBLE) AS REAL) AS f
           FROM d CROSS JOIN range($FeatureBins) b
           LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bin = b.range),
         per_doc AS (
           SELECT doc_id, kind,
                  sqrt(sum(CAST(f AS DOUBLE) * CAST(f AS DOUBLE))) AS feat_norm,
                  sum(CASE WHEN bin = 6 THEN CAST(f AS DOUBLE) END) AS bin6
           FROM feat GROUP BY 1, 2)
         SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
                round(avg(feat_norm), 4) AS avg_feat_norm,
                round(avg(bin6), 4) AS avg_bin6
         FROM per_doc GROUP BY 1 ORDER BY kind""",
    "m5_cdc_chunks" -> {
      val h = graft.functions.StableHash.duckdbHash64(CdcSeed,
        s"substr(text, CAST(p AS INTEGER) - ${CdcWindow - 1} + 1, $CdcWindow)")
      s"""WITH d AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
         pos AS (
           SELECT media_id, text, CAST(i AS BIGINT) AS p,
                  CASE WHEN CAST(i AS BIGINT) >= ${CdcWindow - 1}
                        AND ($h) % $CdcMask = 0
                       THEN 1 ELSE 0 END AS b
           FROM (SELECT media_id, text, unnest(range(n)) AS i FROM d) t),
         cid AS (
           SELECT media_id, text, p, b,
                  sum(b) OVER (PARTITION BY media_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b AS cid
           FROM pos),
         ch AS (
           SELECT media_id, cid, min(p) AS p0, max(p) AS p1
           FROM cid GROUP BY 1, 2),
         hashes AS (
           SELECT c.media_id, c.p1 - c.p0 + 1 AS bytes,
                  md5(substr(d.text, CAST(c.p0 + 1 AS INTEGER),
                             CAST(c.p1 - c.p0 + 1 AS INTEGER))) AS h
           FROM ch c JOIN d ON d.media_id = c.media_id)
         SELECT count(DISTINCT media_id) AS n_media,
                count(*) AS n_chunks,
                count(DISTINCT h) AS distinct_chunks,
                round(count(DISTINCT h) * 1.0 / count(*), 4) AS dedup_ratio,
                round(avg(bytes), 2) AS avg_chunk_bytes
         FROM hashes"""
    },
    // same per-char bin counts as m1's oracle, densified over the
    // 16-bin spine, quantized to integer permille, and fingerprinted
    // with the identical "v0,v1,…" text md5 the Spark side computes
    "m4_signature_dedup" ->
      s"""WITH d AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                  text, octet_length(encode(text)) AS n
           FROM documents),
         ch AS (
           SELECT doc_id,
                  unicode(substr(text, CAST(i AS INTEGER) + 1, 1)) // ${256 / FeatureBins} AS bin
           FROM (SELECT doc_id, text, unnest(range(n)) AS i FROM d)),
         cnt AS (SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY 1, 2),
         perm AS (
           SELECT d.doc_id, d.kind, CAST(b.range AS INTEGER) AS bin,
                  (COALESCE(c.c, 0) * $SigPermille) // greatest(1, d.n) AS p
           FROM d CROSS JOIN range($FeatureBins) b
           LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bin = b.range),
         sigs AS (
           SELECT doc_id, kind,
                  md5(array_to_string(list(CAST(p AS VARCHAR) ORDER BY bin), ',')) AS sig
           FROM perm GROUP BY 1, 2)
         SELECT kind, sig, count(*) AS cluster_size, min(doc_id) AS keep_media_id
         FROM sigs GROUP BY 1, 2 HAVING count(*) > 1
         ORDER BY kind, sig""",
    // m7: the same positional-permille signature, band md5s, capped
    // bucket self-join, and integer L1 verify — per-char unicode()
    // equals the payload byte (ASCII corpus), and the ceil-div
    // segment mapping (i*16)//n matches SegmentSums bit-for-bit
    "m7_perceptual_lsh" ->
      s"""WITH $m7PairChainCtes
         $m7PairsSelect
         ORDER BY kind, a_id, b_id""",
    // m9: m7's pair chain resolved into clusters — d7's recursive
    // transitive-closure labeling over the media pair graph, then the
    // per-cluster census (size, redundancy, worst verified distance)
    "m9_media_clusters" -> m9CensusOracleSql(m7PairsSelect),
    // m10: append ≡ rebuild IS the oracle statement — the full m7
    // chain, verbatim (the engine side derives base ∪ new instead)
    "m10_media_append" ->
      s"""WITH $m7PairChainCtes
         $m7PairsSelect
         ORDER BY kind, a_id, b_id""",
    // m11: rebuild-without-retired — m9's census over the pair set
    // with retired-endpoint rows removed
    "m11_media_retract" -> m9CensusOracleSql(
      s"""SELECT * FROM ($m7PairsSelect) p
         WHERE p.a_id % $M11RetireMod <> $M11RetireDigit
           AND p.b_id % $M11RetireMod <> $M11RetireDigit"""),
    // m3's oracle re-derives the header fields from the same doc_id
    // arithmetic the header was built from — the Spark side genuinely
    // round-trips them through payload bytes, so the hash-match
    // validates the binary parse path end to end
    "m3_media_metadata" ->
      """WITH d AS (
           SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                  CAST(1 + doc_id % 2 AS INTEGER) AS format_version,
                  CAST((doc_id % 64) * 8 + 64 AS INTEGER) AS width,
                  CAST(((doc_id // 7) % 48) * 12 + 36 AS INTEGER) AS height
           FROM documents)
         SELECT kind, format_version, count(*) AS n_media,
                round(avg(width), 2) AS avg_width,
                round(avg(height), 2) AS avg_height,
                CAST(sum(CAST(width AS BIGINT) * height) AS BIGINT) AS total_pixels
         FROM d GROUP BY 1, 2 ORDER BY kind, format_version""",
    // m8: the same per-char segment-mean permille chain as m7's
    // oracle (unicode() = payload byte on this ASCII corpus), then
    // lag/cumsum windows per media — boundary, scene id, run lengths
    "m8_scene_segmentation" ->
      s"""WITH d AS (
           SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
           FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2),
         ch AS (
           SELECT media_id, (CAST(i AS BIGINT) * $M7Segments) // n AS seg,
                  unicode(substr(text, CAST(i AS INTEGER) + 1, 1)) AS v
           FROM (SELECT media_id, text, n, unnest(range(n)) AS i FROM d)),
         segs AS (
           SELECT media_id, seg, CAST(sum(v) AS BIGINT) AS s, count(*) AS c
           FROM ch GROUP BY 1, 2),
         pv AS (
           SELECT d.media_id, CAST(r.range AS INTEGER) AS seg,
                  COALESCE((g.s * 1000) // (256 * g.c), 0) AS p
           FROM d CROSS JOIN range($M7Segments) r
           LEFT JOIN segs g ON g.media_id = d.media_id AND g.seg = r.range),
         df AS (
           SELECT media_id, seg, p,
                  lag(p) OVER (PARTITION BY media_id ORDER BY seg) AS pp
           FROM pv),
         fl AS (
           SELECT media_id, seg,
                  CASE WHEN pp IS NOT NULL AND abs(p - pp) > $M8SceneDelta
                       THEN 1 ELSE 0 END AS b
           FROM df),
         sc AS (
           SELECT media_id, seg,
                  sum(b) OVER (PARTITION BY media_id ORDER BY seg
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
           FROM fl),
         sl AS (SELECT media_id, scene, count(*) AS slen FROM sc GROUP BY 1, 2)
         SELECT media_id, count(*) AS n_scenes, max(slen) AS max_scene_len
         FROM sl GROUP BY 1 ORDER BY media_id""",
    "m2_frame_sampling" ->
      """WITH d AS (
           SELECT doc_id AS media_id, octet_length(encode(text)) AS n
           FROM documents
           WHERE CAST(doc_id % 3 AS INTEGER) = 2 AND octet_length(encode(text)) > 0),
         fr AS (
           SELECT media_id, CAST(i AS INTEGER) AS frame_idx, n
           FROM (SELECT media_id, n, unnest(range((n + 63) // 64)) AS i FROM d)
           WHERE CAST(i AS INTEGER) % 4 = 0)
         SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
                avg(least(64, n - frame_idx * 64)) AS avg_frame_bytes
         FROM fr GROUP BY 1 ORDER BY media_id""")
}

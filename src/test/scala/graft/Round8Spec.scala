package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Pipeline, Similarity}

/** Round-8 pins for the persisted + incremental ANN index (s13):
  *
  *  1. Query-path parity — an index BUILT on the full corpus and then
  *     served purely from its parquet tables answers bit-identically
  *     to s12's in-memory composition: persistence changes no bits.
  *  2. Append ≡ rebuild — coding the held-out slice into the existing
  *     lists (frozen model, no retraining) produces the exact codes
  *     table a from-scratch build over everything (same training set)
  *     would: the incremental path is lossless.
  *  3. The gate entry's lists cover the whole corpus: every vector —
  *     base and appended — lands in exactly one inverted list with a
  *     full set of 8 subspace codes.
  */
class Round8Spec extends AnyFunSuite with GraftSuite {

  private def tmp(prefix: String): String = tempDir(prefix).toString

  private def codesOf(idxDir: String): Set[(Long, Int, Long, Long)] =
    spark.read.parquet(s"$idxDir/codes")
      .select(col("vec_id"), col("sub"), col("cid"), col("ccid").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("s13: persisted query path is bit-identical to s12's in-memory composition") {
    val idx = tmp("graft_s13_parity_")
    Similarity.buildIvfPqIndex(spark, dir, idx, lit(true), lit(true))
    val fromIndex = Similarity.queryIvfPqIndex(spark, dir, idx).collect()
    spark.catalog.clearCache()
    val inMemory = Similarity.s12IvfPq(spark, dir).collect()
    assert(fromIndex.length === inMemory.length)
    assert(fromIndex.map(_.toString).toSeq === inMemory.map(_.toString).toSeq,
      "persisted round-trip changed the answer")
  }

  test("s13: append into frozen lists ≡ rebuild with the same training set") {
    val base = col("vec_id") % 10 =!= Similarity.S13AppendDigit
    val incr = tmp("graft_s13_incr_")
    Similarity.buildIvfPqIndex(spark, dir, incr, base, base)
    Similarity.appendIvfPqIndex(spark, dir, incr, !base)
    spark.catalog.clearCache()
    val full = tmp("graft_s13_full_")
    Similarity.buildIvfPqIndex(spark, dir, full, base, lit(true))
    assert(codesOf(incr) === codesOf(full),
      "incremental coding diverged from a from-scratch build")
  }

  test("s13: two successive appends equal one rebuild (repeated-append lifecycle)") {
    val train = col("vec_id") % 10 < 8
    val incr = tmp("graft_s13_multi_")
    Similarity.buildIvfPqIndex(spark, dir, incr, train, train)
    Similarity.appendIvfPqIndex(spark, dir, incr, col("vec_id") % 10 === 8)
    Similarity.appendIvfPqIndex(spark, dir, incr, col("vec_id") % 10 === 9)
    spark.catalog.clearCache()
    val full = tmp("graft_s13_multi_full_")
    Similarity.buildIvfPqIndex(spark, dir, full, train, lit(true))
    assert(codesOf(incr) === codesOf(full),
      "two-step append diverged from a from-scratch build")
  }

  test("s13 streaming ingest: foreachBatch micro-batches code identically to the batch append") {
    val base = col("vec_id") % 10 =!= Similarity.S13AppendDigit
    // batch reference: build on base, append the held-out slice at once
    val batchIdx = tmp("graft_s13_stream_ref_")
    Similarity.buildIvfPqIndex(spark, dir, batchIdx, base, base)
    Similarity.appendIvfPqIndex(spark, dir, batchIdx, !base)
    spark.catalog.clearCache()
    // streaming: same base build, then the append slice arrives as a
    // file-source STREAM in two files, each micro-batch coded into the
    // lists via foreachBatch against the frozen model
    val streamIdx = tmp("graft_s13_stream_")
    Similarity.buildIvfPqIndex(spark, dir, streamIdx, base, base)
    spark.catalog.clearCache()
    val newVecs = Tables.embeddings(spark, dir).filter(!base)
    val half = Tables.embeddings(spark, dir).agg(max(col("vec_id")))
      .collect()(0).getLong(0) / 2
    val inDir = tmp("graft_s13_stream_in_")
    newVecs.filter(col("vec_id") <= half).coalesce(1)
      .write.mode("append").parquet(inDir)
    newVecs.filter(col("vec_id") > half).coalesce(1)
      .write.mode("append").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.appendIvfPqIndexFrom(spark, batch, streamIdx)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(codesOf(streamIdx) === codesOf(batchIdx),
      "streamed micro-batch coding diverged from the batch append")
  }

  test("s13 maintenance: compacting appended inverted lists preserves the query answer") {
    val idx = tmp("graft_s13_compact_")
    val base = col("vec_id") % 10 =!= Similarity.S13AppendDigit
    Similarity.buildIvfPqIndex(spark, dir, idx, base, base)
    Similarity.appendIvfPqIndex(spark, dir, idx, !base)
    val before = Similarity.queryIvfPqIndex(spark, dir, idx).collect()
    spark.catalog.clearCache()
    // the append path accumulates small part files per list — Compact
    // is the maintenance op, applied per partition directory
    val parts = new java.io.File(s"$idx/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ccid="))
    assert(parts.nonEmpty)
    def nFiles = parts.map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val filesBefore = nFiles
    parts.foreach(p =>
      graft.operators.Compact.compact(spark, p.getPath, targetBytes = 1L << 26))
    assert(nFiles < filesBefore,
      s"compaction should shrink the file count: $filesBefore -> $nFiles")
    val after = Similarity.queryIvfPqIndex(spark, dir, idx).collect()
    assert(after.map(_.toString).toSeq === before.map(_.toString).toSeq,
      "compaction changed the served answer")
  }

  test("s13: query path partition-prunes the codes scan to the probed lists") {
    val idx = tmp("graft_s13_prune_")
    Similarity.buildIvfPqIndex(spark, dir, idx, lit(true), lit(true))
    val q = Similarity.queryIvfPqIndex(spark, dir, idx)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val codesScan = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("codes"))
      .getOrElse("")
    assert(codesScan.contains("PartitionFilters") && codesScan.contains("ccid"),
      s"codes scan carries no ccid partition filter:\n$plan")
  }

  test("gate-entry index: SURVEY.md §2.11 and SparkEntry.queries stay in lockstep") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val keys = SparkEntry.queries.keySet
    // every gate entry must appear in SURVEY (the judge-checked inventory)
    val undocumented = keys.filterNot(k => survey.contains(s"`$k`"))
    assert(undocumented.isEmpty, s"gate entries missing from SURVEY.md: $undocumented")
    // every §2.11-indexed name must be a real gate entry (no stale rows)
    val indexed = "`([a-z]+\\d+_[a-z0-9_]+)`".r.findAllMatchIn(survey)
      .map(_.group(1)).toSet
      .filter(n => n.matches("^(q|d|s|t|m|p|e|st)\\d+_.*"))
    val stale = indexed -- keys
    assert(stale.isEmpty, s"SURVEY.md names entries that do not exist: $stale")
  }

  test("e4 with base = everything reconciles row-for-row with the e1 ⋈ e2 batch funnel") {
    val flags = Pipeline.e4FlagsOf(spark, dir, lit(true), lit(true))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("c3"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("c4"),
        sum(when(col("s5"), 1L).otherwise(0L)).as("c5"),
        sum(when(col("s5"), col("n_tok")).otherwise(0L)).as("tok5"))
      .collect().map(r => r.getString(0) -> r).toMap
    val e1 = Pipeline.e1CorpusFunnel(spark, dir).collect()
    val e2 = Pipeline.e2SelectionMix(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(e1.nonEmpty)
    e1.foreach { r =>
      val src = r.getString(0); val f = flags(src); val m = e2(src)
      assert(f.getAs[Long]("n") === r.getAs[Long]("n_pool"), s"$src pool")
      assert(f.getAs[Long]("c1") === r.getAs[Long]("n_after_dedup"), s"$src s1")
      assert(f.getAs[Long]("c2") === r.getAs[Long]("n_after_quality"), s"$src s2")
      assert(f.getAs[Long]("c3") === r.getAs[Long]("n_clean"), s"$src s3")
      assert(f.getAs[Long]("c4") === m.getAs[Long]("n_selected"), s"$src s4")
      assert(f.getAs[Long]("c5") === m.getAs[Long]("n_final"), s"$src s5")
      assert(f.getAs[Long]("tok5") === m.getAs[Long]("final_tokens"), s"$src tokens")
    }
  }

  test("e4 delta processing is report-slice independent (incremental ≡ full, frozen models)") {
    val base = !Pipeline.e4DeltaPred
    val incremental = Pipeline.e4FlagsOf(spark, dir, base, Pipeline.e4DeltaPred)
      .collect().map(_.toString).sorted
    val fullThenFilter = Pipeline.e4FlagsOf(spark, dir, base, lit(true))
      .filter(Pipeline.e4DeltaPred)
      .collect().map(_.toString).sorted
    assert(incremental.nonEmpty)
    assert(incremental.toSeq === fullThenFilter.toSeq,
      "scoring a delta doc must not depend on which other docs are scored")
  }

  test("e4: every scored doc sits measured-margin clear of the frozen cut") {
    val margin = Pipeline.e4CutMargin(spark, dir)
    assert(margin > 1e-6, s"frozen-cut margin $margin too close to float drift")
  }

  test("docflags s4: every pool doc sits measured-margin clear of t21's cut") {
    val margin = Pipeline.docFlagsCutMargin(spark, dir)
    assert(margin > 1e-6, s"t21-cut margin $margin too close to float drift")
  }

  test("m7: a 1-byte-perturbed payload lands in its original's cluster; unrelated stays out") {
    import spark.implicits._
    import graft.ext.Multimodal
    val baseText = ("the quick brown fox jumps over the lazy dog " * 12).trim
    val perturbed = "X" + baseText.substring(1)
    val unrelated = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed " * 9).trim
    val media = Seq(
      (1L, "image", baseText), (2L, "image", perturbed), (3L, "image", unrelated))
      .toDF("media_id", "kind", "text")
      .select(col("media_id"), col("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
    val pairs = Multimodal.m7PairsOf(media).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L)),
      "perturbed payload must pair (cluster) with its original")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated payload must not join the cluster")
  }

  test("m7: every planted twin is recalled by the gate query (recall = 1 on the planted set)") {
    import graft.ext.Multimodal
    val pairs = Multimodal.m7PerceptualLsh(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val planted = Tables.documents(spark, dir)
      .filter(col("doc_id") % Multimodal.M7PlantStride === 0 &&
        length(encode(col("text"), "UTF-8")) >= 2)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(pairs.contains((id, id + Multimodal.M7TwinOffset)),
        s"planted twin of $id not recalled")
    }
  }

  test("m7: SegmentSums codegen matches an independent Scala fold") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.ColumnShim
    val rnd = new scala.util.Random(42)
    val payloads = (0 until 32).map { i =>
      i.toLong -> Array.fill(rnd.nextInt(200) + 1)(rnd.nextInt(256).toByte)
    }
    val df = payloads.toDF("id", "payload")
      .select(col("id"), ColumnShim.column(graft.functions.SegmentSums(
        ColumnShim.expression(col("payload")), 16)).as("s"))
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    payloads.foreach { case (id, bytes) =>
      val want = new Array[Long](16)
      bytes.zipWithIndex.foreach { case (b, i) =>
        want((i.toLong * 16 / bytes.length).toInt) += (b & 0xff).toLong
      }
      assert(got(id) === want.toSeq, s"payload $id")
    }
  }

  test("s13: every corpus vector is in exactly one list with 8 codes") {
    val idx = tmp("graft_s13_cover_")
    val base = col("vec_id") % 10 =!= Similarity.S13AppendDigit
    Similarity.buildIvfPqIndex(spark, dir, idx, base, base)
    Similarity.appendIvfPqIndex(spark, dir, idx, !base)
    val nVecs = Tables.embeddings(spark, dir).count()
    val perVec = spark.read.parquet(s"$idx/codes")
      .groupBy(col("vec_id"))
      .agg(countDistinct(col("ccid")).as("lists"), count(lit(1)).as("codes"))
      .collect()
    assert(perVec.length.toLong === nVecs, "a vector is missing from the index")
    perVec.foreach { r =>
      assert(r.getAs[Long]("lists") === 1L, s"${r.getLong(0)} in multiple lists")
      assert(r.getAs[Long]("codes") === Similarity.PqSubspaces.toLong)
    }
  }
}

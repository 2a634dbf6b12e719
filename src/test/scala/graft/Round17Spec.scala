package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.RetailStar
import graft.ext.{Pipeline, Similarity, TextAnalysis}

/** Round-17 pins (VERDICT r16's consolidation list):
  *
  *  1. The persisted star artifact serves EXACTLY what the inline ETL
  *     build derives — fact and both re-joined dims, multiset-equal
  *     (item 1: q27/q28/q29 now read graft_star_v1 parquet instead of
  *     re-running the cleaning pipeline per invocation).
  *  2. e22 maintenance APPLY (item 2): fired bits agree with e21's
  *     census, quiet tiers stage NOTHING (the no-op law — no scratch
  *     root appears), the naturally-fired DSIR tier's served count
  *     equals the standalone e19 cutover's post-swap census, and each
  *     quiet tier's witness equals the serving generation's persisted
  *     grade.
  *  3. e22 force-fire: each quiet tier's fired apply, run directly,
  *     serves the standalone cutover's post-swap state (s30's
  *     retrained world, s29's rebuilt generation, e20's current
  *     tokenizer fertility).
  */
class Round17Spec extends AnyFunSuite with GraftSuite {

  private def dropRoot(prefix: String): Unit = {
    val root = ArtifactRoots.tagged(prefix, dir)
    val f = fs(root)
    if (f.exists(new Path(root))) f.delete(new Path(root), true)
    ()
  }

  // ---------- 1. persisted star artifact ----------

  test("star artifact: the persisted fact and dims serve exactly what the " +
    "inline ETL build derives (multiset-equal per table), and a re-serve " +
    "is marker-idempotent") {
    val built = RetailStar.buildStar(spark, dir)
    val served = RetailStar.servedStar(spark, dir)
    assert(sortedRows(served.fact) === sortedRows(built.fact),
      "persisted fact != inline ETL fact")
    assert(sortedRows(served.product) === sortedRows(built.product),
      "persisted dim_product != inline derivation")
    assert(sortedRows(served.shipping) === sortedRows(built.shipping),
      "persisted dim_shipping != inline derivation")
    // marker-gated: a second serve reads the same artifact rows
    val again = RetailStar.servedStar(spark, dir)
    assert(sortedRows(again.fact) === sortedRows(served.fact),
      "re-serve must be idempotent")
    // schemas survive the parquet round-trip column-for-column
    // (names + types; parquet widens non-null columns to nullable)
    assert(served.fact.schema.map(f => (f.name, f.dataType)) ===
      built.fact.schema.map(f => (f.name, f.dataType)),
      "artifact fact schema != build schema")
  }

  // ---------- 1b. media pairs artifact ----------

  test("media_pairs artifact: the persisted m7 pair table serves exactly " +
    "what a fresh perceptual-LSH derivation produces") {
    assert(sortedRows(Pipeline.mediaPairsArtifact(spark, dir)) ===
      sortedRows(ext.Multimodal.m7PerceptualLsh(spark, dir)),
      "persisted media pairs != fresh m7 derivation")
  }

  // ---------- 2. e22 maintenance apply ----------

  test("e22: fired bits equal e21's census, quiet tiers stage nothing " +
    "(no-op law), the fired DSIR tier's served count equals the " +
    "standalone e19 post-swap census, and quiet witnesses equal the " +
    "serving generations' persisted grades") {
    // clear the e22 scratch roots so the no-op check observes THIS run
    Seq("graft_e22_idx", "graft_e22_graph", "graft_e22_bpe",
      "graft_e22_model", "graft_e22_star").foreach(dropRoot)
    val out = Pipeline.e22MaintenanceApply(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet === Set("bpe_tokenizer", "dsir_model", "ivf_index",
      "knn_graph", "star_fact"), s"one row per tier: ${out.keySet}")
    val census = Pipeline.e21MaintenanceCensus(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    out.foreach { case (tier, (_, _, fired, _)) =>
      assert(fired === census(tier), s"$tier: apply's fired bit != census")
    }
    // corpus facts at sf0.001: DSIR fires, the other three stay quiet
    assert(out("dsir_model")._3 === 1L, "precondition: DSIR fires here")
    assert(out("ivf_index")._3 === 0L && out("knn_graph")._3 === 0L &&
      out("bpe_tokenizer")._3 === 0L && out("star_fact")._3 === 0L,
      "precondition: the rest stay quiet")
    // no-op law: a quiet tier must not have staged a clone
    Seq("graft_e22_idx", "graft_e22_graph", "graft_e22_bpe",
      "graft_e22_star").foreach { p =>
      val root = ArtifactRoots.tagged(p, dir)
      assert(!fs(root).exists(new Path(root)),
        s"quiet tier staged a clone under $p")
    }
    // fired tier: served == the standalone e19 verb's post-swap total
    val e19Total = Pipeline.e19ModelCutover(spark, dir)
      .agg(sum(col("n_selected")).as("n")).collect()(0).getLong(0)
    assert(out("dsir_model")._4 === e19Total,
      "DSIR served count != e19's post-swap selection census")
    // quiet witnesses: the serving generations' persisted grades
    val appHits =
      Similarity.ivfTruthHits(spark, dir, Similarity.appendedAnswers(spark, dir))
    assert(out("ivf_index")._4 === appHits,
      "quiet IVF witness != appended generation's truth hits")
    val gAppHits = Similarity.s27GraphHealth(spark, dir)
      .filter(col("state") === "appended")
      .agg(sum(col("n_hit")).as("h")).collect()(0).getLong(0)
    assert(out("knn_graph")._4 === gAppHits,
      "quiet graph witness != appended generation's truth hits")
    val tpkFrozen = TextAnalysis.t31TokenizerHealth(spark, dir)
      .agg(sum(col("tpk_frozen")).as("t")).collect()(0).getLong(0)
    assert(out("bpe_tokenizer")._4 === tpkFrozen,
      "quiet tokenizer witness != frozen generation's fertility sum")
    val factTotal = RetailStar.servedStar(spark, dir).fact.count()
    assert(out("star_fact")._4 === factTotal,
      "quiet star witness != the served fact's row count")
  }

  // ---------- 2b. q56 star partition refresh ----------

  test("q56: the refreshed month-partitioned fact's census equals the full " +
    "rebuild, the layout is one partition dir per month, and a further " +
    "re-delivery of the arriving month leaves untouched partitions' files " +
    "and the census byte-identical") {
    val out = RetailStar.q56StarRefresh(spark, dir)
    val census = sortedRows(out)
    // refresh ≡ rebuild: the same census straight off the inline fact
    val fact = RetailStar.buildStar(spark, dir).fact
    val direct = sortedRows(fact.groupBy(col("month_key"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("line_total_amount")), 2).as("total_amount")))
    assert(census === direct, "post-refresh census != full-rebuild census")
    // layout: one partition dir per month
    val root = ArtifactRoots.tagged("graft_starref_v1", dir)
    val target = s"$root/fact_by_month"
    val f = fs(target)
    val parts = f.listStatus(new Path(target))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val months = fact.select(col("month_key")).distinct()
      .collect().map(r => s"month_key=${r.getString(0)}").toSet
    assert(parts === months, s"partition dirs != months: $parts vs $months")
    // idempotence at the FILE level: re-deliver the arriving month once
    // more; untouched partitions' files must be byte-identical (same
    // name, length, mtime) and the census unchanged
    val lastKey = months.map(_.stripPrefix("month_key=")).toSeq.sorted
      .map(k => (k.substring(2) + k.substring(0, 2), k)).max._2 // MMyyyy → sort by yyyyMM
    val untouchedBefore = f.listStatus(new Path(target))
      .filter(st => st.isDirectory && st.getPath.getName != s"month_key=$lastKey")
      .flatMap(st => f.listStatus(st.getPath))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "dynamic")
    try fact.filter(col("month_key") === lastKey)
      .write.mode("overwrite").partitionBy("month_key").parquet(target)
    finally spark.conf.unset(key)
    val untouchedAfter = f.listStatus(new Path(target))
      .filter(st => st.isDirectory && st.getPath.getName != s"month_key=$lastKey")
      .flatMap(st => f.listStatus(st.getPath))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
    assert(untouchedAfter === untouchedBefore,
      "a partition-scoped re-delivery touched other months' files")
    val again = sortedRows(spark.read.schema(fact.schema).parquet(target)
      .groupBy(col("month_key"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("line_total_amount")), 2).as("total_amount")))
    assert(again === census, "re-delivery changed the census")
  }

  // ---------- 2b''. q57 fact retention ----------

  test("q57: the post-erasure fact holds zero victim rows, the census " +
    "equals an engine-side rebuild-without-victims, and a RE-ISSUED " +
    "erasure leaves untouched months' files byte-identical") {
    val out = sortedRows(RetailStar.q57FactRetention(spark, dir))
    val fact = RetailStar.buildStar(spark, dir).fact
    val victims = RetailStar.stagingFromTpch(spark, dir)
      .filter(pmod(col("Customer_ID"), lit(RetailStar.Q57ErasureMod)) ===
        RetailStar.Q57ErasureDigit)
      .select(xxhash64(col("Customer_ID")).as("customer_key")).distinct()
    assert(victims.count() > 0, "precondition: the erasure slice is live")
    val rebuilt = fact.join(broadcast(victims), Seq("customer_key"), "left_anti")
    assert(out === sortedRows(rebuilt.groupBy(col("month_key"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("line_total_amount")), 2).as("total_amount"))),
      "post-erasure census != rebuild-without-victims")
    val root = ArtifactRoots.tagged("graft_starret_v1", dir)
    val target = s"$root/fact_by_month"
    val standing = spark.read.schema(fact.schema).parquet(target)
    assert(standing.join(broadcast(victims), Seq("customer_key"), "left_semi")
      .count() === 0L, "victim rows survive in the standing fact")
    // re-issued erasure: repack the touched months again; untouched
    // months' files must be byte-identical (the request is idempotent
    // and partition-scoped)
    val f = fs(target)
    // the verb's own touched set (pre-erasure) from the inline fact
    val touchedPre = fact.join(broadcast(victims), Seq("customer_key"))
      .select(col("month_key")).distinct().collect().map(_.getString(0)).toSet
    val untouchedBefore = f.listStatus(new Path(target))
      .filter(st => st.isDirectory &&
        !touchedPre.contains(st.getPath.getName.stripPrefix("month_key=")))
      .flatMap(st => f.listStatus(st.getPath))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
    val repack = standing
      .filter(col("month_key").isin(touchedPre.toSeq: _*))
      .join(broadcast(victims), Seq("customer_key"), "left_anti")
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "dynamic")
    try repack.write.mode("overwrite").partitionBy("month_key").parquet(target)
    finally spark.conf.unset(key)
    val untouchedAfter = f.listStatus(new Path(target))
      .filter(st => st.isDirectory &&
        !touchedPre.contains(st.getPath.getName.stripPrefix("month_key=")))
      .flatMap(st => f.listStatus(st.getPath))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
    assert(untouchedAfter === untouchedBefore,
      "a re-issued erasure touched other months' files")
    val again = sortedRows(spark.read.schema(fact.schema).parquet(target)
      .groupBy(col("month_key"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("line_total_amount")), 2).as("total_amount")))
    assert(again === out, "re-issued erasure changed the census")
  }

  // ---------- 2b'''. the erasure mechanism's emptied-month law ----------

  test("fact erasure mechanism: a month whose EVERY row is a victim's does " +
    "not survive as a ghost partition (the dynamic-overwrite deletion gap)") {
    import spark.implicits._
    import graft.etl.Warehouse
    val tmp = tempDir("erase_gap").toString
    val target = s"$tmp/fact"
    val df = Seq(
      (1L, "012020", 10.0), // month 012020: ONLY victim rows
      (1L, "022020", 5.0), (2L, "022020", 7.0), // month 022020: mixed
      (2L, "032020", 3.0)) // month 032020: untouched
      .toDF("customer_key", "month_key", "line_total_amount")
    Warehouse.writeFactPartitioned(df, target)
    val touched = Warehouse.eraseFromPartitionedFact(
      spark, target, df.schema, Seq(1L).toDF("customer_key"))
    assert(touched.toSet === Set("012020", "022020"),
      "erasure must touch exactly the victim's months")
    val f = fs(target)
    assert(!f.exists(new Path(s"$target/month_key=012020")),
      "the emptied month survived as a ghost partition")
    val after = spark.read.schema(df.schema).parquet(target)
      .select(col("customer_key"), col("month_key"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === Set((2L, "022020"), (2L, "032020")),
      "post-erasure fact must hold exactly the non-victim rows")
  }

  // ---------- 2b'. st24 streamed star loads ----------

  test("st24: the streamed fact loads converge to q56's batch-refresh " +
    "census (stream ≡ refresh ≡ rebuild), with the duplicate delivery " +
    "absorbed by partition replacement") {
    val streamed = sortedRows(
      graft.streaming.StarStream.st24FactLoads(spark, dir))
    val batch = sortedRows(RetailStar.q56StarRefresh(spark, dir))
    assert(streamed.nonEmpty && streamed === batch,
      "streamed census != batch refresh census")
    // the duplicate month file really staged (3 input files) and the
    // arriving partition holds exactly one copy of the month's rows
    val base = ArtifactRoots.tagged("graft_st24", dir)
    val f = fs(base)
    assert(f.listStatus(new Path(s"$base/in")).length === 3,
      "precondition: history + arriving + duplicate must be staged")
  }

  // ---------- 2b''''. q58 star freshness gate ----------

  test("q58: the freshness gate fires exactly the months whose late slice " +
    "is non-empty (at least one, never all), the post-apply census equals " +
    "the source on every row, and the verb is deterministic across runs") {
    val out = RetailStar.q58StarFreshness(spark, dir)
    val rows = out.collect()
    val fired = rows.filter(_.getAs[Long]("fired") == 1L)
    assert(fired.nonEmpty, "the gate must be non-vacuous: no month fired")
    assert(fired.length < rows.length,
      "the gate must be selective: every month fired")
    // fired set == exactly the months holding late rows, engine-side
    val fact = RetailStar.buildStar(spark, dir).fact
    val lateKeys = RetailStar.arrivingMonthKeys(spark, dir,
      RetailStar.Q58LateMonths)
    val expected = fact
      .filter(col("month_key").isin(lateKeys: _*) &&
        pmod(col("transaction_id"), lit(RetailStar.Q58LateMod)) ===
          RetailStar.Q58LateDigit)
      .select(col("month_key")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(fired.map(_.getAs[String]("month_key")).toSet === expected,
      "fired months != months with a non-empty late slice")
    // gate ∘ refresh ≡ rebuild, witnessed per row
    assert(rows.forall(r =>
      r.getAs[Long]("rows_after") == r.getAs[Long]("rows_source")),
      "a post-apply month census diverged from the source")
    // quiet months report zero drift
    assert(rows.filter(_.getAs[Long]("fired") == 0L)
      .forall(_.getAs[Long]("late_rows") == 0L),
      "a quiet month carried drift the gate ignored")
    assert(sortedRows(RetailStar.q58StarFreshness(spark, dir)) ===
      rows.map(_.toString).sorted.toSeq, "the verb is not deterministic")
  }

  // ---------- 2b'''''. st25 streamed erasure ----------

  test("st25: the streamed erasure converges to rebuild-without-both-waves " +
    "with zero victim rows standing, and the duplicate request is absorbed " +
    "ledger-free (its re-application touches zero partitions)") {
    import graft.etl.Warehouse
    val streamed = sortedRows(
      graft.streaming.StarStream.st25FactErasure(spark, dir))
    val fact = RetailStar.buildStar(spark, dir).fact
    def victims(digit: Long) = RetailStar.stagingFromTpch(spark, dir)
      .filter(pmod(col("Customer_ID"), lit(RetailStar.Q57ErasureMod)) === digit)
      .select(xxhash64(col("Customer_ID")).as("customer_key")).distinct()
    val both = victims(RetailStar.Q57ErasureDigit)
      .union(victims(graft.streaming.StarStream.St25Wave2Digit)).distinct()
    assert(both.count() >= 2, "precondition: both erasure waves are live")
    val rebuilt = fact.join(broadcast(both), Seq("customer_key"), "left_anti")
    assert(streamed === sortedRows(rebuilt.groupBy(col("month_key"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("line_total_amount")), 2).as("total_amount"))),
      "streamed erasure census != rebuild-without-victims")
    // zero victim rows standing + the idempotence mechanism itself:
    // re-issuing wave 1 against the converged fact touches NOTHING
    val base = ArtifactRoots.tagged("graft_st25", dir)
    val target = s"$base/fact_by_month"
    val standing = spark.read.schema(fact.schema).parquet(target)
    assert(standing.join(broadcast(both), Seq("customer_key")).isEmpty,
      "a victim row survived the streamed erasure")
    val touched = Warehouse.eraseFromPartitionedFact(
      spark, target, fact.schema, victims(RetailStar.Q57ErasureDigit))
    assert(touched.isEmpty,
      "a re-issued erasure request touched partitions (not idempotent)")
    // the duplicate request file really staged (3 inputs for 2 waves)
    assert(fs(base).listStatus(new Path(s"$base/in")).length === 3,
      "precondition: wave1 + its duplicate + wave2 must be staged")
  }

  // ---------- 2b''''''. m9 media clusters ----------

  test("m9: the cluster census equals the one derived from a fresh m7 pair " +
    "derivation (serve ≡ derive), conserves the pair graph's node mass, " +
    "and every cluster is a real near-dup group (≥2 members, max_l1 under " +
    "the verify threshold)") {
    import graft.ext.{Dedup, Multimodal}
    val served = Multimodal.m9MediaClusters(spark, dir).collect()
    assert(served.nonEmpty, "precondition: the planted twins cluster")
    assert(served.forall(r => r.getAs[Long]("n_members") >= 2L &&
      r.getAs[Long]("n_redundant") == r.getAs[Long]("n_members") - 1L &&
      r.getAs[Long]("max_l1") <= Multimodal.M7MaxL1),
      "a cluster violates the membership/threshold invariants")
    // mass: members across clusters == distinct pair-graph endpoints
    val pairs = Multimodal.m7PerceptualLsh(spark, dir)
    val nodes = pairs.select(col("a_id").as("n"))
      .unionByName(pairs.select(col("b_id").as("n"))).distinct().count()
    assert(served.map(_.getAs[Long]("n_members")).sum === nodes,
      "cluster census does not conserve the pair graph's nodes")
    // serve ≡ derive: the same census from a fresh pair derivation
    val labels = Dedup.bigStarComponents(pairs, "a_id", "b_id")
    val fresh = labels
      .join(pairs.select(col("a_id").as("node"), col("kind"))
        .unionByName(pairs.select(col("b_id").as("node"), col("kind")))
        .distinct(), Seq("node"))
      .groupBy(col("kind"), col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    val freshPairsWorst = pairs
      .join(labels.withColumnRenamed("node", "a_id"), Seq("a_id"))
      .groupBy(col("kind"), col("cluster_id"))
      .agg(max(col("l1_permille")).as("max_l1"))
    val derived = sortedRows(fresh.join(freshPairsWorst, Seq("kind", "cluster_id"))
      .select(col("kind"), col("cluster_id"), col("n_members"),
        (col("n_members") - 1).as("n_redundant"), col("max_l1")))
    assert(served.map(_.toString).sorted.toSeq === derived,
      "served cluster census != freshly derived census")
  }

  // ---------- 2b'''''''. m10 media append / m11 media retract ----------

  test("m10: append ≡ rebuild row-for-row, and the law is non-vacuous — " +
    "cross pairs (exactly one arrival endpoint) exist, so the arrival " +
    "banding genuinely finds pairs the base build cannot") {
    import graft.ext.Multimodal
    val appended = sortedRows(Multimodal.m10MediaAppend(spark, dir))
    val rebuilt = sortedRows(
      Multimodal.m7PairsOf(Multimodal.mediaWithTwins(spark, dir)))
    assert(appended.nonEmpty && appended === rebuilt,
      "append path != full rebuild")
    def isArr(id: Long): Boolean =
      id % Multimodal.M10ArrivalMod == Multimodal.M10ArrivalDigit
    val pairs = Multimodal.m7PerceptualLsh(spark, dir)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.exists { case (a, b) => isArr(a) ^ isArr(b) },
      "vacuous: no pair crosses the base/arrival boundary")
    assert(pairs.exists { case (a, b) => !isArr(a) && !isArr(b) },
      "vacuous: every pair involves an arrival (the base build is empty)")
  }

  test("m11: the retraction census equals rebuild-without-retired, the " +
    "retirement is live (clusters dissolve), and survivors are untouched") {
    import graft.ext.Multimodal
    val before = Multimodal.m9MediaClusters(spark, dir).collect()
    val after = Multimodal.m11MediaRetract(spark, dir).collect()
    assert(after.length < before.length,
      "vacuous: retirement dissolved no cluster")
    assert(after.nonEmpty, "retirement emptied the whole census")
    def retired(id: Long): Boolean =
      id % Multimodal.M11RetireMod == Multimodal.M11RetireDigit
    // no surviving cluster is keyed by (or sized for) a retired member
    assert(after.forall(r => !retired(r.getAs[Long]("cluster_id"))),
      "a retired member survived as a cluster key")
    // survivors byte-identical to their pre-retraction rows (this
    // corpus's clusters are twin pairs — retirement is wholesale, so
    // surviving clusters must pass through untouched)
    val beforeByKey = before.map(r =>
      (r.getAs[String]("kind"), r.getAs[Long]("cluster_id")) -> r.toString).toMap
    assert(after.forall(r => beforeByKey(
      (r.getAs[String]("kind"), r.getAs[Long]("cluster_id"))) == r.toString),
      "a surviving cluster's census row changed under retraction")
  }

  // ---------- 2c. e23 leakage-safe split ----------

  test("e23: the cluster-wholesale split leaks zero verified pairs (checked " +
    "independently against the artifacts), the naive doc-hash split leaks " +
    "live pairs, and both schemes' censuses conserve the corpus") {
    import graft.functions.StableHash
    val out = Pipeline.e23SplitGuard(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet === Set(("cluster", "train"), ("cluster", "val"),
      ("doc_hash", "train"), ("doc_hash", "val")), s"4 cells: ${out.keySet}")
    // contrast: the guard closes a leak the naive split really has
    assert(out(("cluster", "train"))._3 === 0L &&
      out(("cluster", "val"))._3 === 0L, "cluster scheme must leak 0 pairs")
    assert(out(("doc_hash", "train"))._3 > 0L,
      "vacuous: the naive split leaks nothing on this corpus")
    // conservation: each scheme partitions the whole corpus
    val nDocs = Tables.documents(spark, dir).count()
    Seq("cluster", "doc_hash").foreach { s =>
      assert(out((s, "train"))._1 + out((s, "val"))._1 === nDocs,
        s"$s split does not conserve the corpus")
    }
    // independent zero-leak check: recompute the cluster-side split
    // from the labels artifact and grade the pairs artifact directly
    def splitOf(c: org.apache.spark.sql.Column) =
      when(StableHash.hash64(concat(lit("e23:"), c.cast("string"))) % 10 < 9,
        lit("train")).otherwise(lit("val"))
    val sp = Tables.documents(spark, dir).select(col("doc_id"))
      .join(Pipeline.labelsArtifact(spark, dir)
          .select(col("node").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        splitOf(coalesce(col("cluster_id"), col("doc_id"))).as("s"))
    val straddle = Pipeline.pairsArtifact(spark, dir)
      .select(col("a_id"), col("b_id"))
      .join(sp.select(col("doc_id").as("a_id"), col("s").as("sa")), Seq("a_id"))
      .join(sp.select(col("doc_id").as("b_id"), col("s").as("sb")), Seq("b_id"))
      .filter(col("sa") =!= col("sb")).count()
    assert(straddle === 0L,
      "independent grade found a straddling pair under the cluster scheme")
  }

  // ---------- 2d. e24 release packing ----------

  test("e24: the packed release conserves the bins artifact's mass exactly " +
    "(train + val docs/tokens = e3's totals), and every surviving doc's " +
    "split matches e23's cluster scheme") {
    val out = Pipeline.e24ReleasePack(spark, dir).collect()
    val (relDocs, relToks) = (out.map(_.getLong(3)).sum, out.map(_.getLong(4)).sum)
    val bins = Pipeline.e3FinalPacking(spark, dir)
      .agg(sum(col("n_docs")).as("d"), sum(col("n_tokens")).as("t"))
      .collect()(0)
    assert(relDocs === bins.getLong(0) && relToks === bins.getLong(1),
      "release mass != the bins artifact's totals")
    assert(out.map(_.getString(0)).toSet === Set("train", "val"),
      "both splits must be live in the release")
    // split consistency: per-split doc totals equal an independent
    // count under e23's cluster rule over the s5 survivors
    import graft.functions.StableHash
    val labels = Pipeline.labelsArtifact(spark, dir)
      .select(col("node").as("doc_id"), col("cluster_id"))
    val independent = Pipeline.docFlagsForSpec(spark, dir).filter(col("s5"))
      .join(labels, Seq("doc_id"), "left")
      .groupBy(when(StableHash.hash64(concat(lit("e23:"),
          coalesce(col("cluster_id"), col("doc_id")).cast("string"))) % 10 < 9,
        "train").otherwise("val").as("split"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perSplit = out.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(3)).sum }
    assert(perSplit === independent,
      "release split counts != independent e23-rule counts")
  }

  // ---------- 3. e22 force-fire ----------

  test("e22 force-fire: each quiet tier's fired apply serves the standalone " +
    "cutover's post-swap state (retrained IVF world, rebuilt graph " +
    "generation, current tokenizer fertility)") {
    // IVF: the fired apply's post-verb hits == the retrained world's
    val rebHits =
      Similarity.ivfTruthHits(spark, dir, Similarity.retrainedAnswers(spark, dir))
    assert(Similarity.e22IvfFiredApply(spark, dir) === rebHits,
      "forced IVF apply must serve the retrained world's hits")
    // graph: == the rebuilt generation's hits
    val gRebHits = Similarity.s27GraphHealth(spark, dir)
      .filter(col("state") === "rebuilt")
      .agg(sum(col("n_hit")).as("h")).collect()(0).getLong(0)
    assert(Similarity.e22GraphFiredApply(spark, dir) === gRebHits,
      "forced graph apply must serve the rebuilt generation's hits")
    // tokenizer: == the current generation's fertility sum
    val t31 = TextAnalysis.t31TokenizerHealth(spark, dir)
      .select(col("source"), col("n_delta_chars"), col("tpk_current"))
      .collect()
    val dc = t31.map(r =>
      r.getString(0) -> r.getAs[Long]("n_delta_chars")).toMap
    val curSum = t31.map(_.getAs[Long]("tpk_current")).sum
    assert(Pipeline.e22BpeFiredServed(spark, dir, dc) === curSum,
      "forced tokenizer apply must serve the current generation's fertility")
    // star (r17): the forced apply repairs a staged-stale clone back
    // to the source's row total (gate ∘ refresh ≡ rebuild)
    val factTotal = RetailStar.servedStar(spark, dir).fact.count()
    assert(Pipeline.e22StarFiredApply(spark, dir) === factTotal,
      "forced star apply must restore the source's fact total")
    // restore: drop the force-fired scratch so later e22 invocations'
    // quiet no-op law observes a clean slate
    Seq("graft_e22_idx", "graft_e22_graph", "graft_e22_bpe",
      "graft_e22_star").foreach(dropRoot)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.RetailStar
import graft.ext.Similarity

/** Round-17 OPTIMIZATION pins — every optimization that touched an
  * operator's internals keeps its outputs bit-identical:
  *
  *  1. star_build's shared-pass form (materializeStar — one cleaning
  *     materialization shared by fact + both dims) equals the lazy
  *     per-output form (buildStar) frame-for-frame.
  *  2. s22's clone-from-substrate prelude changes nothing the verb
  *     serves: retrain-served answers still equal the all-trained
  *     s12 chain (the row's own oracle law, re-pinned across the
  *     prelude swap).
  *  3. q53's fused integrity probe (one agg: count + count(when))
  *     equals the two-action form it replaced, and the row's output
  *     schema/values survive the concurrent-write restructuring.
  */
class OptimizationR17Spec extends AnyFunSuite with GraftSuite {

  test("materializeStar equals buildStar frame-for-frame (fact, product, " +
    "shipping) — the shared cleaning pass changes nothing") {
    val lazyStar = RetailStar.buildStar(spark, dir)
    val shared = RetailStar.materializeStar(spark, dir)
    assert(sortedRows(shared.fact) == sortedRows(lazyStar.fact),
      "shared-pass fact must equal the lazy build's fact")
    assert(sortedRows(shared.product) == sortedRows(lazyStar.product),
      "shared-pass dim_product must equal the lazy build's")
    assert(sortedRows(shared.shipping) == sortedRows(lazyStar.shipping),
      "shared-pass dim_shipping must equal the lazy build's")
  }

  test("s22 (clone-from-substrate prelude): retrain-served answers still " +
    "equal the all-trained s12 chain") {
    val retrained = Similarity.s22IndexRetrain(spark, dir)
    val allTrained = Similarity.s12IvfPq(spark, dir)
    assert(sortedRows(retrained) == sortedRows(allTrained),
      "retrain on an undeleted corpus must equal the all-trained IVF-PQ")
  }

  test("q53's fused integrity probe: count(when(pred)) over one scan equals " +
    "filter(pred).count()") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, dir)
    val pred = col("l_partkey").between(100, 120)
    val fused = li.agg(count(lit(1)), count(when(pred, lit(1)))).collect()(0)
    assert(fused.getLong(0) == li.count())
    assert(fused.getLong(1) == li.filter(pred).count())
  }

  test("star warehouse substrate: the cloned standing tree equals a fresh " +
    "writeFactPartitioned row-for-row, and clone-minus-partition equals the " +
    "filtered write (q56's pre-load state)") {
    import org.apache.spark.sql.functions._
    val tmp = s"${tempDir("graft_r17o")}/graft_r17o_starwh_spec"
    val fact = RetailStar.servedStar(spark, dir).fact
    // fresh write — the pre-substrate staging the verbs used to run
    graft.etl.Warehouse.writeFactPartitioned(fact, s"$tmp/direct")
    // the substrate clone the verbs now start from
    RetailStar.cloneWarehouse(spark, dir, s"$tmp/clone")
    def rows(p: String) = sortedRows(
      spark.read.schema(fact.schema).parquet(p))
    assert(rows(s"$tmp/clone") == rows(s"$tmp/direct"),
      "cloned standing warehouse must equal the fresh partitioned write")
    // q56's pre-load state: clone minus the arriving month's partition
    // dir ≡ writeFactPartitioned(fact without that month)
    val lastKey = RetailStar.arrivingMonthKeys(spark, dir, 1).head
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(tmp).toUri,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/clone/month_key=$lastKey"), true)
    graft.etl.Warehouse.writeFactPartitioned(
      fact.filter(col("month_key") =!= lastKey), s"$tmp/direct_nolast")
    assert(rows(s"$tmp/clone") == rows(s"$tmp/direct_nolast"),
      "clone minus the arriving partition must equal the filtered write")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  test("m10's substrate base: the persisted media_pairs artifact filtered to " +
    "non-arrival endpoints equals the derived base-only pair chain") {
    import org.apache.spark.sql.functions._
    val media = graft.ext.Multimodal.mediaWithTwins(spark, dir)
    val isArr = pmod(col("media_id"), lit(graft.ext.Multimodal.M10ArrivalMod)) ===
      graft.ext.Multimodal.M10ArrivalDigit
    val derived = graft.ext.Multimodal.m7PairsOf(media.filter(!isArr))
    val filtered = graft.ext.Pipeline.mediaPairsArtifact(spark, dir)
      .filter(pmod(col("a_id"), lit(graft.ext.Multimodal.M10ArrivalMod)) =!=
          graft.ext.Multimodal.M10ArrivalDigit &&
        pmod(col("b_id"), lit(graft.ext.Multimodal.M10ArrivalMod)) =!=
          graft.ext.Multimodal.M10ArrivalDigit)
      .select(derived.columns.map(col): _*)
    assert(sortedRows(filtered) == sortedRows(derived),
      "filtered artifact must equal the derived base pair chain " +
        "(no cap-crossing bucket on this corpus)")
  }

  test("q58's staged stale warehouse (clone + late-window repack) equals the " +
    "full filtered write it replaced") {
    import org.apache.spark.sql.functions._
    val tmp = s"${tempDir("graft_r17o")}/graft_r17o_stale_spec"
    val fact = RetailStar.stageStaleWarehouse(spark, dir, s"$tmp/staged")
    val lateKeys = RetailStar.arrivingMonthKeys(spark, dir, RetailStar.Q58LateMonths)
    val isLate = col("month_key").isin(lateKeys: _*) &&
      pmod(col("transaction_id"), lit(RetailStar.Q58LateMod)) === RetailStar.Q58LateDigit
    graft.etl.Warehouse.writeFactPartitioned(fact.filter(!isLate), s"$tmp/direct")
    def rows(p: String) = sortedRows(spark.read.schema(fact.schema).parquet(p))
    assert(rows(s"$tmp/staged") == rows(s"$tmp/direct"),
      "clone + late-window repack must equal the full filtered write")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(tmp).toUri,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}

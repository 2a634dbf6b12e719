package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Similarity}
import graft.operators.SkewJoin
import graft.queries.AdvancedQueries

/** Round-5 pins: the packed-SQ8 equivalence (s10 stage 1 ≡ s8 — the
  * uint8 packing is lossless by construction, this asserts it
  * end-to-end through the codegen'd expressions), the salted-join
  * identity q52 rides on (salting never changes multiplicity; the
  * plan really does expand the salt), and the d3 hot-shingle cap's
  * measured semantics (a planted boilerplate shingle past the cap
  * removes/downgrades pairs, never invents or raises one). The DuckDB
  * hash-match runs per-round via Verify; these pin what a hash can't.
  */
class Round5Spec extends AnyFunSuite with GraftSuite {

  test("s10 packed scan ≡ s8 unpacked scan: identical top-k ids, distances, ranks") {
    val packed = Similarity.s10Candidates(spark, dir, Similarity.TopK)
      .select(col("query_id"), col("vec_id"), col("d2"), col("crank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val unpacked = Similarity.s8Sq8Scan(spark, dir)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("d2"), r.getAs[Int]("rank"))).toSet
    assert(packed === unpacked)
    assert(packed.nonEmpty)
  }

  test("s10 rescoring: final neighbors come from the candidate pool, ranked by exact cosine") {
    val cand = Similarity.s10Candidates(spark, dir, Similarity.RescoreDepth)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fin = Similarity.s10Sq8Packed(spark, dir).collect()
    assert(fin.nonEmpty)
    fin.foreach { r =>
      assert(cand.contains((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
    }
    // within each query, rank order is exact-cosine order (desc, id tiebreak)
    fin.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Double]("cosine"), r.getAs[Long]("neighbor_id")))
      val resorted = byRank.sortBy { case (c, id) => (-c, id) }
      assert(byRank.toSeq === resorted.toSeq)
    }
  }

  test("q52 skew join: salted ≡ plain row-for-row, and the plan expands the salt") {
    import spark.implicits._
    // constructed hot key: 900 of 1000 rows share key 1
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else (i % 7) + 2L, i.toLong))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"),
      (5L, "d"), (6L, "e"), (7L, "f"), (8L, "g")).toDF("k", "tag")
    val salted = SkewJoin.salted(big, small, "k", buckets = 8)
    val plain = big.join(small, Seq("k"))
    val sRows = salted.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val pRows = plain.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(sRows === pRows)
    // the salt expansion is really in the executed plan
    val planStr = salted.queryExecution.executedPlan.toString
    assert(planStr.contains("_salt"), s"no salt expansion in plan:\n$planStr")
    // and the gated q52 rollup equals its unsalted twin on testdata
    val q52 = AdvancedQueries.q52SkewJoin(spark, dir).collect().map(_.toSeq)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val dim = Tables.orders(spark, dir).select(col("o_orderpriority")).distinct()
      .withColumn("priority_class", substring(col("o_orderpriority"), 1, 1).cast("int"))
    val twin = o.join(dim, Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("priority_class"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("cents")) / 100.0, 2).as("total_price"))
      .orderBy(col("o_orderpriority")).collect().map(_.toSeq)
    assert(q52.toSeq === twin.toSeq)
  }

  test("degree-ordered triangle census ≡ id-ordered, on constructed graphs and the LSH graph") {
    import spark.implicits._
    import graft.ext.Graph
    def censusOf(df: org.apache.spark.sql.DataFrame) = {
      val plain = Graph.triangleCensus(df, "a", "b").collect().head
      val orient = Graph.triangleCensusOriented(df, "a", "b").collect().head
      assert(orient.getAs[Long]("n_nodes") === plain.getAs[Long]("n_nodes"))
      assert(orient.getAs[Long]("n_edges") === plain.getAs[Long]("n_edges"))
      assert(orient.getAs[Long]("n_triangles") === plain.getAs[Long]("n_triangles"))
      plain.getAs[Long]("n_triangles")
    }
    // K4 (4 triangles), and a hub graph — the shape the orientation
    // exists for: hub 0 touches everyone, triangles only via the rim
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    assert(censusOf(k4) === 4L)
    val hub = ((1L to 8L).map(i => (0L, i)) ++ Seq((1L, 2L), (3L, 4L))).toDF("a", "b")
    assert(censusOf(hub) === 2L)
    // and on the exact graph p2 runs over
    censusOf(ext.Dedup.d4MinhashLsh(spark, dir)
      .select(col("a_id").as("a"), col("b_id").as("b")))
  }

  test("d3 hot-shingle cap: planted boilerplate past the cap removes/downgrades, never invents") {
    import spark.implicits._
    // docs 1,2: identical private content (pair survives any cap).
    // docs 3-6: nothing but the boilerplate shingle "x y z" (pairs
    // exist ONLY through the hot shingle). docs 7,8: identical long
    // docs that CONTAIN the boilerplate (pair survives the cap but
    // with a lowered jaccard — the documented undercount).
    val longText = "x y z " + (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "x y z"), (4L, "x y z"), (5L, "x y z"), (6L, "x y z"),
      (7L, longText), (8L, longText)).toDF("doc_id", "text")
    def pairs(cap: Option[Long]) = Dedup.d3JaccardOf(docs, cap).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Double]("jaccard"))
      .toMap
    val exact = pairs(None)
    // hot shingle "x y z" is in 6 docs: freq 6 > cap 3
    val capped = pairs(Some(3L))
    val hotOnly = for (a <- 3L to 6L; b <- (a + 1) to 6L) yield (a, b)
    assert(exact.keySet === Set((1L, 2L), (7L, 8L)) ++ hotOnly)
    assert(exact((7L, 8L)) === 1.0)
    // capped: boilerplate-only pairs vanish entirely…
    assert(capped.keySet === Set((1L, 2L), (7L, 8L)))
    // …surviving pairs are a subset with jaccard never raised…
    capped.foreach { case (k, j) => assert(j <= exact(k)) }
    // …and the (7,8) undercount is exactly the lost hot shingle:
    // i drops 11→10 of na=nb=11 → 10/12
    assert(capped((7L, 8L)) === math.rint(1000.0 * 10 / 12) / 1000)
    assert(capped((1L, 2L)) === 1.0)
  }
}

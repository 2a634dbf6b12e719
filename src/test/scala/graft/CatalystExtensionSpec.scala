package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity
import graft.functions.DotProduct
import graft.plans.FuseDotProduct

/** The custom-Catalyst stack: the FuseDotProduct optimizer rule must
  * rewrite the higher-order dot-product pattern into the codegen'd
  * DotProduct expression without changing a single value, and the
  * fused expression must replicate the HOF form's NULL semantics.
  */
class CatalystExtensionSpec extends AnyFunSuite with GraftSuite {

  test("rule fuses the zip_with/aggregate pattern in a real query plan") {
    val analyzed = Similarity.s1KnnBruteDerived(spark, dir).queryExecution.analyzed
    val before = analyzed.toString
    assert(before.contains("aggregate(zip_with"), before.take(2000))
    val fused = FuseDotProduct(analyzed)
    val exprs = fused.collect { case p => p.expressions }.flatten
    val nFused = exprs.map(_.collect { case d: DotProduct => d }.size).sum
    assert(nFused > 0, s"rule did not fire:\n${fused.toString.take(2000)}")
    assert(!fused.toString.contains("aggregate(zip_with"), "HOF pattern survived the rewrite")
  }

  test("the suite session runs the production rule: s1's optimized plan " +
    "holds a DotProduct and no aggregate(zip_with") {
    val optimized = Similarity.s1KnnBruteDerived(spark, dir).queryExecution.optimizedPlan
    assert(optimized.exists(_.expressions.exists(_.exists(_.isInstanceOf[DotProduct]))),
      s"FuseDotProduct did not fire in the suite session:\n$optimized")
    assert(!optimized.toString.contains("aggregate(zip_with"), optimized.toString)
  }

  test("dot_product matches the HOF fold bit-for-bit on real embeddings") {
    DotProduct.register(spark)
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val pairs = Tables.embeddings(spark, dir).limit(50).select(col("embedding").as("a"))
      .crossJoin(Tables.embeddings(spark, dir).limit(7).select(col("embedding").as("b")))
    val (diff, optimized) = withoutFusion {
      val q = pairs
        .select((hof - call_function("dot_product", col("a"), col("b"))).as("d"))
        .agg(max(abs(col("d"))).as("m"))
      (q.collect().head.getDouble(0), q.queryExecution.optimizedPlan.toString)
    }
    assert(optimized.contains("aggregate(zip_with"), s"the reference was fused:\n$optimized")
    assert(diff === 0.0) // identical op order -> bit-identical, not just close
  }

  test("fused StableHash64 is bit-identical to the conv(substring(md5)) chain") {
    import graft.functions.StableHash
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
    val mism = toks.select(
        StableHash.hash64(col("t")).as("fast"),
        StableHash.legacyHash64(col("t")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(mism === 0L)
    // seeded + edge cases: empty string, unicode, long input
    val edge = spark.range(1).select(
      StableHash.hash64(lit("")).as("a"), StableHash.legacyHash64(lit("")).as("b"),
      StableHash.hash64(lit("héllo wörld ☃")).as("c"), StableHash.legacyHash64(lit("héllo wörld ☃")).as("d"),
      StableHash.hash64(lit("x" * 10000)).as("e"), StableHash.legacyHash64(lit("x" * 10000)).as("f"))
      .collect().head
    assert(edge.getLong(0) === edge.getLong(1))
    assert(edge.getLong(2) === edge.getLong(3))
    assert(edge.getLong(4) === edge.getLong(5))
  }

  test("dot_product NULL semantics: null array, unequal lengths, null element") {
    DotProduct.register(spark)
    val r = spark.sql(
      """SELECT
           dot_product(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS null_arr,
           dot_product(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS uneq,
           dot_product(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS null_elem,
           dot_product(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS empty""").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) === 0.0)
  }
}

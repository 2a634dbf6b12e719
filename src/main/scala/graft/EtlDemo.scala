package graft
import org.apache.spark.sql.functions.col
import graft.etl.{RetailClean, Warehouse}
object EtlDemo {
  def main(args: Array[String]): Unit = {
    // explicit (in, out), or the bundled fixture and a temp dir — a
    // bare `runMain graft.EtlDemo` must demo the pipeline, not crash
    // with a MatchError
    val (in, out) = args match {
      case Array(i, o) => (i, o)
      case Array() =>
        // the fixture ships on the TEST classpath; from the Compile
        // runMain it is reachable by repo path (with the classpath
        // lookup as a fallback for test-scope callers)
        val fixture = Seq(new java.io.File("src/test/resources/retail_fixture.csv"))
          .filter(_.exists).map(_.getPath).headOption
          .orElse(Option(getClass.getResource("/retail_fixture.csv")).map(_.getPath))
          .getOrElse(sys.error("usage: EtlDemo <staging-csv> <out-dir> (no bundled fixture found)"))
        (fixture, java.nio.file.Files.createTempDirectory("etl_demo").toString)
      case other =>
        sys.error(s"usage: EtlDemo [<staging-csv> <out-dir>], got ${other.length} args")
    }
    val spark = GraftSession.create(4)
    spark.sparkContext.setLogLevel("ERROR")
    val raw = RetailClean.readStaging(spark, in)
    val cleaned = RetailClean.clean(raw)
    RetailClean.writeClean(cleaned, s"$out/cleaned", singleFile = true)
    val fact = Warehouse.factSales(cleaned,
      Warehouse.dimProduct(cleaned), Warehouse.dimLocation(cleaned),
      Warehouse.dimPayment(cleaned), Warehouse.dimShipping(cleaned))
    fact.write.mode("overwrite").parquet(s"$out/fact_sales")
    Warehouse.factMonthlySnapshot(cleaned).write.mode("overwrite").parquet(s"$out/snapshot")
    // persisted audit table (README.md:177-178), not just a printout
    RetailClean.audit(raw, cleaned, loadId = in).write.mode("overwrite").parquet(s"$out/audit")
    // and the quarantine table: rejected rows WITH reason codes
    RetailClean.quarantine(raw).filter(col("reject_reason").isNotNull)
      .write.mode("overwrite").parquet(s"$out/quarantine")
    println(s"cleaned=${cleaned.count()} fact=${Tables.read(spark, s"$out/fact_sales").count()} snap=${Tables.read(spark, s"$out/snapshot").count()} audit=${Tables.read(spark, s"$out/audit").count()}")
    spark.stop()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.RetailClean

/** Golden tests for the ETL port against the hand-built fixture
  * (FIXTURES.md §A). Each SURVEY §1.4 quirk has a dedicated row:
  * multi-line kept order (1002), customer collision (1003), date
  * collision (1004), null criticals (1005/1006), null fills + null
  * Ratings + Zipcode sentinel (1007), midnight keys (1008), year
  * boundary (1009).
  */
class RetailCleanSpec extends AnyFunSuite with GraftSuite {

  lazy val fixturePath: String =
    getClass.getResource("/retail_fixture.csv").getPath

  lazy val cleaned = {
    val df = RetailClean.clean(RetailClean.readStaging(spark, fixturePath))
    df.cache()
    df
  }

  private def rowsFor(tid: Long) =
    cleaned.filter(cleaned("transaction_id") === tid).collect()

  test("row count: collisions and null-criticals dropped, multi-line kept") {
    assert(cleaned.count() === 6)
    assert(rowsFor(1002).length === 2, "multi-line same-customer/date order must survive")
    Seq(1003L, 1004L, 1005L, 1006L).foreach { tid =>
      assert(rowsFor(tid).isEmpty, s"tid $tid should be dropped")
    }
  }

  test("column order matches clean_data.py:115-123") {
    assert(cleaned.columns.toSeq === RetailClean.finalColumns)
  }

  test("keys are zero-padded strings, time_key seconds-first") {
    val r = rowsFor(1001).head
    assert(r.getAs[String]("date_key") === "15012023")
    assert(r.getAs[String]("month_key") === "012023")
    // 09:05:03 -> SSMMHH = "030509"
    assert(r.getAs[String]("time_key") === "030509")

    val midnight = rowsFor(1008).head
    assert(midnight.getAs[String]("date_key") === "31122023")
    assert(midnight.getAs[String]("month_key") === "122023")
    assert(midnight.getAs[String]("time_key") === "000000")

    // 23:59:01 -> "015923"; year boundary Jan 2024
    val ny = rowsFor(1009).head
    assert(ny.getAs[String]("time_key") === "015923")
    assert(ny.getAs[String]("month_key") === "012024")
  }

  test("only the 9 categorical columns get 'Unknown'; Ratings stays null; Zipcode -1") {
    val r = rowsFor(1007).head
    RetailClean.categoricalCols.foreach { c =>
      assert(r.getAs[String](c) === "Unknown", s"$c should be filled")
    }
    assert(r.isNullAt(r.fieldIndex("Ratings")), "Ratings must NOT be filled")
    assert(r.isNullAt(r.fieldIndex("Name")), "Name must NOT be filled")
    assert(r.getAs[Int]("Zipcode") === -1)
  }

  test("no Date/Time parse failures on conforming input") {
    val staged = RetailClean.parseDateTime(RetailClean.fillUnknown(
      RetailClean.dropCriticalNulls(RetailClean.rename(
        RetailClean.readStaging(spark, fixturePath)))))
    assert(RetailClean.parseFailures(staged).count() === 0)
  }

  test("dedup invariant: every surviving transaction_id agrees on customer and date") {
    import org.apache.spark.sql.functions._
    val bad = cleaned.groupBy("transaction_id")
      .agg(countDistinct("Customer_ID").as("nc"), countDistinct("Date").as("nd"))
      .filter(col("nc") > 1 || col("nd") > 1)
    assert(bad.count() === 0)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Approximate/sketch aggregates that have no SQL-oracle counterpart
  * (different algorithms across engines).
  */
class ApproxSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("approx_count_distinct (HLL) within 5% of exact on lineitem keys") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val r = li.agg(
      countDistinct($"l_orderkey").as("exact"),
      approx_count_distinct($"l_orderkey", 0.02).as("approx")).collect()(0)
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }
}

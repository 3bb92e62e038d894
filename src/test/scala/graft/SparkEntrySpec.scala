package graft

import org.scalatest.funsuite.AnyFunSuite

/** The testdata tables are bound once per (session, dir), not once per query. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val testdata = "/root/testdata"
  private val sf0001 = s"$testdata/sf0.001"
  private val sf001 = s"$testdata/sf0.01"

  private def lineitemView = spark.sessionState.catalog.getRawTempView("lineitem")

  test("a second query in the same session over the same dir does not re-register") {
    SparkEntry.queries("q_gcd")(spark, sf0001)
    val bound = lineitemView
    assert(bound.isDefined)
    SparkEntry.queries("q_sum_udaf")(spark, sf0001)
    assert(lineitemView.get eq bound.get)
  }

  test("the same session pointed at another dir re-binds its views") {
    SparkEntry.queries("q_gcd")(spark, sf0001)
    val small = spark.table("lineitem").count()
    SparkEntry.queries("q_gcd")(spark, sf001)
    val expected = spark.read.parquet(s"$sf001/lineitem.parquet").count()
    assert(expected != small)
    assert(spark.table("lineitem").count() == expected)
  }

  test("a new session gets its own views and answers like the shared one") {
    val shared = SparkEntry.queries("q_gcd")(spark, sf0001).collect().toSeq
    val fresh = spark.newSession()
    assert(fresh.sessionState.catalog.getRawTempView("lineitem").isEmpty)
    assert(SparkEntry.queries("q_gcd")(fresh, sf0001).collect().toSeq == shared)
  }
}

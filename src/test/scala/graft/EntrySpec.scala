package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("driver flagship entry returns rows at sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every registered query has distinct name and runs at sf0.001") {
    assert(SparkEntry.queries.size == SparkEntry.queries.keys.toSet.size)
    // spot-run the newest additions end to end
    for (q <- Seq("q35_focal_dem", "q36_sample_at", "q37_intersect_except")) {
      assert(SparkEntry.queries(q)(spark, TestSpark.Sf).count() > 0, q)
    }
  }

  test("every Bench.Headline name is registered and listed once") {
    val unknown = Bench.Headline.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"headline names not in the registry: $unknown")
    val twice = Bench.Headline.diff(Bench.Headline.distinct)
    assert(twice.isEmpty, s"headline names listed twice: $twice")
  }

  test("oracle SQL keys are a subset of query keys") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }
}

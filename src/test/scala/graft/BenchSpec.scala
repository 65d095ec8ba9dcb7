package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpec {

  test("a query that throws is a failure, not a fast timing") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF()
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val (results, failed) = Bench.timedSweeps(spark, "",
      Seq("q_ok" -> ok, "q_boom" -> boom), iters = 2)
    assert(failed == Seq("q_boom"))
    assert(results.map(_._1) == Seq("q_ok"))
  }
}

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

  test("the timed action writes the query's whole result") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions.{col, max, sum}
    import org.apache.spark.sql.util.QueryExecutionListener
    val grouped: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(100).groupBy((col("id") % 7).as("k"))
        .agg(sum("id").as("total"), max("id").as("hi"))
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = actions.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (results, failed) = try {
      val r = Bench.timedSweeps(spark, "", Seq("q_grouped" -> grouped), iters = 1)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(failed.isEmpty && results.map(_._1) == Seq("q_grouped"))
    import scala.jdk.CollectionConverters._
    val plans = actions.asScala.toSeq
    assert(plans.size == 1, plans.mkString("\n"))
    plans.head match {
      case w: V2WriteCommand =>
        assert(w.query.output.map(_.name) == Seq("k", "total", "hi"))
        assert(w.query.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.Aggregate]))
      case other => fail(s"timed action is not a write:\n$other")
    }
  }
}

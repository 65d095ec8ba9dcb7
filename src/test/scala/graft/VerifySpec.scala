package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Verify` dumps every query it can and reports the ones that threw,
  * so a failing run exits non-zero instead of passing on a partial dump. */
class VerifySpec extends SparkSpec {

  test("a throwing query is reported by name and the others still dump") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s: SparkSession, _: String) => s.range(3).toDF("id")),
      "q_boom" -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("planted")),
      "q_late" -> ((s: SparkSession, _: String) =>
        s.range(2).selectExpr("assert_true(id < 1) AS x")))
    val started = Seq.newBuilder[String]
    val failed = Verify.dump(spark, "unused", out, queries, started += _)
    assert(started.result() == Seq("q_ok", "q_boom", "q_late"))
    assert(failed == Seq("q_boom", "q_late"))
    assert(spark.read.parquet(s"$out/q_ok").count() == 3L)
    assert(Verify.failureLine(failed) == "[verify] FAILED 2 queries: q_boom q_late")
  }
}

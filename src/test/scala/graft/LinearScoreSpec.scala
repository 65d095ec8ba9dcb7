package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.ops.LinearScore

class LinearScoreSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val wSchema = StructType(Seq(
    StructField("token", StringType), StructField("weight", DoubleType)))

  private def sigmoid(z: Double) =
    BigDecimal(1.0 / (1.0 + math.exp(-z)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val weights = Seq("good" -> 2.0, "bad" -> -3.0, "spark" -> 0.5)

  private def score(mode: String, bias: Double, rows: Row*): Map[Long, Double] =
    LinearScore(df(docSchema, rows: _*), "doc_id", "text",
      df(wSchema, weights.map(w => Row(w._1, w._2)): _*),
      bias = bias, mode = mode)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("binary mode counts each vocabulary token once") {
    val out = score("binary", 0.0,
      Row(1L, "good good bad other"), // good(1) + bad(-3) -> 2 - 3 = -1
      Row(2L, "spark is good"))       // 0.5 + 2 = 2.5
    assert(out(1L) === sigmoid(-1.0))
    assert(out(2L) === sigmoid(2.5))
  }

  test("tf mode multiplies by occurrence count") {
    val out = score("tf", 0.0, Row(1L, "good good bad other"))
    assert(out(1L) === sigmoid(2 * 2.0 - 3.0)) // 2 goods, 1 bad
  }

  test("mean mode normalizes by document length") {
    val out = score("mean", 0.0, Row(1L, "good good bad other"))
    // (2*2.0 - 3.0) / 4 tokens = 0.25
    assert(out(1L) === sigmoid(0.25))
  }

  test("a doc with no in-vocabulary tokens scores sigmoid(bias)") {
    val out = score("binary", -0.5, Row(1L, "nothing matches here"))
    assert(out(1L) === sigmoid(-0.5))
  }

  test("withScore appends the column and keeps input rows") {
    val d = df(docSchema, Row(1L, "good"), Row(2L, "bad"))
    val out = LinearScore.withScore(d, "doc_id", "text",
      df(wSchema, Row("good", 2.0)), outCol = "q")
    assert(out.columns.toSeq === Seq("doc_id", "text", "q"))
    assert(out.count() === 2)
  }

  test("unknown mode and column collisions are rejected") {
    val d = df(docSchema, Row(1L, "x"))
    val w = df(wSchema, Row("x", 1.0))
    intercept[IllegalArgumentException] {
      LinearScore(d, "doc_id", "text", w, mode = "idf")
    }
    intercept[IllegalArgumentException] {
      LinearScore(d, "doc_id", "text", w, outCol = "text")
    }
  }

  test("Frame and LazyFrame wire linearScore end to end") {
    val wDf = df(wSchema, Row("good", 2.0))
    val f = graft.api.Graft.fromDF(df(docSchema, Row(1L, "good stuff")))
      .linearScore(graft.api.Graft.fromDF(wDf), "doc_id", "text")
    assert(f.toDF.columns.contains("quality_score") && f.count() === 1)

    import graft.api.{LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("lscore").toString
    df(docSchema, Row(1L, "good stuff"), Row(2L, "meh")).write
      .mode("overwrite").parquet(s"$dir/docs.parquet")
    wDf.write.mode("overwrite").parquet(s"$dir/w.parquet")
    val lf = LazyFrame.read("docs", s"$dir/docs.parquet")
      .linearScore(LazyFrame.read("w", s"$dir/w.parquet"),
        "doc_id", "text", bias = -0.5, mode = "binary")
    val reparsed = LazyFrame.fromYaml(lf.toYaml)
    assert(reparsed.toYaml == lf.toYaml)
    assert(Pipeline.runYaml(lf.toYaml, spark).count() == lf.run(spark).count())
  }

  test("Frame exposes tokenUsage tallies and CSV writes") {
    val f = graft.api.Graft.fromDF(df(docSchema, Row(1L, "good")))
    // a semantic call records a tally for the mock model
    f.semanticMap("{{ input.text }}", "sentiment" -> "str").count()
    val usage = f.tokenUsage
    assert(usage.nonEmpty && usage.values.forall(_.calls > 0))
    assert(f.totalCost >= 0.0)
    val out = java.nio.file.Files.createTempDirectory("fcsv").toString + "/o.csv"
    f.writeCsv(out)
    assert(spark.read.option("header", "true").csv(out).count() === 1)
  }
}

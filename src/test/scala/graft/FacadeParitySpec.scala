package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.api.{Graft, LazyFrame}
import graft.llm.MockLlmClient

/** Frame and LazyFrame share one facade list (graft.api.OpFacades): the
  * same chain through Frame (each op runs its Registry handler on the
  * DataFrame) and through LazyFrame.run (the YAML pipeline path) yields
  * the same rows — a unary curation op, a binary op, and an LLM op. */
class FacadeParitySpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("lang", StringType), StructField("text", StringType)))

  private def docs: DataFrame = df(schema,
    Row(1L, "en", "go go go stop now please"),
    Row(2L, "en", "the cat sat on the mat today"),
    Row(3L, "de", "der hund der hund bellt laut"),
    Row(4L, "de", "ein ganz neuer satz hier"))

  private def reference: DataFrame = df(schema,
    Row(9L, "en", "the cat sat on the mat yesterday"))

  private def parquet(d: DataFrame, name: String): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_parity")
      .resolve(s"$name.parquet").toString
    d.write.mode("overwrite").parquet(p)
    p
  }

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).toSeq.sorted

  test("Frame and LazyFrame.run agree on unary, binary and LLM facades") {
    val client = MockLlmClient()
    val viaFrame = Graft.fromDF(docs, client)
      .collapseRepeats("text")
      .novelty(Graft.fromDF(reference, client), "lang", "text_collapsed",
        "text", n = 2)
      .semanticMap("{{ input.slice }}", "label" -> "str")
      .toDF
    val viaLazy = LazyFrame.read("docs", parquet(docs, "docs"))
      .collapseRepeats("text")
      .novelty(LazyFrame.read("ref", parquet(reference, "ref")), "lang",
        "text_collapsed", "text", n = 2)
      .semanticMap("{{ input.slice }}", "label" -> "str")
      .run(spark, client)
    assert(viaFrame.columns.toSeq == viaLazy.columns.toSeq)
    assert(viaFrame.columns.contains("label"))
    assert(rows(viaFrame) == rows(viaLazy))
  }

  test("Frame ops name themselves like LazyFrame's ({type}_{index})") {
    val f = Graft.fromDF(docs).codeFilter("id > 1")
      .codeReduce(Seq("lang"), "n" -> "count(1)")
    assert(f.toDF.columns.contains("_counts_prereduce_code_reduce_1"))
    val lf = LazyFrame.read("docs", parquet(docs, "named"))
      .codeFilter("id > 1").codeReduce(Seq("lang"), "n" -> "count(1)")
    assert(lf.run(spark).columns.toSeq == f.toDF.columns.toSeq)
  }

  test("string-referenced datasets resolve through withDataset") {
    val vocab = Graft.fromDF(docs).wordpieceVocab("text", numMerges = 2)
    val enc = Graft.fromDF(docs).withDataset("v", vocab)
      .wordpieceEncode("text", vocabFrom = Some("v")).toDF
    assert(enc.count() == 4)
    val e = intercept[IllegalArgumentException] {
      Graft.fromDF(docs).wordpieceEncode("text", vocabFrom = Some("missing"))
    }
    assert(e.getMessage.contains("missing"))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.llm.{LlmCache, LlmClient, LlmResponse, MockLlmClient}
import graft.ops.EmbedOp

class EmbedSpec extends SparkSpec {
  private val client = MockLlmClient()

  test("embed op adds float vectors per row") {
    LlmCache.clear()
    val out = EmbedOp(docsDf, "text", "emb", client)
    assert(out.columns.toSeq == docsDf.columns.toSeq :+ "emb")
    val vecs = out.select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs.values.forall(_.length == 8))
    // identical texts embed identically (docs 1 and 4 are exact dups)
    assert(vecs(1L) == vecs(4L))
    assert(vecs(1L) != vecs(2L))
  }

  test("embedding cache dedupes repeated texts") {
    LlmCache.clear()
    val doubled = docsDf.union(docsDf).coalesce(1)
    val out = EmbedOp(doubled, "text", "emb", client)
    assert(out.count() == 12)
    // all rows embedded despite the cache short-circuiting repeats
    assert(out.filter(size(col("emb")) === 8).count() == 12)
  }

  test("embed op survives a cache cleared during the provider call") {
    // the cache is a bounded FIFO shared by the whole JVM: entries a batch
    // found before its provider call can be gone (evicted, cleared) after
    LlmCache.clear()
    EmbedOp(docsDf.filter(col("doc_id") <= 3), "text", "emb", client).collect()
    val out = EmbedOp(docsDf.coalesce(1), "text", "emb", CacheClearingEmbedClient(client))
      .select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(out.size == 6 && out.values.forall(_.length == 8))
    assert(out(1L) == out(4L)) // exact dup of doc 1
  }

  test("pipeline describe reports per-step schemas without a sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val conf = graft.api.Conf.fromYaml(
      s"""
         |datasets:
         |  docs: { path: $dir/docs.parquet }
         |pipeline:
         |  steps:
         |    - name: s1
         |      input: docs
         |      operations:
         |        - { type: code_map, outputs: { n: "length(text)" } }
         |    - name: s2
         |      input: s1
         |      operations:
         |        - { type: select, columns: [doc_id, n] }
         |  output: { path: $dir/should_not_exist.parquet }
         |""".stripMargin)
    val schemas = graft.api.Pipeline.describe(conf, spark).toMap
    assert(schemas("s1").fieldNames.contains("n"))
    assert(schemas("s2").fieldNames.toSeq == Seq("doc_id", "n"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/should_not_exist.parquet")))
  }
}

/** Clears the shared LLM cache inside every embedding call. */
final case class CacheClearingEmbedClient(inner: LlmClient) extends LlmClient {
  def complete(model: String, prompt: String,
      schema: org.apache.spark.sql.types.StructType): LlmResponse =
    inner.complete(model, prompt, schema)
  def embed(model: String, texts: Seq[String]): Seq[Array[Float]] = {
    LlmCache.clear()
    inner.embed(model, texts)
  }
}

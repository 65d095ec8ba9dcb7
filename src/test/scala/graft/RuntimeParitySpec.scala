package graft

import org.apache.spark.sql.functions._

import graft.llm.{LlmCache, MockLlmClient, RateLimiter, TokenTally}
import graft.ops._

class AssociativeReduceSpec extends SparkSpec {
  private val client = MockLlmClient()

  test("fold/merge aggregator result is partition-independent") {
    for (parts <- Seq(1, 3, 6)) {
      val out = AssociativeSemanticReduce(docsDf.repartition(parts),
        AssociativeSemanticReduce.Config(
          name = "ar", reduceKeys = Seq("lang"), memberExpr = "text",
          outputSchema = Seq("acc" -> "str"), foldBatchSize = 2), client)
      val m = out.collect().map(r =>
        r.getAs[String]("lang") -> (r.getAs[String]("acc"), r.getAs[Long]("_counts_prereduce_ar"))).toMap
      assert(m("en") == ("n=5", 5L), s"parts=$parts")
      assert(m("de") == ("n=1", 1L), s"parts=$parts")
    }
  }
}

class BatchPromptSpec extends SparkSpec {
  private val client = MockLlmClient()

  test("batch_prompt labels a batch with one provider call") {
    LlmCache.clear(); MockLlmClient.resetCalls()
    val out = SemanticMap(docsDf.coalesce(1), SemanticMapConfig(
      name = "bp", prompt = "{{ input.text }}",
      outputSchema = Seq("sentiment" -> "str"),
      batchPrompt = true, batchSize = 64, bypassCache = true), client)
    val m = out.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("sentiment")).toMap
    assert(client.callCount == 1) // 6 rows, one batch call
    assert(m(1L) == "positive" && m(2L) == "negative")
  }
  test("batch_prompt survives a cache cleared during the provider call") {
    // the cache is a bounded FIFO shared by the whole JVM: entries a batch
    // found before its provider call can be gone (evicted, cleared) after
    LlmCache.clear()
    val subset = docsDf.filter(col("doc_id") <= 3).coalesce(1)
    val cfg = SemanticMapConfig(name = "bpc", prompt = "{{ input.text }}",
      outputSchema = Seq("sentiment" -> "str"), batchPrompt = true,
      batchSize = 64)
    SemanticMap(subset, cfg, client).collect() // docs 1-3 now cached
    val out = SemanticMap(docsDf.coalesce(1), cfg,
      CacheClearingClient(client)).collect()
    val m = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("sentiment")).toMap
    assert(m.size == 6 && m(1L) == "positive" && m(2L) == "negative")
    assert(m(4L) == m(1L)) // exact dup of doc 1
  }
  test("a warm batch_prompt re-run counts every row as a cache hit") {
    LlmCache.clear()
    val distinct = docsDf.filter(col("doc_id") =!= 4L).coalesce(1) // 5 distinct texts
    val cfg = SemanticMapConfig(name = "bph", prompt = "{{ input.text }}",
      outputSchema = Seq("sentiment" -> "str"), batchPrompt = true, batchSize = 64)
    def hitsOf(run: => Unit): Long = { val h = LlmCache.hits; run; LlmCache.hits - h }
    assert(hitsOf(SemanticMap(distinct, cfg, client).collect()) == 0)
    assert(hitsOf(SemanticMap(distinct, cfg, client).collect()) == 5)
  }
  test("batch_prompt rejects gleaning") {
    intercept[IllegalArgumentException] {
      SemanticMap(docsDf, SemanticMapConfig(
        name = "bp2", prompt = "x", outputSchema = Seq("sentiment" -> "str"),
        batchPrompt = true, gleaning = Some(GleaningConfig("v"))), client)
    }
  }
}

/** Clears the shared LLM cache inside every batch call. */
final case class CacheClearingClient(inner: graft.llm.LlmClient)
    extends graft.llm.LlmClient {
  def complete(model: String, prompt: String,
      schema: org.apache.spark.sql.types.StructType): graft.llm.LlmResponse =
    inner.complete(model, prompt, schema)
  override def completeBatch(model: String, prompts: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[graft.llm.LlmResponse] = {
    LlmCache.clear()
    inner.completeBatch(model, prompts, schema)
  }
  def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
    inner.embed(model, texts)
}

class RateLimitSpec extends SparkSpec {
  test("token bucket paces acquisitions") {
    val t0 = System.nanoTime()
    (1 to 4).foreach(_ => RateLimiter.acquire("test-bucket", 1200.0)) // 50ms apart
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 140, s"expected >=140ms pacing, got $elapsedMs")
  }
  test("zero rate means unlimited") {
    val t0 = System.nanoTime()
    (1 to 100).foreach(_ => RateLimiter.acquire("free-bucket", 0))
    assert((System.nanoTime() - t0) / 1e6 < 1000)
  }
}

class TokenTallySpec extends SparkSpec {
  test("per-model token and cost tallies accumulate") {
    TokenTally.reset()
    val client = MockLlmClient()
    val s = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("summary",
        org.apache.spark.sql.types.StringType)))
    client.complete("model-a", "x" * 40, s)
    client.complete("model-a", "y" * 40, s)
    client.complete("model-b", "z" * 4, s)
    val t = TokenTally.summary
    assert(t("model-a").calls == 2)
    assert(t("model-a").inputTokens == 22) // 2 * (40/4 + 1)
    assert(t("model-b").calls == 1)
    assert(t("model-a").cost > 0)
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{Conf, LazyFrame, Pipeline}
import graft.llm.{FallbackClient, LlmClient, LlmResponse, MockLlmClient}
import graft.ops._

class FallbackClientSpec extends SparkSpec {

  /** Fails for the named models, delegates to the mock otherwise. */
  private case class FlakyClient(failing: Set[String]) extends LlmClient {
    private val inner = MockLlmClient()
    override def complete(model: String, prompt: String, schema: StructType): LlmResponse = {
      if (failing.contains(model)) throw new RuntimeException(s"model $model down")
      inner.complete(model, prompt, schema)
    }
    override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] = {
      if (failing.contains(model)) throw new RuntimeException(s"model $model down")
      inner.embed(model, texts)
    }
  }

  test("falls through the chain to the first healthy model") {
    val client = FallbackClient(FlakyClient(Set("primary", "secondary")),
      Map("primary" -> Seq("secondary", "backup")))
    val schema = StructType(Seq(StructField("rating", LongType)))
    assert(client.complete("primary", "abc", schema).values("rating") == 1L + 3 % 7)
  }

  test("rethrows the last failure when the whole chain is down") {
    val client = FallbackClient(FlakyClient(Set("primary", "backup")),
      Map("primary" -> Seq("backup")))
    val e = intercept[RuntimeException] {
      client.complete("primary", "abc", StructType(Seq(StructField("rating", LongType))))
    }
    assert(e.getMessage.contains("backup"))
  }

  test("models without a chain fail directly") {
    val client = FallbackClient(FlakyClient(Set("solo")), Map.empty)
    intercept[RuntimeException] {
      client.embed("solo", Seq("x"))
    }
  }
}

class AgentMapSpec extends SparkSpec {

  test("agent loop calls one tool then finishes; output merges into the row") {
    val out = AgentMap(docsDf, AgentMap.Config(
      name = "ag", prompt = "{{ input.text }}",
      outputSchema = Seq("summary" -> "str")),
      tools = Map("tool" -> ((t: String) => s"words=${t.split(" ", -1).length}")),
      client = MockLlmClient())
    val rows = out.select("doc_id", "text", "summary").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // doc 3: "der die und das mit window" = 26 chars, 6 words;
    // transcript = text + "\nOBS:words=6" -> docs=2 chars=26+11+1=38
    assert(rows(3L) == "docs=2 chars=38")
    assert(out.columns.contains("text")) // passthrough intact
  }

  test("maxTurns bounds the loop even if the model never says final") {
    val neverFinal = new LlmClient {
      var completions = 0
      override def complete(model: String, prompt: String, schema: StructType): LlmResponse = {
        completions += 1
        LlmResponse(schema.fields.map(f => f.name -> ("loop": Any)).toMap, 0.0)
      }
      override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
        texts.map(_ => Array.empty[Float])
    }
    val one = docsDf.limit(1)
    val out = AgentMap(one, AgentMap.Config(
      name = "ag2", prompt = "{{ input.text }}",
      outputSchema = Seq("summary" -> "str"), maxTurns = 2),
      tools = Map("tool" -> ((_: String) => "obs")), client = neverFinal)
    assert(out.count() == 1) // terminates
  }

  test("agent_map runs from the YAML registry with builtin tools") {
    val out = Registry_runAgentYaml()
    assert(out.count() == docsDf.count())
    assert(out.columns.contains("summary"))
  }

  private def Registry_runAgentYaml() = {
    docsDf.createOrReplaceTempView("agent_docs")
    graft.api.Registry("agent_map")(docsDf, Conf.fromYaml(
      """{ name: ag3, type: agent_map, prompt: "{{ input.text }}",
        |  tools: [wordcount], output: { schema: { summary: str } } }""".stripMargin),
      graft.api.OpContext(spark, MockLlmClient(), Map.empty))
  }
}

class LazyFrameSpec extends SparkSpec {

  private def writeDocs(): String = {
    val dir = java.nio.file.Files.createTempDirectory("lazyframe").toString
    val path = s"$dir/docs.parquet"
    docsDf.write.mode("overwrite").parquet(path)
    path
  }

  test("toYaml round-trips and runs identically to the builder") {
    val path = writeDocs()
    val lf = LazyFrame.read("docs", path)
      .codeMap("n_tok" -> "cast(size(split(text, ' ')) as bigint)")
      .codeFilter("n_tok > 5")
      .codeReduce(Seq("lang"), "n_docs" -> "count(1)", "tot" -> "sum(n_tok)")
    val direct = lf.run(spark).orderBy("lang").collect().toSeq
    val viaYaml = Pipeline.runYaml(lf.toYaml, spark).orderBy("lang").collect().toSeq
    assert(direct == viaYaml)
    val reparsed = LazyFrame.fromYaml(lf.toYaml)
    assert(reparsed.toYaml == lf.toYaml) // fixpoint
  }

  test("ops auto-name by type and index") {
    val lf = LazyFrame.read("d", "/tmp/x.parquet").codeMap("a" -> "1").codeFilter("a = 1")
    assert(lf.ops.map(_.get("name")) == Vector("code_map_0", "code_filter_1"))
  }

  test("describe reports propagated schemas without writing output") {
    val path = writeDocs()
    val lf = LazyFrame.read("docs", path)
      .codeMap("n_tok" -> "cast(size(split(text, ' ')) as bigint)")
      .semanticFilter("{{ input.text }}")
    val schemas = lf.describe(spark)
    assert(schemas.size == 1)
    val fields = schemas.head._2.fieldNames.toSet
    assert(fields.contains("n_tok") && !fields.contains("keep"))
  }

  test("equijoin merges two pipelines into a join-headed step") {
    val path = writeDocs()
    val left = LazyFrame.read("docs", path).codeFilter("lang = 'en'")
    val right = LazyFrame.read("docs", path)
      .codeMap("rid" -> "doc_id").select("rid", "lang")
    val joined = left.equijoin(right, "doc_id = rid")
      .codeMap("k" -> "doc_id * 10")
    val out = joined.run(spark)
    assert(out.count() == 5 && out.columns.contains("k"))
    // the merged pipeline still round-trips through YAML
    assert(Pipeline.runYaml(joined.toYaml, spark).count() == 5)
  }

  test("set-op combinators rename colliding right-side steps/ops") {
    val path = writeDocs()
    // both sides use the same dataset name+path (dedupes) and both start
    // their op auto-names at code_filter_0 (right side must rename)
    val a = LazyFrame.read("docs", path).codeFilter("lang = 'en'").select("doc_id")
    val b = LazyFrame.read("docs", path).codeFilter("doc_id in (1, 3)").select("doc_id")
    assert(a.union(b).run(spark).count() == 6)          // {1,2,4,5,6} ∪ {1,3}
    assert(a.union(b, distinct = false).run(spark).count() == 7)
    assert(a.intersect(b).run(spark).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(a.except_(b).run(spark).collect().map(_.getLong(0)).toSet ==
      Set(2L, 4L, 5L, 6L))
    val conf = a.union(b).toConf
    assert(conf("datasets").asOrderedMap.size == 1) // identical dataset deduped
  }

  test("multi-step frames round-trip through from_yaml") {
    val path = writeDocs()
    val lf = LazyFrame.read("docs", path).codeFilter("lang = 'en'")
      .union(LazyFrame.read("docs", path).codeFilter("doc_id = 3"))
      .codeMap("n" -> "length(text)")
    val reparsed = LazyFrame.fromYaml(lf.toYaml)
    assert(reparsed.toYaml == lf.toYaml) // fixpoint
    assert(reparsed.run(spark).count() == lf.run(spark).count())
  }

  test("actions: count and writeParquet") {
    val path = writeDocs()
    val lf = LazyFrame.read("docs", path).codeFilter("lang = 'de'")
    assert(lf.count(spark) == 1)
    val out = java.nio.file.Files.createTempDirectory("lfout").toString + "/o.parquet"
    lf.writeParquet(out, spark)
    assert(spark.read.parquet(out).count() == 1)
  }
}

class DiverseSamplingSpec extends SparkSpec {
  test("farthest-first rejects near-duplicates of selected members") {
    // embed client with fixed vectors keyed by member text
    val vecs = Map(
      "a"   -> Array(1f, 0f),
      "a2"  -> Array(1f, 0f),   // duplicate direction of a
      "b"   -> Array(0f, 1f),
      "mid" -> Array(0.7f, 0.7f))
    val fixed = new LlmClient {
      override def complete(model: String, prompt: String, schema: StructType) =
        graft.llm.LlmResponse(Map.empty, 0.0)
      override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
        texts.map(vecs)
    }
    graft.llm.LlmCache.clear()
    val out = graft.ops.ValueSampling(
      Seq("a", "a2", "b", "mid"), 3, "diverse", None, "m", fixed, graft.llm.Meter(spark, "vs"))
    // a (seed), then b (farthest), then mid — never the duplicate a2
    assert(out == Seq("a", "b", "mid"))
  }
}

class PipelineJoinBlockingSpec extends SparkSpec {
  test("a join step without condition or blocking fails loudly (no cross join)") {
    val dir = java.nio.file.Files.createTempDirectory("nojoin").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/d.parquet")
    intercept[IllegalArgumentException] {
      Pipeline.runYaml(
        s"""datasets:
           |  l: { path: $dir/d.parquet }
           |  r: { path: $dir/d.parquet }
           |pipeline:
           |  steps:
           |    - { name: j, join: { left: l, right: r } }
           |""".stripMargin, spark)
    }
  }

  test("YAML join with embedding blocking + cascade runs end to end") {
    val dir = java.nio.file.Files.createTempDirectory("joinblk").toString
    val emb = ArrayType(FloatType)
    val l = df(StructType(Seq(StructField("lid", LongType), StructField("lk", LongType),
      StructField("le", emb))),
      (1L to 8L).map(i => Row(i, i % 2, Seq((if (i % 2 == 0) 1.0f else -1.0f), 0.2f))): _*)
    val r = df(StructType(Seq(StructField("rid", LongType), StructField("rk", LongType),
      StructField("re", emb))),
      (0L to 1L).map(i => Row(i + 100, i, Seq((if (i == 0) 1.0f else -1.0f), 0.2f))): _*)
    l.write.mode("overwrite").parquet(s"$dir/l.parquet")
    r.write.mode("overwrite").parquet(s"$dir/r.parquet")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  l: { path: $dir/l.parquet }
         |  r: { path: $dir/r.parquet }
         |pipeline:
         |  steps:
         |    - name: j
         |      join:
         |        left: l
         |        right: r
         |        condition: "lk = rk"
         |        compare_left: "cast(lk as string)"
         |        compare_right: "cast(rk as string)"
         |        llm_verify: true
         |        cascade: { calibration_size: 4 }
         |        blocking: { method: embedding, left_emb: le, right_emb: re,
         |                    dim: 2, threshold: 0.9 }
         |""".stripMargin, spark)
    assert(out.count() == 8) // every left row matches its rk partner
  }
}

class SinkSpec extends SparkSpec {
  test("partitioned path sink prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString
    docsDf.createOrReplaceTempView("sink_docs")
    Pipeline.runYaml(
      s"""datasets: { docs: { path: $dir/in.parquet } }
         |operations:
         |  - { name: keep, type: code_filter, predicate: "true" }
         |pipeline:
         |  steps:
         |    - { name: s1, input: docs, operations: [keep] }
         |  output: { path: $dir/out.parquet, partition_by: [lang] }
         |""".stripMargin.replace(s"$dir/in.parquet", writeDocs(dir)), spark)
    val back = spark.read.parquet(s"$dir/out.parquet").filter(col("lang") === "de")
    assert(back.count() == 1)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("lang#"))
  }

  test("bucketed table sink co-locates joins: no shuffle on the bucket key") {
    // DROP alone misses stale warehouse dirs from previous JVMs (the derby
    // metastore does not survive the fork, the directory does)
    Seq("graft_bkt_a", "graft_bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("bkt").toString
    def sink(table: String) = Pipeline.runYaml(
      s"""datasets: { docs: { path: ${writeDocs(dir)} } }
         |operations:
         |  - { name: keep, type: code_filter, predicate: "true" }
         |pipeline:
         |  steps:
         |    - { name: s1, input: docs, operations: [keep] }
         |  output: { table: $table, bucket_by: [doc_id], num_buckets: 4 }
         |""".stripMargin, spark)
    sink("graft_bkt_a")
    sink("graft_bkt_b")
    val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "doc_id")
    assert(joined.count() == docsDf.count())
    // both sides bucketed on the join key -> no Exchange in the plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"))
  }

  private def writeDocs(dir: String): String = {
    val p = s"$dir/docs.parquet"
    docsDf.write.mode("overwrite").parquet(p)
    p
  }
}

class ValidateSpec extends SparkSpec {

  test("clean pipeline yields no issues") {
    val conf = Conf.fromYaml(
      """datasets: { docs: { path: /tmp/docs.parquet } }
        |operations:
        |  - { name: stats, type: code_map, outputs: { n: "1" } }
        |pipeline:
        |  steps:
        |    - { name: s1, input: docs, operations: [stats] }
        |""".stripMargin)
    assert(Pipeline.validate(conf).isEmpty)
  }

  test("flags unknown inputs, op refs, and op types") {
    val conf = Conf.fromYaml(
      """datasets: { docs: { path: /tmp/docs.parquet } }
        |operations:
        |  - { name: bad, type: no_such_type }
        |pipeline:
        |  steps:
        |    - { name: s1, input: nope, operations: [bad, ghost] }
        |""".stripMargin)
    val issues = Pipeline.validate(conf)
    assert(issues.exists(_.contains("unknown input 'nope'")))
    assert(issues.exists(_.contains("unknown op type 'no_such_type'")))
    assert(issues.exists(_.contains("unknown operation 'ghost'")))
  }

  test("flags a predicate reading a dropped field and a multi-bool filter") {
    val conf = Conf.fromYaml(
      """datasets: { docs: { path: /tmp/docs.parquet } }
        |operations:
        |  - { name: m, type: code_map, outputs: { a: "1" }, drop_keys: [text] }
        |  - { name: f, type: code_filter, predicate: "length(text) > 3" }
        |  - name: sf
        |    type: filter
        |    prompt: "{{ input.a }}"
        |    output: { schema: { keep: bool, also: bool } }
        |pipeline:
        |  steps:
        |    - { name: s1, input: docs, operations: [m, f, sf] }
        |""".stripMargin)
    val issues = Pipeline.validate(conf)
    assert(issues.exists(_.contains("reads removed field(s) text")))
    assert(issues.exists(_.contains("exactly one bool")))
  }

  test("a field re-created after a drop is live again") {
    val conf = Conf.fromYaml(
      """datasets: { docs: { path: /tmp/docs.parquet } }
        |operations:
        |  - { name: m, type: code_map, outputs: { a: "1" }, drop_keys: [text] }
        |  - { name: remake, type: code_map, outputs: { text: "'x'" } }
        |  - { name: f, type: code_filter, predicate: "length(text) > 3" }
        |pipeline:
        |  steps:
        |    - { name: s1, input: docs, operations: [m, remake, f] }
        |""".stripMargin)
    assert(Pipeline.validate(conf).isEmpty)
  }

  test("step-level sample truncates the input and forks the checkpoint key") {
    val dir = java.nio.file.Files.createTempDirectory("stepsample").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    def conf(sample: Option[Int]) = Conf.fromYaml(
      s"""checkpoint_dir: $dir/ckpt
         |datasets: { docs: { path: $dir/docs.parquet } }
         |operations:
         |  - { name: stats, type: code_map, outputs: { n: "length(text)" } }
         |pipeline:
         |  steps:
         |    - { name: s1, input: docs${sample.map(n => s", sample: $n").getOrElse("")},
         |        operations: [stats] }
         |""".stripMargin)
    assert(Pipeline.run(conf(Some(2)), spark).count() == 2)
    // the full run must not reuse the sampled run's checkpoint
    assert(Pipeline.run(conf(None), spark).count() == docsDf.count())
  }

  test("join-headed steps validate their sides") {
    val conf = Conf.fromYaml(
      """datasets: { l: { path: /tmp/l.parquet } }
        |pipeline:
        |  steps:
        |    - { name: j, join: { left: l, right: missing, condition: "1=1" } }
        |""".stripMargin)
    assert(Pipeline.validate(conf).exists(_.contains("unknown join input 'missing'")))
  }
}

class RankTopkExtraSpec extends SparkSpec {

  private lazy val emb = {
    val rows = (0 until 20).map { i =>
      Row(i.toLong, s"doc number $i with text", Seq.tabulate(4)(j => (i * (j + 1)).toFloat / 20f))
    }
    df(StructType(Seq(StructField("id", LongType), StructField("t", StringType),
      StructField("e", ArrayType(FloatType)))), rows: _*)
  }

  test("calibrated-embedding rank is deterministic, dense, and complete") {
    val out = RankOp.byCalibratedEmbedding(emb, "cal", "e", "t",
      MockLlmClient(), sampleSize = 5, tieBreak = Seq("id"))
    val ranks = out.select("_rank").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to 20L))
    val again = RankOp.byCalibratedEmbedding(emb, "cal", "e", "t",
      MockLlmClient(), sampleSize = 5, tieBreak = Seq("id"))
    assert(out.select("id", "_rank").collect().toSeq ==
      again.select("id", "_rank").collect().toSeq)
  }

  test("llm_compare topk returns exactly k best-rated rows") {
    val out = TopKOp.llmCompare(docsDf, "tk", "{{ input.text }}", k = 3,
      MockLlmClient(), tieBreak = Seq("doc_id"))
    assert(out.count() == 3)
    assert(out.columns.contains("rating"))
  }
}

class BinaryAttachSpec extends SparkSpec {
  test("binary attach rides the prompt; mock int rule sees the full length") {
    val d = docsDf.withColumn("payload", col("text").cast("binary"))
    val out = SemanticMap(d, SemanticMapConfig(
      name = "att", prompt = "{{ input.text }}",
      outputSchema = Seq("prompt_len" -> "int"),
      binaryAttachCol = Some("payload")), MockLlmClient())
    val r = out.filter(col("doc_id") === 3).select("prompt_len").head().getLong(0)
    val text = "der die und das mit window"
    val expected = text.length + "\nATTACHMENT:".length +
      java.util.Base64.getEncoder.encodeToString(text.getBytes("UTF-8")).length
    assert(r == expected)
  }
}

class CascadeCompareSpec extends SparkSpec {

  test("precision calibration picks the smallest threshold meeting the target") {
    // (conf, oracleTruth) for proxy-accepted pairs
    val labeled = Seq((0.1, false), (0.3, false), (0.5, true), (0.7, true), (0.9, true))
    assert(CascadeCompare.calibratePrecision(labeled, 1.0) == 0.5)
    assert(CascadeCompare.calibratePrecision(labeled, 0.6) == 0.1)
    assert(CascadeCompare.calibratePrecision(labeled, 0.8) == 0.5)
  }

  test("cascaded equijoin equals the plain verified join on the shared mock") {
    val nat = df(StructType(Seq(StructField("nk", LongType), StructField("n_name", StringType))),
      Row(0L, "FRANCE"), Row(1L, "GERMANY"))
    val cust = df(StructType(Seq(StructField("ck", LongType), StructField("cnk", LongType))),
      (1L to 6L).map(i => Row(i, i % 2)): _*)
    def run(cascade: Option[CascadeCompare.Config]) =
      EquijoinOp(cust, nat, EquijoinOp.Config(
        name = "cc", condition = "cnk = nk",
        compareExprLeft = "cast(cnk as string)",
        compareExprRight = "cast(nk as string)",
        llmVerify = true, cascade = cascade), MockLlmClient())
        .select("ck", "n_name").orderBy("ck").collect().toSeq
    assert(run(Some(CascadeCompare.Config())) == run(None))
  }

  test("response cache dedupes verify calls per unique pair render") {
    graft.llm.TokenTally.reset()
    graft.llm.LlmCache.clear()
    val nat = df(StructType(Seq(StructField("nk", LongType), StructField("n_name", StringType))),
      (0L to 1L).map(i => Row(i, s"N$i")): _*)
    val cust = df(StructType(Seq(StructField("ck", LongType), StructField("cnk", LongType))),
      (1L to 20L).map(i => Row(i, i % 2)): _*)
    EquijoinOp(cust, nat, EquijoinOp.Config(
      name = "cc2", condition = "cnk = nk",
      compareExprLeft = "cast(cnk as string)",
      compareExprRight = "cast(nk as string)",
      llmVerify = true,
      cascade = Some(CascadeCompare.Config(calibrationSize = 5))), MockLlmClient())
      .count()
    val tally = graft.llm.TokenTally.summary
    // 20 candidate pairs but only 2 unique renders ("0###0", "1###1") — the
    // executor-local cache absorbs the rest (getOrCompute may double-compute
    // a key when partitions race, so the bound is loose but far below 20).
    assert(tally("proxy").calls <= 4)
    assert(tally.get("oracle").forall(_.calls <= 4))
  }
}

class ReduceObservabilitySpec extends SparkSpec {
  test("reduce observability column carries the prompts used") {
    val out = SemanticReduce(docsDf, SemanticReduce.Config(
      name = "ob", reduceKeys = Seq("lang"), memberExpr = "text",
      orderKey = "doc_id", outputSchema = Seq("summary" -> "str"),
      strategy = "fold", foldBatchSize = 2, enableObservability = true),
      MockLlmClient())
    val en = out.filter(col("lang") === "en").head()
    val obs = en.getString(en.fieldIndex("_observability_ob"))
    assert(obs.contains("the fast spark join is good and fast"))
    assert(obs.contains("ACC:")) // fold chain carried the accumulator
    assert(obs.contains("\n=====\n")) // multiple fold prompts recorded
  }
}

class ResolveLimitComparisonsSpec extends SparkSpec {
  test("limit_comparisons caps the pairwise verdicts deterministically") {
    MockLlmClient.resetCalls()
    graft.llm.LlmCache.clear() // counts must not dedupe against other suites
    val d = df(StructType(Seq(StructField("id", LongType), StructField("k", StringType),
      StructField("v", StringType))),
      Row(1L, "a", "x1"), Row(2L, "a", "x2"), Row(3L, "a", "x3"),
      Row(4L, "b", "y1"), Row(5L, "b", "y2"))
    // block on k: 'a' yields 3 pairs, 'b' 1 pair; cap at 2 -> only (1,2),(1,3)
    val client = MockLlmClient()
    val before = client.callCount
    ResolveOp(d, ResolveOp.Config(
      name = "lc", idKey = "id", blockExpr = "k", compareExpr = "v",
      resolveKeys = Seq("v"), limitComparisons = Some(2)), client).count()
    // 2 compare calls (capped) — the canonicalize stage adds 0 because no
    // pair matches (all renders differ under the mock equality rule)
    assert(client.callCount - before == 2)
  }
}

class GatherHeadersSpec extends SparkSpec {
  test("header breadcrumbs carry the latest header per level forward") {
    val hdr = ArrayType(StructType(Seq(
      StructField("level", IntegerType), StructField("header", StringType))))
    val d = df(StructType(Seq(StructField("doc", LongType), StructField("ord", LongType),
      StructField("chunk", StringType), StructField("hs", hdr))),
      Row(1L, 1L, "intro text", Seq(Row(1, "Title"))),
      Row(1L, 2L, "body text", Seq(Row(2, "Section A"))),
      Row(1L, 3L, "more text", Seq.empty[Row]))
    val out = GatherOp(d, "chunk", "doc", "ord", headersCol = Some("hs"))
      .orderBy("ord").select("chunk_rendered").collect().map(_.getString(0))
    assert(out(0).startsWith("# Title\n"))
    assert(out(1).startsWith("# Title\n## Section A\n"))
    assert(out(2).startsWith("# Title\n## Section A\n")) // carried forward
  }
}

class PairwiseRankSpec extends SparkSpec {
  /** "is A better than B" = A's render is longer. */
  private object LongerWins extends LlmClient {
    override def complete(model: String, prompt: String, schema: StructType) = {
      val i = prompt.indexOf("\n###\n")
      val win = prompt.substring(0, i).length > prompt.substring(i + 5).length
      graft.llm.LlmResponse(Map("is_match" -> win), 0.0)
    }
    override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
      texts.map(_ => Array.empty[Float])
  }

  test("pairwise rank orders by win count") {
    val d = df(StructType(Seq(StructField("id", LongType), StructField("t", StringType))),
      Row(1L, "aaaa"), Row(2L, "aaaaaaaa"), Row(3L, "aa"))
    val out = RankOp.byPairwise(d, "pw", "id", "t", LongerWins, tieBreak = Seq("id"))
      .select("id", "_rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 1L, 1L -> 2L, 3L -> 3L))
  }
}

class HybridRetrieverSpec extends SparkSpec {
  test("hybrid blends vector and lexical scores") {
    val emb = ArrayType(FloatType)
    val d = df(StructType(Seq(StructField("q", StringType), StructField("e", emb))),
      Row("spark join", Seq(1.0f, 0.0f)))
    val corpus = df(StructType(Seq(StructField("ct", StringType), StructField("ce", emb))),
      Row("spark join text", Seq(0.0f, 1.0f)),   // lexical hit, vector miss
      Row("unrelated words", Seq(1.0f, 0.0f)))   // vector hit, lexical miss
    def top(vw: Double) = RetrieverOp.byHybrid(d, "h", "e", "q", corpus,
      "ce", "ct", "ct", k = 1, vectorWeight = vw)
      .select("_h_retrieved_context").head().getString(0)
    assert(top(0.0) == "spark join text")
    assert(top(1.0) == "unrelated words")
  }
}

class ResolveCascadeSpec extends SparkSpec {
  test("cascaded resolve equals the plain resolve on the shared mock") {
    val d = df(StructType(Seq(StructField("id", LongType), StructField("k", StringType),
      StructField("v", StringType))),
      Row(1L, "a", "x"), Row(2L, "a", "x"), Row(3L, "a", "z"), Row(4L, "b", "w"))
    def run(cascade: Option[CascadeCompare.Config]) =
      ResolveOp(d, ResolveOp.Config(
        name = "rc", idKey = "id", blockExpr = "k", compareExpr = "v",
        resolveKeys = Seq("v"), cascade = cascade), MockLlmClient())
        .select("id", "v").orderBy("id").collect().toSeq
    assert(run(Some(CascadeCompare.Config())) == run(None))
  }
}

class EquijoinAutoThresholdSpec extends SparkSpec {
  test("auto blocking calibrates a threshold that keeps labeled matches") {
    val emb = ArrayType(FloatType)
    // matches (same nk) get near-identical vectors; non-matches opposite
    val l = df(StructType(Seq(StructField("lid", LongType), StructField("nk", LongType),
      StructField("le", emb))),
      (1L to 8L).map(i => Row(i, i % 2, Seq((if (i % 2 == 0) 1.0f else -1.0f), 0.1f))): _*)
    val r = df(StructType(Seq(StructField("rid", LongType), StructField("nk2", LongType),
      StructField("re", emb))),
      (0L to 1L).map(i => Row(i + 100, i, Seq((if (i == 0) 1.0f else -1.0f), 0.1f))): _*)
    val (joined, threshold) = EquijoinOp.withAutoEmbeddingBlocking(
      l, r, EquijoinOp.Config(
        name = "auto", condition = "nk = nk2",
        compareExprLeft = "cast(nk as string)",
        compareExprRight = "cast(nk2 as string)"),
      "le", "re", dim = 2, MockLlmClient())
    assert(threshold > 0.9) // same-bucket matches are near-identical vectors
    assert(joined.count() == 8) // every left row finds its nk partner
  }
}

/** Judge always refines; the answer schema follows the mock rules.
  * (Top-level so the closure doesn't drag the spec instance; delegates to
  * the mock so the global call counter survives serialization.) */
case class AlwaysRefineClient(inner: MockLlmClient = MockLlmClient()) extends LlmClient {
  override def complete(model: String, prompt: String, schema: StructType) =
    if (schema.fieldNames.contains("should_refine")) {
      inner.complete(model, prompt, schema) // counted
      graft.llm.LlmResponse(Map("should_refine" -> true, "improvements" -> "more"), 0.0)
    } else inner.complete(model, prompt, schema)
  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
    inner.embed(model, texts)
}

class ReduceGleaningSpec extends SparkSpec {
  test("reduce gleaning refines up to numRounds then stops") {
    val client = AlwaysRefineClient()
    def run(gleaning: Option[GleaningConfig]) = {
      MockLlmClient.resetCalls()
      graft.llm.LlmCache.clear() // isolate the two runs
      val rows = SemanticReduce(docsDf, SemanticReduce.Config(
        name = "gl", reduceKeys = Seq("lang"), memberExpr = "text",
        orderKey = "doc_id", outputSchema = Seq("summary" -> "str"),
        gleaning = gleaning), client).orderBy("lang").collect()
      (rows, client.inner.callCount)
    }
    val (plain, plainCalls) = run(None)
    val (gleaned, gleanedCalls) = run(Some(GleaningConfig("complete?", numRounds = 2)))
    assert(plainCalls == 2) // one answer per group
    // per group: 1 initial + 2 x (judge + refined answer) = 5 -> 10 total
    assert(gleanedCalls == 10)
    // the refined prompt is longer, so the mock summary differs
    assert(gleaned.map(_.getString(1)).toSeq != plain.map(_.getString(1)).toSeq)
  }
}

class RetryingClientSpec extends SparkSpec {
  private class FlakyNTimes(n: Int) extends LlmClient {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    override def complete(model: String, prompt: String, schema: StructType) = {
      if (attempts.incrementAndGet() <= n) throw new RuntimeException("transient")
      graft.llm.LlmResponse(Map("rating" -> 5L), 0.0)
    }
    override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
      texts.map(_ => Array.empty[Float])
  }
  private val ratingSchema = StructType(Seq(StructField("rating", LongType)))

  test("retries transient failures up to maxRetries") {
    val flaky = new FlakyNTimes(2)
    val client = graft.llm.RetryingClient(flaky, maxRetries = 2, backoffMs = 1)
    assert(client.complete("m", "p", ratingSchema).values("rating") == 5L)
    assert(flaky.attempts.get() == 3)
  }

  test("gives up after maxRetries and rethrows") {
    val flaky = new FlakyNTimes(10)
    val client = graft.llm.RetryingClient(flaky, maxRetries = 1, backoffMs = 1)
    intercept[RuntimeException] { client.complete("m", "p", ratingSchema) }
    assert(flaky.attempts.get() == 2)
  }

  test("abandons calls that exceed the timeout") {
    val slow = new LlmClient {
      override def complete(model: String, prompt: String, schema: StructType) = {
        Thread.sleep(10000); graft.llm.LlmResponse(Map.empty, 0.0)
      }
      override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] = Nil
    }
    val client = graft.llm.RetryingClient(slow, timeoutMs = 50, maxRetries = 0)
    intercept[java.util.concurrent.TimeoutException] {
      client.complete("m", "p", ratingSchema)
    }
  }
}

class DiskCacheSpec extends SparkSpec {
  test("disk tier survives a memory clear") {
    val dir = java.nio.file.Files.createTempDirectory("llmdisk").toString
    graft.llm.LlmCache.clear()
    graft.llm.LlmCache.enableDisk(dir)
    try {
      val r = graft.llm.LlmResponse(Map("summary" -> "cached!"), 0.01, 10, 5)
      graft.llm.LlmCache.put("k1", r)
      graft.llm.LlmCache.clear() // memory gone, disk remains
      val hit = graft.llm.LlmCache.get("k1")
      assert(hit.exists(_.values("summary") == "cached!"))
      assert(hit.exists(_.inputTokens == 10))
      // getOrCompute must NOT recompute
      var computed = false
      graft.llm.LlmCache.clear()
      val v = graft.llm.LlmCache.getOrCompute("k1", {
        computed = true; graft.llm.LlmResponse(Map.empty, 0.0)
      })
      assert(!computed && v.values("summary") == "cached!")
    } finally {
      graft.llm.LlmCache.disableDisk()
      graft.llm.LlmCache.clear()
    }
  }
}

class ReduceSkipOnErrorSpec extends SparkSpec {
  test("a failing group is dropped when skipOnError is set, kept groups survive") {
    val failDe = new LlmClient {
      private val inner = MockLlmClient()
      override def complete(model: String, prompt: String, schema: StructType) = {
        if (prompt.contains("der die und das")) throw new RuntimeException("boom")
        inner.complete(model, prompt, schema)
      }
      override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
        inner.embed(model, texts)
    }
    def cfg(skip: Boolean) = SemanticReduce.Config(
      name = "se", reduceKeys = Seq("lang"), memberExpr = "text",
      orderKey = "doc_id", outputSchema = Seq("summary" -> "str"),
      skipOnError = skip)
    graft.llm.LlmCache.clear()
    val out = SemanticReduce(docsDf, cfg(skip = true), failDe).collect()
    assert(out.map(_.getString(0)).toSet == Set("en")) // de group dropped
    graft.llm.LlmCache.clear()
    intercept[org.apache.spark.SparkException] {
      SemanticReduce(docsDf, cfg(skip = false), failDe).collect()
    }
  }
}

class ValueSamplingSpec extends SparkSpec {

  test("sem_sim and diverse sampling bound the members deterministically") {
    import graft.ops.SemanticReduce
    def run(mode: String, query: Option[String]) =
      SemanticReduce(docsDf, SemanticReduce.Config(
        name = "vs2", reduceKeys = Seq("lang"), memberExpr = "text",
        orderKey = "doc_id", outputSchema = Seq("summary" -> "str"),
        valueSampleSize = Some(2), valueSampleMode = mode,
        valueSampleQuery = query), MockLlmClient())
        .orderBy("lang").collect().toSeq
    val s1 = run("sem_sim", Some("spark join"))
    assert(s1 == run("sem_sim", Some("spark join"))) // deterministic
    val en = s1.find(_.getString(0) == "en").get
    assert(en.getString(en.fieldIndex("summary")).startsWith("docs=2 "))
    val d1 = run("diverse", None)
    assert(d1 == run("diverse", None))
    intercept[org.apache.spark.SparkException] { run("sem_sim", None) } // needs query
    intercept[org.apache.spark.SparkException] { run("typo", None) }
  }

  test("random value sampling is deterministic and bounds the prompt, not the counts") {
    val cfg = SemanticReduce.Config(
      name = "vs", reduceKeys = Seq("lang"), memberExpr = "text",
      orderKey = "doc_id", outputSchema = Seq("summary" -> "str"),
      valueSampleSize = Some(2), valueSampleMode = "random")
    val out1 = SemanticReduce(docsDf, cfg, MockLlmClient())
      .orderBy("lang").collect().toSeq
    val out2 = SemanticReduce(docsDf, cfg, MockLlmClient())
      .orderBy("lang").collect().toSeq
    assert(out1 == out2) // deterministic
    val en = out1.find(_.getString(0) == "en").get
    // counts reflect the FULL group (5 en docs) even though only 2 sampled
    assert(en.getLong(en.fieldIndex("_counts_prereduce_vs")) == 5L)
    // summary over 2 members -> "docs=2 chars=..."
    assert(en.getString(en.fieldIndex("summary")).startsWith("docs=2 "))
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.types._

import graft.api.Pipeline
import graft.core.SchemaTypes
import graft.llm.{LlmClient, MockLlmClient}
import graft.ops.{GleaningConfig, SemanticMap, SemanticMapConfig, ValueSampling}

/** Round-5: gleaning `if` gates, enum schemas, cluster value-sampling, the
  * YAML surface for previously Scala-only methods, and instrumented runs. */
class GleanConditionSpec extends SparkSpec {

  private def gc(cond: String) = GleaningConfig("judge", 2, Some(cond))

  test("comparisons over output fields") {
    val out = Map[String, Any]("score" -> 3L, "label" -> "bad", "ok" -> true)
    assert(gc("output.score < 5").shouldGlean(out))
    assert(!gc("output.score >= 5").shouldGlean(out))
    assert(gc("output.label == 'bad'").shouldGlean(out))
    assert(!gc("output.label != 'bad'").shouldGlean(out))
    assert(gc("output.score == 3.0").shouldGlean(out))
  }

  test("boolean combinators and truthiness") {
    val out = Map[String, Any]("score" -> 3L, "label" -> "", "ok" -> true)
    assert(gc("output.ok").shouldGlean(out))
    assert(!gc("output.label").shouldGlean(out)) // empty string falsy
    assert(gc("output.ok and output.score < 5").shouldGlean(out))
    assert(!gc("output.ok and output.label").shouldGlean(out))
    assert(gc("output.label or output.score == 3").shouldGlean(out))
    assert(gc("not output.label").shouldGlean(out))
  }

  test("missing fields and evaluation errors skip gleaning (safe_eval parity)") {
    val out = Map[String, Any]("score" -> 3L)
    assert(!gc("output.nope").shouldGlean(out)) // missing -> null -> falsy
    assert(!gc("output.score < 'x'").shouldGlean(out)) // type error -> false
    assert(!gc("garbage !!").shouldGlean(out)) // parse error -> false
    assert(GleaningConfig("judge", 2, None).shouldGlean(out)) // no gate -> glean
  }
}

class GleaningIfGateSpec extends SparkSpec {

  private def docs(prefix: String) = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    df(schema, (1 to 6).map(i => Row(i.toLong, s"$prefix doc nr $i")): _*)
  }

  test("a false if-condition suppresses every judge call") {
    val client = MockLlmClient()
    graft.llm.LlmCache.clear()
    val before = client.callCount
    // texts contain neither "fast" nor "slow" -> sentiment = neutral -> gate
    // (sentiment == positive) is false -> exactly one call per row.
    val out = SemanticMap(docs("r5gate-off"), SemanticMapConfig(
      name = "g5a", prompt = "{{ input.text }}",
      outputSchema = Seq("sentiment" -> "str"),
      gleaning = Some(GleaningConfig("check quality", 2,
        Some("output.sentiment == 'positive'")))), client)
    assert(out.count() == 6)
    assert(client.callCount - before == 6)
  }

  test("a true if-condition lets gleaning run") {
    val client = MockLlmClient()
    graft.llm.LlmCache.clear()
    val before = client.callCount
    val out = SemanticMap(docs("r5gate-on fast"), SemanticMapConfig(
      name = "g5b", prompt = "{{ input.text }}",
      outputSchema = Seq("sentiment" -> "str"),
      gleaning = Some(GleaningConfig("check quality", 1,
        Some("output.sentiment == 'positive'")))), client)
    assert(out.count() == 6)
    // every row pays at least the judge call on top of the initial one
    assert(client.callCount - before >= 12)
  }
}

class EnumOutputSpec extends SparkSpec {

  test("enum[...] becomes StringType with allowed values in metadata") {
    val st = SchemaTypes.toStruct(Seq("urgency" -> "enum[low, medium, high]"))
    assert(st("urgency").dataType == StringType)
    assert(SchemaTypes.enumOf(st("urgency")).contains(Seq("low", "medium", "high")))
    assert(SchemaTypes.enumOf(StructField("x", StringType)).isEmpty)
  }

  test("mock client picks only allowed values, deterministically") {
    val st = SchemaTypes.toStruct(Seq("c" -> "enum[red, green]"))
    val client = MockLlmClient()
    assert(client.complete("mock", "abc", st).values("c") == "green") // len 3 % 2
    assert(client.complete("mock", "abcd", st).values("c") == "red")  // len 4 % 2
  }

  test("semantic map end-to-end constrains the output column") {
    val schema = StructType(Seq(StructField("t", StringType)))
    val d = df(schema, Row("aa"), Row("bbb"), Row("cccc"), Row("ddddd"))
    val out = SemanticMap(d, SemanticMapConfig(
      name = "e5", prompt = "{{ input.t }}",
      outputSchema = Seq("level" -> "enum[a, b, c]")), MockLlmClient())
    val got = out.select("level").collect().map(_.getString(0)).toSet
    assert(got.subsetOf(Set("a", "b", "c")))
  }
}

class ClusterValueSamplingSpec extends SparkSpec {
  test("cluster mode picks one representative per embedding cluster") {
    val vecs = Map(
      "a1" -> Array(1f, 0f), "a2" -> Array(0.99f, 0.01f), "a3" -> Array(0.98f, 0f),
      "b1" -> Array(0f, 1f), "b2" -> Array(0.01f, 0.99f))
    val fixed = new LlmClient {
      override def complete(model: String, prompt: String, schema: StructType) =
        graft.llm.LlmResponse(Map.empty, 0.0)
      override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
        texts.map(vecs)
    }
    graft.llm.LlmCache.clear()
    val meter = graft.llm.Meter(spark, "vs")
    val out = ValueSampling(Seq("a1", "a2", "a3", "b1", "b2"), 2, "cluster", None, "m", fixed, meter)
    assert(out.size == 2)
    // one member from the a-cluster, one from the b-cluster
    assert(out.count(_.startsWith("a")) == 1 && out.count(_.startsWith("b")) == 1)
    // deterministic across calls
    val again = ValueSampling(Seq("a1", "a2", "a3", "b1", "b2"), 2, "cluster", None, "m", fixed, meter)
    assert(out == again)
  }

  test("groups at or below k pass through untouched") {
    val fixed = new LlmClient {
      override def complete(model: String, prompt: String, schema: StructType) =
        graft.llm.LlmResponse(Map.empty, 0.0)
      override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
        texts.map(_ => Array(1f))
    }
    assert(ValueSampling(Seq("x", "y"), 5, "cluster", None, "m", fixed,
      graft.llm.Meter(spark, "vs")) == Seq("x", "y"))
  }
}

/** YAML/registry exposure for methods that were Scala-API-only (VERDICT r2
  * "missing" #5): each config round-trips through Pipeline.runYaml. */
class Round5YamlSpec extends SparkSpec {

  private def writeDocs(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    docsDf.write.mode("overwrite").parquet(s"$dir/d.parquet")
    s"$dir/d.parquet"
  }

  private def writeEmb(name: String, n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("grp", LongType), StructField("emb", ArrayType(FloatType)),
      StructField("t", StringType)))
    val rows = (1 to n).map { i =>
      val c = i % 2
      Row(i.toLong, (i % 3).toLong,
        Seq((c * 2.0 + (i % 5) * 0.01).toFloat, ((1 - c) * 2.0).toFloat),
        s"member $i of cluster $c")
    }
    df(schema, rows: _*).write.mode("overwrite").parquet(s"$dir/d.parquet")
    s"$dir/d.parquet"
  }

  test("rank calibrated via YAML matches the direct call") {
    val path = writeEmb("r5rankcal", 30)
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: rank, name: rc, method: calibrated, embedding_key: emb,
         |            prompt_expr: "t", sample_size: 4, tie_break: [id] }
         |""".stripMargin, spark)
    val direct = graft.ops.RankOp.byCalibratedEmbedding(
      spark.read.parquet(path), "rc", "emb", "t", MockLlmClient(),
      sampleSize = 4, tieBreak = Seq("id"))
    assert(out.select("id", "_rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      direct.select("id", "_rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("rank pairwise via YAML (blocked) assigns ranks") {
    val path = writeEmb("r5rankpw", 12)
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: rank, name: pw, method: pairwise, id_key: id,
         |            render_expr: "t", block_expr: "id % 3", tie_break: [id] }
         |""".stripMargin, spark)
    assert(out.count() == 12 && out.columns.contains("_rank"))
  }

  test("topk llm_compare and stratified embedding via YAML") {
    val path = writeEmb("r5topk", 20)
    val lc = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: topk, name: tk, method: llm_compare, k: 3,
         |            prompt: "{{ input.t }}", tie_break: [id] }
         |""".stripMargin, spark)
    assert(lc.count() == 3)
    val strat = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: topk, name: tks, method: embedding, k: 2,
         |            embedding_key: emb, query_vector: [1.0, 0.0],
         |            stratify_key: grp, tie_break: [id] }
         |""".stripMargin, spark)
    // 3 strata x 2 per stratum
    assert(strat.count() == 6)
    assert(strat.groupBy("grp").count().collect().forall(_.getLong(1) == 2))
  }

  test("hierarchical cluster via YAML annotates root-to-leaf paths") {
    val path = writeEmb("r5hier", 40)
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: cluster, name: hc, method: hierarchical, depth: 2,
         |            embedding_key: emb, render_expr: "t" }
         |""".stripMargin, spark)
    // depth 2 -> root + 2 levels of summaries per row
    assert(out.filter(size(col("clusters")) === 3).count() == 40)
  }

  test("cluster summary_prompt and summary_schema shape node labels") {
    val path = writeEmb("r5csum", 20)
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: cluster
         |          name: cs
         |          embedding_key: emb
         |          render_expr: "t"
         |          num_clusters: 2
         |          summary_prompt: "Summarize these members: {{ inputs }}"
         |          summary_schema: { summary: str }
         |""".stripMargin, spark)
    assert(out.count() == 20)
    // mock summary rule sees the custom prompt: docs=N counts the prompt's
    // lines, which now include the instruction line
    val labels = out.selectExpr("clusters[0]").distinct().collect().map(_.getString(0))
    assert(labels.forall(_.startsWith("docs=")))
    // multi-field schema renders k=v pairs
    val multi = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: cluster
         |          name: cm
         |          embedding_key: emb
         |          render_expr: "t"
         |          num_clusters: 2
         |          summary_schema: { summary: str, size_estimate: int }
         |""".stripMargin, spark)
    val ml = multi.selectExpr("clusters[0]").head().getString(0)
    assert(ml.contains("size_estimate=") && ml.contains("summary="))
  }

  test("custom sampling via YAML keeps only the listed key subsets") {
    val path = writeDocs("r5custom")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: sample
         |          name: sc
         |          method: custom
         |          samples:
         |            - { doc_id: 1 }
         |            - { doc_id: 3 }
         |""".stripMargin, spark)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("resolve with embedding blocking via YAML merges exact duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("r5resblk").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("emb", ArrayType(FloatType))))
    // ids 1/2 identical (same name+embedding), 3/4 identical, 5 unique
    val rows = Seq(
      Row(1L, "acme corp", Seq(1f, 0f, 0f, 0f)),
      Row(2L, "acme corp", Seq(1f, 0f, 0f, 0f)),
      Row(3L, "globex", Seq(0f, 1f, 0f, 0f)),
      Row(4L, "globex", Seq(0f, 1f, 0f, 0f)),
      Row(5L, "initech", Seq(0f, 0f, 1f, 0f)))
    df(schema, rows: _*).write.mode("overwrite").parquet(s"$dir/d.parquet")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: resolve
         |          name: rb
         |          id_key: id
         |          compare_expr: "name"
         |          resolve_keys: [name]
         |          blocking: { method: embedding, embedding_key: emb, dim: 4,
         |                      sample_size: 10 }
         |""".stripMargin, spark)
    // 1:1 cardinality, names canonicalized within duplicate pairs
    assert(out.count() == 5)
    val names = out.select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(names(1L) == names(2L) && names(3L) == names(4L))
    assert(names(5L) == "initech")
  }

  test("map with retriever injects corpus context into the prompt") {
    val dir = java.nio.file.Files.createTempDirectory("r5retr").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/d.parquet")
    // corpus where every document mentions "fast": any retrieved context
    // flips the mock sentiment rule to positive — but ONLY rows sharing at
    // least one token retrieve anything (zero-overlap rows get null
    // context on both sides of the corpus gate, round 9 unification)
    val corpus = df(StructType(Seq(StructField("ctext", StringType))),
      Row("everything is fast here"), Row("fast fast fast"))
    corpus.write.mode("overwrite").parquet(s"$dir/c.parquet")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |  c: { path: $dir/c.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: map
         |          name: rm
         |          prompt: "{{ input.text }}"
         |          retriever: { corpus: c, query_key: text, corpus_text_key: ctext, k: 1 }
         |          save_retriever_output: true
         |          output: { schema: { sentiment: str } }
         |""".stripMargin, spark)
    val rows = out.collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("sentiment"), Option(r.getAs[String]("_rm_retrieved_context")))).toMap
    // overlapping rows (docs 1/4/5 share "fast"/"is", doc 6 shares "here"):
    // context prepended -> prompt contains "fast" -> positive
    Seq(1L, 4L, 5L, 6L).foreach { id =>
      assert(byId(id)._1 == "positive" && byId(id)._2.exists(_.nonEmpty), s"doc $id")
    }
    // zero-overlap rows retrieve nothing: the prompt is the bare text, so
    // the mock rule sees "slow" (doc 2) / neither (doc 3)
    assert(byId(2L) == ("negative", None))
    assert(byId(3L) == ("neutral", None))
    // without save_retriever_output the column is dropped
    val out2 = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |  c: { path: $dir/c.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: map
         |          name: rm2
         |          prompt: "{{ input.text }}"
         |          retriever: { corpus: c, query_key: text, corpus_text_key: ctext, k: 1 }
         |          output: { schema: { sentiment: str } }
         |""".stripMargin, spark)
    assert(!out2.columns.contains("_rm2_retrieved_context"))
  }

  test("reduce associative: true dispatches to partial-aggregation fold") {
    val path = writeDocs("r5assoc")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: reduce
         |          name: ar5
         |          reduce_key: [lang]
         |          member_expr: "text"
         |          associative: true
         |          output: { schema: { acc: str } }
         |""".stripMargin, spark)
    // mock `acc` rule counts members associatively: en group has 5 docs
    val accs = out.collect().map(r => r.getAs[String]("lang") -> r.getAs[String]("acc")).toMap
    assert(accs("en") == "n=5" && accs("de") == "n=1")
  }

  test("resolve resolution_model canonicalizes with the separate model") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val d = df(schema, Row(1L, "b corp"), Row(2L, "a corp"), Row(3L, "zeta"))
    val out = graft.ops.ResolveOp(d, graft.ops.ResolveOp.Config(
      name = "rr", idKey = "id", blockExpr = "substring(name, -4)",
      compareExpr = "substring(name, -4)", resolveKeys = Seq("name"),
      autoMatchOnBlockEquality = true,
      resolutionModel = Some("strong-model")), MockLlmClient())
    val names = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // ids 1,2 share the block ("corp") -> canonical = lexicographically
    // smallest member (mock `canonical` rule), via the resolution model
    assert(names(1L) == "a corp" && names(2L) == "a corp" && names(3L) == "zeta")
  }

  test("reduce persist_intermediates records each fold step") {
    val path = writeDocs("r5interm")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: reduce
         |          name: pi5
         |          reduce_key: [lang]
         |          member_expr: "text"
         |          order_key: doc_id
         |          strategy: fold
         |          fold_batch_size: 2
         |          persist_intermediates: true
         |          output: { schema: { summary: str } }
         |""".stripMargin, spark)
    val en = out.filter(col("lang") === "en")
      .select("_pi5_intermediates").head().getSeq[String](0)
    // 5 en docs at fold_batch_size 2 -> 3 fold steps, each tagged and
    // carrying the step's output values
    assert(en.size == 3)
    assert(en.zipWithIndex.forall { case (s, i) =>
      s.startsWith(s"iter=$i;") && s.contains("summary=") })
    // batch-strategy groups emit an empty list, not a missing column
    val out2 = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: reduce
         |          name: pi5b
         |          reduce_key: [lang]
         |          member_expr: "text"
         |          order_key: doc_id
         |          persist_intermediates: true
         |          output: { schema: { summary: str } }
         |""".stripMargin, spark)
    assert(out2.select("_pi5b_intermediates").head().getSeq[String](0).isEmpty)
  }

  test("reduce value_sample_mode cluster via YAML bounds the prompt") {
    val path = writeDocs("r5redclu")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: reduce
         |          name: rc5
         |          reduce_key: [lang]
         |          member_expr: "text"
         |          order_key: doc_id
         |          value_sample_size: 2
         |          value_sample_mode: cluster
         |          output: { schema: { summary: str } }
         |""".stripMargin, spark)
    val en = out.filter(col("lang") === "en").select("summary").head().getString(0)
    // 5 en docs sampled down to 2 members -> summary reports docs=2
    assert(en.startsWith("docs=2 "))
    // counts still reflect the full group
    val full = out.filter(col("lang") === "en")
      .select(s"_counts_prereduce_rc5").head().getLong(0)
    assert(full == 5L)
  }
}

class StratifiedCompositionSpec extends SparkSpec {

  private def grid(n: Int) = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType)))
    // group sizes 60/30/10 out of n=100
    df(schema, (1 to n).map { i =>
      Row(i.toLong, if (i <= n * 6 / 10) "a" else if (i <= n * 9 / 10) "b" else "c")
    }: _*)
  }

  test("stratifiedUniform returns exactly n per group, seed-stable") {
    val d = grid(100)
    val out = graft.ops.SampleOp.stratifiedUniform(d, "grp", "id", 5, seed = 3)
    val byGrp = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp == Map("a" -> 5L, "b" -> 5L, "c" -> 5L))
    // same seed -> same rows, regardless of partitioning
    val again = graft.ops.SampleOp.stratifiedUniform(
      d.repartition(7), "grp", "id", 5, seed = 3)
    assert(out.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
    // different seed -> (almost surely) different rows
    val other = graft.ops.SampleOp.stratifiedUniform(d, "grp", "id", 5, seed = 99)
    assert(out.select("id").collect().map(_.getLong(0)).toSet !=
      other.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("stratifiedProportional allocates by group size with exact total") {
    val d = grid(100) // groups 60/30/10
    val out = graft.ops.SampleOp.stratifiedProportional(d, "grp", "id", 10)
    val byGrp = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp == Map("a" -> 6L, "b" -> 3L, "c" -> 1L))
    assert(out.count() == 10)
    // largest-remainder: total not divisible -> still sums to total
    val out2 = graft.ops.SampleOp.stratifiedProportional(d, "grp", "id", 7)
    assert(out2.count() == 7)
    // capacity-aware: total beyond the row count degrades to every row
    // (full strata never strand slots)
    val out3 = graft.ops.SampleOp.stratifiedProportional(d, "grp", "id", 150)
    assert(out3.count() == 100)
  }

  test("YAML: top_embedding / top_fts sample methods alias the topk family") {
    val dir = java.nio.file.Files.createTempDirectory("r5topalias").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("grp", LongType), StructField("emb", ArrayType(FloatType)),
      StructField("t", StringType)))
    val rows = (1 to 20).map { i =>
      Row(i.toLong, (i % 2).toLong, Seq((i * 0.1).toFloat, 1f),
        if (i % 3 == 0) "spark fast join" else "slow scan table")
    }
    df(schema, rows: _*).write.mode("overwrite").parquet(s"$dir/d.parquet")
    val emb = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: sample, name: te, method: top_embedding, samples: 3,
         |            embedding_key: emb, query_vector: [1.0, 0.0],
         |            stratify_key: grp, tie_break: [id] }
         |""".stripMargin, spark)
    assert(emb.count() == 6) // 2 strata x 3
    assert(!emb.columns.contains("_score"))
    val fts = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: sample, name: tf, method: top_fts, samples: 4,
         |            text_key: t, query: "fast join", tie_break: [id] }
         |""".stripMargin, spark)
    assert(fts.count() == 4)
    // BM25 favors the rows containing the query terms
    assert(fts.select("t").collect().forall(_.getString(0).contains("fast")))
  }

  test("YAML: uniform + stratify_key dispatches both modes") {
    val dir = java.nio.file.Files.createTempDirectory("r5strat").toString
    grid(100).write.mode("overwrite").parquet(s"$dir/d.parquet")
    val per = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: sample, name: su, method: uniform, stratify_key: grp,
         |            key_expr: id, samples_per_group: 4 }
         |""".stripMargin, spark)
    assert(per.count() == 12)
    val prop = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: sample, name: sp, method: uniform, stratify_key: grp,
         |            key_expr: id, samples: 20 }
         |""".stripMargin, spark)
    assert(prop.count() == 20)
  }
}

class RunPipelineReportSpec extends SparkSpec {
  test("execution summary reports per-op rows, selectivity, and llm cost") {
    val path = {
      val dir = java.nio.file.Files.createTempDirectory("rp").toString
      docsDf.write.mode("overwrite").parquet(s"$dir/d.parquet")
      s"$dir/d.parquet"
    }
    val yaml = java.nio.file.Files.createTempFile("rp", ".yaml")
    java.nio.file.Files.writeString(yaml,
      s"""datasets:
         |  d: { path: $path }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: map
         |          name: m
         |          prompt: "{{ input.text }}"
         |          output: { schema: { sentiment: str } }
         |        - { type: code_filter, predicate: "sentiment = 'positive'" }
         |""".stripMargin)
    val lines = graft.tools.RunPipeline.runAndReport(yaml.toString, spark, showRows = 0)
    val opLines = lines.filter(_.startsWith("[pipeline] op "))
    assert(opLines.size == 2)
    assert(opLines.head.contains("rows_in=6") && opLines.head.contains("rows_out=6"))
    assert(opLines.head.contains("selectivity=1.0000"))
    // docsDf: 3 "fast" texts -> positive; filter keeps 3 of 6
    assert(opLines(1).contains("rows_out=3") && opLines(1).contains("selectivity=0.5000"))
    assert(lines.exists(l => l.startsWith("[pipeline] llm model=") &&
      l.contains("calls=") && l.contains("cost=$")))
    val total = lines.last
    assert(total.startsWith("[pipeline] total llm cost: $") &&
      !total.endsWith("$0.000000")) // 6 mock calls at 1e-4 accumulate
  }
}

class PeripheralGatherSpec extends SparkSpec {

  private def chunks(n: Int) = {
    val schema = StructType(Seq(
      StructField("doc", LongType), StructField("ord", LongType),
      StructField("chunk", StringType), StructField("sum", StringType)))
    df(schema, (1 to n).map(i =>
      Row(1L, i.toLong, s"content-$i", s"s$i")): _*)
  }

  test("head/tail sections with skip runs match the reference framing") {
    val out = graft.ops.GatherOp.withPeripheralSections(
      chunks(8), "chunk", "doc", "ord",
      previous = graft.ops.GatherOp.SectionSpec(headCount = 1, tailCount = 1),
      next = graft.ops.GatherOp.SectionSpec(tailCount = 1))
    val r5 = out.filter(col("ord") === 5).head().getAs[String]("chunk_rendered")
    // previous side (chunks 1-4): head keeps 1, tail keeps 4, 2+3 skipped
    assert(r5.contains("--- Previous Context ---"))
    assert(r5.contains("[Chunk 1]\ncontent-1"))
    assert(r5.contains(s"[... ${"content-2".length + "content-3".length} characters skipped ...]"))
    assert(r5.contains("[Chunk 4]\ncontent-4"))
    assert(r5.contains("--- Begin Main Chunk ---\ncontent-5\n--- End Main Chunk ---"))
    // next side (chunks 6-8): only tail=1 keeps 8; 6+7 skipped
    assert(r5.contains("[Chunk 8]\ncontent-8"))
    assert(r5.contains(s"[... ${"content-6".length + "content-7".length} characters skipped ...]"))
    assert(r5.contains("--- End Next Context ---"))
  }

  test("middle section renders the summary content key with a (Summary) tag") {
    val out = graft.ops.GatherOp.withPeripheralSections(
      chunks(4), "chunk", "doc", "ord",
      previous = graft.ops.GatherOp.SectionSpec(
        hasMiddle = true, middleContentKey = Some("sum")))
    val r3 = out.filter(col("ord") === 3).head().getAs[String]("chunk_rendered")
    assert(r3.contains("[Chunk 1 (Summary)]\ns1"))
    assert(r3.contains("[Chunk 2 (Summary)]\ns2"))
    // the middle section replaced the full content, not skipped it
    val prevSection = r3.substring(0, r3.indexOf("--- End Previous Context ---"))
    assert(!prevSection.contains("characters skipped") && !prevSection.contains("content-1"))
  }

  test("hierarchy headers render above the main chunk") {
    val hdrType = ArrayType(StructType(Seq(
      StructField("header", StringType), StructField("level", IntegerType))))
    val schema = StructType(Seq(
      StructField("doc", LongType), StructField("ord", LongType),
      StructField("chunk", StringType), StructField("hdrs", hdrType)))
    val d = df(schema,
      Row(1L, 1L, "intro", Seq(Row("Title", 1))),
      Row(1L, 2L, "body", Seq(Row("Section A", 2))),
      Row(1L, 3L, "detail", Seq(Row("Sub A1", 3))))
    val out = graft.ops.GatherOp.withPeripheralSections(
      d, "chunk", "doc", "ord",
      previous = graft.ops.GatherOp.SectionSpec(tailCount = 1),
      docHeaderKey = Some("hdrs"))
    val r3 = out.filter(col("ord") === 3).head().getAs[String]("chunk_rendered")
    // current chunk's own level is 3 -> levels 1 and 2 render as hierarchy
    assert(r3.contains("_Current Section:_ # Title > ## Section A"))
  }

  test("YAML gather with peripheral_chunks dispatches the full renderer") {
    val dir = java.nio.file.Files.createTempDirectory("r5gather").toString
    chunks(6).write.mode("overwrite").parquet(s"$dir/d.parquet")
    val out = Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: gather
         |          content_key: chunk
         |          doc_id_key: doc
         |          order_key: ord
         |          peripheral_chunks:
         |            previous: { head: { count: 1 }, tail: { count: 1 } }
         |            next: { tail: { count: 1 } }
         |""".stripMargin, spark)
    assert(out.count() == 6)
    assert(out.columns.contains("chunk_rendered"))
    val r4 = out.filter(col("ord") === 4).head().getAs[String]("chunk_rendered")
    assert(r4.contains("[Chunk 1]") && r4.contains("[Chunk 3]") && r4.contains("[Chunk 6]"))
  }
}

class InstrumentedRunSpec extends SparkSpec {
  test("runInstrumented records per-op rows in/out and selectivity") {
    val dir = java.nio.file.Files.createTempDirectory("r5instr").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/d.parquet")
    val conf = graft.api.Conf.fromYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: code_map, name: m, outputs: { n_tok: "size(split(text, ' '))" } }
         |        - { type: code_filter, name: f, predicate: "n_tok > 6" }
         |""".stripMargin)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val (_, _, stats) = Pipeline.runInstrumented(conf, spark)
    assert(stats.map(s => (s.step, s.op)) == Seq(("s", "m"), ("s", "f")))
    val Seq(m, f) = stats
    assert(m.rowsIn == 6 && m.rowsOut == 6 && m.selectivity == 1.0)
    assert(f.rowsIn == 6 && f.rowsOut < 6)
    assert(f.selectivity == f.rowsOut.toDouble / 6)
    // instrumentation caches are released after the run
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore)
  }

  test("runInstrumented releases earlier ops' caches when an op throws") {
    val dir = java.nio.file.Files.createTempDirectory("r5instrfail").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/d.parquet")
    def conf(ops: String*) = graft.api.Conf.fromYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |""".stripMargin + ops.map(o => s"        - $o\n").mkString)
    val first = """{ type: code_map, name: m, outputs: { n_tok: "size(split(text, ' '))" } }"""
    intercept[Exception] {
      Pipeline.runInstrumented(conf(first,
        """{ type: code_filter, name: f, predicate: "no_such_col > 1" }"""), spark)
    }
    // the first op's output, rebuilt uninstrumented: same plan as the one
    // the failed run persisted and counted
    val firstOut = Pipeline.runWithSteps(conf(first), spark)._1
    assert(spark.sharedState.cacheManager.lookupCachedData(
      firstOut.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
  }
}

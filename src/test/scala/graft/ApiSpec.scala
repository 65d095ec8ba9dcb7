package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{Conf, Graft, Pipeline}
import graft.llm.MockLlmClient
import graft.ops._

class ConfSpec extends SparkSpec {
  test("yaml parses into typed views preserving order") {
    val c = Conf.fromYaml(
      """a: 1
        |b: { x: "s", y: [1, 2] }
        |ops: { first: one, second: two }
        |""".stripMargin)
    assert(c("a").int == 1)
    assert(c("b")("x").str == "s")
    assert(c("b")("y").asList.map(_.int) == Seq(1, 2))
    assert(c("ops").asOrderedMap.map(_._1) == Seq("first", "second"))
    assert(c.strOr("missing", "d") == "d")
  }
}

class PipelineSpec extends SparkSpec {
  test("multi-step yaml pipeline with step chaining") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val out = Pipeline.runYaml(
      s"""
         |datasets:
         |  docs: { path: $dir/docs.parquet }
         |operations:
         |  - name: stats
         |    type: code_map
         |    outputs: { n: "cast(length(text) as bigint)" }
         |  - name: keep_long
         |    type: code_filter
         |    predicate: "n > 30"
         |pipeline:
         |  steps:
         |    - { name: s1, input: docs, operations: [stats] }
         |    - { name: s2, input: s1, operations: [keep_long] }
         |""".stripMargin, spark)
    assert(out.columns.contains("n"))
    assert(out.count() == docsDf.filter(length(col("text")) > 30).count())
  }
  test("join-headed step runs equijoin") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    docsDf.select(col("doc_id"), col("lang")).write.mode("overwrite")
      .parquet(s"$dir/l.parquet")
    docsDf.select(col("doc_id").as("rid"), col("text")).write.mode("overwrite")
      .parquet(s"$dir/r.parquet")
    val out = Pipeline.runYaml(
      s"""
         |datasets:
         |  l: { path: $dir/l.parquet }
         |  r: { path: $dir/r.parquet }
         |pipeline:
         |  steps:
         |    - name: joined
         |      join: { left: l, right: r, condition: "doc_id = rid" }
         |""".stripMargin, spark)
    assert(out.count() == 6)
  }
  test("inline op configs and output sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    Pipeline.runYaml(
      s"""
         |datasets:
         |  docs: { path: $dir/docs.parquet }
         |pipeline:
         |  steps:
         |    - name: s1
         |      input: docs
         |      operations:
         |        - { type: limit, n: 3 }
         |  output: { path: $dir/out.parquet }
         |""".stripMargin, spark)
    assert(spark.read.parquet(s"$dir/out.parquet").count() == 3)
    // sharded sink variant: data + manifest layout, totals intact
    Pipeline.runYaml(
      s"""
         |datasets:
         |  docs: { path: $dir/docs.parquet }
         |pipeline:
         |  steps:
         |    - { name: s1, input: docs, operations: [] }
         |  output: { path: $dir/sharded, shards: 3, id_expr: doc_id,
         |            token_expr: "size(split(text, ' '))" }
         |""".stripMargin, spark)
    assert(spark.read.parquet(s"$dir/sharded/data").count() == docsDf.count())
    assert(spark.read.parquet(s"$dir/sharded/manifest")
      .selectExpr("sum(n_rows)").head().getLong(0) == docsDf.count())
  }
  test("unknown op type names the known registry") {
    val e = intercept[IllegalArgumentException] {
      graft.api.Registry("nope")
    }
    assert(e.getMessage.contains("code_map"))
  }
  test("set-op-headed steps: union/intersect/except with name alignment") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    def run(stepYaml: String) = Pipeline.runYaml(
      s"""
         |datasets:
         |  docs: { path: $dir/docs.parquet }
         |operations:
         |  - { name: en, type: code_filter, predicate: "lang = 'en'" }
         |  - { name: dup, type: code_filter, predicate: "doc_id in (1, 4, 5)" }
         |  - { name: ksel, type: select, columns: ["doc_id", "text"] }
         |  - { name: ksel_flipped, type: select, columns: ["text", "doc_id"] }
         |pipeline:
         |  steps:
         |    - { name: a, input: docs, operations: [en, ksel] }
         |    - { name: b, input: docs, operations: [dup, ksel_flipped] }
         |$stepYaml
         |""".stripMargin, spark)
    // union distinct (default): en docs {1,2,4,5,6} ∪ {1,4,5} = 5 rows;
    // b's flipped column order must align by name, not position.
    assert(run("    - { name: u, union: [a, b] }").count() == 5)
    // UNION ALL keeps duplicates: 5 + 3 = 8
    assert(run("    - { name: u, union: [a, b], distinct: false }").count() == 8)
    // INTERSECT: {1,4,5}; ops chain onto the set-headed step
    val i = run(
      """    - name: i
        |      intersect: [a, b]
        |      operations:
        |        - { type: code_map, outputs: { n: "length(text)" } }""".stripMargin)
    assert(i.count() == 3 && i.columns.contains("n"))
    // EXCEPT: en minus dups = {2, 6}
    assert(run("    - { name: e, except: [a, b] }")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 6L))
  }
  test("validate flags set-op issues statically") {
    val conf = Conf.fromYaml(
      """datasets:
        |  d: { path: /tmp/x.parquet }
        |pipeline:
        |  steps:
        |    - { name: a, input: d }
        |    - { name: u, union: [a, ghost] }
        |    - { name: v, union: [a] }
        |    - { name: w, intersect: [a, u], except: [a, u] }
        |""".stripMargin)
    val issues = Pipeline.validate(conf)
    assert(issues.exists(_.contains("unknown union input 'ghost'")))
    assert(issues.exists(_.contains("union needs >= 2")))
    assert(issues.exists(_.contains("multiple set-op heads")))
  }
}

class FrameSpec extends SparkSpec {
  test("fluent chain stays lazy and executes correctly") {
    val f = Graft.fromDF(docsDf)
      .codeMap("n" -> "length(text)")
      .semanticMap("{{ input.text }}", "sentiment" -> "str")
      .semanticFilter("{{ input.text }}")
      .codeReduce(Seq("sentiment"), "n_docs" -> "count(1)")
    assert(f.schema.fieldNames.contains("n_docs"))
    assert(f.count() > 0)
  }
  test("frame explain/plan do not execute") {
    val f = Graft.fromDF(docsDf).codeFilter("doc_id > 3")
    assert(f.plan.nonEmpty)
  }

  test(".semantic accessor lifts a plain DataFrame into the fluent surface") {
    import graft.api.implicits._
    val out = docsDf.semantic
      .codeMap("n" -> "length(text)")
      .semanticMap("{{ input.text }}", "sentiment" -> "str")
      .dedupExact("text", "doc_id")
    assert(out.count() === 5) // doc 4 is the exact dup
    assert(out.schema.fieldNames.toSet.contains("sentiment"))
    // explicit-client form shares the same chain
    assert(docsDf.semantic(graft.llm.MockLlmClient())
      .semanticFilter("{{ input.text }}").count() > 0)
  }

  test("frame surface: sampling, topk, rank, cluster, set ops, retrievers on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val docs = Graft.readParquet(spark, s"$sf/documents.parquet")
    val nLangs = docs.toDF.select("lang").distinct().count()

    // sampling family
    assert(docs.sampleStratified("lang", 2, Seq("doc_id")).count() <= nLangs * 2)
    assert(docs.sampleStratifiedUniform("lang", "doc_id", 2).count() <= nLangs * 2)
    assert(docs.sampleProportional("lang", "doc_id", 20).count() == 20)
    val keys = Graft.fromDF(docs.toDF.select("lang").distinct().limit(1))
    assert(docs.sampleCustom(keys).toDF.select("lang").distinct().count() == 1)

    // embeddings: topk / rank / cluster / outliers
    val query = Array.tabulate(64)(i => math.sin(i + 1.0))
    val emb = Graft.readParquet(spark, s"$sf/embeddings.parquet")
      .codeMap("e" -> "cast(embedding as array<double>)", "grp" -> "vec_id % 3")
    assert(emb.topkEmbedding("e", query.toSeq, 5, Seq("vec_id")).count() == 5)
    assert(emb.topkEmbeddingStratified("e", query.toSeq, 2, "grp", Seq("vec_id"))
      .count() == 6) // 3 strata x 2
    val ranked = emb.rankEmbedding("e", query.toSeq, tieBreak = Seq("vec_id"))
    assert(ranked.toDF.select(org.apache.spark.sql.functions.max("_rank"))
      .collect()(0).getLong(0) == emb.count())
    assert(emb.sampleOutliers("e", samples = Some(4), tieBreak = Seq("vec_id")).count() == 4)
    val clustered = emb.cluster("e", "cast(vec_id as string)", numClusters = 2)
    assert(clustered.toDF.select("clusters").distinct().count() <= 2)
    assert(emb.op("cluster", "method" -> "hierarchical", "embedding_key" -> "e",
      "render_expr" -> "cast(vec_id as string)", "depth" -> 2)
      .count() == emb.count())

    // bm25 stratified + llm-free rank variants over documents
    assert(docs.topkFtsStratified("text", "the and of", 2, "lang", Seq("doc_id"))
      .count() <= nLangs * 2)

    // set ops (name-aligned)
    val odd = Graft.fromDF(docs.toDF.filter("doc_id % 2 = 1"))
    val even = Graft.fromDF(docs.toDF.filter("doc_id % 2 = 0"))
    assert(odd.union(even).count() == docs.count())
    assert(odd.intersect(even).count() == 0)
    assert(odd.except(even).count() == odd.count())

    // retriever variants: every method attaches a context column and keeps
    // row cardinality (left join semantics)
    val corpus = Graft.fromDF(docs.toDF.limit(5)
      .selectExpr("text as ctext"))
    val ecorpus = Graft.fromDF(emb.toDF.limit(20).selectExpr("e as ce", "vec_id as cid"))
    val qdocs = Graft.fromDF(docs.toDF.limit(10))
    assert(qdocs.withRetrievedContextBm25("rb", "text", corpus, "ctext", k = 2)
      .count() == 10)
    val eq = Graft.fromDF(emb.toDF.limit(10))
    assert(eq.withRetrievedContextEmbedding("re", "e", ecorpus, "ce",
      "cast(cid as string)", k = 2).count() == 10)
    val hq = Graft.fromDF(emb.toDF.limit(10).selectExpr("e", "concat('w', vec_id) as t"))
    val hcorpus = Graft.fromDF(emb.toDF.limit(20)
      .selectExpr("e as ce", "concat('w', vec_id) as ct"))
    assert(hq.withRetrievedContextHybrid("rh", "e", "t", hcorpus, "ce", "ct", k = 2)
      .count() == 10)
  }

  test("frame dedup-pair and ANN entries chain on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val docs = Graft.readParquet(spark, s"$sf/documents.parquet")
    // pair frames return (id_a, id_b, metric) shapes
    assert(docs.op("dedup", "method" -> "simhash_pairs", "id_key" -> "doc_id",
      "text_key" -> "text").schema.fieldNames.toSet ==
      Set("id_a", "id_b", "hamming"))
    assert(docs.op("dedup", "method" -> "ngram_pairs", "id_key" -> "doc_id",
      "text_key" -> "text", "block_expr" -> "lang", "threshold" -> 0.9)
      .schema.fieldNames.toSet == Set("id_a", "id_b", "jaccard"))
    val emb = Graft.readParquet(spark, s"$sf/embeddings.parquet")
      .codeMap("e" -> "cast(embedding as array<double>)")
    assert(emb.op("dedup", "method" -> "embedding_pairs", "id_key" -> "vec_id",
      "embedding_key" -> "e", "dim" -> 64, "threshold" -> 0.99)
      .schema.fieldNames.toSet == Set("id_a", "id_b", "cosine"))
    // ANN: 5 queries x top-3 neighbors; IVF with exhaustive probe = brute force
    val queries = Graft.fromDF(emb.toDF.filter("vec_id < 5"))
    val brute = queries.annBruteForce("vec_id", "e", emb, "vec_id", "e", k = 3)
    assert(brute.count() == 15)
    val ivf = queries.annIvf("vec_id", "e", emb, "vec_id", "e", k = 3,
      nCentroids = 4, nProbe = 4)
    assert(ivf.toDF.select("query_id", "neighbor_id").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet ==
      brute.toDF.select("query_id", "neighbor_id").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet)
  }

  test("frame rank pairwise and sliding window chain on small frames") {
    val emb = Graft.readParquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
      .codeMap("e" -> "cast(embedding as array<double>)")
      .limit(12)
    val query = Array.tabulate(64)(i => math.cos(i + 1.0))
    val slid = emb.op("rank", "method" -> "sliding_window",
      "embedding_key" -> "e", "query_vector" -> query.toSeq,
      "render_expr" -> "cast(vec_id as string)", "k" -> 5, "batch_size" -> 4,
      "tie_break" -> "vec_id")
    assert(slid.count() == 12)
    val pw = emb.op("rank", "method" -> "pairwise", "id_key" -> "vec_id",
      "render_expr" -> "cast(vec_id as string)", "block_expr" -> "vec_id % 2",
      "tie_break" -> "vec_id")
    assert(pw.toDF.columns.contains("_rank") && pw.count() == 12)
  }
}

class CascadeSpec extends SparkSpec {
  private val client = MockLlmClient()
  test("cascade equals the plain filter when proxy agrees with oracle") {
    val out = CascadeFilter(docsDf, CascadeFilter.Config(
      name = "c", prompt = "{{ input.text }}", decisionKey = "keep"),
      client, client)
    val expected = docsDf.filter(length(col("text")) % 2 === 0)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet ==
      expected.select("doc_id").collect().map(_.getLong(0)).toSet)
  }
  test("calibrate picks the smallest threshold meeting recall") {
    // (proxyDecision, confidence, truth)
    val labeled = Seq(
      (true, 0.9, true), (false, 0.8, true), // proxy wrong at 0.8
      (true, 0.2, true), (false, 0.3, false))
    // at t=0.2: recovered = {0.9 ok, 0.8 wrong, 0.2 ok} = 2/3 < 0.9
    // at t=0.3: 0.2 escalates -> recovered 2/3... 0.8 still wrong
    // at t=0.9: 0.8 escalates -> all 3 recovered
    assert(CascadeFilter.calibrate(labeled, 0.9) == 0.9)
    assert(CascadeFilter.calibrate(labeled, 0.6) == 0.2)
  }
  test("calibrated threshold is invariant under repartition") {
    // 40 rows with distinct text lengths -> distinct mock confidences;
    // calibrationSize=10 < n, so the sample is a real subset and a
    // partition-order-dependent sample (a .limit head) would move the
    // threshold. The seeded hash head must not.
    val rows = (0 until 40).map(i => Row(i.toLong, "w" * (i + 1)))
    val d = df(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))), rows: _*)
    def threshFilter(in: org.apache.spark.sql.DataFrame) =
      CascadeFilter.applyWithThreshold(in, CascadeFilter.Config(
        name = "ci", prompt = "{{ input.text }}", decisionKey = "keep",
        calibrationSize = 10), client, client)._2
    val base = threshFilter(d)
    assert(threshFilter(d.repartition(7)) == base)
    assert(threshFilter(d.coalesce(1)) == base)

    val pairRows = (0 until 40).map(i => Row("p" * (i + 1), "p" * (i + 1)))
    val pairs = df(StructType(Seq(
      StructField("_cl", StringType), StructField("_cr", StringType))), pairRows: _*)
    def threshCompare(in: org.apache.spark.sql.DataFrame) =
      CascadeCompare.applyWithThreshold(in, "_cl", "_cr",
        CascadeCompare.Config(calibrationSize = 10), client)._2
    val cbase = threshCompare(pairs)
    assert(threshCompare(pairs.repartition(7)) == cbase)
    assert(threshCompare(pairs.coalesce(1)) == cbase)
  }
}

class LinkResolveSpec extends SparkSpec {
  private val client = MockLlmClient()
  test("dangling links rewrite to canonical ids; unmatched stay") {
    val d = df(StructType(Seq(
      StructField("id", StringType),
      StructField("links", ArrayType(StringType)))),
      Row("Alice", Seq("alice", "BOB", "ghost")),
      Row("Bob", Seq("Alice")))
    val out = LinkResolveOp(d, LinkResolveOp.Config(
      name = "lr", idKey = "id", linkKey = "links"), client)
    val m = out.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(m("Alice") == Seq("Alice", "Bob", "ghost"))
    assert(m("Bob") == Seq("Alice")) // already canonical, untouched
  }
  test("join path (mapping over gate) matches the broadcast-literal path") {
    // 40 canonical ids, each referenced via a lowercased dangling alias →
    // 40 confirmed mapping entries; mappingGate=1 forces the distributed
    // explode/join/re-group rewrite, which must match the literal path.
    val ids = (0 until 40).map(i => s"Node$i")
    val rows = ids.zipWithIndex.map { case (id, i) =>
      Row(id, Seq(s"node${(i + 1) % 40}", "ghost", s"node${(i + 7) % 40}"))
    }
    val d = df(StructType(Seq(
      StructField("id", StringType),
      StructField("links", ArrayType(StringType)))), rows: _*)
    def run(gate: Long) = LinkResolveOp(d, LinkResolveOp.Config(
      name = "lr", idKey = "id", linkKey = "links", mappingGate = gate), client)
      .orderBy("id").collect().map(r => r.getString(0) -> r.getSeq[String](1)).toSeq
    val viaLiteral = run(100000L)
    val viaJoin = run(1L)
    assert(viaJoin == viaLiteral)
    assert(viaJoin.head._2 == Seq("Node1", "ghost", "Node7"))
  }
  test("join path preserves empty and null link arrays") {
    val d = df(StructType(Seq(
      StructField("id", StringType),
      StructField("links", ArrayType(StringType)))),
      Row("A", Seq("a", "B")), Row("B", Seq.empty[String]), Row("C", null))
    val out = LinkResolveOp(d, LinkResolveOp.Config(
      name = "lr", idKey = "id", linkKey = "links", mappingGate = 0L), client)
      .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
    assert(out("A").get == Seq("A", "B"))
    assert(out("B").get == Seq.empty[String])
    assert(out("C").isEmpty)
  }
}

class ObservabilitySpec extends SparkSpec {
  private val client = MockLlmClient()
  test("observability column carries the rendered prompt") {
    val out = SemanticMap(docsDf, SemanticMapConfig(
      name = "ob", prompt = "{{ input.text }}",
      outputSchema = Seq("sentiment" -> "str"),
      enableObservability = true), client)
    val r = out.filter(col("doc_id") === 2).select("_observability_ob")
      .collect()(0).getString(0)
    assert(r == "a slow merge sort on the table")
  }
  test("reduce lineage lists group members in order") {
    val out = SemanticReduce(docsDf, SemanticReduce.Config(
      name = "lin", reduceKeys = Seq("lang"), memberExpr = "cast(doc_id as string)",
      orderKey = "doc_id", outputSchema = Seq("summary" -> "str"),
      lineage = true), client)
    val en = out.filter(col("lang") === "en").select("lin_lineage")
      .collect()(0).getSeq[String](0)
    assert(en == Seq("1", "2", "4", "5", "6"))
  }
}

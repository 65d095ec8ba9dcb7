package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.PairBudget
import graft.llm.MockLlmClient
import graft.ops.{EquijoinOp, RetrieverOp, SemanticReduce, TfIdfOp, WebFetchOp}

/** Always-throwing fetch double — per-URL error policy test. */
final class ExplodingHttpClient extends graft.ops.HttpClient {
  def search(query: String, maxResults: Int): Seq[(String, String, String)] = Nil
  def fetch(url: String): String =
    if (url.contains("bad")) throw new RuntimeException(s"boom:$url")
    else s"ok:$url"
}

/** Mock that throws on prompts containing "poison"; counts every attempt
  * (including the throwing ones — the mock's own counter only sees
  * successes). */
final case class PoisonLlmClient(inner: MockLlmClient = MockLlmClient())
    extends graft.llm.LlmClient {
  def complete(model: String, prompt: String, schema: StructType): graft.llm.LlmResponse = {
    PoisonLlmClient.attempts.incrementAndGet()
    if (prompt.contains("poison")) throw new RuntimeException("bad group")
    inner.complete(model, prompt, schema)
  }
  def embed(model: String, texts: Seq[String]): Seq[Array[Float]] = inner.embed(model, texts)
}
object PoisonLlmClient {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

class Round9Spec extends SparkSpec {
  private val client = MockLlmClient()

  // ---------------------------------------------------------------- equijoin

  test("equijoin maxPairsPerKey caps verify calls per hot key") {
    // Key "hot": 10 x 12 = 120 pairs; key "cold": 2 x 2 = 4 pairs. Budget 7
    // bounds the hot key's verify calls at 7 while the cold key keeps all 4
    // — per-key, not global. Renders are pairwise distinct, so with a clean
    // cache callCount == verified pairs exactly.
    val l = spark.range(10).select(col("id"), lit("hot").as("jk"),
        concat(lit("l9h"), col("id")).as("cl"))
      .union(spark.range(2).select(col("id") + 100, lit("cold").as("jk"),
        concat(lit("l9c"), col("id")).as("cl")))
    val r = spark.range(12).select(col("id").as("rid"), lit("hot").as("jk2"),
        concat(lit("r9h"), col("id")).as("cr"))
      .union(spark.range(2).select((col("id") + 100).as("rid"), lit("cold").as("jk2"),
        concat(lit("r9c"), col("id")).as("cr")))
    graft.llm.LlmCache.clear()
    MockLlmClient.resetCalls()
    val out = EquijoinOp(l, r, EquijoinOp.Config(
      name = "capej", condition = "l.jk = r.jk2",
      compareExprLeft = "cl", compareExprRight = "cr", llmVerify = true,
      leftIdKey = "id", rightIdKey = "rid",
      maxPairsPerKey = Some(7L)), client)
    out.count()
    assert(client.callCount == 7 + 4)
  }

  test("equijoin maxPairsPerKey keeps a deterministic head and preserves matches in it") {
    // Renders collide (mock is_match = equality) only for the pair (0, 0),
    // which sorts first in the (leftId, rightId) head — the cap must keep it.
    val l = spark.range(6).select(col("id"), lit("k").as("jk"),
      when(col("id") === 0, lit("same9")).otherwise(concat(lit("L"), col("id"))).as("cl"))
    val r = spark.range(6).select(col("id").as("rid"), lit("k").as("jk2"),
      when(col("rid") === 0, lit("same9")).otherwise(concat(lit("R"), col("rid"))).as("cr"))
    graft.llm.LlmCache.clear()
    val out = EquijoinOp(l, r, EquijoinOp.Config(
      name = "headej", condition = "l.jk = r.jk2",
      compareExprLeft = "cl", compareExprRight = "cr", llmVerify = true,
      leftIdKey = "id", rightIdKey = "rid",
      maxPairsPerKey = Some(10L)), client)
    val rowsOut = out.select("id", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(rowsOut.toSeq == Seq((0L, 0L))) // the matching pair survived the head
  }

  test("equijoin maxPairsPerKey without an equi key degrades to a loud global head") {
    val l = spark.range(5).select(col("id"), concat(lit("a"), col("id")).as("cl"))
    val r = spark.range(5).select(col("id").as("rid"), concat(lit("b"), col("id")).as("cr"))
    graft.llm.LlmCache.clear()
    MockLlmClient.resetCalls()
    PairBudget.lastWarning = None
    EquijoinOp(l, r, EquijoinOp.Config(
      name = "globej", condition = "l.id < r.rid",
      compareExprLeft = "cl", compareExprRight = "cr", llmVerify = true,
      leftIdKey = "id", rightIdKey = "rid",
      maxPairsPerKey = Some(3L)), client).count()
    assert(client.callCount == 3) // 10 candidate pairs, global head of 3
    assert(PairBudget.lastWarning.exists(m =>
      m.contains("globej") && m.contains("global head")))
  }

  test("equijoin pair cap resolves case-mismatched equi keys like the analyzer does") {
    // Spark resolves "JK = JK2" against lowercase columns (default
    // case-insensitive analysis); the cap's key extraction must agree, or a
    // case-mismatched condition silently collapses per-key heads into a
    // tiny global head.
    val l = spark.range(12).select(col("id"),
      (col("id") % 2).cast("string").as("jk"), concat(lit("cl9"), col("id")).as("cl"))
    val r = spark.range(12).select(col("id").as("rid"),
      (col("rid") % 2).cast("string").as("jk2"), concat(lit("cr9"), col("rid")).as("cr"))
    graft.llm.LlmCache.clear()
    MockLlmClient.resetCalls()
    EquijoinOp(l, r, EquijoinOp.Config(
      name = "caseej", condition = "JK = JK2",
      compareExprLeft = "cl", compareExprRight = "cr", llmVerify = true,
      leftIdKey = "id", rightIdKey = "rid",
      maxPairsPerKey = Some(4L)), client).count()
    assert(client.callCount == 8) // 2 keys x 4-pair head, NOT a global 4
  }

  test("equijoin maxPairsPerKey without llm verify fails loudly") {
    val l = spark.range(2).select(col("id"), lit("x").as("cl"))
    val r = spark.range(2).select(col("id").as("rid"), lit("y").as("cr"))
    val err = intercept[IllegalArgumentException] {
      EquijoinOp(l, r, EquijoinOp.Config(
        name = "npk", condition = "l.id = r.rid",
        maxPairsPerKey = Some(3L)), client).count()
    }
    assert(err.getMessage.contains("llm_verify"))
  }

  test("equijoin maxPairsPerKey requires side ids") {
    val l = spark.range(2).select(col("id"), lit("x").as("cl"))
    val r = spark.range(2).select(col("id").as("rid"), lit("y").as("cr"))
    val err = intercept[IllegalArgumentException] {
      EquijoinOp(l, r, EquijoinOp.Config(
        name = "noid", condition = "l.id = r.rid",
        compareExprLeft = "cl", compareExprRight = "cr", llmVerify = true,
        maxPairsPerKey = Some(3L)), client).count()
    }
    assert(err.getMessage.contains("left_id_key"))
  }

  test("pair-cap and bucket-head rank limits plan as WindowGroupLimit") {
    // The 100 TB argument for both caps is that the rank-limit filter
    // rewrites to WindowGroupLimit (map-side partial top-k before the
    // exchange) — a hot key's tail pairs drop before they shuffle. Pin the
    // physical plan so a Catalyst-idiom regression is caught here, not in a
    // cluster profile.
    val l = spark.range(60).select(col("id"),
      (col("id") % 3).cast("string").as("jk"), concat(lit("L"), col("id")).as("cl"))
    val r = spark.range(60).select(col("id").as("rid"),
      (col("rid") % 3).cast("string").as("jk2"), concat(lit("R"), col("rid")).as("cr"))
    val capped = EquijoinOp(l, r, EquijoinOp.Config(
      name = "planej", condition = "l.jk = r.jk2",
      compareExprLeft = "cl", compareExprRight = "cr", llmVerify = true,
      leftIdKey = "id", rightIdKey = "rid", maxPairsPerKey = Some(5L)), client)
    assert(capped.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))

    val docs = df(StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))),
      (1 to 8).map(i => Row(i.toLong, "same words repeated here again and again")): _*)
    val headed = graft.dedup.MinHashDedup.candidatePairs(docs, "id", "text",
      jaccardThreshold = 0.5, maxBucketHead = Some(3))
    assert(headed.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  // ---------------------------------------------------------------- retriever

  test("term-overlap retrieval is identical across the corpus gate, zero-overlap included") {
    // Query 3 shares no token with any corpus doc: BOTH the broadcast and
    // the indexed path must give it a null context (score-0 docs are never
    // retrieved on either side of the gate).
    val corpus = df(
      StructType(Seq(StructField("ctext", StringType))),
      (0 until 40).map(i => Row(f"w$i%02d common")): _*)
    val base = df(StructType(Seq(
      StructField("id", LongType), StructField("qtext", StringType))),
      Row(1L, "w01 w02 common"), Row(2L, "w10"), Row(3L, "zzz qqq"))
    def ctx(d: org.apache.spark.sql.DataFrame): Seq[Option[String]] =
      d.orderBy("id").select("_rag_retrieved_context").collect()
        .map(r => Option(r.getString(0))).toSeq
    val viaBroadcast = ctx(RetrieverOp.byTermOverlap(
      base, "rag", "qtext", corpus, "ctext", "ctext", k = 2))
    val viaIndex = ctx(RetrieverOp.byTermOverlap(
      base, "rag", "qtext", corpus, "ctext", "ctext", k = 2, corpusGate = 10))
    assert(viaBroadcast == viaIndex)
    assert(viaBroadcast(2).isEmpty) // zero overlap -> null, not k score-0 docs
    assert(viaBroadcast(0).nonEmpty)
  }

  test("retrievers announce the switch to their indexed path") {
    val corpus = df(
      StructType(Seq(StructField("ctext", StringType))),
      (0 until 20).map(i => Row(f"w$i%02d common")): _*)
    val base = df(StructType(Seq(
      StructField("id", LongType), StructField("qtext", StringType))),
      Row(1L, "w01 common"))
    PairBudget.lastWarning = None
    RetrieverOp.byTermOverlap(base, "r9n", "qtext", corpus, "ctext", "ctext",
      k = 1, corpusGate = 10)
    assert(PairBudget.lastWarning.exists(m =>
      m.contains("retriever 'r9n'") && m.contains("corpusGate=10")))
    PairBudget.lastWarning = None
    RetrieverOp.byTermOverlap(base, "r9q", "qtext", corpus, "ctext", "ctext", k = 1)
    assert(PairBudget.lastWarning.isEmpty) // below the gate: quiet broadcast
  }

  // ---------------------------------------------------------------- dedup

  test("maxBucketHead caps a hot dedup bucket to its head instead of banning it") {
    // 10 near-identical docs land in the same LSH buckets everywhere. The
    // BAN (maxBucketSize=5) drops the whole bucket -> zero pairs; the HEAD
    // (maxBucketHead=5) keeps ids 1..5 per bucket -> exactly C(5,2) pairs
    // among the head, none involving ids 6..10.
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val rows = (1 to 10).map(i => Row(i.toLong, base))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))), rows: _*)
    def pairs(ban: Option[Int], head: Option[Int]) =
      graft.dedup.MinHashDedup.candidatePairs(d, "id", "text",
        jaccardThreshold = 0.5, maxBucketSize = ban, maxBucketHead = head)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Some(5), None).isEmpty) // ban: bucket dropped wholesale
    val headed = pairs(None, Some(5))
    assert(headed == (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSet)
    assert(pairs(None, None).size == 45) // uncapped: all C(10,2)
  }

  test("maxPostingHead bounds ngram postings but keeps head pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = (1 to 8).map(i => Row(i.toLong, base))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))), rows: _*)
    val headed = graft.dedup.NgramJaccardDedup.pairs(d, "id", "text", "1",
        threshold = 0.5, maxPostingHead = Some(3))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(headed == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // ---------------------------------------------------------------- lazy frame

  test("LazyFrame round-9 builders round-trip through YAML and run") {
    import graft.api.{LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("lf9").toString
    val path = s"$dir/docs.parquet"
    docsDf.write.mode("overwrite").parquet(path)
    def roundTrips(lf: LazyFrame): Long = {
      val reparsed = LazyFrame.fromYaml(lf.toYaml)
      assert(reparsed.toYaml == lf.toYaml) // fixpoint
      val direct = lf.run(spark).count()
      assert(Pipeline.runYaml(lf.toYaml, spark).count() == direct)
      direct
    }
    // proportional: en 5/6 and de 1/6 of 4 slots -> 3 + 1 (largest remainder)
    assert(roundTrips(LazyFrame.read("docs", path)
      .sampleProportional("lang", "doc_id", 4)) == 4)
    assert(roundTrips(LazyFrame.read("docs", path)
      .sampleStratifiedUniform("lang", "doc_id", 1)) == 2) // one per lang
    assert(roundTrips(LazyFrame.read("docs", path)
      .topkFtsStratified("text", "the fast", 1, "lang", Seq("doc_id"))) == 2)
    assert(roundTrips(LazyFrame.read("docs", path)
      .dedupMinhash("doc_id", "text", threshold = 0.5,
        maxBucketHead = Some(3))) > 0)
    assert(roundTrips(LazyFrame.read("docs", path)
      .pack(Seq("lang"), "doc_id", "size(split(text, ' '))", 64))
      == docsDf.count())
    assert(roundTrips(LazyFrame.read("docs", path)
      .tfidfTopTerms("doc_id", "text", k = 2)) == docsDf.count() * 2)
    // self-decontamination via a merged benchmark frame: everything drops
    assert(roundTrips(LazyFrame.read("docs", path)
      .decontaminate(LazyFrame.read("docs", path).codeFilter("doc_id >= 0"),
        "doc_id", "text", n = 3)) == 0)
    // weighted: en 2, de 1 over 3 slots; epochs: en 6 of 8 needs a second
    // epoch for one row (5 en docs), de's 2 slots take 2 epochs of its one
    assert(roundTrips(LazyFrame.read("docs", path)
      .sampleWeighted("lang", "doc_id", 3, Seq("en" -> 2.0, "de" -> 1.0))) == 3)
    assert(roundTrips(LazyFrame.read("docs", path)
      .sampleWeightedEpochs("lang", "doc_id", 8,
        Seq("en" -> 1.0, "de" -> 1.0), maxEpochs = 2)) == 8)
    // grouped budgets: en picks 6(7)->5(8)->4(8)=23 then stops; de's one
    // doc costs 6 > 5 -> dropped.
    assert(roundTrips(LazyFrame.read("docs", path)
      .budgetSelectGrouped("lang", "doc_id", "size(split(text, ' '))",
        Map("en" -> 23L, "de" -> 5L), "doc_id")) == 3)
    // incremental dedup: docs 4/5 near-dup ref doc 1 -> only 6 survives
    assert(roundTrips(LazyFrame.read("docs", path)
      .codeFilter("doc_id >= 4")
      .dedupAgainst(LazyFrame.read("docs", path).codeFilter("doc_id <= 3"),
        "doc_id", "text", threshold = 0.5)) == 1)
    // fractions form: en floor(0.6*40)=24 fits docs 6+5+4 (23 tok), de
    // floor(0.2*40)=8 fits its one 6-token doc
    assert(roundTrips(LazyFrame.read("docs", path)
      .budgetSelectFractions("lang", "doc_id", "size(split(text, ' '))",
        40L, Map("en" -> 0.6, "de" -> 0.2), "doc_id")) == 4)
    assert(roundTrips(LazyFrame.read("docs", path)
      .sampleWeightedRows("length(text)", 3, "doc_id")) == 3)
  }

  // ---------------------------------------------------------------- web fetch

  test("web_fetch turns a per-URL failure into the row's ERROR content") {
    val d = df(StructType(Seq(StructField("u", StringType))),
      Row("https://x.invalid/bad1"), Row("https://x.invalid/fine"))
    val out = WebFetchOp(d, "wf9", "u", http = new ExplodingHttpClient())
      .orderBy("u").select("wf9_content").collect().map(_.getString(0))
    assert(out(0).startsWith("ERROR: boom:"))
    assert(out(1) == "ok:https://x.invalid/fine")
  }

  test("web_fetch list mode fails per element, not per row") {
    val d = df(StructType(Seq(StructField("us", ArrayType(StringType)))),
      Row(Seq("https://x.invalid/fine", "https://x.invalid/bad2", null)))
    val out = WebFetchOp(d, "wf9l", "us", http = new ExplodingHttpClient())
      .select("wf9l_content").collect()(0).getSeq[String](0)
    assert(out(0) == "ok:https://x.invalid/fine")
    assert(out(1).startsWith("ERROR: boom:"))
    assert(out(2) == null) // null/empty URLs stay null (reference alignment)
  }

  // ---------------------------------------------------------------- html

  test("numeric entities decode supplementary planes and survive junk") {
    import graft.sources.HtmlToMarkdown
    assert(HtmlToMarkdown("<p>pile &#128169; of</p>") == "pile 💩 of")
    assert(HtmlToMarkdown("<p>big &#99999999999; stays</p>") == "big &#99999999999; stays")
    assert(HtmlToMarkdown("<p>huge &#99999999999999999999; stays</p>")
      == "huge &#99999999999999999999; stays")
    assert(HtmlToMarkdown("<p>hi &#65;</p>") == "hi A")
    // surrogate-range references become U+FFFD (HTML5), never a lone
    // surrogate that would corrupt on the next UTF-8 encode
    assert(HtmlToMarkdown("<p>bad &#55296; cp</p>") == "bad � cp")
  }

  // ---------------------------------------------------------------- reduce

  test("streaming fold pass-through matches the min-struct tie-break on tied order keys") {
    // Three rows share the minimal orderKey with DIFFERENT pass-through
    // values; the member strings sort differently from the pass-through
    // values, so first-row-in-(ord, member)-order would pick the WRONG one.
    // Baseline _pt = min(struct(ord, p)) -> p = "a".
    val rows = Seq(
      Row(1L, "g1", "zz-member", "a"),
      Row(1L, "g1", "aa-member", "z"),
      Row(1L, "g1", "mm-member", "m"),
      Row(2L, "g1", "later", "q"),
      Row(1L, "g2", "solo", "s"))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", StringType), StructField("p", StringType))), rows: _*)
    def run(streaming: Boolean) = {
      graft.llm.LlmCache.clear()
      SemanticReduce(d, SemanticReduce.Config(
        name = "tb", reduceKeys = Seq("g"), memberExpr = "m", orderKey = "id",
        outputSchema = Seq("acc" -> "str"), strategy = "fold",
        foldBatchSize = 2, streamingFold = streaming,
        passThrough = Seq("p")), client)
        .orderBy("g").collect().map(_.toSeq).toSeq
    }
    val streamingOut = run(true)
    assert(streamingOut == run(false))
    assert(streamingOut(0)(1) == "a") // min (ord, p) tuple, not first member order
  }

  test("streaming fold stops buffering a group once skip_on_error fails it") {
    // Group g0's members make the client throw; the group must drop while
    // g1 still reduces, and g0 pays exactly ONE attempt (first chunk) —
    // after the failure no more chunks are built or flushed.
    val poisoned = PoisonLlmClient()
    val rows = (1 to 8).map(i => Row(i.toLong, "g0", s"poison-$i")) ++
      (1 to 3).map(i => Row(i.toLong, "g1", s"fine-$i"))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", StringType))), rows: _*)
    graft.llm.LlmCache.clear()
    PoisonLlmClient.attempts.set(0)
    val out = SemanticReduce(d, SemanticReduce.Config(
      name = "sk", reduceKeys = Seq("g"), memberExpr = "m", orderKey = "id",
      outputSchema = Seq("acc" -> "str"), strategy = "fold",
      foldBatchSize = 2, skipOnError = true), poisoned)
      .select("g").collect().map(_.getString(0)).toSeq
    assert(out == Seq("g1"))
    // g0: 1 failing attempt, then the group stops flushing; g1: ceil(3/2)
    // = 2 chunk calls. Total attempts = 3.
    assert(PoisonLlmClient.attempts.get() == 3)
  }

  // ------------------------------------------------- repetition signals

  test("repetition fractions match hand counts, including short-doc edges") {
    import graft.functions.{TextFunctions => TF}
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))),
      Row(1L, "a b a b a"), // toks: 3×a 2×b; 2-grams: 2×"a b", 2×"b a"
      Row(2L, "x y z w"),   // all distinct
      Row(3L, "q"))         // 1 token < n: one whole-text gram
    val out = d.select(col("id"),
      TF.dupTokenFraction(col("text")).as("dw"),
      TF.topTokenFraction(col("text")).as("tw"),
      TF.dupNgramFraction(col("text"), 2).as("dg"),
      TF.topNgramFraction(col("text"), 2).as("tg"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L) == ((0.6, 0.6, 0.5, 0.5)))
    assert(out(2L) == ((0.0, 0.25, 0.0, 0.333333))) // round(1/3, 6)
    // 1 token: dup fractions 0 (one distinct of one), top gram 1.0 by
    // convention (single whole-text gram)
    assert(out(3L) == ((0.0, 1.0, 0.0, 1.0)))
  }

  // ------------------------------------------------- decontamination

  test("decontamination flags exactly the docs sharing a benchmark n-gram") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = df(schema,
      Row(1L, "the capital of france is paris indeed"),  // contains bench 4-gram
      Row(2L, "totally novel words nothing shared here"),
      Row(3L, "capital of france is lyon they claim"))   // shares the 4-gram too
    val bench = df(schema,
      Row(100L, "quiz answer the capital of france is paris"))
    val hits = graft.dedup.Decontaminate.hits(
      corpus, "doc_id", "text", bench, "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the capital of france", "capital of france is",
    // "of france is paris"; doc 3 shares "capital of france is"
    assert(hits == Map(1L -> 3L, 3L -> 1L))
    val clean = graft.dedup.Decontaminate.clean(
      corpus, "doc_id", "text", bench, "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("decontamination broadcasts the benchmark gram set by default") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = df(schema, Row(1L, "a b c d e f g h"))
    val bench = df(schema, Row(2L, "c d e f g h i j"))
    val plan = graft.dedup.Decontaminate.hits(
      corpus, "doc_id", "text", bench, "text", n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    val shuffled = graft.dedup.Decontaminate.hits(
      corpus, "doc_id", "text", bench, "text", n = 4,
      broadcastBenchmark = false)
      .queryExecution.executedPlan.toString
    assert(!shuffled.contains("BroadcastNestedLoop"))
  }

  // ------------------------------------------------- sequence packing

  test("greedy packing fills token budgets per group and never splits a row") {
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("id", LongType),
      StructField("tok", LongType)))
    val d = df(schema,
      Row("a", 1L, 60L), Row("a", 2L, 30L), Row("a", 3L, 20L), // 60+30 fit, 20 overflows
      Row("a", 4L, 150L),                                      // oversized: own pack
      Row("a", 5L, 10L),
      Row("b", 1L, 99L), Row("b", 2L, 1L))                     // fresh counter per group
    val out = graft.ops.PackOp(d, Seq("g"), "id", "tok", budget = 100)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(out == Map(
      ("a", 1L) -> 0L, ("a", 2L) -> 0L, // 90 <= 100
      ("a", 3L) -> 1L,                  // 90+20 > 100 -> new pack
      ("a", 4L) -> 2L,                  // 20+150 > 100 -> own (oversized) pack
      ("a", 5L) -> 3L,                  // 150+10 > 100 -> next pack
      ("b", 1L) -> 0L, ("b", 2L) -> 0L))
  }

  test("packing keeps all input columns, appends pack_id, stays streaming") {
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("id", LongType),
      StructField("text", StringType)))
    val d = df(schema,
      (1 to 50).map(i => Row(if (i % 2 == 0) "x" else "y", i.toLong, ("w " * i).trim)): _*)
    val out = graft.ops.PackOp(d, Seq("g"), "id", "size(split(text, ' '))", 64)
    assert(out.columns.toSeq == Seq("g", "id", "text", "pack_id"))
    // every pack except a group's last is filled past budget by its
    // successor's first row: check budget is never exceeded within a pack
    val fills = out.withColumn("tok", size(split(col("text"), " ")))
      .groupBy("g", "pack_id").agg(sum("tok").as("fill"), count(lit(1)).as("n"))
      .collect()
    assert(fills.forall(r => r.getLong(2) <= 64 || r.getLong(3) == 1))
    assert(out.count() == 50)
  }

  // ------------------------------------------------- weighted mixture

  test("allocateWeighted follows target weights, caps at capacity, zero-weights drop") {
    import graft.ops.SampleOp
    // capacity binds on 'a' (wants ~42 of 50, has 5); overflow spreads b/c
    val q = SampleOp.allocateWeighted(
      Map("a" -> 5L, "b" -> 100L, "c" -> 100L),
      Map("a" -> 10.0, "b" -> 1.0, "c" -> 1.0), 50)
    assert(q.values.sum == 50L)
    assert(q("a") == 5L)
    assert(math.abs(q("b") - q("c")) <= 1)
    // stratum with no weight gets nothing; weight with no stratum is ignored
    val q2 = SampleOp.allocateWeighted(
      Map("x" -> 10L, "y" -> 10L), Map("x" -> 1.0, "ghost" -> 9.0), 8)
    assert(q2 == Map("x" -> 8L, "y" -> 0L))
    // null stratum never takes quota
    val q3 = SampleOp.allocateWeighted(
      Map((null: String) -> 10L, "x" -> 3L), Map("x" -> 1.0), 5)
    assert(q3 == Map((null: String) -> 0L, "x" -> 3L))
  }

  test("stratifiedWeighted returns exactly the weighted quotas") {
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("id", LongType)))
    val rows = (1 to 60).map(i => Row(Seq("p", "q", "r")(i % 3), i.toLong))
    val out = graft.ops.SampleOp.stratifiedWeighted(
      df(schema, rows: _*), "g", "id", 12, Map("p" -> 2.0, "q" -> 1.0, "r" -> 1.0))
    val byG = out.collect().groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(byG == Map("p" -> 6, "q" -> 3, "r" -> 3))
  }

  test("stratifiedWeightedEpochs upsamples small strata across epochs") {
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("id", LongType)))
    // g=p has 2 rows, g=q has 10; weights 4:1 over total 10 ->
    // exact p = 8 (capacity 2*4=8 binds at nothing: 8 <= 8), q = 2
    val rows = (1L to 2L).map(Row("p", _)) ++ (11L to 20L).map(Row("q", _))
    val out = graft.ops.SampleOp.stratifiedWeightedEpochs(
      df(schema, rows: _*), "g", "id", 10, Map("p" -> 4.0, "q" -> 1.0),
      maxEpochs = 4)
    val collected = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // p: quota 8 over 2 rows -> 4 full epochs each, epochs 0..3
    assert(collected.count(_._1 == "p") == 8)
    assert(collected.filter(_._1 == "p").map(_._3).toSet == Set(0L, 1L, 2L, 3L))
    // q: quota 2 over 10 rows -> 2 rows at epoch 0
    val qRows = collected.filter(_._1 == "q")
    assert(qRows.length == 2 && qRows.forall(_._3 == 0L))
    // capacity bind: weights demand more than maxEpochs allows -> under-fill
    val bound = graft.ops.SampleOp.stratifiedWeightedEpochs(
      df(schema, (1L to 3L).map(Row("p", _)): _*), "g", "id", 10,
      Map("p" -> 1.0), maxEpochs = 2)
    assert(bound.count() == 6) // 3 rows x 2 epochs, not 10
  }

  // ------------------------------------------------- lsh ann

  test("multiprobe LSH ANN finds cross-bucket neighbors a plain probe misses") {
    // 2D axis planes -> 4 buckets by quadrant. Query sits in quadrant (+,+);
    // its nearest neighbor sits just across the x-axis in (+,-): probe 0
    // misses it, Hamming-1 multiprobe finds it.
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("e", ArrayType(DoubleType))))
    val corpus = df(schema,
      Row(1L, Seq(1.0, 0.9)),    // same quadrant, farther in angle
      Row(2L, Seq(1.0, -0.05)),  // adjacent quadrant, nearly parallel
      Row(3L, Seq(-1.0, -1.0)))  // opposite quadrant
    val queries = df(schema, Row(10L, Seq(1.0, 0.05)))
    val planes = graft.dedup.EmbeddingDedup.axisPlanes(2, 2)
    def run(probe: Int) = graft.ann.Ann.lshSearch(
      corpus, "id", "e", queries, "id", "e", dim = 2, k = 2,
      numPlanes = 2, multiProbe = probe, explicitPlanes = Some(planes))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(run(0).map(_._1) == Seq(1L))           // own bucket only
    assert(run(1).map(_._1) == Seq(2L, 1L))       // Hamming-1 reaches id 2
    val plan = graft.ann.Ann.lshSearch(corpus, "id", "e", queries, "id", "e",
      dim = 2, k = 2, numPlanes = 2, multiProbe = 1,
      explicitPlanes = Some(planes)).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  // ------------------------------------------------- interleave

  test("interleave round-robins strata deterministically") {
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("id", LongType)))
    val d = df(schema,
      Row("b", 1L), Row("b", 2L), Row("b", 3L), Row("a", 10L), Row("a", 20L))
    val out = graft.ops.InterleaveOp(d, "g", "id")
      .orderBy("interleave_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // rounds: (a10, b1), (a20, b2), (b3)
    assert(out == Seq(
      ("a", 10L, 1L), ("b", 1L, 2L),
      ("a", 20L, 3L), ("b", 2L, 4L),
      ("b", 3L, 5L)))
  }

  // ------------------------------------------------- unigram surprisal

  test("unigram surprisal matches hand computation; rare tokens score high") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    // corpus tokens: a a a b -> p(a)=3/4, p(b)=1/4
    val d = df(schema, Row(1L, "a a a"), Row(2L, "b"))
    val out = graft.ops.UnigramScore.perDoc(d, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == r6(-math.log(0.75)))
    assert(out(2L) == r6(-math.log(0.25)))
    assert(out(2L) > out(1L)) // the rare-token doc is more surprising
    // passthrough form keeps input columns
    assert(graft.ops.UnigramScore(d, "id", "text").columns.toSeq ==
      Seq("id", "text", "nll"))
  }

  // ------------------------------------------------- tf-idf

  test("tf-idf top terms match hand computation and plan a window group limit") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    // "rare" appears only in doc 1; "common" in all three (idf = ln(1) = 0)
    val d = df(schema,
      Row(1L, "rare common common"),
      Row(2L, "common mid"),
      Row(3L, "common mid"))
    val out = TfIdfOp.topTerms(d, "id", "text", k = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
    val top = out.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(top(1L) == (("rare", math.rint(math.log(3.0) * 1e6) / 1e6)))
    val midScore = math.rint(math.log(3.0 / 2.0) * 1e6) / 1e6
    assert(top(2L) == (("mid", midScore)))
    assert(top(3L) == (("mid", midScore)))
  }

  test("decontaminate, pack, and tfidf run from YAML pipelines") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("g", StringType),
      StructField("text", StringType)))
    df(schema,
      Row(1L, "a", "one two three four five"),
      Row(2L, "a", "six seven eight nine ten"),
      Row(3L, "b", "totally different words here now"))
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    df(schema, Row(9L, "z", "one two three four"))
      .write.mode("overwrite").parquet(s"$dir/bench.parquet")
    val out = graft.api.Pipeline.runYaml(
      s"""
         |datasets:
         |  docs: { path: $dir/docs.parquet }
         |  bench: { path: $dir/bench.parquet }
         |operations:
         |  - name: scrub
         |    type: decontaminate
         |    benchmark: bench
         |    id_key: doc_id
         |    text_key: text
         |    n: 4
         |  - name: batch
         |    type: pack
         |    group_keys: [g]
         |    order_key: doc_id
         |    token_expr: "size(split(text, ' '))"
         |    budget: 10
         |pipeline:
         |  steps:
         |    - { name: s1, input: docs, operations: [scrub, batch] }
         |""".stripMargin, spark)
    // doc 1 is contaminated; 2 and 3 pack into pack 0 of their groups
    assert(out.select("doc_id", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 0L), (3L, 0L)))

    val tf = graft.api.Pipeline.runYaml(
      s"""
         |datasets:
         |  docs: { path: $dir/docs.parquet }
         |operations:
         |  - { name: terms, type: tfidf, id_key: doc_id, text_key: text, k: 2 }
         |pipeline:
         |  steps:
         |    - { name: s1, input: docs, operations: [terms] }
         |""".stripMargin, spark)
    assert(tf.columns.toSeq == Seq("doc_id", "term", "tfidf", "term_rank"))
    assert(tf.count() == 6) // 3 docs x k=2, all terms distinct per doc
  }

  test("new Frame entries chain into one training-prep flow") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val rows = (1 to 30).map { i =>
      Row(i.toLong, if (i % 3 == 0) "de" else "en",
        s"w$i common tokens appear here plus w${i % 7} and w${i % 5}")
    }
    val corpus = graft.api.Frame(df(schema, rows: _*), MockLlmClient())
    val bench = graft.api.Frame(
      df(schema, Row(99L, "en", "w1 common tokens appear")), MockLlmClient())
    val out = corpus
      .decontaminate(bench, "doc_id", "text", "text", n = 4)
      .unigramSurprisal("doc_id", "text") // doc cols + nll
      .interleave("lang", "doc_id")
      .pack(Seq("lang"), "interleave_rank", "8", budget = 16)
      .collect()
    assert(out.nonEmpty)
    val cols = corpus.decontaminate(bench, "doc_id", "text", "text", n = 4)
      .unigramSurprisal("doc_id", "text").interleave("lang", "doc_id")
      .pack(Seq("lang"), "interleave_rank", "8", budget = 16).df.columns.toSeq
    assert(cols == Seq("doc_id", "lang", "text", "nll", "interleave_rank", "pack_id"))
    // tfidf + weighted sampling entries compose too
    assert(corpus.tfidfTopTerms("doc_id", "text", 2).collect().length == 60)
    assert(corpus.sampleWeighted("lang", "doc_id", 6,
      Seq("en" -> 1.0, "de" -> 1.0)).collect().length == 6)
    assert(corpus.sampleWeightedEpochs("lang", "doc_id", 50,
      Seq("de" -> 1.0), maxEpochs = 2).collect().length == 20) // 10 de x 2
  }

  test("Frame decontaminate chains on the fluent API") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = graft.api.Frame(df(schema,
      Row(1L, "one two three four five"), Row(2L, "six seven eight nine ten")),
      MockLlmClient())
    val bench = graft.api.Frame(df(schema, Row(9L, "one two three four")),
      MockLlmClient())
    val kept = corpus.decontaminate(bench, "doc_id", "text", "text", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    val hits = corpus.decontaminate(bench, "doc_id", "text", "text", n = 4,
        mode = "hits")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1L, 1L)))
  }
}

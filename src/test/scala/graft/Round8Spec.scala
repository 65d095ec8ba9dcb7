package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.PairBudget
import graft.llm.MockLlmClient
import graft.ops.{ClusterOp, EquijoinOp, ResolveOp, SemanticReduce}

/** Top-level so Class.forName can zero-arg construct it (YAML http_client
  * seam test). */
final class TestHttpClient extends graft.ops.HttpClient {
  def search(query: String, maxResults: Int): Seq[(String, String, String)] =
    Seq(("t", "d", s"custom:$query"))
  def fetch(url: String): String = s"custom:$url"
}

/** Serves a fixed HTML page — convert_to_markdown test double. */
final class HtmlHttpClient extends graft.ops.HttpClient {
  def search(query: String, maxResults: Int): Seq[(String, String, String)] = Nil
  def fetch(url: String): String =
    """<!DOCTYPE html><html><head><title>x</title><style>p{color:red}</style></head>
      |<body><h1>Title &amp; More</h1><p>Hello <b>bold</b> and
      |<a href="https://x.invalid/a">a link</a>.</p>
      |<ul><li>one</li><li>two</li></ul>
      |<pre><code>val x = 1</code></pre></body></html>""".stripMargin
}

class HtmlToMarkdownSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.sources.HtmlToMarkdown

  test("converts the common article shapes to ATX markdown") {
    val md = HtmlToMarkdown(new HtmlHttpClient().fetch(""))
    assert(md.contains("# Title & More"))
    assert(md.contains("**bold**"))
    assert(md.contains("[a link](https://x.invalid/a)"))
    assert(md.contains("- one") && md.contains("- two"))
    assert(md.contains("```\nval x = 1\n```"))
    assert(!md.contains("<") && !md.contains("color:red")) // tags+css gone
  }

  test("ordered lists number per list; blockquotes and tables flatten") {
    val md = HtmlToMarkdown(
      "<ol><li>first</li><li>second</li></ol><ol><li>again</li></ol>" +
        "<blockquote>quoted\nlines</blockquote>" +
        "<table><tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>")
    assert(md.contains("1. first") && md.contains("2. second"))
    assert(md.contains("1. again")) // numbering resets per <ol>
    assert(md.contains("> quoted"))
    assert(md.contains("| a | b |") && md.contains("| 1 | 2 |"))
  }

  test("entities decode safely and non-HTML is detected") {
    assert(HtmlToMarkdown("<p>&amp;lt; stays</p>") == "&lt; stays")
    assert(HtmlToMarkdown.looksLikeHtml("<!DOCTYPE html><html>"))
    assert(!HtmlToMarkdown.looksLikeHtml("# already markdown"))
  }

  test("never throws on adversarial tag soup") {
    val rng = new scala.util.Random(13)
    val frags = Seq("<div>", "</p>", "<a href='x", "<pre>", "</code>", "<h3", ">",
      "&#x;", "&amp", "<!--", "<li>", "</ol>", "text ", "<script>boom", "\"", "'")
    (1 to 200).foreach { _ =>
      val soup = (1 to 20).map(_ => frags(rng.nextInt(frags.length))).mkString
      val out = HtmlToMarkdown(soup) // must not throw
      assert(out != null)
    }
    // unterminated blocks degrade to text, never exceptions
    assert(HtmlToMarkdown("<blockquote>open forever") contains "open forever")
  }
}

class PairBudgetSpec extends SparkSpec {
  private val client = MockLlmClient()

  test("selfJoinStats reports the hottest bucket and the total pair count") {
    val d = df(StructType(Seq(StructField("b", StringType))),
      (Seq.fill(4)(Row("hot")) ++ Seq.fill(2)(Row("cold"))): _*)
    val s = PairBudget.selfJoinStats(d, "b").get
    assert(s.bucket == "hot" && s.rows == 4 && s.pairs == 6)
    assert(s.totalPairs == 7) // 6 + 1
    assert(PairBudget.selfJoinStats(d.limit(0), "b").isEmpty)
  }

  test("warnIfSkewed fires only past the pair threshold") {
    val stats = Some(PairBudget.BucketStats("k", 5, 10, 12))
    PairBudget.lastWarning = None
    PairBudget.warnIfSkewed(stats, "ctx-quiet", warnPairs = 10)
    assert(PairBudget.lastWarning.isEmpty) // 10 is not > 10
    PairBudget.warnIfSkewed(stats, "ctx-loud", warnPairs = 9)
    assert(PairBudget.lastWarning.exists(m =>
      m.contains("ctx-loud") && m.contains("10 candidate pairs")))
  }

  test("resolve warns on a quadratic bucket and maxPairsPerBucket caps verify calls") {
    // 12 rows in ONE bucket with pairwise-distinct renders: 66 candidate
    // pairs. The cap keeps a deterministic 5-pair head; the mock matches
    // nothing (distinct renders), so callCount == verified pairs exactly.
    val rows = (1 to 12).map(i => Row(i.toLong, f"pb8u-$i%02d"))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))), rows: _*)
    PairBudget.lastWarning = None
    MockLlmClient.resetCalls()
    val out = ResolveOp(d, ResolveOp.Config(
      name = "hotres", idKey = "id", blockExpr = "'one'", compareExpr = "v",
      resolveKeys = Seq("v"),
      maxPairsPerBucket = Some(5L), warnPairsPerBucket = 10L), client)
    assert(out.count() == 12) // cardinality preserved
    assert(client.callCount == 5) // 66 pairs capped to 5
    assert(PairBudget.lastWarning.exists(m =>
      m.contains("resolve 'hotres'") && m.contains("66 candidate pairs")))
  }

  test("resolve stays quiet and uncapped below the thresholds") {
    val rows = (1 to 4).map(i => Row(i.toLong, f"pb8q-$i%02d"))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))), rows: _*)
    PairBudget.lastWarning = None
    MockLlmClient.resetCalls()
    ResolveOp(d, ResolveOp.Config(
      name = "quietres", idKey = "id", blockExpr = "'one'", compareExpr = "v",
      resolveKeys = Seq("v")), client).count()
    assert(client.callCount == 6) // all 4*3/2 pairs verified, no cap
    assert(PairBudget.lastWarning.isEmpty)
  }

  test("auto-blocking calibrated threshold is invariant under repartition/coalesce") {
    // The calibration sample is a global sort-limit over rendered compare
    // strings — the fitted threshold (and hence the join) must not depend on
    // how either side happens to be partitioned (the 100 TB analog: file
    // listing order). Mirrors CascadeSpec's threshold-invariance check.
    val emb = ArrayType(FloatType)
    val l = df(StructType(Seq(StructField("lid", LongType), StructField("nk", LongType),
      StructField("le", emb))),
      (1L to 12L).map(i => Row(i, i % 3, Seq(
        (if (i % 3 == 0) 1.0f else if (i % 3 == 1) -1.0f else 0.0f),
        (if (i % 3 == 2) 1.0f else 0.1f)))): _*)
    val r = df(StructType(Seq(StructField("rid", LongType), StructField("nk2", LongType),
      StructField("re", emb))),
      (0L to 2L).map(i => Row(i + 100, i, Seq(
        (if (i == 0) 1.0f else if (i == 1) -1.0f else 0.0f),
        (if (i == 2) 1.0f else 0.1f)))): _*)
    def run(lt: org.apache.spark.sql.DataFrame, rt: org.apache.spark.sql.DataFrame) = {
      val (joined, threshold) = EquijoinOp.withAutoEmbeddingBlocking(
        lt, rt, EquijoinOp.Config(
          name = "autoinv", condition = "nk = nk2",
          compareExprLeft = "cast(nk as string)",
          compareExprRight = "cast(nk2 as string)"),
        "le", "re", dim = 2, client)
      (threshold,
        joined.select("lid", "rid").orderBy("lid", "rid").collect().toSeq)
    }
    val base = run(l, r)
    assert(run(l.repartition(7), r.repartition(5)) == base)
    assert(run(l.coalesce(1), r.coalesce(1)) == base)
  }

  test("deep hierarchical clustering bounds the per-level driver sample") {
    // 512 rows, depth 8: an unbounded 1000-per-node sample would collect the
    // whole input at every level. Every level must stay under
    // max(cap, 2 x active nodes) — the floor of 2 points per node is the
    // only thing allowed to lift the cap — and the unbounded default would
    // blow through it from level 1 (512 > 64). Output must still be a valid
    // depth<=8 clustering.
    val rng = new scala.util.Random(7)
    val rows = (0 until 512).map { i =>
      Row(i.toLong, Seq.fill(4)((rng.nextGaussian() * (1 + i % 8)).toFloat))
    }
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(FloatType)))), rows: _*)
    val out = ClusterOp.hierarchical(d, "e", "cast(id as string)",
      depth = 8, client, maxDriverSampleRowsPerLevel = 64)
    assert(out.count() == 512)
    assert(ClusterOp.lastSampleRowsPerLevel.length == 8)
    assert(ClusterOp.lastSampleRowsPerLevel.forall { case (rows, nodes) =>
      rows <= math.max(64L, 2L * nodes)
    }, s"level (rows, nodes) ${ClusterOp.lastSampleRowsPerLevel} exceed max(cap, 2*nodes)")
    assert(ClusterOp.lastSampleRowsPerLevel.head._1 <= 64) // cap binds at the root
    assert(out.filter(size(col("clusters")) < 1 || size(col("clusters")) > 9).count() == 0)
  }

  test("default driver-sample cap leaves small-scale clustering unchanged") {
    // With the 65536-row default the cap never binds at this scale, so the
    // capped code path must reproduce the pre-cap behavior bit-for-bit.
    val rng = new scala.util.Random(11)
    val rows = (0 until 40).map { i =>
      val (cx, cy) = (i % 4) match {
        case 0 => (1.0, 1.0); case 1 => (1.0, -1.0)
        case 2 => (-1.0, 1.0); case _ => (-1.0, -1.0)
      }
      Row(i.toLong, Seq((cx + rng.nextGaussian() * 0.05).toFloat,
        (cy + rng.nextGaussian() * 0.05).toFloat))
    }
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(FloatType)))), rows: _*)
    def paths(cap: Int) = ClusterOp.hierarchical(d, "e", "cast(id as string)",
        depth = 2, client, maxDriverSampleRowsPerLevel = cap)
      .select(col("id"), col("clusters")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(paths(65536) == paths(1 << 30))
  }

  test("streaming fold reduce equals the collect_list shape, feature by feature") {
    // The streaming path must reproduce the array path bit-for-bit: same
    // chunking, same ACC-carrying prompts, same pass-through, counts,
    // intermediates, observability, and gleaning behavior. 3 groups x
    // uneven sizes, foldBatchSize 2 -> multi-chunk chains everywhere.
    val rows = (1 to 17).map(i =>
      Row(i.toLong, s"g${i % 3}", s"member-$i%02d".format(i), s"pt-${i % 3}"))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", StringType), StructField("p", StringType))), rows: _*)
    def run(streaming: Boolean, extras: SemanticReduce.Config => SemanticReduce.Config) = {
      graft.llm.LlmCache.clear()
      val cfg = extras(SemanticReduce.Config(
        name = "sf", reduceKeys = Seq("g"), memberExpr = "m", orderKey = "id",
        outputSchema = Seq("acc" -> "str"), strategy = "fold",
        foldBatchSize = 2, streamingFold = streaming))
      SemanticReduce(d, cfg, client).orderBy("g").collect().map(_.toSeq).toSeq
    }
    assert(run(true, identity) == run(false, identity))
    assert(run(true, _.copy(passThrough = Seq("p"), persistIntermediates = true,
      enableObservability = true)) ==
      run(false, _.copy(passThrough = Seq("p"), persistIntermediates = true,
        enableObservability = true)))
    assert(run(true, _.copy(gleaning = Some(graft.ops.GleaningConfig("ok?", 1)))) ==
      run(false, _.copy(gleaning = Some(graft.ops.GleaningConfig("ok?", 1)))))
    // features needing the full member list silently keep the array shape
    val sampled = run(true, _.copy(valueSampleSize = Some(3), lineage = true))
    assert(sampled == run(false, _.copy(valueSampleSize = Some(3), lineage = true)))
    // the streaming result must also be partition-invariant
    graft.llm.LlmCache.clear()
    val repart = SemanticReduce(d.repartition(7), SemanticReduce.Config(
      name = "sf", reduceKeys = Seq("g"), memberExpr = "m", orderKey = "id",
      outputSchema = Seq("acc" -> "str"), strategy = "fold",
      foldBatchSize = 2), client).orderBy("g").collect().map(_.toSeq).toSeq
    assert(repart == run(false, identity))
  }

  test("first_n value sampling pushes the cap below the member collect") {
    // Pushdown keeps results identical to in-task sampling, and the
    // collect_list becomes CONDITIONAL on the window rank — the agg buffer
    // holds at most k members per group instead of the whole group (the
    // full-group count still aggregates every row).
    val rows = (1 to 12).map(i => Row(i.toLong, s"g${i % 2}", f"m-$i%02d"))
    val d = df(StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", StringType))), rows: _*)
    val cfg = SemanticReduce.Config(
      name = "fp", reduceKeys = Seq("g"), memberExpr = "m", orderKey = "id",
      outputSchema = Seq("summary" -> "str"), strategy = "batch",
      valueSampleSize = Some(2))
    val out = SemanticReduce(d, cfg, client)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("collect_list(CASE WHEN (_graft_vsrn"))
    val got = out.orderBy("g").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[String]("summary"),
        r.getAs[Long]("_counts_prereduce_fp"))).toSeq
    // mock summary over the 2 smallest-ordered members; counts = FULL group
    assert(got.map(_._3) == Seq(6L, 6L))
    assert(got.forall(_._2.startsWith("docs=2 ")))
    // lineage needs every member -> pushdown must stay off
    val lin = SemanticReduce(d, cfg.copy(lineage = true), client)
    assert(!lin.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    assert(lin.select(org.apache.spark.sql.functions.size(col("fp_lineage")))
      .collect().forall(_.getInt(0) == 6))
  }

  test("LCG sampler ord-threshold pre-filter stays exact and partition-invariant") {
    // The bounded-histogram threshold must not change WHAT is sampled —
    // only how many rows reach the rank window. Expected set computed
    // independently in Scala from the same LCG.
    val seed = 7L
    val rot = java.lang.Long.remainderUnsigned(seed * 0x9E3779B97F4A7C15L, 233280L)
    def lcg(k: Long) = math.floorMod(k * 9301L + 49297L + rot, 233280L)
    val rows = (1L to 500L).map(i => Row(i, s"g${i % 3}"))
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("g", StringType))), rows: _*)
    val expected = rows.map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy { case (id, _) => (lcg(id), id) }.take(8)
      }.map(_._1).toSet
    def got(input: org.apache.spark.sql.DataFrame) =
      graft.ops.SampleOp.stratifiedUniform(input, "g", "id", 8, seed)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(got(d) == expected)
    assert(got(d.repartition(11)) == expected)
    assert(got(d.coalesce(1)) == expected)
    // proportional variant: full quota allocation still lands exactly
    val prop = graft.ops.SampleOp.stratifiedProportional(d, "g", "id", 30, seed)
    assert(prop.count() == 30)
    assert(graft.ops.SampleOp.stratifiedProportional(d.repartition(5), "g", "id", 30, seed)
      .select("id").collect().map(_.getLong(0)).toSet ==
      prop.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("dedup maxBucketSize bans hot buckets without touching cold ones") {
    // 30 identical boilerplate docs (one hot band bucket per band) + one
    // genuine near-dup pair of a distinct text. Cap 10: the boilerplate
    // rows' buckets are banned (pairs vanish), the cold pair survives.
    val boiler = (1 to 30).map(i =>
      Row(i.toLong, "the same boilerplate text repeated in every document here"))
    val pairDocs = Seq(
      Row(100L, "unique salmon document about spark window aggregation semantics"),
      Row(101L, "unique salmon document about spark window aggregation semantic"))
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("text", StringType))), (boiler ++ pairDocs): _*)
    val uncapped = graft.dedup.MinHashDedup.candidatePairs(
      d, "id", "text", jaccardThreshold = 0.5)
    val capped = graft.dedup.MinHashDedup.candidatePairs(
      d, "id", "text", jaccardThreshold = 0.5, maxBucketSize = Some(10))
    def pairsOf(x: org.apache.spark.sql.DataFrame) =
      x.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(uncapped).contains((100L, 101L)))
    assert(pairsOf(uncapped).size == 30 * 29 / 2 + 1) // boilerplate all-pairs
    assert(pairsOf(capped) == Set((100L, 101L))) // hot buckets banned, cold kept
  }

  test("column pruning reaches the parquet scans of projecting suite queries") {
    // A scan that reads all 11 lineitem columns for a 4-column projection
    // wastes IO linearly with table width at 100 TB. Parse each query's
    // physical plan for FileScan ReadSchema field counts and pin the
    // expected pruned width (small slack for op-internal key columns).
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val caps = Map(
      "q15_sample_stratified" -> 5, // 4 selected + stratify key overlap
      "q61_sample_stratified_uniform" -> 5,
      "q05_tpch3_topk" -> 8, // 3 tables' pruned scans, widest one
      "q20_text_stats" -> 2, // doc_id + text
      "q01_code_reduce_tpch1" -> 4)
    val readSchema = """ReadSchema: struct<([^>]*)>""".r
    val offenders = caps.toSeq.flatMap { case (name, cap) =>
      val plan = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      readSchema.findAllMatchIn(plan).toSeq.flatMap { m =>
        val n = m.group(1).count(_ == ':') // fields = "name:type" pairs
        if (n > cap) Some(s"$name: scan reads $n cols (cap $cap)") else None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("web ops accept a custom HttpClient class from YAML") {
    val dir = java.nio.file.Files.createTempDirectory("r8http").toString
    df(StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      Row(1L, "https://a.invalid/x")).write.mode("overwrite").parquet(s"$dir/d.parquet")
    val out = graft.api.Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - { type: web_fetch, name: wf, url_key: u,
         |            http_client: graft.TestHttpClient }
         |""".stripMargin, spark)
    assert(out.select("wf_content").collect()(0).getString(0) ==
      "custom:https://a.invalid/x")
    val err = intercept[IllegalArgumentException] {
      graft.api.Pipeline.runYaml(
        s"""datasets:
           |  d: { path: $dir/d.parquet }
           |pipeline:
           |  steps:
           |    - name: s
           |      input: d
           |      operations:
           |        - { type: web_fetch, name: wf, url_key: u, http_client: no.such.Cls }
           |""".stripMargin, spark)
    }
    assert(err.getMessage.contains("no.such.Cls"))
  }

  test("web_fetch converts HTML to markdown when convert_to_markdown is set") {
    val d = df(StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      Row(1L, "https://x.invalid/page"))
    val out = graft.ops.WebFetchOp(d, "wf", "u", new HtmlHttpClient(),
      convertToMarkdown = true)
    val md = out.select("wf_content").collect()(0).getString(0)
    assert(md.contains("# Title & More") && !md.contains("<html"))
    // flag off -> raw passthrough
    val raw = graft.ops.WebFetchOp(d, "wf", "u", new HtmlHttpClient())
      .select("wf_content").collect()(0).getString(0)
    assert(raw.contains("<html"))
  }

  test("parse skip_on_error drops corrupt files instead of failing the query") {
    // One valid docx (fixture writer) + one valid ZIP whose document.xml is
    // malformed XML — the StAX parse throws (plain garbage bytes degrade to
    // an empty doc without error: no zip entry found).
    val good = graft.sources.ParsingTools.makeDocx(Seq("hello world"))
    val junk = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      zos.write("<w:document><w:p><w:t>unclosed".getBytes("UTF-8"))
      zos.closeEntry(); zos.close()
      bos.toByteArray
    }
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("content", BinaryType))),
      Row(1L, good), Row(2L, junk))
    val ok = graft.sources.ParseOp(d, graft.sources.ParseOp.Config(
      function = "docx", skipOnError = true))
    val rows = ok.select("id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "hello world"))) // corrupt file -> zero rows
    val strict = graft.sources.ParseOp(d, graft.sources.ParseOp.Config(function = "docx"))
    intercept[org.apache.spark.SparkException] { strict.count() } // default: loud
  }

  test("web_fetch supports static url, url lists, output_field, and parallel fetch") {
    val stub = graft.ops.StubHttpClient()
    // static url: every row fetches the same page into a custom field
    val d1 = df(StructType(Seq(StructField("id", LongType))), Row(1L), Row(2L))
    val s1 = graft.ops.WebFetchOp(d1, "wf", "", stub,
      outputField = Some("page"), staticUrl = Some("https://x.invalid/s"))
    assert(s1.columns.contains("page"))
    assert(s1.select("page").collect().map(_.getString(0)).distinct.toSeq ==
      Seq("# stub page\nfetched: https://x.invalid/s\n"))
    // url list column: array-aligned results, nulls/empties preserved
    val d2 = df(StructType(Seq(StructField("id", LongType),
      StructField("us", ArrayType(StringType)))),
      Row(1L, Seq("https://a.invalid/1", null, "https://a.invalid/2")),
      Row(2L, null))
    val s2 = graft.ops.WebFetchOp(d2, "wf", "us", stub, maxWorkers = 4)
      .orderBy("id").select("wf_content").collect()
    val r1 = s2(0).getSeq[String](0)
    assert(r1.length == 3 && r1(1) == null)
    assert(r1(0).contains("https://a.invalid/1") && r1(2).contains("https://a.invalid/2"))
    assert(s2(1).getSeq[String](0).isEmpty) // null url list -> empty result
  }

  test("web_search: empty query searches nothing, row errors become ERROR rows") {
    val failing = new graft.ops.HttpClient {
      def search(q: String, n: Int): Seq[(String, String, String)] =
        if (q.contains("boom")) throw new RuntimeException("engine down")
        else Seq(("t", "d", s"u:$q"))
      def fetch(url: String): String = ""
    }
    val d = df(StructType(Seq(StructField("id", LongType), StructField("t", StringType))),
      Row(1L, "fine"), Row(2L, ""), Row(3L, "boom"))
    val out = graft.ops.WebSearchOp(d, "ws", "{{ input.t }}", 3, failing)
      .orderBy("id").select("search_results").collect()
    assert(out(0).getSeq[Row](0).head.getString(2) == "u:fine")
    assert(out(1).getSeq[Row](0).isEmpty) // empty query -> no search
    val err = out(2).getSeq[Row](0)
    assert(err.length == 1 && err.head.getString(0) == "ERROR" &&
      err.head.getString(1).contains("engine down"))
  }

  test("max_pairs_per_bucket reaches resolve through the YAML registry") {
    val dir = java.nio.file.Files.createTempDirectory("r8cap").toString
    val rows = (1 to 10).map(i => Row(i.toLong, "one", f"yv-$i%02d"))
    df(StructType(Seq(StructField("id", LongType), StructField("b", StringType),
      StructField("v", StringType))), rows: _*)
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    MockLlmClient.resetCalls()
    val out = graft.api.Pipeline.runYaml(
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: resolve
         |          name: ycap
         |          id_key: id
         |          block_expr: "b"
         |          compare_expr: "v"
         |          resolve_keys: [v]
         |          max_pairs_per_bucket: 3
         |""".stripMargin, spark)
    assert(out.count() == 10)
    assert(MockLlmClient().callCount == 3) // 45 bucket pairs, capped head of 3
  }

  test("run summary surfaces skew warnings raised during the run") {
    val dir = java.nio.file.Files.createTempDirectory("r8skewsum").toString
    val rows = (1 to 8).map(i => Row(i.toLong, "hot", f"sv-$i%02d"))
    df(StructType(Seq(StructField("id", LongType), StructField("b", StringType),
      StructField("v", StringType))), rows: _*)
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    val yaml = java.nio.file.Paths.get(dir, "p.yaml")
    java.nio.file.Files.writeString(yaml,
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |pipeline:
         |  steps:
         |    - name: s
         |      input: d
         |      operations:
         |        - type: resolve
         |          name: skres
         |          id_key: id
         |          block_expr: "b"
         |          compare_expr: "v"
         |          resolve_keys: [v]
         |          warn_pairs_per_bucket: 10
         |""".stripMargin)
    val lines = graft.tools.RunPipeline.runAndReport(yaml.toString, spark, showRows = 0)
    assert(lines.exists(l => l.startsWith("[pipeline] skew:") &&
      l.contains("resolve 'skres'") && l.contains("28 candidate pairs")))
  }

  test("canonicalization member cap keeps the canonical value and cardinality") {
    // 5-member cluster, cap 2: the mock canonical (lexicographic min of the
    // resolve key) is inside any rank-limited head, so the result must equal
    // the uncapped run; all rows keep their cluster's canonical value.
    val rows = (1 to 5).map(i => Row(i.toLong, "blk", f"name-$i%02d")) :+
      Row(9L, "other", "loner")
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("b", StringType), StructField("v", StringType))), rows: _*)
    def run(cap: Int) = ResolveOp(d, ResolveOp.Config(
      name = "cc", idKey = "id", blockExpr = "b", compareExpr = "b",
      resolveKeys = Seq("v"), autoMatchOnBlockEquality = true,
      maxCanonicalMembers = cap), client)
      .select("id", "v").orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val capped = run(2)
    assert(capped == run(1000))
    assert(capped.take(5).forall(_._2 == "name-01")) // min member canonicalizes
    assert(capped.last == ((9L, "loner"))) // singleton untouched
  }

  test("large-corpus retriever plans are free of nested-loop and cartesian joins") {
    // Force every retriever's indexed path (corpusGate below the corpus
    // size) and audit the PHYSICAL plan — the scale guarantee is that no
    // corpus size ever plans an all-pairs stage (PlanAuditSpec's rule,
    // extended to the above-gate code paths the suite queries don't reach).
    import graft.ops.RetrieverOp
    val corpusRows = (0 until 40).map { i =>
      val a = i * 2 * math.Pi / 40
      Row(Seq(math.cos(a), math.sin(a)), f"tok$i%02d shared")
    }
    val corpus = df(StructType(Seq(
      StructField("ce", ArrayType(DoubleType)), StructField("ctext", StringType))),
      corpusRows: _*)
    val base = df(StructType(Seq(
      StructField("id", LongType), StructField("e", ArrayType(DoubleType)),
      StructField("qtext", StringType))),
      Row(1L, Seq(1.0, 0.0), "tok03 shared"))
    val plans = Map(
      "term_overlap" -> RetrieverOp.byTermOverlap(base, "r1", "qtext",
        corpus, "ctext", "ctext", k = 2, corpusGate = 10),
      "embedding" -> RetrieverOp.byEmbedding(base, "r2", "e",
        corpus, "ce", "ctext", k = 2, corpusGate = 10, nCentroids = 4, nProbe = 2),
      "hybrid" -> RetrieverOp.byHybrid(base, "r3", "e", "qtext",
        corpus, "ce", "ctext", "ctext", k = 2, corpusGate = 10,
        nCentroids = 4, nProbe = 2),
      "bm25" -> RetrieverOp.byBm25(base, "r4", "qtext",
        corpus, "ctext", "ctext", k = 2))
    val offenders = plans.toSeq.flatMap { case (name, d) =>
      val plan = d.queryExecution.executedPlan.toString
      Seq("BroadcastNestedLoopJoin", "CartesianProduct").collect {
        case op if plan.contains(op) => s"$name: $op"
      }
    }
    assert(offenders.isEmpty, s"all-pairs operators:\n${offenders.mkString("\n")}")
  }

  test("Frame fluent API chains parse, web ops, and capped minhash dedup") {
    val docx = graft.sources.ParsingTools.makeDocx(Seq("alpha beta gamma delta"))
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("content", BinaryType))), Row(1L, docx))
    val out = graft.api.Frame(d, MockLlmClient())
      .parse(graft.sources.ParseOp.Config(function = "docx"))
      .webSearch("{{ input.text }}", maxResults = 1)
      .addUuid("u")
      .toDF
    val r = out.collect()(0)
    assert(r.getAs[String]("text") == "alpha beta gamma delta")
    assert(r.getSeq[Row](r.fieldIndex("search_results")).nonEmpty)
    // capped minhash on the fluent surface compiles + runs
    val many = df(StructType(Seq(StructField("id", LongType),
      StructField("text", StringType))),
      (1 to 6).map(i => Row(i.toLong, "identical boilerplate text here body")): _*)
    assert(graft.api.Frame(many, MockLlmClient())
      .dedupMinhash("id", "text", threshold = 0.5, maxBucketSize = Some(2))
      .count() == 6) // all buckets hot -> banned -> nothing deduped
  }

  test("llm-verified equijoin warns when one equi key would explode") {
    // 2000 left x 600 right rows on the same key: 1.2M pairs > the 1M
    // default. The diagnostic runs at plan-build time from per-side key
    // counts — the join itself is never executed here.
    val l = spark.range(2000).select(col("id"), lit("k").as("jk"), lit("x").as("cl"))
    val r = spark.range(600).select(col("id").as("rid"), lit("k").as("jk2"),
      lit("y").as("cr"))
    PairBudget.lastWarning = None
    EquijoinOp(l, r, EquijoinOp.Config(
      name = "hotej", condition = "l.jk = r.jk2",
      compareExprLeft = "cl", compareExprRight = "cr", llmVerify = true), client)
    assert(PairBudget.lastWarning.exists(m =>
      m.contains("equijoin 'hotej'") && m.contains("1200000 candidate pairs")))
    // Unverified joins skip the diagnostic: Catalyst/AQE own pure-relational
    // skew, and no LLM budget is at stake.
    PairBudget.lastWarning = None
    EquijoinOp(l, r, EquijoinOp.Config(name = "coldej", condition = "l.jk = r.jk2"),
      client)
    assert(PairBudget.lastWarning.isEmpty)
  }
}

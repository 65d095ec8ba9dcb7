package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-10 fixes: null-safe chat render, null-safe streaming bloom clean,
  * path-anchored URL slash stripping, trainPq input validation, datacard
  * approx-distinct knob. */
class Round10Spec extends SparkSpec {

  // ------------------------------------------------------------- ChatOps

  private val msgsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("msgs", ArrayType(StructType(Seq(
      StructField("role", StringType),
      StructField("content", StringType)))))))

  test("chat render: a null message content renders empty, not null") {
    val d = df(msgsSchema,
      Row(1L, Seq(Row("user", "hi"), Row("assistant", null),
        Row("user", "still there?"), Row("assistant", "yes"))))
    val out = graft.ops.ChatOps.renderWithSpans(d, "msgs").head()
    val text = out.getAs[String]("text")
    assert(text ==
      "<|user|>\nhi\n<|assistant|>\n\n<|user|>\nstill there?\n<|assistant|>\nyes\n")
    val spans = out.getSeq[Row](out.fieldIndex("mask_spans"))
    assert(spans.size == 2)
    // null turn: zero-width span right after its header
    val (s0, e0) = (spans(0).getLong(0), spans(0).getLong(1))
    assert(s0 == e0)
    // final turn's span still lands exactly on "yes"
    val (s1, e1) = (spans(1).getLong(0), spans(1).getLong(1))
    assert(text.substring(s1.toInt, e1.toInt) == "yes")
  }

  test("chat render: ChatML template with bos/eos, spans land on content") {
    import graft.ops.ChatOps
    val d = df(msgsSchema,
      Row(1L, Seq(Row("user", "hi"), Row("assistant", "hello there"))))
    val out = ChatOps.render(d, "msgs",
      ChatOps.ChatTemplate.ChatML.copy(bos = "<s>", eos = "</s>")).head()
    val text = out.getAs[String]("text")
    assert(text == "<s><|im_start|>user\nhi<|im_end|>\n" +
      "<|im_start|>assistant\nhello there<|im_end|>\n</s>")
    val spans = out.getSeq[Row](out.fieldIndex("mask_spans"))
    assert(spans.size == 1)
    assert(text.substring(spans(0).getLong(0).toInt,
      spans(0).getLong(1).toInt) == "hello there")
  }

  test("chat render: alpaca template and role substitution in both affixes") {
    import graft.ops.ChatOps
    val d = df(msgsSchema, Row(1L, Seq(Row("user", "q"), Row("assistant", "a"))))
    val alp = ChatOps.render(d, "msgs", ChatOps.ChatTemplate.Alpaca).head()
    assert(alp.getAs[String]("text") == "### user:\nq\n\n### assistant:\na\n\n")
    // custom template with {role} in BOTH prefix and suffix
    val custom = ChatOps.ChatTemplate(
      msgPrefix = "[{role}]", msgSuffix = "[/{role}]")
    val out = ChatOps.render(d, "msgs", custom).head()
    val text = out.getAs[String]("text")
    assert(text == "[user]q[/user][assistant]a[/assistant]")
    val sp = out.getSeq[Row](out.fieldIndex("mask_spans"))
    assert(text.substring(sp(0).getLong(0).toInt, sp(0).getLong(1).toInt) == "a")
  }

  test("chat_render registry: template name and inline map") {
    val d = df(msgsSchema, Row(1L, Seq(Row("user", "x"), Row("assistant", "y"))))
    val byName = graft.api.Registry("chat_render")(d, graft.api.Conf.fromYaml(
      "type: chat_render\nmessages_key: msgs\ntemplate: chatml"), null).head()
    assert(byName.getAs[String]("text") ==
      "<|im_start|>user\nx<|im_end|>\n<|im_start|>assistant\ny<|im_end|>\n")
    val inline = graft.api.Registry("chat_render")(d, graft.api.Conf.fromYaml(
      "type: chat_render\nmessages_key: msgs\n" +
        "template: {msg_prefix: '{role}> ', msg_suffix: \"\\n\"}"), null).head()
    assert(inline.getAs[String]("text") == "user> x\nassistant> y\n")
    val bad = intercept[IllegalArgumentException] {
      graft.api.Registry("chat_render")(d, graft.api.Conf.fromYaml(
        "type: chat_render\nmessages_key: msgs\ntemplate: nope"), null)
    }
    assert(bad.getMessage.contains("unknown chat template"))
  }

  // ---------------------------------------------------- Streams.bloomClean

  test("bloomClean keeps null-text rows (gram-disjoint, like the batch op)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val stream = df(schema,
      Row(1L, "alpha beta gamma delta epsilon"), // contaminated
      Row(2L, null),                             // null text: must survive
      Row(3L, "totally novel words nothing shared"))
    val ref = df(schema, Row(10L, "alpha beta gamma delta epsilon"))
    val kept = graft.streaming.Streams
      .bloomClean(stream, "text", ref, "text", n = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  // ------------------------------------------------------------- UrlOps

  test("url canonicalize: slash strip is anchored to the path, not the query") {
    val schema = StructType(Seq(StructField("url", StringType)))
    val cases = Seq(
      // trailing path slash before the query: stripped
      "https://h/a/?x=1" -> "https://h/a?x=1",
      // slash inside a query-param VALUE at end-of-string: untouched
      "https://h/a?next=/home/" -> "https://h/a?next=/home/",
      // slash-question inside a query value: untouched (only the FIRST
      // '?' delimits the path)
      "https://h/a/?r=/a/?b" -> "https://h/a?r=/a/?b",
      // no query: trailing slashes stripped
      "https://h/a/b///" -> "https://h/a/b",
      // root slash runs collapse to bare authority
      "https://h///" -> "https://h")
    cases.foreach { case (in, want) =>
      val got = df(schema, Row(in))
        .select(graft.ops.UrlOps.canonicalize(col("url"))).head().getString(0)
      assert(got == want, s"canonicalize($in) = $got, want $want")
    }
  }

  test("url canonicalize stays idempotent on query-slash inputs") {
    val schema = StructType(Seq(StructField("url", StringType)))
    val d = df(schema, Row("https://H.example.com:443/a/?next=/home/&utm_x=1"))
    val once = d.select(graft.ops.UrlOps.canonicalize(col("url")).as("u"))
    val twice = once.select(graft.ops.UrlOps.canonicalize(col("u")).as("u"))
    assert(once.head().getString(0) == twice.head().getString(0))
    assert(once.head().getString(0) == "https://h.example.com/a?next=/home/")
  }

  // ------------------------------------------- registeredDomainViaTable

  test("psl domain: longest match, exact-suffix host, fallback") {
    import spark.implicits._
    val hosts = df(StructType(Seq(StructField("host", StringType))),
      Row("www.example.co.uk"), // co.uk beats uk -> example.co.uk
      Row("example.co.uk"),     // -> example.co.uk
      Row("co.uk"),             // host IS a suffix -> itself
      Row("uk"),                // single label, IS a suffix -> itself
      Row("a.b.unknown.zz"),    // nothing matches -> default rule
      Row("solo"))              // single unmatched label -> itself
    val sfx = Seq("com", "co.uk", "uk", "github.io").toDF("suffix")
    val out = graft.ops.UrlOps
      .registeredDomainViaTable(hosts, "host", sfx)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map(
      "www.example.co.uk" -> "example.co.uk",
      "example.co.uk" -> "example.co.uk",
      "co.uk" -> "co.uk",
      "uk" -> "uk",
      "a.b.unknown.zz" -> "unknown.zz",
      "solo" -> "solo"))
  }

  test("psl domain: plan is broadcast joins only, no shuffle join") {
    import spark.implicits._
    val hosts = df(StructType(Seq(StructField("host", StringType))),
      Row("a.example.com"))
    val sfx = Seq("com", "co.uk").toDF("suffix")
    val plan = graft.ops.UrlOps
      .registeredDomainViaTable(hosts, "host", sfx)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  test("url_parse registry: suffixes knob swaps the domain policy") {
    val d = df(StructType(Seq(StructField("url", StringType))),
      Row("https://www.shop.example.github.io/a/b"))
    val cfg = graft.api.Conf.fromYaml(
      "type: url_parse\nurl_key: url\nsuffixes: [github.io, com]")
    val out = graft.api.Registry("url_parse")(d, cfg, null).head()
    assert(out.getAs[String]("domain") == "example.github.io")
    // heuristic default would have said github.io's last two labels
    val noSfx = graft.api.Registry("url_parse")(d,
      graft.api.Conf.fromYaml("type: url_parse\nurl_key: url"), null).head()
    assert(noSfx.getAs[String]("domain") == "github.io")
  }

  // -------------------------------------------------------------- trainPq

  private val embSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("e", ArrayType(DoubleType))))

  test("trainPq rejects an empty corpus with a clear message") {
    val empty = df(embSchema)
    val ex = intercept[IllegalArgumentException] {
      graft.ann.ProductQuantize.trainPq(empty, "e", nSub = 1, nCodes = 2)
    }
    assert(ex.getMessage.contains("empty"))
  }

  test("trainPq rejects ragged embedding lengths") {
    val ragged = df(embSchema,
      Row(1L, Seq(1.0, 2.0)), Row(2L, Seq(1.0, 2.0, 3.0)))
    val ex = intercept[IllegalArgumentException] {
      graft.ann.ProductQuantize.trainPq(ragged, "e", nSub = 1, nCodes = 2)
    }
    assert(ex.getMessage.contains("ragged"))
  }

  // ---------------------------------------------------- LazyFrame surface

  test("LazyFrame round-10 builders round-trip through YAML and run") {
    import graft.api.{LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("lf10").toString
    val path = s"$dir/docs.parquet"
    docsDf.write.mode("overwrite").parquet(path)
    def roundTrips(lf: LazyFrame): Long = {
      val reparsed = LazyFrame.fromYaml(lf.toYaml)
      assert(reparsed.toYaml == lf.toYaml) // fixpoint
      val direct = lf.run(spark).count()
      assert(Pipeline.runYaml(lf.toYaml, spark).count() == direct)
      direct
    }
    val n = docsDf.count()
    assert(roundTrips(LazyFrame.read("docs", path)
      .bpeTrain("text", 2)) == 2)
    assert(roundTrips(LazyFrame.read("docs", path)
      .bpeEncode("text", 2, greedy = Some(true))) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .cdcChunk("doc_id", "text", mode = "rewrite", p = 4)) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .cmsEstimate("lang", width = 256, depth = 3)) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .truncateTokens("text", 4, mode = "head_tail", marker = "...")) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .sentenceStats("text")) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .corpusOverlap("lang", "text")) == 1) // en vs de
    assert(roundTrips(LazyFrame.read("docs", path)
      .urlParseWithSuffixes("text", Seq("com", "co.uk"))) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .conversationFromPairs("text", "lang", system = "be terse")
      .conversationValidate("messages")) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .conversationFromPairs("text", "lang")
      .chatRenderTemplate("messages", "chatml")) == n)
    assert(roundTrips(LazyFrame.read("docs", path)
      .datacard("text", "lang", approx = true)) == 8) // fixed metric rows
  }

  test("Frame round-10 surface composes") {
    import graft.api.Graft
    val f = Graft.fromDF(docsDf)
    assert(f.cdcChunk("doc_id", "text", p = 4).count() > 0)
    assert(f.cmsEstimate("lang").toDF.columns.contains("est_count"))
    assert(f.truncateTokens("text", 3, "tail").toDF
      .columns.contains("text_trunc"))
    assert(f.sentenceStats("text").toDF.columns.contains("n_sentences"))
    assert(f.corpusOverlap("lang", "text").count() == 1)
    assert(f.bpeTrain("text", 2).count() == 2)
    assert(f.bpeEncode("text", 2, greedy = Some(true)).toDF
      .columns.contains("tokens"))
    val conv = f.conversationFromPairs("text", "lang", "sys")
      .conversationValidate("messages")
    assert(conv.toDF.filter(col("conv_valid")).count() == docsDf.count())
    assert(f.conversationFromPairs("text", "lang")
      .chatRender("messages", graft.ops.ChatOps.ChatTemplate.ChatML)
      .toDF.columns.contains("mask_spans"))
  }

  test("bpeEncode facade leaves greedy to the Registry default") {
    import graft.api.{Graft, LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("lf10bpe").toString
    val path = s"$dir/docs.parquet"
    docsDf.write.mode("overwrite").parquet(path)
    val yaml = LazyFrame.read("docs", path).bpeEncode("text", 4).toYaml
    assert(!yaml.contains("greedy"), yaml)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "tokens").collect().map(_.toString).sorted.toSeq
    assert(rows(Graft.fromDF(spark.read.parquet(path)).bpeEncode("text", 4).toDF) ==
      rows(Pipeline.runYaml(yaml, spark)))
  }

  // ------------------------------------------------------------- Datacard

  test("datacard approx knob estimates the exact distinct metrics") {
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("src", StringType)))
    val rows = (1 to 200).map(i =>
      Row(s"document number ${i % 50} about topic ${i % 7}", s"s${i % 3}"))
    val d = df(schema, rows: _*)
    def metrics(approx: Boolean): Map[String, Double] =
      graft.ops.Datacard(d, "text", "src", approx = approx, rsd = 0.02)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = metrics(approx = false)
    val est = metrics(approx = true)
    assert(exact.keySet == est.keySet)
    // non-distinct metrics are identical; distinct-based ones within ~3x rsd
    assert(est("n_docs") == exact("n_docs"))
    assert(est("n_tokens") == exact("n_tokens"))
    assert(math.abs(est("exact_dup_rate") - exact("exact_dup_rate")) < 0.1)
    assert(math.abs(est("distinct_3gram_ratio") - exact("distinct_3gram_ratio")) < 0.1)
  }

  test("datacard perSlice approx keeps the slice join shape") {
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("src", StringType)))
    val rows = (1 to 90).map(i => Row(s"text piece ${i % 10} filler", s"s${i % 3}"))
    val d = df(schema, rows: _*)
    val out = graft.ops.Datacard.perSlice(d, "text", "src", approx = true)
    assert(out.columns.toSeq == Seq("src", "n_docs", "n_tokens",
      "exact_dup_rate", "distinct_3gram_ratio"))
    assert(out.count() == 3)
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.LineDedup
import graft.functions.{TextFunctions => TF}
import graft.ops.{ImportanceWeightOp, InterleaveOp}

/** Round-9 second-wave ops: PII scrubbing, corpus-frequency line dedup,
  * seeded global shuffle, DSIR importance weighting. */
class Round9bSpec extends SparkSpec {

  private def redact(s: String): String = {
    val schema = StructType(Seq(StructField("t", StringType)))
    df(schema, Row(s)).select(TF.redactPii(col("t")).as("r"))
      .collect()(0).getString(0)
  }

  // ------------------------------------------------------------- redact_pii

  test("redactPii scrubs emails, IPv4, SSNs and phone formats") {
    assert(redact("reach user42@mail.example.com or 10.2.142.7 " +
      "call (415) 555-0142 ssn 123-45-6789") ===
      "reach <EMAIL> or <IP> call <PHONE> ssn <SSN>")
    assert(redact("a.b+c_d%e@sub.domain.co and 255.255.255.255 end") ===
      "<EMAIL> and <IP> end")
    assert(redact("call +1 415-555-0100 or 415.555.0100 or (212) 555-0199") ===
      "call <PHONE> or <PHONE> or <PHONE>")
  }

  test("redactPii leaves clean text alone and is idempotent") {
    val clean = "no pii here just words 1234 and 12.5 percent"
    assert(redact(clean) === clean)
    val once = redact("mail me: a@b.io from 1.2.3.4")
    assert(redact(once) === once)
  }

  test("redactPii order: SSN wins over the looser phone pattern") {
    assert(redact("ssn 987-65-4321 then phone 555-123-4567") ===
      "ssn <SSN> then phone <PHONE>")
  }

  // ------------------------------------------------------------ dedup_lines

  private val lineSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  test("LineDedup removes over-frequent segments and preserves order") {
    val d = df(lineSchema,
      Row(1L, "cookie banner\nreal content one\nfooter"),
      Row(2L, "cookie banner\nreal content two\nfooter"),
      Row(3L, "cookie banner\nunique insight\nfooter"),
      Row(4L, "only original text here"))
    val out = LineDedup.clean(d, "id", "text", "\n", maxDocFreq = 2)
      .orderBy("id").collect()
    // "cookie banner" and "footer" occur in 3 docs > 2 -> banned everywhere.
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq(
      (1L, "real content one"),
      (2L, "real content two"),
      (3L, "unique insight"),
      (4L, "only original text here")))
  }

  test("LineDedup drops documents whose segments are all boilerplate") {
    val d = df(lineSchema,
      Row(1L, "x\ny"), Row(2L, "x\ny"), Row(3L, "x\ny"),
      Row(4L, "x\nkeep me"))
    val out = LineDedup.clean(d, "id", "text", "\n", maxDocFreq = 2)
      .orderBy("id").collect()
    // "x" (df 4) and "y" (df 3) both exceed 2 -> docs 1-3 have nothing
    // left and drop; doc 4 keeps its unique line.
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((4L, "keep me")))
  }

  test("LineDedup keeps repeated segments WITHIN one document") {
    val d = df(lineSchema, Row(1L, "a\na\nb"), Row(2L, "c\nd"))
    val out = LineDedup.clean(d, "id", "text", "\n", maxDocFreq = 1)
      .orderBy("id").collect()
    // "a" repeats in doc 1 only -> document frequency 1, not banned.
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq(
      (1L, "a\na\nb"), (2L, "c\nd")))
  }

  test("LineDedup validates maxDocFreq") {
    val d = df(lineSchema, Row(1L, "a"))
    intercept[IllegalArgumentException] {
      LineDedup.clean(d, "id", "text", "\n", maxDocFreq = 0)
    }
  }

  // ---------------------------------------------------------------- shuffle

  test("shuffle emits a deterministic seed-keyed permutation") {
    val d = spark.range(1, 101).toDF("id")
    val a = InterleaveOp.shuffle(d, "id", seed = 7)
      .select("id", "shuffle_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a.values.toSeq.sorted === (1L to 100L))
    val b = InterleaveOp.shuffle(d, "id", seed = 7)
      .select("id", "shuffle_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b)
    val c = InterleaveOp.shuffle(d, "id", seed = 8)
      .select("id", "shuffle_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(c.values.toSeq.sorted === (1L to 100L))
    assert(a !== c) // 100! permutations; seeds colliding would be a bug
    // not the identity order either
    assert(a.toSeq.count { case (id, rk) => id == rk } < 20)
  }

  test("shuffle refuses an output-column collision") {
    val d = spark.range(5).toDF("shuffle_rank")
    intercept[IllegalArgumentException] {
      InterleaveOp.shuffle(d, "shuffle_rank", seed = 1)
    }
  }

  // ----------------------------------------------------- importance weights

  test("importance weights match a brute-force reference and rank target-like docs first") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = df(schema,
      Row(1L, "paris lyon paris wine"),
      Row(2L, "code code bug stack"),
      Row(3L, "paris wine cheese"),
      Row(4L, "bug stack trace code"))
    val target = df(schema, Row(10L, "paris wine paris cheese wine"))

    val got = ImportanceWeightOp.logRatio(corpus, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // Brute-force reference: joint-vocab Laplace-smoothed unigram log-ratio.
    val cToks = Seq("paris", "lyon", "paris", "wine", "code", "code", "bug",
      "stack", "paris", "wine", "cheese", "bug", "stack", "trace", "code")
    val tToks = Seq("paris", "wine", "paris", "cheese", "wine")
    val cCnt = cToks.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val tCnt = tToks.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val vocab = (cCnt.keySet ++ tCnt.keySet)
    val v = vocab.size.toDouble
    val nc = cToks.size.toDouble
    val nt = tToks.size.toDouble
    def w(tok: String): Double =
      math.log((tCnt.getOrElse(tok, 0.0) + 1) / (nt + v)) -
        math.log((cCnt.getOrElse(tok, 0.0) + 1) / (nc + v))
    val expect = Map(
      1L -> Seq("paris", "lyon", "paris", "wine"),
      2L -> Seq("code", "code", "bug", "stack"),
      3L -> Seq("paris", "wine", "cheese"),
      4L -> Seq("bug", "stack", "trace", "code")
    ).view.mapValues(ts => ts.map(w).sum / ts.size).toMap

    for ((id, e) <- expect)
      assert(math.abs(got(id) - e) < 1e-6, s"doc $id")
    // Wine-and-paris docs must out-score the code docs.
    assert(got(3L) > got(2L) && got(1L) > got(4L))
    assert(got(3L) > 0 && got(2L) < 0)
  }

  // ------------------------------------------------------ bigram surprisal

  test("bigram surprisal matches a brute-force interpolated model") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = df(schema,
      Row(1L, "a b a b"),
      Row(2L, "a b c"),
      Row(3L, "c"))  // single token: no bigram, absent from output
    val got = graft.ops.BigramScore.perDoc(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(3L))

    // corpus bigrams: (a,b)x3 (doc1 twice, doc2 once), (b,a)x1, (b,c)x1
    // ctx totals: a->3, b->2 ; unigrams: a:3 b:3 c:2, N=8
    def p(cb: Double, cctx: Double, cu: Double): Double =
      0.75 * cb / cctx + 0.25 * cu / 8.0
    val d1 = Seq(p(3, 3, 3), p(1, 2, 3), p(3, 3, 3)).map(x => -math.log(x))
    val d2 = Seq(p(3, 3, 3), p(1, 2, 2)).map(x => -math.log(x))
    assert(math.abs(got(1L) - d1.sum / 3) < 1e-6)
    assert(math.abs(got(2L) - d2.sum / 2) < 1e-6)
    // repetitive doc 1 must be LESS surprising than doc 2's novel ending
    assert(got(1L) < got(2L))
  }

  test("bigram surprisal validates lambda") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    intercept[IllegalArgumentException] {
      graft.ops.BigramScore.perDoc(df(schema, Row(1L, "a b")), "doc_id",
        "text", lambda = 0.0)
    }
  }

  // ------------------------------------------------------------ url filter

  test("domain extraction and suffix expansion") {
    import graft.functions.UrlFunctions
    val schema = StructType(Seq(StructField("u", StringType)))
    val d = df(schema,
      Row("https://A.B.Example.ORG:8080/path?q=1"),
      Row("ftp://files.example.net/x"),
      Row("not a url"))
    val got = d.select(
      UrlFunctions.domain(col("u")).as("d"),
      UrlFunctions.domainSuffixes(col("u")).as("s")).collect()
    assert(got(0).getString(0) === "a.b.example.org")
    assert(got(0).getSeq[String](1) ===
      Seq("a.b.example.org", "b.example.org", "example.org", "org"))
    assert(got(1).getString(0) === "files.example.net")
    assert(got(2).getString(0) === "")
  }

  test("blocklist filtering blocks exact hosts and subdomains, both variants") {
    import graft.functions.UrlFunctions
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("url", StringType)))
    val d = df(schema,
      Row(1L, "https://spam-site.org/a"),
      Row(2L, "https://mirror7.spam-site.org/b"),
      Row(3L, "https://notspam-site.org/c"),     // suffix match must be label-aligned
      Row(4L, "https://good.example.net/d"),
      Row(5L, "https://ads.example.com/e"))
    val expected = Set(3L, 4L)
    val viaSeq = UrlFunctions.filterBlockedDomains(d, "url",
      Seq("spam-site.org", "ads.example.com"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaSeq === expected)
    import org.apache.spark.sql.types.StringType
    val bl = df(StructType(Seq(StructField("domain", StringType))),
      Row("spam-site.org"), Row("ads.example.com"))
    val viaJoin = UrlFunctions.filterBlockedDomains(d, "url", bl)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaJoin === expected)
  }

  // -------------------------------------------------- minhash keepBest

  test("keepBest keeps the cluster-wide quality argmax, not the pair-greedy survivor") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("q", LongType)))
    // A chain of near-identical docs (one cluster) plus an unrelated doc.
    // Quality column ranks doc 3 highest; the pair-greedy dedup would keep
    // doc 1 (min id). All chain texts share nearly all shingles.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = df(schema,
      Row(1L, base + " one", 10L),
      Row(2L, base + " two", 20L),
      Row(3L, base + " three", 99L),
      Row(4L, "completely different words about very other things entirely", 5L))
    val kept = graft.dedup.MinHashDedup.keepBest(d, "id", "text",
        qualityExpr = "q", jaccardThreshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L))
    // default quality = text length -> "three" is longest in the cluster
    val keptLen = graft.dedup.MinHashDedup.keepBest(d, "id", "text",
        jaccardThreshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptLen === Set(3L, 4L))
    // schema passes through unchanged
    val out = graft.dedup.MinHashDedup.keepBest(d, "id", "text", "q",
      jaccardThreshold = 0.5)
    assert(out.columns.toSeq === Seq("id", "text", "q"))
  }

  // ---------------------------------------------------- temperature sample

  test("temperature sampling flattens the mixture toward low-resource strata") {
    import graft.ops.SampleOp
    val schema = StructType(Seq(
      StructField("lang", StringType), StructField("k", LongType)))
    // 80 en / 16 fr / 4 zh — heavily skewed
    val rows = (1 to 80).map(i => Row("en", i.toLong)) ++
      (1 to 16).map(i => Row("fr", 100L + i)) ++
      (1 to 4).map(i => Row("zh", 200L + i))
    val d = df(schema, rows: _*)
    def quotas(alpha: Double): Map[String, Long] =
      SampleOp.stratifiedTemperature(d, "lang", "k", 25, alpha, seed = 3)
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha = 1: proportional (80:16:4 of 25 -> 20:4:1)
    assert(quotas(1.0) === Map("en" -> 20L, "fr" -> 4L, "zh" -> 1L))
    // alpha = 0.5: sqrt shares 8.94:4:2 -> low-resource strata gain
    val t = quotas(0.5)
    assert(t.values.sum === 25L)
    assert(t("zh") > 1L && t("fr") > 4L && t("en") < 20L)
    // brute-force check of the allocation itself
    val w = Map("en" -> math.sqrt(80.0), "fr" -> math.sqrt(16.0),
      "zh" -> math.sqrt(4.0))
    val sumW = w.values.sum
    val exact = w.view.mapValues(25 * _ / sumW).toMap
    val floors = exact.view.mapValues(_.toLong).toMap
    var rem = (25L - floors.values.sum).toInt
    var q = floors
    exact.toSeq.sortBy { case (k, e) => (-(e - floors(k)), k) }
      .take(rem).foreach { case (k, _) => q = q.updated(k, q(k) + 1) }
    assert(t === q)
    intercept[IllegalArgumentException] {
      SampleOp.stratifiedTemperature(d, "lang", "k", 5, alpha = 0.0)
    }
  }

  // --------------------------------------------- Frame / YAML / LazyFrame

  test("Frame chains the hygiene and training-order entries") {
    val f = graft.api.Graft.fromDF(docsDf)
    val cleaned = f.redactPii("text")
      .dedupLines("doc_id", "text", " ", maxDocFreq = 4)
    // passthrough shape: text replaced in place, other columns intact
    assert(cleaned.schema.fieldNames.toSeq === Seq("doc_id", "text", "lang"))
    assert(cleaned.count() > 0)
    val ordered = f.shuffle("doc_id", seed = 3).toDF
    assert(ordered.select("shuffle_rank").collect().map(_.getLong(0)).sorted
      === (1L to 6L).toArray)
    val iw = f.importanceWeight(
      graft.api.Graft.fromDF(docsDf.filter(col("lang") === "de")),
      "doc_id", "text", "text")
    assert(iw.count() === 6)
  }

  test("LazyFrame round-9b builders round-trip through YAML and run") {
    import graft.api.{LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("lf9b").toString
    val path = s"$dir/docs.parquet"
    docsDf.write.mode("overwrite").parquet(path)
    def roundTrips(lf: LazyFrame): Long = {
      val reparsed = LazyFrame.fromYaml(lf.toYaml)
      assert(reparsed.toYaml == lf.toYaml) // fixpoint
      val direct = lf.run(spark).count()
      assert(Pipeline.runYaml(lf.toYaml, spark).count() == direct)
      direct
    }
    assert(roundTrips(LazyFrame.read("docs", path)
      .redactPii("text").shuffle("doc_id", seed = 17)) == 6)
    // "the" (docs 1,2,4,5) and "fast" (1,4,5) survive maxDocFreq=3; "and"
    // appears in 3 docs -> kept. maxDocFreq=2 bans the/fast/and/is/good...
    assert(roundTrips(LazyFrame.read("docs", path)
      .dedupLines("doc_id", "text", " ", maxDocFreq = 2)) > 0)
    assert(roundTrips(LazyFrame.read("docs", path)
      .importanceWeight(LazyFrame.read("target", path), "doc_id", "text")) == 6)
    assert(roundTrips(LazyFrame.read("docs", path)
      .bigramSurprisal("doc_id", "text")) == 6)
    // plant a URL column, then block the de-doc host and every subdomain
    assert(roundTrips(LazyFrame.read("docs", path)
      .codeMap("url" ->
        "concat('https://d', cast(doc_id as string), '.', lang, '.example.org/p')")
      .urlFilter("url", Seq("de.example.org"))) == 5)
    assert(roundTrips(LazyFrame.read("docs", path)
      .sampleTemperature("lang", "doc_id", 3, alpha = 0.5)) == 3)
  }

  test("the training-prep example pipeline runs end to end") {
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/training_prep_pipeline.yaml")))
    val out = graft.api.Pipeline.runYaml(yaml, spark)
    assert(out.count() > 0)
    // the full prep chain must preserve doc identity and emit the
    // training-order and pack assignments
    val cols = out.columns.toSet
    assert(Set("doc_id", "text", "pack_id", "interleave_rank")
      .subsetOf(cols), cols.toString)
    // PII scrub ran over clean text: nothing redacted, text non-empty
    assert(out.filter(col("text").contains("<EMAIL>")).count() === 0)
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11: declarative data-contract validation. */
class Round11dSpec extends SparkSpec {

  import graft.ops.SchemaValidate
  import graft.ops.SchemaValidate._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("score", DoubleType)))

  private def fixture = df(schema,
    Row(1L, "long enough text here", "en", 0.5),
    Row(2L, "short", "en", 0.5),
    Row(3L, null, "xx", 1.5),
    Row(4L, "also long enough text", "de", -0.1),
    Row(5L, "fine text with url http://a.b", "en", 0.0))

  private val rules = Seq(
    notNull("text"), minLength("text", 10),
    enumValues("lang", Seq("en", "de", "fr")),
    minValue("score", 0.0), maxValue("score", 1.0))

  test("schema validate: named violations in declaration order") {
    val out = SchemaValidate.report(fixture, rules)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("violations"), r.getAs[Boolean]("valid"))).toMap
    assert(out(1L) == (("", true)))
    assert(out(2L) == (("text:min_length", false)))
    // null text: ONLY not_null fires (min_length skips nulls); enum + max
    // fire on the other columns in declaration order
    assert(out(3L) == (("text:not_null;lang:enum;score:max", false)))
    assert(out(4L) == (("score:min", false)))
    assert(out(5L) == (("", true)))
  }

  test("schema validate: clean keeps only contract-passing rows") {
    val kept = SchemaValidate.clean(fixture, rules)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L))
  }

  test("schema validate: summary totals per violation") {
    val sum = SchemaValidate.summary(fixture, rules)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum == Map("text:not_null" -> 1L, "text:min_length" -> 1L,
      "lang:enum" -> 1L, "score:max" -> 1L, "score:min" -> 1L))
  }

  test("schema validate: regex and length ceilings") {
    val d = df(schema,
      Row(1L, "http://ok.example", "en", 0.1),
      Row(2L, "not a url", "en", 0.1),
      Row(3L, "x" * 50, "en", 0.1))
    val r = Seq(regexMatch("text", "https?://.*"), maxLength("text", 40))
    val out = SchemaValidate.report(d, r)
      .collect().map(x => x.getLong(0) -> x.getAs[String]("violations")).toMap
    assert(out(1L) == "")
    assert(out(2L) == "text:regex")
    assert(out(3L) == "text:regex;text:max_length")
  }

  // ------------------------------------------------ fingerprint

  test("fingerprint: order/partition invariant, content sensitive") {
    val docSchema2 = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(docSchema2,
      Row(1L, "alpha"), Row(2L, "beta"), Row(3L, null))
    val a = graft.ops.Datacard.fingerprint(d, Seq("id", "text")).head()
    val b = graft.ops.Datacard.fingerprint(
      d.orderBy(col("id").desc).repartition(7), Seq("id", "text")).head()
    assert(a.getAs[Long]("n_rows") == 3 && a.getAs[Int]("n_cols") == 2)
    assert(a.getAs[String]("content_checksum") ==
      b.getAs[String]("content_checksum"))
    // one changed byte changes the stamp
    val c = graft.ops.Datacard.fingerprint(
      df(docSchema2, Row(1L, "alphA"), Row(2L, "beta"), Row(3L, null)),
      Seq("id", "text")).head()
    assert(c.getAs[String]("content_checksum") !=
      a.getAs[String]("content_checksum"))
    // multiplicity-sensitive: an xor would cancel even-count duplicates;
    // the modular sum must not
    val dup2 = graft.ops.Datacard.fingerprint(
      df(docSchema2, Row(1L, "x"), Row(1L, "x"), Row(2L, "y")),
      Seq("id", "text")).head()
    val dup0 = graft.ops.Datacard.fingerprint(
      df(docSchema2, Row(9L, "z"), Row(9L, "z"), Row(2L, "y")),
      Seq("id", "text")).head()
    assert(dup2.getAs[String]("content_checksum") !=
      dup0.getAs[String]("content_checksum"))
    // empty input: checksum "0", not null
    val e = graft.ops.Datacard.fingerprint(
      d.filter(col("id") > 99), Seq("id", "text")).head()
    assert(e.getAs[Long]("n_rows") == 0 &&
      e.getAs[String]("content_checksum") == "0")
  }

  // ------------------------------------------------ compaction

  test("compact: many small files rewrite into the target layout") {
    import graft.sources.Compact
    val dir = java.nio.file.Files.createTempDirectory("r11cmp").toString
    val path = s"$dir/events"
    // 64 tiny files
    spark.range(0, 6400).repartition(64)
      .write.mode("overwrite").parquet(path)
    val before = Compact.plan(spark, path, targetBytes = 512 * 1024)
    assert(before.nFiles >= 64 && before.worthIt)
    val executed = Compact.run(spark, path, targetBytes = 512 * 1024)
    assert(executed.worthIt)
    val after = Compact.plan(spark, path, targetBytes = 512 * 1024)
    assert(after.nFiles <= executed.targetFiles + 1)
    // every row survives the swap
    assert(spark.read.parquet(path).count() == 6400)
    // a sorted compaction lays files out by range
    Compact.run(spark, path, targetBytes = 1, sortCols = Seq("id"),
      force = true)
    assert(spark.read.parquet(path).count() == 6400)
    // already-compact dir: plan says not worth it, run is a no-op
    val calm = Compact.run(spark, path, targetBytes = 1024L * 1024 * 1024)
    assert(!calm.worthIt || calm.targetFiles >= 1)
  }

  test("compact: a tiny targetBytes never writes more files than it found") {
    import graft.sources.Compact
    val dir = java.nio.file.Files.createTempDirectory("r11cmp4").toString
    val path = s"$dir/rows"
    spark.range(0, 400).repartition(4).write.mode("overwrite").parquet(path)
    assert(Compact.dataFileCount(spark, path) == 4)
    val executed = Compact.run(spark, path, targetBytes = 1, force = true)
    assert(executed.targetFiles <= 4)
    assert(Compact.dataFileCount(spark, path) <= 4)
    assert(spark.read.parquet(path).count() == 400)
  }

  // ------------------------------------------------ epub

  test("epub: spine order wins over entry-name order; no-OPF falls back") {
    import graft.sources.ParsingTools
    val book = ParsingTools.makeEpub(Seq("chapter one", "chapter two"))
    assert(ParsingTools.epubToString(book) ==
      Seq("chapter one\n\nchapter two"))
    assert(ParsingTools.epubToString(book, docPerChapter = true) ==
      Seq("chapter one", "chapter two"))
    // a zip with html entries but no OPF: name-sorted fallback
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    Seq("b.xhtml" -> "<p>second</p>", "a.xhtml" -> "<p>first</p>")
      .foreach { case (n, c) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(c.getBytes("UTF-8")); z.closeEntry()
      }
    z.close()
    assert(ParsingTools.epubToString(bos.toByteArray,
      docPerChapter = true) == Seq("first", "second"))
  }

  // ------------------------------------------------ compression ratio

  test("compression ratio: repetition sinks the ratio, prose floats it") {
    val docSchema2 = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val varied = (1 to 60).map(i => s"w${i * 7 % 97}x$i").mkString(" ")
    val d = df(docSchema2,
      Row(1L, "spam " * 200), Row(2L, varied), Row(3L, ""), Row(4L, null))
    val out = graft.ops.CompressionRatio.report(d, "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("compression_ratio"))
          .map(_.asInstanceOf[Double]),
          r.getAs[Boolean]("is_repetitive"))).toMap
    val (spamR, spamFlag) = out(1L)
    val (prosR, prosFlag) = out(2L)
    assert(spamR.get < 0.1 && spamFlag) // 200 repeats compress to nothing
    assert(prosR.get > 0.3 && !prosFlag)
    assert(out(3L)._1.isEmpty && !out(3L)._2)
    assert(out(4L)._1.isEmpty && !out(4L)._2)
    // deterministic across calls
    val again = graft.ops.CompressionRatio.report(d, "text")
      .filter(col("id") === 2).head().getAs[Double]("compression_ratio")
    assert(again == prosR.get)
    // YAML surface
    val y = graft.api.Registry("compression_ratio")(d,
      graft.api.Conf.fromYaml("type: compression_ratio\ntext_key: text"),
      null)
    assert(y.columns.contains("compression_ratio"))
  }

  // ------------------------------------------------ audio headers

  test("wav parse: canonical header round-trips the closed form") {
    import graft.multimodal.AudioHeader
    val b = AudioHeader.makeWav(channels = 2, sampleRate = 16000,
      bits = 16, dataBytes = 64000)
    // 64000 bytes / (16000 * 2 * 2 B/sample) = 1000 ms
    assert(AudioHeader.wavInfo(b) == Some((2, 16000, 16, 1000L)))
    // truncated header rejects cleanly
    assert(AudioHeader.wavInfo(b.take(20)).isEmpty)
    assert(AudioHeader.wavInfo(null).isEmpty)
  }

  test("wav parse: chunk walk survives a LIST chunk before fmt") {
    import graft.multimodal.AudioHeader
    val canonical = AudioHeader.makeWav(1, 8000, 16, 8000)
    // splice a 7-byte (odd -> padded) LIST chunk between WAVE and fmt
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](7, 0, 0, 0) ++ new Array[Byte](7 + 1)
    val spliced = canonical.take(12) ++ list ++ canonical.drop(12)
    // fix the RIFF size (not read by the parser, but keep honest)
    assert(AudioHeader.wavInfo(spliced) == Some((1, 8000, 16, 500L)))
  }

  test("audio header column: magic routing for flac/ogg/mp3/unknown") {
    import graft.multimodal.AudioHeader
    val rows = Seq(
      1L -> AudioHeader.makeWav(1, 8000, 16, 4000),
      2L -> ("fLaC" + "x" * 8).getBytes("US-ASCII"),
      3L -> ("OggS" + "x" * 8).getBytes("US-ASCII"),
      4L -> ("ID3" + "x" * 9).getBytes("US-ASCII"),
      5L -> "nonsense bytes".getBytes("US-ASCII"))
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("b", BinaryType))),
      rows.map { case (i, b) => Row(i, b) }: _*)
    val out = AudioHeader.parse(d, "b")
      .select(col("id"), col("audio_header.format").as("f"),
        col("audio_header.channels").as("ch"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)))).toMap
    assert(out(1L) == (("wav", Some(1))))
    assert(out(2L) == (("flac", None)))
    assert(out(3L) == (("ogg", None)))
    assert(out(4L) == (("mp3", None)))
    assert(out(5L) == (("unknown", None)))
  }

  // ------------------------------------------------ vocab encode

  test("vocab encode: ids map in order, OOV hits unk, nulls survive") {
    import spark.implicits._
    val vocab = Seq(("the", 0L), ("cat", 1L), ("sat", 2L))
      .toDF("token", "id")
    val d = df(StructType(Seq(
      StructField("id", LongType),
      StructField("toks", ArrayType(StringType)))),
      Row(1L, Seq("the", "cat", "sat", "on", "the")),
      Row(2L, Seq.empty[String]), Row(3L, null))
    val out = graft.ops.VocabCoverage.toIds(d, "toks", vocab)
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](r.fieldIndex("ids")))).toMap
    assert(out(1L).get == Seq(0L, 1L, 2L, -1L, 0L)) // order kept, OOV -1
    assert(out(2L).get.isEmpty)
    assert(out(3L).isEmpty) // null tokens stay null
  }

  test("vocab encode: YAML registry + LazyFrame binary merge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r11ve").toString
    Seq(("the", 0L), ("cat", 1L)).toDF("token", "id")
      .write.mode("overwrite").parquet(s"$dir/vocab.parquet")
    df(StructType(Seq(StructField("id", LongType),
      StructField("toks", ArrayType(StringType)))),
      Row(1L, Seq("the", "cat", "xyz")))
      .write.mode("overwrite").parquet(s"$dir/toks.parquet")
    import graft.api.LazyFrame
    val lf = LazyFrame.read("toks", s"$dir/toks.parquet")
      .vocabEncode(LazyFrame.read("vocab", s"$dir/vocab.parquet"), "toks")
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    val out = lf.run(spark).select("ids").head().getSeq[Long](0)
    assert(out == Seq(0L, 1L, -1L))
  }

  test("tensorize path: text -> bpe tokens -> ids -> fixed-length chunks") {
    import spark.implicits._
    val docSchema2 = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(docSchema2,
      Row(1L, "ab ab cd"), Row(2L, "cd ab"), Row(3L, "ab"))
    // one merge: a+b -> "ab" becomes a single token
    val merges = Seq(graft.ops.BpeTrain.Merge("a", "b", 0))
    val tokens = graft.ops.BpeTrain.encode(d, "text", merges)
    // tokens: doc1 [ab, ab, c, d], doc2 [c, d, ab], doc3 [ab]
    val vocab = Seq(("ab", 0L), ("c", 1L), ("d", 2L)).toDF("token", "id")
    val ids = graft.ops.VocabCoverage.toIds(tokens, "tokens", vocab)
    // fixed-length seqLen=3 chunking over the id STREAM in id order:
    // chunkFixed assigns (chunk_id, tok_start, tok_len) per doc
    val chunks = graft.ops.PackOp.chunkFixed(
      ids.withColumn("n_tok", size(col("ids"))).withColumn("grp", lit(0)),
      Seq("grp"), "id", "n_tok", seqLen = 3)
      .withColumn("piece",
        slice(col("ids"), col("tok_start").cast("int") + 1,
          col("tok_len").cast("int")))
      .groupBy("chunk_id")
      .agg(flatten(array_sort(collect_list(
        struct(col("id"), col("piece")))).getField("piece")).as("seq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // stream: [0,0,1,2 | 1,2,0 | 0] -> chunks [0,0,1], [2,1,2], [0,0]
    assert(chunks(0L) == Seq(0L, 0L, 1L))
    assert(chunks(1L) == Seq(2L, 1L, 2L))
    assert(chunks(2L) == Seq(0L, 0L))
  }

  // ------------------------------------ review-finding regressions

  test("jpeg: a real marker landing at the buffer edge rejects cleanly") {
    // FF D8 FF FF E0 41: fill-skip stops with marker 0xE0 at the edge —
    // its length bytes are out of range and must yield None, not AIOOBE
    val b = Array[Int](0xFF, 0xD8, 0xFF, 0xFF, 0xE0, 0x41).map(_.toByte)
    assert(graft.multimodal.ImageHeader.jpegDims(b).isEmpty)
  }

  test("stupid backoff: empty and whitespace-only rows don't kill the job") {
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(docSchema, Row(1L, "a b c d"), Row(2L, ""), Row(3L, "   "),
      Row(4L, null))
    val out = graft.ops.StupidBackoff.perDoc(d, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L)) // only the >=3-token doc scores; nothing crashes
  }

  test("html extract: self-closed script does not swallow the page") {
    import graft.sources.HtmlExtract
    val article = "a genuinely long article paragraph that passes fences"
    val html = s"<body><script src='x.js'/><div>$article</div></body>"
    assert(HtmlExtract.mainContent(html) == article)
  }

  test("eml: LF message whose body contains a CRLF blank line splits first") {
    import graft.sources.ParsingTools
    val m = ParsingTools.parseEml(
      "Subject: s\n\nline1\r\n\r\nline2".getBytes("UTF-8"))
    assert(m.subject == "s")
    assert(m.body == "line1\r\n\r\nline2")
  }

  test("winsorize/iqr: empty input appends nulls, never NPEs") {
    val d = df(StructType(Seq(StructField("v", LongType))))
      .filter(col("v") > 0) // provably empty after a filter
    val w = graft.ops.Profile.winsorize(d, "v")
    assert(w.columns.contains("v_winsor") && w.count() == 0)
    val o = graft.ops.Profile.iqrOutliers(d, "v")
    assert(o.columns.contains("is_outlier") && o.count() == 0)
  }

  test("classifier eval: null-score rows are excluded from every metric") {
    val d = df(StructType(Seq(
      StructField("lbl", LongType), StructField("s", DoubleType))),
      Row(0L, 0.1), Row(0L, 0.2), Row(1L, 0.8), Row(1L, 0.9),
      Row(1L, null), Row(0L, null))
    val r = graft.ops.ClassifierEval.report(d, "lbl", "s").head()
    assert(r.getAs[Long]("n") == 4) // null-score rows out of n too
    assert(r.getAs[Long]("n_pos") == 2 && r.getAs[Long]("n_neg") == 2)
    assert(r.getAs[Double]("auc") == 1.0) // not understated by lost ranks
  }

  // ------------------------------------------------ html extract

  test("html extract: link-dense and short blocks die, article survives") {
    import graft.sources.HtmlExtract
    val article = "This is a long enough paragraph of real prose that " +
      "clearly exceeds the minimum character fence."
    val html = "<html><body>" +
      "<nav><a href='/'>Home</a> <a href='/x'>About</a></nav>" +
      "<script>var boilerplate = 'nav';</script>" +
      s"<div>$article</div>" +
      "<p>Read more: <a href='/1'>one</a> <a href='/2'>two</a> " +
      "<a href='/3'>three</a> <a href='/4'>four</a> <a href='/5'>five" +
      "</a> <a href='/6'>six</a> <a href='/7'>seven</a></p>" +
      "<footer><a>Terms</a></footer></body></html>"
    assert(HtmlExtract.mainContent(html) == article)
    // two content blocks join with a blank line
    val two = s"<div>$article</div><p>$article</p>"
    assert(HtmlExtract.mainContent(two) == s"$article\n\n$article")
    // entity decode + null safety
    assert(HtmlExtract.mainContent(
      "<p>" + ("x" * 30) + " &amp; more &lt;ok&gt;</p>") ==
      "x" * 30 + " & more <ok>")
    assert(HtmlExtract.mainContent(null) == "")
  }

  test("html extract: link density is measured per block") {
    import graft.sources.HtmlExtract
    // 60 chars of prose + a short link: density well under the fence
    val prose = "a" * 60
    val mixed = s"<p>$prose <a href='/m'>more</a></p>"
    assert(HtmlExtract.mainContent(mixed) == s"$prose more")
    // the same text fully wrapped in an anchor: density 1 -> dropped
    val allLink = s"<p><a href='/m'>$prose more</a></p>"
    assert(HtmlExtract.mainContent(allLink) == "")
  }

  // ------------------------------------------------ eml / mbox

  test("eml: header unfolding, QP and base64 decode round-trip") {
    import graft.sources.ParsingTools
    val body = "Line one with = signs.\nSecond line spells café."
    Seq("7bit", "quoted-printable", "base64").foreach { enc =>
      val m = ParsingTools.parseEml(ParsingTools.makeEml(
        Seq("Subject" -> "hello", "From" -> "a@b.c"), body, enc))
      // 7bit keeps non-ASCII only because our fixture bytes are UTF-8 all
      // the way; QP/base64 must decode back to the identical string
      if (enc != "7bit") assert(m.body == body, enc)
      assert(m.subject == "hello" && m.from == "a@b.c")
    }
    // folded header: continuation line re-joins with a space
    val folded = "Subject: part one\n\tand two\nFrom: x@y.z\n\nbody"
    val m2 = ParsingTools.parseEml(folded.getBytes("UTF-8"))
    assert(m2.subject == "part one and two")
    assert(m2.body == "body")
  }

  test("qp decode: malformed escapes pass through, soft breaks vanish") {
    import graft.sources.ParsingTools
    assert(ParsingTools.decodeQuotedPrintable("a=3Db") == "a=b")
    assert(ParsingTools.decodeQuotedPrintable("a=\nb") == "ab")
    assert(ParsingTools.decodeQuotedPrintable("a=zzb") == "a=zzb") // literal
    assert(ParsingTools.decodeQuotedPrintable("tail=") == "tail=")
  }

  test("mbox: From-stuffing protects body lines, messages split exactly") {
    import graft.sources.ParsingTools
    val tricky = "first line\nFrom the start this looks like a separator\n" +
      ">From an already-quoted line"
    val msgs = Seq(
      ParsingTools.makeEml(Seq("Subject" -> "a"), tricky),
      ParsingTools.makeEml(Seq("Subject" -> "b"), "plain"))
    val back = ParsingTools.mboxMessages(ParsingTools.makeMbox(msgs))
    assert(back.size == 2)
    assert(back(0).body == tricky) // stuffing round-trips both From-forms
    assert(back(1).body == "plain")
  }

  // ------------------------------------------------ stupid backoff

  test("stupid backoff: all three arms match the closed form") {
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val ref = df(docSchema, Row(0L, "a b c a b d"))
    // ref counts: tri {abc:1, bca:1, cab:1, abd:1}; bi {ab:2, bc:1, ca:1,
    // bd:1}; uni {a:2, b:2, c:1, d:1}; N=6
    // score "a b c": trigram seen -> c3/cw12 = 1/2
    val seen = graft.ops.StupidBackoff.perDoc(
      df(docSchema, Row(1L, "a b c")), "id", "text", Some(ref)).head()
    assert(seen.getDouble(1) == math.rint(-math.log(0.5) * 1e6) / 1e6)
    // score "c a x": tri miss, bi "a x" miss, uni x miss -> OOV floor
    // 0.16 * 1/6
    val oov = graft.ops.StupidBackoff.perDoc(
      df(docSchema, Row(1L, "c a x")), "id", "text", Some(ref)).head()
    assert(oov.getDouble(1) ==
      math.rint(-math.log(0.4 * 0.4 * 1.0 / 6) * 1e6) / 1e6)
    // score "d b c": tri "dbc" miss, bi "bc" seen -> 0.4 * c(bc)/c(b.) =
    // 0.4 * 1/3  (b continues to c once of {c, d, a...}: bi from b: bc=1,
    // bd=1 -> cw2(b)=2) -> 0.4 * 1/2
    val bo = graft.ops.StupidBackoff.perDoc(
      df(docSchema, Row(1L, "d b c")), "id", "text", Some(ref)).head()
    assert(bo.getDouble(1) ==
      math.rint(-math.log(0.4 * 1.0 / 2) * 1e6) / 1e6)
  }

  test("stupid backoff: self-scoring never leaves the trigram arm") {
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(docSchema, Row(1L, "p q r p q r"), Row(2L, "s t u v"))
    val out = graft.ops.StupidBackoff.perDoc(d, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every trigram is in its own counts: scores are finite and the
    // unique-trigram doc scores exactly -ln(1) = 0
    assert(out(2L) == 0.0)
    assert(out(1L) >= 0.0 && !out(1L).isInfinite)
    // sub-three-token docs are absent
    val short = graft.ops.StupidBackoff.perDoc(
      df(docSchema, Row(9L, "a b")), "id", "text", Some(d))
    assert(short.count() == 0)
  }

  test("schema validate: YAML registry modes and LazyFrame round-trip") {
    val yaml =
      """type: schema_validate
        |rules:
        |  - { column: text, check: min_length, value: 10 }
        |  - { column: lang, check: enum, values: [en, de, fr] }
        |""".stripMargin
    val rep = graft.api.Registry("schema_validate")(fixture,
      graft.api.Conf.fromYaml(yaml), null)
    assert(rep.columns.contains("violations"))
    val cleanDf = graft.api.Registry("schema_validate")(fixture,
      graft.api.Conf.fromYaml(yaml + "mode: clean\n"), null)
    assert(cleanDf.count() == 3) // 1, 4, 5 pass these two rules
    val sm = graft.api.Registry("schema_validate")(fixture,
      graft.api.Conf.fromYaml(yaml + "mode: summary\n"), null)
    assert(sm.columns.toSeq == Seq("violation", "n_rows"))

    val dir = java.nio.file.Files.createTempDirectory("r11d").toString
    fixture.write.mode("overwrite").parquet(s"$dir/d.parquet")
    import graft.api.LazyFrame
    val lf = LazyFrame.read("d", s"$dir/d.parquet")
      .schemaValidate(Seq(("text", "min_length", "10"),
        ("lang", "enum", "en,de,fr")))
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    assert(lf.run(spark).count() == fixture.count())
  }
}

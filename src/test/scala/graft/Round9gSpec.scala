package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9g additions: SQ8 vector quantization, URL canonicalization,
  * BPE training statistics, distinct-n diversity. */
class Round9gSpec extends SparkSpec {

  // ------------------------------------------------------------ quantize

  private val embSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("e", ArrayType(DoubleType))))

  test("sq8: codes round-trip within one bucket width per dimension") {
    import graft.ann.VectorQuantize
    val d = df(embSchema,
      Row(1L, Seq(0.0, -1.0, 10.0)), Row(2L, Seq(0.5, 0.0, 20.0)),
      Row(3L, Seq(1.0, 1.0, 30.0)))
    val (mn, mx) = VectorQuantize.trainSq(d, "e")
    assert(mn.toSeq == Seq(0.0, -1.0, 10.0) && mx.toSeq == Seq(1.0, 1.0, 30.0))
    val enc = VectorQuantize.sqEncode(d, "e", mn, mx)
    val deq = enc.withColumn("deq",
      VectorQuantize.dequantizeCol(col("codes"), mn, mx))
    deq.select("e", "deq").collect().foreach { r =>
      val orig = r.getSeq[Double](0)
      val rec = r.getSeq[Double](1)
      orig.indices.foreach { i =>
        val width = (mx(i) - mn(i)) / 256
        assert(math.abs(orig(i) - rec(i)) <= width, s"dim $i: $orig vs $rec")
      }
    }
  }

  test("sq8: codes stay in [0,255]; extremes map to the end buckets") {
    import graft.ann.VectorQuantize
    val d = df(embSchema, Row(1L, Seq(0.0)), Row(2L, Seq(100.0)))
    val (mn, mx) = VectorQuantize.trainSq(d, "e")
    val codes = VectorQuantize.sqEncode(d, "e", mn, mx)
      .orderBy("id").collect().map(_.getSeq[Long](2).head)
    assert(codes.toSeq == Seq(0L, 255L))
  }

  test("sq8: zero-width dimension codes to 0, does not divide by zero") {
    import graft.ann.VectorQuantize
    val d = df(embSchema, Row(1L, Seq(7.0)), Row(2L, Seq(7.0)))
    val (mn, mx) = VectorQuantize.trainSq(d, "e")
    val codes = VectorQuantize.sqEncode(d, "e", mn, mx)
      .collect().map(_.getSeq[Long](2).head)
    assert(codes.toSeq == Seq(0L, 0L))
  }

  test("sq8 search: asymmetric top-k recovers the true neighbor on separated data") {
    import graft.ann.VectorQuantize
    val corpus = df(embSchema,
      Row(1L, Seq(1.0, 0.0)), Row(2L, Seq(0.0, 1.0)),
      Row(3L, Seq(0.9, 0.1)), Row(4L, Seq(-1.0, 0.0)))
    val (mn, mx) = VectorQuantize.trainSq(corpus, "e")
    val codes = VectorQuantize.sqEncode(corpus, "e", mn, mx)
      .select("id", "codes")
    val queries = df(embSchema, Row(10L, Seq(1.0, 0.05)))
    val top = VectorQuantize.searchSq(codes, "id", "codes", mn, mx,
      queries, "id", "e", k = 2).orderBy(col("score").desc)
      .collect().map(_.getLong(1))
    assert(top.toSeq == Seq(1L, 3L))
  }

  test("sq8 encode plan: pure narrow transform — no exchange, no join") {
    import graft.ann.VectorQuantize
    val d = df(embSchema, Row(1L, Seq(1.0, 2.0)), Row(2L, Seq(3.0, 4.0)))
    val (mn, mx) = VectorQuantize.trainSq(d, "e")
    val plan = VectorQuantize.sqEncode(d, "e", mn, mx)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  // ------------------------------------------------------------ pq

  test("pq: encode against a fixed codebook picks the nearest entry per subspace") {
    import graft.ann.ProductQuantize
    // 2 subspaces x 2 dims, 2 codes each
    val cb: ProductQuantize.Codebook = Array(
      Array(Array(0.0, 0.0), Array(10.0, 10.0)),
      Array(Array(5.0, 5.0), Array(-5.0, -5.0)))
    val d = df(embSchema,
      Row(1L, Seq(1.0, -1.0, 4.0, 6.0)), // sub0 -> code0, sub1 -> code0
      Row(2L, Seq(9.0, 11.0, -4.0, -6.0))) // sub0 -> code1, sub1 -> code1
    val got = ProductQuantize.encode(d, "e", cb).orderBy("id")
      .collect().map(_.getSeq[Long](2))
    assert(got.toSeq.map(_.toSeq) == Seq(Seq(0L, 0L), Seq(1L, 1L)))
  }

  test("pq: trainPq is deterministic and codebooks reconstruct separated clusters") {
    import graft.ann.ProductQuantize
    val rows = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 0.0 else 100.0
      val jit = (i % 3) * 0.01
      Row(i, Seq(base + jit, base - jit, -base + jit, -base - jit))
    }
    val d = df(embSchema, rows: _*)
    val cb1 = ProductQuantize.trainPq(d, "e", nSub = 2, nCodes = 2)
    val cb2 = ProductQuantize.trainPq(d, "e", nSub = 2, nCodes = 2)
    assert(cb1.map(_.map(_.toSeq).toSeq).toSeq ==
      cb2.map(_.map(_.toSeq).toSeq).toSeq)
    // two well-separated clusters per subspace -> distinct codes per parity
    val codes = ProductQuantize.encode(d, "e", cb1)
      .select(col("id") % 2, col("pq_codes")).distinct().collect()
    assert(codes.length == 2)
  }

  test("pq: adc search recovers the true neighbor on separated data") {
    import graft.ann.ProductQuantize
    val corpus = df(embSchema,
      Row(1L, Seq(0.0, 0.0, 0.0, 0.0)), Row(2L, Seq(10.0, 10.0, 10.0, 10.0)),
      Row(3L, Seq(0.5, 0.5, 0.5, 0.5)), Row(4L, Seq(20.0, 20.0, 20.0, 20.0)))
    val cb = ProductQuantize.trainPq(corpus, "e", nSub = 2, nCodes = 4)
    val coded = ProductQuantize.encode(corpus, "e", cb).select("id", "pq_codes")
    val q = df(embSchema, Row(99L, Seq(0.4, 0.4, 0.4, 0.4)))
    val top = ProductQuantize.adcSearch(coded, "id", "pq_codes", cb,
      q, "id", "e", k = 2).orderBy("adc_dist").collect().map(_.getLong(1))
    assert(top.toSeq.sorted == Seq(1L, 3L)) // the two near-origin rows
  }

  test("pq encode plan: pure narrow expression — no exchange, no join") {
    import graft.ann.ProductQuantize
    val cb: ProductQuantize.Codebook =
      Array(Array(Array(0.0, 0.0), Array(1.0, 1.0)))
    val d = df(embSchema, Row(1L, Seq(0.1, 0.2)))
    val plan = ProductQuantize.encode(d, "e", cb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("ivfpq: probing all cells equals plain adc search; fewer cells trades recall") {
    import graft.ann.{Ann, ProductQuantize}
    val rows = (0L until 60L).map { i =>
      val a = (i % 6).toDouble; val b = ((i * 7) % 11).toDouble
      Row(i, Seq(a, b, a - b, a + b))
    }
    val corpus = df(embSchema, rows: _*)
    val cb = ProductQuantize.trainPq(corpus, "e", nSub = 2, nCodes = 4)
    val centroids = Ann.trainCentroids(corpus, "e", 4)
    val coded = ProductQuantize.encode(
      Ann.ivfAssign(corpus, "e", centroids), "e", cb)
      .select(col("id"), col("_cell"), col("pq_codes"))
    val queries = df(embSchema,
      Row(100L, Seq(2.0, 3.0, -1.0, 5.0)), Row(101L, Seq(5.0, 1.0, 4.0, 6.0)))
    def rank(d: org.apache.spark.sql.DataFrame) = d.orderBy("query_id", "adc_dist", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = rank(ProductQuantize.adcSearch(coded, "id", "pq_codes", cb,
      queries, "id", "e", k = 3))
    val all = rank(ProductQuantize.ivfPqSearch(coded, "id", "pq_codes", cb,
      centroids, queries, "id", "e", k = 3, nProbe = 4))
    assert(all == exact)
    val sub = ProductQuantize.ivfPqSearch(coded, "id", "pq_codes", cb,
      centroids, queries, "id", "e", k = 3, nProbe = 1)
    // sub-linear probe returns at most k per query, drawn from exact's pool
    assert(sub.count() <= 6)
  }

  test("ivfpq plan: keyed broadcast join on cells, no cartesian product") {
    import graft.ann.{Ann, ProductQuantize}
    val corpus = df(embSchema,
      (0L until 20L).map(i => Row(i, Seq(i.toDouble, -i.toDouble))): _*)
    val cb = ProductQuantize.trainPq(corpus, "e", nSub = 1, nCodes = 2)
    val centroids = Ann.trainCentroids(corpus, "e", 2)
    val coded = ProductQuantize.encode(
      Ann.ivfAssign(corpus, "e", centroids), "e", cb)
      .select(col("id"), col("_cell"), col("pq_codes"))
    val plan = ProductQuantize.ivfPqSearch(coded, "id", "pq_codes", cb,
      centroids, corpus.limit(2), "id", "e", k = 2, nProbe = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("pq: trainPq rejects a dimension that does not divide into nSub") {
    import graft.ann.ProductQuantize
    val d = df(embSchema, Row(1L, Seq(1.0, 2.0, 3.0)))
    intercept[IllegalArgumentException] {
      ProductQuantize.trainPq(d, "e", nSub = 2, nCodes = 2)
    }
  }

  // ------------------------------------------------------------ url ops

  private val urlSchema = StructType(Seq(
    StructField("id", LongType), StructField("url", StringType)))

  test("url canonicalize: case, port, utm, fragment, trailing slash") {
    import graft.ops.UrlOps
    val cases = Seq(
      "HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&ref=1#frag" ->
        "https://www.example.com/A/b?ref=1",
      "http://Host.org:80/path/" -> "http://host.org/path",
      "https://h.io/p?utm_campaign=z" -> "https://h.io/p",
      "https://h.io/?utm_a=1&utm_b=2" -> "https://h.io",
      "https://h.io/a//" -> "https://h.io/a",
      "https://h.io" -> "https://h.io")
    val d = df(urlSchema,
      cases.zipWithIndex.map { case ((u, _), i) => Row(i.toLong, u) }: _*)
    val got = UrlOps.parse(d, "url").orderBy("id")
      .select("url_canon").collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("url canonicalize: utm strip is boundary-anchored and handles runs") {
    import graft.ops.UrlOps
    val cases = Seq(
      // a param merely ENDING in utm_… must survive
      "https://h.io/p?xutm_a=1" -> "https://h.io/p?xutm_a=1",
      // a PATH segment that looks like a utm param must survive
      "https://h.io/p/utm_source=x/q" -> "https://h.io/p/utm_source=x/q",
      // consecutive utm params fall in one pass
      "https://h.io/p?utm_a=1&utm_b=2&utm_c=3" -> "https://h.io/p",
      "https://h.io/p?utm_a=1&keep=2&utm_b=3" -> "https://h.io/p?keep=2",
      "https://h.io/p?keep=1&utm_a=2" -> "https://h.io/p?keep=1")
    val d = df(urlSchema,
      cases.zipWithIndex.map { case ((u, _), i) => Row(i.toLong, u) }: _*)
    val got = UrlOps.parse(d, "url").orderBy("id")
      .select("url_canon").collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("url host + registered domain: public-suffix heuristic") {
    import graft.ops.UrlOps
    val d = df(urlSchema,
      Row(1L, "https://a.b.Example.CO.uk/x"),
      Row(2L, "https://www.example.com/x"),
      Row(3L, "https://localhost/x"),
      Row(4L, "https://deep.sub.site.org/x"))
    val got = UrlOps.parse(d, "url").orderBy("id")
      .select("host", "domain").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == Seq(
      ("a.b.example.co.uk", "example.co.uk"),
      ("www.example.com", "example.com"),
      ("localhost", "localhost"),
      ("deep.sub.site.org", "site.org")))
  }

  test("url ops pass scheme-less strings through without crashing") {
    import graft.ops.UrlOps
    val d = df(urlSchema,
      Row(1L, "not a url at all"),
      Row(2L, "www.example.com/path"), // no scheme: no authority match
      Row(3L, ""))
    val got = UrlOps.parse(d, "url").orderBy("id")
      .select("url_canon", "host", "domain").collect()
    assert(got(0).getString(1) == "" && got(2).getString(1) == "")
    assert(got(1).getString(1) == "") // host requires a scheme'd authority
    // canonicalize leaves unparseable inputs structurally intact
    assert(got(0).getString(0) == "not a url at all")
  }

  test("url path depth ignores query and fragment") {
    import graft.ops.UrlOps
    val d = df(urlSchema,
      Row(1L, "https://h/a/b/c?x=/y/z"),
      Row(2L, "https://h/"),
      Row(3L, "https://h#/a/b"))
    val got = UrlOps.parse(d, "url").orderBy("id")
      .select("path_depth").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L, 0L, 0L))
  }

  test("url parse plan is narrow; hostStats is one aggregation") {
    import graft.ops.UrlOps
    val d = df(urlSchema, Row(1L, "https://a.com/x"), Row(2L, "https://b.com/y"))
    val parsePlan = UrlOps.parse(d, "url").queryExecution.executedPlan.toString
    assert(!parsePlan.contains("Exchange"), parsePlan)
    val stats = UrlOps.hostStats(d, "url")
    assert(stats.collect().length == 2)
  }

  // ------------------------------------------------------------ bpe

  test("bpe pair counts weight by corpus word frequency") {
    import graft.ops.BpeTrain
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    // "ab" x3 (2 + 1 via 'abc'), plus 'bc' x1
    val d = df(schema, Row(1L, "ab ab abc"), Row(2L, "x"))
    val counts = BpeTrain.pairCounts(d, "text").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("a", "b")) == 3L)
    assert(counts(("b", "c")) == 1L)
    assert(!counts.contains(("x", "x"))) // single-char words emit no pairs
    val (l, r0, c) = BpeTrain.topMerge(BpeTrain.wordCounts(d, "text"))
    assert((l, r0, c) == ("a", "b", 3L))
  }

  test("bpe pair stage reads the vocab, not the corpus") {
    import graft.ops.BpeTrain
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(schema, (1L to 50L).map(i => Row(i, "same words each row")): _*)
    val vocab = BpeTrain.wordCounts(d, "text")
    assert(vocab.count() == 4) // corpus collapses to 4 vocab rows
    // pairCounts over the vocab table never re-references the corpus plan
    val pc = BpeTrain.pairCounts(vocab)
    assert(pc.filter(col("left") === "a" && col("right") === "m")
      .head().getLong(2) == 50L) // "same" x50 weights its pairs
  }

  // ------------------------------------------------------------ diversity

  test("distinct-n: repeated slice scores lower than diverse slice") {
    import graft.ops.Diversity
    val schema = StructType(Seq(
      StructField("src", StringType), StructField("text", StringType)))
    val d = df(schema,
      Row("spam", "buy now buy now buy now buy now"),
      Row("spam", "buy now buy now"),
      Row("rich", "the quick brown fox jumps over lazy dogs"))
    val got = Diversity.distinctN(d, "src", "text", 2)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got("rich") == 1.0)
    assert(got("spam") < 0.5)
  }

  test("distinct-n: sub-n docs contribute their truncated shingle") {
    import graft.ops.Diversity
    val schema = StructType(Seq(
      StructField("src", StringType), StructField("text", StringType)))
    val d = df(schema, Row("s", "one two"))
    val r = Diversity.distinctN(d, "s" + "rc", "text", 3).collect()(0)
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getDouble(3) == 1.0)
  }

  // ------------------------------------------------------------ pii / blocklist

  test("pii counts attribute each span to exactly one category") {
    import graft.functions.{TextFunctions => TF}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(schema,
      Row(1L, "mail a@b.com twice a@b.com ip 10.0.0.1 ssn 123-45-6789 tel (415) 555-0100"),
      Row(2L, "no pii here"))
    val out = TF.piiCounts(col("text")).foldLeft(d.toDF()) {
      case (acc, (n, c)) => acc.withColumn(n, c)
    }.orderBy("id").collect()
    assert(out(0).getLong(2) == 2L) // emails
    assert(out(0).getLong(3) == 1L) // ipv4 (not double-counted as phone)
    assert(out(0).getLong(4) == 1L) // ssn (not half-matched as phone)
    assert(out(0).getLong(5) == 1L) // phone
    assert((2 to 5).forall(i => out(1).getLong(i) == 0L))
  }

  test("word blocklist matches exact tokens, never substrings") {
    import graft.functions.{TextFunctions => TF}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(schema,
      Row(1L, "the class is great"), // 'class' must NOT trip 'ass'
      Row(2L, "what an Ass he was"), // case-insensitive exact token
      Row(3L, "clean text entirely"))
    val flags = d.select(col("id"),
      TF.containsBlockedWord(col("text"), Seq("ass")).as("b"))
      .orderBy("id").collect().map(_.getBoolean(1))
    assert(flags.toSeq == Seq(false, true, false))
  }

  test("word blocklist splits on any whitespace and keeps NULL-text rows") {
    import graft.functions.{TextFunctions => TF}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(schema,
      Row(1L, "great product\nslow shipping"), // blocked word after newline
      Row(2L, "tab\tslow here"),
      Row(3L, null),
      Row(4L, "clean"))
    val flags = d.select(col("id"),
      TF.containsBlockedWord(col("text"), Seq("slow")).as("b"))
      .orderBy("id").collect()
    assert(flags(0).getBoolean(1) && flags(1).getBoolean(1))
    assert(flags(2).isNullAt(1) && !flags(3).getBoolean(1))
    // filter mode must KEEP the null-text row (no blocked word in it)
    val kept = graft.api.Graft.fromDF(d).blocklistWords("text", Seq("slow"))
      .df.collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
  }

  test("Frame + YAML wire pii_report and word_blocklist") {
    import graft.api.{Graft, LazyFrame, Pipeline}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val d = df(schema, Row(1L, "mail a@b.com"), Row(2L, "bad word here"))
    assert(Graft.fromDF(d).piiReport("text").df.columns.contains("n_email"))
    assert(Graft.fromDF(d).blocklistWords("text", Seq("bad")).count() == 1)
    val dir = java.nio.file.Files.createTempDirectory("r9h").toString
    d.write.mode("overwrite").parquet(s"$dir/d.parquet")
    val lf = LazyFrame.read("d", s"$dir/d.parquet")
      .piiReport("text").blocklistWords("text", Seq("bad"), report = true)
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    val out = Pipeline.runYaml(lf.toYaml, spark)
    assert(out.count() == 2 && out.columns.contains("blocked"))
    val lf2 = LazyFrame.read("d", s"$dir/d.parquet")
      .blocklistWords("text", Seq("bad"))
    assert(Pipeline.runYaml(lf2.toYaml, spark).count() == 1)
  }

  // ------------------------------------------------------------ snapshot diff

  private val snapSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  test("snapshot diff classifies added/removed/changed and hides unchanged") {
    import graft.ops.SnapshotDiff
    val prev = df(snapSchema, Row(1L, "a"), Row(2L, "b"), Row(3L, "c"))
    val nxt = df(snapSchema, Row(2L, "b"), Row(3L, "C!"), Row(4L, "d"))
    val got = SnapshotDiff(prev, nxt, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    val re = SnapshotDiff.reprocessSet(prev, nxt, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(re == Set(3L, 4L)) // changed + added, with full next-side rows
  }

  test("snapshot diff ships hashes, not content, through the join") {
    import graft.ops.SnapshotDiff
    val prev = df(snapSchema, Row(1L, "x" * 1000))
    val nxt = df(snapSchema, Row(1L, "y" * 1000))
    val plan = SnapshotDiff(prev, nxt, "id", "text")
      .queryExecution.optimizedPlan.toString
    // the text column is pruned before the join: only id + md5 survive
    assert(!plan.split("Join").last.contains("text#") ||
      plan.indexOf("md5") < plan.indexOf("Join"), plan)
  }

  test("Frame + LazyFrame/YAML wire snapshot_diff through the binary merge") {
    import graft.api.{Graft, LazyFrame, Pipeline}
    val prev = df(snapSchema, Row(1L, "a"), Row(2L, "b"))
    val nxt = df(snapSchema, Row(2L, "B"), Row(3L, "c"))
    assert(Graft.fromDF(nxt).snapshotDiff(Graft.fromDF(prev), "id", "text")
      .count() == 3)
    assert(Graft.fromDF(nxt).snapshotDiff(Graft.fromDF(prev), "id", "text",
      reprocess = true)
      .df.columns.toSeq == Seq("id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("r9gsnap").toString
    prev.write.mode("overwrite").parquet(s"$dir/prev.parquet")
    nxt.write.mode("overwrite").parquet(s"$dir/next.parquet")
    val lf = LazyFrame.read("next", s"$dir/next.parquet")
      .snapshotDiff(LazyFrame.read("prev", s"$dir/prev.parquet"), "id", "text")
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    assert(Pipeline.runYaml(lf.toYaml, spark).count() == 3)
  }

  // ------------------------------------------------- prior-round review fixes

  test("zorder zvalue survives wide-range columns without overflow") {
    import graft.ops.ZOrder
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    // range * 256 would wrap a long under the multiply-first form (this
    // span ~2^61 is far past that ~2^55 wrap point)
    val lo = -(1L << 60); val hi = (1L << 60)
    val d = df(schema, Row(1L, lo), Row(2L, 0L), Row(3L, hi))
    val z = ZOrder.zvalue(d, Seq("v"), bits = 8).orderBy("id")
      .collect().map(_.getLong(2))
    assert(z(0) == 0L)                       // min lands in bucket 0
    assert(z(2) == 255L, z.toSeq)            // max lands in the TOP bucket
    assert(z(1) > z(0) && z(1) < z(2))       // midpoint stays ordered
    // past 2^62 even (v - mn) wraps: refused with a pre-scale hint
    val full = df(schema, Row(1L, Long.MinValue + 1), Row(2L, Long.MaxValue))
    val e = intercept[IllegalArgumentException] {
      ZOrder.zvalue(full, Seq("v"), bits = 8).collect()
    }
    assert(e.getMessage.contains("pre-scale"))
  }

  test("weightedByRow: null-id rows are excluded, never free winners") {
    import graft.ops.SampleOp
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("w", DoubleType)))
    val d = df(schema,
      (1L to 10L).map(i => Row(i, 1.0)) ++ Seq(Row(null, 1.0), Row(null, 9.9)): _*)
    val got = SampleOp.weightedByRow(d, "w", 5, "id")
      .collect().map(_.get(0))
    assert(got.length == 5 && got.forall(_ != null))
  }

  test("LazyFrame.zorder round-trips through YAML") {
    import graft.api.{LazyFrame, Pipeline}
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val dir = java.nio.file.Files.createTempDirectory("r9zy").toString
    df(schema, (1L to 20L).map(i => Row(i, i * 3 % 7)): _*)
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    val lf = LazyFrame.read("d", s"$dir/d.parquet").zorder(Seq("a", "b"))
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    val out = Pipeline.runYaml(lf.toYaml, spark)
    assert(out.count() == 20 && out.columns.contains("zvalue"))
  }

  test("bloom build tolerates null keys; probe of null stays null-safe") {
    import graft.dedup.BloomFilter
    val schema = StructType(Seq(StructField("k", StringType)))
    val ref = df(schema, Row("a"), Row(null), Row("b"))
    val f = BloomFilter.build(ref, "k", m = 256, k = 2) // must not NPE
    assert(f.mightContain("a") && f.mightContain("b"))
    assert(!f.mightContain("zzz-not-inserted"))
  }

  test("connected components: component type matches ids on BOTH paths") {
    import graft.graph.ConnectedComponents
    val es = StructType(Seq(
      StructField("src", IntegerType), StructField("dst", IntegerType)))
    val vs = StructType(Seq(StructField("id", IntegerType)))
    val edges = df(es, Row(1, 2), Row(3, 4))
    val verts = df(vs, (1 to 5).map(Row(_)): _*)
    val fast = ConnectedComponents.run(edges, verts.select("id"))
    val slow = ConnectedComponents.run(edges, verts.select("id"),
      driverEdgeGate = 0L) // force label propagation
    assert(fast.schema("component").dataType ==
      slow.schema("component").dataType)
    assert(fast.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      slow.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq)
  }

  test("asof join tolerates null timestamps on either side") {
    import graft.ops.TemporalOps
    val ls = StructType(Seq(
      StructField("k", LongType), StructField("t", LongType),
      StructField("lv", StringType)))
    val rs = StructType(Seq(
      StructField("k", LongType), StructField("t", LongType),
      StructField("rv", StringType)))
    val left = df(ls, Row(1L, 10L, "a"), Row(1L, null, "b"))
    val right = df(rs, Row(1L, 5L, "x"), Row(1L, null, "poison"))
    val out = TemporalOps.asofJoin(left, right, "k", "k", "t", "t",
      rightPayload = Seq("rv"))
      .collect().map(r => (r.getString(2), r.getAs[String]("rv"))).toMap
    assert(out("a") == "x")   // normal as-of match; null right row ignored
    assert(out("b") == null)  // null left ts -> no-match payload, no crash
  }

  test("quality rules refuse to clobber an existing signal-named column") {
    import graft.ops.QualityRules
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("keep", LongType)))
    val d = df(schema, Row("some words here", 7L))
    val e = intercept[IllegalArgumentException] {
      QualityRules.signals(d, "text")
    }
    assert(e.getMessage.contains("keep"))
  }

  test("inline url blocklist keeps null-URL rows like the dataset variant") {
    import graft.functions.UrlFunctions
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("url", StringType)))
    val d = df(schema,
      Row(1L, "https://spam.org/x"), Row(2L, null),
      Row(3L, "https://ok.com/y"))
    val kept = UrlFunctions.filterBlockedDomains(d, "url", Seq("spam.org"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("bloom clean keeps null-text rows (gram-disjoint by definition)") {
    import graft.dedup.BloomFilter
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val ref = df(schema, Row(0L, "alpha beta gamma delta epsilon"))
    val corpus = df(schema,
      Row(1L, "alpha beta gamma delta shared tail"),
      Row(2L, null),
      Row(3L, "completely novel vocabulary nothing shared"))
    val clean = BloomFilter.cleanAgainstReference(corpus, "id", "text",
      ref, "text", n = 4).collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
  }

  test("snapshot diff: unchanged null-content rows never re-enter the delta") {
    import graft.ops.SnapshotDiff
    val d = df(snapSchema, Row(1L, null), Row(2L, "x"))
    assert(SnapshotDiff(d, d, "id", "text").collect().isEmpty)
    assert(SnapshotDiff.reprocessSet(d, d, "id", "text").collect().isEmpty)
  }

  test("sharded sink append mode rebuilds a manifest validate() accepts") {
    import graft.sources.ShardedSink
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("r9shard").toString
    val a = df(schema, (1L to 20L).map(i => Row(i, s"t$i")): _*)
    val b = df(schema, (21L to 40L).map(i => Row(i, s"t$i")): _*)
    ShardedSink.write(a, dir, "id", "length(text)", numShards = 4)
    ShardedSink.write(b, dir, "id", "length(text)", numShards = 4,
      mode = "append")
    assert(ShardedSink.readData(spark, dir).count() == 40)
    assert(ShardedSink.validate(spark, dir, "id").collect().isEmpty,
      "appended export must validate clean")
  }

  // ------------------------------------------------------------ chat render

  test("chat render: spans select exactly the assistant contents") {
    import graft.ops.ChatOps
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("msgs", ArrayType(StructType(Seq(
        StructField("role", StringType),
        StructField("content", StringType)))))))
    val d = df(schema,
      Row(1L, Seq(Row("user", "hi there"), Row("assistant", "hello!"),
        Row("user", "bye"), Row("assistant", "goodbye"))),
      Row(2L, Seq(Row("user", "only user turns"))),
      Row(3L, Seq.empty[Row]))
    val out = ChatOps.renderWithSpans(d, "msgs").orderBy("id").collect()
    val text1 = out(0).getString(2)
    val spans1 = out(0).getSeq[Row](3)
    assert(text1 ==
      "<|user|>\nhi there\n<|assistant|>\nhello!\n<|user|>\nbye\n<|assistant|>\ngoodbye\n")
    // the spans, cut out of the rendered text, are the assistant contents
    val cut = spans1.map(sp =>
      text1.substring(sp.getLong(0).toInt, sp.getLong(1).toInt))
    assert(cut == Seq("hello!", "goodbye"))
    assert(out(1).getSeq[Row](3).isEmpty) // no assistant turns -> no spans
    assert(out(2).getString(2) == "" && out(2).getSeq[Row](3).isEmpty)
  }

  test("chat render plan is narrow: no exchange from the fold") {
    import graft.ops.ChatOps
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("msgs", ArrayType(StructType(Seq(
        StructField("role", StringType),
        StructField("content", StringType)))))))
    val d = df(schema, Row(1L, Seq(Row("user", "x"))))
    val plan = ChatOps.renderWithSpans(d, "msgs")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ------------------------------------------------------------ datacard

  test("datacard reports duplication, concentration, pii, and diversity") {
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("src", StringType)))
    val d = df(schema,
      Row("one two three", "a"), Row("one two three", "a"), // exact dup
      Row("four five six mail a@b.com", "a"),
      Row("seven eight nine", "b"))
    val got = graft.ops.Datacard(d, "text", "src")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("n_docs") == 4.0)
    assert(got("n_tokens") == 14.0)
    assert(got("exact_dup_rate") == 0.25)
    assert(got("pii_total") == 1.0)
    assert(got("n_slices") == 2.0)
    assert(got("top_slice_share") == 0.75)
    assert(got("distinct_3gram_ratio") > 0.0)
    // per-slice breakdown localizes the duplication to slice 'a'
    val per = graft.ops.Datacard.perSlice(d, "text", "src")
      .collect().map(r => r.getString(0) ->
        r.getDouble(r.fieldIndex("exact_dup_rate"))).toMap
    assert(per("a") > 0.0 && per("b") == 0.0)
    // api surfaces
    import graft.api.{Graft, LazyFrame, Pipeline}
    assert(Graft.fromDF(d).datacard("text", "src").count() == 8)
    val dir = java.nio.file.Files.createTempDirectory("r9dc").toString
    d.write.mode("overwrite").parquet(s"$dir/d.parquet")
    val lf = LazyFrame.read("d", s"$dir/d.parquet").datacard("text", "src")
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    assert(Pipeline.runYaml(lf.toYaml, spark).count() == 8)
  }

  // ------------------------------------------------------------ extensions

  test("GraftExtensions injects SQL functions via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    spark.sparkContext // ensure the shared context exists first
    val old = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // Reuses the existing SparkContext; the extensions hook runs when the
      // NEW SparkSession object is instantiated. (`spark.sql.extensions` is
      // a STATIC conf read from the SparkContext at startup — on a live
      // test context only builder.withExtensions can attach, which invokes
      // the exact same GraftExtensions.apply the config path invokes.)
      val s2 = SparkSession.builder()
        .withExtensions(new graft.GraftExtensions())
        .getOrCreate()
      val r = s2.sql(
        "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
          "unicode_normalize('é', 'NFC') n").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getString(1) == "é")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach { o =>
        SparkSession.setDefaultSession(o); SparkSession.setActiveSession(o)
      }
    }
  }

  // ------------------------------------------------------------ estimate

  test("pipeline estimate extrapolates rows and llm calls from a sample") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val rows = (1L to 400L).map(i => Row(i, s"doc $i body"))
    val dir = java.nio.file.Files.createTempDirectory("r9est").toString
    df(schema, rows: _*).write.mode("overwrite").parquet(s"$dir/d.parquet")
    val yaml =
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |operations:
         |  - { name: keep_half, type: code_filter, predicate: "id % 2 = 0" }
         |  - name: classify
         |    type: map
         |    prompt: "{{ input.text }}"
         |    output: { schema: { sentiment: str } }
         |pipeline:
         |  steps:
         |    - { name: s1, input: d, operations: [keep_half, classify] }
         |""".stripMargin
    val rep = graft.api.Estimate.fromYaml(yaml, spark, sampleRows = 100)
    assert(rep.datasetRows == Map("d" -> 400L))
    assert(rep.datasetScales("d") == 4.0)
    val byOp = rep.ops.map(o => o.op -> o).toMap
    // the sample's filter selectivity extrapolates by the dataset scale
    assert(byOp("keep_half").sampleRowsIn == 100)
    assert(byOp("keep_half").estRowsOut ==
      byOp("keep_half").sampleRowsOut * 4)
    // llm calls observed on the sample, scaled 4x
    val (_, tally) = rep.estLlm.head
    assert(tally.calls == byOp("classify").sampleRowsIn * 4)
    assert(rep.render.contains("4.0x"))
  }

  test("estimate never writes the pipeline's output sink") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("r9estsink").toString
    df(schema, (1L to 50L).map(i => Row(i, s"t$i")): _*)
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    val yaml =
      s"""datasets:
         |  d: { path: $dir/d.parquet }
         |operations:
         |  - { name: keep, type: code_filter, predicate: "id > 0" }
         |pipeline:
         |  steps:
         |    - { name: s1, input: d, operations: [keep] }
         |  output: { path: $dir/out.parquet }
         |""".stripMargin
    val rep = graft.api.Estimate.fromYaml(yaml, spark, sampleRows = 10)
    assert(rep.datasetRows("d") == 50L)
    assert(!new java.io.File(s"$dir/out.parquet").exists(),
      "estimate must not materialize the sink")
  }

  test("estimate with checkpoint_dir never replays cached sampled ops") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("r9estckpt").toString
    df(schema, (1L to 80L).map(i => Row(i, s"t$i")): _*)
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    val yaml =
      s"""checkpoint_dir: $dir/ckpt
         |datasets:
         |  d: { path: $dir/d.parquet }
         |operations:
         |  - name: classify
         |    type: map
         |    prompt: "{{ input.text }}"
         |    output: { schema: { sentiment: str } }
         |pipeline:
         |  steps:
         |    - { name: s1, input: d, operations: [classify] }
         |""".stripMargin
    graft.llm.LlmCache.clear()
    val r1 = graft.api.Estimate.fromYaml(yaml, spark, sampleRows = 20)
    // cold run measured real calls; no checkpoint replay zeroed the tally
    assert(r1.estLlm.head._2.calls > 0 && r1.cacheHits == 0)
    val r2 = graft.api.Estimate.fromYaml(yaml, spark, sampleRows = 20)
    // the response cache legitimately serves repeats — the report must SAY
    // so instead of silently presenting an undercount as a cold estimate
    assert(r2.cacheHits > 0 && r2.render.contains("WARNING"))
  }

  test("LazyFrame.estimate surfaces the same report as the YAML path") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("r9lfe").toString
    df(schema, (1L to 60L).map(i => Row(i, s"t$i")): _*)
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    val rep = graft.api.LazyFrame.read("d", s"$dir/d.parquet")
      .codeFilter("id % 2 = 0")
      .estimate(spark, sampleRows = 30)
    assert(rep.datasetRows("d") == 60L && rep.datasetScales("d") == 2.0)
    assert(rep.ops.exists(o => o.op.startsWith("code_filter")))
  }

  test("estimate terminates when a step shadows its input dataset's name") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val dir = java.nio.file.Files.createTempDirectory("r9estloop").toString
    df(schema, Row(1L), Row(2L)).write.mode("overwrite")
      .parquet(s"$dir/docs.parquet")
    val yaml =
      s"""datasets:
         |  docs: { path: $dir/docs.parquet }
         |operations:
         |  - { name: keep, type: code_filter, predicate: "id > 0" }
         |pipeline:
         |  steps:
         |    - { name: docs, input: docs, operations: [keep] }
         |""".stripMargin
    val rep = graft.api.Estimate.fromYaml(yaml, spark, sampleRows = 10)
    assert(rep.ops.nonEmpty) // reaching here at all is the assertion
  }

  // ------------------------------------------------------------ provenance

  test("provenance: rows from different files carry different _source_file") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val dir = java.nio.file.Files.createTempDirectory("r9prov").toString
    df(schema, (1L to 10L).map(Row(_)): _*).repartition(2)
      .write.mode("overwrite").parquet(s"$dir/multi.parquet")
    val got = graft.sources.Provenance.withSourceFile(
      spark.read.parquet(s"$dir/multi.parquet"))
    val files = got.select("_source_file").distinct()
      .collect().map(_.getString(0))
    assert(files.length == 2 && files.forall(_.endsWith(".parquet")))
    assert(files.forall(!_.contains("/"))) // basename only
    // YAML surface: provenance: true on the dataset
    val yaml =
      s"""datasets:
         |  d: { path: $dir/multi.parquet, provenance: true }
         |operations:
         |  - { name: keep, type: code_filter, predicate: "id > 0" }
         |pipeline:
         |  steps:
         |    - { name: s1, input: d, operations: [keep] }
         |""".stripMargin
    val out = graft.api.Pipeline.runYaml(yaml, spark)
    assert(out.columns.contains("_source_file") && out.count() == 10)
  }

  // ------------------------------------------------------------ examples

  test("the sft-prep example pipeline runs end to end") {
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/sft_prep_pipeline.yaml")))
    val out = graft.api.Pipeline.runYaml(yaml, spark)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(out.columns.toSet.intersect(
      Set("text", "mask_spans", "n_tokens")).size == 3)
    // every surviving conversation has its assistant span, and the span
    // cuts the rendered summary back out
    rows.foreach { r =>
      val text = r.getAs[String]("text")
      val spans = r.getSeq[Row](r.fieldIndex("mask_spans"))
      assert(spans.nonEmpty)
      val cut = text.substring(spans.head.getLong(0).toInt,
        spans.head.getLong(1).toInt)
      assert(cut.startsWith("summary: "))
    }
  }

  test("the web-curation example pipeline runs end to end") {
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/web_curation_pipeline.yaml")))
    val out = graft.api.Pipeline.runYaml(yaml, spark)
    val rows = out.collect()
    assert(rows.nonEmpty && out.columns.contains("distinct_ratio"))
    // every slice key collapses to the single canonical registered domain
    assert(rows.forall(_.getAs[String]("domain") == "example.com"))
  }

  // ------------------------------------------------------------ api surface

  test("Frame + LazyFrame/YAML wire url, bpe, diversity, sq8 end-to-end") {
    import graft.api.{Graft, LazyFrame, Pipeline}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("url", StringType),
      StructField("text", StringType),
      StructField("e", ArrayType(DoubleType))))
    val d = df(schema,
      Row(1L, "HTTP://A.com:80/x/", "ab ab cd", Seq(0.0, 1.0)),
      Row(2L, "https://b.co.uk/y#f", "ab cd cd", Seq(1.0, 0.0)))

    assert(Graft.fromDF(d).urlParse("url").df.columns.contains("url_canon"))
    assert(Graft.fromDF(d).urlParse("url", stats = true).count() == 2)
    assert(Graft.fromDF(d).bpePairCounts("text").count() == 2) // ab, cd
    assert(Graft.fromDF(d).distinctNgrams("id", "text", 2).count() == 2)
    assert(Graft.fromDF(d).sq8Encode("e").df.columns.contains("codes"))
    assert(Graft.fromDF(d).pqEncode("e", nSub = 1, nCodes = 2).df.columns
      .contains("pq_codes"))
    assert(Graft.fromDF(d).annPq("id", "e", Graft.fromDF(d), "id", "e",
      nSub = 1, nCodes = 2, k = 1).count() == 2)

    val dir = java.nio.file.Files.createTempDirectory("r9g").toString
    d.write.mode("overwrite").parquet(s"$dir/d.parquet")
    val lf = LazyFrame.read("d", s"$dir/d.parquet")
      .urlParse("url").sq8Encode("e").distinctNgrams("domain", "text", 2)
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    val out = Pipeline.runYaml(lf.toYaml, spark)
    assert(out.count() == 2 && out.columns.contains("distinct_ratio"))
    val lf2 = LazyFrame.read("d", s"$dir/d.parquet")
      .urlParse("url", stats = true)
    assert(Pipeline.runYaml(lf2.toYaml, spark).count() == 2)
    val lf3 = LazyFrame.read("d", s"$dir/d.parquet").bpePairCounts("text")
    assert(LazyFrame.fromYaml(lf3.toYaml).toYaml == lf3.toYaml)
    assert(Pipeline.runYaml(lf3.toYaml, spark).count() == 2)
    val lf4 = LazyFrame.read("d", s"$dir/d.parquet")
      .pqEncode("e", nSub = 1, nCodes = 2)
    assert(LazyFrame.fromYaml(lf4.toYaml).toYaml == lf4.toYaml)
    assert(Pipeline.runYaml(lf4.toYaml, spark).columns.contains("pq_codes"))
  }
}

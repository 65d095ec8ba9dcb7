package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-15 regressions: the compacted (CSR) blocklist automaton's
  * heap budget and byte-bounded cache, plus this round's advisor
  * items. */
class Round15Spec extends SparkSpec {

  private def textsDf(rows: (Long, String)*): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    df(schema, rows.map { case (i, t) => Row(i, t) }: _*)
  }

  private def phrasesDf(ps: Seq[String]): DataFrame = {
    val schema = StructType(Seq(StructField("phrase", StringType)))
    df(schema, ps.map(Row(_)): _*)
  }

  // ------------------- blocklist CSR compaction (VERDICT r14 item 1)

  test("automaton heap stays within the CSR bound at 10^5 phrases") {
    // the advertised top end is 10^6; at 10^5 the analytic CSR bound
    // (~16 B/state + 6 B/edge, states <= chars + 1) must hold — the
    // map-per-state form this replaces costs ~10x more
    val phrases = (0 until 100000).map { i =>
      f"phrase$i%06d ${(i * 2654435761L % 9973)}%04d tail${i % 613}"
    }.sorted.toArray
    val totalChars = phrases.map(_.length.toLong).sum
    val ac = new graft.ops.Blocklist.Automaton(phrases)
    assert(ac.size <= totalChars + 1)
    val bound = 16L * (ac.size + 1) + 6L * (ac.size - 1) + 4096
    assert(ac.sizeBytes <= bound,
      s"sizeBytes=${ac.sizeBytes} exceeds CSR bound $bound")
    // concretely: ~22 B/state, far under 1 KB/phrase
    assert(ac.sizeBytes < 100L * 1024 * 1024)
    // spot correctness at this scale against driver brute force
    val reuse = new java.util.BitSet()
    val t1 = s"leading ${phrases(77777)} trailing ${phrases(123)}"
    val h1 = ac.find(t1, reuse)
    assert(h1.cardinality() == 2 && h1.get(77777) && h1.get(123))
    // the reused BitSet is CLEARED per call — no carryover hits
    val h2 = ac.find("no hits in here", reuse)
    assert(h2.isEmpty)
    assert(ac.anyMatch(t1) && !ac.anyMatch("still nothing"))
  }

  test("automaton dict links survive compaction (overlapping suffixes)") {
    // the classic set again, driven through the CSR form directly
    val ac = new graft.ops.Blocklist.Automaton(
      Array("he", "hers", "his", "she").sorted)
    val hits = ac.find("ushers")
    assert(hits.cardinality() == 3) // she, he, hers
    assert(!ac.find("uther").isEmpty) // "he" via fail path mid-word
    assert(ac.find("hi h").isEmpty)
  }

  test("automaton construction rejects unsorted pattern input") {
    intercept[IllegalArgumentException] {
      new graft.ops.Blocklist.Automaton(Array("zebra", "apple"))
    }
  }

  test("blocklist cache is bounded by bytes, not entry count") {
    val saved = graft.ops.Blocklist.cacheBudgetBytes
    try {
      val lists = (0 until 3).map(g =>
        (0 until 600).map(i => s"g${g}word${i} unique${i}"))
      // budget sized from the MEASURED automaton: holds 2 lists, not 3
      val per = new graft.ops.Blocklist.Automaton(
        lists.head.sorted.toArray).sizeBytes
      graft.ops.Blocklist.cacheBudgetBytes = (per * 2.5).toLong
      val texts = textsDf((1L, "alpha one"), (2L, "beta two"))
      lists.foreach { ps =>
        graft.ops.Blocklist.report(texts, "text", phrasesDf(ps), "phrase")
          .collect()
      }
      val (entries, bytes) = graft.ops.Blocklist.cacheStats
      assert(entries >= 1, "eviction must retain the entry being served")
      // 3 same-size lists at a 2.5x budget CANNOT all stay resident
      assert(bytes <= graft.ops.Blocklist.cacheBudgetBytes,
        s"cache holds $bytes bytes over the ${(per * 2.5).toLong} budget " +
          s"with $entries entries")
    } finally graft.ops.Blocklist.cacheBudgetBytes = saved
  }

  // ------------------- plan-shape pins for r14 queries (VERDICT item 7)

  private def tmpParquet(d: DataFrame, name: String): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_$name")
      .resolve("t.parquet").toString
    d.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("q256 shape: topValues rank prunes map-side (WindowGroupLimit)") {
    val schema = StructType(Seq(
      StructField("src", StringType), StructField("lang", StringType)))
    val in = tmpParquet(df(schema,
      Row("a", "en"), Row("a", "de"), Row("b", "en")), "topv")
    val plan = graft.ops.Profile.topValues(in, Seq("src", "lang"), k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    graft.core.PersistScope.unpersistAll()
  }

  test("q247 shape: parts render is a nested fold — no explode, no UDF") {
    val partT = StructType(Seq(
      StructField("type", StringType), StructField("text", StringType)))
    val msgT = ArrayType(StructType(Seq(
      StructField("role", StringType),
      StructField("parts", ArrayType(partT)))))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("messages", msgT)))
    val in = tmpParquet(df(schema,
      Row(1L, Seq(
        Row("user", Seq(Row("text", "hi"), Row("image", "x.png"))),
        Row("assistant", Seq(Row("text", "yo")))))), "parts")
    val plan = graft.ops.ChatOps.renderPartsWithSpans(in, "messages")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan.take(800)) // no explode
    assert(!plan.contains("ScalaUDF"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800)) // row-local
  }

  test("q244 shape: krippendorff pays its (item,label) agg once (cache)") {
    val schema = StructType(Seq(
      StructField("item", LongType), StructField("label", StringType)))
    val in = tmpParquet(df(schema,
      Row(1L, "a"), Row(1L, "a"), Row(2L, "a"), Row(2L, "b"),
      Row(2L, "b")), "kripp")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = graft.ops.Agreement.krippendorffAlpha(in, "item", "label")
        .head()
      assert(r.getLong(0) == 2L && r.getLong(1) == 5L)
      // the listener bus is async — wait for both sufficient-statistics
      // collects (groups + label totals) to surface, then check each
      // read the PERSISTED (item,label) counts, not a re-aggregated scan
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def cached() = {
        import scala.jdk.CollectionConverters._
        plans.asScala.count(_.contains("InMemoryTableScan"))
      }
      while (cached() < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(cached() >= 2,
        s"expected >= 2 cache-served aggregations, saw ${cached()} in " +
          s"${plans.size()} captured plans")
    } finally spark.listenerManager.unregister(listener)
  }

  // ------------------- unigram-LM tokenizer (VERDICT r14 item 5)

  private def logpMap(ps: (String, Double)*)
      : java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    ps.foreach { case (k, v) => m.put(k, java.lang.Double.valueOf(v)) }
    m
  }

  test("unigram viterbi matches exhaustive max-likelihood segmentation") {
    val vocab = Seq("a" -> -3.0, "b" -> -3.2, "c" -> -3.4, "ab" -> -2.1,
      "bc" -> -2.0, "abc" -> -4.9, "cab" -> -2.5, "bca" -> -2.6)
    val m = logpMap(vocab: _*)
    val probs = vocab.toMap
    val unk = -20.0
    def exhaustive(w: String): Double = {
      // max over ALL segmentations (pieces <= 3 chars), unk for
      // out-of-vocab single chars
      if (w.isEmpty) 0.0
      else (1 to math.min(3, w.length)).map { l =>
        val p = w.take(l)
        val sc = probs.getOrElse(p,
          if (l == 1) unk else Double.NegativeInfinity)
        sc + exhaustive(w.drop(l))
      }.max
    }
    for (w <- Seq("abcab", "bcabca", "aaabbbccc", "abcabcabc", "xa",
        "cabbage")) {
      val pieces = graft.ops.UnigramLm.viterbi(w, m, 3, unk)
      assert(pieces.mkString == w, s"round-trip broke on $w")
      val score = pieces.map(p =>
        probs.getOrElse(p, unk)).sum
      assert(math.abs(score - exhaustive(w)) < 1e-12,
        s"$w: viterbi ${pieces.mkString("+")} scored $score, " +
          s"exhaustive best ${exhaustive(w)}")
    }
  }

  test("unigram viterbi never treats an out-of-vocab piece as present") {
    // regression: a primitive-valued HashMap unboxes the absent-key
    // null to 0.0 — the best possible score — so "ab" (not in vocab)
    // would beat a+b
    val m = logpMap("a" -> -1.0, "b" -> -1.0)
    assert(graft.ops.UnigramLm.viterbi("ab", m, 4, -9.0).toSeq ==
      Seq("a", "b"))
    // and an OOV char is emitted as its own piece, not absorbed
    assert(graft.ops.UnigramLm.viterbi("axb", m, 4, -9.0).toSeq ==
      Seq("a", "x", "b"))
  }

  test("unigram hard-EM usage counts and floor probs are hand-exact") {
    // corpus: "ab" x3, "c" x1. Seed: chars {a,b,c} + multi {ab}.
    // Viterbi("ab") = [ab] (ln .3 beats 2 ln .3), so usage: ab=3, c=1,
    // a=b=0; floor prob for unused chars = 0.5/(total+|vocab|) = 1/16
    val schema = StructType(Seq(StructField("text", StringType)))
    val in = df(schema, Row("ab ab c"), Row("ab"))
    val out = graft.ops.UnigramLm.train(in, "text", maxPieceLen = 2,
      seedSize = 10, targetSize = 10, emIters = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        r.getDouble(2))).toMap
    assert(out.keySet == Set("a", "b", "c", "ab"))
    assert(out("ab") == (3L, graft.core.Num.rnd6(math.log(0.75))))
    assert(out("c") == (1L, graft.core.Num.rnd6(math.log(0.25))))
    assert(out("a") == (0L, graft.core.Num.rnd6(math.log(1.0 / 16))))
    assert(out("b") == (0L, graft.core.Num.rnd6(math.log(1.0 / 16))))
    graft.core.PersistScope.unpersistAll()
  }

  test("unigram train is identical across repartitionings") {
    val schema = StructType(Seq(StructField("text", StringType)))
    val rows = (1 to 60).map(i =>
      Row(s"the quick${i % 7} brown fox jump${i % 5} over lazy dog$i"))
    val in = df(schema, rows: _*)
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.UnigramLm.train(d, "text", maxPieceLen = 3,
        seedSize = 60, targetSize = 40, emIters = 2)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).sortBy(_._1).toSeq
    val a = run(in)
    val b = run(in.repartition(13))
    assert(a == b) // integer usage sums: bit-stable, not just close
    graft.core.PersistScope.unpersistAll()
  }

  test("unigram encode round-trips and the YAML arms agree") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val in = df(schema, Row(1L, "Ab, ab! C?"), Row(2L, "ab c ab"))
    val vocab = graft.ops.UnigramLm.train(in, "text", maxPieceLen = 2,
      seedSize = 10, targetSize = 10, emIters = 1)
    val enc = graft.ops.UnigramLm.encode(in, "text", vocab,
      maxPieceLen = 2).collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](2), r.getString(3)))
      .toMap
    assert(enc(1L) == (Seq("ab", "ab", "c"), "ab ab c"))
    assert(enc(2L) == (Seq("ab", "c", "ab"), "ab c ab"))
    val yaml = graft.api.Registry("unigram_encode")(in,
      graft.api.Conf.fromYaml(
        "type: unigram_encode\ntext_key: text\nmax_piece_len: 2\n" +
          "seed_size: 10\ntarget_size: 10\nem_iters: 1"), null)
    assert(yaml.select("decoded").collect().map(_.getString(0)).sorted
      .toSeq == Seq("ab ab c", "ab c ab"))
    graft.core.PersistScope.unpersistAll()
  }

  // --------------------- unlabeled splits surface (VERDICT r14 item 6)

  test("split leakage buckets null split labels instead of dropping them") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("split", StringType)))
    val d = df(schema,
      Row(1L, "abcdefghij", "train"),
      Row(2L, "abcdefghix", null),       // unassigned near-dup of train
      Row(3L, "zzzzzzzzzz", "test"))     // clean
    val prs = graft.ops.SplitLeakage.pairs(d, "id", "s", "split", t = 2)
      .collect().map(r => (r.getLong(r.fieldIndex("id_a")),
        r.getLong(r.fieldIndex("id_b")),
        r.getString(r.fieldIndex("split_a")),
        r.getString(r.fieldIndex("split_b")))).toSet
    assert(prs == Set((1L, 2L, "__unassigned__", "train")))
    val rep = graft.ops.SplitLeakage.report(d, "id", "s", "split", 2)
      .head()
    assert(rep.getString(0) == "__unassigned__" &&
      rep.getString(1) == "train")
    assert(rep.getLong(rep.fieldIndex("n_pairs")) == 1)
    assert(rep.getLong(rep.fieldIndex("n_leaked_ids")) == 2)
    graft.core.PersistScope.unpersistAll()
  }

  // ----------------------------- advisor items: freshness + topValues

  test("freshness mean skips null timestamps and reports n_null_ts") {
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("ts", LongType)))
    val in = df(schema,
      Row("a", 100L), Row("a", 300L), Row("a", null), // mean of 2, not 3
      Row("b", 50L))
    val out = graft.ops.TemporalOps.freshness(in, "ts", asOfMicros = 400L,
      Seq("g")).collect().map(r => r.getString(0) ->
        (r.getLong(r.fieldIndex("n")),
          r.getLong(r.fieldIndex("n_null_ts")),
          r.getDouble(r.fieldIndex("age_mean")))).toMap
    // ages for a: 300, 100 -> mean 200 (a count(1) denominator would
    // report the biased 133.3333)
    assert(out("a") == (3L, 1L, 200.0))
    assert(out("b") == (1L, 0L, 350.0))
  }

  test("topValues keeps genuine NULLs distinct from 'null' strings") {
    val schema = StructType(Seq(StructField("c", StringType)))
    val in = df(schema,
      Row("null"), Row("null"), Row(null), Row("x"))
    val out = graft.ops.Profile.topValues(in, Seq("c"), k = 3)
      .collect().map(r => (r.getString(2), r.getBoolean(3),
        r.getLong(4))).toSet
    // the literal string and the real NULL are separate rows with
    // separate counts — a coalesce-only rendering would merge them to 3
    assert(out == Set(("null", false, 2L), ("null", true, 1L),
      ("x", false, 1L)))
    graft.core.PersistScope.unpersistAll()
  }

  // --------------- preference pairs over content parts (VERDICT item 8)

  private def partsPair(chosenParts: Seq[(String, String)],
      rejectedParts: Seq[(String, String)],
      userParts: Seq[(String, String)] = Seq(("text", "hi"), ("image", "u.png")),
      rejectedUserParts: Option[Seq[(String, String)]] = None): DataFrame = {
    val part = StructType(Seq(StructField("type", StringType),
      StructField("text", StringType),
      // extra carrier field: must NOT break prefix equality
      StructField("ts", LongType)))
    val msg = StructType(Seq(StructField("role", StringType),
      StructField("parts", ArrayType(part))))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("messages_chosen", ArrayType(msg)),
      StructField("messages_rejected", ArrayType(msg))))
    def m(role: String, ps: Seq[(String, String)], ts: Long) =
      Row(role, ps.map { case (tp, tx) => Row(tp, tx, ts) })
    df(schema, Row(1L,
      Seq(m("user", userParts, 10L), m("assistant", chosenParts, 11L)),
      Seq(m("user", rejectedUserParts.getOrElse(userParts), 99L),
        m("assistant", rejectedParts, 12L))))
  }

  test("parts pair: image-ref-only divergence is valid, renders equal") {
    // chosen and rejected final turns differ ONLY in the image ref —
    // valid preference signal on the (type,text) projection, yet both
    // render to the same <image> placeholder, so diverge_at = full len
    val in = partsPair(
      Seq(("text", "ok"), ("image", "a.png")),
      Seq(("text", "ok"), ("image", "b.png")))
    val v = graft.ops.Preference.validatePairsParts(
      in, "messages_chosen", "messages_rejected")
    val r = graft.ops.Preference.renderPairParts(
      v, "messages_chosen", "messages_rejected")
      .select("pair_valid", "pair_invalid_reason", "text_chosen",
        "text_rejected", "diverge_at").collect().head
    assert(r.getBoolean(0) && r.isNullAt(1))
    assert(r.getString(2) == r.getString(3))
    assert(r.getLong(4) == r.getString(2).length.toLong)
  }

  test("parts pair: carrier fields don't break the prefix contract") {
    // identical (type,text) everywhere except the final text, with a
    // DIFFERENT ts on the rejected user turn: raw-struct comparison
    // would flag prefix_mismatch; the projection must not
    val in = partsPair(Seq(("text", "good")), Seq(("text", "bad")))
    val r = graft.ops.Preference.validatePairsParts(
      in, "messages_chosen", "messages_rejected")
      .select("pair_valid", "pair_invalid_reason").collect().head
    assert(r.getBoolean(0), s"expected valid, got ${r.getString(1)}")
  }

  test("parts pair: reason priority and planted damage classes") {
    def reasonOf(in: DataFrame): String =
      graft.ops.Preference.validatePairsParts(
        in, "messages_chosen", "messages_rejected")
        .select("pair_invalid_reason").collect().head.getString(0)
    assert(reasonOf(partsPair(Seq(("text", "")), Seq(("text", "b")))) ==
      "chosen_empty_text_part")
    assert(reasonOf(partsPair(Seq(("text", "a")),
      Seq(("text", "b"), ("sticker", "x")))) ==
      "rejected_unknown_part_type")
    assert(reasonOf(partsPair(Seq(("text", "a")), Seq(("text", "b")),
      rejectedUserParts = Some(Seq(("text", "hi!"), ("image", "u.png"))))) ==
      "prefix_mismatch")
    assert(reasonOf(partsPair(Seq(("text", "same"), ("image", "i.png")),
      Seq(("text", "same"), ("image", "i.png")))) ==
      "identical_responses")
  }

  test("parts pair render: spans cover only text parts on both sides") {
    val in = partsPair(
      Seq(("text", "yes"), ("image", "a.png")),
      Seq(("image", "b.png"), ("text", "no")))
    val r = graft.ops.Preference.renderPairParts(
      in, "messages_chosen", "messages_rejected")
      .select("text_chosen", "mask_spans_chosen", "text_rejected",
        "mask_spans_rejected").collect().head
    def spans(i: Int): Seq[(Long, Long)] =
      r.getSeq[Row](i).map(sp => (sp.getLong(0), sp.getLong(1)))
    val (tc, tr) = (r.getString(0), r.getString(2))
    assert(spans(1).size == 1 && spans(3).size == 1)
    val (cs, ce) = spans(1).head
    val (rs, re) = spans(3).head
    // each span extracts exactly the assistant TEXT part's characters
    assert(tc.substring(cs.toInt, ce.toInt) == "yes")
    assert(tr.substring(rs.toInt, re.toInt) == "no")
    // placeholders render but stay unmasked
    assert(tc.contains("<image>") && tr.contains("<image>"))
  }

  test("parts pair YAML arms route through the registry") {
    val in = partsPair(Seq(("text", "good")), Seq(("text", "bad")))
    val out = graft.api.Registry("preference_validate")(in,
      graft.api.Conf.fromYaml(
        "type: preference_validate\nparts: true"), null)
    assert(out.select("pair_valid").collect().head.getBoolean(0))
    val rendered = graft.api.Registry("preference_render")(out,
      graft.api.Conf.fromYaml(
        "type: preference_render\nparts: true"), null)
    assert(rendered.columns.contains("diverge_at") &&
      rendered.columns.contains("mask_spans_chosen"))
  }

  test("q261 shape: parts pair validate+render is row-local — no " +
      "explode, no UDF, no shuffle") {
    val in = partsPair(
      Seq(("text", "ok"), ("image", "a.png")),
      Seq(("text", "ok"), ("image", "b.png")))
    val plan = graft.ops.Preference.renderPairParts(
      graft.ops.Preference.validatePairsParts(
        in, "messages_chosen", "messages_rejected"),
      "messages_chosen", "messages_rejected")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan.take(800))
    assert(!plan.contains("ScalaUDF"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("review fixes: empty-corpus zeros, named seed error, vocab " +
      "round-trip, escaped tool names") {
    // lengthBias on an empty pairs corpus reports zeros, not NULLs
    val emptySchema = StructType(Seq(StructField("p", StringType),
      StructField("c", StringType), StructField("r", StringType)))
    val none = graft.ops.Preference.lengthBias(
      graft.ops.Preference.fromPromptPair(
        df(emptySchema), "p", "c", "r"),
      "messages_chosen", "messages_rejected").collect().head
    assert(none.getLong(0) == 0L && none.getLong(1) == 0L &&
      none.getDouble(4) == 0.0)
    // unigram seed on a token-free corpus fails with a NAMED error
    val bad = intercept[IllegalArgumentException] {
      graft.ops.UnigramLm.train(textsDf((1L, "!!! ???")), "text",
        maxPieceLen = 3, seedSize = 10, targetSize = 5, emIters = 0)
        .collect()
    }
    assert(bad.getMessage.contains("no alphanumeric tokens"))
    // Frame-level wordpiece train->encode pairing round-trips
    val wp = graft.api.Frame(textsDf((1L, "hug hug pug")),
      graft.llm.MockLlmClient())
    val vocab = wp.wordpieceVocab("text", numMerges = 2)
    val enc = wp.withDataset("vocab", vocab)
      .wordpieceEncode("text", vocabFrom = Some("vocab")).df
      .select("decoded", "n_unk").collect().head
    assert(enc.getString(0) == "hug hug pug" && enc.getLong(1) == 0L)
    // tool names with quotes/backslashes render as VALID JSON
    val in = toolConv(
      tm("user", "q"),
      tm("assistant", "", calls = Seq(("a", "get\"x\\y", "{\"k\":1}"))),
      tm("tool", "r", tid = "a"),
      tm("assistant", "done"))
    val text = graft.ops.ChatOps.renderTools(in, "messages")
      .select("text").collect().head.getString(0)
    assert(text.contains(
      "<tool_call>{\"name\": \"get\\\"x\\\\y\", \"arguments\": {\"k\":1}}" +
        "</tool_call>"), text)
    // null-named calls stay out of the distinct-tool band
    val nn = toolConv(
      tm("user", "q"),
      Row("assistant", "", Seq(Row("a", null, "{}")), null),
      tm("tool", "r", tid = "a"),
      tm("assistant", "done"))
    val st = graft.ops.ChatOps.statsTools(nn, "messages")
      .select("n_tool_calls", "n_distinct_tools").collect().head
    assert(st.getLong(0) == 1L && st.getLong(1) == 0L)
  }

  test("render generation_prompt appends an open header, no eos") {
    val msgT = ArrayType(StructType(Seq(StructField("role", StringType),
      StructField("content", StringType))))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("msgs", msgT)))
    val in = df(schema, Row(1L, Seq(Row("user", "hi"))))
    val tpl = graft.ops.ChatOps.ChatTemplate.ChatML
    val on = graft.ops.ChatOps.render(in, "msgs", tpl,
      generationPrompt = true).select("text").collect().head.getString(0)
    assert(on == "<|im_start|>user\nhi<|im_end|>\n<|im_start|>assistant\n")
    val off = graft.ops.ChatOps.render(in, "msgs", tpl)
      .select("text").collect().head.getString(0)
    assert(off == "<|im_start|>user\nhi<|im_end|>\n")
    val yaml = graft.api.Registry("chat_render")(in,
      graft.api.Conf.fromYaml("type: chat_render\nmessages_key: msgs\n" +
        "template: chatml\ngeneration_prompt: true"), null)
      .select("text").collect().head.getString(0)
    assert(yaml.endsWith("<|im_start|>assistant\n"))
    // generation_prompt reaches the parts and tools arms too
    val pin = partsPair(Seq(("text", "ok")), Seq(("text", "no")))
    val pyaml = graft.api.Registry("chat_render")(pin,
      graft.api.Conf.fromYaml("type: chat_render\n" +
        "messages_key: messages_chosen\nparts: true\n" +
        "generation_prompt: true"), null)
      .select("text").collect().head.getString(0)
    assert(pyaml.endsWith("<|assistant|>\n"), pyaml.takeRight(40))
    val tin = toolConv(tm("user", "q"), tm("assistant", "a"))
    val tyaml = graft.api.Registry("chat_render")(tin,
      graft.api.Conf.fromYaml("type: chat_render\n" +
        "messages_key: messages\ntools: true\n" +
        "generation_prompt: true"), null)
      .select("text").collect().head.getString(0)
    assert(tyaml.endsWith("<|assistant|>\n"), tyaml.takeRight(40))
  }

  test("tool-call validate shape: one fold, no explode, no shuffle") {
    val in = toolConv(
      tm("user", "q"),
      tm("assistant", "", calls = Seq(("a", "s", "{}"))),
      tm("tool", "r", tid = "a"),
      tm("assistant", "done"))
    val plan = graft.ops.ChatOps.validateTools(in, "messages")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan.take(800))
    assert(!plan.contains("ScalaUDF"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("k-anonymity report and worklist are hand-exact") {
    val schema = StructType(Seq(StructField("zip", StringType),
      StructField("age", LongType)))
    // groups: (94110,30)x3, (94110,31)x2, (94111,30)x1, (null,30)x2
    val in = df(schema,
      Row("94110", 30L), Row("94110", 30L), Row("94110", 30L),
      Row("94110", 31L), Row("94110", 31L),
      Row("94111", 30L),
      Row(null, 30L), Row(null, 30L))
    val r = graft.ops.Profile.kAnonymity(in, Seq("zip", "age"), k = 3)
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 8L &&
      r.getLong(2) == 4L)
    // below k=3: the three size-2/1 groups carry 2+1+2 = 5 rows; NULL
    // zip is a real (riskier) combination, not a dropped one
    assert(r.getLong(3) == 5L && r.getLong(4) == 3L &&
      r.getLong(5) == 1L)
    assert(r.getDouble(6) == graft.core.Num.rnd6(5.0 / 8))
    val g = graft.ops.Profile.kAnonymityGroups(in, Seq("zip", "age"),
      k = 3, limit = 2).collect()
      .map(x => (Option(x.getString(0)), x.getLong(1), x.getLong(2)))
    // largest first; the tie's null marker ("0" < "1") puts the
    // null-zip group ahead of (94110,31) at size 2
    assert(g.length == 2)
    assert(g(0) == (None, 30L, 2L))
    assert(g(1) == (Some("94110"), 31L, 2L))
  }

  test("bitext margin mining is hand-exact; mutual-best intersects") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(FloatType))))
    def v(id: Long, x: Double, y: Double) =
      Row(id, Seq(x.toFloat, y.toFloat))
    val src = df(schema, v(0L, 1, 0), v(2L, 0, 1))
    val tgt = df(schema, v(1L, 1, 0), v(3L, 0.6, 0.8))
    // cosines: (0,1)=1 (0,3)=.6 (2,1)=0 (2,3)=.8
    // kNN means: src0=.8 src2=.4 tgt1=.5 tgt3=.7
    // margins: (0,1)=1/.65 (2,3)=.8/.55 — the only two over 1.0
    val out = graft.ops.BitextMine.margin(src, "id", "e",
      tgt, "id", "e", k = 2, threshold = 1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set((0L, 1L), (2L, 3L)))
    assert(out((0L, 1L)) == (1.0, graft.core.Num.rnd6(1.0 / 0.65)))
    assert(out((2L, 3L)) == (0.8, graft.core.Num.rnd6(0.8 / 0.55)))
    // mutual-best keeps both (each pair is both sides' argmax) and
    // drops nothing extra at threshold 0 where (0,3)/(2,1) also emit
    val all = graft.ops.BitextMine.margin(src, "id", "e",
      tgt, "id", "e", k = 2, threshold = 0.0)
    assert(all.count() == 4L)
    val mb = graft.ops.BitextMine.margin(src, "id", "e",
      tgt, "id", "e", k = 2, threshold = 0.0, mutualBest = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mb == Set((0L, 1L), (2L, 3L)))
  }

  test("marginFromKnn is drop-in for the IVF scale path") {
    // clustered vectors split even/odd; with nProbe = nCentroids the
    // IVF search is exhaustive, so the IVF-fed margins must equal the
    // brute-force margins BIT-FOR-BIT — the seam is genuinely drop-in
    val rng = new scala.util.Random(11)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(FloatType))))
    val rows = (0 until 40).map { i =>
      val ctr = Array.fill(6)(if (i % 4 < 2) 1.0 else -1.0)
      Row(i.toLong, ctr.map(c =>
        (c + rng.nextGaussian() * 0.15).toFloat).toSeq)
    }
    val all = df(schema, rows: _*)
    val src = all.filter(col("id") % 2 === 0)
    val tgt = all.filter(col("id") % 2 === 1)
    val bf = graft.ops.BitextMine.margin(src, "id", "e",
      tgt, "id", "e", k = 3, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    val nC = 2
    val tgtCent = graft.ann.Ann.trainCentroids(tgt, "e", nC)
    val srcCent = graft.ann.Ann.trainCentroids(src, "e", nC)
    val fwd = graft.ann.Ann.ivfSearch(
      graft.ann.Ann.ivfAssign(tgt, "e", tgtCent), "id", "e",
      src, "id", "e", tgtCent, k = 3, nProbe = nC)
      .select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("score"))
    val bwd = graft.ann.Ann.ivfSearch(
      graft.ann.Ann.ivfAssign(src, "e", srcCent), "id", "e",
      tgt, "id", "e", srcCent, k = 3, nProbe = nC)
      .select(col("neighbor_id").as("src_id"),
        col("query_id").as("tgt_id"), col("score"))
    val ivf = graft.ops.BitextMine.marginFromKnn(fwd, bwd,
      threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    assert(ivf == bf)
  }

  test("hard-negative mining: positives excluded, BM25 hand-exact") {
    val docs = textsDf(
      (13L, "spark join window fast spark"),
      (26L, "window join slow"),
      (2L, "spark spark spark"),
      (3L, "nothing here"))
    val qschema = StructType(Seq(StructField("qid", LongType),
      StructField("qtext", StringType)))
    val queries = df(qschema, Row(1L, "spark join window"))
    val positives = df(StructType(Seq(StructField("qid", LongType),
      StructField("doc", LongType))), Row(1L, 13L))
    val out = graft.ops.HardNegatives.mine(queries, "qid", "qtext",
      positives, "qid", "doc", docs, "id", "text", negPerQuery = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 13 (the positive, and the top scorer for its own words) is
    // excluded; doc 3 shares no term so it is not a candidate at all;
    // values replayed by hand in DuckDB with the q17 Robertson variant
    assert(out.toSeq == Seq((26L, 1L, 1.43134), (2L, 2L, 1.10749)))
    // without the exclusion the positive tops the ranking — the
    // anti-join is doing real work
    val noPos = graft.ops.HardNegatives.mine(queries, "qid", "qtext",
      df(StructType(Seq(StructField("qid", LongType),
        StructField("doc", LongType)))), "qid", "doc",
      docs, "id", "text", negPerQuery = 5)
      .orderBy("neg_rank").collect().map(_.getLong(1))
    assert(noPos.head == 13L)
  }

  test("hard-negative top-n prunes map-side (WindowGroupLimit)") {
    val docs = tmpParquet(textsDf(
      (13L, "spark join window"), (26L, "window join slow"),
      (2L, "spark fast")), "hneg")
    val qschema = StructType(Seq(StructField("qid", LongType),
      StructField("qtext", StringType)))
    val queries = df(qschema, Row(1L, "spark join"))
    val positives = df(StructType(Seq(StructField("qid", LongType),
      StructField("doc", LongType))), Row(1L, 13L))
    val plan = graft.ops.HardNegatives.mine(queries, "qid", "qtext",
      positives, "qid", "doc", docs, "id", "text", negPerQuery = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
  }

  test("k-anonymity worklist plans as TakeOrdered, not a full sort") {
    val schema = StructType(Seq(StructField("zip", StringType),
      StructField("age", LongType)))
    val in = tmpParquet(df(schema, Row("a", 1L), Row("b", 2L)), "kanon")
    val plan = graft.ops.Profile.kAnonymityGroups(in, Seq("zip", "age"),
      k = 3, limit = 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("preference length bias is hand-exact") {
    val schema = StructType(Seq(StructField("p", StringType),
      StructField("c", StringType), StructField("r", StringType)))
    val in = df(schema,
      Row("q1", "longer answer", "short"), // chosen longer (13 vs 5)
      Row("q2", "tie", "tie"),             // equal (3 vs 3)
      Row("q3", "x", "yyyy"))              // rejected longer (1 vs 4)
    val pairs = graft.ops.Preference.fromPromptPair(in, "p", "c", "r")
    val out = graft.ops.Preference.lengthBias(pairs,
      "messages_chosen", "messages_rejected").collect().head
    assert(out.getLong(0) == 3L && out.getLong(1) == 1L &&
      out.getLong(2) == 1L)
    assert(out.getDouble(3) == graft.core.Num.rnd6(1.0 / 3))
    assert(out.getDouble(4) == graft.core.Num.rnd6(17.0 / 3))
    assert(out.getDouble(5) == 4.0)
    assert(out.getDouble(6) == graft.core.Num.rnd6(5.0 / 3))
  }

  // ------------------------ tool-call conversations (depth: chat family)

  private val toolCallT = StructType(Seq(StructField("id", StringType),
    StructField("name", StringType), StructField("arguments", StringType)))
  private val toolMsgT = StructType(Seq(StructField("role", StringType),
    StructField("content", StringType),
    StructField("tool_calls", ArrayType(toolCallT)),
    StructField("tool_call_id", StringType)))

  private def toolConv(msgs: Row*): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("messages", ArrayType(toolMsgT))))
    df(schema, Row(1L, msgs))
  }
  private def tm(role: String, content: String,
      calls: Seq[(String, String, String)] = Nil,
      tid: String = null): Row =
    Row(role, content,
      if (calls.isEmpty) Seq.empty[Row]
      else calls.map { case (i, n, a) => Row(i, n, a) }, tid)

  private def toolReason(in: DataFrame): Option[String] = {
    val r = graft.ops.ChatOps.validateTools(in, "messages")
      .select("conv_invalid_reason").collect().head
    Option(r.getString(0))
  }

  test("tool-call validate: multi-call round answered out of order") {
    // two calls in one assistant turn; results arrive reversed — the
    // pending SET, not a queue, so this is valid
    val in = toolConv(
      tm("user", "find it"),
      tm("assistant", "", calls = Seq(("a", "search", "{}"),
        ("b", "fetch", "{}"))),
      tm("tool", "r2", tid = "b"),
      tm("tool", "r1", tid = "a"),
      tm("assistant", "done"))
    assert(toolReason(in).isEmpty)
  }

  test("tool-call validate: planted violations report the first error") {
    // duplicate answer: the second result for an already-cleared id is
    // an orphan
    assert(toolReason(toolConv(
      tm("user", "q"),
      tm("assistant", "", calls = Seq(("a", "s", "{}"))),
      tm("tool", "r", tid = "a"),
      tm("tool", "r again", tid = "a"),
      tm("assistant", "done"))).contains("orphan_tool_result"))
    // assistant barging in on pending calls
    assert(toolReason(toolConv(
      tm("user", "q"),
      tm("assistant", "", calls = Seq(("a", "s", "{}"))),
      tm("assistant", "impatient"))).contains("missing_tool_result"))
    // tool result with no pending assistant turn at all
    assert(toolReason(toolConv(
      tm("user", "q"),
      tm("tool", "r", tid = "a"))).contains("orphan_tool_result"))
    // empty user content
    assert(toolReason(toolConv(
      tm("user", ""),
      tm("assistant", "x"))).contains("empty_content"))
    // assistant with neither content nor calls
    assert(toolReason(toolConv(
      tm("user", "q"),
      tm("assistant", ""))).contains("empty_content"))
    // leading system is fine; stray system is not
    assert(toolReason(toolConv(
      tm("system", "be good"), tm("user", "q"),
      tm("assistant", "a"))).isEmpty)
    assert(toolReason(toolConv(
      tm("user", "q"), tm("system", "late"),
      tm("assistant", "a"))).contains("system_not_leading"))
  }

  test("tool-call render: spans mask assistant calls, not tool results") {
    val in = toolConv(
      tm("user", "q"),
      tm("assistant", "thinking", calls = Seq(("a", "s", "{\"k\":1}"))),
      tm("tool", "obs", tid = "a"),
      tm("assistant", "done"))
    val r = graft.ops.ChatOps.renderTools(in, "messages")
      .select("text", "mask_spans").collect().head
    val text = r.getString(0)
    val spans = r.getSeq[Row](1).map(sp => (sp.getLong(0), sp.getLong(1)))
    assert(spans.size == 2)
    val masked = spans.map { case (s, e) =>
      text.substring(s.toInt, e.toInt) }
    // first assistant body: content + its emitted call block
    assert(masked(0) == "thinking\n<tool_call>" +
      "{\"name\": \"s\", \"arguments\": {\"k\":1}}</tool_call>")
    assert(masked(1) == "done")
    // the observation renders but is OUTSIDE every mask span
    assert(text.contains("<tool_response>\nobs\n</tool_response>"))
    val obsAt = text.indexOf("obs").toLong
    assert(!spans.exists { case (s, e) => s <= obsAt && obsAt < e })
  }

  test("tool-call stats and YAML arms") {
    val in = toolConv(
      tm("user", "q"),
      tm("assistant", "", calls = Seq(("a", "s", "{}"), ("b", "f", "{}"))),
      tm("tool", "r1", tid = "a"),
      tm("tool", "r2", tid = "b"),
      tm("assistant", "", calls = Seq(("c", "s", "{}"))),
      tm("tool", "r3", tid = "c"),
      tm("assistant", "done"))
    val st = graft.ops.ChatOps.statsTools(in, "messages")
      .select("n_tool_calls", "n_tool_results", "n_tool_rounds",
        "n_distinct_tools", "tools_used").collect().head
    assert(st.getLong(0) == 3L && st.getLong(1) == 3L &&
      st.getLong(2) == 2L && st.getLong(3) == 2L)
    assert(st.getSeq[String](4) == Seq("f", "s"))
    val v = graft.api.Registry("conversation_validate")(in,
      graft.api.Conf.fromYaml(
        "type: conversation_validate\nmessages_key: messages\n" +
          "tools: true"), null)
    assert(v.select("conv_valid").collect().head.getBoolean(0))
    val rendered = graft.api.Registry("chat_render")(in,
      graft.api.Conf.fromYaml(
        "type: chat_render\nmessages_key: messages\ntools: true"), null)
    assert(rendered.columns.contains("mask_spans"))
  }

  // --------------------------- WordPiece tokenizer (depth: §2.14 family)

  test("wordpiece scores and first merge are hand-exact") {
    // the public worked example (HF tokenizers course corpus):
    // hug×10 pug×5 pun×12 bun×4 hugs×5
    val corpus = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
    val in = textsDf(corpus.zipWithIndex.map {
      case (w, i) => (i.toLong, w) }: _*)
    val vocab = graft.ops.WordPiece.initialVocab(in, "text")
    val scores = graft.ops.WordPiece.pairScores(vocab)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // unigrams: h=15 ##u=36 ##g=20 p=17 ##n=16 b=4 ##s=5
    assert(scores(("##g", "##s")) == (5L, 20L, 5L, 5.0 / (20 * 5)))
    assert(scores(("h", "##u")) == (15L, 15L, 36L, 15.0 / (15 * 36)))
    assert(scores(("##u", "##g")) == (20L, 36L, 20L, 20.0 / (36 * 20)))
    assert(scores(("b", "##u")) == (4L, 4L, 36L, 4.0 / (4 * 36)))
    // argmax is the likelihood ratio, NOT the raw count: (##g,##s) at
    // 0.05 beats (##u,##g)'s count of 20 at 1/36
    val m = graft.ops.WordPiece.train(in, "text", numMerges = 2)
    assert(m.head.left == "##g" && m.head.right == "##s" &&
      m.head.fused == "##gs" && m.head.score == 0.05)
    // after the fuse every surviving pair ties at 1/36; (left, right)
    // ascending elects (##u, ##g) -> "##ug"
    assert(m(1).left == "##u" && m(1).right == "##g" &&
      m(1).fused == "##ug")
  }

  test("wordpiece MaxMatch encode: longest match, UNK, round-trip") {
    val vocabSet = new java.util.HashSet[String]()
    Seq("hug", "h", "##u", "##g", "##s").foreach(vocabSet.add)
    // greedy longest-first: "hug" wins over "h" at position 0
    assert(graft.ops.WordPiece.encodeWord("hugs", vocabSet, 100, "[UNK]")
      .toSeq == Seq("hug", "##s"))
    // any uncoverable span collapses the WHOLE word
    assert(graft.ops.WordPiece.encodeWord("hux", vocabSet, 100, "[UNK]")
      .toSeq == Seq("[UNK]"))
    // max_input_chars_per_word guard
    assert(graft.ops.WordPiece.encodeWord("hug", vocabSet, 2, "[UNK]")
      .toSeq == Seq("[UNK]"))
    // df-level: train-corpus encode round-trips with zero UNK
    val in = textsDf((1L, "Hug, pug!  HUGS pun"), (2L, "bun hug"))
    val merges = graft.ops.WordPiece.train(in, "text", numMerges = 2)
    val vt = graft.ops.WordPiece.vocabTable(in, "text", merges)
    val out = graft.ops.WordPiece.encode(in, "text", vt)
      .select("id", "pieces", "decoded", "n_unk").collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getString(2), r.getLong(3))).toMap
    assert(out(1L)._2 == "hug pug hugs pun" && out(1L)._3 == 0L)
    assert(out(2L)._2 == "bun hug" && out(2L)._3 == 0L)
    // MaxMatch is longest-match-first, NOT merge-order replay: "hugs"
    // takes h + ##ug + ##s (the longer ##ug beats entering via ##gs)
    assert(out(2L)._1 == Seq("b", "##u", "##n", "h", "##ug"))
  }
}

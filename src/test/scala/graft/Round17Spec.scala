package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-17 regressions: the struct-keyed entropy l-diversity totals
  * (VERDICT r16 item 1), the right-sized decontamination bench cap +
  * element-null fail-loud (items 2 and ADVICE), the bitext
  * dropped-candidate audit (item 3), the rougeL truncated flag
  * (ADVICE), and the shared TextSim gram machinery (item 6). */
class Round17Spec extends SparkSpec {

  private def ctx(datasets: Map[String, DataFrame] = Map.empty) =
    graft.api.OpContext(spark, graft.llm.MockLlmClient(), datasets)

  // ------------- entropy l-diversity: struct-keyed totals (item 1)

  test("lDiversityEntropy: NULL qi class survives, no qi window") {
    val schema = StructType(Seq(StructField("lang", StringType),
      StructField("source", StringType)))
    val d = df(schema,
      Row(null, "a"), Row(null, "a"), Row(null, "b"),
      Row("en", "x"), Row("en", "y"))
    val rep = graft.ops.Profile.lDiversityEntropy(d, Seq("lang"),
      "source", l = 2)
    // NULL lang class: cells (2 a, 1 b), n = 3 ->
    //   round(2/3*ln(3/2)*1e6) + round(1/3*ln(3)*1e6)
    //   = 270310 + 366204 = 636514 micro-nats < ln(2)*1e6 = 693147
    // en class: 2 * round(0.5*ln(2)*1e6) = 693148 >= 693147
    val r = rep.collect().head
    assert(r.getLong(r.fieldIndex("n_rows")) == 5L)
    assert(r.getLong(r.fieldIndex("n_classes")) == 2L)
    assert(r.getLong(r.fieldIndex("n_rows_below")) == 3L)
    assert(r.getLong(r.fieldIndex("n_classes_below")) == 1L)
    assert(r.getDouble(r.fieldIndex("min_entropy")) == 0.636514)
    assert(r.getDouble(r.fieldIndex("frac_rows_below")) == 0.6)
    // the per-class totals must NOT plan as a qi-partitioned Window
    // (hot under a high-cardinality sensitive column) — the struct-
    // keyed join is the required shape
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"), plan.take(1500))
  }

  // ---- decontamination: cap = cost model, element nulls loud (item 2)

  private val embSchema = StructType(Seq(StructField("id", LongType),
    StructField("e", ArrayType(DoubleType, containsNull = true))))

  test("embeddingHits: bench cap fires; element nulls fail loud") {
    val corpus = df(embSchema, Row(1L, Seq(1.0, 0.0)))
    val bench = df(embSchema, Row(10L, Seq(1.0, 0.0)),
      Row(20L, Seq(0.0, 1.0)), Row(30L, Seq(1.0, 1.0)))
    // per-corpus-row cost is |bench|*dim: the cap is the cost model
    val e1 = intercept[IllegalArgumentException] {
      graft.dedup.Decontaminate.embeddingHits(
        corpus, "id", "e", bench, "id", "e", 0.5, maxBenchRows = 2)
    }
    assert(e1.getMessage.contains("cost model"), e1.getMessage)
    // a null ELEMENT in a benchmark embedding is corruption, not
    // absence — loud with the row id, never an unboxing NPE
    val nullElem = df(embSchema, Row(10L, Seq[Any](1.0, null)))
    val e2 = intercept[IllegalArgumentException] {
      graft.dedup.Decontaminate.embeddingHits(
        corpus, "id", "e", nullElem, "id", "e", 0.5)
    }
    assert(e2.getMessage.contains("null embedding element") &&
      e2.getMessage.contains("10"), e2.getMessage)
    // same on the corpus side (executor-side — search the cause chain)
    val badCorpus = df(embSchema, Row(7L, Seq[Any](null, 1.0)))
    val okBench = df(embSchema, Row(10L, Seq(1.0, 0.0)))
    val e3 = intercept[Exception] {
      graft.dedup.Decontaminate.embeddingHits(
        badCorpus, "id", "e", okBench, "id", "e", 0.5).collect()
    }
    val msgs = Iterator.iterate[Throwable](e3)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("|")
    assert(msgs.contains("null embedding element") && msgs.contains("7"),
      msgs.take(300))
  }

  // ------------------- bitext dropped-candidate audit (item 3)

  private val knnSchema = StructType(Seq(StructField("src_id", LongType),
    StructField("tgt_id", LongType), StructField("score", DoubleType)))

  test("marginFromKnnAudit counts what the mining inner join drops") {
    // tgt 2 has NO bwd k-NN list (the empty-probe row an approximate
    // provider produces) -> the (1, 2) candidate is dropped by mining
    val fwd = df(knnSchema, Row(1L, 1L, 0.9), Row(1L, 2L, 0.8))
    val bwd = df(knnSchema, Row(1L, 1L, 0.9))
    val audit = graft.ops.BitextMine.marginFromKnnAudit(fwd, bwd)
      .collect().head
    assert(audit.getLong(0) == 2L) // n_candidates
    assert(audit.getLong(1) == 1L) // n_scored
    assert(audit.getLong(2) == 1L) // n_dropped
    assert(audit.getLong(3) == 0L) // n_missing_src_avg
    assert(audit.getLong(4) == 1L) // n_missing_tgt_avg
    // and the mining arm did drop exactly that pair
    val mined = graft.ops.BitextMine.marginFromKnn(fwd, bwd,
      threshold = 0.0).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mined.toSeq == Seq((1L, 1L)))
    // a candidate missing BOTH sides counts once in n_dropped
    val fwd2 = df(knnSchema, Row(1L, 1L, 0.9))
    val bwd2 = df(knnSchema, Row(2L, 2L, 0.7))
    val a2 = graft.ops.BitextMine.marginFromKnnAudit(fwd2, bwd2)
      .collect().head
    assert(a2.getLong(0) == 2L && a2.getLong(2) == 2L)
    assert(a2.getLong(3) == 1L && a2.getLong(4) == 1L)
  }

  private val labEmbSchema = StructType(Seq(StructField("id", LongType),
    StructField("e", ArrayType(FloatType))))

  private def clusteredEmb: DataFrame = {
    val rng = new scala.util.Random(17)
    df(labEmbSchema, (0 until 40).map { i =>
      val ctr = Array.fill(6)(if (i % 4 < 2) 1.0 else -1.0)
      Row(i.toLong, ctr.map(c =>
        (c + rng.nextGaussian() * 0.15).toFloat).toSeq)
    }: _*)
  }

  test("bitext_mine mode: audit is config-reachable; brute never drops") {
    val all = clusteredEmb
    val src = all.filter(col("id") % 2 === 0)
    val tgt = all.filter(col("id") % 2 === 1)
    val conf = (m: String) => graft.api.Conf.fromYaml(
      s"""type: bitext_mine
         |target_from: tgt
         |id_key: id
         |embedding_key: e
         |k: 3
         |mode: audit
         |method: $m
         |n_cells: 2
         |n_probe: 2""".stripMargin)
    val c = ctx(Map("tgt" -> tgt))
    val brute = graft.api.Registry("bitext_mine")(src, conf("brute"), c)
      .collect().head
    // brute k-NN: every row has k neighbors -> zero drops, by theorem
    assert(brute.getLong(0) > 0L && brute.getLong(2) == 0L)
    assert(brute.getLong(0) == brute.getLong(1))
    // exhaustive probing (n_probe = n_cells) replays the brute audit
    val ivf = graft.api.Registry("bitext_mine")(src, conf("ivf"), c)
      .collect().head
    assert(ivf.toSeq == brute.toSeq)
    // unknown mode is a config error
    val bad = intercept[IllegalArgumentException] {
      graft.api.Registry("bitext_mine")(src, graft.api.Conf.fromYaml(
        """type: bitext_mine
          |target_from: tgt
          |id_key: id
          |embedding_key: e
          |mode: report""".stripMargin), c)
    }
    assert(bad.getMessage.contains("mine|audit"))
    // empty sides: an all-zero report row, not a centroid-train crash
    val none = all.filter(col("id") < 0)
    val z = graft.ops.BitextMine.marginIvfAudit(none, "id", "e",
      tgt, "id", "e", k = 2, nCells = 2, nProbe = 2).collect().head
    assert(z.toSeq == Seq(0L, 0L, 0L, 0L, 0L))
  }

  // --------------------- rougeL truncation observability (ADVICE)

  test("rougeL: truncated flag surfaces the clamp") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("cand", StringType), StructField("ref", StringType)))
    val d = df(schema,
      Row(1L, "a b c d e f", "a b c x y z"),
      Row(2L, "a b", "a b"))
    val out = graft.ops.TextSim.rougeL(d, Seq("id"), "cand", "ref",
      maxTokens = 3).collect().sortBy(_.getLong(0))
    // row 1 clamps both sides to [a b c] -> perfect LCS, but FLAGGED
    val r1 = out(0)
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 3L &&
      r1.getLong(3) == 3L && r1.getDouble(6) == 1.0)
    assert(r1.getBoolean(7), "row over maxTokens must flag truncated")
    // row 2 is genuinely short: same metrics shape, NOT flagged
    val r2 = out(1)
    assert(r2.getDouble(6) == 1.0 && !r2.getBoolean(7))
    // null text rows survive (empty tokens, no flag)
    val n = graft.ops.TextSim.rougeL(
      df(schema, Row(3L, null, "a")), Seq("id"), "cand", "ref")
      .collect().head
    assert(n.getLong(1) == 0L && n.getDouble(6) == 0.0 && !n.getBoolean(7))
  }

  // -------------- shared gram machinery keeps the family exact (item 6)

  test("ngramF1/bleu/chrF agree with hand counts after the refactor") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("cand", StringType), StructField("ref", StringType)))
    val d = df(schema, Row(1L, "the cat sat", "the cat sat on the mat"))
    // bigrams: cand {the cat, cat sat} both in ref -> P=1, R=2/5
    val f1 = graft.ops.TextSim.ngramF1(d, Seq("id"), "cand", "ref", 2)
      .collect().head
    assert(f1.getLong(f1.fieldIndex("cand_grams")) == 2L)
    assert(f1.getLong(f1.fieldIndex("ref_grams")) == 5L)
    assert(f1.getLong(f1.fieldIndex("overlap")) == 2L)
    assert(f1.getDouble(f1.fieldIndex("precision")) == 1.0)
    assert(f1.getDouble(f1.fieldIndex("recall")) == 0.4)
    // prefix candidate: all clipped precisions 1 -> BLEU = brevity
    // penalty exp(1 - 6/3)
    val b = graft.ops.TextSim.bleu(d, Seq("id"), "cand", "ref", maxN = 3)
      .collect().head
    assert(b.getLong(1) == 3L && b.getLong(2) == 6L)
    assert(math.abs(b.getDouble(3) - math.exp(-1.0)) < 1e-4)
    // chrF on identical strings = 1.0
    val same = df(schema, Row(1L, "abcdef", "abcdef"))
    val ch = graft.ops.TextSim.chrF(same, Seq("id"), "cand", "ref")
      .collect().head
    assert(ch.getDouble(1) == 1.0)
  }

  // ------- t-closeness: the privacy trio's distribution layer

  test("tCloseness: hand-computed TV, NULL classes, worklist arm") {
    val schema = StructType(Seq(StructField("lang", StringType),
      StructField("source", StringType)))
    val d = df(schema,
      Row(null, "a"), Row(null, "a"), Row(null, "b"),
      Row("en", "x"), Row("en", "y"))
    // global: a .4, b .2, x .2, y .2 (N = 5)
    // class NULL (n=3): TV = (|2/3-.4| + |1/3-.2| + .2 + .2)/2 = 0.4
    // class en  (n=2): TV = (|.5-.2|*2 + .4 + .2)/2            = 0.6
    val r = graft.ops.Profile.tCloseness(d, Seq("lang"), "source", 0.5)
      .collect().head
    assert(r.getDouble(r.fieldIndex("t")) == 0.5)
    assert(r.getLong(r.fieldIndex("n_rows")) == 5L)
    assert(r.getLong(r.fieldIndex("n_classes")) == 2L)
    assert(r.getLong(r.fieldIndex("n_rows_above")) == 2L)
    assert(r.getLong(r.fieldIndex("n_classes_above")) == 1L)
    assert(r.getDouble(r.fieldIndex("max_t")) == 0.6)
    assert(r.getDouble(r.fieldIndex("frac_rows_above")) == 0.4)
    // both classes violate at t = 0.3; NULL qi survives into the
    // worklist (the struct-keyed machinery, not a null-dropping join)
    val g = graft.ops.Profile.tClosenessGroups(d, Seq("lang"), "source",
      0.3).collect()
    val expected: Seq[(String, Long, Double)] =
      Seq((null, 3L, 0.4), ("en", 2L, 0.6))
    assert(g.map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
      .toSeq == expected)
    // no qi-partitioned window anywhere in the plan
    val plan = graft.ops.Profile.tCloseness(d, Seq("lang"), "source", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"), plan.take(1200))
  }

  test("tClosenessNumeric: hand-computed ordered EMD over bins") {
    val schema = StructType(Seq(StructField("lang", StringType),
      StructField("v", DoubleType)))
    val d = df(schema,
      Row("a", 0.0), Row("a", 0.0), Row("b", 10.0), Row("b", 0.0),
      Row("a", null)) // null sensitive: excluded from BOTH distributions
    // bins=2 over [0,10]: global q=(.75,.25); class a p=(1,0) -> EMD
    // |1-.75|/(2-1) = .25; class b p=(.5,.5) -> |.5-.75| = .25
    val r = graft.ops.Profile.tClosenessNumeric(d, Seq("lang"), "v",
      t = 0.2, bins = 2).collect().head
    assert(r.getLong(r.fieldIndex("n_rows")) == 4L)
    assert(r.getLong(r.fieldIndex("n_classes")) == 2L)
    assert(r.getLong(r.fieldIndex("n_classes_above")) == 2L)
    assert(r.getDouble(r.fieldIndex("max_t")) == 0.25)
    // at t = 0.3 nothing violates; groups arm agrees
    val r2 = graft.ops.Profile.tClosenessNumeric(d, Seq("lang"), "v",
      t = 0.3, bins = 2).collect().head
    assert(r2.getLong(r2.fieldIndex("n_classes_above")) == 0L)
    val g = graft.ops.Profile.tClosenessNumericGroups(d, Seq("lang"),
      "v", t = 0.2, bins = 2).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).toSet
    assert(g == Set(("a", 2L, 0.25), ("b", 2L, 0.25)))
    // an all-null sensitive column fails LOUD (privacy-gate convention)
    val allNull = df(schema, Row("a", null))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profile.tClosenessNumeric(allNull, Seq("lang"), "v", 0.2)
    }
    assert(e.getMessage.contains("no usable"))
    // a constant column: every class matches the global distribution
    val const = df(schema, Row("a", 5.0), Row("b", 5.0))
    val rc = graft.ops.Profile.tClosenessNumeric(const, Seq("lang"), "v",
      t = 0.2, bins = 4).collect().head
    assert(rc.getLong(rc.fieldIndex("n_classes_above")) == 0L)
    assert(rc.getDouble(rc.fieldIndex("max_t")) == 0.0)
    // review fixes: numeric gets the categorical arm's validations,
    // and BOTH arms fail loud on degenerate input
    val eQi = intercept[IllegalArgumentException] {
      graft.ops.Profile.tClosenessNumeric(d, Seq("v"), "v", 0.2)
    }
    assert(eQi.getMessage.contains("quasi-identifier"))
    val eEmpty = intercept[IllegalArgumentException] {
      graft.ops.Profile.tCloseness(d.filter(lit(false)), Seq("lang"),
        "v", 0.2)
    }
    assert(eEmpty.getMessage.contains("empty input"), eEmpty.getMessage)
    // registry dispatch: method numeric reaches the ordered arm
    val viaReg = graft.api.Registry("t_closeness")(d, graft.api.Conf.fromYaml(
      """type: t_closeness
        |columns: [lang]
        |sensitive_key: v
        |t: 0.2
        |method: numeric
        |bins: 2""".stripMargin), ctx())
    assert(viaReg.collect().head.toSeq == r.toSeq)
    val bad = intercept[IllegalArgumentException] {
      graft.api.Registry("t_closeness")(d, graft.api.Conf.fromYaml(
        """type: t_closeness
          |columns: [lang]
          |sensitive_key: v
          |t: 0.2
          |method: ordinal""".stripMargin), ctx())
    }
    assert(bad.getMessage.contains("categorical|numeric"))
  }

  // ------------------------- WER completes the generation metrics

  test("wer: edit-distance kernel, conventions, truncated flag") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("cand", StringType), StructField("ref", StringType)))
    val d = df(schema,
      Row(1L, "a b c", "a x c"),     // 1 substitution -> 1/3
      Row(2L, "a b", "a b"),         // exact -> 0
      Row(3L, null, "a b"),          // empty cand -> 2 deletions, 1.0
      Row(4L, "a b", null),          // empty ref -> edits/max(0,1) = 2
      Row(5L, "b c d", "a b c d"))   // 1 deletion -> 1/4
    val out = graft.ops.TextSim.wer(d, Seq("id"), "cand", "ref")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(out(1L) == ((1L, 0.333333, false)))
    assert(out(2L) == ((0L, 0.0, false)))
    assert(out(3L) == ((2L, 1.0, false)))
    assert(out(4L) == ((2L, 2.0, false)))
    assert(out(5L) == ((1L, 0.25, false)))
    // clamp observability: both sides truncate to [a b], 0 edits, FLAG
    val t = graft.ops.TextSim.wer(
      df(schema, Row(6L, "a b c d", "a b e")), Seq("id"), "cand", "ref",
      maxTokens = 2).collect().head
    assert(t.getLong(3) == 0L && t.getBoolean(5))
  }

  test("cer: canonical-char kernel and clamp flag") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("cand", StringType), StructField("ref", StringType)))
    val d = df(schema,
      Row(1L, "ab c", "ab cd"),   // canonical prefix -> 1 deletion / 5
      Row(2L, "xb", "ab"),        // 1 substitution / 2
      Row(3L, "AB,  c", "ab c"))  // canonicalization: punct/case fold
    val out = graft.ops.TextSim.cer(d, Seq("id"), "cand", "ref")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == ((4L, 5L, 1L, 0.2)))
    assert(out(2L) == ((2L, 2L, 1L, 0.5)))
    assert(out(3L) == ((4L, 4L, 0L, 0.0)))
    val t = graft.ops.TextSim.cer(
      df(schema, Row(4L, "abcd", "abcd")), Seq("id"), "cand", "ref",
      maxChars = 3).collect().head
    assert(t.getLong(1) == 3L && t.getLong(3) == 0L && t.getBoolean(5))
    // the shared scaffolding must NOT have widened the word metrics'
    // bound: 20k tokens stays the rougeL/wer ceiling, with the
    // parameter NAME in the message (cer's char ceiling is wider)
    for (f <- Seq(
        () => graft.ops.TextSim.rougeL(d, Seq("id"), "cand", "ref", 50000),
        () => graft.ops.TextSim.wer(d, Seq("id"), "cand", "ref", 50000))) {
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("maxTokens must be in [1, 20000]"))
    }
    assert(graft.ops.TextSim.cer(d, Seq("id"), "cand", "ref", 50000)
      .collect().length == 3)
  }

  // --------------- byte-BPE golden merge-order traces (item 8)

  test("byte-BPE encode replays the published GPT-2 merge-list head") {
    // The first eight merges of the released GPT-2 merges.txt (rank
    // order as published; 'Ġ' is byte 0x20 through bytes_to_unicode):
    //   0: Ġ t   1: Ġ a   2: h e   3: i n
    //   4: r e   5: o n   6: Ġt he  7: e r
    // Expected encodings are hand-traced under the published
    // algorithm (repeatedly fuse the LOWEST-RANK adjacent pair):
    //   " the"   [Ġ,t,h,e] -0-> [Ġt,h,e] -2-> [Ġt,he] -6-> [Ġthe]
    //            (the well-known fact that " the" is one GPT-2 token)
    //   "there"  [t,h,e,r,e] -2-> [t,he,r,e] -4-> [t,he,re]
    //            ((e,r) rank 7 never fires: rank 2 consumes the e)
    //   " there" [Ġ,t,h,e,r,e] -0-> -2-> -4-> [Ġt,he,re] -6->
    //            [Ġthe,re]  (rank 6 fuses ACROSS the earlier rank-4
    //            site — merge priority, not position order)
    //   "on a"   pretokens "on" -5-> [on]; " a" -1-> [Ġa]
    val m = (l: String, r: String) => graft.ops.BpeTrain.Merge(l, r, 0L)
    val gpt2Head = Seq(m("Ġ", "t"), m("Ġ", "a"), m("h", "e"),
      m("i", "n"), m("r", "e"), m("o", "n"), m("Ġt", "he"), m("e", "r"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val d = df(schema, Row(1L, " the"), Row(2L, "there"),
      Row(3L, " there"), Row(4L, "on a"))
    val enc = graft.ops.BpeTrain.encodeByteLevelGreedy(d, "text", gpt2Head)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(enc(1L) == Seq("Ġthe"))
    assert(enc(2L) == Seq("t", "he", "re"))
    assert(enc(3L) == Seq("Ġthe", "re"))
    assert(enc(4L) == Seq("on", "Ġa"))
  }

  // ------------------- plan pins for the round-16 shapes (item 4)

  private def tmpParquet(d: DataFrame, name: String): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_$name")
      .resolve("t.parquet").toString
    d.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def joinNodes(plan: String): Int =
    ("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|" +
      "CartesianProduct|BroadcastNestedLoopJoin)").r
      .findAllIn(plan).size

  test("q279 shape: decontamination kernel has no join/shuffle/window") {
    val corpus = tmpParquet(df(embSchema,
      Row(1L, Seq(1.0, 0.0)), Row(2L, Seq(0.0, 1.0))), "deconplan")
    val bench = df(embSchema, Row(10L, Seq(1.0, 0.0)))
    val plan = graft.dedup.Decontaminate.embeddingHits(
      corpus, "id", "e", bench, "id", "e", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan.take(1200))
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(joinNodes(plan) == 0, plan.take(1200))
    assert(!plan.contains("windowspecdefinition"), plan.take(1200))
  }

  test("q283/q284/q193 shape: one narrow projection, no join, no Exchange") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("cand", StringType), StructField("ref", StringType)))
    val d = tmpParquet(df(schema,
      Row(1L, "the cat sat", "the cat sat on the mat")), "gramplan")
    for ((name, out) <- Seq(
        ("chrf", graft.ops.TextSim.chrF(d, Seq("id"), "cand", "ref")),
        ("bleu", graft.ops.TextSim.bleu(d, Seq("id"), "cand", "ref")),
        ("ngram_f1", graft.ops.TextSim.ngramF1(d, Seq("id"), "cand", "ref", 2)))) {
      val plan = out.queryExecution.executedPlan.toString
      // the clipped overlaps are counted inside the row: no join and no
      // shuffle anywhere in the metric family
      assert(joinNodes(plan) == 0, s"$name: ${plan.take(900)}")
      assert(!plan.contains("Exchange"), s"$name: ${plan.take(900)}")
      val exprs = out.queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case e => e })
      assert(!exprs.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.ScalaUDF]), name)
      assert(exprs.exists(_.isInstanceOf[graft.functions.ClippedNgramOverlap]),
        s"$name: ${plan.take(900)}")
    }
  }

  test("q272 shape: IVF hard negatives probe is a cell equi-join") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(FloatType)),
      StructField("label", StringType)))
    val rng = new scala.util.Random(172)
    val all = tmpParquet(df(schema, (0 until 24).map { i =>
      val ctr = Array.fill(4)(if (i % 4 < 2) 1.0 else -1.0)
      Row(i.toLong, ctr.map(c =>
        (c + rng.nextGaussian() * 0.1).toFloat).toSeq,
        if (i % 3 == 0) "a" else "b")
    }: _*), "hnivfplan")
    val plan = graft.ann.Ann.hardNegativesIvf(all, "id", "e", "label",
      all.filter(col("id") < 6), "id", "e", "label",
      k = 2, nCells = 2, nProbe = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q276 shape: tool-pair validate/render is fold-only") {
    val partT = StructType(Seq(StructField("id", StringType),
      StructField("name", StringType),
      StructField("arguments", StringType)))
    val msgT = StructType(Seq(StructField("role", StringType),
      StructField("content", StringType),
      StructField("tool_calls", ArrayType(partT)),
      StructField("tool_call_id", StringType)))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("chosen", ArrayType(msgT)),
      StructField("rejected", ArrayType(msgT))))
    def m(role: String, content: String) = Row(role, content, null, null)
    val d = tmpParquet(df(schema, Row(1L,
      Seq(m("user", "hi"), m("assistant", "a")),
      Seq(m("user", "hi"), m("assistant", "b")))), "toolpairplan")
    val validated = graft.ops.Preference.validatePairsTools(
      d, "chosen", "rejected")
    val rendered = graft.ops.Preference.renderPairTools(
      d, "chosen", "rejected")
    for ((name, out) <- Seq(("validate", validated),
        ("render", rendered))) {
      val plan = out.queryExecution.executedPlan.toString
      // per-row expression folds: no explode, no shuffle, no join
      assert(!plan.contains("Generate"), s"$name: ${plan.take(900)}")
      assert(!plan.contains("Exchange"), s"$name: ${plan.take(900)}")
      assert(joinNodes(plan) == 0, s"$name")
    }
  }
}

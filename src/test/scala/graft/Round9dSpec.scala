package graft

import java.text.Normalizer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => TF, UnicodeNormalize}
import graft.ops.SampleOp

/** Round 9d: unicode normalization, leakage-safe split assignment,
  * hard-negative mining, and the eval-side contamination report. */
class Round9dSpec extends SparkSpec {

  // ------------------------------------------------------------- normalize

  private def normalizeOne(s: String, form: String): String = {
    val out = spark.range(1)
      .select(TF.normalize(lit(s), form).as("t"))
      .head().getString(0)
    out
  }

  test("UnicodeNormalize matches java.text.Normalizer across forms") {
    val samples = Seq(
      "Café",                 // decomposed accent -> composed under NFC
      "Ångström",         // precomposed stays put
      "ﬁne ＡＢ",      // ligature fi + fullwidth AB (NFKC folds)
      "ẛ̣",               // long s with dots, multi-step composition
      "plain ascii stays identical",
      "emoji 💩 survives", // supplementary pair must round-trip
      "")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD"); s <- samples) {
      val expected = Normalizer.normalize(s, Normalizer.Form.valueOf(form))
      assert(normalizeOne(s, form) == expected, s"form=$form s=$s")
    }
  }

  test("UnicodeNormalize nulls pass through and bad form fails fast") {
    val r = spark.range(1)
      .select(TF.normalize(lit(null).cast("string"), "NFC").as("t")).head()
    assert(r.isNullAt(0))
    intercept[IllegalArgumentException] {
      UnicodeNormalize(lit("x"), "NFX")
    }
  }

  test("UnicodeNormalize agrees between codegen and interpreted eval") {
    // Interpreted: direct expression eval. Codegen: through a projection.
    val s = "Café ﬁ ascii"
    val viaDf = normalizeOne(s, "NFKC")
    val interp = UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType),
      "NFKC").eval(null).toString
    assert(viaDf == interp)
  }

  test("cleanText strips control chars, collapses runs, trims") {
    val dirty = "  Cafe\u0301\u0007 has\t\t tabs \u0001and  runs \n kept\n "
    val out = spark.range(1).select(TF.cleanText(lit(dirty)).as("t"))
      .head().getString(0)
    // controls gone, space/tab runs collapsed, edges space-trimmed (the
    // interior and trailing newlines survive: trim strips spaces only)
    assert(out == "Caf\u00e9 has tabs and runs \n kept\n")
  }

  // ----------------------------------------------------------- assignSplit

  private val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  test("assignSplit is a pure function of the group key") {
    val d = spark.range(0, 2000)
      .withColumn("grp", concat(lit("dom"), (col("id") % 37).cast("string")))
    val assigned = SampleOp.assignSplit(d.toDF(), col("grp"), splits, seed = 3)
    // every group maps to exactly one split
    val perGroup = assigned.groupBy("grp")
      .agg(countDistinct(col("split")).as("n")).agg(max("n")).head().getLong(0)
    assert(perGroup == 1L)
    // stable under repartitioning and row order
    val shuffled = SampleOp.assignSplit(
      d.orderBy(rand(99)).repartition(13).toDF(), col("grp"), splits, seed = 3)
    assert(assigned.select("id", "split").exceptAll(
      shuffled.select("id", "split")).count() == 0)
  }

  test("assignSplit fractions are close at many-group granularity") {
    val d = spark.range(0, 20000).withColumn("grp", col("id")) // 1 row/group
    val counts = SampleOp.assignSplit(d.toDF(), col("grp"), splits, seed = 1)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") / 20000.0 - 0.8) < 0.02)
    assert(math.abs(counts("val") / 20000.0 - 0.1) < 0.02)
    assert(math.abs(counts("test") / 20000.0 - 0.1) < 0.02)
  }

  test("assignSplit rejects bad fraction lists") {
    val d = spark.range(3).toDF()
    intercept[IllegalArgumentException] {
      SampleOp.assignSplit(d, col("id"), Seq("a" -> 0.5, "b" -> 0.2))
    }
    intercept[IllegalArgumentException] {
      SampleOp.assignSplit(d, col("id"), Nil)
    }
  }

  // -------------------------------------------------------- hard negatives

  private def embDf = {
    val schema = StructType(Seq(
      StructField("vid", LongType), StructField("emb", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    // two clusters on a 2d plane; labels split WITHIN each cluster so the
    // nearest wrong-label row is a same-cluster neighbor, not the far group
    df(schema,
      Row(1L, Seq(1.0f, 0.0f), 0),
      Row(2L, Seq(0.99f, 0.05f), 0),
      Row(3L, Seq(0.98f, 0.1f), 1),   // near 1&2, different label
      Row(4L, Seq(0.0f, 1.0f), 1),
      Row(5L, Seq(0.05f, 0.99f), 1),
      Row(6L, Seq(0.1f, 0.98f), 0))   // near 4&5, different label
  }

  test("hardNegatives returns nearest different-label rows only") {
    val out = graft.ann.Ann.hardNegatives(
      embDf, "vid", "emb", "label",
      embDf.filter(col("vid") === 1L), "vid", "emb", "label", k = 2)
      .orderBy(org.apache.spark.sql.functions.desc("score"),
        org.apache.spark.sql.functions.asc("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // label(1)=0, so negatives are rows with label 1: nearest is 3, then 4/5
    assert(out.head == (1L, 3L))
    assert(out.size == 2)
    val labels = embDf.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out.forall { case (_, nid) => labels(nid) != labels(1L) })
  }

  test("hardNegatives never returns the query row itself") {
    val out = graft.ann.Ann.hardNegatives(
      embDf, "vid", "emb", "label", embDf, "vid", "emb", "label", k = 3)
      .collect()
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  // -------------------------------------------------- contamination report

  test("benchmarkHits reports per-item gram totals, hits, and fraction") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val corpus = df(schema,
      Row(1L, "alpha beta gamma delta epsilon"),
      Row(2L, "one two three four"))
    val bench = df(schema,
      Row(10L, "alpha beta gamma delta"),    // fully contained 3-grams
      Row(11L, "zeta eta theta iota kappa")) // zero overlap
    val out = graft.dedup.Decontaminate.benchmarkHits(
      corpus, "text", bench.withColumnRenamed("id", "bench_id"),
      "bench_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // "alpha beta gamma delta" has 2 distinct 3-grams, both in corpus doc 1
    assert(out(10L) == ((2L, 2L, 1.0)))
    // zero-hit item still present with hit_frac 0
    assert(out(11L) == ((3L, 0L, 0.0)))
  }

  test("benchmarkHits counts distinct grams once despite repetition") {
    val schema = StructType(Seq(
      StructField("bench_id", LongType), StructField("text", StringType)))
    val corpus = df(StructType(Seq(StructField("id", LongType),
      StructField("text", StringType))),
      Row(1L, "a b c a b c a b c")) // repeated corpus grams collapse
    val bench = df(schema, Row(7L, "a b c a b c"))
    val out = graft.dedup.Decontaminate.benchmarkHits(
      corpus, "text", bench, "bench_id", "text", n = 3)
      .collect()
    assert(out.length == 1)
    val r = out.head
    // distinct 3-grams of bench: "a b c", "b c a", "c a b" -> all 3 hit
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getDouble(3) == 1.0)
  }

  // ------------------------------------------------------------ Frame glue

  test("Frame chains the round9d entries") {
    import graft.api.{Frame, Graft}
    val docs = Graft.fromDF(docsDf)
    val cleaned = docs.normalizeText("text")
      .assignSplit("lang", splits, randomState = 2)
    assert(cleaned.toDF.columns.contains("split"))
    assert(cleaned.count() == 6)
    val bench = Graft.fromDF(docsDf.select(col("doc_id").as("bench_id"),
      col("text")).filter(col("bench_id") === 1L))
    val report = docs.contaminationReport(bench, "text", "bench_id", "text", n = 3)
    assert(report.count() == 1)
  }

  test("LazyFrame wires the round9d ops through YAML end to end") {
    import graft.api.{LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("r9d").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    docsDf.select(col("doc_id").as("bench_id"), col("text"))
      .filter(col("bench_id") === 1L)
      .write.mode("overwrite").parquet(s"$dir/bench.parquet")
    val docs = LazyFrame.read("docs", s"$dir/docs.parquet")
    val bench = LazyFrame.read("bench", s"$dir/bench.parquet")

    val lf = docs.normalizeText("text")
      .assignSplit("lang", splits, randomState = 2)
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    val out = Pipeline.runYaml(lf.toYaml, spark)
    assert(out.count() == 6 && out.columns.contains("split"))

    val rep = docs.contaminationReport(bench, "text", "bench_id", n = 3)
    assert(LazyFrame.fromYaml(rep.toYaml).toYaml == rep.toYaml)
    assert(Pipeline.runYaml(rep.toYaml, spark).count() == 1)

    val embDir = java.nio.file.Files.createTempDirectory("r9de").toString
    embDf.write.mode("overwrite").parquet(s"$embDir/emb.parquet")
    val q = LazyFrame.read("q", s"$embDir/emb.parquet")
    val hn = q.hardNegatives(LazyFrame.read("c", s"$embDir/emb.parquet"),
      "vid", "emb", "label", k = 2)
    assert(LazyFrame.fromYaml(hn.toYaml).toYaml == hn.toYaml)
    val hnOut = Pipeline.runYaml(hn.toYaml, spark)
    assert(hnOut.count() == 12 && hnOut.columns.sorted.toSeq ==
      Seq("neighbor_id", "query_id", "score"))
  }

  // ------------------------------------------- keepBest survivor selection

  test("keepBest ranks only the duplicated subset and anti-joins losers") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("q", LongType)))
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = df(schema,
      Row(1L, base + " one", 10L),
      Row(2L, base + " two", 20L),
      Row(3L, base + " three", 99L),
      Row(4L, "unrelated words about other things entirely and at length", 5L),
      Row(5L, "another fully distinct document with its own vocabulary", 7L))
    val kept = graft.dedup.MinHashDedup.keepBest(d, "id", "text",
      qualityExpr = "q", jaccardThreshold = 0.5)
    // semantics: cluster {1,2,3} keeps quality-argmax 3; singletons survive
    assert(kept.select("id").collect().map(_.getLong(0)).toSet == Set(3L, 4L, 5L))
    // plan shape: survivors come from a LEFT ANTI join against the loser
    // set, and the rank window partitions by component — never by a
    // whole-table coalesce(component, id) key
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("coalesce(component"), plan.take(2000))
  }
}

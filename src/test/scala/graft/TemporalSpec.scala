package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{BudgetSelect, TemporalOps}

class TemporalSpec extends SparkSpec {

  private val evSchema = StructType(Seq(
    StructField("id", LongType), StructField("k", StringType),
    StructField("t", LongType), StructField("v", DoubleType)))

  // ------------------------------------------------------------- asof join

  test("asofJoin picks the latest right row at-or-before each left ts") {
    val left = df(evSchema,
      Row(1L, "a", 100L, 0.0), Row(2L, "a", 205L, 0.0),
      Row(3L, "b", 50L, 0.0), Row(4L, "b", 400L, 0.0))
    val right = df(evSchema,
      Row(10L, "a", 90L, 1.5), Row(11L, "a", 200L, 2.5),
      Row(12L, "b", 60L, 3.5), Row(13L, "c", 10L, 9.9))
    val out = TemporalOps.asofJoin(left, right, "k", "k", "t", "t",
      rightPayload = Seq("t", "v"))
      .select("id", "t_asof", "v_asof")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(out === Set(
      (1L, 90L, 1.5),   // 90 <= 100 < 200
      (2L, 200L, 2.5),  // latest at-or-before 205
      (3L, -1L, -1.0),  // b has no right row at-or-before 50? 60 > 50 -> null
      (4L, 60L, 3.5)))
  }

  test("asofJoin is inclusive at equal timestamps and keeps every left row") {
    val left = df(evSchema, Row(1L, "a", 100L, 0.0))
    val right = df(evSchema, Row(10L, "a", 100L, 7.0))
    val out = TemporalOps.asofJoin(left, right, "k", "k", "t", "t",
      rightPayload = Seq("v")).collect()
    assert(out.length === 1 && out(0).getDouble(out(0).length - 1) === 7.0)
  }

  test("asofJoin tie at same right ts resolves to the largest payload struct") {
    val left = df(evSchema, Row(1L, "a", 100L, 0.0))
    val right = df(evSchema,
      Row(10L, "a", 90L, 1.0), Row(11L, "a", 90L, 5.0), Row(12L, "a", 90L, 3.0))
    val out = TemporalOps.asofJoin(left, right, "k", "k", "t", "t",
      rightPayload = Seq("v")).collect()
    assert(out(0).getDouble(out(0).length - 1) === 5.0)
  }

  test("asofJoin tolerance nulls out matches older than the window") {
    val left = df(evSchema, Row(1L, "a", 1000L, 0.0), Row(2L, "a", 1050L, 0.0))
    val right = df(evSchema, Row(10L, "a", 900L, 4.0))
    val out = TemporalOps.asofJoin(left, right, "k", "k", "t", "t",
      rightPayload = Seq("v"), tolerance = Some(120L))
      .select("id", "v_asof").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toSet
    // id 1: gap 100 <= 120 -> match; id 2: gap 150 > 120 -> null.
    assert(out === Set((1L, 4.0), (2L, -1.0)))
  }

  test("asofJoin state resets between keys sharing a sort partition") {
    // Single shuffle partition forces every key through one task — a carried
    // lastRight leaking across the key boundary would surface here.
    val left = df(evSchema, Row(1L, "z", 500L, 0.0))
    val right = df(evSchema, Row(10L, "a", 100L, 1.0))
    val out = TemporalOps.asofJoin(
      left.coalesce(1), right.coalesce(1), "k", "k", "t", "t",
      rightPayload = Seq("v")).collect()
    assert(out.length === 1 && out(0).isNullAt(out(0).length - 1))
  }

  test("asofJoin plan has no nested-loop or cartesian join") {
    val left = df(evSchema, Row(1L, "a", 100L, 0.0))
    val right = df(evSchema, Row(10L, "a", 90L, 1.0))
    val plan = TemporalOps.asofJoin(left, right, "k", "k", "t", "t",
      rightPayload = Seq("v")).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  // ---------------------------------------------------------- window join

  test("windowJoin finds exactly the pairs within ±window, each once") {
    val left = df(evSchema,
      Row(1L, "a", 1000L, 0.0), Row(2L, "a", 5000L, 0.0))
    val right = df(evSchema,
      Row(10L, "a", 900L, 1.0),   // |1000-900|=100 <= 150 -> pairs with 1
      Row(11L, "a", 1150L, 2.0),  // 150 <= 150 -> pairs with 1 (boundary)
      Row(12L, "a", 1200L, 3.0),  // 200 > 150 -> no pair
      Row(13L, "a", 4990L, 4.0),  // pairs with 2
      Row(14L, "b", 1000L, 5.0))  // wrong key
    val out = TemporalOps.windowJoin(left, right, "k", "k", "t", "t",
      window = 150L, rightPayload = Seq("v"))
      .select("id", "v_near").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out === Set((1L, 1.0), (1L, 2.0), (2L, 4.0)))
  }

  test("windowJoin pairs crossing a bucket boundary are found exactly once") {
    // window=100: left t=199 (bucket 1), right t=201 (bucket 2): the pair
    // spans adjacent buckets; the ±1 explode must find it once, not twice.
    val left = df(evSchema, Row(1L, "a", 199L, 0.0))
    val right = df(evSchema, Row(10L, "a", 201L, 8.0))
    val rows = TemporalOps.windowJoin(left, right, "k", "k", "t", "t",
      window = 100L, rightPayload = Seq("v")).collect()
    assert(rows.length === 1)
  }

  test("windowJoin plan is an equi-join — no nested-loop or cartesian") {
    val left = df(evSchema, Row(1L, "a", 100L, 0.0))
    val right = df(evSchema, Row(10L, "a", 90L, 1.0))
    val plan = TemporalOps.windowJoin(left, right, "k", "k", "t", "t",
      window = 100L, rightPayload = Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  // --------------------------------------------------------- budget select

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("score", LongType),
    StructField("tok", LongType)))

  test("budgetSelect keeps the maximal affordable score-ordered prefix") {
    val d = df(docSchema,
      Row(1L, 50L, 10L), Row(2L, 90L, 10L), Row(3L, 70L, 10L),
      Row(4L, 60L, 10L), Row(5L, 80L, 25L))
    // Order: 2(10) -> 5(35) -> 3(45) -> 4(55 > 50 stops) — prefix {2,5,3}.
    val kept = BudgetSelect(d, "score", "tok", budget = 50L, tieBreak = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 5L, 3L))
  }

  test("budgetSelect drops the overflowing row AND everything after it") {
    // 2(10) -> 5(35) -> 3 overflows (45+25=60)... construct: row 3 costs 30:
    // 10+25=35, +30=65 > 50 stops; row 4 (cost 1) would fit alone but is
    // AFTER the stop — prefix semantics exclude it.
    val d = df(docSchema,
      Row(2L, 90L, 10L), Row(5L, 80L, 25L), Row(3L, 70L, 30L), Row(4L, 60L, 1L))
    val kept = BudgetSelect(d, "score", "tok", budget = 50L, tieBreak = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 5L))
  }

  test("budgetSelect: zero budget keeps nothing; ample budget keeps all") {
    val d = df(docSchema, Row(1L, 1L, 5L), Row(2L, 2L, 5L))
    assert(BudgetSelect(d, "score", "tok", 0L, "doc_id").count() === 0L)
    assert(BudgetSelect(d, "score", "tok", 1000L, "doc_id").count() === 2L)
  }

  test("budgetSelect ties broken by tieBreak ascending") {
    val d = df(docSchema,
      Row(3L, 10L, 5L), Row(1L, 10L, 5L), Row(2L, 10L, 5L))
    val kept = BudgetSelect(d, "score", "tok", budget = 10L, tieBreak = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
  }

  test("budgetSelect rejects negative costs loudly") {
    val d = df(docSchema, Row(1L, 1L, -5L))
    val e = intercept[IllegalArgumentException] {
      BudgetSelect(d, "score", "tok", 10L, "doc_id").count()
    }
    assert(e.getMessage.contains("negative"))
  }

  // --------------------------------------------------- grouped budgetSelect

  private val grpSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("grp", StringType),
    StructField("score", LongType), StructField("tok", LongType)))

  test("grouped budgetSelect applies each group's own budget independently") {
    val d = df(grpSchema,
      Row(1L, "a", 90L, 10L), Row(2L, "a", 80L, 10L), Row(3L, "a", 70L, 10L),
      Row(4L, "b", 95L, 20L), Row(5L, "b", 85L, 20L),
      Row(6L, "c", 99L, 1L))
    // a budget 25: 1(10) -> 2(20) -> 3 overflows; b budget 20: 4 only;
    // c absent from budgets -> defaultBudget 0 -> dropped.
    val kept = BudgetSelect.grouped(d, "grp", "score", "tok",
      Map[Any, Long]("a" -> 25L, "b" -> 20L), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L))
  }

  test("grouped budgetSelect agrees with a per-group window replay") {
    val rng = new scala.util.Random(3)
    val rows = (1L to 400L).map(i =>
      Row(i, s"g${rng.nextInt(5)}", rng.nextInt(100).toLong,
        (rng.nextInt(9) + 1).toLong))
    val d = df(grpSchema, rows: _*).repartition(7)
    val budgets = Map[Any, Long](
      "g0" -> 60L, "g1" -> 0L, "g2" -> 37L, "g3" -> 10000L, "g4" -> 1L)
    val got = BudgetSelect.grouped(d, "grp", "score", "tok", budgets, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // Reference: cumulative sum over (score desc, doc_id asc) within group.
    val expected = rows.groupBy(_.getString(1)).flatMap { case (g, rs) =>
      var cum = 0L
      rs.sortBy(r => (-r.getLong(2), r.getLong(0))).takeWhile { r =>
        cum += r.getLong(3); cum <= budgets(g)
      }.map(_.getLong(0))
    }.toSet
    assert(got === expected)
  }

  test("grouped budgetSelect: uniform budget caps every group the same") {
    val d = df(grpSchema,
      Row(1L, "a", 9L, 5L), Row(2L, "a", 8L, 5L), Row(3L, "a", 7L, 5L),
      Row(4L, "b", 9L, 5L), Row(5L, "b", 8L, 5L))
    val kept = BudgetSelect.groupedUniform(d, "grp", "score", "tok",
      budgetPerGroup = 10L, tieBreak = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L, 5L))
  }

  test("groupedFractions converts mixture weights into per-group budgets") {
    val d = df(grpSchema,
      Row(1L, "a", 90L, 10L), Row(2L, "a", 80L, 10L), Row(3L, "a", 70L, 10L),
      Row(4L, "b", 95L, 10L), Row(5L, "b", 85L, 10L))
    // total 40: a -> floor(0.6*40)=24 (two docs), b -> floor(0.25*40)=10
    // (one doc); unlisted groups get nothing.
    val kept = BudgetSelect.groupedFractions(d, "grp", "score", "tok",
      totalBudget = 40L, Map[Any, Double]("a" -> 0.6, "b" -> 0.25), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L))
  }

  test("grouped budgetSelect rejects negative costs and budgets loudly") {
    val d = df(grpSchema, Row(1L, "a", 1L, -5L))
    val e = intercept[IllegalArgumentException] {
      BudgetSelect.grouped(d, "grp", "score", "tok",
        Map[Any, Long]("a" -> 10L), "doc_id").count()
    }
    assert(e.getMessage.contains("negative"))
    val e2 = intercept[IllegalArgumentException] {
      BudgetSelect.grouped(d, "grp", "score", "tok",
        Map[Any, Long]("a" -> -1L), "doc_id")
    }
    assert(e2.getMessage.contains("non-negative"))
  }

  // ------------------------------------------------------------ sessionize

  test("sessionize numbers gap-separated sessions per key") {
    val d = df(evSchema,
      Row(1L, "a", 100L, 0.0), Row(2L, "a", 150L, 0.0), // session 1
      Row(3L, "a", 400L, 0.0),                          // gap 250 > 100 -> 2
      Row(4L, "b", 100L, 0.0))                          // own key -> 1
    val out = TemporalOps.sessionize(d, "k", "t", gap = 100L, tieBreak = "id")
      .select("id", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 1L), (2L, 1L), (3L, 2L), (4L, 1L)))
  }

  test("sessionize boundary: a gap exactly equal to the threshold continues") {
    val d = df(evSchema, Row(1L, "a", 100L, 0.0), Row(2L, "a", 200L, 0.0))
    val ids = TemporalOps.sessionize(d, "k", "t", gap = 100L, tieBreak = "id")
      .select("session_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L)) // delta 100 is NOT > 100
  }

  test("sessions aggregates start/end/count/duration per session") {
    val d = df(evSchema,
      Row(1L, "a", 100L, 0.0), Row(2L, "a", 150L, 0.0), Row(3L, "a", 400L, 0.0))
    val out = TemporalOps.sessions(d, "k", "t", gap = 100L, tieBreak = "id")
      .orderBy("session_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq((1L, 100L, 150L, 2L, 50L), (2L, 400L, 400L, 1L, 0L)))
  }

  test("sessionize rejects non-positive gaps and output collisions") {
    val d = df(evSchema, Row(1L, "a", 100L, 0.0))
    intercept[IllegalArgumentException] {
      TemporalOps.sessionize(d, "k", "t", gap = 0L, tieBreak = "id")
    }
    intercept[IllegalArgumentException] {
      TemporalOps.sessionize(d, "k", "t", gap = 10L, tieBreak = "id",
        outCol = "v")
    }
  }

  // ---------------------------------------------------- API surface wiring

  test("Frame chains asofJoin, windowJoin, and budgetSelect") {
    val l = graft.api.Graft.fromDF(df(evSchema,
      Row(1L, "a", 100L, 0.0), Row(2L, "a", 300L, 0.0)))
    val r = graft.api.Graft.fromDF(df(evSchema, Row(10L, "a", 90L, 1.5)))
    assert(l.asofJoin(r, "k", "k", "t", "t", Seq("v")).count() === 2)
    // |100-90| = 10 <= 50 pairs; |300-90| = 210 does not.
    assert(l.windowJoin(r, "k", "k", "t", "t", 50L, Seq("v")).count() === 1)
    val kept = graft.api.Graft.fromDF(docsDf)
      .budgetSelect("length(text)", "size(split(text, ' '))",
        budget = 15L, tieBreak = "doc_id")
    assert(kept.count() > 0 && kept.count() < docsDf.count())
    val keptGrouped = graft.api.Graft.fromDF(docsDf)
      .budgetSelectGrouped("lang", "doc_id", "size(split(text, ' '))",
        Map("en" -> 23L, "de" -> 5L), "doc_id")
    assert(keptGrouped.count() === 3) // en: 6,5,4 fit 23; de's doc costs 6 > 5
  }

  test("LazyFrame temporal builders round-trip through YAML and run") {
    import graft.api.{LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("lftemporal").toString
    val lPath = s"$dir/left.parquet"
    val rPath = s"$dir/right.parquet"
    df(evSchema, Row(1L, "a", 100L, 0.0), Row(2L, "a", 300L, 0.0))
      .write.mode("overwrite").parquet(lPath)
    df(evSchema, Row(10L, "a", 90L, 1.5), Row(11L, "a", 250L, 2.5))
      .write.mode("overwrite").parquet(rPath)
    def roundTrips(lf: LazyFrame): Long = {
      val reparsed = LazyFrame.fromYaml(lf.toYaml)
      assert(reparsed.toYaml == lf.toYaml)
      val direct = lf.run(spark).count()
      assert(Pipeline.runYaml(lf.toYaml, spark).count() == direct)
      direct
    }
    assert(roundTrips(LazyFrame.read("l", lPath)
      .asofJoin(LazyFrame.read("r", rPath), "k", "k", "t", "t", Seq("v"),
        tolerance = Some(60L))) == 2)
    assert(roundTrips(LazyFrame.read("l", lPath)
      .windowJoin(LazyFrame.read("r", rPath), "k", "k", "t", "t", 60L,
        Seq("v"))) == 2)
    val docsPath = s"$dir/docs.parquet"
    docsDf.write.mode("overwrite").parquet(docsPath)
    assert(roundTrips(LazyFrame.read("docs", docsPath)
      .budgetSelect("length(text)", "size(split(text, ' '))", 15L,
        "doc_id")) > 0)
    assert(roundTrips(LazyFrame.read("l", lPath)
      .sessionize("k", "t", gap = 150L, tieBreak = "id")) == 2)
    assert(roundTrips(LazyFrame.read("l", lPath)
      .sessionize("k", "t", gap = 150L, tieBreak = "id",
        aggregate = true)) == 2)
  }

  test("the events-sessions example pipeline runs end to end") {
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/events_sessions_pipeline.yaml")))
    val out = graft.api.Pipeline.runYaml(yaml, spark)
    assert(out.count() > 0)
    // purchases enriched with both the as-of view value and nearby clicks
    assert(out.columns.contains("value_view") &&
      out.columns.contains("value_click"))
  }

  test("budgetSelect matches the window-cumsum oracle on a sf0.001 table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = BudgetSelect(docs, "n_chars", "size(split(text, ' '))",
      budget = 1200L, tieBreak = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val oracle = docs
      .withColumn("cum", sum(expr("size(split(text, ' '))").cast("long")).over(w))
      .filter(col("cum") <= 1200L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === oracle && kept.nonEmpty && kept.size < docs.count())
  }
}

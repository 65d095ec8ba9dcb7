package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.MockLlmClient
import graft.ops._

class RankSpec extends SparkSpec {
  private val client = MockLlmClient()

  test("byEmbedding assigns dense 1-based _rank by similarity") {
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(DoubleType)))),
      Row(1L, Seq(1.0, 0.0)), Row(2L, Seq(0.0, 1.0)), Row(3L, Seq(0.7, 0.3)))
    val out = RankOp.byEmbedding(d, "e", Array(1.0, 0.0), tieBreak = Seq("id"))
    val m = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("_rank")).toMap
    assert(m == Map(1L -> 1L, 3L -> 2L, 2L -> 3L))
  }
  test("byLikert ranks by mock rating desc") {
    val out = RankOp.byLikert(docsDf, "rk", "{{ input.text }}", client,
      tieBreak = Seq("doc_id"))
    assert(out.select("_rank").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 6L).toSeq)
  }
  test("refineTopSlice preserves the row set and rank range") {
    val ranked = RankOp.byLikert(docsDf, "rk", "{{ input.text }}", client,
      tieBreak = Seq("doc_id"))
    val refined = RankOp.refineTopSlice(ranked, "text", client,
      sliceSize = 4, windowSize = 2, callBudget = 6)
    assert(refined.count() == 6)
    assert(refined.select("_rank").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 6L).toSeq)
  }
  test("refineTopSlice spends its callBudget on distinct prompts, not cache hits") {
    // slice 6, window 3, step 1: four windows rate 12 times over 6 rows;
    // a budget of 6 distinct prompts walks all four, reaching the front
    val rows = (0 until 6).map(i => Row(i.toLong, s"row $i", Seq(1.0, i * 0.1)))
    val d = df(StructType(Seq(StructField("id", LongType), StructField("text", StringType),
      StructField("e", ArrayType(DoubleType)))), rows: _*)
    val ranked = RankOp.byEmbedding(d, "e", Array(1.0, 0.0), tieBreak = Seq("id"))
    graft.llm.LlmCache.clear()
    val before = client.callCount
    val refined = RankOp.refineTopSlice(ranked, "text", client,
      sliceSize = 6, windowSize = 3, callBudget = 6)
    assert(client.callCount - before == 6)
    assert(refined.count() == 6)
  }
  test("bySlidingWindow matches a driver-side simulation of the window walk") {
    // 8 rows on a line: initial embedding order = id order (cosine to
    // [1,0] decreasing). Render "x"*(id%5) -> mock rating 1+(id%5)%7.
    val rows = (0 until 8).map { i =>
      Row(i.toLong, Seq(1.0, i * 0.1))
    }
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(DoubleType)))), rows: _*)
    val out = RankOp.bySlidingWindow(d, "sw", "e", Array(1.0, 0.0),
      "repeat('x', cast(id % 5 as int))", client,
      k = 4, windowSize = 4, tieBreak = Seq("id"))
      .orderBy("_rank").select("id").collect().map(_.getLong(0)).toSeq
    // Simulate: initial order ids 0..7; windows of 4, step 2, stable sort
    // by rating desc; stop after the first window with start >= k=4.
    def rating(id: Long) = 1 + (id % 5) % 7
    var items = (0L to 7L).toVector
    var start = 0
    var done = false
    while (!done) {
      val w = items.slice(start, math.min(start + 4, items.length))
      items = items.patch(start, w.sortBy(id => -rating(id)), w.length)
      if (start >= 4 || start + 4 >= items.length) done = true else start += 2
    }
    assert(out == items)
    assert(out.toSet == (0L to 7L).toSet)
  }
}

class ExtractSpec extends SparkSpec {
  private val client = MockLlmClient()

  test("regex extraction appends joined matches") {
    val out = ExtractOp.regex(docsDf, "ex", "text", "sp[a-z]+")
    val r = out.filter(col("doc_id") === 1).select("text_extracted_ex")
      .collect()(0).getString(0)
    assert(r == "spark")
    val none = out.filter(col("doc_id") === 3).select("text_extracted_ex")
      .collect()(0).getString(0)
    assert(none == "")
  }
  test("regex extraction can keep a list") {
    val out = ExtractOp.regex(docsDf, "ex", "text", "fast", formatExtraction = false)
    val r = out.filter(col("doc_id") === 1).select("text_extracted_ex")
      .collect()(0).getSeq[String](0)
    assert(r == Seq("fast", "fast"))
  }
  test("line-number extraction resolves mock ranges to text") {
    val d = df(StructType(Seq(StructField("id", LongType), StructField("t", StringType))),
      Row(1L, "x" * 200))
    val out = ExtractOp.lineNumber(d, "ln", "t", "find it", client)
    assert(out.select("t_extracted_ln").collect()(0).getString(0) == "x" * 160)
  }
}

class ClusterSpec extends SparkSpec {
  private val client = MockLlmClient()

  test("cluster annotates every row with a summary path") {
    val rng = new scala.util.Random(3)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      Row(i.toLong, Array.fill(4)((base + rng.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(FloatType)))), rows: _*)
    // render length varies by id so the two clusters' mock summaries differ
    val out = ClusterOp(d, "e", "repeat('x', cast(id as int))", numClusters = 2, client)
    assert(out.count() == 40)
    assert(out.filter(size(col("clusters")) === 1).count() == 40)
    // the two planted clusters get distinct summaries
    assert(out.select(element_at(col("clusters"), 1)).distinct().count() == 2)
  }
}

class HierarchicalClusterSpec extends SparkSpec {
  private val client = graft.llm.MockLlmClient()

  test("hierarchical clustering annotates root-to-leaf summary paths") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 40).map { i =>
      // four planted clusters at the corners of a square
      val (cx, cy) = (i % 4) match {
        case 0 => (1.0, 1.0); case 1 => (1.0, -1.0)
        case 2 => (-1.0, 1.0); case _ => (-1.0, -1.0)
      }
      Row(i.toLong, Seq((cx + rng.nextGaussian() * 0.05).toFloat,
        (cy + rng.nextGaussian() * 0.05).toFloat))
    }
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("e", ArrayType(FloatType)))), rows: _*)
    val out = ClusterOp.hierarchical(d, "e", "repeat('x', cast(id as int))",
      depth = 2, client)
    assert(out.count() == 40)
    // depth 2 -> path of 3 summaries (root, level-1 node, leaf)
    assert(out.filter(size(col("clusters")) === 3).count() == 40)
    // 4 planted clusters -> 4 distinct leaf summaries
    assert(out.select(element_at(col("clusters"), 3)).distinct().count() == 4)
    // all rows share the root summary
    assert(out.select(element_at(col("clusters"), 1)).distinct().count() == 1)

    // collapse: level-2 corner splits are about as wide as the level-1
    // split, so ratio 0.9 collapses the intermediate node for at least one
    // branch (which branches depends on the k=2 split shape); paths shrink
    // to 2 entries (root + leaf) there and never below
    val collapsed = ClusterOp.hierarchical(d, "e", "repeat('x', cast(id as int))",
      depth = 2, client, collapse = Some(0.9))
    assert(collapsed.filter(size(col("clusters")) === 2).count() > 0)
    assert(collapsed.filter(size(col("clusters")) < 2 || size(col("clusters")) > 3).count() == 0)
    // ...while an unreachable ratio keeps the full hierarchy everywhere
    val kept = ClusterOp.hierarchical(d, "e", "repeat('x', cast(id as int))",
      depth = 2, client, collapse = Some(5.0))
    assert(kept.filter(size(col("clusters")) === 3).count() == 40)
  }
}

class LimitComparisonsSpec extends SparkSpec {
  private val client = graft.llm.MockLlmClient()

  test("limit_comparisons caps the verified pair set deterministically") {
    val l = df(StructType(Seq(StructField("id", LongType), StructField("k", StringType))),
      (1L to 5L).map(i => Row(i, "x")): _*)
    val r = df(StructType(Seq(StructField("rid", LongType), StructField("k2", StringType))),
      (1L to 5L).map(i => Row(i, "x")): _*)
    val out = EquijoinOp(l, r, EquijoinOp.Config(
      name = "lc", condition = "k = k2",
      compareExprLeft = "k", compareExprRight = "k2", llmVerify = true,
      leftIdKey = "id", rightIdKey = "rid", limitComparisons = Some(7)), client)
    assert(out.count() == 7) // 25 candidates capped to 7, all match (k == k2)
    // equal render lengths -> group by the right side; 5 groups, base quota
    // 7/5 = 1, the 2 smallest group keys (rid 1, 2) get +1; within a group
    // ties rank by the other side's id.
    val got = out.select("id", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set((1L,1L),(2L,1L),(1L,2L),(2L,2L),(1L,3L),(1L,4L),(1L,5L)))
  }

  test("limit_comparisons stratifies by the longer side with per-group quotas") {
    // All renders trim to "xxxxxxxxxx" (so the mock verify matches every
    // pair) but differ in raw length via trailing spaces: left avg 20 >
    // right avg ~12.5 -> pairs group by LEFT id (reference:
    // use_left_as_key = left_length > right_length).
    val l = df(StructType(Seq(StructField("id", LongType), StructField("k", StringType))),
      (1L to 3L).map(i => Row(i, "x" * 10 + " " * 10)): _*)
    val r = df(StructType(Seq(StructField("rid", LongType), StructField("k2", StringType))),
      (1L to 4L).map(i => Row(i, "x" * 10 + " " * i.toInt)): _*)
    val out = EquijoinOp(l, r, EquijoinOp.Config(
      name = "lc2", condition = "length(k) >= 0", // cross: 12 candidate pairs
      compareExprLeft = "k", compareExprRight = "k2", llmVerify = true,
      leftIdKey = "id", rightIdKey = "rid", limitComparisons = Some(7)), client)
      .select("id", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
    // 3 groups (left ids), base 7/3 = 2, remainder 1 -> group id=1 gets 3;
    // within a group the LONGEST right renders win: rid 4, then 3 (then 2).
    val byGroup = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byGroup(1L) == Set(4L, 3L, 2L))
    assert(byGroup(2L) == Set(4L, 3L))
    assert(byGroup(3L) == Set(4L, 3L))
  }
}

class MultimodalSpec extends SparkSpec {
  import graft.multimodal.BinaryOps

  test("image meta stub derives deterministic typed metadata") {
    val d = docsDf.withColumn("payload", col("text").cast("binary"))
    val out = BinaryOps.withImageMeta(d, "payload")
    val r = out.filter(col("doc_id") === 1).select("image_meta.*").collect()(0)
    val len = "the fast spark join is good and fast".length
    assert(r.getInt(0) == 128 + len % 1024)
    assert(r.getString(3) == (if (len % 2 == 0) "png" else "jpeg"))
  }
  test("null payload yields empty meta, not a crash") {
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("payload", BinaryType))), Row(1L, null))
    val r = BinaryOps.withImageMeta(d, "payload").select("image_meta.format")
      .collect()(0).getString(0)
    assert(r == "empty")
  }
  test("sampleFrames fans out n frames per row") {
    val d = docsDf.withColumn("payload", col("text").cast("binary"))
    val out = BinaryOps.sampleFrames(d, "payload", 4)
    assert(out.count() == docsDf.count() * 4)
    assert(out.groupBy("doc_id").count().collect().forall(_.getLong(1) == 4))
  }
}

class QueriesContractSpec extends SparkSpec {
  test("every oracle name exists in queries") {
    val qn = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qn))
  }
  test("query names are unique") {
    val names = Queries.all.map(_._1)
    assert(names.distinct.size == names.size)
  }
  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

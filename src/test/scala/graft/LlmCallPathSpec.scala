package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.llm.{LlmCache, MockLlmClient}
import graft.ops._

/** Source guard for the one LLM call path: an op or source reaches the
  * provider only through `graft.llm.Cached`, which owns the response-cache
  * keys and charges the op's meter. A file under `graft/ops` or
  * `graft/sources` that calls a client method directly, or touches
  * `LlmCache`, forks that path (uncached, uncharged, or charged twice) and
  * fails this spec. */
class LlmCallPathSpec extends SparkSpec {

  private val roots = Seq("src/main/scala/graft/ops", "src/main/scala/graft/sources")

  private val clientCall =
    raw"([A-Za-z0-9_]*)\s*\.\s*(complete|completeBatch|compare|embed|logprobConfidence)\s*\(".r

  /** Receivers whose same-named methods are not LLM calls. */
  private val notClients = Set("Cached", "Long", "Integer", "Double", "Float", "Short", "Byte",
    "Character", "Boolean")

  /** Comments blanked, so prose may name the cache. */
  private def uncommented(src: String): String =
    src.replaceAll(raw"(?s)/\*.*?\*/", " ").replaceAll("//[^\n]*", " ")

  private def violations(src: String): Seq[String] =
    clientCall.findAllMatchIn(src).filterNot(m => notClients(m.group(1))).map(_.matched).toSeq ++
      raw"\bLlmCache\b".r.findAllMatchIn(src).map(_.matched)

  test("the guard flags direct client calls and cache access, not Cached or comparators") {
    assert(violations("client.complete(model, p, schema)").nonEmpty)
    assert(violations("oracle.compare(m, p)").nonEmpty)
    assert(violations("MockLlmClient().embed(m, ts)").nonEmpty)
    assert(violations("clientB.completeBatch(m, ps, s)").nonEmpty)
    assert(violations("proxy.logprobConfidence(m, p)").nonEmpty)
    assert(violations("graft.llm.LlmCache.get(k)").nonEmpty)
    assert(violations("Cached.complete(client, meter, m, p, s)").isEmpty)
    assert(violations("java.lang.Long.compare(a, b)").isEmpty)
    assert(violations(uncommented("// client.complete(model, p, schema) and LlmCache")).isEmpty)
  }

  test("ops and sources reach the provider only through graft.llm.Cached") {
    val files = roots.flatMap { r =>
      val s = Files.walk(Paths.get(r))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.size > 50, s"scanned only ${files.size} files")
    val found = files.flatMap(f =>
      violations(uncommented(new String(Files.readAllBytes(f), "UTF-8"))).map(v => s"$f: $v"))
    assert(found.isEmpty, found.mkString("direct LLM access:\n", "\n", ""))
  }
}

/** Re-running an op over a warm response cache reaches the provider for
  * nothing and charges nothing. */
class WarmCacheSpec extends SparkSpec {
  private val client = MockLlmClient()

  private lazy val vectors: DataFrame = {
    val rng = new scala.util.Random(5)
    val rows = (0 until 24).map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      Row(i.toLong, s"doc $i about ${if (i % 2 == 0) "fast" else "slow"} joins",
        i % 2L, Seq(base + rng.nextGaussian() * 0.05, 0.1 + rng.nextGaussian() * 0.05))
    }
    df(StructType(Seq(StructField("id", LongType), StructField("text", StringType),
      StructField("grp", LongType), StructField("e", ArrayType(DoubleType)))), rows: _*)
  }

  /** Ops with driver-side provider calls (anchors, labels, summaries). */
  private val driverSide: Seq[(String, () => DataFrame)] = Seq(
    "map calibrate anchors" -> (() => SemanticMap(docsDf, SemanticMapConfig(
      name = "warm_cal", prompt = "{{ input.text }}", outputSchema = Seq("sentiment" -> "str"),
      calibrate = true, calibrateSampleSize = 2), client)),
    "rank calibrated anchors" -> (() => RankOp.byCalibratedEmbedding(
      vectors, "warm_rank", "e", "text", client, sampleSize = 4, tieBreak = Seq("id"))),
    "rank top-slice windows" -> (() => RankOp.refineTopSlice(
      RankOp.byEmbedding(vectors, "e", Array(1.0, 0.0), tieBreak = Seq("id")), "text", client,
      sliceSize = 6, windowSize = 3, callBudget = 12)),
    "cluster summaries" -> (() => ClusterOp(vectors, "e", "text", 2, client)),
    "hierarchical cluster summaries" -> (() => ClusterOp.hierarchical(
      vectors, "e", "text", depth = 2, client)),
    "cascade oracle labels" -> (() => CascadeFilter(docsDf, CascadeFilter.Config(
      name = "warm_cascade", prompt = "{{ input.text }}", decisionKey = "keep",
      calibrationSize = 4), client, client)),
    "blocking cosine calibration" -> (() => ResolveOp.withEmbeddingBlocking(
      vectors, ResolveOp.Config(name = "warm_resolve", idKey = "id", blockExpr = "0",
        compareExpr = "cast(grp as string)", resolveKeys = Seq("text")),
      "e", dim = 2, client, sampleSize = 8)),
    "equijoin cosine calibration" -> (() => EquijoinOp.withAutoEmbeddingBlocking(
      vectors.withColumnRenamed("id", "lid"),
      vectors.select(col("id").as("rid"), col("grp").as("grp2"), col("e").as("re")),
      EquijoinOp.Config(name = "warm_join", condition = "grp = grp2",
        compareExprLeft = "cast(grp as string)", compareExprRight = "cast(grp2 as string)"),
      "e", "re", dim = 2, client, sampleSize = 8)._1))

  for ((label, run) <- driverSide)
    test(s"$label: a warm re-run adds no provider call") {
      LlmCache.clear()
      val before = client.callCount
      run().collect()
      val cold = client.callCount - before
      assert(cold > 0, "the cold run made no provider call")
      val warm = client.callCount
      run().collect()
      assert(client.callCount - warm == 0, s"warm re-run made ${client.callCount - warm} calls")
    }

  /** Ops whose executor-side calls were cached but charged on every hit. */
  private val charged: Seq[(String, String, () => DataFrame)] = Seq(
    ("agent map", "warm_agent", () => AgentMap(docsDf,
      AgentMap.Config("warm_agent", "{{ input.text }}", Seq("sentiment" -> "str")),
      AgentMap.builtinTools, client)),
    ("associative reduce", "warm_assoc", () => AssociativeSemanticReduce(docsDf,
      AssociativeSemanticReduce.Config(name = "warm_assoc", reduceKeys = Seq("lang"),
        memberExpr = "text", outputSchema = Seq("acc" -> "str"), foldBatchSize = 2), client)))

  for ((label, name, run) <- charged)
    test(s"$label: a warm re-run charges no calls and no cost") {
      LlmCache.clear()
      val names = Set(s"graft.llm.calls.$name", s"graft.llm.cost.$name")
      val cold = accumulated(names)(run().collect())
      assert(cold(s"graft.llm.calls.$name") > 0 && cold(s"graft.llm.cost.$name") > 0)
      val warm = accumulated(names)(run().collect())
      assert(warm == names.map(_ -> 0.0).toMap)
    }
}

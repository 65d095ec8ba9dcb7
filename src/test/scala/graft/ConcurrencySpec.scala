package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api.{Conf, Pipeline}
import graft.llm.{Concurrency, LlmCache, LlmClient, LlmResponse, MockLlmClient}
import graft.ops._

/** Blocks every call until interrupted; a prompt containing "boom" fails
  * once two other calls are blocked. Counters are per JVM (local mode). */
final case class BlockingClient() extends LlmClient {
  override def complete(model: String, prompt: String, schema: StructType): LlmResponse = {
    if (prompt.contains("boom")) {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (BlockingClient.running.get() < 2 && System.nanoTime() < deadline) Thread.sleep(5)
      throw new IllegalStateException("boom")
    }
    BlockingClient.started.incrementAndGet()
    BlockingClient.running.incrementAndGet()
    try {
      Thread.sleep(120000)
      throw new IllegalStateException("never interrupted")
    } finally BlockingClient.running.decrementAndGet()
  }
  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] = Nil
}
object BlockingClient {
  val running, started = new AtomicInteger()
}

/** Calls in flight across the windows of one spec (per JVM). */
object WindowProbe {
  val inflight, peak = new AtomicInteger()
  def reset(): Unit = { inflight.set(0); peak.set(0) }
  /** `body`, counted in flight for at least `ms` milliseconds. */
  def held[T](ms: Long)(body: => T): T = {
    peak.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try { Thread.sleep(ms); body } finally inflight.decrementAndGet()
  }
}

/** MockLlmClient's answers, each call held for 5 ms in [[WindowProbe]]. */
final case class InflightProbeClient() extends LlmClient {
  private val mock = MockLlmClient()
  override def complete(model: String, prompt: String, schema: StructType): LlmResponse =
    WindowProbe.held(5)(mock.complete(model, prompt, schema))
  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
    mock.embed(model, texts)
}

/** The single-flight response cache. */
class LlmCacheSingleFlightSpec extends SparkSpec {

  private def askConcurrently(n: Int, compute: => LlmResponse): Seq[Either[Throwable, LlmResponse]] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futs = (1 to n).map(_ => pool.submit(() => LlmCache.getOrCompute("single-flight|k", compute)))
      futs.map(f =>
        try Right(f.get(30, TimeUnit.SECONDS))
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
    } finally pool.shutdownNow()
  }

  test("concurrent misses of one key make one provider call; waiters count as hits") {
    LlmCache.clear(); LlmCache.resetHits()
    val calls = new AtomicInteger()
    val release = new CountDownLatch(1)
    val n = 8
    val releaser = new Thread(() => {
      // let every caller reach the cache before the leader answers
      while (calls.get() == 0) Thread.sleep(1)
      Thread.sleep(300)
      release.countDown()
    })
    releaser.start()
    val out = askConcurrently(n, {
      calls.incrementAndGet()
      release.await()
      LlmResponse(Map("v" -> 1L), 0.5)
    })
    releaser.join()
    assert(calls.get() == 1)
    assert(out.forall(_.exists(_.values == Map("v" -> 1L))))
    assert(LlmCache.hits == n - 1)
  }

  test("a failed leader leaves each waiter to compute for itself") {
    LlmCache.clear()
    val calls = new AtomicInteger()
    val release = new CountDownLatch(1)
    val n = 6
    val releaser = new Thread(() => {
      while (calls.get() == 0) Thread.sleep(1)
      Thread.sleep(300)
      release.countDown()
    })
    releaser.start()
    val out = askConcurrently(n, {
      if (calls.incrementAndGet() == 1) {
        release.await()
        throw new IllegalStateException("leader down")
      }
      LlmResponse(Map("v" -> 2L), 0.0)
    })
    releaser.join()
    assert(out.count(_.isLeft) == 1)
    assert(out.collect { case Left(e) => e.getMessage } == Seq("leader down"))
    assert(out.count(_.exists(_.values == Map("v" -> 2L))) == n - 1)
    assert(calls.get() == n)
  }
}

/** The default in-flight window of the LLM operators. */
class ConcurrencyDefaultSpec extends SparkSpec {

  test("calls and cost accumulators count every call made from the window's threads") {
    val client = MockLlmClient(costPerCall = 1e-4)
    val rows = spark.range(0, 4000, 1, 4).selectExpr("id", "concat('acct row ', id) as text")
    val before = client.callCount
    val acc = accumulated(Set("graft.llm.calls.acct", "graft.llm.cost.acct")) {
      SemanticMap(rows, SemanticMapConfig(
        name = "acct", prompt = "{{ input.text }}", outputSchema = Seq("sentiment" -> "str"),
        bypassCache = true), client).write.format("noop").mode("overwrite").save()
    }
    val calls = client.callCount - before
    assert(calls == 4000)
    assert(acc("graft.llm.calls.acct") == calls.toDouble)
    assert(math.abs(acc("graft.llm.cost.acct") - calls * 1e-4) < 1e-9,
      s"cost ${acc("graft.llm.cost.acct")} for $calls calls")
  }

  for ((label, client) <- Seq(
      "" -> BlockingClient(),
      " through RetryingClient" -> graft.llm.RetryingClient(BlockingClient(), timeoutMs = 60000)))
    test(s"a failing row cancels the window$label: no call is still running after the task fails") {
      BlockingClient.running.set(0); BlockingClient.started.set(0)
      val rows = spark.range(0, 8, 1, 1)
        .selectExpr("id", "if(id = 0, 'boom', concat('wait ', id)) as text")
      val e = intercept[SparkException] {
        SemanticMap(rows, SemanticMapConfig(
          name = "cancel", prompt = "{{ input.text }}", outputSchema = Seq("sentiment" -> "str"),
          bypassCache = true), client).collect()
      }
      assert(e.getMessage.contains("boom"))
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (BlockingClient.running.get() > 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(BlockingClient.started.get() >= 2, "the window never had calls in flight")
      assert(BlockingClient.running.get() == 0,
        s"${BlockingClient.running.get()} calls still running after the task failed")
    }

  test("the pool holds 4 x cores threads and caps a task's window") {
    assert(Concurrency.poolSize == 4 * Runtime.getRuntime.availableProcessors)
    val inflight, peak = new AtomicInteger()
    val n = 4 * Concurrency.poolSize
    val out = Concurrency.mapOrdered((1 to n).iterator, 10 * Concurrency.poolSize) { i =>
      peak.accumulateAndGet(inflight.incrementAndGet(), math.max)
      Thread.sleep(5)
      inflight.decrementAndGet()
      i
    }.toList
    assert(out == (1 to n).toList)
    assert(peak.get() <= Concurrency.poolSize && peak.get() > 1)
  }

  test("default windows of a lone task fill the pool past 4 calls per CPU") {
    assume(Concurrency.poolSize > Concurrency.CallsPerCpu)
    val depth = 6
    WindowProbe.reset()
    val out = spark.sparkContext.parallelize(0L until 200L, 1).mapPartitions { it =>
      (1 to depth).foldLeft(it) { (up, _) =>
        Concurrency.mapOrdered(up, None)(v => WindowProbe.held(5)(v + 1))
      }
    }.collect().toSeq
    assert(out == (0L until 200L).map(_ + depth))
    assert(WindowProbe.peak.get() > Concurrency.CallsPerCpu)
    assert(WindowProbe.peak.get() <= Concurrency.poolSize)
  }

  test("default windows of concurrent tasks together keep at most the pool in flight") {
    WindowProbe.reset()
    val out = spark.sparkContext.parallelize(0L until 400L, 2).mapPartitions { it =>
      Concurrency.mapOrdered(it, None)(v => WindowProbe.held(5)(v * 2))
    }.collect().toSeq
    assert(out == (0L until 400L).map(_ * 2))
    assert(WindowProbe.peak.get() > 1)
    assert(WindowProbe.peak.get() <= Concurrency.poolSize)
  }

  test("a default window opened inside a call runs inline instead of starving the pool") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // every pool thread holds an outer call before any inner window opens:
    // inner calls queued behind them would never run
    val n = Concurrency.poolSize + 4
    val allIn = new CountDownLatch(Concurrency.poolSize)
    val run = Future {
      Concurrency.mapOrdered((1 to n).iterator, None) { i =>
        allIn.countDown()
        allIn.await(10, TimeUnit.SECONDS)
        Concurrency.mapOrdered((1 to 3).iterator, None)(j => 10 * i + j).sum
      }.toList
    }(ExecutionContext.global)
    assert(Await.result(run, 30.seconds) == (1 to n).map(i => 30 * i + 6))
  }

  private lazy val docsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("conc-parity").toString
    val words = Seq("fast", "slow", "plain")
    val rows = (0 until 400).map { i =>
      Row(i.toLong, s"note ${i % 150} on ${words(i % 3)} query engines${"!" * (i % 5)}",
        if (i % 4 == 0) "de" else "en", s"s${i % 3}")
    }
    df(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType))), rows: _*)
      .repartition(3).write.parquet(s"$dir/docs.parquet")
    s"$dir/docs.parquet"
  }

  private def counted(run: => Seq[Row]): (Seq[Row], Long) = {
    LlmCache.clear(); MockLlmClient.resetCalls()
    val rows = run
    (rows, MockLlmClient().callCount)
  }

  test("map -> filter -> reduce YAML: the default window matches concurrency 1") {
    def run(knob: String) = counted {
      val yaml =
        s"""datasets:
           |  docs: { path: "$docsPath" }
           |operations:
           |  - name: sentiment
           |    type: map
           |    prompt: "Label the sentiment of this note: {{ input.text }}"
           |    output: { schema: { sentiment: str } }
           |    $knob
           |  - name: on_topic
           |    type: filter
           |    prompt: "Does this note discuss query engines? {{ input.text }}"
           |    output: { schema: { on_topic: bool } }
           |    $knob
           |  - name: digest
           |    type: reduce
           |    reduce_key: [lang, source]
           |    member_expr: "concat(sentiment, ': ', text)"
           |    order_key: doc_id
           |    output: { schema: { summary: str } }
           |pipeline:
           |  steps:
           |    - { name: notes, input: docs, operations: [sentiment, on_topic, digest] }
           |""".stripMargin
      Pipeline.run(Conf.fromYaml(yaml), spark, MockLlmClient())
        .orderBy("lang", "source").collect().toSeq
    }
    val (serial, serialCalls) = run("concurrency: 1")
    val (windowed, windowedCalls) = run("")
    assert(serial.size == 6)
    assert(windowed == serial)
    assert(windowedCalls == serialCalls)
  }

  test("gleaning, validate and skip_on_error: the default window matches concurrency 1, in order") {
    val docs = spark.read.parquet(docsPath)
    def run(concurrency: Option[Int]) = counted {
      SemanticMap(docs, SemanticMapConfig(
        name = "glean_validate", prompt = "{{ input.text }}",
        outputSchema = Seq("sentiment" -> "str"),
        gleaning = Some(GleaningConfig("good enough?", numRounds = 1)),
        validate = Some(v => v("sentiment") != "neutral"), numRetriesOnValidateFailure = 1,
        skipOnError = true, concurrency = concurrency), MockLlmClient()).collect().toSeq
    }
    val (serial, serialCalls) = run(Some(1))
    val (windowed, windowedCalls) = run(None)
    assert(serial.nonEmpty && serial.size < 400) // neutral rows were skipped
    assert(windowed == serial)
    assert(windowedCalls == serialCalls)
  }

  test("a limited filter pays for no rows past its limit") {
    // the mock keeps a row when its prompt length is even: every fifth
    // row (4 chars) is kept, the others (5 chars) dropped; all prompts
    // are distinct, so the cache cannot hide calls past the limit
    val rows = spark.range(0, 200, 1, 1).selectExpr("id",
      "if(id % 5 = 4, format_string('k%03d', id), format_string('n%04d', id)) as text")
    def run(concurrency: Option[Int]) = counted {
      SemanticFilter(rows, SemanticMapConfig(
        name = "limited", prompt = "{{ input.text }}", outputSchema = Seq("keep" -> "bool"),
        limit = Some(2), concurrency = concurrency), MockLlmClient()).collect().toSeq
    }
    val (serial, serialCalls) = run(Some(1))
    val (default, defaultCalls) = run(None)
    assert(serial.map(_.getLong(0)) == Seq(4L, 9L))
    assert(default == serial)
    assert(serialCalls == 10) // rows 0..9
    assert(defaultCalls == serialCalls)
  }

  test("windowed collect-list reduce matches the sequential streaming fold") {
    val docs = spark.read.parquet(docsPath)
    def run(cfg: SemanticReduce.Config) = counted {
      SemanticReduce(docs, cfg, MockLlmClient()).orderBy("lang", "source").collect().toSeq
    }
    val base = SemanticReduce.Config(
      name = "digest", reduceKeys = Seq("lang", "source"), memberExpr = "text",
      orderKey = "doc_id", outputSchema = Seq("summary" -> "str"), passThrough = Seq("doc_id"))
    // one fold chunk per group sends the batch strategy's prompt, one group
    // at a time
    val (sequential, sequentialCalls) = run(base.copy(strategy = "fold", foldBatchSize = 1000))
    val (windowed, windowedCalls) = run(base)
    assert(sequential.size == 6)
    assert(windowed == sequential)
    assert(windowedCalls == sequentialCalls)
  }
}

/** Pairwise LLM verdicts (resolve, equijoin verify) keep calls in flight
  * within a partition, with the serial path's results and call count. */
class PairwiseWindowSpec extends SparkSpec {

  private val bases = Seq("acme", "globex", "initech", "umbrella", "hooli")
  private val styles = Seq[String => String](identity, _.toUpperCase, " " + _, _ + " ")

  private def counted[T](run: => T): (T, Long) = {
    LlmCache.clear(); MockLlmClient.resetCalls(); WindowProbe.reset()
    val out = run
    (out, MockLlmClient().callCount)
  }

  test("resolve verdicts on a one-partition input: calls in flight, same clusters and calls") {
    // two buckets (id % 2) of ten rows: 90 candidate pairs with distinct
    // renders; the mock matches renders equal after trim + lowercase, so
    // each bucket holds five clusters of two
    val rows = (0 until 20).map(i => Row(i.toLong, styles((i / 10) * 2 + i % 2)(bases((i / 2) % 5))))
    val d = df(StructType(Seq(StructField("id", LongType), StructField("name", StringType))), rows: _*)
      .coalesce(1)
    val (out, calls) = counted {
      ResolveOp(d, ResolveOp.Config(
        name = "pairwise_window", idKey = "id", blockExpr = "id % 2", compareExpr = "name",
        resolveKeys = Seq("name")), InflightProbeClient())
        .select("id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    // a cluster's canonical value is its smallest member (the mock's rule)
    val expected = rows.map { r =>
      val (id, name) = (r.getLong(0), r.getString(1))
      id -> rows.filter(o => o.getLong(0) % 2 == id % 2 &&
        o.getString(1).trim.toLowerCase == name.trim.toLowerCase).map(_.getString(1)).min
    }.toMap
    assert(out == expected)
    assert(expected.values.toSet.size == 10)
    assert(calls == 90 + 10) // every pair once, one canonicalization per cluster
    assert(WindowProbe.peak.get() > 1, "pairwise verdicts ran one at a time")
  }

  test("equijoin LLM verify on one-partition sides: calls in flight, same rows and calls") {
    val side = (0 until 8).map(i => Row(i.toLong, styles(i % 4)(bases(i % 5))))
    val schema = StructType(Seq(StructField("id", LongType), StructField("k", StringType)))
    val l = df(schema, side: _*).coalesce(1)
    val r = df(schema, side: _*).toDF("rid", "k2").coalesce(1)
    val (out, calls) = counted {
      EquijoinOp(l, r, EquijoinOp.Config(
        name = "pairwise_window_join", condition = "length(k) >= 0", // cross: 64 candidate pairs
        compareExprLeft = "k", compareExprRight = "k2", llmVerify = true), InflightProbeClient())
        .select("id", "rid").collect().map(x => x.getLong(0) -> x.getLong(1)).toSet
    }
    val expected = (for {
      a <- side; b <- side
      if a.getString(1).trim.toLowerCase == b.getString(1).trim.toLowerCase
    } yield a.getLong(0) -> b.getLong(0)).toSet
    assert(out == expected)
    assert(expected.size > side.size) // some rows match more than themselves
    assert(calls == 64) // one call per pair: the eight renders are distinct
    assert(WindowProbe.peak.get() > 1, "verify calls ran one at a time")
  }
}

package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.llm._
import graft.ops.{GleaningConfig, SemanticMap, SemanticMapConfig}

/** A local OpenAI-shaped fake provider: routes on the request's `model`
  * field to exercise retries, timeouts, fallback chains, batch mode, and
  * in-flight concurrency — the full production client stack with zero
  * network egress. */
object FakeLlmServer {
  final class State {
    val requests = new AtomicInteger(0)
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val failuresRemaining = new AtomicInteger(0)
    @volatile var latencyMs: Long = 0
    @volatile var lastBody: String = ""
    /** Every /chat/completions request body, for output-mode audits. */
    val chatBodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  }

  def withServer[A](f: (String, State) => A): A = {
    val state = new State
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(32))
    server.createContext("/v1/", (ex: HttpExchange) => handle(ex, state))
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/v1", state)
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def chatReply(content: String): String =
    s"""{"choices":[{"message":{"content":"${jsonEscape(content)}"},
       |"logprobs":{"content":[{"logprob":-0.5}]}}],
       |"usage":{"prompt_tokens":10,"completion_tokens":5}}""".stripMargin.replace("\n", "")

  private def toolReply(args: String): String =
    s"""{"choices":[{"message":{"tool_calls":[{"type":"function",
       |"function":{"name":"send_output","arguments":"${jsonEscape(args)}"}}]}}],
       |"usage":{"prompt_tokens":10,"completion_tokens":5}}""".stripMargin.replace("\n", "")

  private def handle(ex: HttpExchange, st: State): Unit = {
    val n = st.inFlight.incrementAndGet()
    st.maxInFlight.accumulateAndGet(n, math.max)
    st.requests.incrementAndGet()
    try {
      if (st.latencyMs > 0) Thread.sleep(st.latencyMs)
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      st.lastBody = body
      val path = ex.getRequestURI.getPath
      if (path.endsWith("/chat/completions")) st.chatBodies.add(body)
      val model = """"model"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
      if (model == "always-500") respond(ex, 500, """{"error":"boom"}""")
      else if (model == "tooly")
        respond(ex, 200, toolReply("""{"label":"via-tool","score":3,"urgency":"low"}"""))
      else if (model == "bad-enum")
        respond(ex, 200, chatReply("""{"urgency":"catastrophic"}"""))
      else if (model == "flaky" && st.failuresRemaining.getAndDecrement() > 0)
        respond(ex, 503, """{"error":"overloaded"}""")
      else if (path.endsWith("/embeddings")) {
        val nInputs = """"input"\s*:\s*\[""".r.findFirstIn(body)
          .map(_ => body.count(_ == '[')).getOrElse(1)
        // One vector per input string; serve them index-reversed to prove
        // the client orders by the `index` field, not array position.
        val inputs = """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(
          body.substring(body.indexOf("[") + 1, body.lastIndexOf("]"))).map(_.group(1)).toSeq
        val data = inputs.indices.reverse.map(i =>
          s"""{"index":$i,"embedding":[${i + 1}.0,0.5]}""").mkString(",")
        respond(ex, 200,
          s"""{"data":[$data],"usage":{"prompt_tokens":${2 * inputs.size},"total_tokens":${2 * inputs.size}}}""")
      } else if (body.contains("\"results\"") || body.contains("numbered items")) {
        val items = """### Item \d+""".r.findAllIn(body).size
        val results = (1 to items).map(i => s"""{"label":"item$i"}""").mkString(",")
        respond(ex, 200, chatReply(s"""{"results":[$results]}"""))
      } else if (body.contains("Answer with a single word")) {
        respond(ex, 200, chatReply("yes"))
      } else if (body.contains("should_refine")) {
        // gleaning judge schema (quotes around the field name are
        // backslash-escaped inside the JSON-encoded system message, so
        // match the bare name) -> one round, no refinement
        respond(ex, 200, chatReply("""{"should_refine":false,"improvements":""}"""))
      } else if (body.contains("keep")) {
        // cascade filter decision schema
        respond(ex, 200, chatReply("""{"keep":true}"""))
      } else {
        respond(ex, 200, chatReply(s"""{"label":"ok-$model","score":7}"""))
      }
    } catch {
      case _: InterruptedException => ()
    } finally st.inFlight.decrementAndGet()
  }
}

class HttpLlmSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("label", StringType), StructField("score", LongType)))
  private val labelOnly = StructType(Seq(StructField("label", StringType)))

  test("complete parses structured output, usage, and cost") {
    FakeLlmServer.withServer { (url, _) =>
      val client = HttpLlmClient(url, pricePerMTokIn = 1.0, pricePerMTokOut = 2.0)
      val r = client.complete("good", "classify this", schema)
      assert(r.values("label") == "ok-good")
      assert(r.values("score") == 7L)
      assert(r.inputTokens == 10 && r.outputTokens == 5)
      assert(math.abs(r.cost - (10 * 1.0 + 5 * 2.0) / 1e6) < 1e-12)
    }
  }

  test("tools mode sends send_output tool spec and parses tool_calls arguments") {
    FakeLlmServer.withServer { (url, st) =>
      val client = HttpLlmClient(url) // default outputMode = "tools"
      val enumSchema = graft.core.SchemaTypes.toStruct(
        Seq("label" -> "str", "score" -> "int", "urgency" -> "enum[low, high]"))
      val r = client.complete("tooly", "classify", enumSchema)
      assert(r.values("label") == "via-tool" && r.values("score") == 3L)
      val b = st.lastBody
      assert(b.contains(""""tools""""))
      assert(b.contains(""""name":"send_output""""))
      assert(b.contains(""""tool_choice""""))
      assert(b.contains(""""parameters""""))
      assert(b.contains(""""enum":["low","high"]"""))
      assert(b.contains(""""required":["label","score","urgency"]"""))
      assert(!b.contains("response_format"))
    }
  }

  test("structured_output mode keeps json_object response_format, no tools") {
    FakeLlmServer.withServer { (url, st) =>
      val client = HttpLlmClient(url).withOutputMode("structured_output")
      val r = client.complete("good", "classify", schema)
      assert(r.values("label") == "ok-good")
      assert(st.lastBody.contains(""""response_format""""))
      assert(!st.lastBody.contains(""""tools""""))
    }
  }

  test("tools mode falls back to message content when no tool call returned") {
    FakeLlmServer.withServer { (url, _) =>
      // "good" replies with plain content; the tools-mode client must still
      // parse it (reference tools -> structured-output fallback order).
      val r = HttpLlmClient(url).complete("good", "classify", schema)
      assert(r.values("label") == "ok-good")
    }
  }

  test("out-of-enum value throws so the retry/validation loop can catch it") {
    FakeLlmServer.withServer { (url, _) =>
      val enumSchema = graft.core.SchemaTypes.toStruct(Seq("urgency" -> "enum[low, high]"))
      val e = intercept[LlmHttpException] {
        HttpLlmClient(url).complete("bad-enum", "how urgent?", enumSchema)
      }
      assert(e.getMessage.contains("not in enum"))
    }
  }

  test("per-op output.mode rewraps through decorator stacks") {
    FakeLlmServer.withServer { (url, st) =>
      val stack = RetryingClient(FallbackClient(HttpLlmClient(url), Map.empty))
        .withOutputMode("structured_output")
      stack.complete("good", "x", schema)
      assert(st.lastBody.contains(""""response_format""""))
      assert(!st.lastBody.contains(""""tools""""))
    }
  }

  test("non-2xx throws a retryable LlmHttpException") {
    FakeLlmServer.withServer { (url, _) =>
      val e = intercept[LlmHttpException] {
        HttpLlmClient(url).complete("always-500", "x", schema)
      }
      assert(e.status == 500 && e.retryable)
    }
  }

  test("RetryingClient recovers from transient 503s") {
    FakeLlmServer.withServer { (url, st) =>
      st.failuresRemaining.set(2)
      val client = RetryingClient(HttpLlmClient(url), timeoutMs = 5000, maxRetries = 2, backoffMs = 1)
      val r = client.complete("flaky", "x", schema)
      assert(r.values("label") == "ok-flaky")
      assert(st.requests.get() == 3) // 2 failures + 1 success
    }
  }

  test("RetryingClient times out a hung provider call") {
    FakeLlmServer.withServer { (url, st) =>
      st.latencyMs = 2000
      val client = RetryingClient(HttpLlmClient(url), timeoutMs = 150, maxRetries = 1, backoffMs = 1)
      intercept[java.util.concurrent.TimeoutException] {
        client.complete("good", "x", schema)
      }
    }
  }

  test("FallbackClient falls through a failing model chain") {
    FakeLlmServer.withServer { (url, st) =>
      val client = FallbackClient(HttpLlmClient(url), Map("always-500" -> Seq("backup")))
      val r = client.complete("always-500", "x", schema)
      assert(r.values("label") == "ok-backup")
      assert(st.requests.get() == 2)
    }
  }

  test("completeBatch: one round-trip, per-item results in order") {
    FakeLlmServer.withServer { (url, st) =>
      val client = HttpLlmClient(url)
      val rs = client.completeBatch("good", Seq("a", "b", "c"), labelOnly)
      assert(rs.map(_.values("label")) == Seq("item1", "item2", "item3"))
      assert(st.requests.get() == 1)
      assert(rs.head.cost >= 0 && rs.tail.forall(_.cost == 0.0))
    }
  }

  test("embed orders vectors by provider index field") {
    FakeLlmServer.withServer { (url, _) =>
      val vs = HttpLlmClient(url).embed("emb", Seq("x", "y", "z"))
      assert(vs.map(_.head.toDouble) == Seq(1.0, 2.0, 3.0))
    }
  }

  test("embed records its usage in TokenTally") {
    FakeLlmServer.withServer { (url, _) =>
      TokenTally.reset()
      HttpLlmClient(url, pricePerMTokIn = 1.0).embed("emb-usage", Seq("x", "y", "z"))
      val t = TokenTally.summary("emb-usage")
      assert(t.calls == 1 && t.inputTokens == 6 && t.outputTokens == 0)
      assert(math.abs(t.cost - 6 * 1.0 / 1e6) < 1e-12)
    }
  }

  test("logprobConfidence records its usage in TokenTally") {
    FakeLlmServer.withServer { (url, _) =>
      TokenTally.reset()
      HttpLlmClient(url, pricePerMTokIn = 1.0, pricePerMTokOut = 2.0)
        .logprobConfidence("lp-usage", "is this relevant?")
      val t = TokenTally.summary("lp-usage")
      assert(t.calls == 1 && t.inputTokens == 10 && t.outputTokens == 5)
      assert(math.abs(t.cost - (10 * 1.0 + 5 * 2.0) / 1e6) < 1e-12)
    }
  }

  test("logprobConfidence = exp(first token logprob)") {
    FakeLlmServer.withServer { (url, _) =>
      val c = HttpLlmClient(url).logprobConfidence("good", "is this relevant?")
      assert(math.abs(c - math.exp(-0.5)) < 1e-9)
    }
  }

  test("Concurrency.mapOrdered keeps >=4 calls in flight and preserves order") {
    FakeLlmServer.withServer { (url, st) =>
      st.latencyMs = 120
      val client = HttpLlmClient(url)
      val out = Concurrency.mapOrdered((1 to 16).iterator, parallelism = 8) { i =>
        client.complete("good", s"item $i", labelOnly)
        i
      }.toList
      assert(out == (1 to 16).toList)
      assert(st.maxInFlight.get() >= 4, s"maxInFlight=${st.maxInFlight.get()}")
    }
  }

  test("Concurrency.mapOrdered propagates failures on the failing element's turn") {
    val out = Concurrency.mapOrdered((1 to 6).iterator, parallelism = 3) { i =>
      if (i == 4) throw new IllegalStateException("boom")
      i * 10
    }
    assert(out.next() == 10 && out.next() == 20 && out.next() == 30)
    intercept[IllegalStateException](out.next())
  }

  test("output mode survives Retrying/Fallback/RateLimited rewrap under gleaning + cascade") {
    // Each decorator hand-rolls its withOutputMode rewrap — the likeliest
    // silent-drop site. Drive ONE flow through the FULL stack (retry on a
    // transient 503, fallback off a dead model, rate-limit permits) with a
    // gleaning judge AND a cascade filter on top, and audit EVERY request
    // the provider saw. "tools" is the client default, so the
    // structured_output leg is the one that proves the rewrap: a dropped
    // mode silently reverts to tools there.
    def run(mode: String): Seq[String] = FakeLlmServer.withServer { (url, st) =>
      val spark = TestSpark.spark
      LlmCache.clear()
      st.failuresRemaining.set(1) // first "flaky" request 503s -> retry leg
      val stack = RetryingClient(
        FallbackClient(
          RateLimitedClient(HttpLlmClient(url), key = s"e2e-$mode", permitsPerMinute = 1e9),
          Map("always-500" -> Seq("good"))), // fallback leg
        timeoutMs = 5000, maxRetries = 2, backoffMs = 1).withOutputMode(mode)
      val data = spark.createDataFrame(
        java.util.Arrays.asList((1 to 6).map(i => Row(i.toLong, s"doc $i")): _*),
        StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      val mapped = SemanticMap(data,
        SemanticMapConfig("e2e_map", "label {{ input.text }}",
          Seq("label" -> "str", "score" -> "int"), model = "flaky",
          gleaning = Some(GleaningConfig("good enough?", numRounds = 1))), stack)
      val filtered = graft.ops.CascadeFilter(mapped, graft.ops.CascadeFilter.Config(
        "e2e_filter", "retain {{ input.text }}?", decisionKey = "keep",
        proxyModel = "always-500", oracleModel = "good", calibrationSize = 4),
        stack, stack)
      assert(filtered.count() == 6) // decisions are keep:true throughout
      import scala.jdk.CollectionConverters._
      st.chatBodies.iterator().asScala.toSeq
    }
    def structured(bodies: Seq[String]) = // logprob probes carry no output mode
      bodies.filterNot(_.contains("Answer with a single word"))
    val toolBodies = structured(run("tools"))
    // map + judge per row, decision calls, calibration: well past row count
    assert(toolBodies.size >= 15, s"only ${toolBodies.size} structured calls")
    assert(toolBodies.forall(b => b.contains("\"send_output\"") && !b.contains("response_format")))
    val soBodies = structured(run("structured_output"))
    assert(soBodies.size >= 15, s"only ${soBodies.size} structured calls")
    assert(soBodies.forall(b => b.contains("response_format") && !b.contains("\"tools\"")))
  }

  test("SemanticMap with concurrency>1 over the HTTP stack matches serial output") {
    FakeLlmServer.withServer { (url, st) =>
      val spark = TestSpark.spark
      val data = spark.createDataFrame(
        java.util.Arrays.asList((1 to 20).map(i => Row(i.toLong, s"doc $i")): _*),
        StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      val stack = RetryingClient(HttpLlmClient(url), timeoutMs = 5000, backoffMs = 1)
      def run(conc: Int) = {
        LlmCache.clear()
        SemanticMap(data,
          SemanticMapConfig("http_map", "label {{ input.text }}",
            Seq("label" -> "str"), model = "good", concurrency = Some(conc), bypassCache = false),
          stack).orderBy("id").collect().map(_.toSeq).toSeq
      }
      val serial = run(1)
      val concurrent = run(8)
      assert(serial == concurrent)
      assert(serial.head.contains("ok-good"))
    }
  }
}

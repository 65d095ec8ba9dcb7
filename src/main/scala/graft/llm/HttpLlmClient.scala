package graft.llm

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Thrown on a non-2xx provider response. `retryable` distinguishes
  * throttling/transient server errors (429/5xx — retry is worthwhile) from
  * caller errors (4xx — a retry with the same request will fail again, but
  * a FALLBACK to another model may still succeed, matching the reference's
  * LiteLLM router semantics, runner.py:39-88). RetryingClient retries all
  * exceptions; marking helps callers and logs tell the classes apart. */
final class LlmHttpException(val status: Int, body: String)
    extends RuntimeException(s"LLM HTTP $status: ${body.take(500)}") {
  def retryable: Boolean = status == 429 || status >= 500
}

/** Production LLM client speaking the OpenAI-compatible HTTP API
  * (`POST {baseUrl}/chat/completions`, `POST {baseUrl}/embeddings`) — the
  * Scala analog of the reference's LiteLLM-backed `APIWrapper`
  * (reference docetl/operations/utils/api.py:76+, which routes every model
  * through the same OpenAI-shaped completion surface).
  *
  * Pure JDK `java.net.http` + the Jackson that ships with Spark: zero added
  * dependencies. Instances are Serializable (closed over by `mapPartitions`
  * lambdas); the HttpClient and ObjectMapper are `@transient lazy`, rebuilt
  * per executor JVM.
  *
  * Structured output, two modes (reference api.py:59-64 OutputMode):
  *   - `"tools"` (default, as in the reference): the declared schema is
  *     compiled to a JSON Schema and sent as an OpenAI `tools` entry named
  *     `send_output` with `tool_choice` forcing it (api.py:790-817); the
  *     reply is read from `tool_calls[0].function.arguments`, falling back
  *     to message content when the provider answered without a tool call.
  *   - `"structured_output"`: `response_format: json_object` plus a
  *     field-list instruction in the system message; the reply is the
  *     message content.
  * Either way the JSON is parsed and coerced field-by-field; a missing
  * required field (or an out-of-set `enum[...]` value) throws, which
  * surfaces to RetryingClient / the op's validation loop exactly like the
  * reference's parse-and-retry.
  *
  * Compose as `RetryingClient(FallbackClient(RateLimitedClient(http)))`;
  * the LLM operators run its calls through [[Concurrency.mapOrdered]], so
  * by default up to the executor's whole pool of `4 × cores` calls are in
  * flight, even from a one-partition input (an op's `concurrency: n`
  * narrows its window for a provider that takes fewer). See HttpLlmSpec
  * for the full stack under a local fake server.
  *
  * Cost: `pricePerMTokIn`/`pricePerMTokOut` (dollars per million tokens)
  * applied to the usage block the provider returns.
  */
final case class HttpLlmClient(
    baseUrl: String,
    apiKeyEnv: String = "",
    connectTimeoutMs: Long = 10000,
    requestTimeoutMs: Long = 110000,
    pricePerMTokIn: Double = 0.0,
    pricePerMTokOut: Double = 0.0,
    temperature: Double = 0.0,
    outputMode: String = "tools") extends LlmClient {

  require(outputMode == "tools" || outputMode == "structured_output",
    s"outputMode must be 'tools' or 'structured_output', got '$outputMode'")

  override def withOutputMode(mode: String): LlmClient = copy(outputMode = mode)

  @transient private lazy val http: HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(connectTimeoutMs))
      .build()

  @transient private lazy val mapper = new ObjectMapper()

  private def apiKey: String =
    if (apiKeyEnv.isEmpty) "" else sys.env.getOrElse(apiKeyEnv, "")

  private def post(path: String, body: ObjectNode): JsonNode = {
    val b = HttpRequest.newBuilder(URI.create(baseUrl.stripSuffix("/") + path))
      .timeout(Duration.ofMillis(requestTimeoutMs))
      .header("Content-Type", "application/json")
    val withAuth = if (apiKey.nonEmpty) b.header("Authorization", s"Bearer $apiKey") else b
    val req = withAuth
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body)))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new LlmHttpException(resp.statusCode(), resp.body())
    mapper.readTree(resp.body())
  }

  /** Render the declared schema as a field-list instruction — the portable
    * equivalent of provider-side json_schema enforcement. */
  private def schemaInstruction(schema: StructType): String = {
    def tpe(dt: DataType): String = dt match {
      case StringType            => "string"
      case LongType | IntegerType => "integer"
      case DoubleType | FloatType => "number"
      case BooleanType           => "boolean"
      case ArrayType(et, _)      => s"array of ${tpe(et)}"
      case st: StructType =>
        st.fields.map(f => s"${f.name}: ${tpe(f.dataType)}").mkString("object {", ", ", "}")
      case other                 => other.simpleString
    }
    schema.fields.map { f =>
      val constraint = graft.core.SchemaTypes.enumOf(f)
        .map(vs => s", one of: ${vs.mkString("\"", "\" | \"", "\"")}").getOrElse("")
      s""""${f.name}" (${tpe(f.dataType)}$constraint)"""
    }.mkString(
      "Respond with a single JSON object with exactly these fields: ", ", ", ".")
  }

  /** Spark DataType -> JSON Schema node, for the `tools` parameters object
    * (the shape api.py:790-817 builds for `send_output`). */
  private def jsonSchemaNode(dt: DataType, enumVals: Option[Seq[String]] = None): ObjectNode = {
    val n = mapper.createObjectNode()
    dt match {
      case StringType =>
        n.put("type", "string")
        enumVals.foreach { vs => val a = n.putArray("enum"); vs.foreach(a.add) }
      case LongType | IntegerType => n.put("type", "integer")
      case DoubleType | FloatType => n.put("type", "number")
      case BooleanType            => n.put("type", "boolean")
      case ArrayType(et, _) =>
        n.put("type", "array")
        n.set[ObjectNode]("items", jsonSchemaNode(et))
      case st: StructType =>
        n.put("type", "object")
        val props = n.putObject("properties")
        val req = n.putArray("required")
        st.fields.foreach { f =>
          props.set[ObjectNode](f.name,
            jsonSchemaNode(f.dataType, graft.core.SchemaTypes.enumOf(f)))
          req.add(f.name)
        }
        n.put("additionalProperties", false)
      case _ => n.put("type", "string")
    }
    n
  }

  private def chatBody(
      model: String, system: String, user: String,
      schema: Option[StructType] = None): ObjectNode = {
    val body = mapper.createObjectNode()
    body.put("model", model)
    body.put("temperature", temperature)
    val messages = body.putArray("messages")
    messages.addObject().put("role", "system").put("content", system)
    messages.addObject().put("role", "user").put("content", user)
    schema match {
      case Some(st) if outputMode == "tools" =>
        val fn = body.putArray("tools").addObject()
        fn.put("type", "function")
        val f = fn.putObject("function")
        f.put("name", "send_output")
        f.put("description", "Send output back to the user")
        f.set[ObjectNode]("parameters", jsonSchemaNode(st))
        f.put("strict", true)
        val tc = body.putObject("tool_choice")
        tc.put("type", "function")
        tc.putObject("function").put("name", "send_output")
      case _ =>
        body.putObject("response_format").put("type", "json_object")
    }
    body
  }

  private def usageCost(root: JsonNode): (Long, Long, Double) = {
    val usage = root.path("usage")
    val in = usage.path("prompt_tokens").asLong(0)
    val out = usage.path("completion_tokens").asLong(0)
    (in, out, in * pricePerMTokIn / 1e6 + out * pricePerMTokOut / 1e6)
  }

  /** Tally a round trip whose answer carries no cost: embeddings and
    * logprob probes. `LlmClient.embed`/`logprobConfidence` return no
    * cost, so an op's meter charges these calls at $0; the tally has them. */
  private def recordUsage(model: String, root: JsonNode): Unit = {
    val (tin, tout, cost) = usageCost(root)
    TokenTally.record(model, LlmResponse(Map.empty, cost, tin, tout))
  }

  private def content(root: JsonNode): String = {
    val c = root.path("choices").path(0).path("message").path("content")
    if (c.isMissingNode || c.isNull)
      throw new LlmHttpException(502, s"no choices[0].message.content in ${root.toString.take(200)}")
    c.asText()
  }

  /** The structured JSON payload of a completion: the forced tool call's
    * arguments when present (api.py:477-478), else the message content —
    * the reference's tools-then-structured-output fallback order. */
  private def structuredPayload(root: JsonNode): String = {
    val args = root.path("choices").path(0).path("message")
      .path("tool_calls").path(0).path("function").path("arguments")
    if (!args.isMissingNode && !args.isNull && args.asText().nonEmpty) args.asText()
    else content(root)
  }

  /** Tolerate the common fenced-JSON reply shape (```json ... ```). */
  private def parseJsonObject(text: String): JsonNode = {
    val t0 = text.trim
    val t =
      if (t0.startsWith("```")) t0.stripPrefix("```json").stripPrefix("```").stripSuffix("```").trim
      else t0
    val node = mapper.readTree(t)
    if (!node.isObject)
      throw new LlmHttpException(502, s"model did not return a JSON object: ${t.take(200)}")
    node
  }

  private[llm] def jsonToValue(node: JsonNode, dt: DataType): Any =
    if (node == null || node.isMissingNode || node.isNull) null
    else dt match {
      case StringType  => if (node.isTextual) node.asText() else node.toString
      case LongType    => node.asLong()
      case IntegerType => node.asInt()
      case DoubleType  => node.asDouble()
      case FloatType   => node.asDouble().toFloat
      case BooleanType =>
        if (node.isBoolean) node.asBoolean()
        else node.asText().trim.equalsIgnoreCase("true")
      case ArrayType(et, _) =>
        val it = node.elements()
        val b = Seq.newBuilder[Any]
        while (it.hasNext) b += jsonToValue(it.next(), et)
        b.result()
      case st: StructType =>
        st.fields.map(f => f.name -> jsonToValue(node.get(f.name), f.dataType)).toMap
      case other =>
        throw new IllegalArgumentException(s"HttpLlmClient: unsupported output type $other")
    }

  private def toValues(obj: JsonNode, schema: StructType): Map[String, Any] =
    schema.fields.map { f =>
      val node = obj.get(f.name)
      if (node == null)
        throw new LlmHttpException(502, s"response missing declared field '${f.name}': ${obj.toString.take(200)}")
      val v = jsonToValue(node, f.dataType)
      // enum[...] is enforced on parse, not just prompted for (reference
      // validation.py convert_val emits a json_schema enum) — an out-of-set
      // value throws so RetryingClient / validation loops can retry.
      graft.core.SchemaTypes.enumOf(f).foreach { allowed =>
        v match {
          case s: String if !allowed.contains(s) =>
            throw new LlmHttpException(502,
              s"field '${f.name}' value '$s' not in enum ${allowed.mkString("[", ", ", "]")}")
          case _ => ()
        }
      }
      f.name -> v
    }.toMap

  override def complete(model: String, prompt: String, schema: StructType): LlmResponse = {
    val root = post("/chat/completions",
      chatBody(model, schemaInstruction(schema), prompt, Some(schema)))
    val (tin, tout, cost) = usageCost(root)
    val r = LlmResponse(toValues(parseJsonObject(structuredPayload(root)), schema), cost, tin, tout)
    TokenTally.record(model, r)
    r
  }

  /** One provider round-trip for a whole batch (reference map.py:530-618
    * batch_prompt): items are numbered into a single user message and the
    * model returns `{"results":[...]}` in order. A count mismatch throws —
    * RetryingClient or the op's skip_on_error handles it. */
  override def completeBatch(model: String, prompts: Seq[String], schema: StructType): Seq[LlmResponse] = {
    if (prompts.isEmpty) return Nil
    val sys = schemaInstruction(schema).replace(
      "Respond with a single JSON object with exactly these fields: ",
      s"""You will receive ${prompts.size} numbered items. Respond with a single JSON object {"results": [...]} whose array holds one object per item, in order. Each object has exactly these fields: """)
    val user = prompts.zipWithIndex
      .map { case (p, i) => s"### Item ${i + 1}\n$p" }.mkString("\n\n")
    val batchSchema = StructType(Seq(
      StructField("results", ArrayType(schema), nullable = false)))
    val root = post("/chat/completions", chatBody(model, sys, user, Some(batchSchema)))
    val (tin, tout, cost) = usageCost(root)
    val results = parseJsonObject(structuredPayload(root)).path("results")
    if (!results.isArray || results.size() != prompts.size)
      throw new LlmHttpException(502,
        s"batch expected ${prompts.size} results, got ${if (results.isArray) results.size() else "none"}")
    // Usage is for the whole round-trip; attribute it to the first item so
    // tallies sum correctly instead of multiplying by batch size.
    prompts.indices.map { i =>
      val r = LlmResponse(toValues(results.get(i), schema),
        if (i == 0) cost else 0.0, if (i == 0) tin else 0L, if (i == 0) tout else 0L)
      TokenTally.record(model, r)
      r
    }
  }

  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] = {
    if (texts.isEmpty) return Nil
    val body = mapper.createObjectNode()
    body.put("model", model)
    val input = body.putArray("input")
    texts.foreach(input.add)
    val root = post("/embeddings", body)
    recordUsage(model, root)
    val data = root.path("data")
    if (!data.isArray || data.size() != texts.size)
      throw new LlmHttpException(502, s"embeddings: expected ${texts.size} vectors, got ${data.size()}")
    // Providers return data[].index; order by it rather than trusting
    // array order (OpenAI documents order-by-index).
    val byIndex = new Array[Array[Float]](texts.size)
    val it = data.elements()
    var pos = 0
    while (it.hasNext) {
      val d = it.next()
      val idx = d.path("index").asInt(pos)
      val emb = d.path("embedding")
      val arr = new Array[Float](emb.size())
      var i = 0
      while (i < arr.length) { arr(i) = emb.get(i).floatValue(); i += 1 }
      byIndex(idx) = arr
      pos += 1
    }
    byIndex.toSeq
  }

  /** Single-token confidence via `logprobs` (reference api.py:1004
    * `classify_with_logprob`): exp of the first generated token's logprob.
    * Providers that omit logprobs yield a neutral 1.0. */
  override def logprobConfidence(model: String, prompt: String): Double = {
    val body = chatBody(model, "Answer with a single word.", prompt)
    body.remove("response_format")
    body.put("logprobs", true)
    body.put("top_logprobs", 1)
    body.put("max_tokens", 4)
    val root = post("/chat/completions", body)
    recordUsage(model, root)
    val lp = root.path("choices").path(0).path("logprobs").path("content").path(0).path("logprob")
    if (lp.isMissingNode || lp.isNull) 1.0 else math.exp(lp.asDouble())
  }
}

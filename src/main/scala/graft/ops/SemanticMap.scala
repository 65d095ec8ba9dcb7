package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import graft.core.SchemaTypes
import graft.llm.{Cached, LlmClient, Meter, Template}

/** Configuration shared by the row-local semantic (LLM) operators —
  * the subset of the reference's per-op surface we reproduce
  * (reference docetl/operations/base.py:110-114, map.py:35-714).
  *
  * `gleaning`: after each response, a judge prompt decides
  * `should_refine`; refine up to `numRounds` times (reference api.py:365-460).
  * `validate`: predicate over the output values; on failure the call is
  * retried up to `numRetriesOnValidateFailure` times (reference base.py:102-104).
  */
final case class GleaningConfig(
    validationPrompt: String,
    numRounds: Int = 2,
    /** Optional boolean expression over the current output gating each
      * gleaning round (reference base.py:49-53 `if`, api.py:1543-1570
      * `should_glean`): rounds run only while it evaluates true; evaluation
      * errors skip gleaning (the reference's safe_eval returns False on
      * failure). Grammar: `output.<field> <op> <literal>` with
      * == != < <= > >=, bare `output.<field>` truthiness, combined with
      * `and` / `or` / `not`. */
    ifCondition: Option[String] = None) {

  /** Should a gleaning round run for this output? */
  def shouldGlean(output: Map[String, Any]): Boolean = ifCondition match {
    case None => true
    case Some(cond) =>
      try GleanCondition.eval(cond, output) catch { case _: Exception => false }
  }
}

/** Tiny boolean-expression evaluator for gleaning `if` conditions — the
  * sandboxed analog of the reference's asteval-based safe_eval
  * (reference validation.py:125-134), restricted to comparisons over
  * `output.*` fields. */
private[ops] object GleanCondition {

  def eval(cond: String, output: Map[String, Any]): Boolean = orExpr(cond.trim, output)

  private def orExpr(s: String, out: Map[String, Any]): Boolean =
    splitTop(s, " or ").exists(andExpr(_, out))
  private def andExpr(s: String, out: Map[String, Any]): Boolean =
    splitTop(s, " and ").forall(notExpr(_, out))
  private def notExpr(s: String, out: Map[String, Any]): Boolean = {
    val t = s.trim
    if (t.startsWith("not ")) !atom(t.substring(4).trim, out) else atom(t, out)
  }

  private val CmpRe = raw"(?s)(.+?)\s*(==|!=|<=|>=|<|>)\s*(.+)".r

  private def atom(s: String, out: Map[String, Any]): Boolean = s match {
    case CmpRe(lhs, op, rhs) =>
      val l = value(lhs.trim, out)
      val r = value(rhs.trim, out)
      (l, r) match {
        case (a: Number, b: Number) =>
          val (x, y) = (a.doubleValue, b.doubleValue)
          op match {
            case "==" => x == y; case "!=" => x != y
            case "<" => x < y; case "<=" => x <= y
            case ">" => x > y; case ">=" => x >= y
          }
        case (a, b) => op match {
          case "==" => String.valueOf(a) == String.valueOf(b)
          case "!=" => String.valueOf(a) != String.valueOf(b)
          case other => throw new IllegalArgumentException(
            s"ordering comparison $other needs numeric operands (got $a, $b)")
        }
      }
    case _ => truthy(value(s, out))
  }

  private def value(s: String, out: Map[String, Any]): Any = s match {
    case _ if s.startsWith("output.") => out.getOrElse(s.substring(7), null)
    case "output" => out
    case "True" | "true" => true
    case "False" | "false" => false
    case "None" | "null" => null
    case _ if s.length >= 2 &&
      ((s.head == '\'' && s.last == '\'') || (s.head == '"' && s.last == '"')) =>
      s.substring(1, s.length - 1)
    case _ if s.matches(raw"-?\d+") => s.toLong
    case _ if s.matches(raw"-?\d*\.\d+") => s.toDouble
    case other => throw new IllegalArgumentException(s"unsupported condition term: $other")
  }

  private def truthy(v: Any): Boolean = v match {
    case null => false
    case b: Boolean => b
    case s: String => s.nonEmpty
    case n: Number => n.doubleValue != 0.0
    case s: Seq[_] => s.nonEmpty
    case m: Map[_, _] => m.nonEmpty
    case _ => true
  }

  /** Split on a lowercase keyword separator outside quotes. */
  private def splitTop(s: String, sep: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var i = 0
    var start = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0; i += 1 }
      else if (c == '\'' || c == '"') { quote = c; i += 1 }
      else if (s.regionMatches(i, sep, 0, sep.length)) {
        parts += s.substring(start, i); start = i + sep.length; i = start
      } else i += 1
    }
    parts += s.substring(start)
    parts.result()
  }
}

final case class SemanticMapConfig(
    name: String,
    prompt: String,
    outputSchema: Seq[(String, String)],
    model: String = "mock",
    dropKeys: Seq[String] = Nil,
    limit: Option[Int] = None,
    /** Rows per `batch_prompt` round trip; unused otherwise. */
    batchSize: Int = 64,
    skipOnError: Boolean = false,
    bypassCache: Boolean = false,
    gleaning: Option[GleaningConfig] = None,
    validate: Option[Map[String, Any] => Boolean] = None,
    numRetriesOnValidateFailure: Int = 2,
    /** Adds `_observability_{name}` carrying the rendered prompt
      * (reference map.py:514-518). */
    enableObservability: Boolean = false,
    /** One provider round-trip labels a whole batch (reference
      * map.py:530-618 batch_prompt); incompatible with gleaning/validation
      * loops, which are per-item. */
    batchPrompt: Boolean = false,
    /** Per-executor provider-call throttle; 0 = unlimited (reference
      * rate_limits; SURVEY.md §7.5.5 static per-executor quota). */
    callsPerMinute: Double = 0,
    /** Calibrate mode (reference map.py:236-334): sample
      * `calibrateSampleSize` rows, ask the model for reference anchors over
      * them, and prepend the anchors to every prompt. The sample is a
      * deterministic head — O(sample) driver work. */
    calibrate: Boolean = false,
    calibrateSampleSize: Int = 5,
    /** Multimodal attach (reference map.py:415-436 `pdf_url_key`: download +
      * base64-attach the document to the message): a binary column whose
      * base64 rides along with every rendered prompt as an
      * `\nATTACHMENT:<b64>` suffix. The reference fetches by URL at call
      * time; Spark-first, the bytes are a column (read via the binaryFile
      * source or a fetch stage) so attachment is executor-local and
      * retry-safe. */
    binaryAttachCol: Option[String] = None,
    /** In-partition async fan-out: up to this many provider calls in flight
      * per partition, on the executor's shared [[graft.llm.Concurrency]]
      * pool of `4 × cores` threads (reference runner.py:156). None = the
      * whole pool, whatever the partition layout; an explicit value only
      * narrows the window (the pool size caps larger values). 1 = serial.
      * Results stay in input order; per-row error semantics (skip_on_error,
      * validate retries, gleaning) are unchanged. */
    concurrency: Option[Int] = None)

/** LLM projection (reference docetl/operations/map.py:35-714).
  *
  * Core loop = `mapPartitions`, NOT a one-row UDF: each partition keeps a
  * window of rows' calls in flight on the executor's shared pool
  * ([[graft.llm.Concurrency]]), or, under `batch_prompt`, sends one round
  * trip per `batchSize` rows; a rate limiter and the response cache are
  * shared per executor (SURVEY.md §2.2 mapping).
  * Declared output fields are merged into the row, input fields pass through
  * (`{**item, **output}`, map.py:513); `dropKeys` / drop-keys-only fast path
  * (map.py:358-372) and `limit` early-stop are honored.
  *
  * Provider calls and cost are charged to the op's [[graft.llm.Meter]] —
  * the engine-wide analog of the reference's per-op float cost return.
  */
object SemanticMap {

  def apply(df: DataFrame, cfg: SemanticMapConfig, client: LlmClient): DataFrame = {
    // Drop-keys-only fast path: no LLM involved (reference map.py:358-372).
    if (cfg.prompt.isEmpty && cfg.outputSchema.isEmpty)
      return df.drop(cfg.dropKeys: _*)

    val base = cfg.limit.map(df.limit).getOrElse(df)
    val outStruct = SchemaTypes.toStruct(cfg.outputSchema)
    val inFields = base.schema.fields
    val kept = inFields.filterNot(f =>
      cfg.dropKeys.contains(f.name) || outStruct.fieldNames.contains(f.name))
    val obsFields =
      if (cfg.enableObservability)
        Array(StructField(s"_observability_${cfg.name}", StringType))
      else Array.empty[StructField]
    val newSchema = StructType(kept ++ outStruct.fields ++ obsFields)
    val keptIdx = kept.map(f => base.schema.fieldIndex(f.name))
    val meter = Meter(base.sparkSession, cfg.name)

    val cfgB = cfg
    val clientB =
      if (cfg.callsPerMinute > 0)
        graft.llm.RateLimitedClient(client, s"op:${cfg.name}", cfg.callsPerMinute)
      else client
    // Calibrate mode: anchors from a deterministic sample, prepended to the
    // template so every executor-side prompt carries them.
    val effectivePrompt =
      if (!cfg.calibrate) cfg.prompt
      else {
        val sampleTpl = Template(cfg.prompt, base.schema)
        // Seeded-hash sample (order-invariant), not a head of the first file.
        val samplePrompts = graft.ops.SampleOp
          .seededHead(base, cfg.calibrateSampleSize)
          .collect().map(sampleTpl.render).sorted
        val anchorSchema = StructType(Seq(StructField("anchors", StringType)))
        val resp = Cached.complete(clientB, meter, cfg.model, samplePrompts.mkString("\n"),
          anchorSchema, cfg.bypassCache)
        s"CALIBRATION:\n${resp.values("anchors")}\n\n${cfg.prompt}"
      }
    val tpl = Template(effectivePrompt, base.schema)
    require(!cfg.batchPrompt || (cfg.gleaning.isEmpty && cfg.validate.isEmpty),
      "batch_prompt is incompatible with gleaning/validation (per-item loops)")

    def emit(row: Row, prompt: String, values: Map[String, Any]): Row = {
      val out = keptIdx.map(row.get) ++
        outStruct.fields.map(f => LlmRunner.coerce(values.get(f.name), f.dataType)) ++
        (if (cfgB.enableObservability) Seq(prompt) else Nil)
      Row(out.toSeq: _*)
    }

    val attachIdx = cfg.binaryAttachCol.map(base.schema.fieldIndex)
    def renderRow(row: Row): String = {
      val p = tpl.render(row)
      attachIdx match {
        case Some(i) if !row.isNullAt(i) =>
          p + "\nATTACHMENT:" +
            java.util.Base64.getEncoder.encodeToString(row.getAs[Array[Byte]](i))
        case _ => p
      }
    }

    base.mapPartitions { it =>
      if (cfgB.batchPrompt) it.grouped(cfgB.batchSize).flatMap { batch =>
        // One provider round-trip per batch; cache still applies per item.
        val prompts = batch.map(renderRow)
        val responses = Cached.completeBatch(
          clientB, meter, cfgB.model, prompts, outStruct, cfgB.bypassCache)
        batch.lazyZip(prompts).lazyZip(responses).map((row, p, r) => emit(row, p, r.values))
      }
      // One window over the whole partition: it never drains between rows.
      else graft.llm.Concurrency.flatMapOrdered(it, cfgB.concurrency) { row =>
        val prompt = renderRow(row)
        try {
          val values = LlmRunner.callWithLoops(
            clientB, cfgB.model, prompt, outStruct, cfgB.gleaning, cfgB.validate,
            cfgB.numRetriesOnValidateFailure, cfgB.bypassCache, meter)
          Iterator.single(emit(row, prompt, values))
        } catch {
          case e: Exception if cfgB.skipOnError => Iterator.empty
        }
      }
    }(Encoders.row(newSchema))
  }
}

/** Shared call loop: cache -> complete -> gleaning rounds -> validate+retry.
  * (reference api.py:365-460 and base.py:102-104.) */
object LlmRunner {

  def callWithLoops(
      client: LlmClient,
      model: String,
      prompt: String,
      schema: StructType,
      gleaning: Option[GleaningConfig],
      validate: Option[Map[String, Any] => Boolean],
      validateRetries: Int,
      bypassCache: Boolean,
      meter: Meter): Map[String, Any] = {

    def ask(p: String): Map[String, Any] =
      Cached.complete(client, meter, model, p, schema, bypassCache).values

    // map refines from the prompt it started from
    def withGleaning(p: String): Map[String, Any] =
      glean(gleaning, client, meter, model, ask(p))(imp => ask(s"$p\nRefine: $imp"))

    var values = withGleaning(prompt)
    validate.foreach { v =>
      var attempts = 0
      while (!v(values) && attempts < validateRetries) {
        values = withGleaning(s"$prompt\nRetry ${attempts + 1}")
        attempts += 1
      }
      if (!v(values))
        throw new IllegalStateException("validation failed after retries")
    }
    values
  }

  private val judgeSchema = StructType(Seq(
    StructField("should_refine", BooleanType),
    StructField("improvements", StringType)))

  /** The gleaning loop of map and reduce (reference api.py:365-460): while
    * rounds remain and the `if` condition holds, a cached judge call over
    * the current output decides `should_refine`; `refine(improvements)`
    * sends the refinement and returns the next output. */
  def glean(
      gleaning: Option[GleaningConfig], client: LlmClient, meter: Meter, model: String,
      initial: Map[String, Any])(refine: String => Map[String, Any]): Map[String, Any] =
    gleaning.fold(initial) { g =>
      var values = initial
      var rounds = 0
      var continue = true
      while (continue && rounds < g.numRounds && g.shouldGlean(values)) {
        val judgePrompt = s"${g.validationPrompt}\n${values.toSeq.sortBy(_._1).mkString(";")}"
        val verdict = Cached.complete(client, meter, model, judgePrompt, judgeSchema).values
        if (verdict("should_refine").asInstanceOf[Boolean]) {
          values = refine(String.valueOf(verdict("improvements")))
          rounds += 1
        } else continue = false
      }
      values
    }

  /** Coerce a mock/parsed value to the declared Spark type (the analog of the
    * reference's response type-checking, validation.py:184-240). */
  def coerce(v: Option[Any], dt: DataType): Any = (v.orNull, dt) match {
    case (null, _)                   => null
    case (x: Long, LongType)         => x
    case (x: Int, LongType)          => x.toLong
    case (x: Double, DoubleType)     => x
    case (x: Long, DoubleType)       => x.toDouble
    case (x: Int, DoubleType)        => x.toDouble
    case (x: Boolean, BooleanType)   => x
    case (x: String, StringType)     => x
    case (x, StringType)             => x.toString
    case (x: Seq[_], ArrayType(et, _)) => x.map(e => coerce(Some(e), et))
    case (x: Map[_, _], st: StructType) =>
      val m = x.asInstanceOf[Map[String, Any]]
      Row(st.fields.map(f => coerce(m.get(f.name), f.dataType)).toSeq: _*)
    case (x, t) =>
      throw new IllegalArgumentException(s"Cannot coerce $x to $t")
  }
}

/** N independent prompts per row, each writing disjoint output keys, results
  * unioned into the row (reference docetl/operations/map.py:717-985
  * `parallel_map`). One pass; rows run through the executor's shared call
  * window ([[graft.llm.Concurrency]]), each row's sub-prompts in turn. */
object ParallelMap {

  final case class SubPrompt(prompt: String, outputSchema: Seq[(String, String)], model: String = "mock")

  def apply(df: DataFrame, name: String, prompts: Seq[SubPrompt], client: LlmClient): DataFrame = {
    val outStructs = prompts.map(p => SchemaTypes.toStruct(p.outputSchema))
    val allOut = outStructs.flatMap(_.fields)
    require(allOut.map(_.name).distinct.size == allOut.size,
      "parallel_map sub-prompts must write disjoint output_keys")
    val kept = df.schema.fields.filterNot(f => allOut.exists(_.name == f.name))
    val keptIdx = kept.map(f => df.schema.fieldIndex(f.name))
    val newSchema = StructType(kept ++ allOut)
    val meter = Meter(df.sparkSession, name)
    val promptsB = prompts
    val tpls = prompts.map(sp => Template(sp.prompt, df.schema))
    df.mapPartitions { it =>
      graft.llm.Concurrency.mapOrdered(it, None) { row =>
        val outs = promptsB.zip(outStructs).zip(tpls).flatMap { case ((sp, st), tpl) =>
          val prompt = tpl.render(row)
          val values = LlmRunner.callWithLoops(
            client, sp.model, prompt, st, None, None, 0, bypassCache = false, meter)
          st.fields.map(f => LlmRunner.coerce(values.get(f.name), f.dataType))
        }
        Row((keptIdx.map(row.get) ++ outs).toSeq: _*)
      }
    }(Encoders.row(newSchema))
  }
}

/** LLM filter (reference docetl/operations/filter.py:23-224): the declared
  * schema is exactly one bool (+ optional `_short_explanation`); rows where
  * the LLM answered true are kept and the decision key is consumed.
  * `limit` counts passing rows — Spark's CollectLimit executes partitions
  * incrementally, giving the same early-termination economics. A window of
  * in-flight calls would pay for rows past the limit, so a limited filter
  * runs its calls serially unless `concurrency` is set.
  */
object SemanticFilter {

  def apply(df: DataFrame, cfg: SemanticMapConfig, client: LlmClient): DataFrame = {
    val boolFields = cfg.outputSchema.filter { case (k, t) =>
      SchemaTypes.parse(t) == BooleanType && k != "_short_explanation"
    }
    require(boolFields.size == 1,
      s"filter schema must declare exactly one bool (got $boolFields) — reference filter.py:59-69")
    val decisionKey = boolFields.head._1
    val mapped = SemanticMap(df, cfg.copy(limit = None,
      concurrency = cfg.concurrency.orElse(cfg.limit.map(_ => 1))), client)
    val filtered = mapped
      .filter(org.apache.spark.sql.functions.col(decisionKey))
      .drop(decisionKey)
    cfg.limit.map(filtered.limit).getOrElse(filtered)
  }
}

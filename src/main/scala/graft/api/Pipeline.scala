package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.llm.{FallbackClient, HttpLlmClient, LlmClient, MockLlmClient, RateLimitedClient, RetryingClient}
import graft.ops.EquijoinOp

/** Config-driven pipeline runner — the YAML surface (reference
  * docetl/runner.py `DSLRunner`, plan/lift.py:30-171 semantics):
  *
  *   - `datasets` load by path (json/csv/parquet by extension, like the
  *     reference loader, dataset.py:218,313-330).
  *   - each step's `input` resolves to a dataset or an earlier step's output
  *     (lift.py:72-83); step outputs become named datasets.
  *   - a step with `join:` is join-headed (lift.py:109-137): `left`/`right`
  *     refer to datasets/steps, the equijoin config drives [[EquijoinOp]].
  *   - a step with `union:`/`intersect:`/`except:` is set-op-headed
  *     (SURVEY §2.7 — the reference has no set ops; Spark does): `union`
  *     takes >=2 refs (SQL UNION; `distinct: false` = UNION ALL),
  *     `intersect`/`except` take exactly 2 (`all: true` = INTERSECT ALL /
  *     EXCEPT ALL). Columns align by NAME across inputs.
  *   - `pipeline.output` writes by extension (runner.py:91-113).
  *
  * Spark keeps everything lazy across steps; `persist: true` on a step is
  * the explicit analog of the reference's implicit step materialization.
  */
object Pipeline {

  def run(conf: Conf, spark: SparkSession, client: LlmClient = MockLlmClient()): DataFrame =
    runWithSteps(conf, spark, client)._1

  /** Build the LLM client stack a config's top-level `llm:` block declares
    * (the analog of the reference's model/router config, runner.py:39-88 +
    * rate_limits). Composition order — retry OUTSIDE fallback OUTSIDE the
    * rate limiter — means each fallback attempt re-acquires a permit and the
    * whole chain shares one retry/timeout budget:
    *
    * ```yaml
    * llm:
    *   provider: openai            # or `mock` (default)
    *   base_url: http://host/v1
    *   api_key_env: OPENAI_API_KEY
    *   calls_per_minute: 600       # optional per-executor throttle
    *   fallbacks: {gpt-main: [gpt-backup]}
    *   timeout_ms: 120000
    *   max_retries: 2
    * ```
    */
  def clientFor(conf: Conf, default: LlmClient = MockLlmClient()): LlmClient =
    conf.get("llm") match {
      case None => default
      case Some(l) =>
        val base: LlmClient = l.strOr("provider", "mock") match {
          case "mock" => MockLlmClient()
          case "openai" | "http" => HttpLlmClient(
            baseUrl = l("base_url").str,
            apiKeyEnv = l.strOr("api_key_env", ""),
            requestTimeoutMs = l.intOr("request_timeout_ms", 110000).toLong,
            pricePerMTokIn = l.dblOr("price_per_mtok_in", 0.0),
            pricePerMTokOut = l.dblOr("price_per_mtok_out", 0.0),
            outputMode = l.strOr("output_mode", "tools"))
          case other => throw new IllegalArgumentException(
            s"unknown llm provider '$other' (mock|openai)")
        }
        val limited = l.get("calls_per_minute")
          .map(r => RateLimitedClient(base, "llm:global", r.dbl): LlmClient).getOrElse(base)
        val chained = l.get("fallbacks")
          .map(f => FallbackClient(limited,
            f.asMap.map { case (m, c) => m -> c.strList }): LlmClient)
          .getOrElse(limited)
        RetryingClient(chained,
          timeoutMs = l.intOr("timeout_ms", 120000).toLong,
          maxRetries = l.intOr("max_retries", 2))
    }

  /** Per-op row-count record (reference containers.py:466 captures per-op
    * selectivities during optimizer sample runs). */
  final case class OpStat(step: String, op: String, rowsIn: Long, rowsOut: Long) {
    def selectivity: Double = if (rowsIn == 0) 0.0 else rowsOut.toDouble / rowsIn
  }

  /** Like [[run]] but also returns every named step's output, for
    * inspection (schemas, intermediate sampling). */
  def runWithSteps(conf: Conf, spark: SparkSession,
      client0: LlmClient = MockLlmClient()): (DataFrame, Seq[(String, DataFrame)]) = {
    val (r, s, _) = runImpl(conf, spark, client0, track = false)
    (r, s)
  }

  /** Instrumented run: additionally counts rows in/out of EVERY op and
    * returns the per-op selectivities — the run-on-sample feedback the
    * reference's optimizer records (containers.py:454-466). Counting forces
    * each op's output to materialize (it is persisted first, so the chain
    * executes once, not quadratically); use on samples, not the full corpus.
    * The instrumentation caches are dropped before returning. */
  def runInstrumented(conf: Conf, spark: SparkSession,
      client0: LlmClient = MockLlmClient()): (DataFrame, Seq[(String, DataFrame)], Seq[OpStat]) =
    runImpl(conf, spark, client0, track = true)

  private[api] def runImpl(conf: Conf, spark: SparkSession,
      client0: LlmClient, track: Boolean,
      sampleRows: Option[Int] = None): (DataFrame, Seq[(String, DataFrame)], Seq[OpStat]) = {
    // An `llm:` block in the config wins over the caller's default client.
    val client = clientFor(conf, client0)
    val datasets = scala.collection.mutable.Map[String, DataFrame]()
    // Rolling config hash per named dataset/step — the checkpoint
    // invalidation key (reference runner.py:241-282).
    val hashes = scala.collection.mutable.Map[String, String]()
    conf.get("datasets").foreach(_.asMap.foreach { case (name, d) =>
      // Optional `format` overrides extension dispatch — e.g. `binaryFile`
      // for opaque image/audio/pdf payloads (the reference's parsing-tools
      // load path, dataset.py:361-368) or `text` for line files.
      val loaded0 = d.get("format") match {
        case Some(f) => spark.read.format(f.str).load(d("path").str)
        case None    => read(spark, d("path").str)
      }
      // Optional `provenance: true` appends `_source_file` at the scan
      // (it must attach before any shuffle — see graft.sources.Provenance).
      val loaded =
        if (d.boolOr("provenance", false))
          graft.sources.Provenance.withSourceFile(loaded0)
        else loaded0
      // Dataset-level `parsing:` list (reference dataset.py
      // `_apply_parsing_tools`): each tool maps a file column to one row per
      // parsed document, applied in order.
      // Estimation mode: bound every input dataset (the limit pushes into
      // the scan, so a 100 TB source reads ~sampleRows rows, not 100 TB).
      val bounded = sampleRows.fold(loaded)(loaded.limit)
      datasets(name) = d.get("parsing").map(_.asList).getOrElse(Nil)
        .foldLeft(bounded) { (df, p) =>
          graft.sources.ParseOp(df, graft.sources.ParseOp.Config(
            function = p("function").str,
            inputKey = p.strOr("input_key", "content"),
            outputKey = p.strOr("output_key", "text"),
            orientation = p.strOr("orientation", "col"),
            docPerSheet = p.boolOr("doc_per_sheet", false),
            docPerSlide = p.boolOr("doc_per_slide", false),
            docPerPage = p.boolOr("doc_per_page", false),
            skipOnError = p.boolOr("skip_on_error", false)))
        }
      // ALL parsing kwargs participate in the hash — toggling e.g.
      // doc_per_page must invalidate a checkpointed dataset, not reuse it.
      hashes(name) = CheckpointStore.sha256(
        "dataset|" + d.strOr("format", "") + "|" + d("path").str +
          "|prov:" + d.boolOr("provenance", false) +
          // sampled (estimate) runs must never reuse or pollute full-run
          // checkpoints — the sample size is part of the identity
          sampleRows.map(n => s"|sample:$n").getOrElse("") +
          d.get("parsing").map(p => "|parsing:" + p.asList.map(t =>
            t("function").str + ":" + t.strOr("input_key", "content") + ":" +
              t.strOr("output_key", "text") + ":" + t.strOr("orientation", "col") + ":" +
              t.boolOr("doc_per_sheet", false) + ":" + t.boolOr("doc_per_slide", false) + ":" +
              t.boolOr("doc_per_page", false) + ":" +
              t.boolOr("skip_on_error", false)).mkString(",")).getOrElse(""))
    })
    // Sampled (estimate) runs never read or write checkpoints: a cached
    // sampled op would replay with zero LLM calls and falsify the tally.
    val store =
      if (sampleRows.isDefined) None
      else conf.get("checkpoint_dir").map(d => new CheckpointStore(d.str))
    val planRewrites = conf.boolOr("plan_rewrites", true)
    val opsByName: Map[String, Conf] =
      conf.get("operations").map(_.asList.map(o => o("name").str -> o).toMap)
        .getOrElse(Map.empty)

    def resolveOps(step: Conf): Seq[Conf] = {
      val resolved = step.get("operations").map(_.asList).getOrElse(Seq.empty).map { opRef =>
        opRef.value match {
          case s: String => opsByName.getOrElse(s,
            throw new IllegalArgumentException(s"unknown operation '$s'"))
          case _ => opRef // inline op config
        }
      }
      if (planRewrites) Rewrites(resolved) else resolved
    }

    val opStats = scala.collection.mutable.ArrayBuffer[OpStat]()
    val instrCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()

    def applyOps(df0: DataFrame, baseHash: String, step: Conf, ctx: OpContext): (DataFrame, String) = {
      var rowsIn = if (track) df0.count() else -1L
      resolveOps(step).foldLeft((df0, baseHash)) { case ((df, h), opConf) =>
        val h2 = CheckpointStore.rollingHash(h, opConf)
        val out = store.flatMap(_.load(spark, h2)).getOrElse {
          val computed = Registry(opConf("type").str)(df, opConf, ctx)
          store.map(_.save(computed, h2)).getOrElse(computed)
        }
        if (track) {
          // Persist before counting so each op executes once (the next op's
          // count reads this cache instead of re-running the whole prefix).
          val cached = out.persist()
          instrCaches += cached
          val n = cached.count()
          opStats += OpStat(step("name").str,
            opConf.strOr("name", opConf("type").str), rowsIn, n)
          rowsIn = n
          (cached, h2)
        } else (out, h2)
      }
    }

    // A step headed by `union:` / `intersect:` / `except:` is a set-op step
    // (SURVEY §2.7 — the reference has no set operations; each step output
    // is only reachable as another step's single `input`. Spark provides
    // them natively, so the pipeline surface exposes them). Inputs combine
    // by column NAME (unionByName), so step outputs whose select order
    // differs still line up. Set ops are pure exchanges — no driver state,
    // no collect — so they hold at any scale; `intersect`/`except` shuffle
    // both sides on the full row (SQL distinct semantics), `union` is a
    // zero-shuffle concatenation of child plans.
    def setOpHead(step: Conf): Option[(DataFrame, String)] = {
      def inputs(refs: Seq[String]): Seq[DataFrame] = refs.map(r =>
        datasets.getOrElse(r, throw new IllegalArgumentException(
          s"step '${step("name").str}': unknown set-op input '$r'")))
      def binary(kind: String, isIntersect: Boolean, refs: Seq[String]): (DataFrame, String) = {
        require(refs.size == 2, s"step '${step("name").str}': $kind needs exactly 2 inputs")
        val Seq(l, r0) = inputs(refs)
        val r = graft.core.Joins.alignByName(l, r0)
        val all = step.boolOr("all", false) // INTERSECT ALL / EXCEPT ALL
        val out =
          if (isIntersect) { if (all) l.intersectAll(r) else l.intersect(r) }
          else { if (all) l.exceptAll(r) else l.except(r) }
        out -> CheckpointStore.sha256(
          kind + "|" + refs.map(hashes).mkString("+") + "|all=" + all)
      }
      step.get("union").map(_.strList).map { refs =>
        require(refs.size >= 2, s"step '${step("name").str}': union needs >= 2 inputs")
        val unioned = inputs(refs).reduce(_.unionByName(_))
        // SQL default is UNION (distinct); `distinct: false` = UNION ALL.
        val out = if (step.boolOr("distinct", true)) unioned.distinct() else unioned
        out -> CheckpointStore.sha256(
          "union|" + refs.map(hashes).mkString("+") +
            "|distinct=" + step.boolOr("distinct", true))
      }.orElse(step.get("intersect").map(_.strList).map(binary("intersect", true, _)))
        .orElse(step.get("except").map(_.strList).map(binary("except", false, _)))
    }

    try {
      var last: Option[DataFrame] = None
      val stepOutputs = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()
      conf("pipeline")("steps").asList.foreach { step =>
        val ctx = OpContext(spark, client, datasets.toMap)
        // Each step starts from a head: a join, a set op or a named input.
        val (head, headHash) = step.get("join") match {
          case Some(j) =>
            val left = datasets(j("left").str)
            val right = datasets(j("right").str)
            val hasEmbBlocking =
              j.get("blocking").exists(_.strOr("method", "") == "embedding")
            // Without embedding blocking a missing condition would silently
            // cross-join — the all-pairs stage SCALE.md forbids. Fail loudly.
            val condition = j.get("condition").map(_.str).getOrElse {
              if (hasEmbBlocking) "true"
              else throw new IllegalArgumentException(
                s"join step '${step("name").str}' needs `condition` (or embedding blocking)")
            }
            val jCfg = EquijoinOp.Config(
              name = step("name").str,
              condition = condition,
              compareExprLeft = j.strOr("compare_left", ""),
              compareExprRight = j.strOr("compare_right", ""),
              llmVerify = j.boolOr("llm_verify", false),
              model = j.strOr("model", "mock"),
              limitLeft = j.get("limit_left").map(_.int),
              limitRight = j.get("limit_right").map(_.int),
              leftIdKey = j.strOr("left_id", ""),
              rightIdKey = j.strOr("right_id", ""),
              limitComparisons = j.get("limit_comparisons").map(_.int),
              maxPairsPerKey = j.get("max_pairs_per_key").map(_.int.toLong),
              cascade = j.get("cascade").map(c => graft.ops.CascadeCompare.Config(
                proxyModel = c.strOr("proxy_model", "proxy"),
                oracleModel = c.strOr("oracle_model", "oracle"),
                targetPrecision = c.dblOr("target_precision", 0.9),
                calibrationSize = c.intOr("calibration_size", 100))))
            // `blocking: { method: embedding, ... }` switches candidate
            // generation to hyperplane-LSH cosine blocking; without a fixed
            // `threshold` the recall-targeted runtime calibration fits one.
            val joined = j.get("blocking") match {
              case Some(b) => b.strOr("method", "") match {
                case "embedding" =>
                  val (lEmb, rEmb, dim) = (b("left_emb").str, b("right_emb").str, b("dim").int)
                  b.get("threshold") match {
                    case Some(t) => EquijoinOp.withEmbeddingBlocking(
                      left, right, jCfg, lEmb, rEmb, dim, t.dbl, client,
                      b.intOr("num_planes", 8))
                    case None => EquijoinOp.withAutoEmbeddingBlocking(
                      left, right, jCfg, lEmb, rEmb, dim, client,
                      b.dblOr("target_recall", 0.95), b.intOr("sample_size", 100),
                      b.intOr("num_planes", 8))._1
                  }
                case other => throw new IllegalArgumentException(
                  s"unknown join blocking method '$other' (embedding)")
              }
              case None => EquijoinOp(left, right, jCfg, client)
            }
            joined -> CheckpointStore.rollingHash(
              hashes(j("left").str) + "+" + hashes(j("right").str), j)
          case None => setOpHead(step).getOrElse {
            val input = step("input").str
            datasets.getOrElse(input, throw new IllegalArgumentException(
              s"unknown step input '$input'")) -> hashes(input)
          }
        }
        // `sample: n` truncates the step's head before the op chain — the
        // optimizer's run-on-sample hook (reference containers.py:454-455);
        // Catalyst pushes the limit into the scan. The truncation joins the
        // checkpoint key: a sampled step must never reuse (or poison) a
        // full-run checkpoint.
        val (sampled, baseHash) = step.get("sample") match {
          case Some(n) => head.limit(n.int) ->
            CheckpointStore.sha256(headHash + "|sample=" + n.int)
          case None => head -> headHash
        }
        val (out, outHash) = applyOps(sampled, baseHash, step, ctx)
        val persisted = if (step.boolOr("persist", false)) out.persist() else out
        datasets(step("name").str) = persisted
        hashes(step("name").str) = outHash
        stepOutputs += step("name").str -> persisted
        last = Some(persisted)
      }

      val result = last.getOrElse(
        throw new IllegalArgumentException("pipeline has no steps"))
      conf("pipeline").get("output").foreach { o =>
        (o.get("table"), o.get("path")) match {
          case (Some(tbl), _) =>
            // Managed-table sink with optional bucketing: bucketed tables
            // co-locate join keys so later equi-joins/aggs on the bucket
            // columns skip the shuffle entirely (SCALE.md; at 100 TB this is
            // the difference between a map-side join and a full exchange).
            val w0 = result.write.mode(o.strOr("mode", "overwrite"))
              .format(o.strOr("format", "parquet"))
            val w1 = o.get("bucket_by") match {
              case Some(cols) =>
                val bs = cols.strList
                w0.bucketBy(o.intOr("num_buckets", 32), bs.head, bs.tail: _*)
                  .sortBy(bs.head, bs.tail: _*)
              case None => w0
            }
            w1.saveAsTable(tbl.str)
          case (None, Some(p)) if o.get("shards").isDefined =>
            // Sharded training-data export: deterministic id-hash routing +
            // per-shard manifest (rows / tokens / order-free checksum) — the
            // layout a training loader schedules from (ShardedSink).
            graft.sources.ShardedSink.write(result, p.str, o("id_expr").str,
              o.strOr("token_expr", "1"), o("shards").int,
              o.strOr("mode", "overwrite"))
          case (None, Some(p)) =>
            // Path sink with optional hive-style partitioning: partition
            // pruning on the listed columns is free for every later reader.
            o.get("partition_by") match {
              case Some(cols) =>
                val w = result.write.mode(o.strOr("mode", "overwrite"))
                  .partitionBy(cols.strList: _*)
                ext(p.str) match {
                  case "json"    => w.json(p.str)
                  case "csv"     => w.option("header", "true").csv(p.str)
                  case "parquet" => w.parquet(p.str)
                  case e => throw new IllegalArgumentException(
                    s"unsupported output extension .$e (${p.str})")
                }
              case None => write(result, p.str, o.strOr("mode", "overwrite"))
            }
          case (None, None) =>
            throw new IllegalArgumentException("output needs `path` or `table`")
        }
      }
      (result, stepOutputs.toSeq, opStats.toSeq)
    } finally {
      // Instrumentation caches served their purpose (single execution per
      // op); don't leak them past the run, failed or not — recomputation is
      // the caller's choice.
      instrCaches.foreach(_.unpersist())
    }
  }

  def runYaml(yaml: String, spark: SparkSession,
      client: LlmClient = MockLlmClient()): DataFrame =
    run(Conf.fromYaml(yaml), spark, client)

  /** Plan-only inspection: resolve every step and report its output schema
    * WITHOUT writing the pipeline output (the analog of the reference's
    * `Frame.schema()`/`explain()` static propagation, frame.py:852-904 —
    * Spark-first, the lazily-built DataFrame's schema IS the propagated
    * schema; no separate transform_schema reimplementation needed). Ops
    * that calibrate at plan time (resolve, cluster, bm25) still run their
    * small calibration jobs. */
  /** The same conf with `pipeline.output` removed — for runs that must
    * never touch the real sink (describe, estimate). */
  private[api] def stripOutput(conf: Conf): Conf = {
    val m = new java.util.LinkedHashMap[String, Any]()
    conf.asOrderedMap.foreach {
      case ("pipeline", p) =>
        val pm = new java.util.LinkedHashMap[String, Any]()
        p.asOrderedMap.foreach { case (k, v) => if (k != "output") pm.put(k, v.value) }
        m.put("pipeline", pm)
      case (k, v) => m.put(k, v.value)
    }
    Conf(m)
  }

  def describe(conf: Conf, spark: SparkSession,
      client: LlmClient = MockLlmClient()): Seq[(String, org.apache.spark.sql.types.StructType)] = {
    runWithSteps(stripOutput(conf), spark, client)._2.map { case (n, d) => n -> d.schema }
  }

  def runYamlFile(path: String, spark: SparkSession,
      client: LlmClient = MockLlmClient()): DataFrame =
    run(Conf.fromYamlFile(path), spark, client)

  /** Static plan validation WITHOUT execution — the analog of the
    * reference's lift-time `PlanIssue` discipline plus `plan/analysis.py`
    * static checks (reference plan/lift.py:30-171 never throws on malformed
    * configs; analysis.py:103-149 warns on reads-of-removed-fields):
    * returns a list of human-readable issues, empty = clean.
    *
    * Checks: unknown step inputs / join sides, references to undeclared
    * operations, unknown op types, `code_filter` predicates reading a field
    * a previous op's `drop_keys` removed, and `filter` schemas that don't
    * declare exactly one bool. */
  def validate(conf: Conf): Seq[String] = {
    val issues = scala.collection.mutable.ArrayBuffer[String]()
    val opsByName: Map[String, Conf] =
      conf.get("operations").map(_.asList.map(o => o("name").str -> o).toMap)
        .getOrElse(Map.empty)
    var known: Set[String] =
      conf.get("datasets").map(_.asMap.keySet).getOrElse(Set.empty)

    conf.get("pipeline").flatMap(_.get("steps")).map(_.asList).getOrElse(Seq.empty)
      .foreach { step =>
        val stepName = step.strOr("name", "<unnamed>")
        step.get("join") match {
          case Some(j) =>
            Seq("left", "right").foreach { side =>
              j.get(side) match {
                case None => issues += s"step $stepName: join missing '$side'"
                case Some(ref) if !known.contains(ref.str) =>
                  issues += s"step $stepName: unknown join input '${ref.str}'"
                case _ => ()
              }
            }
          case None =>
            val setRefs = Seq("union", "intersect", "except")
              .flatMap(k => step.get(k).map(k -> _.strList))
            setRefs match {
              case Seq((kind, refs)) =>
                refs.filterNot(known.contains).foreach(r =>
                  issues += s"step $stepName: unknown $kind input '$r'")
                if (kind == "union" && refs.size < 2)
                  issues += s"step $stepName: union needs >= 2 inputs"
                if (kind != "union" && refs.size != 2)
                  issues += s"step $stepName: $kind needs exactly 2 inputs"
              case Seq() =>
                step.get("input") match {
                  case None => issues += s"step $stepName: missing input"
                  case Some(i) if !known.contains(i.str) =>
                    issues += s"step $stepName: unknown input '${i.str}'"
                  case _ => ()
                }
              case multi =>
                issues += s"step $stepName: multiple set-op heads (" +
                  multi.map(_._1).mkString(", ") + ") — pick one"
            }
        }
        // Walk the op chain tracking definitely-removed fields
        // (reference analysis.py:19-78 removed-field propagation).
        var removed = Set.empty[String]
        step.get("operations").map(_.asList).getOrElse(Seq.empty).foreach { opRef =>
          val op = opRef.value match {
            case s: String =>
              val found = opsByName.get(s)
              if (found.isEmpty) issues += s"step $stepName: unknown operation '$s'"
              found
            case _ => Some(opRef)
          }
          op.foreach { o =>
            val opName = o.strOr("name", "?")
            val tpe = o.strOr("type", "")
            if (!Registry.knownTypes.contains(tpe))
              issues += s"step $stepName/$opName: unknown op type '$tpe'"
            else {
              if (tpe == "code_filter") o.get("predicate").foreach { p =>
                val dead = Rewrites.referencedIdentifiers(p.str)
                  .intersect(removed.map(_.toLowerCase))
                if (dead.nonEmpty)
                  issues += s"step $stepName/$opName: predicate reads removed field(s) " +
                    dead.toSeq.sorted.mkString(", ")
              }
              if (tpe == "filter") {
                val schema = o.get("output").flatMap(_.get("schema"))
                  .map(_.asOrderedMap).getOrElse(Nil)
                val bools = schema.filter { case (k, v) =>
                  v.str == "bool" && k != "_short_explanation" }
                if (bools.size != 1)
                  issues += s"step $stepName/$opName: filter schema must declare exactly one bool " +
                    s"(got ${bools.size}) — reference filter.py:59-69"
              }
              // A later op re-creating a dropped field makes it live again.
              val written =
                o.get("outputs").map(_.asOrderedMap.map(_._1).toSet)
                  .getOrElse(Set.empty) ++
                  o.get("output").flatMap(_.get("schema"))
                    .map(_.asOrderedMap.map(_._1).toSet).getOrElse(Set.empty)
              removed --= written
              removed ++= o.get("drop_keys").map(_.strList.toSet).getOrElse(Set.empty)
            }
          }
        }
        known += stepName
      }
    issues.toSeq
  }

  /** Extension-dispatched reader (reference dataset.py:218,313-330). */
  def read(spark: SparkSession, path: String): DataFrame = ext(path) match {
    case "json"    => spark.read.json(path)
    case "csv"     => spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    case "parquet" => graft.core.Tables.parquet(spark, path)
    case e => throw new IllegalArgumentException(s"unsupported input extension .$e ($path)")
  }

  /** Extension-dispatched writer (reference runner.py:91-113). */
  def write(df: DataFrame, path: String, mode: String = "overwrite"): Unit = ext(path) match {
    case "json"    => df.write.mode(mode).json(path)
    case "csv"     => df.write.mode(mode).option("header", "true").csv(path)
    case "parquet" => df.write.mode(mode).parquet(path)
    case e => throw new IllegalArgumentException(s"unsupported output extension .$e ($path)")
  }

  private def ext(path: String): String =
    path.substring(path.lastIndexOf('.') + 1).toLowerCase
}

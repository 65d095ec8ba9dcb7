package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.LlmClient
import graft.ops._

/** Execution context threaded through config-driven operators. */
final case class OpContext(
    spark: SparkSession,
    client: LlmClient,
    datasets: Map[String, DataFrame])

/** Operator registry: type string -> factory, the analog of the reference's
  * 23-type registry (reference docetl/operations/__init__.py:27-51). Plugin
  * ops register with [[Registry.register]] (≅ the `docetl.operation`
  * entry-point group, __init__.py:54-76).
  */
object Registry {

  type Factory = (DataFrame, Conf, OpContext) => DataFrame

  private val factories = scala.collection.concurrent.TrieMap[String, Factory]()

  def register(tpe: String)(f: Factory): Unit = factories.put(tpe, f)
  def apply(tpe: String): Factory = factories.getOrElse(tpe,
    throw new IllegalArgumentException(
      s"unknown operator type '$tpe'; known: ${factories.keys.toSeq.sorted.mkString(", ")}"))
  def knownTypes: Seq[String] = factories.keys.toSeq.sorted

  private def schemaOf(c: Conf): Seq[(String, String)] =
    c.asOrderedMap.map { case (k, v) => k -> v.str }

  /** Per-op client wrapper for `timeout` (seconds, reference base.py) and
    * `max_retries_per_timeout`: the op's calls get their own retry/timeout
    * budget on top of whatever global stack the pipeline's `llm:` block
    * built. No keys -> the shared client, untouched. */
  private def opClient(c: Conf, base: graft.llm.LlmClient): graft.llm.LlmClient = {
    // Per-op structured-output mode (reference api.py:316-318 reads
    // op_config["output"]["mode"]; tools vs structured_output).
    val moded = c.get("output").flatMap(_.get("mode"))
      .map(m => base.withOutputMode(m.str)).getOrElse(base)
    (c.get("timeout"), c.get("max_retries_per_timeout")) match {
      case (None, None) => moded
      case (t, r) => graft.llm.RetryingClient(moded,
        timeoutMs = t.map(_.int * 1000L).getOrElse(120000L),
        maxRetries = r.map(_.int).getOrElse(2))
    }
  }

  private def mapConfig(name: String, c: Conf): SemanticMapConfig =
    SemanticMapConfig(
      name = name,
      prompt = c.strOr("prompt", ""),
      outputSchema = c.get("output").flatMap(_.get("schema")).map(schemaOf).getOrElse(Nil),
      model = c.strOr("model", "mock"),
      dropKeys = c.get("drop_keys").map(_.strList).getOrElse(Nil),
      limit = c.get("limit").map(_.int),
      batchSize = c.intOr("batch_size", 64),
      skipOnError = c.boolOr("skip_on_error", false),
      bypassCache = c.boolOr("bypass_cache", false),
      gleaning = c.get("gleaning").map(g => GleaningConfig(
        g("validation_prompt").str, g.intOr("num_rounds", 2), g.get("if").map(_.str))),
      enableObservability = c.boolOr("enable_observability", false),
      batchPrompt = c.boolOr("batch_prompt", false),
      callsPerMinute = c.dblOr("calls_per_minute", 0),
      calibrate = c.boolOr("calibrate", false),
      calibrateSampleSize = c.intOr("calibrate_sample_size", 5),
      binaryAttachCol = c.get("binary_attach").map(_.str),
      concurrency = c.get("concurrency").map(_.int))

  // ---- registrations (SURVEY.md §2 op inventory) ----

  register("code_map") { (df, c, _) =>
    CodeMap(df,
      c.get("outputs").map(_.asOrderedMap.map { case (k, v) => k -> v.str }).getOrElse(Nil),
      c.get("drop_keys").map(_.strList).getOrElse(Nil),
      c.get("limit").map(_.int))
  }
  register("code_filter") { (df, c, _) =>
    CodeFilter(df, c("predicate").str, c.get("limit").map(_.int))
  }
  register("code_reduce") { (df, c, _) =>
    CodeReduce(df, c("reduce_key").strList,
      c("aggs").asOrderedMap.map { case (k, v) => k -> v.str },
      c.strOr("name", "reduce"), c.boolOr("counts", true))
  }
  register("map") { (df, c, ctx) =>
    val base = mapConfig(c("name").str, c)
    c.get("retriever") match {
      case None => SemanticMap(df, base, opClient(c, ctx.client))
      case Some(r) =>
        // Retrieval-augmented map (reference map.py:404-411): retrieved
        // context is joined on as a column, and — like the reference when
        // the template doesn't use `retrieval_context` — prepended under a
        // standard header. Spark-first: the retriever is a distributed
        // top-k join against a corpus dataset, not a vector-store call.
        val name = c("name").str
        val corpus = ctx.datasets.getOrElse(r("corpus").str,
          throw new IllegalArgumentException(s"unknown retriever corpus '${r("corpus").str}'"))
        val ctxCol = s"_${name}_retrieved_context"
        val renderExpr = r.strOr("render_expr", r("corpus_text_key").str)
        val kk = r.intOr("k", 3)
        // Retrieval modes mirror reference lancedb.py ("fts" is BM25-backed
        // there, so `fts` routes to the inverted-index BM25 join here;
        // `term_overlap` keeps the statistics-free lexical scorer).
        val withCtx = r.strOr("method", "term_overlap") match {
          case "fts" | "bm25" =>
            RetrieverOp.byBm25(df, name, r("query_key").str,
              corpus, r("corpus_text_key").str, renderExpr, kk,
              maxPostingSize = r.get("max_posting_size").map(_.int))
          case "embedding" =>
            RetrieverOp.byEmbedding(df, name, r("query_key").str,
              corpus, r("corpus_embedding_key").str, renderExpr, kk,
              corpusGate = r.intOr("corpus_gate", 100000),
              nCentroids = r.intOr("n_centroids", 64),
              nProbe = r.intOr("n_probe", 8))
          case "hybrid" =>
            RetrieverOp.byHybrid(df, name, r("query_embedding_key").str,
              r("query_key").str, corpus, r("corpus_embedding_key").str,
              r("corpus_text_key").str, renderExpr, kk,
              corpusGate = r.intOr("corpus_gate", 100000),
              nCentroids = r.intOr("n_centroids", 64),
              nProbe = r.intOr("n_probe", 8))
          case _ =>
            RetrieverOp.byTermOverlap(df, name, r("query_key").str,
              corpus, r("corpus_text_key").str, renderExpr, kk,
              corpusGate = r.intOr("corpus_gate", 100000),
              maxPostingSize = r.get("max_posting_size").map(_.int))
        }
        val prompt =
          if (base.prompt.contains("retrieved_context")) base.prompt
          else s"Here is some extra context:\n{{ input.$ctxCol }}\n\n${base.prompt}"
        val out = SemanticMap(withCtx, base.copy(prompt = prompt), opClient(c, ctx.client))
        if (c.boolOr("save_retriever_output", false)) out else out.drop(ctxCol)
    }
  }
  register("filter") { (df, c, ctx) => SemanticFilter(df, mapConfig(c("name").str, c), opClient(c, ctx.client)) }
  register("parallel_map") { (df, c, ctx) =>
    ParallelMap(df, c("name").str,
      c("prompts").asList.map(p => ParallelMap.SubPrompt(
        p("prompt").str, schemaOf(p("schema")), p.strOr("model", "mock"))),
      ctx.client)
  }
  register("reduce") { (df, c, ctx) =>
    // `associative: true` (reference reduce.py config key): the group fold
    // is commutative+associative, so it runs as Spark partial aggregation —
    // map-side folds, merge prompts combine partials (no giant-group task).
    if (c.boolOr("associative", false))
      AssociativeSemanticReduce(df, AssociativeSemanticReduce.Config(
        name = c("name").str,
        reduceKeys = c("reduce_key").strList,
        memberExpr = c("member_expr").str,
        outputSchema = c.get("output").flatMap(_.get("schema")).map(schemaOf).getOrElse(Nil),
        model = c.strOr("model", "mock"),
        foldBatchSize = c.intOr("fold_batch_size", 20)), ctx.client)
    else
    SemanticReduce(df, SemanticReduce.Config(
      name = c("name").str,
      reduceKeys = c("reduce_key").strList,
      memberExpr = c("member_expr").str,
      orderKey = c("order_key").str,
      outputSchema = c.get("output").flatMap(_.get("schema")).map(schemaOf).getOrElse(Nil),
      model = c.strOr("model", "mock"),
      strategy = c.strOr("strategy", "batch"),
      foldBatchSize = c.intOr("fold_batch_size", 100),
      streamingFold = c.boolOr("streaming_fold", true),
      passThrough = c.get("pass_through").map(_.strList).getOrElse(Nil),
      lineage = c.boolOr("lineage", false),
      valueSampleSize = c.get("value_sample_size").map(_.int),
      valueSampleMode = c.strOr("value_sample_mode", "first_n"),
      valueSampleQuery = c.get("value_sample_query").map(_.str),
      valueSampleEmbedModel = c.strOr("value_sample_embed_model", "mock-embed"),
      limitSmallestGroups = c.get("limit").map(_.int),
      enableObservability = c.boolOr("enable_observability", false),
      gleaning = c.get("gleaning").map(g => GleaningConfig(
        g("validation_prompt").str, g.intOr("num_rounds", 2), g.get("if").map(_.str))),
      persistIntermediates = c.boolOr("persist_intermediates", false),
      skipOnError = c.boolOr("skip_on_error", false)), opClient(c, ctx.client))
  }
  register("resolve") { (df, c, ctx) =>
    val cfg = ResolveOp.Config(
      name = c("name").str,
      idKey = c("id_key").str,
      // with embedding blocking the block_expr is unused (candidates come
      // from LSH buckets) — allow omitting it
      blockExpr = c.strOr("block_expr", "NULL"),
      compareExpr = c("compare_expr").str,
      resolveKeys = c("resolve_keys").strList,
      model = c.strOr("comparison_model", c.strOr("model", "mock")),
      autoMatchOnBlockEquality = c.boolOr("auto_match", false),
      maxIter = c.intOr("max_iter", 20),
      limitComparisons = c.get("limit_comparisons").map(_.int),
      resolutionModel = c.get("resolution_model").map(_.str),
      maxPairsPerBucket = c.get("max_pairs_per_bucket").map(_.int.toLong),
      warnPairsPerBucket = c.get("warn_pairs_per_bucket").map(_.int.toLong)
        .getOrElse(graft.core.PairBudget.DefaultWarnPairs),
      cascade = c.get("cascade").map(cas => CascadeCompare.Config(
        proxyModel = cas.strOr("proxy_model", "proxy"),
        oracleModel = cas.strOr("oracle_model", "oracle"),
        targetPrecision = cas.dblOr("target_precision", 0.9),
        calibrationSize = cas.intOr("calibration_size", 100))))
    c.get("blocking") match {
      case Some(b) if b.strOr("method", "") == "embedding" =>
        ResolveOp.withEmbeddingBlocking(df, cfg, b("embedding_key").str, b("dim").int,
          ctx.client, b.dblOr("target_recall", 0.95), b.intOr("sample_size", 100))
      case Some(b) => throw new IllegalArgumentException(
        s"unknown resolve blocking method '${b.strOr("method", "")}' (embedding)")
      case None => ResolveOp(df, cfg, ctx.client)
    }
  }
  register("split") { (df, c, _) =>
    c.strOr("method", "token_count") match {
      case "token_count" => SplitOp.byTokenCount(df, c("name").str, c("split_key").str,
        c("num_tokens").int, c.strOr("doc_id_expr", "uuid()"))
      case "delimiter" => SplitOp.byDelimiter(df, c("name").str, c("split_key").str,
        c("delimiter").str, c.intOr("num_splits_to_group", 1), c.strOr("doc_id_expr", "uuid()"))
      case m => throw new IllegalArgumentException(s"unknown split method $m")
    }
  }
  register("gather") { (df, c, _) =>
    c.get("peripheral_chunks") match {
      case Some(p) =>
        // Reference config shape (gather.py:26-43): previous/next each with
        // head/middle/tail sections carrying count and optional content_key.
        def spec(side: Option[Conf]): GatherOp.SectionSpec = side match {
          case None => GatherOp.SectionSpec()
          case Some(s) => GatherOp.SectionSpec(
            headCount = s.get("head").map(_.intOr("count", 0)).getOrElse(0),
            headContentKey = s.get("head").flatMap(_.get("content_key")).map(_.str),
            hasMiddle = s.get("middle").isDefined,
            middleContentKey = s.get("middle").flatMap(_.get("content_key")).map(_.str),
            tailCount = s.get("tail").map(_.intOr("count", 0)).getOrElse(0),
            tailContentKey = s.get("tail").flatMap(_.get("content_key")).map(_.str))
        }
        GatherOp.withPeripheralSections(df, c("content_key").str,
          c("doc_id_key").str, c("order_key").str,
          previous = spec(p.get("previous")), next = spec(p.get("next")),
          mainChunkStart = c.strOr("main_chunk_start", "--- Begin Main Chunk ---"),
          mainChunkEnd = c.strOr("main_chunk_end", "--- End Main Chunk ---"),
          docHeaderKey = c.get("doc_header_key").map(_.str))
      case None =>
        GatherOp(df, c("content_key").str, c("doc_id_key").str, c("order_key").str,
          c.intOr("previous_count", 1), c.intOr("next_count", 1))
    }
  }
  register("unnest") { (df, c, _) =>
    c.get("expand_fields") match {
      case Some(f) => UnnestOp.struct(df, c("unnest_key").str, f.strList)
      case None => UnnestOp.list(df, c("unnest_key").str,
        c.boolOr("keep_empty", false), c.boolOr("recursive", false), c.intOr("depth", 1))
    }
  }
  register("unnest_columns") { (df, c, _) =>
    UnnestColumnsOp(df, c("column").str, c.get("keys").map(_.strList))
  }
  register("sample") { (df, c, ctx) =>
    c("method").str match {
      case "first" => SampleOp.first(df, c("samples").int, c("order_by").strList)
      // exact-fraction stratified sample: floor(fraction × n) per stratum
      case "stratified_exact" => SampleOp.stratifiedExact(df,
        c("stratify_key").str, c("fraction").dbl, c("key_expr").str)
      // stratify_key composes with uniform (reference sample.py:279-339):
      // samples_per_group -> exact n per stratum; samples -> proportional
      // allocation across strata. Both need a numeric key_expr for the
      // portable deterministic pick.
      case "uniform" if c.get("stratify_key").isDefined =>
        (c.get("samples_per_group"), c.get("samples")) match {
          case (Some(n), _) => SampleOp.stratifiedUniform(df, c("stratify_key").str,
            c("key_expr").str, n.int, c.intOr("random_state", 0).toLong)
          case (None, Some(t)) => SampleOp.stratifiedProportional(df, c("stratify_key").str,
            c("key_expr").str, t.int, c.intOr("random_state", 0).toLong)
          case _ => throw new IllegalArgumentException(
            "stratified uniform sampling needs samples_per_group or samples")
        }
      case "weighted" => SampleOp.stratifiedWeighted(df, c("stratify_key").str,
        c("key_expr").str, c("samples").int,
        c("weights").asOrderedMap.map { case (k, v) => k -> v.dbl }.toMap,
        c.intOr("random_state", 0).toLong)
      case "weighted_epochs" => SampleOp.stratifiedWeightedEpochs(df,
        c("stratify_key").str, c("key_expr").str, c("samples").int,
        c("weights").asOrderedMap.map { case (k, v) => k -> v.dbl }.toMap,
        c.intOr("random_state", 0).toLong, c.intOr("max_epochs", 4))
      case "temperature" => SampleOp.stratifiedTemperature(df,
        c("stratify_key").str, c("key_expr").str, c("samples").int,
        c.dblOr("alpha", 0.3), c.intOr("random_state", 0).toLong)
      case "weighted_rows" => SampleOp.weightedByRow(df, c("weight_expr").str,
        c("samples").int, c("key_expr").str, c.intOr("random_state", 0).toLong)
      case "uniform" => SampleOp.uniform(df, c("fraction").dbl, c.intOr("random_state", 42))
      case "hash" => SampleOp.uniformHash(df, c("key_expr").str, c("fraction").dbl,
        c.intOr("random_state", 0))
      case "stratified" => SampleOp.stratified(df, c("stratify_key").str,
        c("samples_per_group").int, c("order_by").strList)
      case "outliers" => SampleOp.outliers(df, c("embedding_key").str,
        c.get("std").map(_.dbl), c.get("samples").map(_.int),
        c.boolOr("keep", true), c.get("tie_break").map(_.strList).getOrElse(Nil))
      // reference sample.py:34 exposes retrieval as sampling methods too;
      // these alias the topk family (with stratify_key -> per-group top-k).
      case "top_embedding" =>
        val tb = c.get("tie_break").map(_.strList).getOrElse(Nil)
        val qv = c("query_vector").asList.map(_.dbl).toArray
        c.get("stratify_key") match {
          case Some(sk) => TopKOp.embeddingStratified(df, c("embedding_key").str,
            qv, c("samples").int, sk.str, tb).drop("_score")
          case None => TopKOp.embedding(df, c("embedding_key").str,
            qv, c("samples").int, tb).drop("_score")
        }
      case "top_fts" => TopKOp.bm25(df, c("text_key").str,
        c("query").str.split("\\s+").toSeq, c("samples").int,
        c.get("tie_break").map(_.strList).getOrElse(Nil)).drop("_score")
      case "custom" =>
        // `samples:` is an inline list of key-subset rows (reference
        // sample.py:262,:49-51); values arrive as YAML scalars and cast to
        // the matched columns' types, then keep = broadcast semi-join.
        val samplesList = c("samples").asList
        require(samplesList.nonEmpty, "custom sampling needs a non-empty `samples` list")
        val keys = samplesList.head.asOrderedMap.map(_._1)
        // Null YAML values stay SQL NULL (String.valueOf would turn them
        // into the literal string "null"). Note a NULL key never matches in
        // the semi-join — SQL equality semantics, same as the reference's
        // pandas merge dropping NaN keys.
        val rows = samplesList.map(m =>
          org.apache.spark.sql.Row(keys.map { k =>
            m(k).value match { case null => null; case v => String.valueOf(v) }
          }: _*))
        val strSchema = org.apache.spark.sql.types.StructType(keys.map(k =>
          org.apache.spark.sql.types.StructField(k, org.apache.spark.sql.types.StringType)))
        val sdf0 = ctx.spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), strSchema)
        val sdf = keys.foldLeft(sdf0)((d, k) =>
          d.withColumn(k, org.apache.spark.sql.functions.col(k).cast(df.schema(k).dataType)))
        SampleOp.custom(df, sdf)
      case m => throw new IllegalArgumentException(s"unknown sample method $m")
    }
  }
  register("topk") { (df, c, ctx) =>
    val tieBreak = c.get("tie_break").map(_.strList).getOrElse(Nil)
    c("method").str match {
      case "embedding" => c.get("stratify_key") match {
        case Some(sk) => TopKOp.embeddingStratified(df, c("embedding_key").str,
          c("query_vector").asList.map(_.dbl).toArray, c("k").int, sk.str, tieBreak)
        case None => TopKOp.embedding(df, c("embedding_key").str,
          c("query_vector").asList.map(_.dbl).toArray, c("k").int, tieBreak)
      }
      case "fts" => c.get("stratify_key") match {
        case Some(sk) => TopKOp.bm25Stratified(df, c("text_key").str,
          c("query").str.split("\\s+").toSeq, c("k").int, sk.str, tieBreak)
        case None => TopKOp.bm25(df, c("text_key").str,
          c("query").str.split("\\s+").toSeq, c("k").int, tieBreak)
      }
      case "llm_compare" => TopKOp.llmCompare(df, c("name").str, c("prompt").str,
        c("k").int, ctx.client, c.strOr("model", "mock"), tieBreak)
      case m => throw new IllegalArgumentException(s"unknown topk method $m")
    }
  }
  register("rank") { (df, c, ctx) =>
    val tieBreak = c.get("tie_break").map(_.strList).getOrElse(Nil)
    c("method").str match {
      case "embedding" => RankOp.byEmbedding(df, c("embedding_key").str,
        c("query_vector").asList.map(_.dbl).toArray, c.strOr("direction", "desc"),
        tieBreak)
      case "likert" => RankOp.byLikert(df, c("name").str, c("prompt").str, ctx.client,
        c.strOr("model", "mock"), c.strOr("direction", "desc"), tieBreak)
      case "calibrated" => RankOp.byCalibratedEmbedding(df, c("name").str,
        c("embedding_key").str, c("prompt_expr").str, ctx.client,
        c.strOr("model", "mock"), c.intOr("sample_size", 10),
        c.strOr("direction", "desc"), tieBreak)
      case "pairwise" => RankOp.byPairwise(df, c("name").str, c("id_key").str,
        c("render_expr").str, ctx.client, c.strOr("model", "mock"), tieBreak,
        c.strOr("block_expr", ""), c.intOr("max_rows", 1000))
      case "sliding_window" => RankOp.bySlidingWindow(df, c("name").str,
        c("embedding_key").str, c("query_vector").asList.map(_.dbl).toArray,
        c("render_expr").str, ctx.client, c.strOr("model", "mock"),
        c.intOr("k", 50), c.intOr("batch_size", 10),
        c.strOr("direction", "desc"), tieBreak)
      case m => throw new IllegalArgumentException(s"unknown rank method $m")
    }
  }
  register("extract") { (df, c, ctx) =>
    c.strOr("extraction_method", "regex") match {
      case "regex" =>
        // document_keys (list) or document_key (single) — reference
        // extract.py takes a list.
        val keys = c.get("document_keys").map(_.strList)
          .getOrElse(Seq(c("document_key").str))
        ExtractOp.regexMulti(df, c("name").str, keys,
          c("pattern").str, c.boolOr("format_extraction", true),
          c.get("extraction_key_suffix").map(_.str))
      case "line_number" =>
        val keys = c.get("document_keys").map(_.strList)
          .getOrElse(Seq(c("document_key").str))
        ExtractOp.lineNumberMulti(df, c("name").str, keys,
          c("prompt").str, ctx.client, c.strOr("model", "mock"))
      case m => throw new IllegalArgumentException(s"unknown extraction method $m")
    }
  }
  register("add_uuid") { (df, c, _) =>
    AddUuid(df, c("name").str, c.get("id_key").map(_.str))
  }
  register("cluster") { (df, c, ctx) =>
    val sPrompt = c.get("summary_prompt").map(_.str)
    val sSchema = c.get("summary_schema").map(schemaOf).getOrElse(Seq("summary" -> "str"))
    c.strOr("method", "flat") match {
      case "flat" => ClusterOp(df, c("embedding_key").str, c("render_expr").str,
        c.intOr("num_clusters", 8), ctx.client, c.strOr("model", "mock"),
        c.strOr("output_key", "clusters"),
        summaryPrompt = sPrompt, summarySchema = sSchema)
      case "hierarchical" => ClusterOp.hierarchical(df, c("embedding_key").str,
        c("render_expr").str, c.intOr("depth", 3), ctx.client,
        c.strOr("model", "mock"), c.strOr("output_key", "clusters"),
        c.intOr("max_summary_members", 10), c.intOr("seed", 42).toLong,
        c.get("collapse").map(_.dbl), c.intOr("sample_size_per_node", 1000),
        summaryPrompt = sPrompt, summarySchema = sSchema)
      case m => throw new IllegalArgumentException(s"unknown cluster method $m (flat | hierarchical)")
    }
  }
  register("dedup") { (df, c, _) =>
    c("method").str match {
      case "exact" => graft.dedup.ExactDedup(df, c("text_key").str, c("tie_break").str)
      case "minhash" => graft.dedup.MinHashDedup(df, c("id_key").str, c("text_key").str,
        c.intOr("shingle_size", 3), c.intOr("num_perms", 64), c.intOr("num_bands", 16),
        c.dblOr("threshold", 0.8), c.get("max_bucket_size").map(_.int),
        c.get("max_bucket_head").map(_.int))
      case "semdedup" => graft.dedup.SemDedup.keepBest(df,
        c("id_key").str, c("embedding_key").str, c("n_clusters").int,
        c.dblOr("threshold", 0.95), c.strOr("quality_expr", ""),
        c.get("max_cluster_size").map(_.int),
        c.get("max_cluster_head").map(_.int))
      case "minhash_keep_best" => graft.dedup.MinHashDedup.keepBest(df,
        c("id_key").str, c("text_key").str, c.strOr("quality_expr", ""),
        c.intOr("shingle_size", 3), c.intOr("num_perms", 64),
        c.intOr("num_bands", 16), c.dblOr("threshold", 0.8),
        c.get("max_bucket_size").map(_.int), c.get("max_bucket_head").map(_.int))
      case "ngram_pairs" => graft.dedup.NgramJaccardDedup.pairs(df, c("id_key").str,
        c("text_key").str, c("block_expr").str, c.intOr("n", 3), c.dblOr("threshold", 0.5),
        c.get("max_posting_size").map(_.int), c.get("max_posting_head").map(_.int))
      case "ngram_containment" => graft.dedup.NgramJaccardDedup
        .containmentPairs(df, c("id_key").str, c("text_key").str,
          c("block_expr").str, c.intOr("n", 3), c.dblOr("threshold", 0.8),
          c.get("max_posting_size").map(_.int),
          c.get("max_posting_head").map(_.int))
      case "simhash_pairs" => graft.dedup.SimHashDedup.candidatePairs(df,
        c("id_key").str, c("text_key").str, c.intOr("max_hamming", 3),
        c.get("max_bucket_size").map(_.int), c.get("max_bucket_head").map(_.int))
      case "embedding_pairs" => graft.dedup.EmbeddingDedup.pairs(df, c("id_key").str,
        c("embedding_key").str, c("dim").int, c.intOr("num_planes", 8),
        c.dblOr("threshold", 0.95),
        maxBucketSize = c.get("max_bucket_size").map(_.int),
        maxBucketHead = c.get("max_bucket_head").map(_.int))
      case "edit_keep_best" => graft.dedup.EditDedup.keepBest(df,
        c("id_key").str, c("text_key").str, c.intOr("threshold", 2),
        c.strOr("quality_expr", ""))
      // components export — persist once, feed dedup_report / the
      // component-accepting keepBest/audit overloads
      case "edit_components" => graft.dedup.EditDedup.components(df,
        c("id_key").str, c("text_key").str, c.intOr("threshold", 2))
      case "minhash_components" => graft.dedup.MinHashDedup.components(
        df, c("id_key").str, c("text_key").str,
        c.intOr("shingle_size", 3), c.intOr("num_perms", 64),
        c.intOr("num_bands", 16), c.dblOr("threshold", 0.8),
        c.get("max_bucket_size").map(_.int),
        c.get("max_bucket_head").map(_.int))
      case "edit_audit" => graft.dedup.EditDedup.audit(df,
        c("id_key").str, c("text_key").str, c.intOr("threshold", 2),
        c.strOr("quality_expr", ""))
      case "minhash_audit" => graft.dedup.MinHashDedup.audit(df,
        c("id_key").str, c("text_key").str, c.strOr("quality_expr", ""),
        c.intOr("shingle_size", 3), c.intOr("num_perms", 64),
        c.intOr("num_bands", 16), c.dblOr("threshold", 0.8),
        c.get("max_bucket_size").map(_.int),
        c.get("max_bucket_head").map(_.int))
      case m => throw new IllegalArgumentException(s"unknown dedup method $m")
    }
  }
  // Training-data prep beyond the reference surface: benchmark
  // decontamination, greedy sequence packing, corpus tf-idf.
  // `method: ngram` (default — exact 8-gram overlap) or `method:
  // embedding` (the semantic arm the n-gram family structurally
  // misses: rephrased benchmark items — Yang et al. 2023).
  register("decontaminate") { (df, c, ctx) =>
    val bench = ctx.datasets.getOrElse(c("benchmark").str,
      throw new IllegalArgumentException(
        s"unknown decontaminate benchmark dataset '${c("benchmark").str}'"))
    val mode = c.strOr("mode", "clean")
    c.strOr("method", "ngram") match {
      case "ngram" =>
        val benchKey = c.strOr("benchmark_text_key", c("text_key").str)
        mode match {
          case "clean" => graft.dedup.Decontaminate.clean(df,
            c("id_key").str, c("text_key").str, bench, benchKey,
            c.intOr("n", 8), c.boolOr("broadcast_benchmark", true))
          case "hits" => graft.dedup.Decontaminate.hits(df,
            c("id_key").str, c("text_key").str, bench, benchKey,
            c.intOr("n", 8), c.boolOr("broadcast_benchmark", true))
          case m => throw new IllegalArgumentException(
            s"unknown decontaminate mode $m (clean | hits)")
        }
      case "embedding" =>
        val emb = c.strOr("embedding_key", "embedding")
        val bid = c.strOr("benchmark_id_key", c("id_key").str)
        val bemb = c.strOr("benchmark_embedding_key", emb)
        val thr = c.dblOr("threshold", 0.95)
        val maxBench = c.intOr("max_bench_rows", 100000)
        mode match {
          case "clean" => graft.dedup.Decontaminate.embeddingClean(df,
            c("id_key").str, emb, bench, bid, bemb, thr, maxBench)
          case "hits" => graft.dedup.Decontaminate.embeddingHits(df,
            c("id_key").str, emb, bench, bid, bemb, thr, maxBench)
          case m => throw new IllegalArgumentException(
            s"unknown decontaminate mode $m (clean | hits)")
        }
      case m => throw new IllegalArgumentException(
        s"decontaminate method must be ngram|embedding, got '$m'")
    }
  }
  // Fixed-memory bloom variant of decontaminate/dedup_against (§2.14):
  // the reference collapses to an m-bit filter instead of a broadcast gram
  // set or a band join — memory is config-bounded at ANY reference size.
  register("bloom_decontaminate") { (df, c, ctx) =>
    val ref = ctx.datasets.getOrElse(c("reference").str,
      throw new IllegalArgumentException(
        s"unknown bloom_decontaminate reference dataset '${c("reference").str}'"))
    val refKey = c.strOr("reference_text_key", c("text_key").str)
    val m = c.get("bits").map(_.long).getOrElse(1L << 22)
    val k = c.intOr("hashes", 3)
    c.strOr("mode", "clean") match {
      case "clean" => graft.dedup.BloomFilter.cleanAgainstReference(df,
        c("id_key").str, c("text_key").str, ref, refKey, c.intOr("n", 4),
        m, k, c.get("max_hits").map(_.long).getOrElse(0L))
      case "hits" => graft.dedup.BloomFilter.gramHits(df, c("id_key").str,
        c("text_key").str, ref, refKey, c.intOr("n", 4), m, k)
      case mo => throw new IllegalArgumentException(
        s"unknown bloom_decontaminate mode $mo (clean | hits)")
    }
  }
  // Incremental near-dup filter: the current step's rows against a named
  // REFERENCE dataset (prior dumps / already-ingested corpus).
  register("dedup_against") { (df, c, ctx) =>
    val ref = ctx.datasets.getOrElse(c("reference").str,
      throw new IllegalArgumentException(
        s"unknown dedup_against reference dataset '${c("reference").str}'"))
    val refId = c.strOr("reference_id_key", c("id_key").str)
    val refText = c.strOr("reference_text_key", c("text_key").str)
    val (shingle, perms, bands) = (c.intOr("shingle_size", 3),
      c.intOr("num_perms", 64), c.intOr("num_bands", 16))
    val (thr, cap, head) = (c.dblOr("threshold", 0.8),
      c.get("max_bucket_size").map(_.int), c.get("max_bucket_head").map(_.int))
    // precomputed: the reference dataset IS a stored signatureTable
    // (written once per ingested dump), not raw text.
    val pairs =
      if (c.boolOr("precomputed", false))
        graft.dedup.MinHashDedup.crossPairsPrecomputed(df, c("id_key").str,
          c("text_key").str, ref, shingle, perms, bands, thr, cap, head)
      else
        graft.dedup.MinHashDedup.crossPairs(df, c("id_key").str,
          c("text_key").str, ref, refId, refText,
          shingle, perms, bands, thr, cap, head)
    c.strOr("mode", "clean") match {
      case "clean" =>
        graft.dedup.MinHashDedup.cleanFromPairs(df, c("id_key").str, pairs)
      case "pairs" => pairs
      case m => throw new IllegalArgumentException(
        s"unknown dedup_against mode $m (clean | pairs)")
    }
  }
  register("contamination_report") { (df, c, ctx) =>
    val bench = ctx.datasets.getOrElse(c("benchmark").str,
      throw new IllegalArgumentException(
        s"unknown contamination_report benchmark dataset '${c("benchmark").str}'"))
    graft.dedup.Decontaminate.benchmarkHits(df, c("text_key").str,
      bench, c("benchmark_id_key").str,
      c.strOr("benchmark_text_key", c("text_key").str), c.intOr("n", 8))
  }
  // Unified hard-negative surface: `method: embedding` (default,
  // label-mismatch cosine top-k), `embedding_ivf` (same semantics over
  // an IVF coarse quantizer — bit-identical at n_probe = n_cells),
  // or `bm25` (the DPR lexical recipe; `hard_negatives_bm25` stays
  // registered as an alias for that arm).
  register("hard_negatives")(hardNegativesOp(None))
  register("hard_negatives_bm25")(hardNegativesOp(Some("bm25")))

  private def hardNegativesOp(forceMethod: Option[String]): Factory =
    (df, c, ctx) => {
      def dataset(key: String): DataFrame = {
        val name = c(key).str
        ctx.datasets.getOrElse(name, throw new IllegalArgumentException(
          s"unknown hard_negatives dataset '$name'"))
      }
      forceMethod.getOrElse(c.strOr("method", "embedding")) match {
        case "embedding" =>
          graft.ann.Ann.hardNegatives(
            dataset("corpus"), c.strOr("corpus_id_key", c("id_key").str),
            c.strOr("corpus_embedding_key", c("embedding_key").str),
            c.strOr("corpus_label_key", c("label_key").str),
            df, c("id_key").str, c("embedding_key").str,
            c("label_key").str, c.intOr("k", 10))
        case "embedding_ivf" =>
          graft.ann.Ann.hardNegativesIvf(
            dataset("corpus"), c.strOr("corpus_id_key", c("id_key").str),
            c.strOr("corpus_embedding_key", c("embedding_key").str),
            c.strOr("corpus_label_key", c("label_key").str),
            df, c("id_key").str, c("embedding_key").str,
            c("label_key").str, c.intOr("k", 10),
            c.intOr("n_cells", 256), c.intOr("n_probe", 8),
            c.intOr("seed", 42).toLong)
        case "bm25" =>
          HardNegatives.mine(df, c("qid_key").str, c("qtext_key").str,
            dataset("positives_from"), c.strOr("pos_qid_key", "qid"),
            c.strOr("pos_doc_key", "doc_id"),
            dataset("corpus_from"), c.strOr("doc_id_key", "doc_id"),
            c("text_key").str, c.intOr("negatives", 5),
            c.dblOr("k1", 1.2), c.dblOr("b", 0.75),
            c.get("max_posting_size").map(_.int))
        case other => throw new IllegalArgumentException(
          "hard_negatives method must be embedding|embedding_ivf|bm25, " +
            s"got '$other'")
      }
    }
  register("normalize_text") { (df, c, _) =>
    val key = c("text_key").str
    val out = c.strOr("output_key", key)
    val src = org.apache.spark.sql.functions.col(key)
    df.withColumn(out,
      if (c.boolOr("clean", true)) graft.functions.TextFunctions.cleanText(src)
      else graft.functions.TextFunctions.normalize(src, c.strOr("form", "NFC")))
  }
  register("assign_split") { (df, c, _) =>
    SampleOp.assignSplit(df,
      org.apache.spark.sql.functions.expr(c("group_key_expr").str),
      c("splits").asOrderedMap.map { case (k, v) => k -> v.dbl }.toSeq,
      c.intOr("random_state", 0).toLong)
  }
  register("pack") { (df, c, _) =>
    c.strOr("strategy", "greedy") match {
      case "greedy" => PackOp(df, c("group_keys").strList,
        c("order_key").str, c("token_expr").str, c("budget").long)
      case "best_fit" => PackOp.packBestFit(df, c("group_keys").strList,
        c("order_key").str, c("token_expr").str, c("budget").long)
      case other => throw new IllegalArgumentException(
        s"pack strategy must be greedy|best_fit, got '$other'")
    }
  }
  register("chunk_fixed") { (df, c, _) =>
    PackOp.chunkFixed(df, c("group_keys").strList, c("order_key").str,
      c("token_expr").str, c("seq_len").long)
  }
  register("tfidf") { (df, c, _) =>
    TfIdfOp.topTerms(df, c("id_key").str, c("text_key").str, c.intOr("k", 10))
  }
  register("unigram_surprisal") { (df, c, _) =>
    UnigramScore(df, c("id_key").str, c("text_key").str)
  }
  // CCNet head/middle/tail perplexity bucketing (§2.14).
  register("ppl_buckets") { (df, c, _) =>
    UnigramScore.ccnetBuckets(df, c("id_key").str, c("text_key").str,
      c.intOr("n_buckets", 3))
  }
  register("interleave") { (df, c, _) =>
    InterleaveOp(df, c("stratify_key").str, c("order_expr").str,
      c.strOr("output_key", "interleave_rank"))
  }
  register("shuffle") { (df, c, _) =>
    InterleaveOp.shuffle(df, c("id_expr").str, c("seed").long,
      c.strOr("output_key", "shuffle_rank"))
  }
  register("redact_pii") { (df, c, _) =>
    val key = c("text_key").str
    df.withColumn(c.strOr("output_key", key),
      graft.functions.TextFunctions.redactPii(org.apache.spark.sql.functions.col(key)))
  }
  // Checksum-gated card redaction (§2.14 curation): only LUHN-VALID
  // candidates redact — a 16-digit order id stops reading as a card.
  register("redact_cc") { (df, c, _) =>
    val key = c("text_key").str
    df.withColumn(c.strOr("output_key", key),
      graft.functions.TextFunctions.redactCreditCards(
        org.apache.spark.sql.functions.col(key), c.strOr("token", "<CC>")))
  }
  // Checksum-gated IBAN redaction (§2.14 curation): only MOD-97-VALID
  // candidates redact — random uppercase order codes pass through.
  register("redact_iban") { (df, c, _) =>
    val key = c("text_key").str
    df.withColumn(c.strOr("output_key", key),
      graft.functions.TextFunctions.redactIbans(
        org.apache.spark.sql.functions.col(key),
        c.strOr("token", "<IBAN>")))
  }
  register("dedup_lines") { (df, c, _) =>
    val f =
      if (c.boolOr("replace_text", true)) graft.dedup.LineDedup.apply _
      else graft.dedup.LineDedup.clean _
    f(df, c("id_key").str, c("text_key").str, c.strOr("delimiter", "\n"),
      c.get("max_doc_freq").map(_.long).getOrElse(1000L))
  }
  register("dedup_spans") { (df, c, _) =>
    val f =
      if (c.boolOr("replace_text", true)) graft.dedup.SpanDedup.apply _
      else graft.dedup.SpanDedup.clean _
    f(df, c("id_key").str, c("text_key").str, c.intOr("n", 50),
      c.strOr("delimiter", " "))
  }
  register("bigram_surprisal") { (df, c, _) =>
    BigramScore(df, c("id_key").str, c("text_key").str,
      c.dblOr("lambda", 0.75))
  }
  register("url_filter") { (df, c, ctx) =>
    c.get("blocklist") match {
      case Some(name) =>
        val bl = ctx.datasets.getOrElse(name.str,
          throw new IllegalArgumentException(
            s"unknown url_filter blocklist dataset '${name.str}'"))
        graft.functions.UrlFunctions.filterBlockedDomains(
          df, c("url_key").str, bl)
      case None =>
        graft.functions.UrlFunctions.filterBlockedDomains(
          df, c("url_key").str, c("blocked").strList)
    }
  }
  register("importance_weight") { (df, c, ctx) =>
    val target = ctx.datasets.getOrElse(c("target").str,
      throw new IllegalArgumentException(
        s"unknown importance_weight target dataset '${c("target").str}'"))
    ImportanceWeightOp.logRatio(df, c("id_key").str, c("text_key").str,
      target, c.strOr("target_text_key", c("text_key").str),
      c.strOr("output_key", "importance_weight"))
  }
  // Z-order layout key (§2.14): multi-dimension file-skipping sort key.
  // With `num_files` it also range-partitions + sorts (the full layout
  // pass); without, it just appends the z-value column.
  register("zorder") { (df, c, _) =>
    val cols = c("cols").strList
    val bits = c.intOr("bits", 8)
    val out = c.strOr("output_key", "zvalue")
    c.get("num_files") match {
      case Some(n) => ZOrder.layout(df, cols, n.int, bits, out)
      case None => ZOrder.zvalue(df, cols, bits, out)
    }
  }
  // Gopher/MassiveText-style rule filter (§2.14 engine extension). With
  // `signals_only: true` it appends the audit columns instead of filtering.
  register("quality_rules") { (df, c, _) =>
    val cfg = QualityRules.Config(
      minWords = c.intOr("min_words", 50).toLong,
      maxWords = c.intOr("max_words", 100000).toLong,
      minAvgWordLen = c.dblOr("min_avg_word_len", 3.0),
      maxAvgWordLen = c.dblOr("max_avg_word_len", 10.0),
      maxDupWordFrac = c.dblOr("max_dup_word_frac", 0.95),
      maxTop2gramFrac = c.dblOr("max_top_2gram_frac", 0.2),
      minDistinctStopwords = c.intOr("min_distinct_stopwords", 2),
      stopwords = c.get("stopwords").map(_.strList)
        .getOrElse(graft.functions.TextFunctions.EnglishStopwords))
    if (c.boolOr("signals_only", false))
      QualityRules.signals(df, c("text_key").str, cfg)
    else QualityRules.filter(df, c("text_key").str, cfg)
  }
  // URL canonicalization / host+domain parse (§2.14 curation). With
  // `stats: true` it emits the per-registered-domain quota table instead.
  // `suffixes: [com, co.uk, ...]` swaps the built-in domain heuristic for
  // an explicit public-suffix table (longest match, broadcast joins).
  register("url_parse") { (df, c, _) =>
    val sfx = c.get("suffixes").map { s =>
      val spark = df.sparkSession
      import spark.implicits._
      s.strList.toDF("suffix")
    }
    if (c.boolOr("stats", false)) UrlOps.hostStats(df, c("url_key").str, sfx)
    else {
      val parsed = UrlOps.parse(df, c("url_key").str)
      sfx.fold(parsed)(
        UrlOps.registeredDomainViaTable(parsed, "host", _, "domain"))
    }
  }
  // BPE tokenizer-training statistics (§2.14): corpus-weighted adjacent
  // symbol-pair counts — one corpus-sized word count, then vocab-only work.
  register("bpe_pairs") { (df, c, _) =>
    BpeTrain.pairCounts(df, c("text_key").str)
  }
  // Full BPE vocabulary induction (§2.14): `num_merges` iterations of
  // (pair count -> argmax -> fuse) on the vocab table; emits the
  // (rank, left, right, pair_cnt) merge table. `merges_per_round` > 1
  // batches disjoint top-k picks per Spark job (documented approximation
  // of strict Sennrich order — see BpeTrain.train).
  // `level: byte` switches to GPT-2 parity (regex pretokenizer + byte
  // alphabet); default stays the whitespace/char-level arm.
  register("bpe_train") { (df, c, _) =>
    val trainer =
      if (c.strOr("level", "word") == "byte") BpeTrain.trainByteLevel _
      else BpeTrain.train _
    BpeTrain.mergeTable(df.sparkSession,
      trainer(df, c("text_key").str, c("num_merges").int,
        c.intOr("merges_per_round", 1)))
  }
  /** Inline `merges: [[l, r], ...]` list, or train on THIS frame via
    * `num_merges` — returns (merges, trained). Shared by bpe_encode and
    * tokenizer_stats so their parsing cannot drift. */
  private def mergesFromConf(df: org.apache.spark.sql.DataFrame,
      c: Conf): (Seq[BpeTrain.Merge], Boolean) = c.get("merges") match {
    case Some(ms) => (ms.asList.map { m =>
      val pair = m.strList
      require(pair.size == 2, s"each merge must be [left, right], got $pair")
      BpeTrain.Merge(pair(0), pair(1), 0L)
    }, false)
    case None =>
      val trainer =
        if (c.strOr("level", "word") == "byte") BpeTrain.trainByteLevel _
        else BpeTrain.train _
      (trainer(df, c("text_key").str, c("num_merges").int, 1), true)
  }
  // BPE tokenizer APPLY (§2.14): merges either given inline
  // (`merges: [[l, r], ...]`) or trained on THIS frame (`num_merges`).
  // `greedy: true` uses the broadcast rank-map encoder (the 32k-merge
  // path); default is the pure expression chain for bounded lists.
  // TRAINED merge lists auto-switch to greedy past 256 merges: greedy
  // (lowest-rank-present) and sequential (rank-order) encoding are
  // provably equivalent for training-ordered lists, where each pair's
  // symbols are built only from lower-rank merges. An arbitrary INLINE
  // list carries no such guarantee (a later merge can create an
  // occurrence of an earlier-rank pair, which greedy re-applies but the
  // expression chain never does), so inline lists never auto-switch —
  // past 256 merges they must opt in with an explicit `greedy: true`,
  // asserting training order.
  register("bpe_encode") { (df, c, _) =>
    val text = c("text_key").str
    val byteLevel = c.strOr("level", "word") == "byte"
    // config validation BEFORE mergesFromConf — a bad flag must not
    // first pay a full corpus-sized training pass
    require(!byteLevel || c.boolOr("greedy", true),
      "byte-level bpe_encode is greedy by definition (the published " +
        "algorithm); `greedy: false` is not available with level: byte")
    val (merges, trained) = mergesFromConf(df, c)
    val out = c.strOr("output_key", "tokens")
    if (byteLevel)
      // byte-level encoding is DEFINED as greedy lowest-rank fusion —
      // the published GPT-2/tiktoken encode algorithm — so inline
      // merge lists need no training-order guard (greedy is the
      // contract, not an approximation of sequential application)
      BpeTrain.encodeByteLevelGreedy(df, text, merges, out)
    else {
      require(trained || merges.size <= 256 || c.get("greedy").isDefined,
        s"inline merge list of ${merges.size} entries (> 256) needs an " +
          "explicit `greedy: true|false` — greedy encoding is only " +
          "equivalent to sequential for training-ordered merge lists")
      if (c.boolOr("greedy", trained && merges.size > 256))
        BpeTrain.encodeGreedy(df, text, merges, out)
      else BpeTrain.encode(df, text, merges, out)
    }
  }
  // Mixture planning (§2.14 curation): per-domain sampling rates +
  // epoch counts for a target composition over a token budget.
  register("mixture_plan") { (df, c, _) =>
    val weights = c("weights").asMap.map { case (k, v) => k -> v.dbl }.toMap
    MixtureSolver.planFromCorpus(df, c("domain_key").str,
      c("token_expr").str, weights, c("total_budget").long)
  }
  // Largest-remainder exact budget apportionment (§2.14 curation): the
  // release-manifest allocator — quotas sum to the budget EXACTLY.
  register("apportion") { (df, c, _) =>
    MixtureSolver.apportion(df, c("domain_key").str,
      c.strOr("count_expr", "1"), c("budget").long)
  }
  // UniMax budget allocation (§2.14 curation, Chung et al. 2023):
  // as-uniform-as-possible per-domain budgets under an epoch cap.
  register("unimax") { (df, c, _) =>
    MixtureSolver.unimax(df, c("domain_key").str,
      c.strOr("count_expr", "1"), c("budget").long,
      c.intOr("max_epochs", 4))
  }
  // Response-grounding score (§2.14 SFT QA): distinct-n-gram precision
  // of a response column against its source column.
  register("grounding") { (df, c, _) =>
    Grounding(df, c("source_key").str, c("response_key").str,
      c.intOr("n", 2), c.strOr("output_key", "grounding_score"))
  }
  // Winnowing fingerprints (§2.14 dedup): MOSS-style rightmost-min window
  // selection; `mode: shared` emits the cross-document report.
  register("winnow") { (df, c, _) =>
    val (id, text) = (c("id_key").str, c("text_key").str)
    val (k, w) = (c.intOr("k", 5), c.intOr("w", 4))
    c.strOr("mode", "fingerprints") match {
      case "fingerprints" => graft.dedup.Winnow.fingerprints(df, id, text, k, w)
      case "shared" => graft.dedup.Winnow.sharedFingerprints(df, id, text, k, w,
        c.intOr("min_docs", 2).toLong)
      case "pairs" => graft.dedup.Winnow.matchPairs(df, id, text, k, w,
        c.get("max_posting_head").map(_.int).orElse(Some(64)))
      case other => throw new IllegalArgumentException(
        s"winnow mode must be fingerprints|shared|pairs, got '$other'")
    }
  }
  // Unigram-LM (SentencePiece-style) tokenizer training (§2.14 engine
  // extension, Kudo 2018): seed from substring-window counts, hard-EM
  // usage re-estimation, count-rank prune to target_size.
  // `em_iters: 0` emits the seed vocabulary itself.
  register("unigram_train") { (df, c, _) =>
    UnigramLm.train(df, c("text_key").str, c.intOr("max_piece_len", 8),
      c.intOr("seed_size", 2000), c.intOr("target_size", 800),
      c.intOr("em_iters", 2))
  }
  // Unigram-LM Viterbi encode: vocab from a dataset (`vocab_from`) or
  // trained on THIS frame with the unigram_train knobs.
  register("unigram_encode") { (df, c, ctx) =>
    val vocab = c.get("vocab_from") match {
      case Some(name) => ctx.datasets.getOrElse(name.str,
        throw new IllegalArgumentException(
          s"unknown unigram_encode dataset '${name.str}'"))
      case None => UnigramLm.train(df, c("text_key").str,
        c.intOr("max_piece_len", 8), c.intOr("seed_size", 2000),
        c.intOr("target_size", 800), c.intOr("em_iters", 2))
    }
    UnigramLm.encode(df, c("text_key").str, vocab,
      c.intOr("max_piece_len", 8))
  }
  // (`hard_negatives_bm25` is registered above as an alias of the
  // unified `hard_negatives` op's bm25 arm.)
  // Margin-based bitext mining (§2.14 training-pair prep, Artetxe &
  // Schwenk 2019): THIS frame = source embeddings; target from a
  // dataset ref. Ratio margin over both sides' k-NN, optional
  // mutual-best intersection. `method: brute` (default — the exact
  // correctness baseline) or `method: ivf` with n_cells/n_probe —
  // the 100 TB arm: per-side coarse quantizers feed the identical
  // margin arithmetic (bit-identical at n_probe = n_cells).
  // `mode: audit` swaps the mining output for the one-row
  // dropped-candidate report (the approximate-probing recall gauge).
  register("bitext_mine") { (df, c, ctx) =>
    val tgtName = c("target_from").str
    val tgt = ctx.datasets.getOrElse(tgtName,
      throw new IllegalArgumentException(
        s"unknown bitext_mine dataset '$tgtName'"))
    val id = c.strOr("id_key", "id")
    val emb = c.strOr("embedding_key", "embedding")
    val tgtId = c.strOr("target_id_key", id)
    val tgtEmb = c.strOr("target_embedding_key", emb)
    val k = c.intOr("k", 4)
    val threshold = c.dblOr("threshold", 1.0)
    val mutualBest = c.boolOr("mutual_best", false)
    val mode = c.strOr("mode", "mine")
    require(mode == "mine" || mode == "audit",
      s"bitext_mine mode must be mine|audit, got '$mode'")
    // the audit counts candidates BEFORE any margin filtering, so a
    // threshold/mutual_best knob under mode: audit is a contradiction —
    // reject it rather than silently implying the report was filtered
    // (the repo's contradictory-knob convention)
    if (mode == "audit")
      for (k <- Seq("threshold", "mutual_best"); if c.get(k).isDefined)
        throw new IllegalArgumentException(
          s"bitext_mine: '$k' has no effect under mode: audit — the " +
            "audit counts unfiltered candidates; remove the knob")
    c.strOr("method", "brute") match {
      case "brute" =>
        if (mode == "audit")
          BitextMine.marginAudit(df, id, emb, tgt, tgtId, tgtEmb, k)
        else BitextMine.margin(df, id, emb, tgt, tgtId, tgtEmb,
          k, threshold, mutualBest)
      case "ivf" =>
        val (cells, probe, seed) = (c.intOr("n_cells", 256),
          c.intOr("n_probe", 8), c.intOr("seed", 42).toLong)
        if (mode == "audit")
          BitextMine.marginIvfAudit(df, id, emb, tgt, tgtId, tgtEmb,
            k, cells, probe, seed)
        else BitextMine.marginIvf(df, id, emb, tgt, tgtId, tgtEmb,
          k, threshold, mutualBest, cells, probe, seed)
      case other => throw new IllegalArgumentException(
        s"bitext_mine method must be brute|ivf, got '$other'")
    }
  }
  // k-anonymity audit (§2.14 privacy/reporting, Sweeney 2002):
  // re-identification risk over quasi-identifier columns. Default =
  // the one-row report; `mode: groups` emits the below-k worklist.
  register("k_anonymity") { (df, c, _) =>
    val cols = c("columns").strList
    val k = c("k").int
    c.strOr("mode", "report") match {
      case "report" => Profile.kAnonymity(df, cols, k)
      case "groups" => Profile.kAnonymityGroups(df, cols, k,
        c.intOr("limit", 1000))
      case other => throw new IllegalArgumentException(
        s"k_anonymity mode must be report|groups, got '$other'")
    }
  }
  // l-diversity (§2.14 privacy/reporting, Machanavajjhala 2006): the
  // layer k_anonymity misses — a big-enough class whose rows all share
  // one sensitive value still discloses it.
  register("l_diversity") { (df, c, _) =>
    val cols = c("columns").strList
    val sensitive = c("sensitive_key").str
    val l = c("l").int
    c.strOr("mode", "report") match {
      case "report" => Profile.lDiversity(df, cols, sensitive, l)
      case "groups" => Profile.lDiversityGroups(df, cols, sensitive, l,
        c.intOr("limit", 1000))
      case "entropy" => Profile.lDiversityEntropy(df, cols, sensitive, l)
      case other => throw new IllegalArgumentException(
        s"l_diversity mode must be report|groups|entropy, got '$other'")
    }
  }
  // t-closeness (§2.14 privacy/reporting, Li, Li & Venkatasubramanian
  // 2007): the layer l_diversity misses — a class with l distinct
  // sensitive values whose DISTRIBUTION diverges from the global one
  // still leaks. Categorical equal-distance EMD = total variation.
  // `method: categorical` (default — equal-distance EMD = total
  // variation) or `method: numeric` with `bins` (the paper's ordered
  // EMD over equal-width buckets — the salary example).
  register("t_closeness") { (df, c, _) =>
    val cols = c("columns").strList
    val sensitive = c("sensitive_key").str
    val t = c("t").dbl
    val mode = c.strOr("mode", "report")
    require(mode == "report" || mode == "groups",
      s"t_closeness mode must be report|groups, got '$mode'")
    c.strOr("method", "categorical") match {
      case "categorical" =>
        // bins only parameterizes the numeric (ordered-EMD) arm; a
        // categorical config carrying it is a miscopied YAML — reject
        // rather than silently audit at a different granularity than
        // the author believed
        require(c.get("bins").isEmpty,
          "t_closeness: 'bins' has no effect under method: categorical " +
            "(total variation needs no binning) — remove the knob or " +
            "set method: numeric")
        if (mode == "report") Profile.tCloseness(df, cols, sensitive, t)
        else Profile.tClosenessGroups(df, cols, sensitive, t,
          c.intOr("limit", 1000))
      case "numeric" =>
        val bins = c.intOr("bins", 16)
        if (mode == "report")
          Profile.tClosenessNumeric(df, cols, sensitive, t, bins)
        else Profile.tClosenessNumericGroups(df, cols, sensitive, t,
          bins, c.intOr("limit", 1000))
      case other => throw new IllegalArgumentException(
        s"t_closeness method must be categorical|numeric, got '$other'")
    }
  }
  // WordPiece tokenizer training (§2.14 engine extension, Schuster &
  // Nakajima 2012 / the BERT trainer): likelihood-ratio merges over
  // ##-prefixed continuation symbols; emits the (rank, left, right,
  // fused, counts, score) merge table.
  register("wordpiece_train") { (df, c, _) =>
    WordPiece.mergeTable(df.sparkSession,
      WordPiece.train(df, c("text_key").str, c.intOr("num_merges", 64),
        c.intOr("merges_per_round", 1)))
  }
  // WordPiece MaxMatch encode: piece vocabulary from a dataset
  // (`vocab_from`, a (piece) table) or trained on THIS frame.
  register("wordpiece_encode") { (df, c, ctx) =>
    val vocab = c.get("vocab_from") match {
      case Some(name) => ctx.datasets.getOrElse(name.str,
        throw new IllegalArgumentException(
          s"unknown wordpiece_encode dataset '${name.str}'"))
      case None =>
        val tk = c("text_key").str
        WordPiece.vocabTable(df, tk,
          WordPiece.train(df, tk, c.intOr("num_merges", 64),
            c.intOr("merges_per_round", 1)))
    }
    WordPiece.encode(df, c("text_key").str, vocab,
      c.strOr("unk", "[UNK]"), c.intOr("max_chars", 100))
  }
  // Naive Bayes classifier training (§2.14 scoring): fit a (label, token,
  // weight) model table on THIS frame's labeled rows.
  register("nb_train") { (df, c, _) =>
    NaiveBayes.train(df, c("label_key").str, c("text_key").str,
      c.dblOr("alpha", 1.0))
  }
  // Naive Bayes scoring (§2.14 scoring): model from a dataset ref
  // (`model: name`) or trained on THIS frame (`label_key`). Default
  // output = per-doc argmax (pred_label, nb_score); `scores: true` emits
  // the full (id, label, nb_score) grid.
  register("nb_classify") { (df, c, ctx) =>
    val model = c.get("model") match {
      case Some(name) => ctx.datasets.getOrElse(name.str,
        throw new IllegalArgumentException(
          s"unknown nb model dataset '${name.str}'"))
      case None => NaiveBayes.train(df, c("label_key").str,
        c("text_key").str, c.dblOr("alpha", 1.0))
    }
    val id = c("id_key").str
    if (c.boolOr("scores", false))
      NaiveBayes.scores(df, id, c("text_key").str, model)
    else {
      val pred = NaiveBayes.classify(df, id, c("text_key").str, model)
      // append by default: downstream pipeline steps keep their columns
      // (rows with no tokens get no prediction -> null pred_label)
      if (c.boolOr("append", true)) df.join(pred, Seq(id), "left") else pred
    }
  }
  // Real image-header metadata (§2.14 multimodal): width/height/format
  // parsed from raw PNG/GIF/BMP/JPEG header bytes — no codecs.
  register("image_header") { (df, c, _) =>
    graft.multimodal.ImageHeader.parse(df, c("binary_key").str,
      c.strOr("output_key", "image_header"))
  }
  // Real audio-header metadata (§2.14 multimodal): WAV/RIFF chunk walk
  // (channels/rate/bits/duration) + FLAC/OGG/MP3 magic routing.
  register("audio_header") { (df, c, _) =>
    graft.multimodal.AudioHeader.parse(df, c("binary_key").str,
      c.strOr("output_key", "audio_header"))
  }
  // Multimodal bytes -> feature-vector seam (§2.14): deterministic stub
  // kernel (md5 arithmetic, oracle-replayable), real batching/schema;
  // the output array<double> feeds the ANN / embedding-dedup arms.
  register("byte_features") { (df, c, _) =>
    graft.multimodal.BinaryOps.withByteFeatures(df, c("binary_key").str,
      c.intOr("dim", 8), c.strOr("output_key", "byte_features"))
  }
  // Embedding-space diagnostics (§2.14 ANN family): outlier scores
  // (default), per-slice centroids, or the slice-centroid similarity
  // matrix.
  register("embedding_stats") { (df, c, _) =>
    val slice = c("slice_key").str
    val emb = c("embedding_key").str
    c.strOr("mode", "outliers") match {
      case "outliers" => EmbeddingStats.outlierScores(df, slice, emb)
      case "centroids" => EmbeddingStats.sliceCentroids(df, slice, emb)
      case "matrix" => EmbeddingStats.centroidSimilarityMatrix(df, slice, emb)
      case other => throw new IllegalArgumentException(
        s"embedding_stats mode must be outliers|centroids|matrix, got '$other'")
    }
  }
  // Vocabulary coverage (§2.14 tokenizer family): OOV audit against an
  // external vocab dataset (single-column) or an inline `vocab_words`
  // list. `mode: top_oov` emits the vocab-extension worklist instead.
  register("vocab_coverage") { (df, c, ctx) =>
    val vocab = c.get("vocab") match {
      case Some(name) => ctx.datasets.getOrElse(name.str,
        throw new IllegalArgumentException(
          s"unknown vocab dataset '${name.str}'"))
      case None =>
        val spark = df.sparkSession
        import spark.implicits._
        c("vocab_words").strList.toDF("token")
    }
    c.strOr("mode", "report") match {
      case "report" => VocabCoverage.oovReport(df, c("id_key").str,
        c("text_key").str, vocab)
      case "top_oov" => VocabCoverage.topOovTokens(df, c("text_key").str,
        vocab, c.intOr("k", 100))
      case other => throw new IllegalArgumentException(
        s"vocab_coverage mode must be report|top_oov, got '$other'")
    }
  }
  // Sentence segmentation (§2.14 reshape family): `stats: true` appends
  // per-document sentence-shape signals instead of exploding rows.
  register("segment") { (df, c, _) =>
    if (c.boolOr("stats", false)) Segment.sentenceStats(df, c("text_key").str)
    else Segment.sentences(df, c("id_key").str, c("text_key").str)
  }
  // Cross-slice MinHash overlap matrix (§2.14 dedup family): pairwise
  // corpus-level Jaccard estimates between slices.
  register("corpus_overlap") { (df, c, _) =>
    CorpusOverlap.jaccardMatrix(df, c("slice_key").str, c("text_key").str,
      c.intOr("shingle_size", 3), c.intOr("num_hashes", 16))
  }
  // Token-budget truncation (§2.14 packing family): head | tail |
  // head_tail (middle-out, optional `marker`).
  register("truncate") { (df, c, _) =>
    Truncate(df, c("text_key").str, c("max_tokens").int,
      c.strOr("mode", "head"), c.strOr("marker", ""),
      c.strOr("output_key", "text_trunc"))
  }
  // Conversation normalization (§2.14 SFT prep): flat prompt/response
  // columns -> messages array (optional `system` string).
  register("conversation_from_pairs") { (df, c, _) =>
    ChatOps.fromPromptResponse(df, c("prompt_key").str, c("response_key").str,
      c.get("system").map(_.str), c.strOr("output_key", "messages"))
  }
  // Conversation-shape validation (§2.14 SFT prep): appends conv_valid +
  // conv_invalid_reason. `drop_invalid: true` filters instead.
  register("conversation_validate") { (df, c, _) =>
    // `parts: true` adds the part-level shape rules (no_parts /
    // unknown_part_type / empty_text_part) before the flat checks
    // `tools: true` validates the agentic tool-call state machine
    // (pending-call tracking, orphan/missing results)
    val out =
      if (c.boolOr("parts", false))
        ChatOps.validateParts(df, c("messages_key").str,
          c.get("allowed_types").map(_.strList)
            .getOrElse(Seq("text", "image", "audio", "video")))
      else if (c.boolOr("tools", false))
        ChatOps.validateTools(df, c("messages_key").str)
      else ChatOps.validate(df, c("messages_key").str)
    if (c.boolOr("drop_invalid", false))
      out.filter(org.apache.spark.sql.functions.col("conv_valid"))
        .drop("conv_valid", "conv_invalid_reason")
    else out
  }
  // Conversation budget trimming (§2.14 SFT prep): keep the longest
  // suffix of turns fitting a character budget (+ the leading system
  // message when keep_system).
  register("conversation_trim") { (df, c, _) =>
    ChatOps.trimToBudget(df, c("messages_key").str, c("budget").long,
      c.boolOr("keep_system", true),
      c.strOr("output_key", "messages_trimmed"))
  }
  // MinHash-LSH banding planner (§2.14 dedup tuning): the S-curve table
  // behind every (num_perms, num_bands) choice — zero corpus work.
  register("lsh_plan") { (df, c, _) =>
    c.get("bands") match {
      case Some(b) => graft.dedup.LshPlan.curve(df.sparkSession,
        c("num_perms").int, b.int,
        c("similarities").asList.map(_.dbl))
      case None => graft.dedup.LshPlan.choose(df.sparkSession,
        c("num_perms").int, c("threshold").dbl)
    }
  }
  // Conversation shape statistics (§2.14 SFT prep): the datacard band —
  // turns, role counts, char mass, ends-with-assistant. `parts: true`
  // reads typed content-part messages (text/image part counts + text
  // char mass) instead of flat content strings.
  register("conversation_stats") { (df, c, _) =>
    if (c.boolOr("parts", false)) ChatOps.statsParts(df, c("messages_key").str)
    else if (c.boolOr("tools", false))
      ChatOps.statsTools(df, c("messages_key").str)
    else ChatOps.stats(df, c("messages_key").str)
  }
  // Typed content parts -> flat content bridge (§2.14 multimodal chat):
  // text parts contribute text, non-text parts their placeholder; every
  // other message field survives (withField).
  register("conversation_parts_flatten") { (df, c, _) =>
    ChatOps.partsToContent(df, c("messages_key").str,
      partPlaceholders(c), c.strOr("output_key", "messages_flat"))
  }
  // Consecutive same-role turn merge (§2.14 SFT prep): the repair
  // between fromEventLog and validate's alternation rule.
  register("conversation_merge_roles") { (df, c, _) =>
    ChatOps.mergeConsecutiveRoles(df, c("messages_key").str,
      c.strOr("sep", "\n"),
      c.strOr("output_key", "messages_merged"))
  }
  // Truncation-budget report (§2.14 tensorization pre-flight): one row —
  // docs/tokens a hard cut at seq_len would lose.
  register("truncation_report") { (df, c, _) =>
    // `seq_lens: [..]` switches to the grid form (one row per L)
    c.get("seq_lens") match {
      case Some(ls) => PackOp.truncationCurve(df, c("len_expr").str,
        ls.asList.map(_.long))
      case None =>
        PackOp.truncationReport(df, c("len_expr").str, c("seq_len").long)
    }
  }
  // Count-min sketch self-estimation (§2.14 sketches): trains a
  // depth×width sketch over THIS frame's `key_key` values (optionally
  // weighted by `weight_key`) and appends each row's estimated frequency
  // — the fixed-memory heavy-hitter screen.
  register("cms_estimate") { (df, c, _) =>
    val key = c("key_key").str
    val sk = graft.sketch.CountMin.build(df, key,
      c.intOr("width", 1 << 14).toLong, c.intOr("depth", 4),
      c.strOr("weight_key", "1"))
    graft.sketch.CountMin.estimate(df, key, sk,
      c.strOr("output_key", "est_count"))
  }
  // Content-defined chunking + sub-document chunk dedup (§2.14 dedup
  // family). Modes: chunks (one row per chunk), dup_stats (cross-document
  // duplication report), rewrite (drop all but the first occurrence of
  // every chunk, rebuild text).
  register("cdc_chunk") { (df, c, _) =>
    val id = c("id_key").str
    val text = c("text_key").str
    val p = c.intOr("p", 16)
    c.strOr("mode", "chunks") match {
      case "chunks" => CdcChunk.explodeChunks(df, id, text, p)
      case "dup_stats" => CdcChunk.duplicateChunkStats(df, id, text, p,
        c.intOr("min_occurrences", 2).toLong)
      case "rewrite" => CdcChunk.removeDuplicateChunks(df, id, text, p,
        c.strOr("output_key", "text_dedup"))
      case other => throw new IllegalArgumentException(
        s"cdc_chunk mode must be chunks|dup_stats|rewrite, got '$other'")
    }
  }
  // distinct-n diversity per corpus slice (§2.14 corpus statistics).
  // `approx: true` (+ optional `rsd`) estimates the distinct-gram count
  // with HLL++ instead of exact two-phase dedup — same knob as datacard.
  register("distinct_ngrams") { (df, c, _) =>
    Diversity.distinctN(df, c("slice_key").str, c("text_key").str,
      c.intOr("n", 3), c.boolOr("approx", false), c.dblOr("rsd", 0.02))
  }
  // SQ8 scalar quantization of an embedding column (§2.14 similarity
  // search): trains per-dim min/max on THIS frame, appends integer codes.
  register("sq8_encode") { (df, c, _) =>
    val emb = c("embedding_key").str
    val (mn, mx) = graft.ann.VectorQuantize.trainSq(df, emb)
    graft.ann.VectorQuantize.sqEncode(df, emb, mn, mx,
      c.intOr("levels", 256), c.strOr("output_key", "codes"))
  }
  // Product quantization (§2.14 similarity search): per-subspace k-means
  // codebooks trained on THIS frame (seeded driver sample), appends the
  // nSub-length integer code array. An externally-trained codebook enters
  // through the Scala API's codebook seam.
  register("pq_encode") { (df, c, _) =>
    val emb = c("embedding_key").str
    val cb = graft.ann.ProductQuantize.trainPq(df, emb,
      c("n_sub").int, c.intOr("n_codes", 256),
      seed = c.intOr("random_state", 42).toLong)
    graft.ann.ProductQuantize.encode(df, emb, cb,
      c.strOr("output_key", "pq_codes"))
  }
  // Chat-template render + loss-mask spans (§2.14 SFT prep). `template`
  // is a builtin name (default | chatml | alpaca) or an inline map
  // {bos, msg_prefix, msg_suffix, eos} with `{role}` placeholders.
  register("chat_render") { (df, c, _) =>
    val tpl = c.get("template") match {
      case None => ChatOps.ChatTemplate.Default
      case Some(t) => t.value match {
        case s: String => ChatOps.ChatTemplate.builtins.getOrElse(
          s.toLowerCase(java.util.Locale.ROOT),
          throw new IllegalArgumentException(
            s"unknown chat template '$s'; builtins: " +
              ChatOps.ChatTemplate.builtins.keys.toSeq.sorted.mkString(", ")))
        case _ => ChatOps.ChatTemplate(
          bos = t.strOr("bos", ""),
          msgPrefix = t.strOr("msg_prefix", "<|{role}|>\n"),
          msgSuffix = t.strOr("msg_suffix", "\n"),
          eos = t.strOr("eos", ""))
      }
    }
    // the public add_generation_prompt contract (all three arms):
    // open mask-role header, no eos — the inference-prompt shape
    val genPrompt = c.boolOr("generation_prompt", false)
    if (c.boolOr("parts", false))
      // typed content parts: spans cover only the TEXT parts of
      // mask-role turns (placeholders stay unmasked)
      ChatOps.renderPartsWithSpans(df, c("messages_key").str, tpl,
        c.strOr("mask_role", "assistant"), partPlaceholders(c),
        c.strOr("output_key", "text"), c.strOr("spans_key", "mask_spans"),
        genPrompt)
    else if (c.boolOr("tools", false))
      // tool-call turns: Hermes-style call/response blocks; spans
      // cover assistant content INCLUDING emitted calls, never tool
      // responses
      ChatOps.renderTools(df, c("messages_key").str, tpl,
        c.strOr("mask_role", "assistant"),
        c.strOr("output_key", "text"), c.strOr("spans_key", "mask_spans"),
        genPrompt)
    else ChatOps.render(df, c("messages_key").str, tpl,
      c.strOr("mask_role", "assistant"), c.strOr("output_key", "text"),
      c.strOr("spans_key", "mask_spans"), genPrompt)
  }
  /** Shared `placeholders: {image: "<image>", ...}` parsing for the
    * content-part ops. */
  private def partPlaceholders(c: Conf): Map[String, String] =
    c.get("placeholders") match {
      case Some(m) => m.asMap.map { case (k, v) => k -> v.str }.toMap
      case None => ChatOps.DefaultPartPlaceholders
    }
  // Release datacard (§2.14 reporting): constant-row (metric, value) table.
  // `approx: true` (+ optional `rsd`) estimates the distinct counts with
  // HLL++ sketches instead of exact two-phase dedup — the 100 TB knob.
  register("datacard") { (df, c, _) =>
    val approx = c.boolOr("approx", false)
    val rsd = c.dblOr("rsd", 0.02)
    if (c.boolOr("per_slice", false))
      Datacard.perSlice(df, c("text_key").str, c("slice_key").str, approx, rsd)
    else Datacard(df, c("text_key").str, c("slice_key").str, approx, rsd)
  }
  // Dataset reproducibility fingerprint (§2.14 reporting): order-free
  // content checksum + row count over the listed columns.
  register("fingerprint") { (df, c, _) =>
    Datacard.fingerprint(df, c("columns").strList)
  }
  // PII audit report (§2.14 curation): per-row counts for the four scrub
  // categories, sequentially attributed like redact_pii itself.
  register("pii_report") { (df, c, _) =>
    Hygiene.piiReport(df, c("text_key").str)
  }
  // Mojibake / encoding-damage detection (§2.14 hygiene): four codegen'd
  // signal counts + length-normalized score; `mode: clean` filters instead.
  register("encoding_quality") { (df, c, _) =>
    val t = c("text_key").str
    val thr = c.dblOr("threshold", 5.0)
    c.strOr("mode", "report") match {
      case "report" => EncodingQuality.report(df, t, thr)
      case "clean" => EncodingQuality.clean(df, t, thr)
      case "repair" => EncodingQuality.repair(df, t,
        c.strOr("output_key", "text_repaired"))
      case other => throw new IllegalArgumentException(
        s"encoding_quality mode must be report|clean|repair, got '$other'")
    }
  }
  // C4-style LINE-level cleaning (§2.14 hygiene): rewrite each document
  // keeping only lines with >= min_words words, terminal punctuation
  // (toggleable), and none of the blocked substrings.
  register("line_clean") { (df, c, _) =>
    LineClean(df, c("text_key").str,
      LineClean.Config(
        c.intOr("min_words", 3),
        c.boolOr("require_terminal_punct", true),
        c.get("blocked").map(_.strList)
          .getOrElse(LineClean.Config().blockedSubstrings)),
      c.strOr("output_key", "text_clean"))
  }
  // Unicode script profiling (§2.14 text analysis): per-script character
  // counts + dominant script label.
  register("script_profile") { (df, c, _) =>
    ScriptProfile(df, c("text_key").str)
  }
  // Markdown section segmentation (§2.14 reshape): one row per
  // heading-delimited section with level/heading/body.
  register("markdown_sections") { (df, c, _) =>
    MarkdownSegment.sections(df, c("id_key").str, c("text_key").str)
  }
  // Consistent pseudonymization (§2.14 hygiene): numbered per-document
  // entity placeholders that preserve coreference.
  register("pseudonymize") { (df, c, _) =>
    c.get("messages_key").map(_.str) match {
      // conversation mode: numbering is consistent across every turn;
      // `parts: true` reads typed content-part messages (replacement
      // inside text parts only)
      case Some(mk) if c.boolOr("parts", false) =>
        Pseudonymize.conversationParts(df, mk,
          c.strOr("pattern", Pseudonymize.EmailPattern),
          c.strOr("label", "EMAIL"),
          c.strOr("output_key", "messages_pseudo"))
      case Some(mk) => Pseudonymize.conversation(df, mk,
        c.strOr("pattern", Pseudonymize.EmailPattern),
        c.strOr("label", "EMAIL"),
        c.strOr("output_key", "messages_pseudo"))
      case None => Pseudonymize(df, c("text_key").str,
        c.strOr("pattern", Pseudonymize.EmailPattern),
        c.strOr("label", "EMAIL"),
        c.strOr("output_key", "text_pseudo"))
    }
  }
  // Numeric column profiler (§2.14 reporting): one row per listed column
  // with count/nulls/distinct/min/max/mean/stddev/quartiles; `approx:
  // true` swaps exact percentiles+distincts for GK/HLL++ sketches.
  register("profile") { (df, c, _) =>
    Profile.numeric(df, c("columns").strList,
      c.boolOr("approx", false), c.dblOr("rsd", 0.02),
      c.intOr("percentile_accuracy", 10000))
  }
  // Equi-width histogram (§2.14 reporting): pinned [lo, hi) bounds,
  // out-of-range values clamp into the edge bins (count-conserving).
  register("histogram") { (df, c, _) =>
    Profile.histogram(df, c("column").str, c.intOr("bins", 10),
      c("lo").dbl, c("hi").dbl)
  }
  // Tokenizer fertility report (§2.14 tokenizer family): tokens/word,
  // chars/token, unsplit fraction for a merge list (inline or trained).
  register("tokenizer_stats") { (df, c, _) =>
    BpeTrain.tokenizerStats(df, c("text_key").str, mergesFromConf(df, c)._1)
  }
  // Sentence-aligned chunking (§2.14 reshape): whole-sentence chunks of at
  // most `max_words` words with optional sentence `overlap`.
  register("chunk_sentences") { (df, c, _) =>
    Segment.chunkBySentences(df, c("id_key").str, c("text_key").str,
      c("max_words").int, c.intOr("overlap", 0))
  }
  // Per-key quota (§2.14 curation): top-n rows per key by a quality order
  // — the per-domain page cap of the C4/RefinedWeb recipes.
  register("quota_select") { (df, c, _) =>
    QuotaSelect(df, c("key").str, c("n").int, c("order_by").str,
      c.boolOr("desc", true), c.strOr("tie_break", ""))
  }
  // Winsorize / IQR outlier flag (§2.14 curation): quantile-based score
  // stabilization; `mode: outliers` appends the Tukey-fence flag instead.
  register("winsorize") { (df, c, _) =>
    val key = c("key").str
    val approx = c.boolOr("approx", false)
    c.strOr("mode", "clip") match {
      case "clip" => Profile.winsorize(df, key,
        c.dblOr("p_lo", 0.01), c.dblOr("p_hi", 0.99), approx,
        outCol = c.strOr("output_key", ""))
      case "outliers" => Profile.iqrOutliers(df, key, c.dblOr("k", 1.5),
        approx, outCol = c.strOr("output_key", "is_outlier"))
      case other => throw new IllegalArgumentException(
        s"winsorize mode must be clip|outliers, got '$other'")
    }
  }
  // Coverage-target vocabulary (§2.14 tokenizer family): the smallest
  // count-desc token prefix whose occurrence share stays <= `coverage`.
  register("build_vocab") { (df, c, _) =>
    VocabCoverage.buildVocab(df, c("text_key").str, c("coverage").dbl)
  }
  // Token-id mapping (§2.14 tokenizer family): array<string> tokens ->
  // vocab ids via a broadcast (token, id) table; OOV -> `unk_id`.
  register("vocab_encode") { (df, c, ctx) =>
    val vocab = ctx.datasets.getOrElse(c("vocab").str,
      throw new IllegalArgumentException(
        s"unknown vocab_encode vocab dataset '${c("vocab").str}'"))
    VocabCoverage.toIds(df, c("tokens_key").str, vocab,
      c.strOr("token_column", "token"), c.strOr("id_column", "id"),
      c.get("unk_id").map(_.long).getOrElse(-1L),
      c.strOr("output_key", "ids"))
  }
  // Classifier evaluation (§2.14 model loop): confusion + P/R/F1 + exact
  // mid-rank AUC, or `mode: calibration` reliability bins.
  register("classifier_eval") { (df, c, _) =>
    c.strOr("mode", "report") match {
      case "report" => ClassifierEval.report(df, c("label_key").str,
        c("score_key").str, c.dblOr("threshold", 0.5))
      case "calibration" => ClassifierEval.calibrationBins(df,
        c("label_key").str, c("score_key").str, c.intOr("bins", 10))
      case "calibration_equal_mass" =>
        ClassifierEval.calibrationBinsEqualMass(df, c("label_key").str,
          c("score_key").str, c.intOr("bins", 10), c("tie_break").str)
      case other => throw new IllegalArgumentException(
        "classifier_eval mode must be " +
          s"report|calibration|calibration_equal_mass, got '$other'")
    }
  }
  // HTML main-content extraction (§2.14 crawl hygiene): jusText-style
  // block-density boilerplate removal.
  register("html_extract") { (df, c, _) =>
    graft.sources.HtmlExtract.extract(df, c("html_key").str,
      c.strOr("output_key", "main_content"), c.intOr("min_chars", 25),
      c.dblOr("max_link_density", 0.33))
  }
  // Trigram Stupid Backoff LM scoring (§2.14 text quality): the web-scale
  // LM ranking signal; `reference` names the counts corpus (default self).
  register("stupid_backoff") { (df, c, ctx) =>
    val ref = c.get("reference").map { r =>
      ctx.datasets.getOrElse(r.str, throw new IllegalArgumentException(
        s"unknown stupid_backoff reference dataset '${r.str}'"))
    }
    StupidBackoff(df, c("id_key").str, c("text_key").str, ref,
      c.dblOr("alpha", 0.4))
  }
  // Portable trigram LM model: train once per reference corpus (emit the
  // counts table), score later crawls against the STORED table.
  register("sb_train") { (df, c, _) =>
    StupidBackoff.trainModel(df, c("text_key").str)
  }
  register("sb_score") { (df, c, ctx) =>
    val model = ctx.datasets.getOrElse(c("model").str,
      throw new IllegalArgumentException(
        s"unknown sb_score model dataset '${c("model").str}'"))
    df.join(StupidBackoff.perDocWithModel(df, c("id_key").str,
      c("text_key").str, model, c.dblOr("alpha", 0.4)),
      Seq(c("id_key").str))
  }
  // Data-contract validation (§2.14 quality gate): per-column checks with
  // named violations; modes report (default) / clean / summary.
  register("schema_validate") { (df, c, _) =>
    val rules = SchemaValidate.fromConf(c("rules").asList)
    c.strOr("mode", "report") match {
      case "report" => SchemaValidate.report(df, rules)
      case "clean" => SchemaValidate.clean(df, rules)
      case "summary" => SchemaValidate.summary(df, rules)
      case other => throw new IllegalArgumentException(
        s"schema_validate mode must be report|clean|summary, got '$other'")
    }
  }
  // Compression-ratio repetition signal (§2.14 text quality): deflate
  // size over raw size; spec-covered (no SQL deflate for an oracle).
  register("compression_ratio") { (df, c, _) =>
    CompressionRatio.report(df, c("text_key").str,
      c.dblOr("threshold", 0.25))
  }
  // Readability (§2.14 text quality): Flesch Reading Ease + FK grade from
  // pure regexp/fold counts.
  register("readability") { (df, c, _) =>
    Readability.report(df, c("text_key").str)
  }
  // Code-vs-prose detection (§2.14 text quality): symbol density, indent
  // ratio, keyword hits + weighted score and flag.
  register("code_detect") { (df, c, _) =>
    CodeDetect.report(df, c("text_key").str, c.dblOr("threshold", 0.25))
  }
  // PageRank domain authority (§2.14 graph): deterministic nano-integer
  // iterations over this frame's (src, dst) edge columns.
  register("pagerank") { (df, c, _) =>
    graft.graph.PageRank.run(
      df.select(c("src_key").str, c("dst_key").str),
      c.intOr("iterations", 10), c.intOr("damping_pct", 85))
  }
  // JL random projection (§2.14 similarity search): seeded ±1 sign-matrix
  // dimension reduction; the matrix derives from md5 so any engine can
  // reproduce it.
  register("random_project") { (df, c, _) =>
    graft.ann.RandomProject.project(df, c("embedding_key").str,
      c("out_dim").int, c.strOr("seed", "jl"),
      c.strOr("output_key", "embedding_jl"))
  }
  // C4-style word blocklist (§2.14 curation): drop rows containing any
  // listed token; `report: true` appends the flag instead of filtering.
  register("word_blocklist") { (df, c, _) =>
    Hygiene.blocklistWords(df, c("text_key").str, c("words").strList,
      c.boolOr("report", false))
  }
  // Substring/phrase blocklist (§2.14 curation): the RefinedWeb-style
  // boilerplate-phrase gate; `report: true` appends flag + distinct-hit
  // count instead of filtering. Two arms, one contract: inline
  // `phrases` (tens–hundreds of policy entries) stays the pure
  // expression chain; `phrases_from` + `phrase_key` takes the list as a
  // DATASET and matches via the broadcast Aho–Corasick kernel — the
  // 10⁴–10⁶-entry production-blocklist shape.
  register("phrase_blocklist") { (df, c, ctx) =>
    c.get("phrases_from") match {
      case Some(name) =>
        val ph = ctx.datasets.getOrElse(name.str,
          throw new IllegalArgumentException(
            s"unknown phrase_blocklist dataset '${name.str}'"))
        val key = c.strOr("phrase_key", "phrase")
        if (c.boolOr("report", false))
          Blocklist.report(df, c("text_key").str, ph, key)
        else Blocklist.filterBlocked(df, c("text_key").str, ph, key)
      case None =>
        Hygiene.blocklistPhrases(df, c("text_key").str,
          c("phrases").strList, c.boolOr("report", false))
    }
  }
  // Snapshot diff (§2.14 incremental ingest): delta of THIS frame vs a
  // previous snapshot dataset — added/removed/changed by content hash.
  // `reprocess: true` instead returns this frame's rows needing re-work.
  register("snapshot_diff") { (df, c, ctx) =>
    val prev = ctx.datasets.getOrElse(c("prev").str,
      throw new IllegalArgumentException(
        s"unknown snapshot_diff prev dataset '${c("prev").str}'"))
    if (c.boolOr("schema_only", false)) SnapshotDiff.schemaDiff(prev, df)
    else if (c.boolOr("reprocess", false))
      SnapshotDiff.reprocessSet(prev, df, c("id_key").str, c("content_expr").str)
    else SnapshotDiff(prev, df, c("id_key").str, c("content_expr").str)
  }
  // Logistic-regression training (§2.14 classifier loop): emits the
  // portable (token, weight) table linear_score serves, with the
  // intercept as a `__bias__` sentinel row.
  register("train_classifier") { (df, c, _) =>
    val m = TextClassifier.train(df, c("label_key").str,
      c("text_key").str, c.intOr("vocab_size", 65536),
      c.intOr("max_iter", 50), c.dblOr("reg_param", 0.0))
    val spark = df.sparkSession
    import spark.implicits._
    m.weights.unionByName(
      Seq(("__bias__", m.bias)).toDF("token", "weight"))
  }
  // Mergeable HLL distinct sketches (§2.14 reporting family): build per
  // slice, or merge previously-built sketch tables across ingests.
  register("distinct_sketch") { (df, c, _) =>
    c.strOr("mode", "build") match {
      case "build" => DistinctSketch.build(df, c("slice_key").str,
        c("value_expr").str, c.intOr("lg_k", 12))
      case "merge" => DistinctSketch.merge(df)
      case other => throw new IllegalArgumentException(
        s"distinct_sketch mode must be build|merge, got '$other'")
    }
  }
  // Run-length collapse over ordered events (§2.14 temporal family).
  register("runs") { (df, c, _) =>
    Runs.collapse(df, c("key").str, c("order_key").str,
      c("value_key").str, c("tie_break").str)
  }
  // Skip-gram training-pair export with seeded negative sampling
  // (§2.14 embedding family).
  register("skipgram_pairs") { (df, c, _) =>
    SkipGram.pairs(df, c("id_key").str, c("text_key").str,
      c.intOr("window", 2), c.intOr("negatives", 2),
      c.get("seed").map(_.long).getOrElse(0L), c.dblOr("alpha", 0.75))
  }
  // Word2Vec training (§2.14 embedding family): emits the portable
  // (token, vector) table; doc_vectors pools it without MLlib.
  register("train_embeddings") { (df, c, _) =>
    EmbedTrain.word2vec(df, c("text_key").str, c.intOr("dim", 64),
      c.intOr("min_count", 2), c.intOr("max_iter", 1),
      c.get("seed").map(_.long).getOrElse(42L), c.intOr("window", 5))
  }
  register("doc_vectors") { (df, c, ctx) =>
    val vectors = ctx.datasets.getOrElse(c("vectors").str,
      throw new IllegalArgumentException(
        s"unknown doc_vectors vectors dataset '${c("vectors").str}'"))
    EmbedTrain.docVectors(df, c("id_key").str, c("text_key").str, vectors)
  }
  register("linear_score") { (df, c, ctx) =>
    val weights = ctx.datasets.getOrElse(c("weights").str,
      throw new IllegalArgumentException(
        s"unknown linear_score weights dataset '${c("weights").str}'"))
    LinearScore.withScore(df, c("id_key").str, c("text_key").str, weights,
      c.dblOr("bias", 0.0), c.strOr("mode", "binary"),
      c.strOr("output_key", "quality_score"))
  }
  register("embed") { (df, c, ctx) =>
    EmbedOp(df, c("text_expr").str, c.strOr("output_key", "embedding"),
      ctx.client, c.strOr("model", "mock-embed"), c.intOr("batch_size", 1000))
  }
  register("link_resolve") { (df, c, ctx) =>
    LinkResolveOp(df, LinkResolveOp.Config(
      name = c("name").str, idKey = c("id_key").str, linkKey = c("link_key").str,
      normalizeExpr = c.strOr("normalize_expr", "lower(trim(x))"),
      model = c.strOr("model", "mock")), ctx.client)
  }
  // `http_client` (optional): fully-qualified class name of a zero-arg
  // graft.ops.HttpClient implementation — the YAML-level seam for swapping
  // the offline stub for a real search/fetch backend without recompiling
  // pipelines. The instance is constructed on the DRIVER and serialized into
  // the mapPartitions closure (HttpClient is Serializable by contract).
  private def httpClientOf(c: Conf): graft.ops.HttpClient =
    c.get("http_client").map(_.str) match {
      case None => graft.ops.StubHttpClient()
      case Some(cls) =>
        try Class.forName(cls).getDeclaredConstructor()
          .newInstance().asInstanceOf[graft.ops.HttpClient]
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"http_client '$cls' is not a constructible graft.ops.HttpClient: ${e.getMessage}", e)
        }
    }
  register("web_search") { (df, c, ctx) =>
    // `query_template` is the reference key (web_search.py:162); `prompt`
    // stays as the established alias.
    val queryTpl = c.get("query_template").map(_.str).getOrElse(c("prompt").str)
    WebSearchOp(df, c("name").str, queryTpl, c.intOr("max_results", 3),
      httpClientOf(c), outputField = c.get("output_field").map(_.str),
      engine = c.strOr("search_engine", "brave"))
  }
  register("web_fetch") { (df, c, ctx) =>
    WebFetchOp(df, c("name").str, c.strOr("url_key", ""), httpClientOf(c),
      convertToMarkdown = c.boolOr("convert_to_markdown", false),
      bodyOnly = c.boolOr("body_only", false),
      outputField = c.get("output_field").map(_.str),
      staticUrl = c.get("url").map(_.str),
      maxWorkers = c.intOr("max_workers", 1))
  }
  register("cascade_filter") { (df, c, ctx) =>
    CascadeFilter(df, CascadeFilter.Config(
      name = c("name").str, prompt = c("prompt").str,
      decisionKey = c.strOr("decision_key", "keep"),
      proxyModel = c.strOr("proxy_model", "proxy"),
      oracleModel = c.strOr("oracle_model", "oracle"),
      targetRecall = c.dblOr("target_recall", 0.9),
      calibrationSize = c.intOr("calibration_size", 100)), ctx.client, ctx.client)
  }
  register("agent_map") { (df, c, ctx) =>
    val toolNames = c.get("tools").map(_.strList).getOrElse(Seq("wordcount"))
    val tools = toolNames.map(n => n -> AgentMap.builtinTools.getOrElse(n,
      throw new IllegalArgumentException(
        s"unknown agent tool '$n'; known: ${AgentMap.builtinTools.keys.toSeq.sorted.mkString(", ")}"))).toMap
    AgentMap(df, AgentMap.Config(
      name = c("name").str, prompt = c("prompt").str,
      outputSchema = c.get("output").flatMap(_.get("schema")).map(schemaOf).getOrElse(Nil),
      model = c.strOr("model", "mock"),
      maxTurns = c.intOr("max_turns", 4)), tools, ctx.client)
  }
  register("parse") { (df, c, _) =>
    graft.sources.ParseOp(df, graft.sources.ParseOp.Config(
      function = c("function").str,
      inputKey = c.strOr("input_key", "content"),
      outputKey = c.strOr("output_key", "text"),
      orientation = c.strOr("orientation", "col"),
      docPerSheet = c.boolOr("doc_per_sheet", false),
      docPerSlide = c.boolOr("doc_per_slide", false),
      docPerPage = c.boolOr("doc_per_page", false),
      skipOnError = c.boolOr("skip_on_error", false)))
  }
  register("limit") { (df, c, _) => df.limit(c("n").int) }
  register("select") { (df, c, _) => df.selectExpr(c("columns").strList: _*) }
  // Temporal joins + budget selection (ops/TemporalOps.scala,
  // ops/BudgetSelect.scala). The right side resolves like decontaminate's
  // benchmark: a named dataset from the pipeline context.
  register("asof_join") { (df, c, ctx) =>
    val right = ctx.datasets.getOrElse(c("right").str,
      throw new IllegalArgumentException(
        s"unknown asof_join right dataset '${c("right").str}'"))
    TemporalOps.asofJoin(df, right,
      c("left_key").str, c.strOr("right_key", c("left_key").str),
      c("left_ts").str, c.strOr("right_ts", c("left_ts").str),
      c("payload").strList, c.get("tolerance").map(_.long),
      c.strOr("suffix", "_asof"))
  }
  register("window_join") { (df, c, ctx) =>
    val right = ctx.datasets.getOrElse(c("right").str,
      throw new IllegalArgumentException(
        s"unknown window_join right dataset '${c("right").str}'"))
    TemporalOps.windowJoin(df, right,
      c("left_key").str, c.strOr("right_key", c("left_key").str),
      c("left_ts").str, c.strOr("right_ts", c("left_ts").str),
      c("window").long, c("payload").strList, c.strOr("suffix", "_near"))
  }
  register("budget_select") { (df, c, _) =>
    BudgetSelect(df, c("score_expr").str, c("cost_expr").str,
      c("budget").long, c("tie_break").str)
  }
  // YAML budgets key on the group's STRING value (YAML map keys are
  // strings), so the grouped variant's YAML surface requires a string
  // group column; the Scala API takes Map[Any, Long] directly.
  register("budget_select_grouped") { (df, c, _) =>
    (c.get("budgets"), c.get("fractions")) match {
      case (Some(b), _) =>
        BudgetSelect.grouped(df, c("group_key").str, c("score_expr").str,
          c("cost_expr").str,
          b.asMap.map { case (k, v) => (k: Any) -> v.long },
          c("tie_break").str,
          c.get("default_budget").map(_.long).getOrElse(0L))
      case (None, Some(fr)) => // DoReMi form: total budget × mixture weights
        BudgetSelect.groupedFractions(df, c("group_key").str,
          c("score_expr").str, c("cost_expr").str, c("total_budget").long,
          fr.asMap.map { case (k, v) => (k: Any) -> v.dbl },
          c("tie_break").str)
      case (None, None) => throw new IllegalArgumentException(
        "budget_select_grouped needs `budgets` or `fractions` + `total_budget`")
    }
  }
  // robots.txt politeness (§2.14 crawl family): `parse` explodes
  // (host, body) rows into the rule table; `evaluate` checks THIS
  // frame's (id, host, path) urls against a rules dataset for an agent.
  register("robots_txt") { (df, c, ctx) =>
    c.strOr("mode", "parse") match {
      case "parse" =>
        RobotsTxt.parseRules(df, c("host_key").str, c("content_key").str)
      case "evaluate" =>
        val rules = ctx.datasets.getOrElse(c("rules").str,
          throw new IllegalArgumentException(
            s"unknown robots_txt rules dataset '${c("rules").str}'"))
        RobotsTxt.isAllowed(df, c("id_key").str, c("host_key").str,
          c("path_key").str, rules, c.strOr("agent", "*"))
      case "sitemaps" =>
        RobotsTxt.sitemaps(df, c("host_key").str, c("content_key").str)
      case "crawl_delays" =>
        RobotsTxt.crawlDelays(df, c("host_key").str, c("content_key").str)
      case "effective_delay" =>
        val delays = ctx.datasets.getOrElse(c("delays").str,
          throw new IllegalArgumentException(
            s"unknown robots_txt delays dataset '${c("delays").str}'"))
        RobotsTxt.effectiveDelay(df, delays, c.strOr("agent", "*"),
          c.dblOr("default_delay", 0.0))
      case other => throw new IllegalArgumentException(
        "robots_txt mode must be parse|evaluate|sitemaps|crawl_delays|" +
          s"effective_delay, got '$other'")
    }
  }
  // Inter-annotator agreement (§2.14 preference/labeling QA): Cohen's
  // kappa (two raters), Fleiss' kappa (many raters, one row per
  // rating), or the confusion-cell view.
  register("agreement") { (df, c, _) =>
    c.strOr("mode", "cohen") match {
      case "cohen" => Agreement.cohenKappa(df, c("a_key").str,
        c("b_key").str)
      case "cohen_distributed" => Agreement.cohenKappaDistributed(df,
        c("a_key").str, c("b_key").str)
      case "fleiss" => Agreement.fleissKappa(df, c("item_key").str,
        c("label_key").str)
      case "krippendorff" => Agreement.krippendorffAlpha(df,
        c("item_key").str, c("label_key").str)
      case "confusion" => Agreement.confusion(df, c("a_key").str,
        c("b_key").str)
      case other => throw new IllegalArgumentException(
        "agreement mode must be cohen|cohen_distributed|fleiss|" +
          s"krippendorff|confusion, got '$other'")
    }
  }
  // Cross-split leakage audit (§2.14 eval integrity): near-dup pairs
  // straddling a train/val/test boundary, or per-boundary counts.
  register("split_leakage") { (df, c, ctx) =>
    // `pairs_from` (optional): a precomputed EditDedup.pairs dataset —
    // the pair-sharing arm, so dedup + leakage + report chains pay the
    // PassJoin once (the edit_components precedent).
    val shared = c.get("pairs_from").map { name =>
      ctx.datasets.getOrElse(name.str,
        throw new IllegalArgumentException(
          s"unknown split_leakage pairs dataset '${name.str}'"))
    }
    (c.strOr("mode", "report"), shared) match {
      case ("pairs", Some(ep)) => SplitLeakage.pairs(df,
        c("id_key").str, c("split_key").str, ep)
      case ("pairs", None) => SplitLeakage.pairs(df, c("id_key").str,
        c("text_key").str, c("split_key").str, c.intOr("threshold", 2))
      case ("report", Some(ep)) => SplitLeakage.report(df,
        c("id_key").str, c("split_key").str, ep)
      case ("report", None) => SplitLeakage.report(df, c("id_key").str,
        c("text_key").str, c("split_key").str, c.intOr("threshold", 2))
      case (other, _) => throw new IllegalArgumentException(
        s"split_leakage mode must be pairs|report, got '$other'")
    }
  }
  // Matryoshka embedding truncation (§2.14 ANN family): first-dim
  // slice + L2 renorm — the coarse-search / exact-rerank cost tier.
  register("truncate_embedding") { (df, c, _) =>
    val key = c("embedding_key").str
    df.withColumn(c.strOr("output_key", key),
      graft.functions.VectorFunctions.truncateNormalize(
        org.apache.spark.sql.functions.col(key), c("dim").int))
  }
  // N-gram novelty vs a reference corpus (§2.14 crawl freshness).
  register("novelty") { (df, c, ctx) =>
    val ref = ctx.datasets.getOrElse(c("reference").str,
      throw new IllegalArgumentException(
        s"unknown novelty reference dataset '${c("reference").str}'"))
    Novelty.report(df, c("slice_key").str, c("text_key").str, ref,
      c.strOr("ref_text_key", c("text_key").str), c.intOr("n", 3))
  }
  // Dedup structure reports (§2.14 dedup family): cluster-size
  // histogram or one-row dup-mass summary over a components table.
  register("dedup_report") { (df, c, _) =>
    c.strOr("mode", "sizes") match {
      case "sizes" => graft.dedup.DedupReport.componentSizes(df,
        c.strOr("component_key", "component"))
      case "summary" => graft.dedup.DedupReport.summary(df,
        c("corpus_rows").long, c.strOr("component_key", "component"))
      case other => throw new IllegalArgumentException(
        s"dedup_report mode must be sizes|summary, got '$other'")
    }
  }
  // Score ensembling (§2.14 curation): Borda rank fusion (integer-exact)
  // or z-score averaging (integer-scaled moments) over signal columns.
  register("score_ensemble") { (df, c, _) =>
    val cols = c("columns").strList
    c.strOr("mode", "borda") match {
      case "borda" => ScoreEnsemble.borda(df, cols, c("tie_break").str)
      case "zscore" => ScoreEnsemble.zscore(df, cols,
        c.get("weights").map(_.dblList).getOrElse(Nil))
      case "percentile" =>
        ScoreEnsemble.percentile(df, cols, c("tie_break").str)
      case "rrf" => ScoreEnsemble.rrf(df, cols, c("tie_break").str,
        c.intOr("k", 60))
      case other => throw new IllegalArgumentException(
        "score_ensemble mode must be borda|zscore|percentile|rrf, " +
          s"got '$other'")
    }
  }
  // Retrieval-quality metrics (§2.14 eval family): per-query
  // precision/recall/MRR/nDCG@k, or the macro-averaged corpus summary
  // of a per-query frame.
  register("ranking_eval") { (df, c, _) =>
    c.strOr("mode", "per_query") match {
      case "per_query" => RankingEval.perQuery(df, c("query_key").str,
        c("score_key").str, c("rel_key").str, c("k").long.toInt,
        c("tie_break").str)
      case "summary" => RankingEval.summary(df)
      case other => throw new IllegalArgumentException(
        s"ranking_eval mode must be per_query|summary, got '$other'")
    }
  }
  // Hyperlink extraction (§2.14 crawl family): explode HTML documents
  // into a link-edge table, or aggregate links to weighted host edges.
  register("html_links") { (df, c, _) =>
    c.strOr("mode", "links") match {
      case "links" => graft.sources.HtmlLinks.extract(df,
        c("id_keys").strList, c("html_key").str, c("host_key").str)
      case "host_edges" => graft.sources.HtmlLinks.hostEdges(df,
        c("host_key").str)
      case other => throw new IllegalArgumentException(
        s"html_links mode must be links|host_edges, got '$other'")
    }
  }
  // ROUGE-N overlap F1 (§2.14 eval/dedup family): clipped n-gram
  // precision/recall/F1 between a candidate and a reference column.
  register("ngram_f1") { (df, c, _) =>
    TextSim.ngramF1(df, c("id_keys").strList, c("candidate_key").str,
      c("reference_key").str, c.get("n").map(_.long.toInt).getOrElse(1))
  }
  // ROUGE-L (§2.14 SFT QA, Lin 2004 §3): LCS-based order-sensitive
  // summary quality, next to ngram_f1's bag-of-grams ROUGE-N.
  register("rouge_l") { (df, c, _) =>
    TextSim.rougeL(df, c("id_keys").strList, c("candidate_key").str,
      c("reference_key").str, c.intOr("max_tokens", 2000))
  }
  // chrF (§2.14 SFT QA, Popović 2015): character n-gram F-score — the
  // tokenization-free gate of the family.
  register("chrf") { (df, c, _) =>
    TextSim.chrF(df, c("id_keys").strList, c("candidate_key").str,
      c("reference_key").str, c.intOr("max_n", 6), c.dblOr("beta", 2.0))
  }
  // Sentence BLEU (§2.14 SFT QA, Papineni 2002): unsmoothed clipped
  // n-gram precision geomean x brevity penalty.
  register("bleu") { (df, c, _) =>
    TextSim.bleu(df, c("id_keys").strList, c("candidate_key").str,
      c("reference_key").str, c.intOr("max_n", 4))
  }
  // Word error rate (§2.14 SFT QA): word-level Levenshtein edits over
  // the reference length — the ASR/transcription gate of the family.
  register("wer") { (df, c, _) =>
    TextSim.wer(df, c("id_keys").strList, c("candidate_key").str,
      c("reference_key").str, c.intOr("max_tokens", 2000),
      c.get("max_rate").map(_.dbl))
  }
  // Character error rate (§2.14 SFT QA): WER's character-level sibling
  // over the canonical token form — the ASR/OCR gate. `max_rate` on
  // either arm switches to the thresholded banded kernel (exceeded
  // rows report within = false and -1 sentinels).
  register("cer") { (df, c, _) =>
    TextSim.cer(df, c("id_keys").strList, c("candidate_key").str,
      c("reference_key").str, c.intOr("max_chars", 10000),
      c.get("max_rate").map(_.dbl))
  }
  // Exact edit-distance near-dup pairs (§2.14 dedup family): PassJoin
  // pigeonhole blocking + levenshtein verify, recall 1 at threshold t.
  register("edit_pairs") { (df, c, _) =>
    graft.dedup.EditDedup.pairs(df, c("id_key").str, c("text_key").str,
      c("threshold").long.toInt)
  }
  // JSON-string parsing under the engine schema dialect (§2.14 ingest).
  register("parse_json") { (df, c, _) =>
    val schema = c("schema").asOrderedMap.map { case (k, v) => k -> v.str }
    JsonOps.parseColumn(df, c("json_key").str, schema.toSeq,
      c.boolOr("keep_raw", true))
  }
  // Pairwise Pearson correlation (§2.14 eval family): the redundancy
  // check before score_ensemble.
  register("correlate") { (df, c, _) =>
    Profile.correlationMatrix(df, c("columns").strList)
  }
  // Skew-salted equi-join (§2.14 ops family): THIS frame is the big
  // side; the small side comes from ctx.datasets and replicates ×salts.
  register("salted_join") { (df, c, ctx) =>
    val small = ctx.datasets.getOrElse(c("small").str,
      throw new IllegalArgumentException(
        s"unknown salted_join small dataset '${c("small").str}'"))
    SaltedJoin.inner(df, small, c("key").str, c.intOr("salts", 8),
      c("salt_expr").str)
  }
  // Consecutive-repeat collapse (§2.14 curation family).
  register("collapse_repeats") { (df, c, _) =>
    RepeatCollapse.collapse(df, c("text_key").str, c.intOr("max_gram", 3),
      c.strOr("output_key", "text_collapsed"))
  }
  // Bradley-Terry pairwise strengths (§2.14 eval family).
  register("bradley_terry") { (df, c, _) =>
    BradleyTerry.fit(df, c("a_key").str, c("b_key").str,
      c("winner_key").str, c.intOr("iterations", 20))
  }
  // Vocab decode (§2.14 tensorization family): ids back to tokens — the
  // round-trip validation side of vocab_encode.
  register("vocab_decode") { (df, c, ctx) =>
    val vocab = ctx.datasets.getOrElse(c("vocab").str,
      throw new IllegalArgumentException(
        s"unknown vocab_decode vocab dataset '${c("vocab").str}'"))
    VocabCoverage.fromIds(df, c("ids_key").str, vocab,
      c.strOr("token_column", "token"), c.strOr("id_column", "id"),
      c.strOr("unk_token", "<unk>"), c.strOr("output_key", "tokens"))
  }
  // Anchor-text corpus (§2.14 crawl family): top-k anchors per dst host
  // from an html_links frame.
  register("anchor_texts") { (df, c, _) =>
    graft.sources.HtmlLinks.anchorTexts(df, c.intOr("k", 10))
  }
  // Parquet row-group pruning estimator (§2.14 ops family): what-if
  // skipping for a numeric range over a scan_stats frame.
  register("scan_stats_estimate") { (df, c, _) =>
    graft.sources.ScanStats.pruneEstimate(df, c("lo").dbl, c("hi").dbl)
  }
  // Key-skew diagnostics (§2.14 ops family): heavy-hitter table with
  // salting recommendations, or a one-row distribution summary.
  register("skew_report") { (df, c, _) =>
    c.strOr("mode", "summary") match {
      case "summary" => SkewReport.summary(df, c("key").str)
      case "heavy" => SkewReport.heavyKeys(df, c("key").str,
        c.intOr("k", 20),
        c.get("target_per_key").map(_.long).getOrElse(1000000L))
      case other => throw new IllegalArgumentException(
        s"skew_report mode must be summary|heavy, got '$other'")
    }
  }
  // Windowed co-occurrence PMI (§2.14 text-analysis family).
  register("pmi_cooccur") { (df, c, _) =>
    Cooccur.pmi(df, c("text_key").str, c.intOr("window", 2),
      c.get("min_count").map(_.long).getOrElse(1L))
  }
  // GFM pipe-table extraction (§2.14 parse/RAG family).
  register("markdown_tables") { (df, c, _) =>
    MarkdownTables.cells(df, c("id_key").str, c("text_key").str)
  }
  register("corpus_drift") { (df, c, ctx) =>
    val other = ctx.datasets.getOrElse(c("other").str,
      throw new IllegalArgumentException(
        s"unknown corpus_drift other dataset '${c("other").str}'"))
    CorpusDrift.jensenShannon(df, c("text_key").str,
      other, c.strOr("other_text_key", c("text_key").str))
  }
  register("corpus_drift_matrix") { (df, c, _) =>
    CorpusDrift.jensenShannonMatrix(df, c("group_key").str, c("text_key").str)
  }
  register("curriculum") { (df, c, _) =>
    InterleaveOp.curriculum(df, c("score_expr").str, c("id_expr").str,
      c.intOr("n_buckets", 4), c.intOr("random_state", 0).toLong)
  }
  register("corpus_stats") { (df, c, _) =>
    CorpusStats(df, c.get("group_keys").map(_.strList).getOrElse(Nil),
      c("token_expr").str,
      c.get("quantiles").map(_.dblList).getOrElse(Seq(0.5, 0.9, 0.99)))
  }
  // Vocabulary distribution report (§2.14 datacard band): Zipf slope,
  // hapax share, top-token mass — the OCR-noise/boilerplate signal.
  register("zipf_report") { (df, c, _) =>
    CorpusStats.zipfReport(df, c("text_key").str, c.intOr("top_k", 100))
  }
  // Top-K frequent values per column (§2.14 datacard band): the
  // categorical companion to the numeric profiler.
  register("top_values") { (df, c, _) =>
    Profile.topValues(df, c("columns").strList, c.intOr("k", 10))
  }
  // Data-freshness report (§2.14 ingest monitoring): age distribution
  // vs an EXPLICIT as-of timestamp (never wall-clock — replayable).
  register("freshness") { (df, c, _) =>
    TemporalOps.freshness(df, c("ts_key").str, c("as_of_micros").long,
      c.get("group_keys").map(_.strList).getOrElse(Nil),
      c.get("quantiles").map(_.dblList).getOrElse(Seq(0.5, 0.9, 0.99)))
  }
  register("sessionize") { (df, c, _) =>
    val f =
      if (c.boolOr("aggregate", false))
        TemporalOps.sessions(df, c("key").str, c("ts").str,
          c("gap").long, c("tie_break").str)
      else
        TemporalOps.sessionize(df, c("key").str, c("ts").str,
          c("gap").long, c("tie_break").str,
          c.strOr("output_key", "session_id"))
    f
  }
  // Fill-in-the-middle transform (§2.14 pretraining prep): seeded
  // PSM/SPM splits with sentinel tokens at `rate` (Bavarian et al. 2022).
  register("fim") { (df, c, _) =>
    Fim(df, c("id_key").str, c("text_key").str,
      c.dblOr("rate", 0.5), c.dblOr("spm_rate", 0.5),
      c.intOr("random_state", 0).toLong,
      Fim.Sentinels(
        c.strOr("prefix_token", "<fim_prefix>"),
        c.strOr("suffix_token", "<fim_suffix>"),
        c.strOr("middle_token", "<fim_middle>")),
      c.strOr("output_key", "fim_text"))
  }
  // T5-style span corruption (§2.14 pretraining prep): seeded block
  // corruption emitting sentinel inputs + dropped-content targets.
  register("span_corrupt") { (df, c, _) =>
    SpanCorrupt(df, c("id_key").str, c("text_key").str,
      c.dblOr("rate", 0.15), c.intOr("span_len", 3),
      c.intOr("random_state", 0).toLong,
      c.strOr("inputs_key", "inputs"), c.strOr("targets_key", "targets"))
  }
  // Event-log -> conversations bridge (§2.14 SFT prep): sessionize a
  // (key, ts, role, content) stream and collect ordered messages arrays.
  register("conversation_from_events") { (df, c, _) =>
    ChatOps.fromEventLog(df, c("key").str, c("ts").str, c("role_key").str,
      c("content_key").str, c("gap").long, c("tie_break").str,
      c.strOr("output_key", "messages"))
  }
  // Length-bucketed batch assembly (§2.14 curation): batch ids over a
  // global length sort; `mode: report` emits the per-batch padding table.
  register("length_batch") { (df, c, _) =>
    val len = c("len_key").str
    val n = c("batch_size").int
    val tie = c("tie_break").str
    c.strOr("mode", "assign") match {
      case "assign" => LengthBucket.assignBatches(df, len, n, tie,
        c.strOr("output_key", "batch_id"))
      case "report" => LengthBucket.paddingReport(df, len, n, tie)
      case other => throw new IllegalArgumentException(
        s"length_batch mode must be assign|report, got '$other'")
    }
  }
  // Preference-pair normalization (§2.14 DPO prep): flat prompt/chosen/
  // rejected columns -> two messages arrays.
  register("preference_from_pairs") { (df, c, _) =>
    Preference.fromPromptPair(df, c("prompt_key").str, c("chosen_key").str,
      c("rejected_key").str, c.get("system").map(_.str),
      c.strOr("chosen_out", "messages_chosen"),
      c.strOr("rejected_out", "messages_rejected"))
  }
  // Preference-pair validation (§2.14 DPO prep): per-side conversation
  // rules + shared-prefix + divergent-responses contract; appends
  // pair_valid + pair_invalid_reason. `drop_invalid: true` filters.
  // `parts: true` reads typed content-part messages (part-level shape
  // rules per side; pair contract on the (role, type, text) projection
  // so a changed image ref in the final turn is a divergent response).
  register("preference_validate") { (df, c, _) =>
    val chosen = c.strOr("chosen_key", "messages_chosen")
    val rejected = c.strOr("rejected_key", "messages_rejected")
    requireNotPartsAndTools(c, "preference_validate")
    val out =
      if (c.boolOr("parts", false))
        Preference.validatePairsParts(df, chosen, rejected)
      else if (c.boolOr("tools", false))
        Preference.validatePairsTools(df, chosen, rejected)
      else Preference.validatePairs(df, chosen, rejected)
    if (c.boolOr("drop_invalid", false))
      out.filter(org.apache.spark.sql.functions.col("pair_valid"))
        .drop("pair_valid", "pair_invalid_reason")
    else out
  }
  // Preference length-bias audit (§2.14 DPO QA): one-row verbosity
  // report comparing final assistant contents.
  register("preference_length_bias") { (df, c, _) =>
    Preference.lengthBias(df,
      c.strOr("chosen_key", "messages_chosen"),
      c.strOr("rejected_key", "messages_rejected"))
  }
  // Preference-pair render (§2.14 DPO prep): both sides under a chat
  // template + the divergence character offset.
  register("preference_render") { (df, c, _) =>
    val tpl = c.get("template") match {
      case None => ChatOps.ChatTemplate.Default
      case Some(t) => t.value match {
        case s: String => ChatOps.ChatTemplate.builtins.getOrElse(
          s.toLowerCase(java.util.Locale.ROOT),
          throw new IllegalArgumentException(
            s"unknown chat template '$s'; builtins: " +
              ChatOps.ChatTemplate.builtins.keys.toSeq.sorted.mkString(", ")))
        case _ => ChatOps.ChatTemplate(
          bos = t.strOr("bos", ""),
          msgPrefix = t.strOr("msg_prefix", "<|{role}|>\n"),
          msgSuffix = t.strOr("msg_suffix", "\n"),
          eos = t.strOr("eos", ""))
      }
    }
    // `parts: true` renders typed content-part sides (mask spans cover
    // only the text parts of masked turns, both sides)
    val chosen = c.strOr("chosen_key", "messages_chosen")
    val rejected = c.strOr("rejected_key", "messages_rejected")
    val maskRole = c.strOr("mask_role", "assistant")
    requireNotPartsAndTools(c, "preference_render")
    if (c.boolOr("parts", false))
      Preference.renderPairParts(df, chosen, rejected, tpl, maskRole,
        partPlaceholders(c))
    else if (c.boolOr("tools", false))
      Preference.renderPairTools(df, chosen, rejected, tpl, maskRole)
    else Preference.renderPair(df, chosen, rejected, tpl, maskRole)
  }

  // `parts` and `tools` select disjoint message shapes — letting one
  // silently shadow the other would run the wrong state machine on the
  // corpus with no hint (the other method-style knobs all throw).
  private def requireNotPartsAndTools(c: Conf, op: String): Unit =
    if (c.boolOr("parts", false) && c.boolOr("tools", false))
      throw new IllegalArgumentException(
        s"$op: `parts: true` and `tools: true` are mutually exclusive " +
          "— typed content-part and tool-call conversations are " +
          "different message shapes")
}

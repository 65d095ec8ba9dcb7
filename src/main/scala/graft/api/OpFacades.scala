package graft.api

/** The fluent operator facades, defined ONCE for both builder surfaces:
  * [[LazyFrame]] appends each call as an op config (nothing runs until
  * `run`, the pipeline serializes to YAML), and [[Frame]] runs the op's
  * [[Registry]] handler on its DataFrame right away. A facade only names
  * its op type and YAML keys; every knob default lives in the Registry
  * handler and the op function behind it, so the two surfaces cannot
  * drift apart. `KnobParitySpec` pins, from this file's source, which
  * Registry knobs no facade surfaces ([[op]] reaches all of them).
  *
  * Two primitives carry every facade: [[append]] adds one op
  * `(type, fields*)`; [[appendWith]] does the same with another frame
  * bound to a named dataset key (`benchmark`, `reference`, `corpus`, ...)
  * — the one field whose value is a `Self`. Fields are the op's YAML keys
  * verbatim.
  */
trait OpFacades[Self <: OpFacades[Self]] {
  import OpFacades.{jlist, jmap}

  /** Append one op of registered type `tpe` with `fields` (YAML keys). */
  protected def append(tpe: String, fields: (String, Any)*): Self

  /** Binary primitive: like [[append]], but exactly one field's value is
    * another `Self`, bound as a dataset the op's handler resolves by name.
    * `step` names the step the op opens on [[LazyFrame]] (`{step}_{n}`). */
  protected def appendWith(step: String, tpe: String, fields: (String, Any)*): Self

  /** [[appendWith]] naming the step after the op type. */
  protected def appendWith(tpe: String, fields: (String, Any)*): Self =
    appendWith(tpe, tpe, fields: _*)

  /** Generic registered-op step — the structural guarantee that EVERY
    * Registry op and knob is expressible from the builders, including
    * ones no fluent facade surfaces yet (the facades are sugar over
    * exactly this). `fields` are the op's YAML keys verbatim; unknown
    * op types fail HERE, at build time. KnobParitySpec pins the
    * facade-coverage inventory against this hatch. */
  def op(tpe: String, fields: (String, Any)*): Self = {
    require(Registry.knownTypes.contains(tpe),
      s"unknown operator type '$tpe' — see Registry.knownTypes")
    append(tpe, fields: _*)
  }

  // ---- code (native relational) ops ----

  def codeMap(outputs: (String, String)*): Self =
    append("code_map", "outputs" -> jmap(outputs.map { case (k, v) => k -> (v: Any) }: _*))
  def codeFilter(predicate: String): Self =
    append("code_filter", "predicate" -> predicate)
  def codeReduce(keys: Seq[String], aggs: (String, String)*): Self =
    append("code_reduce", "reduce_key" -> jlist(keys),
      "aggs" -> jmap(aggs.map { case (k, v) => k -> (v: Any) }: _*))
  def select(columns: String*): Self =
    append("select", "columns" -> jlist(columns))
  def limit(n: Int): Self = append("limit", "n" -> n)
  def addUuid(idKey: String): Self = append("add_uuid", "id_key" -> idKey)

  // ---- semantic (LLM) ops ----

  def semanticMap(prompt: String, schema: (String, String)*): Self =
    append("map", "prompt" -> prompt,
      "output" -> jmap("schema" -> jmap(schema.map { case (k, v) => k -> (v: Any) }: _*)))
  def semanticFilter(prompt: String, decision: String = "keep"): Self =
    append("filter", "prompt" -> prompt,
      "output" -> jmap("schema" -> jmap(decision -> ("bool": Any))))
  def semanticReduce(keys: Seq[String], memberExpr: String, orderKey: String,
      schema: (String, String)*): Self =
    append("reduce", "reduce_key" -> jlist(keys), "member_expr" -> memberExpr,
      "order_key" -> orderKey,
      "output" -> jmap("schema" -> jmap(schema.map { case (k, v) => k -> (v: Any) }: _*)))
  def parallelMap(prompts: (String, Seq[(String, String)])*): Self =
    append("parallel_map", "prompts" -> jlist(prompts.map { case (p, sch) =>
      jmap("prompt" -> p, "schema" -> jmap(sch.map { case (k, v) => k -> (v: Any) }: _*))
    }))
  def agentMap(prompt: String, tools: Seq[String], schema: (String, String)*): Self =
    append("agent_map", "prompt" -> prompt, "tools" -> jlist(tools),
      "output" -> jmap("schema" -> jmap(schema.map { case (k, v) => k -> (v: Any) }: _*)))
  def extractRegex(documentKeys: Seq[String], pattern: String,
      keySuffix: Option[String] = None): Self = {
    val base = Seq[(String, Any)]("extraction_method" -> "regex",
      "document_keys" -> jlist(documentKeys), "pattern" -> pattern)
    append("extract", (base ++ keySuffix.map("extraction_key_suffix" -> (_: Any))): _*)
  }
  def extractLineNumbers(documentKey: String, prompt: String): Self =
    append("extract", "extraction_method" -> "line_number",
      "document_key" -> documentKey, "prompt" -> prompt)
  def resolve(idKey: String, compareExpr: String, resolveKeys: Seq[String],
      blockExpr: String = "NULL", autoMatch: Boolean = false): Self =
    append("resolve", "id_key" -> idKey, "compare_expr" -> compareExpr,
      "resolve_keys" -> jlist(resolveKeys), "block_expr" -> blockExpr,
      "auto_match" -> autoMatch)
  def linkResolve(idKey: String, linkKey: String): Self =
    append("link_resolve", "id_key" -> idKey, "link_key" -> linkKey)
  def cluster(embeddingKey: String, renderExpr: String, numClusters: Int = 8,
      outputKey: String = "clusters"): Self =
    append("cluster", "method" -> "flat", "embedding_key" -> embeddingKey,
      "render_expr" -> renderExpr, "num_clusters" -> numClusters,
      "output_key" -> outputKey)
  def rankEmbedding(embeddingKey: String, queryVector: Seq[Double],
      direction: String = "desc", tieBreak: Seq[String] = Nil): Self =
    append("rank", "method" -> "embedding", "embedding_key" -> embeddingKey,
      "query_vector" -> jlist(queryVector), "direction" -> direction,
      "tie_break" -> jlist(tieBreak))
  def topkEmbedding(embeddingKey: String, queryVector: Seq[Double], k: Int,
      tieBreak: Seq[String] = Nil): Self =
    append("topk", "method" -> "embedding", "embedding_key" -> embeddingKey,
      "query_vector" -> jlist(queryVector), "k" -> k, "tie_break" -> jlist(tieBreak))
  def topkEmbeddingStratified(embeddingKey: String, queryVector: Seq[Double],
      k: Int, stratifyKey: String, tieBreak: Seq[String] = Nil): Self =
    append("topk", "method" -> "embedding", "embedding_key" -> embeddingKey,
      "query_vector" -> jlist(queryVector), "k" -> k,
      "stratify_key" -> stratifyKey, "tie_break" -> jlist(tieBreak))
  def topkFts(textKey: String, query: String, k: Int,
      tieBreak: Seq[String] = Nil): Self =
    append("topk", "method" -> "fts", "text_key" -> textKey, "query" -> query,
      "k" -> k, "tie_break" -> jlist(tieBreak))
  def topkFtsStratified(textKey: String, query: String, k: Int,
      stratifyKey: String, tieBreak: Seq[String] = Nil): Self =
    append("topk", "method" -> "fts", "text_key" -> textKey, "query" -> query,
      "k" -> k, "stratify_key" -> stratifyKey, "tie_break" -> jlist(tieBreak))
  def embed(textExpr: String, outputKey: String = "embedding"): Self =
    append("embed", "text_expr" -> textExpr, "output_key" -> outputKey)
  def webSearch(prompt: String, maxResults: Int = 3): Self =
    append("web_search", "prompt" -> prompt, "max_results" -> maxResults)
  def webFetch(urlKey: String): Self = append("web_fetch", "url_key" -> urlKey)

  // ---- reshape ----

  def split(splitKey: String, numTokens: Int, docIdExpr: String = "uuid()"): Self =
    append("split", "split_key" -> splitKey, "num_tokens" -> numTokens,
      "doc_id_expr" -> docIdExpr)
  def splitDelimiter(splitKey: String, delimiter: String,
      numSplitsToGroup: Int = 1, docIdExpr: String = "uuid()"): Self =
    append("split", "method" -> "delimiter", "split_key" -> splitKey,
      "delimiter" -> delimiter, "num_splits_to_group" -> numSplitsToGroup,
      "doc_id_expr" -> docIdExpr)
  def gather(contentKey: String, docIdKey: String, orderKey: String,
      previousCount: Int = 1, nextCount: Int = 1): Self =
    append("gather", "content_key" -> contentKey, "doc_id_key" -> docIdKey,
      "order_key" -> orderKey, "previous_count" -> previousCount,
      "next_count" -> nextCount)
  def unnest(key: String): Self = append("unnest", "unnest_key" -> key)
  def unnestColumns(column: String, keys: String*): Self =
    if (keys.isEmpty) append("unnest_columns", "column" -> column)
    else append("unnest_columns", "column" -> column, "keys" -> jlist(keys))

  // ---- sampling / dedup ----

  def sampleFirst(n: Int, orderBy: Seq[String]): Self =
    append("sample", "method" -> "first", "samples" -> n, "order_by" -> jlist(orderBy))
  def sampleUniform(fraction: Double, seed: Int = 42): Self =
    append("sample", "method" -> "uniform", "fraction" -> fraction,
      "random_state" -> seed)
  def sampleHash(keyExpr: String, fraction: Double, seed: Int = 0): Self =
    append("sample", "method" -> "hash", "key_expr" -> keyExpr,
      "fraction" -> fraction, "random_state" -> seed)
  def sampleStratified(stratifyKey: String, samplesPerGroup: Int,
      orderBy: Seq[String]): Self =
    append("sample", "method" -> "stratified", "stratify_key" -> stratifyKey,
      "samples_per_group" -> samplesPerGroup, "order_by" -> jlist(orderBy))
  def sampleOutliers(embeddingKey: String, std: Option[Double] = None,
      samples: Option[Int] = None, keep: Boolean = true,
      tieBreak: Seq[String] = Nil): Self = {
    val base = Seq[(String, Any)]("method" -> "outliers",
      "embedding_key" -> embeddingKey, "keep" -> keep, "tie_break" -> jlist(tieBreak))
    append("sample", (base ++ std.map("std" -> (_: Any)) ++
      samples.map("samples" -> (_: Any))): _*)
  }
  def sampleStratifiedUniform(stratifyKey: String, keyExpr: String,
      samplesPerGroup: Int, seed: Int = 0): Self =
    append("sample", "method" -> "uniform", "stratify_key" -> stratifyKey,
      "key_expr" -> keyExpr, "samples_per_group" -> samplesPerGroup,
      "random_state" -> seed)
  def sampleProportional(stratifyKey: String, keyExpr: String,
      total: Int, seed: Int = 0): Self =
    append("sample", "method" -> "uniform", "stratify_key" -> stratifyKey,
      "key_expr" -> keyExpr, "samples" -> total, "random_state" -> seed)
  def sampleWeighted(stratifyKey: String, keyExpr: String, total: Int,
      weights: Seq[(String, Double)], seed: Int = 0): Self =
    append("sample", "method" -> "weighted", "stratify_key" -> stratifyKey,
      "key_expr" -> keyExpr, "samples" -> total,
      "weights" -> jmap(weights.map { case (k, v) => k -> (v: Any) }: _*),
      "random_state" -> seed)
  def sampleWeightedEpochs(stratifyKey: String, keyExpr: String, total: Int,
      weights: Seq[(String, Double)], seed: Int = 0,
      maxEpochs: Int = 4): Self =
    append("sample", "method" -> "weighted_epochs", "stratify_key" -> stratifyKey,
      "key_expr" -> keyExpr, "samples" -> total,
      "weights" -> jmap(weights.map { case (k, v) => k -> (v: Any) }: _*),
      "random_state" -> seed, "max_epochs" -> maxEpochs)
  def sampleTemperature(stratifyKey: String, keyExpr: String, total: Int,
      alpha: Double = 0.3, seed: Int = 0): Self =
    append("sample", "method" -> "temperature", "stratify_key" -> stratifyKey,
      "key_expr" -> keyExpr, "samples" -> total, "alpha" -> alpha,
      "random_state" -> seed)
  def sampleWeightedRows(weightExpr: String, k: Int, idExpr: String,
      seed: Int = 0): Self =
    append("sample", "method" -> "weighted_rows", "weight_expr" -> weightExpr,
      "samples" -> k, "key_expr" -> idExpr, "random_state" -> seed)
  def dedupExact(textKey: String, tieBreak: String): Self =
    append("dedup", "method" -> "exact", "text_key" -> textKey, "tie_break" -> tieBreak)
  def dedupMinhash(idKey: String, textKey: String, threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None, maxBucketHead: Option[Int] = None): Self = {
    val base = Seq[(String, Any)]("method" -> "minhash", "id_key" -> idKey,
      "text_key" -> textKey, "threshold" -> threshold)
    append("dedup", (base ++ maxBucketSize.map("max_bucket_size" -> (_: Any)) ++
      maxBucketHead.map("max_bucket_head" -> (_: Any))): _*)
  }

  def dedupMinhashKeepBest(idKey: String, textKey: String,
      qualityExpr: String = "", threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): Self = {
    val base = Seq[(String, Any)]("method" -> "minhash_keep_best",
      "id_key" -> idKey, "text_key" -> textKey, "threshold" -> threshold)
    append("dedup", (base ++
      (if (qualityExpr.nonEmpty) Seq("quality_expr" -> qualityExpr) else Nil) ++
      maxBucketSize.map("max_bucket_size" -> (_: Any)) ++
      maxBucketHead.map("max_bucket_head" -> (_: Any))): _*)
  }

  def semdedup(idKey: String, embeddingKey: String, nClusters: Int,
      threshold: Double = 0.95, qualityExpr: String = "",
      maxClusterSize: Option[Int] = None,
      maxClusterHead: Option[Int] = None): Self = {
    val base = Seq[(String, Any)]("method" -> "semdedup", "id_key" -> idKey,
      "embedding_key" -> embeddingKey, "n_clusters" -> nClusters,
      "threshold" -> threshold)
    append("dedup", (base ++
      (if (qualityExpr.nonEmpty) Seq("quality_expr" -> qualityExpr) else Nil) ++
      maxClusterSize.map("max_cluster_size" -> (_: Any)) ++
      maxClusterHead.map("max_cluster_head" -> (_: Any))): _*)
  }

  def pack(groupKeys: Seq[String], orderKey: String, tokenExpr: String,
      budget: Long): Self =
    append("pack", "group_keys" -> jlist(groupKeys), "order_key" -> orderKey,
      "token_expr" -> tokenExpr, "budget" -> budget)
  def packBestFit(groupKeys: Seq[String], orderKey: String,
      tokenExpr: String, budget: Long): Self =
    append("pack", "strategy" -> "best_fit",
      "group_keys" -> jlist(groupKeys), "order_key" -> orderKey,
      "token_expr" -> tokenExpr, "budget" -> budget)
  def chunkFixed(groupKeys: Seq[String], orderKey: String, tokenExpr: String,
      seqLen: Long): Self =
    append("chunk_fixed", "group_keys" -> jlist(groupKeys),
      "order_key" -> orderKey, "token_expr" -> tokenExpr,
      "seq_len" -> seqLen)
  def tfidfTopTerms(idKey: String, textKey: String, k: Int = 10): Self =
    append("tfidf", "id_key" -> idKey, "text_key" -> textKey, "k" -> k)
  def unigramSurprisal(idKey: String, textKey: String): Self =
    append("unigram_surprisal", "id_key" -> idKey, "text_key" -> textKey)
  def interleave(stratifyKey: String, orderExpr: String,
      outputKey: String = "interleave_rank"): Self =
    append("interleave", "stratify_key" -> stratifyKey,
      "order_expr" -> orderExpr, "output_key" -> outputKey)
  def shuffle(idExpr: String, seed: Long,
      outputKey: String = "shuffle_rank"): Self =
    append("shuffle", "id_expr" -> idExpr, "seed" -> seed,
      "output_key" -> outputKey)
  def zorder(cols: Seq[String], bits: Int = 8, numFiles: Int = 0,
      outputKey: String = "zvalue"): Self =
    append("zorder", (Seq[(String, Any)]("cols" -> jlist(cols), "bits" -> bits,
      "output_key" -> outputKey) ++
      (if (numFiles > 0) Seq("num_files" -> numFiles) else Nil)): _*)
  def qualityRules(textKey: String, minWords: Long = 50,
      maxWords: Long = 100000, minAvgWordLen: Double = 3.0,
      maxAvgWordLen: Double = 10.0, maxDupWordFrac: Double = 0.95,
      maxTop2gramFrac: Double = 0.2, minDistinctStopwords: Int = 2,
      signalsOnly: Boolean = false): Self =
    append("quality_rules", "text_key" -> textKey, "min_words" -> minWords,
      "max_words" -> maxWords, "min_avg_word_len" -> minAvgWordLen,
      "max_avg_word_len" -> maxAvgWordLen,
      "max_dup_word_frac" -> maxDupWordFrac,
      "max_top_2gram_frac" -> maxTop2gramFrac,
      "min_distinct_stopwords" -> minDistinctStopwords,
      "signals_only" -> signalsOnly)
  def redactPii(textKey: String, outputKey: String = ""): Self =
    append("redact_pii", (Seq[(String, Any)]("text_key" -> textKey) ++
      (if (outputKey.nonEmpty) Seq("output_key" -> outputKey) else Nil)): _*)
  def dedupLines(idKey: String, textKey: String, delimiter: String = "\n",
      maxDocFreq: Long = 1000): Self =
    append("dedup_lines", "id_key" -> idKey, "text_key" -> textKey,
      "delimiter" -> delimiter, "max_doc_freq" -> maxDocFreq)
  def dedupSpans(idKey: String, textKey: String, n: Int = 50,
      delimiter: String = " "): Self =
    append("dedup_spans", "id_key" -> idKey, "text_key" -> textKey,
      "n" -> n, "delimiter" -> delimiter)
  def bigramSurprisal(idKey: String, textKey: String,
      lambda: Double = 0.75): Self =
    append("bigram_surprisal", "id_key" -> idKey, "text_key" -> textKey,
      "lambda" -> lambda)
  def pplBuckets(idKey: String, textKey: String,
      nBuckets: Int = 3): Self =
    append("ppl_buckets", "id_key" -> idKey, "text_key" -> textKey,
      "n_buckets" -> nBuckets)
  def urlFilter(urlKey: String, blocked: Seq[String]): Self =
    append("url_filter", "url_key" -> urlKey, "blocked" -> jlist(blocked))
  def chatRender(messagesKey: String, maskRole: String = "assistant",
      outputKey: String = "text", spansKey: String = "mask_spans"): Self =
    append("chat_render", "messages_key" -> messagesKey,
      "mask_role" -> maskRole, "output_key" -> outputKey,
      "spans_key" -> spansKey)
  def chatRenderTemplate(messagesKey: String, template: String,
      maskRole: String = "assistant",
      generationPrompt: Boolean = false): Self =
    append("chat_render", "messages_key" -> messagesKey,
      "template" -> template, "mask_role" -> maskRole,
      "generation_prompt" -> generationPrompt)
  /** Typed content-part arms (multimodal chat corpora). */
  def chatRenderParts(messagesKey: String,
      maskRole: String = "assistant"): Self =
    append("chat_render", "messages_key" -> messagesKey,
      "mask_role" -> maskRole, "parts" -> true)
  def partsToContent(messagesKey: String,
      outputKey: String = "messages_flat"): Self =
    append("conversation_parts_flatten", "messages_key" -> messagesKey,
      "output_key" -> outputKey)
  def conversationStatsParts(messagesKey: String): Self =
    append("conversation_stats", "messages_key" -> messagesKey,
      "parts" -> true)
  def pseudonymizeConversationParts(messagesKey: String,
      label: String = "EMAIL"): Self =
    append("pseudonymize", "messages_key" -> messagesKey,
      "label" -> label, "parts" -> true)
  def validateConversationParts(messagesKey: String): Self =
    append("conversation_validate", "messages_key" -> messagesKey,
      "parts" -> true)
  /** Tool-call arms (agentic SFT corpora). */
  def chatRenderTools(messagesKey: String,
      maskRole: String = "assistant"): Self =
    append("chat_render", "messages_key" -> messagesKey,
      "mask_role" -> maskRole, "tools" -> true)
  def validateConversationTools(messagesKey: String): Self =
    append("conversation_validate", "messages_key" -> messagesKey,
      "tools" -> true)
  def conversationStatsTools(messagesKey: String): Self =
    append("conversation_stats", "messages_key" -> messagesKey,
      "tools" -> true)
  def trimConversationToBudget(messagesKey: String, budget: Long,
      keepSystem: Boolean = true): Self =
    append("conversation_trim", "messages_key" -> messagesKey,
      "budget" -> budget, "keep_system" -> keepSystem)
  def lshPlan(numPerms: Int, threshold: Double): Self =
    append("lsh_plan", "num_perms" -> numPerms, "threshold" -> threshold)
  def conversationFromPairs(promptKey: String, responseKey: String,
      system: String = ""): Self = {
    val base = Seq[(String, Any)]("prompt_key" -> promptKey,
      "response_key" -> responseKey)
    val fields = if (system.isEmpty) base else base :+ ("system" -> system)
    append("conversation_from_pairs", fields: _*)
  }
  def conversationValidate(messagesKey: String,
      dropInvalid: Boolean = false): Self =
    append("conversation_validate", "messages_key" -> messagesKey,
      "drop_invalid" -> dropInvalid)
  def robotsRules(hostKey: String, contentKey: String): Self =
    append("robots_txt", "mode" -> "parse", "host_key" -> hostKey,
      "content_key" -> contentKey)
  def robotsAllowed(idKey: String, hostKey: String, pathKey: String,
      rules: String, agent: String): Self =
    append("robots_txt", "mode" -> "evaluate", "id_key" -> idKey,
      "host_key" -> hostKey, "path_key" -> pathKey, "rules" -> rules,
      "agent" -> agent)
  def scoreBorda(columns: Seq[String], tieBreak: String): Self =
    append("score_ensemble", "mode" -> "borda",
      "columns" -> jlist(columns), "tie_break" -> tieBreak)
  def scoreZ(columns: Seq[String], weights: Seq[Double] = Nil): Self =
    append("score_ensemble", (Seq[(String, Any)]("mode" -> "zscore",
      "columns" -> jlist(columns)) ++
      (if (weights.nonEmpty) Seq("weights" -> jlist(weights)) else Nil)): _*)
  def rankingEval(queryKey: String, scoreKey: String, relKey: String,
      k: Int, tieBreak: String): Self =
    append("ranking_eval", "mode" -> "per_query", "query_key" -> queryKey,
      "score_key" -> scoreKey, "rel_key" -> relKey, "k" -> k,
      "tie_break" -> tieBreak)
  def rankingSummary(): Self =
    append("ranking_eval", "mode" -> "summary")
  def htmlLinks(idKeys: Seq[String], htmlKey: String,
      hostKey: String): Self =
    append("html_links", "mode" -> "links", "id_keys" -> jlist(idKeys),
      "html_key" -> htmlKey, "host_key" -> hostKey)
  def hostEdges(hostKey: String): Self =
    append("html_links", "mode" -> "host_edges", "host_key" -> hostKey)
  def ngramF1(idKeys: Seq[String], candidateKey: String,
      referenceKey: String, n: Int = 1): Self =
    append("ngram_f1", "id_keys" -> jlist(idKeys),
      "candidate_key" -> candidateKey, "reference_key" -> referenceKey,
      "n" -> n)
  def rougeL(idKeys: Seq[String], candidateKey: String,
      referenceKey: String, maxTokens: Int = 2000): Self =
    append("rouge_l", "id_keys" -> jlist(idKeys),
      "candidate_key" -> candidateKey, "reference_key" -> referenceKey,
      "max_tokens" -> maxTokens)
  def chrF(idKeys: Seq[String], candidateKey: String,
      referenceKey: String, maxN: Int = 6,
      beta: Double = 2.0): Self =
    append("chrf", "id_keys" -> jlist(idKeys),
      "candidate_key" -> candidateKey, "reference_key" -> referenceKey,
      "max_n" -> maxN, "beta" -> beta)
  def bleu(idKeys: Seq[String], candidateKey: String,
      referenceKey: String, maxN: Int = 4): Self =
    append("bleu", "id_keys" -> jlist(idKeys),
      "candidate_key" -> candidateKey, "reference_key" -> referenceKey,
      "max_n" -> maxN)
  def wer(idKeys: Seq[String], candidateKey: String,
      referenceKey: String, maxTokens: Int = 2000,
      maxRate: Option[Double] = None): Self =
    append("wer", (Seq[(String, Any)]("id_keys" -> jlist(idKeys),
      "candidate_key" -> candidateKey, "reference_key" -> referenceKey,
      "max_tokens" -> maxTokens) ++
      maxRate.map(v => "max_rate" -> (v: Any)).toSeq): _*)
  def cer(idKeys: Seq[String], candidateKey: String,
      referenceKey: String, maxChars: Int = 10000,
      maxRate: Option[Double] = None): Self =
    append("cer", (Seq[(String, Any)]("id_keys" -> jlist(idKeys),
      "candidate_key" -> candidateKey, "reference_key" -> referenceKey,
      "max_chars" -> maxChars) ++
      maxRate.map(v => "max_rate" -> (v: Any)).toSeq): _*)
  def editPairs(idKey: String, textKey: String, threshold: Int): Self =
    append("edit_pairs", "id_key" -> idKey, "text_key" -> textKey,
      "threshold" -> threshold)
  def editKeepBest(idKey: String, textKey: String, threshold: Int,
      qualityExpr: String = ""): Self =
    append("dedup", "method" -> "edit_keep_best", "id_key" -> idKey,
      "text_key" -> textKey, "threshold" -> threshold,
      "quality_expr" -> qualityExpr)
  def editAudit(idKey: String, textKey: String, threshold: Int,
      qualityExpr: String = ""): Self =
    append("dedup", "method" -> "edit_audit", "id_key" -> idKey,
      "text_key" -> textKey, "threshold" -> threshold,
      "quality_expr" -> qualityExpr)
  def minhashAudit(idKey: String, textKey: String,
      qualityExpr: String = ""): Self =
    append("dedup", "method" -> "minhash_audit", "id_key" -> idKey,
      "text_key" -> textKey, "quality_expr" -> qualityExpr)
  def sbTrain(textKey: String): Self =
    append("sb_train", "text_key" -> textKey)
  def sbScore(idKey: String, textKey: String, model: String,
      alpha: Double = 0.4): Self =
    append("sb_score", "id_key" -> idKey, "text_key" -> textKey,
      "model" -> model, "alpha" -> alpha)
  def distinctSketch(sliceKey: String, valueExpr: String,
      lgK: Int = 12): Self =
    append("distinct_sketch", "mode" -> "build", "slice_key" -> sliceKey,
      "value_expr" -> valueExpr, "lg_k" -> lgK)
  def mergeSketches(): Self =
    append("distinct_sketch", "mode" -> "merge")
  def runsCollapse(key: String, orderKey: String, valueKey: String,
      tieBreak: String): Self =
    append("runs", "key" -> key, "order_key" -> orderKey,
      "value_key" -> valueKey, "tie_break" -> tieBreak)
  def skipgramPairs(idKey: String, textKey: String, window: Int = 2,
      negatives: Int = 2, seed: Long = 0L): Self =
    append("skipgram_pairs", "id_key" -> idKey, "text_key" -> textKey,
      "window" -> window, "negatives" -> negatives, "seed" -> seed)
  def trainEmbeddings(textKey: String, dim: Int = 64, minCount: Int = 2,
      maxIter: Int = 1, seed: Long = 42L, window: Int = 5): Self =
    append("train_embeddings", "text_key" -> textKey, "dim" -> dim,
      "min_count" -> minCount, "max_iter" -> maxIter, "seed" -> seed,
      "window" -> window)
  def docVectors(idKey: String, textKey: String,
      vectors: String): Self =
    append("doc_vectors", "id_key" -> idKey, "text_key" -> textKey,
      "vectors" -> vectors)
  def trainClassifier(labelKey: String, textKey: String,
      vocabSize: Int = 65536, maxIter: Int = 50,
      regParam: Double = 0.0): Self =
    append("train_classifier", "label_key" -> labelKey,
      "text_key" -> textKey, "vocab_size" -> vocabSize,
      "max_iter" -> maxIter, "reg_param" -> regParam)
  def parseJson(jsonKey: String, schema: Seq[(String, String)],
      keepRaw: Boolean = true): Self =
    append("parse_json", "json_key" -> jsonKey,
      "schema" -> jmap(schema.map { case (k, v) => k -> (v: Any) }: _*),
      "keep_raw" -> keepRaw)
  def stratifiedExact(stratifyKey: String, fraction: Double,
      keyExpr: String): Self =
    append("sample", "method" -> "stratified_exact",
      "stratify_key" -> stratifyKey, "fraction" -> fraction,
      "key_expr" -> keyExpr)
  def robotsSitemaps(hostKey: String, contentKey: String): Self =
    append("robots_txt", "mode" -> "sitemaps", "host_key" -> hostKey,
      "content_key" -> contentKey)
  def robotsCrawlDelays(hostKey: String, contentKey: String): Self =
    append("robots_txt", "mode" -> "crawl_delays", "host_key" -> hostKey,
      "content_key" -> contentKey)
  def cohenKappa(aKey: String, bKey: String): Self =
    append("agreement", "mode" -> "cohen", "a_key" -> aKey,
      "b_key" -> bKey)
  def fleissKappa(itemKey: String, labelKey: String): Self =
    append("agreement", "mode" -> "fleiss", "item_key" -> itemKey,
      "label_key" -> labelKey)
  def cohenKappaDistributed(aKey: String, bKey: String): Self =
    append("agreement", "mode" -> "cohen_distributed", "a_key" -> aKey,
      "b_key" -> bKey)
  def krippendorffAlpha(itemKey: String, labelKey: String): Self =
    append("agreement", "mode" -> "krippendorff", "item_key" -> itemKey,
      "label_key" -> labelKey)
  def agreementConfusion(aKey: String, bKey: String): Self =
    append("agreement", "mode" -> "confusion", "a_key" -> aKey,
      "b_key" -> bKey)
  def redactIbans(textKey: String,
      token: String = "<IBAN>"): Self =
    append("redact_iban", "text_key" -> textKey, "token" -> token)
  /** N-gram novelty vs a `reference` frame (binary merge). */
  def novelty(reference: Self, sliceKey: String, textKey: String,
      refTextKey: String, n: Int = 3): Self =
    appendWith("novelty", "reference" -> reference, "slice_key" -> sliceKey,
      "text_key" -> textKey, "ref_text_key" -> refTextKey, "n" -> n)
  def conversationStats(messagesKey: String): Self =
    append("conversation_stats", "messages_key" -> messagesKey)
  def mergeConsecutiveRoles(messagesKey: String,
      sep: String = "\n"): Self =
    append("conversation_merge_roles", "messages_key" -> messagesKey,
      "sep" -> sep)
  def apportion(domainKey: String, countExpr: String,
      budget: Long): Self =
    append("apportion", "domain_key" -> domainKey,
      "count_expr" -> countExpr, "budget" -> budget)
  def unimax(domainKey: String, countExpr: String, budget: Long,
      maxEpochs: Int = 4): Self =
    append("unimax", "domain_key" -> domainKey,
      "count_expr" -> countExpr, "budget" -> budget,
      "max_epochs" -> maxEpochs)
  def ngramContainmentPairs(idKey: String, textKey: String,
      blockExpr: String, n: Int = 3,
      threshold: Double = 0.8): Self =
    append("dedup", "method" -> "ngram_containment", "id_key" -> idKey,
      "text_key" -> textKey, "block_expr" -> blockExpr, "n" -> n,
      "threshold" -> threshold)
  def truncationCurve(lenExpr: String, seqLens: Seq[Long]): Self =
    append("truncation_report", "len_expr" -> lenExpr,
      "seq_lens" -> jlist(seqLens.map(l => l: Any)))
  def zipfReport(textKey: String, topK: Int = 100): Self =
    append("zipf_report", "text_key" -> textKey, "top_k" -> topK)
  def topValues(columns: Seq[String], k: Int = 10): Self =
    append("top_values", "columns" -> jlist(columns), "k" -> k)
  def freshness(tsKey: String, asOfMicros: Long,
      groupKeys: Seq[String] = Nil): Self =
    append("freshness", "ts_key" -> tsKey, "as_of_micros" -> asOfMicros,
      "group_keys" -> jlist(groupKeys))
  def truncationReport(lenExpr: String, seqLen: Long): Self =
    append("truncation_report", "len_expr" -> lenExpr,
      "seq_len" -> seqLen)
  /** Effective per-host crawl delay vs a `delays` frame (binary merge). */
  def effectiveCrawlDelay(delays: Self, agent: String,
      defaultDelay: Double = 0.0): Self =
    appendWith("effective_delay", "robots_txt", "mode" -> "effective_delay",
      "delays" -> delays, "agent" -> agent,
      "default_delay" -> defaultDelay)
  def scorePercentile(columns: Seq[String],
      tieBreak: String): Self =
    append("score_ensemble", "mode" -> "percentile",
      "columns" -> jlist(columns), "tie_break" -> tieBreak)
  def scoreRrf(columns: Seq[String], tieBreak: String,
      k: Int = 60): Self =
    append("score_ensemble", "mode" -> "rrf",
      "columns" -> jlist(columns), "tie_break" -> tieBreak, "k" -> k)
  def phraseBlocklist(textKey: String, phrases: Seq[String],
      report: Boolean = false): Self =
    append("phrase_blocklist", "text_key" -> textKey,
      "phrases" -> jlist(phrases), "report" -> report)
  /** Dataset-sized blocklist arm (binary merge): the phrase list rides
    * in as a FRAME and matches via the broadcast Aho–Corasick kernel. */
  def phraseBlocklistFrom(phrases: Self, textKey: String,
      phraseKey: String = "phrase", report: Boolean = false): Self =
    appendWith("phrase_blocklist", "text_key" -> textKey,
      "phrases_from" -> phrases, "phrase_key" -> phraseKey,
      "report" -> report)
  def pseudonymizeConversation(messagesKey: String,
      label: String = "EMAIL"): Self =
    append("pseudonymize", "messages_key" -> messagesKey,
      "label" -> label)
  /** Schema diff vs a `prev` snapshot frame (binary merge). */
  def schemaDiff(prev: Self): Self =
    appendWith("schema_diff", "snapshot_diff", "prev" -> prev,
      "schema_only" -> true)
  def histogram(column: String, bins: Int, lo: Double,
      hi: Double): Self =
    append("histogram", "column" -> column, "bins" -> bins,
      "lo" -> lo, "hi" -> hi)
  def splitLeakage(idKey: String, textKey: String, splitKey: String,
      threshold: Int = 2): Self =
    append("split_leakage", "mode" -> "report", "id_key" -> idKey,
      "text_key" -> textKey, "split_key" -> splitKey,
      "threshold" -> threshold)
  def truncateEmbedding(embeddingKey: String, dim: Int): Self =
    append("truncate_embedding", "embedding_key" -> embeddingKey,
      "dim" -> dim)
  def editComponents(idKey: String, textKey: String,
      threshold: Int): Self =
    append("dedup", "method" -> "edit_components", "id_key" -> idKey,
      "text_key" -> textKey, "threshold" -> threshold)
  def minhashComponents(idKey: String, textKey: String,
      jaccardThreshold: Double = 0.8): Self =
    append("dedup", "method" -> "minhash_components", "id_key" -> idKey,
      "text_key" -> textKey, "threshold" -> jaccardThreshold)
  def dedupComponentSizes(
      componentKey: String = "component"): Self =
    append("dedup_report", "mode" -> "sizes",
      "component_key" -> componentKey)
  def dedupSummary(corpusRows: Long,
      componentKey: String = "component"): Self =
    append("dedup_report", "mode" -> "summary",
      "corpus_rows" -> corpusRows, "component_key" -> componentKey)
  def correlationMatrix(columns: Seq[String]): Self =
    append("correlate", "columns" -> jlist(columns))
  def saltedJoin(small: String, key: String, salts: Int,
      saltExpr: String): Self =
    append("salted_join", "small" -> small, "key" -> key,
      "salts" -> salts, "salt_expr" -> saltExpr)
  /** Salted equi-join against a `small` frame (binary merge — the
    * replicated dimension resolves by step name, like [[linearScore]]'s
    * weights). */
  def saltedJoin(small: Self, key: String, salts: Int,
      saltExpr: String): Self =
    appendWith("salted_join", "small" -> small, "key" -> key,
      "salts" -> salts, "salt_expr" -> saltExpr)
  def collapseRepeats(textKey: String, maxGram: Int = 3): Self =
    append("collapse_repeats", "text_key" -> textKey,
      "max_gram" -> maxGram)
  def bradleyTerry(aKey: String, bKey: String, winnerKey: String,
      iterations: Int = 20): Self =
    append("bradley_terry", "a_key" -> aKey, "b_key" -> bKey,
      "winner_key" -> winnerKey, "iterations" -> iterations)
  def vocabDecode(idsKey: String, vocab: String,
      unkToken: String = "<unk>"): Self =
    append("vocab_decode", "ids_key" -> idsKey, "vocab" -> vocab,
      "unk_token" -> unkToken)
  def anchorTexts(k: Int = 10): Self =
    append("anchor_texts", "k" -> k)
  def scanPruneEstimate(lo: Double, hi: Double): Self =
    append("scan_stats_estimate", "lo" -> lo, "hi" -> hi)
  def skewSummary(key: String): Self =
    append("skew_report", "mode" -> "summary", "key" -> key)
  def skewHeavyKeys(key: String, k: Int,
      targetPerKey: Long = 1000000L): Self =
    append("skew_report", "mode" -> "heavy", "key" -> key, "k" -> k,
      "target_per_key" -> targetPerKey)
  def pmiCooccur(textKey: String, window: Int = 2,
      minCount: Long = 1L): Self =
    append("pmi_cooccur", "text_key" -> textKey, "window" -> window,
      "min_count" -> minCount)
  def markdownTables(idKey: String, textKey: String): Self =
    append("markdown_tables", "id_key" -> idKey, "text_key" -> textKey)
  def lineClean(textKey: String, minWords: Int = 3,
      requireTerminalPunct: Boolean = true): Self =
    append("line_clean", "text_key" -> textKey, "min_words" -> minWords,
      "require_terminal_punct" -> requireTerminalPunct)
  def encodingRepair(textKey: String): Self =
    append("encoding_quality", "text_key" -> textKey, "mode" -> "repair")
  def scriptProfile(textKey: String): Self =
    append("script_profile", "text_key" -> textKey)
  def markdownSections(idKey: String, textKey: String): Self =
    append("markdown_sections", "id_key" -> idKey, "text_key" -> textKey)
  def pseudonymize(textKey: String, label: String = "EMAIL"): Self =
    append("pseudonymize", "text_key" -> textKey, "label" -> label)
  def fim(idKey: String, textKey: String, rate: Double = 0.5,
      spmRate: Double = 0.5, randomState: Int = 0): Self =
    append("fim", "id_key" -> idKey, "text_key" -> textKey,
      "rate" -> rate, "spm_rate" -> spmRate, "random_state" -> randomState)
  def spanCorrupt(idKey: String, textKey: String, rate: Double = 0.15,
      spanLen: Int = 3, randomState: Int = 0): Self =
    append("span_corrupt", "id_key" -> idKey, "text_key" -> textKey,
      "rate" -> rate, "span_len" -> spanLen,
      "random_state" -> randomState)
  def conversationFromEvents(key: String, ts: String, roleKey: String,
      contentKey: String, gap: Long, tieBreak: String): Self =
    append("conversation_from_events", "key" -> key, "ts" -> ts,
      "role_key" -> roleKey, "content_key" -> contentKey, "gap" -> gap,
      "tie_break" -> tieBreak)
  def lengthBatches(lenKey: String, batchSize: Int, tieBreak: String,
      mode: String = "assign"): Self =
    append("length_batch", "len_key" -> lenKey, "batch_size" -> batchSize,
      "tie_break" -> tieBreak, "mode" -> mode)
  def preferenceFromPairs(promptKey: String, chosenKey: String,
      rejectedKey: String, system: String = ""): Self = {
    val base = Seq[(String, Any)]("prompt_key" -> promptKey,
      "chosen_key" -> chosenKey, "rejected_key" -> rejectedKey)
    val fields = if (system.isEmpty) base else base :+ ("system" -> system)
    append("preference_from_pairs", fields: _*)
  }
  def preferenceValidate(dropInvalid: Boolean = false,
      parts: Boolean = false, tools: Boolean = false): Self =
    append("preference_validate", "drop_invalid" -> dropInvalid,
      "parts" -> parts, "tools" -> tools)
  def preferenceRender(template: String = "default",
      parts: Boolean = false, tools: Boolean = false): Self =
    append("preference_render", "template" -> template, "parts" -> parts,
      "tools" -> tools)
  def preferenceLengthBias(): Self =
    append("preference_length_bias")
  def kAnonymity(columns: Seq[String], k: Int,
      mode: String = "report", limit: Int = 1000): Self =
    append("k_anonymity", "columns" -> jlist(columns), "k" -> k,
      "mode" -> mode, "limit" -> limit)
  def lDiversity(columns: Seq[String], sensitiveKey: String, l: Int,
      mode: String = "report", limit: Int = 1000): Self =
    append("l_diversity", "columns" -> jlist(columns),
      "sensitive_key" -> sensitiveKey, "l" -> l,
      "mode" -> mode, "limit" -> limit)
  def tCloseness(columns: Seq[String], sensitiveKey: String, t: Double,
      mode: String = "report", limit: Int = 1000,
      method: String = "categorical", bins: Option[Int] = None): Self =
    // bins only parameterizes the numeric arm; the categorical arm
    // REJECTS it (contradictory-knob convention). Option-typed so an
    // EXPLICIT value is always emitted — a caller passing bins under
    // method: categorical gets the Registry rejection instead of a
    // silent drop (None under numeric falls to the Registry default)
    append("t_closeness", (Seq[(String, Any)]("columns" -> jlist(columns),
      "sensitive_key" -> sensitiveKey, "t" -> t,
      "mode" -> mode, "limit" -> limit, "method" -> method) ++
      bins.map(b => "bins" -> (b: Any)).toSeq): _*)
  def bitextMine(idKey: String, embeddingKey: String,
      targetFrom: String, k: Int = 4, threshold: Option[Double] = None,
      mutualBest: Option[Boolean] = None, method: String = "brute",
      nCells: Int = 256, nProbe: Int = 8, mode: String = "mine",
      seed: Int = 42, targetIdKey: Option[String] = None,
      targetEmbeddingKey: Option[String] = None): Self =
    // the audit counts UNFILTERED candidates, so threshold/mutual_best
    // are rejected under mode: audit. Option-typed so an EXPLICIT value
    // is always emitted — passing threshold with mode = "audit" gets
    // the Registry rejection instead of a silent drop; None under
    // mine falls to the Registry defaults (1.0 / false)
    append("bitext_mine", (Seq[(String, Any)]("id_key" -> idKey,
      "embedding_key" -> embeddingKey, "target_from" -> targetFrom,
      "k" -> k, "method" -> method, "n_cells" -> nCells,
      "n_probe" -> nProbe, "mode" -> mode, "seed" -> seed) ++
      threshold.map(v => "threshold" -> (v: Any)).toSeq ++
      mutualBest.map(v => "mutual_best" -> (v: Any)).toSeq ++
      targetIdKey.map(v => "target_id_key" -> (v: Any)).toSeq ++
      targetEmbeddingKey.map(v =>
        "target_embedding_key" -> (v: Any)).toSeq): _*)
  def hardNegativesBm25(qidKey: String, qtextKey: String,
      positivesFrom: String, corpusFrom: String, textKey: String,
      negatives: Int = 5): Self =
    append("hard_negatives_bm25", "qid_key" -> qidKey,
      "qtext_key" -> qtextKey, "positives_from" -> positivesFrom,
      "corpus_from" -> corpusFrom, "text_key" -> textKey,
      "negatives" -> negatives)
  def datacard(textKey: String, sliceKey: String,
      perSlice: Boolean = false, approx: Boolean = false): Self =
    append("datacard", "text_key" -> textKey, "slice_key" -> sliceKey,
      "per_slice" -> perSlice, "approx" -> approx)
  def urlParseWithSuffixes(urlKey: String, suffixes: Seq[String],
      stats: Boolean = false): Self =
    append("url_parse", "url_key" -> urlKey, "stats" -> stats,
      "suffixes" -> jlist(suffixes))
  def bpeTrain(textKey: String, numMerges: Int,
      mergesPerRound: Int = 1): Self =
    append("bpe_train", "text_key" -> textKey, "num_merges" -> numMerges,
      "merges_per_round" -> mergesPerRound)
  /** `greedy` unset leaves the Registry default (greedy past 256 trained
    * merges). */
  def bpeEncode(textKey: String, numMerges: Int,
      greedy: Option[Boolean] = None): Self =
    append("bpe_encode", (Seq[(String, Any)]("text_key" -> textKey,
      "num_merges" -> numMerges) ++
      greedy.map(v => "greedy" -> (v: Any)).toSeq): _*)
  /** GPT-2-parity byte-level arms (`level: byte`). */
  def bpeTrainByteLevel(textKey: String, numMerges: Int,
      mergesPerRound: Int = 1): Self =
    append("bpe_train", "text_key" -> textKey, "num_merges" -> numMerges,
      "merges_per_round" -> mergesPerRound, "level" -> "byte")
  def bpeEncodeByteLevel(textKey: String, numMerges: Int): Self =
    append("bpe_encode", "text_key" -> textKey, "num_merges" -> numMerges,
      "level" -> "byte")
  /** Unigram-LM (Kudo 2018) train/encode. */
  def unigramTrain(textKey: String, maxPieceLen: Int = 8,
      seedSize: Int = 2000, targetSize: Int = 800,
      emIters: Int = 2): Self =
    append("unigram_train", "text_key" -> textKey,
      "max_piece_len" -> maxPieceLen, "seed_size" -> seedSize,
      "target_size" -> targetSize, "em_iters" -> emIters)
  def unigramEncode(textKey: String, maxPieceLen: Int = 8,
      seedSize: Int = 2000, targetSize: Int = 800,
      emIters: Int = 2, vocabFrom: Option[String] = None): Self =
    append("unigram_encode", (Seq[(String, Any)]("text_key" -> textKey,
      "max_piece_len" -> maxPieceLen, "seed_size" -> seedSize,
      "target_size" -> targetSize, "em_iters" -> emIters) ++
      vocabFrom.map(v => "vocab_from" -> (v: Any)).toSeq): _*)
  /** WordPiece (Schuster & Nakajima 2012) train/encode. */
  def wordpieceTrain(textKey: String, numMerges: Int = 64,
      mergesPerRound: Int = 1): Self =
    append("wordpiece_train", "text_key" -> textKey,
      "num_merges" -> numMerges, "merges_per_round" -> mergesPerRound)
  def wordpieceEncode(textKey: String, numMerges: Int = 64,
      unk: String = "[UNK]", maxChars: Int = 100,
      vocabFrom: Option[String] = None,
      mergesPerRound: Int = 1): Self = {
    val base = Seq[(String, Any)]("text_key" -> textKey,
      "num_merges" -> numMerges, "unk" -> unk, "max_chars" -> maxChars,
      "merges_per_round" -> mergesPerRound)
    // `vocab_from` must be ABSENT (not empty) to mean "train on this
    // frame" — the registry dispatches on key presence.
    append("wordpiece_encode",
      (base ++ vocabFrom.map("vocab_from" -> (_: Any))): _*)
  }
  def cdcChunk(idKey: String, textKey: String, mode: String = "chunks",
      p: Int = 16): Self =
    append("cdc_chunk", "id_key" -> idKey, "text_key" -> textKey,
      "mode" -> mode, "p" -> p)
  def cmsEstimate(keyKey: String, width: Int = 1 << 14,
      depth: Int = 4): Self =
    append("cms_estimate", "key_key" -> keyKey, "width" -> width,
      "depth" -> depth)
  def truncateTokens(textKey: String, maxTokens: Int,
      mode: String = "head", marker: String = ""): Self =
    append("truncate", "text_key" -> textKey, "max_tokens" -> maxTokens,
      "mode" -> mode, "marker" -> marker)
  def segmentSentences(idKey: String, textKey: String): Self =
    append("segment", "id_key" -> idKey, "text_key" -> textKey)
  def sentenceStats(textKey: String): Self =
    append("segment", "text_key" -> textKey, "stats" -> true)
  def chunkSentences(idKey: String, textKey: String, maxWords: Int,
      overlap: Int = 0): Self =
    append("chunk_sentences", "id_key" -> idKey, "text_key" -> textKey,
      "max_words" -> maxWords, "overlap" -> overlap)
  def encodingQuality(textKey: String, threshold: Double = 5.0,
      clean: Boolean = false): Self =
    append("encoding_quality", "text_key" -> textKey,
      "threshold" -> threshold, "mode" -> (if (clean) "clean" else "report"))
  def profile(columns: Seq[String], approx: Boolean = false): Self =
    append("profile", "columns" -> jlist(columns), "approx" -> approx)
  def fingerprint(columns: Seq[String]): Self =
    append("fingerprint", "columns" -> jlist(columns))
  def tokenizerStats(textKey: String, numMerges: Int): Self =
    append("tokenizer_stats", "text_key" -> textKey,
      "num_merges" -> numMerges)
  def quotaSelect(key: String, n: Int, orderBy: String,
      desc: Boolean = true, tieBreak: String = ""): Self =
    append("quota_select", "key" -> key, "n" -> n, "order_by" -> orderBy,
      "desc" -> desc, "tie_break" -> tieBreak)
  def winsorize(key: String, pLo: Double = 0.01, pHi: Double = 0.99,
      approx: Boolean = false): Self =
    append("winsorize", "key" -> key, "p_lo" -> pLo, "p_hi" -> pHi,
      "approx" -> approx)
  def iqrOutliers(key: String, k: Double = 1.5,
      approx: Boolean = false): Self =
    append("winsorize", "key" -> key, "mode" -> "outliers", "k" -> k,
      "approx" -> approx)
  def buildVocab(textKey: String, coverage: Double): Self =
    append("build_vocab", "text_key" -> textKey, "coverage" -> coverage)
  def classifierEval(labelKey: String, scoreKey: String,
      threshold: Double = 0.5): Self =
    append("classifier_eval", "label_key" -> labelKey,
      "score_key" -> scoreKey, "threshold" -> threshold)
  def calibrationBins(labelKey: String, scoreKey: String,
      bins: Int = 10): Self =
    append("classifier_eval", "label_key" -> labelKey,
      "score_key" -> scoreKey, "mode" -> "calibration", "bins" -> bins)
  def calibrationBinsEqualMass(labelKey: String, scoreKey: String,
      bins: Int, tieBreak: String): Self =
    append("classifier_eval", "label_key" -> labelKey,
      "score_key" -> scoreKey, "mode" -> "calibration_equal_mass",
      "bins" -> bins, "tie_break" -> tieBreak)
  def randomProject(embeddingKey: String, outDim: Int,
      seed: String = "jl", outputKey: String = "embedding_jl"): Self =
    append("random_project", "embedding_key" -> embeddingKey,
      "out_dim" -> outDim, "seed" -> seed, "output_key" -> outputKey)
  def pagerank(srcKey: String, dstKey: String, iterations: Int = 10,
      dampingPct: Int = 85): Self =
    append("pagerank", "src_key" -> srcKey, "dst_key" -> dstKey,
      "iterations" -> iterations, "damping_pct" -> dampingPct)
  def readability(textKey: String): Self =
    append("readability", "text_key" -> textKey)
  def htmlExtract(htmlKey: String, outputKey: String = "main_content",
      minChars: Int = 25, maxLinkDensity: Double = 0.33): Self =
    append("html_extract", "html_key" -> htmlKey,
      "output_key" -> outputKey, "min_chars" -> minChars,
      "max_link_density" -> maxLinkDensity)
  def stupidBackoff(idKey: String, textKey: String,
      reference: String = "", alpha: Double = 0.4): Self = {
    val base = Seq[(String, Any)]("id_key" -> idKey, "text_key" -> textKey,
      "alpha" -> alpha)
    val fields = if (reference.nonEmpty) base :+ ("reference" -> reference)
      else base
    append("stupid_backoff", fields: _*)
  }
  /** rules: (column, check, value) triples; enum values join with ','. */
  def schemaValidate(rules: Seq[(String, String, String)],
      mode: String = "report"): Self =
    append("schema_validate", "mode" -> mode,
      "rules" -> jlist(rules.map { case (c, chk, v) =>
        val m = jmap("column" -> c, "check" -> chk)
        chk match {
          case "not_null" => ()
          case "enum" => m.put("values", jlist(v.split(',').toSeq))
          case "min_length" | "max_length" => m.put("value", v.toInt)
          case "min" | "max" => m.put("value", v.toDouble)
          case _ => m.put("value", v)
        }
        m
      }))
  def codeDetect(textKey: String, threshold: Double = 0.25): Self =
    append("code_detect", "text_key" -> textKey, "threshold" -> threshold)
  def compressionRatio(textKey: String,
      threshold: Double = 0.25): Self =
    append("compression_ratio", "text_key" -> textKey,
      "threshold" -> threshold)
  def corpusOverlap(sliceKey: String, textKey: String,
      shingleSize: Int = 3, numHashes: Int = 16): Self =
    append("corpus_overlap", "slice_key" -> sliceKey, "text_key" -> textKey,
      "shingle_size" -> shingleSize, "num_hashes" -> numHashes)
  def embeddingStats(sliceKey: String, embeddingKey: String,
      mode: String = "outliers"): Self =
    append("embedding_stats", "slice_key" -> sliceKey,
      "embedding_key" -> embeddingKey, "mode" -> mode)
  def imageHeaders(binaryKey: String): Self =
    append("image_header", "binary_key" -> binaryKey)
  def audioHeaders(binaryKey: String): Self =
    append("audio_header", "binary_key" -> binaryKey)
  def byteFeatures(binaryKey: String, dim: Int = 8,
      outputKey: String = "byte_features"): Self =
    append("byte_features", "binary_key" -> binaryKey, "dim" -> dim,
      "output_key" -> outputKey)
  def mixturePlan(domainKey: String, tokenExpr: String,
      weights: Seq[(String, Double)], totalBudget: Long): Self =
    append("mixture_plan", "domain_key" -> domainKey,
      "token_expr" -> tokenExpr,
      "weights" -> jmap(weights.map { case (k, v) => k -> (v: Any) }: _*),
      "total_budget" -> totalBudget)
  def groundingScore(sourceKey: String, responseKey: String,
      n: Int = 2): Self =
    append("grounding", "source_key" -> sourceKey,
      "response_key" -> responseKey, "n" -> n)
  def winnow(idKey: String, textKey: String, mode: String = "fingerprints",
      k: Int = 5, w: Int = 4): Self =
    append("winnow", "id_key" -> idKey, "text_key" -> textKey,
      "mode" -> mode, "k" -> k, "w" -> w)
  def nbTrain(labelKey: String, textKey: String, alpha: Double = 1.0): Self =
    append("nb_train", "label_key" -> labelKey, "text_key" -> textKey,
      "alpha" -> alpha)
  def nbClassify(idKey: String, textKey: String,
      labelKey: String): Self =
    append("nb_classify", "id_key" -> idKey, "text_key" -> textKey,
      "label_key" -> labelKey)
  def vocabCoverage(idKey: String, textKey: String,
      vocabWords: Seq[String]): Self =
    append("vocab_coverage", "id_key" -> idKey, "text_key" -> textKey,
      "vocab_words" -> jlist(vocabWords))
  def topOovTokens(textKey: String, vocabWords: Seq[String],
      k: Int = 100): Self =
    append("vocab_coverage", "text_key" -> textKey, "mode" -> "top_oov",
      "vocab_words" -> jlist(vocabWords), "k" -> k)
  def piiReport(textKey: String): Self =
    append("pii_report", "text_key" -> textKey)
  def blocklistWords(textKey: String, words: Seq[String],
      report: Boolean = false): Self =
    append("word_blocklist", "text_key" -> textKey,
      "words" -> jlist(words), "report" -> report)
  def urlParse(urlKey: String, stats: Boolean = false): Self =
    append("url_parse", "url_key" -> urlKey, "stats" -> stats)
  def bpePairCounts(textKey: String): Self =
    append("bpe_pairs", "text_key" -> textKey)
  def distinctNgrams(sliceKey: String, textKey: String, n: Int = 3,
      approx: Boolean = false, rsd: Double = 0.02): Self =
    append("distinct_ngrams", "slice_key" -> sliceKey, "text_key" -> textKey,
      "n" -> n, "approx" -> approx, "rsd" -> rsd)
  def sq8Encode(embeddingKey: String, levels: Int = 256,
      outputKey: String = "codes"): Self =
    append("sq8_encode", "embedding_key" -> embeddingKey,
      "levels" -> levels, "output_key" -> outputKey)
  def pqEncode(embeddingKey: String, nSub: Int, nCodes: Int = 256,
      randomState: Int = 42, outputKey: String = "pq_codes"): Self =
    append("pq_encode", "embedding_key" -> embeddingKey, "n_sub" -> nSub,
      "n_codes" -> nCodes, "random_state" -> randomState,
      "output_key" -> outputKey)
  def budgetSelect(scoreExpr: String, costExpr: String, budget: Long,
      tieBreak: String): Self =
    append("budget_select", "score_expr" -> scoreExpr, "cost_expr" -> costExpr,
      "budget" -> budget, "tie_break" -> tieBreak)
  def budgetSelectGrouped(groupKey: String, scoreExpr: String,
      costExpr: String, budgets: Map[String, Long], tieBreak: String,
      defaultBudget: Long = 0L): Self =
    append("budget_select_grouped", "group_key" -> groupKey,
      "score_expr" -> scoreExpr, "cost_expr" -> costExpr,
      "budgets" -> jmap(budgets.toSeq.map {
        case (k, v) => k -> (v: Any) }: _*),
      "tie_break" -> tieBreak, "default_budget" -> defaultBudget)
  def budgetSelectFractions(groupKey: String, scoreExpr: String,
      costExpr: String, totalBudget: Long, fractions: Map[String, Double],
      tieBreak: String): Self =
    append("budget_select_grouped", "group_key" -> groupKey,
      "score_expr" -> scoreExpr, "cost_expr" -> costExpr,
      "total_budget" -> totalBudget,
      "fractions" -> jmap(fractions.toSeq.map {
        case (k, v) => k -> (v: Any) }: _*),
      "tie_break" -> tieBreak)
  def corpusStats(groupKeys: Seq[String], tokenExpr: String,
      quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)): Self =
    append("corpus_stats", "group_keys" -> jlist(groupKeys),
      "token_expr" -> tokenExpr,
      "quantiles" -> jlist(quantiles.map(q => q: Any)))
  def corpusDriftMatrix(groupKey: String, textKey: String): Self =
    append("corpus_drift_matrix", "group_key" -> groupKey,
      "text_key" -> textKey)
  def curriculum(scoreExpr: String, idExpr: String, nBuckets: Int = 4,
      randomState: Long = 0): Self =
    append("curriculum", "score_expr" -> scoreExpr, "id_expr" -> idExpr,
      "n_buckets" -> nBuckets, "random_state" -> randomState)
  def sessionize(key: String, ts: String, gap: Long, tieBreak: String,
      aggregate: Boolean = false,
      outputKey: String = "session_id"): Self =
    append("sessionize", "key" -> key, "ts" -> ts, "gap" -> gap,
      "tie_break" -> tieBreak, "aggregate" -> aggregate,
      "output_key" -> outputKey)

  /** Backward as-of join against `right` (a binary merge like
    * decontaminate; the op references the right's final step by name). */
  def asofJoin(right: Self, leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, payload: Seq[String],
      tolerance: Option[Long] = None, suffix: String = "_asof"): Self = {
    val fields = Seq[(String, Any)]("right" -> right, "left_key" -> leftKey,
      "right_key" -> rightKey, "left_ts" -> leftTs, "right_ts" -> rightTs,
      "payload" -> jlist(payload), "suffix" -> suffix) ++
      tolerance.map(t => "tolerance" -> (t: Any)).toSeq
    appendWith("asof_join", fields: _*)
  }

  /** Banded ±window time join against `right` (binary merge). */
  def windowJoin(right: Self, leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, window: Long, payload: Seq[String],
      suffix: String = "_near"): Self =
    appendWith("window_join", "right" -> right, "left_key" -> leftKey,
      "right_key" -> rightKey, "left_ts" -> leftTs, "right_ts" -> rightTs,
      "window" -> window, "payload" -> jlist(payload), "suffix" -> suffix)

  /** Jensen-Shannon drift against another corpus (binary merge). */
  def corpusDrift(other: Self, textKey: String,
      otherTextKey: String = ""): Self = {
    val fields = Seq[(String, Any)]("other" -> other, "text_key" -> textKey) ++
      (if (otherTextKey.nonEmpty) Seq("other_text_key" -> otherTextKey) else Nil)
    appendWith("corpus_drift", fields: _*)
  }

  /** Linear classifier scoring against a `weights` frame (binary merge —
    * the (token, weight) model table resolves by step name). */
  def linearScore(weights: Self, idKey: String, textKey: String,
      bias: Double = 0.0, mode: String = "binary",
      outputKey: String = "quality_score"): Self =
    appendWith("linear_score", "weights" -> weights, "id_key" -> idKey,
      "text_key" -> textKey, "bias" -> bias, "mode" -> mode,
      "output_key" -> outputKey)

  /** DSIR importance weights against `target` (a binary merge like
    * decontaminate; the op references the target's final step by name). */
  def importanceWeight(target: Self, idKey: String, textKey: String,
      targetTextKey: String = "",
      outputKey: String = "importance_weight"): Self = {
    val fields = Seq[(String, Any)]("target" -> target, "id_key" -> idKey,
      "text_key" -> textKey, "output_key" -> outputKey) ++
      (if (targetTextKey.nonEmpty) Seq("target_text_key" -> targetTextKey)
       else Nil)
    appendWith("importance_weight", fields: _*)
  }

  /** Token-id mapping against a vocab frame (a binary merge; the op
    * references the vocab's final step by name). */
  def vocabEncode(vocab: Self, tokensKey: String,
      unkId: Long = -1L, outputKey: String = "ids"): Self =
    appendWith("vocab_encode", "vocab" -> vocab, "tokens_key" -> tokensKey,
      "unk_id" -> unkId, "output_key" -> outputKey)

  /** Snapshot diff of this frame (the NEW ingest) against `prev` (a binary
    * merge; the op references prev's final step by name). `reprocess`
    * returns this frame's added/changed rows instead of the delta table. */
  def snapshotDiff(prev: Self, idKey: String, contentExpr: String,
      reprocess: Boolean = false): Self =
    appendWith("snapshot_diff", "prev" -> prev, "id_key" -> idKey,
      "content_expr" -> contentExpr, "reprocess" -> reprocess)

  // ---- binary facades (two-frame merge, frame.py:239-335) ----

  /** Decontaminate this frame against `benchmark` (a binary merge like
    * equijoin; the op references the benchmark's final step by name). */
  def decontaminate(benchmark: Self, idKey: String, textKey: String,
      benchmarkTextKey: String = "", n: Int = 8,
      mode: String = "clean",
      broadcastBenchmark: Option[Boolean] = None): Self = {
    val fields = Seq[(String, Any)]("benchmark" -> benchmark, "id_key" -> idKey,
      "text_key" -> textKey, "n" -> n, "mode" -> mode) ++
      (if (benchmarkTextKey.nonEmpty) Seq("benchmark_text_key" -> benchmarkTextKey)
       else Nil) ++
      broadcastBenchmark.map("broadcast_benchmark" -> (_: Any))
    appendWith("decontaminate", fields: _*)
  }

  /** [[decontaminate]]'s embedding-space arm (`method: embedding`) —
    * catches rephrased benchmark items n-gram overlap misses. */
  def decontaminateEmbedding(benchmark: Self, idKey: String,
      embeddingKey: String, benchmarkIdKey: String,
      benchmarkEmbeddingKey: String = "", threshold: Double = 0.95,
      mode: String = "clean", maxBenchRows: Int = 100000): Self = {
    val fields = Seq[(String, Any)]("benchmark" -> benchmark,
      "method" -> "embedding", "id_key" -> idKey,
      "embedding_key" -> embeddingKey,
      "benchmark_id_key" -> benchmarkIdKey,
      "threshold" -> threshold, "mode" -> mode,
      "max_bench_rows" -> maxBenchRows) ++
      (if (benchmarkEmbeddingKey.nonEmpty)
         Seq("benchmark_embedding_key" -> benchmarkEmbeddingKey)
       else Nil)
    appendWith("decontaminate", fields: _*)
  }

  /** Incremental near-dup filter against `reference` (a binary merge like
    * decontaminate): drop this frame's rows that near-duplicate any
    * reference row (mode "pairs" emits the (id_new, id_ref, jaccard)
    * hits instead). */
  def bloomDecontaminate(reference: Self, idKey: String,
      textKey: String, referenceTextKey: String = "", n: Int = 4,
      bits: Long = 1L << 22, hashes: Int = 3,
      mode: String = "clean", maxHits: Option[Long] = None): Self = {
    val fields = Seq[(String, Any)]("reference" -> reference, "id_key" -> idKey,
      "text_key" -> textKey, "n" -> n, "bits" -> bits, "hashes" -> hashes,
      "mode" -> mode) ++
      (if (referenceTextKey.nonEmpty)
         Seq("reference_text_key" -> referenceTextKey)
       else Nil) ++
      maxHits.map("max_hits" -> (_: Any))
    appendWith("bloom_decontaminate", fields: _*)
  }

  def dedupAgainst(reference: Self, idKey: String, textKey: String,
      refIdKey: String = "", refTextKey: String = "",
      threshold: Double = 0.8, mode: String = "clean",
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): Self = {
    val fields = Seq[(String, Any)]("reference" -> reference, "id_key" -> idKey,
      "text_key" -> textKey, "threshold" -> threshold, "mode" -> mode) ++
      (if (refIdKey.nonEmpty) Seq("reference_id_key" -> refIdKey) else Nil) ++
      (if (refTextKey.nonEmpty) Seq("reference_text_key" -> refTextKey)
       else Nil) ++
      maxBucketSize.map("max_bucket_size" -> (_: Any)) ++
      maxBucketHead.map("max_bucket_head" -> (_: Any))
    appendWith("dedup_against", fields: _*)
  }

  /** Eval-side contamination audit against `benchmark` (a binary merge
    * like decontaminate): per benchmark item, gram total / hits / frac. */
  def contaminationReport(benchmark: Self, textKey: String,
      benchmarkIdKey: String, benchmarkTextKey: String = "",
      n: Int = 8): Self = {
    val fields = Seq[(String, Any)]("benchmark" -> benchmark,
      "text_key" -> textKey, "benchmark_id_key" -> benchmarkIdKey,
      "n" -> n) ++
      (if (benchmarkTextKey.nonEmpty) Seq("benchmark_text_key" -> benchmarkTextKey)
       else Nil)
    appendWith("contamination_report", fields: _*)
  }

  /** Unicode canonicalization: the full cleanText chain by default, or a
    * bare NFC/NFD/NFKC/NFKD normalize with `clean = false`. */
  def normalizeText(textKey: String, form: String = "NFC",
      clean: Boolean = true, outputKey: String = ""): Self =
    append("normalize_text", (Seq[(String, Any)]("text_key" -> textKey,
      "form" -> form, "clean" -> clean) ++
      (if (outputKey.nonEmpty) Seq("output_key" -> outputKey) else Nil)): _*)

  /** Leakage-safe train/val/test assignment keyed on a group expression. */
  def assignSplit(groupKeyExpr: String, splits: Seq[(String, Double)],
      randomState: Long = 0): Self = {
    val m = jmap()
    splits.foreach { case (k, v) => m.put(k, v: Any) }
    append("assign_split", "group_key_expr" -> groupKeyExpr,
      "splits" -> m, "random_state" -> randomState)
  }

  /** Hard-negative mining against `corpus` (a binary merge): per row of
    * this frame, top-k most-similar corpus rows with a DIFFERENT label.
    * `method: embedding` (default, exact) or `embedding_ivf` (the IVF
    * scale arm — bit-identical at nProbe = nCells). */
  def hardNegatives(corpus: Self, idKey: String, embeddingKey: String,
      labelKey: String, k: Int = 10, method: String = "embedding",
      nCells: Int = 256, nProbe: Int = 8): Self =
    appendWith("hard_negatives", "corpus" -> corpus, "id_key" -> idKey,
      "embedding_key" -> embeddingKey, "label_key" -> labelKey, "k" -> k,
      "method" -> method, "n_cells" -> nCells, "n_probe" -> nProbe)
}

object OpFacades {
  private[api] def jmap(pairs: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    pairs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private[api] def jlist(items: Seq[Any]): java.util.ArrayList[Any] = {
    val l = new java.util.ArrayList[Any]()
    items.foreach(l.add)
    l
  }
}

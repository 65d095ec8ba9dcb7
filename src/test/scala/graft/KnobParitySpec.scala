package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Three-surface knob parity (VERDICT r16 item 7): every YAML knob the
  * Registry reads must be expressible from the builder surfaces, so
  * parity gaps stop arriving one ADVICE item at a time (the r15
  * wordpieceEncode vocab_from precedent).
  *
  * The guarantee has two layers:
  *   1. STRUCTURAL — [[graft.api.OpFacades.op]] (generic registered-op
  *      step) makes every op and knob reachable from both builders
  *      ([[graft.api.LazyFrame]] and [[graft.api.Frame]] share the one
  *      facade list, so their parity holds by construction), and
  *      [[graft.api.LazyFrame.withOption]] sets any field on the last
  *      op; both are exercised end-to-end below.
  *   2. INVENTORY — this spec re-derives, from the SOURCE of
  *      Registry.scala and OpFacades.scala, (a) which registered ops
  *      have no dedicated fluent facade and (b) which knobs each
  *      facade omits, and asserts both match the pinned lists below
  *      EXACTLY. Adding a Registry knob without either extending the
  *      facade or consciously re-pinning it here fails the build —
  *      in BOTH directions (closing a gap without unpinning fails
  *      too, so the inventory cannot rot).
  *
  * Pinned no-facade ops (all reachable via op()): cascade_filter and
  * parse are pipeline-wiring ops (the YAML runner threads cascades /
  * parsing_tools config; Frame keeps a typed `parse(cfg)`), redact_cc
  * is a registry-only curation arm. Pinned facade gaps are mostly semantic-op
  * tuning (model/gleaning/value_sampling on map/reduce/resolve/rank),
  * output_key renames, and alias ops covered by their unified facade
  * (hard_negatives_bm25 -> hardNegatives) — each reachable via
  * withOption without abandoning the facade. */
class KnobParitySpec extends SparkSpec {

  private val noFacadeOps: Set[String] = Set(
    "cascade_filter", "parse", "redact_cc")

  private val facadeGaps: Map[String, Set[String]] = Map(
    "agent_map" -> Set(
      "max_turns", "model"),
    "audio_header" -> Set(
      "output_key"),
    "bpe_encode" -> Set(
      "output_key"),
    "bpe_train" -> Set(
      "merges"),
    "cdc_chunk" -> Set(
      "min_occurrences", "output_key"),
    "chat_render" -> Set(
      "placeholders"),
    "cluster" -> Set(
      "collapse", "depth", "max_summary_members", "model", "sample_size_per_node", "seed", "summary_prompt", "summary_schema"),
    "cms_estimate" -> Set(
      "output_key", "weight_key"),
    "code_filter" -> Set(
      "limit"),
    "code_map" -> Set(
      "drop_keys", "limit"),
    "code_reduce" -> Set(
      "counts"),
    "collapse_repeats" -> Set(
      "output_key"),
    "conversation_from_events" -> Set(
      "output_key"),
    "conversation_from_pairs" -> Set(
      "output_key"),
    "conversation_merge_roles" -> Set(
      "output_key"),
    "conversation_trim" -> Set(
      "output_key"),
    "conversation_validate" -> Set(
      "allowed_types"),
    "datacard" -> Set(
      "rsd"),
    "dedup" -> Set(
      "dim", "max_hamming", "max_posting_head", "max_posting_size", "num_bands", "num_perms", "num_planes", "shingle_size"),
    "dedup_against" -> Set(
      "num_bands", "num_perms", "precomputed", "shingle_size"),
    "dedup_lines" -> Set(
      "replace_text"),
    "dedup_spans" -> Set(
      "replace_text"),
    "embed" -> Set(
      "batch_size", "model"),
    "encoding_quality" -> Set(
      "output_key"),
    "extract" -> Set(
      "format_extraction", "model"),
    "fim" -> Set(
      "middle_token", "output_key", "prefix_token", "suffix_token"),
    "freshness" -> Set(
      "quantiles"),
    "gather" -> Set(
      "doc_header_key", "main_chunk_end", "main_chunk_start", "peripheral_chunks"),
    "grounding" -> Set(
      "output_key"),
    "hard_negatives_bm25" -> Set(
      "b", "corpus_embedding_key", "corpus_id_key", "corpus_label_key", "doc_id_key", "embedding_key", "id_key", "k", "k1", "label_key", "max_posting_size", "method", "n_cells", "n_probe", "pos_doc_key", "pos_qid_key", "seed"),
    "image_header" -> Set(
      "output_key"),
    "length_batch" -> Set(
      "output_key"),
    "line_clean" -> Set(
      "blocked", "output_key"),
    "link_resolve" -> Set(
      "http_client", "model", "normalize_expr"),
    "lsh_plan" -> Set(
      "bands", "similarities"),
    "map" -> Set(
      "retriever", "save_retriever_output"),
    "nb_classify" -> Set(
      "alpha", "append", "model", "scores"),
    "preference_from_pairs" -> Set(
      "chosen_out", "rejected_out"),
    "preference_length_bias" -> Set(
      "chosen_key", "rejected_key"),
    "preference_render" -> Set(
      "chosen_key", "mask_role", "rejected_key"),
    "preference_validate" -> Set(
      "chosen_key", "rejected_key"),
    "profile" -> Set(
      "percentile_accuracy", "rsd"),
    "pseudonymize" -> Set(
      "output_key", "pattern"),
    "quality_rules" -> Set(
      "stopwords"),
    "rank" -> Set(
      "batch_size", "block_expr", "id_key", "k", "max_rows", "model", "prompt", "prompt_expr", "render_expr", "sample_size"),
    "redact_iban" -> Set(
      "output_key"),
    "reduce" -> Set(
      "associative", "enable_observability", "fold_batch_size", "gleaning", "limit", "lineage", "model", "pass_through", "persist_intermediates", "skip_on_error", "strategy", "streaming_fold", "value_sample_embed_model", "value_sample_mode", "value_sample_query", "value_sample_size"),
    "resolve" -> Set(
      "blocking", "cascade", "comparison_model", "limit_comparisons", "max_iter", "max_pairs_per_bucket", "model", "resolution_model", "warn_pairs_per_bucket"),
    "sample" -> Set(
      "query", "query_vector", "text_key"),
    "skipgram_pairs" -> Set(
      "alpha"),
    "span_corrupt" -> Set(
      "inputs_key", "targets_key"),
    "split_leakage" -> Set(
      "pairs_from"),
    "topk" -> Set(
      "model", "prompt"),
    "truncate" -> Set(
      "output_key"),
    "truncate_embedding" -> Set(
      "output_key"),
    "unnest" -> Set(
      "depth", "expand_fields", "keep_empty", "recursive"),
    "url_filter" -> Set(
      "blocklist"),
    "vocab_coverage" -> Set(
      "vocab"),
    "vocab_decode" -> Set(
      "id_column", "output_key", "token_column"),
    "vocab_encode" -> Set(
      "id_column", "token_column"),
    "web_fetch" -> Set(
      "body_only", "convert_to_markdown", "max_workers", "output_field", "url"),
    "web_search" -> Set(
      "output_field", "query_template", "search_engine"),
    "winnow" -> Set(
      "max_posting_head", "min_docs"),
    "winsorize" -> Set(
      "output_key"))
  /** Keys every op carries structurally (appendNamed emits them). */
  private val structuralKeys = Set("name", "type")

  private def sourceFile(rel: String): String = {
    var dir = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    while (dir != null && !new java.io.File(dir, rel).isFile)
      dir = dir.getParentFile
    require(dir != null, s"cannot locate $rel above ${sys.props("user.dir")}")
    val src = scala.io.Source.fromFile(new java.io.File(dir, rel), "UTF-8")
    try src.mkString finally src.close()
  }

  /** Registry op -> config keys its handler reads (lexical, per
    * register("...") block — the same derivation the pins froze). */
  private lazy val registryKnobs: Map[String, Set[String]] = {
    val reg = sourceFile("src/main/scala/graft/api/Registry.scala")
    val blocks = reg.split("register\\(\"")
    val knobRe = ("c(?:\\.(?:strOr|intOr|dblOr|boolOr|get|str|int|dbl|" +
      "bool|strList|list|objList|strListOr))?\\(\\s*\"([a-z0-9_]+)\"").r
    blocks.drop(1).map { b =>
      val name = b.takeWhile(_ != '"')
      val body = b.drop(name.length)
      name -> (knobRe.findAllMatchIn(body).map(_.group(1)).toSet --
        structuralKeys)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).toSet }
  }

  /** Op type -> YAML fields some facade emits for it (fields and
    * appends matched within one `def` block, so Seq-built field lists
    * count for the op they feed). Binary facades name their op type in
    * `appendWith("type", ...)` or `appendWith("step", "type", ...)`. */
  private lazy val facadeFields: Map[String, Set[String]] = {
    val src = sourceFile("src/main/scala/graft/api/OpFacades.scala")
    val defs = src.split("\n  def ")
    val appendRe = "append\\(\"([a-z0-9_]+)\"".r
    val appendWithRe =
      "appendWith\\(\"([a-z0-9_]+)\"(?:, \"([a-z0-9_]+)\",)?".r
    val fieldRe = "\"([a-z0-9_]+)\" ->".r
    defs.flatMap { d =>
      val appends = appendRe.findAllMatchIn(d).map(_.group(1)).toSeq ++
        appendWithRe.findAllMatchIn(d).map(m =>
          Option(m.group(2)).getOrElse(m.group(1))).toSeq
      val fields = fieldRe.findAllMatchIn(d).map(_.group(1)).toSet
      appends.map(_ -> fields)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).toSet }
  }

  test("every Registry op has a LazyFrame facade or a pinned reason") {
    val computed = registryKnobs.keySet -- facadeFields.keySet
    assert(computed == noFacadeOps,
      s"unpinned no-facade ops: ${(computed -- noFacadeOps).toSeq.sorted}" +
        s"; stale pins: ${(noFacadeOps -- computed).toSeq.sorted}")
  }

  test("facade knob gaps match the pinned inventory exactly") {
    val computed = registryKnobs.flatMap { case (op, knobs) =>
      facadeFields.get(op).map { f =>
        op -> (knobs -- f -- structuralKeys)
      }
    }.filter(_._2.nonEmpty)
    val newGaps = computed.toSeq.flatMap { case (op, g) =>
      val pinned = facadeGaps.getOrElse(op, Set.empty)
      val extra = g -- pinned
      if (extra.nonEmpty) Some(s"$op: +${extra.toSeq.sorted}") else None
    }
    val closed = facadeGaps.toSeq.flatMap { case (op, pinned) =>
      val now = computed.getOrElse(op, Set.empty)
      val gone = pinned -- now
      if (gone.nonEmpty) Some(s"$op: -${gone.toSeq.sorted}") else None
    }
    assert(newGaps.isEmpty,
      s"NEW facade gaps (extend the facade or re-pin): $newGaps")
    assert(closed.isEmpty,
      s"gaps closed but still pinned (unpin them): $closed")
  }

  test("op() escape hatch reaches any registered op, loud on typos") {
    val lf = graft.api.LazyFrame.read("d", "/tmp/nowhere.parquet")
    val y = lf.op("interleave", "rank_keys" -> java.util.Arrays.asList(
      "a", "b"), "output_key" -> "rk").toYaml
    assert(y.contains("type: interleave") && y.contains("output_key: rk"), y)
    val bad = intercept[IllegalArgumentException] {
      lf.op("interlave")
    }
    assert(bad.getMessage.contains("unknown operator type"))
  }

  test("withOption sets facade-omitted knobs without leaving the facade") {
    val lf = graft.api.LazyFrame.read("d", "/tmp/nowhere.parquet")
    val y = lf.collapseRepeats("text")
      .withOption("output_key", "squeezed").toYaml
    assert(y.contains("output_key: squeezed"), y)
    // structural keys stay immutable; empty step rejected
    val e1 = intercept[IllegalArgumentException] {
      lf.collapseRepeats("text").withOption("type", "map")
    }
    assert(e1.getMessage.contains("structural"))
    val e2 = intercept[IllegalArgumentException] { lf.withOption("k", 1) }
    assert(e2.getMessage.contains("preceding op"))
    // and the field LOWERS through the run path, not just the YAML
    val p = java.nio.file.Files.createTempDirectory("graft_knob")
      .resolve("d.parquet").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    df(schema, Row(1L, "go go go stop")).write.mode("overwrite").parquet(p)
    val out = graft.api.LazyFrame.read("docs", p)
      .collapseRepeats("text").withOption("output_key", "squeezed")
      .run(spark)
    assert(out.columns.contains("squeezed"))
    assert(out.collect().head.getAs[String]("squeezed") == "go stop")
  }

  test("unigramEncode/bitextMine facades carry their round-17 knobs") {
    val lf = graft.api.LazyFrame.read("d", "/tmp/nowhere.parquet")
    val u = lf.unigramEncode("text", vocabFrom = Some("vtab")).toYaml
    assert(u.contains("vocab_from: vtab"), u)
    assert(!lf.unigramEncode("text").toYaml.contains("vocab_from"))
    val b = lf.bitextMine("id", "e", "tgt", mode = "audit", seed = 7,
      targetIdKey = Some("tid"), targetEmbeddingKey = Some("te")).toYaml
    assert(b.contains("mode: audit") && b.contains("seed: 7") &&
      b.contains("target_id_key: tid") &&
      b.contains("target_embedding_key: te"), b)
  }

  test("the merge closes Frame's knobs on the shared facades") {
    val lf = graft.api.LazyFrame.read("d", "/tmp/nowhere.parquet")
    val ref = graft.api.LazyFrame.read("r", "/tmp/nowhere_ref.parquet")
    val kb = lf.dedupMinhashKeepBest("id", "text", maxBucketSize = Some(5),
      maxBucketHead = Some(2)).toYaml
    assert(kb.contains("max_bucket_size: 5") &&
      kb.contains("max_bucket_head: 2"), kb)
    // absent Options stay absent: default YAML is unchanged
    assert(!lf.dedupMinhashKeepBest("id", "text").toYaml
      .contains("max_bucket"))
    val da = lf.dedupAgainst(ref, "id", "text", maxBucketSize = Some(7),
      maxBucketHead = Some(3)).toYaml
    assert(da.contains("max_bucket_size: 7") &&
      da.contains("max_bucket_head: 3"), da)
    val sd = lf.semdedup("id", "e", 4, maxClusterSize = Some(9),
      maxClusterHead = Some(4)).toYaml
    assert(sd.contains("max_cluster_size: 9") &&
      sd.contains("max_cluster_head: 4"), sd)
    val dc = lf.decontaminate(ref, "id", "text",
      broadcastBenchmark = Some(false)).toYaml
    assert(dc.contains("broadcast_benchmark: false"), dc)
    assert(!lf.decontaminate(ref, "id", "text").toYaml.contains("broadcast"))
    val bd = lf.bloomDecontaminate(ref, "id", "text", maxHits = Some(2L))
      .toYaml
    assert(bd.contains("max_hits: 2"), bd)
    val z = lf.scoreZ(Seq("a", "b"), weights = Seq(2.0, 1.0)).toYaml
    assert(z.contains("weights:") && z.contains("- 2.0"), z)
    assert(!lf.scoreZ(Seq("a")).toYaml.contains("weights"))
    // Frame-only verbs now on both surfaces
    val y = lf.interleave("lang", "id").nbTrain("label", "text")
      .unigramSurprisal("id", "text").toYaml
    assert(y.contains("type: interleave") && y.contains("type: nb_train") &&
      y.contains("type: unigram_surprisal"), y)
  }
}

package graft.tools

/** Dev tool: print formatted physical plans for representative queries so
  * pushdown/broadcast/codegen regressions are visible (SURVEY.md §7 goal:
  * iterate on the plan, not just the result). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet
      else Set("q01_code_reduce_tpch1", "q03_join_agg", "q05_tpch3_topk",
        "q13_sample_first", "q17_topk_bm25", "q30_sem_map",
        // round-11 plan shapes worth re-auditing: one-scan profiler,
        // WindowGroupLimit quota prune, broadcast JL literals
        "q159_profile", "q161_quota_select", "q166_random_project",
        // round-12 shapes: scan-fused seeded transforms (no shuffle,
        // no UDF), the sessionize+agg conversation bridge, and the
        // single range-sort + keyed-agg batching report
        "q179_fim", "q186_span_corrupt", "q187_event_conversations",
        "q188_length_batches",
        // round-12b shapes: query-partitioned IR-metric windows, the
        // staged-explode link extractor, keyed clipped-count overlap,
        // and the PassJoin segment equi-join
        "q191_ranking_eval", "q192_html_links", "q193_ngram_f1",
        "q194_edit_pairs",
        // round-12c shapes: map-side-combinable skew counts, row-local
        // PMI slots, and the no-shuffle table extractor
        "q195_skew_report", "q196_pmi_cooccur", "q197_markdown_tables",
        // round-12e shapes: the (key, salt) equi-join and the
        // pair-statistics-sized BT iteration
        "q204_salted_join", "q202_bradley_terry",
        // round-13 shapes: the hash-keyed (id-only) PassJoin candidate
        // join + id-keyed text re-joins, the gram-hash anti-join, the
        // narrow byte-features kernel into the broadcast ANN cross, and
        // the bin-keyed one-pass histogram
        "q201_edit_keep_best", "q224_novelty", "q220_byte_features_ann",
        "q231_histogram",
        // residual round-13 shapes (VERDICT r13 item 8): the kappa
        // contingency aggregation, the split-leakage join chain, and
        // the percentile/RRF range-partitioned rank hops
        "q221_cohen_kappa", "q227_split_leakage", "q232_score_percentile",
        "q237_score_rrf",
        // round-14 shapes: the shuffle-free Aho-Corasick blocklist
        // kernel, the marginal-join kappa, and the vocab-only byte-BPE
        // encode
        "q241_blocklist_scale", "q243_cohen_kappa_distributed",
        "q246_bpe_byte_encode",
        // residual round-14 shapes (VERDICT r14 item 7): the persisted
        // one-pass Krippendorff sufficient statistics, the nested-fold
        // parts render (no explode), and the WindowGroupLimit
        // top-values prune
        "q244_krippendorff_alpha", "q247_chat_parts_render",
        "q256_top_values",
        // round-15 shapes: the fold-only parts pair render (no
        // explode), the two-vocab-agg broadcast-joined WordPiece
        // score plan, the tool-call state-machine fold, and the
        // keyed-count + TakeOrdered k-anonymity worklist
        "q261_dpo_parts", "q262_wordpiece_scores",
        "q264_chat_tools_validate", "q268_k_anonymity_groups",
        // round-16 shapes: the postings equi-join + WindowGroupLimit
        // hard-negative miner and the cell-equi-join IVF bitext arm
        // (no |src|x|tgt| exchange)
        "q269_hard_negatives", "q271_bitext_ivf",
        // round-17 shapes: the no-shuffle decontamination kernel, the
        // two-join gram-metric family, the probed IVF negative miner,
        // the fold-only tool-pair ops, the struct-keyed entropy
        // totals (no qi window), and the candidate-drop audit
        "q279_embedding_decontaminate", "q283_chrf", "q284_bleu",
        "q272_hard_negatives_ivf", "q276_dpo_tools",
        "q280_l_diversity_entropy", "q285_bitext_audit",
        // round-18 shapes: the broadcast global-distribution
        // t-closeness join (no exchange on the sensitive key), the
        // string-staged CER kernel, and the per-row-cell IVF audit
        "q286_t_closeness", "q291_cer", "q292_bitext_ivf_audit")
    val spark = graft.core.GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.contains(name)) {
        println(s"\n========== $name ==========")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}

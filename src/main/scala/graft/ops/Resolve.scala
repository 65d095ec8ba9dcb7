package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.graph.ConnectedComponents
import graft.llm.{Cached, Concurrency, LlmClient, Meter}

/** Entity resolution (reference docetl/operations/resolve.py:33-892).
  *
  * Stages, each distributed:
  *   1. Blocking: candidate pairs = self-join on `blockExpr` buckets
  *      (the reference's code conditions / embedding-threshold blocking,
  *      resolve.py:350-525). Never all-pairs.
  *   2. Pairwise LLM verdict on candidates (`comparison_prompt`,
  *      resolve.py:645-671) — `mapPartitions` over the candidate-pair
  *      DataFrame; equal blocking-key tuples short-circuit to an auto-match
  *      (resolve.py:194-243).
  *   3. Clustering: connected components over match edges == the reference's
  *      union-find result (SURVEY.md §7.5.6).
  *   4. Canonicalization: per multi-row cluster, one LLM `resolution_prompt`
  *      over the members produces canonical values written onto every member
  *      (resolve.py:717-836) — cardinality stays 1:1. The pre-resolution
  *      values are kept under `_kv_pairs_preresolve_{name}`
  *      (resolve.py:782-789).
  *
  * The canonicalization join broadcasts the (clusters × canonical-values)
  * side when small; members stay partitioned by cluster id.
  */
object ResolveOp {

  final case class Config(
      name: String,
      idKey: String,          // unique Long-compatible row id
      blockExpr: String,      // SQL expr -> blocking bucket
      compareExpr: String,    // SQL expr rendering one side of the compare prompt
      resolveKeys: Seq[String], // fields canonicalized onto cluster members
      model: String = "mock",
      autoMatchOnBlockEquality: Boolean = false,
      maxIter: Int = 20,      // connected-components iteration budget
      /** Cap candidate pairs sent to the pairwise LLM verdict (reference
        * resolve.py:526-548 limit_comparisons; its code-blocked-first
        * priority order is thread-timing dependent — ours is a
        * deterministic (id, id) head). Auto-match star edges are NOT
        * capped: equality merges are free. */
      limitComparisons: Option[Int] = None,
      /** Precision-guarantee model cascade for the pairwise verdicts
        * (reference resolve.py:627-637; precision is the resolve default —
        * cascade_runner.py:33-36). */
      cascade: Option[CascadeCompare.Config] = None,
      /** Model for stage-4 canonicalization, when different from the
        * pairwise `model` (reference resolve.py `resolution_model` vs
        * `comparison_model` — cheap compares, stronger summarizer). */
      resolutionModel: Option[String] = None,
      /** Hard per-bucket candidate-pair budget: buckets past it keep only a
        * deterministic (id, id)-ordered head of their pairs. A degenerate
        * user blocking key can make ONE bucket quadratic; the cap bounds the
        * LLM verify calls and the downstream shuffle it would silently cost
        * (reference analog: the 500-pair batch solver, resolve.py:592-613).
        * Recall lost to the cap is observable via the skew warning. */
      maxPairsPerBucket: Option[Long] = None,
      /** Hottest-bucket pair count above which a skew warning is emitted
        * (one O(rows) agg on the bucketed side — pairs are never counted by
        * materializing them). */
      warnPairsPerBucket: Long = graft.core.PairBudget.DefaultWarnPairs,
      /** Canonicalization member budget per cluster. The reference passes
        * EVERY member's values into the resolution prompt
        * (resolve.py:717-836) — at a 10^7-row mega-cluster that is a
        * gigabyte prompt and an executor-OOM collect_list. Members are
        * rank-limited (deterministic: first resolve key, then id) before
        * collection, so a cluster canonicalizes from a bounded sample. The
        * mock's `canonical` rule (lexicographic min of the FIRST key) is
        * unaffected because ranking keeps that key's smallest values. */
      maxCanonicalMembers: Int = 1000)

  def apply(df: DataFrame, cfg: Config, client: LlmClient): DataFrame = {
    val meter = Meter(df.sparkSession, cfg.name)
    val withBlk = df
      .withColumn("_blk", expr(cfg.blockExpr))
      .withColumn("_cmp", expr(cfg.compareExpr).cast("string"))
      .persist()

    // 1-2. Candidate pairs within buckets + pairwise verdicts.
    //
    // Auto-match fast path (reference resolve.py:571-590: identical
    // blocking-key tuples merge without an LLM call): rows sharing
    // (_blk, _cmp) are transitively equal, so O(n) *star edges* (every row ->
    // its group's min id) replace the O(n²) intra-group pair explosion — at
    // 100 TB an equality cluster of 10⁵ rows costs 10⁵ edges, not 5·10⁹, and
    // the star topology converges in ONE label-propagation round (a chain
    // would take O(cluster size) rounds). Only pairs whose compare renders
    // differ are sent to the pairwise LLM verdict.
    val model = cfg.model
    val autoMatch = cfg.autoMatchOnBlockEquality

    // Equality fast path: when blocking and compare coincide and equal keys
    // auto-match, clusters ARE the (_blk) equality groups — no pairwise LLM
    // round, no edge list, no label-propagation loop. component = min id per
    // group, one window. (The general path below reduces to this same
    // answer; at scale this saves the CC loop's per-iteration shuffles.)
    if (autoMatch && cfg.blockExpr.trim == cfg.compareExpr.trim) {
      val eqW = org.apache.spark.sql.expressions.Window.partitionBy(col("_blk"))
      val labels = withBlk
        .withColumn("component", min(col(cfg.idKey)).over(eqW).cast("long"))
      val resolvedFast = canonicalizeLabeled(labels, cfg, client, meter)
      withBlk.unpersist()
      return resolvedFast.drop("_blk", "_cmp")
    }

    // Skew diagnostic BEFORE the pair join: the hottest bucket's pair count
    // from an O(rows) agg over the (persisted) bucketed side. A quadratic
    // bucket must be observable without first paying for its pairs.
    graft.core.PairBudget.warnIfSkewed(
      graft.core.PairBudget.selfJoinStats(withBlk, "_blk"),
      s"resolve '${cfg.name}'", cfg.warnPairsPerBucket)

    val pairBase = {
      val l = withBlk.select(col("_blk"), col(cfg.idKey).as("_ida"), col("_cmp").as("_ca"))
      val r = withBlk.select(col("_blk"), col(cfg.idKey).as("_idb"), col("_cmp").as("_cb"))
      val all = l.join(r, Seq("_blk")).filter(col("_ida") < col("_idb"))
      val filtered = if (autoMatch) all.filter(col("_ca") =!= col("_cb")) else all
      val capped = cfg.maxPairsPerBucket match {
        case Some(budget) =>
          // Rank-limit filter → Catalyst plans WindowGroupLimit, so partial
          // limits apply map-side and the hot bucket's tail pairs never
          // reach the LLM verify stage.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_blk")).orderBy(col("_ida").asc, col("_idb").asc)
          filtered.withColumn("_graft_pn", row_number().over(w))
            .filter(col("_graft_pn") <= budget).drop("_graft_pn")
        case None => filtered
      }
      cfg.limitComparisons match {
        case Some(n) => capped.orderBy(col("_ida").asc, col("_idb").asc).limit(n)
        case None => capped
      }
    }
    val llmEdges = verdictEdges(pairBase, cfg, client, meter)
    val edges =
      if (!autoMatch) llmEdges
      else {
        val eqW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_blk"), col("_cmp"))
        val star = withBlk
          .withColumn("_grpmin", min(col(cfg.idKey)).over(eqW))
          .filter(col("_grpmin") =!= col(cfg.idKey))
          .select(col("_grpmin").cast("long").as("src"),
            col(cfg.idKey).cast("long").as("dst"))
        star.unionByName(llmEdges)
      }

    val resolved = clusterAndCanonicalize(withBlk, cfg, edges, client, meter)
    withBlk.unpersist()
    resolved.drop("_blk", "_cmp")
  }

  /** Entity resolution with embedding-similarity blocking and runtime
    * threshold calibration (reference resolve.py:350-407 auto-blocking):
    * candidates from LSH buckets, threshold fit to `targetRecall` on an
    * LLM-labeled sample, pairwise verdicts on survivors, then the shared
    * cluster/canonicalize stages. `cfg.blockExpr` is unused here. */
  def withEmbeddingBlocking(
      df: DataFrame,
      cfg: Config,
      embeddingCol: String,
      dim: Int,
      client: LlmClient,
      targetRecall: Double = 0.95,
      sampleSize: Int = 100): DataFrame = {
    val meter = Meter(df.sparkSession, cfg.name)
    val renders = df.select(
      col(cfg.idKey).cast("long").as("id"),
      expr(cfg.compareExpr).cast("string").as("render"))
    val cands = Blocking.embeddingCandidates(df, cfg.idKey, embeddingCol, dim)
    val (kept, _) = Blocking.autoThreshold(
      cands, renders, client, meter, cfg.model, targetRecall, sampleSize)
    val pairBase = kept
      .join(renders.select(col("id").as("id_a"), col("render").as("_ca")), Seq("id_a"))
      .join(renders.select(col("id").as("id_b"), col("render").as("_cb")), Seq("id_b"))
      .select(col("id_a").as("_ida"), col("id_b").as("_idb"), col("_ca"), col("_cb"))
    clusterAndCanonicalize(df, cfg, verdictEdges(pairBase, cfg, client, meter), client, meter)
  }

  /** Pairwise verdicts -> (src, dst) match edges; plain per-pair compare,
    * or the precision cascade when configured (reference resolve.py:627-637).
    * `pairBase` columns: _ida/_idb (long-compatible) and _ca/_cb renders. */
  private def verdictEdges(
      pairBase: DataFrame, cfg: Config, client: LlmClient, meter: Meter): DataFrame =
    cfg.cascade match {
      case Some(cas) =>
        CascadeCompare(pairBase, "_ca", "_cb", cas, client)
          .select(col("_ida").cast("long").as("src"),
            col("_idb").cast("long").as("dst"))
      case None =>
        val s = pairBase.schema
        val (iCa, iCb) = (s.fieldIndex("_ca"), s.fieldIndex("_cb"))
        val (iIda, iIdb) = (s.fieldIndex("_ida"), s.fieldIndex("_idb"))
        val model = cfg.model
        pairBase.mapPartitions { it =>
          Concurrency.flatMapOrdered(it, None) { row =>
            if (Cached.compare(client, meter, model,
              s"${row.getString(iCa)}\n###\n${row.getString(iCb)}"))
              Iterator.single(Row(row.getLong(iIda), row.getLong(iIdb)))
            else Iterator.empty
          }
        }(Encoders.row(StructType(Seq(
          StructField("src", LongType), StructField("dst", LongType)))))
    }

  /** Stages 3-4, shared by all blocking strategies: connected components
    * over the match edges, then per-cluster canonicalization broadcast back
    * onto the members. */
  private def clusterAndCanonicalize(
      df: DataFrame, cfg: Config, edges: DataFrame, client: LlmClient,
      meter: Meter): DataFrame = {
    // 3. Clusters.
    val labels = ConnectedComponents.run(
      edges, df.select(col(cfg.idKey).cast("long").as("id")), cfg.maxIter)
    val withCluster = df.join(
      labels.withColumnRenamed("id", cfg.idKey), Seq(cfg.idKey))
    canonicalizeLabeled(withCluster, cfg, client, meter)
  }

  /** Stage 4 over a DataFrame that already carries a `component` column:
    * canonical values per MULTI-member cluster only (reference
    * resolve.py:717-719 gates on len(cluster)>1); singletons pass through
    * unchanged — at scale most clusters are singletons and must not cost an
    * LLM call each, nor let a real client rewrite values on rows that
    * matched nothing. The deterministic mock picks the lexicographically-
    * smallest member rendering per key (MockLlmClient `canonical` rule),
    * real clients summarize. */
  private def canonicalizeLabeled(
      withCluster: DataFrame, cfg: Config, client: LlmClient, meter: Meter): DataFrame = {
    val model = cfg.resolutionModel.getOrElse(cfg.model)
    val memberSchema = StructType(Seq(StructField("canonical", StringType)))
    val canonCols = cfg.resolveKeys.map { k =>
      sort_array(collect_list(col(k).cast("string"))).as(s"_vals_$k")
    }
    // Member cap BEFORE the collect_list aggs (rank-limit window ->
    // WindowGroupLimit): bounds the per-cluster agg buffers and the
    // canonicalization prompt at any cluster size. The multi-member gate
    // stays correct on capped counts: the cap is >= 2, so capped _sz > 1
    // iff the true size > 1.
    val capped = cfg.resolveKeys match {
      case Seq() => withCluster // nothing to canonicalize, nothing to cap
      case firstKey +: _ =>
        val capW = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
          .orderBy(col(firstKey).cast("string").asc, col(cfg.idKey).asc)
        withCluster
          .withColumn("_graft_cn", row_number().over(capW))
          .filter(col("_graft_cn") <= math.max(2, cfg.maxCanonicalMembers))
          .drop("_graft_cn")
    }
    val clusters = capped.groupBy(col("component"))
      .agg(count(lit(1)).as("_sz"), canonCols: _*)
      .filter(col("_sz") > 1)
      .drop("_sz")
    val canon = clusters.mapPartitions { it =>
      it.map { row =>
        val comp = row.getLong(0)
        val canonVals = cfg.resolveKeys.zipWithIndex.map { case (k, i) =>
          val members = row.getSeq[String](i + 1)
          val resp = Cached.complete(client, meter, model, members.mkString("\n"), memberSchema)
          resp.values("canonical").asInstanceOf[String]
        }
        Row((comp +: canonVals): _*)
      }
    }(Encoders.row(StructType(
      StructField("component", LongType) +:
        cfg.resolveKeys.map(k => StructField(s"${k}_resolved", StringType)))))

    // Keep pre-resolve values, then overwrite resolved keys for multi-member
    // clusters; singleton rows (no canon match) keep their original values
    // and types via the left join + coalesce fallback.
    val preserved = cfg.resolveKeys.foldLeft(withCluster) { (d, k) =>
      d.withColumn(s"_kv_pairs_preresolve_${cfg.name}_$k", col(k))
    }
    // No forced broadcast: with 10⁸ multi-member clusters the canon side is
    // executor-OOM territory. AQE picks broadcast when the runtime size
    // qualifies; otherwise this is a keyed shuffle join on `component`.
    val joined = preserved.join(canon, Seq("component"), "left")
    val resolved = cfg.resolveKeys.foldLeft(joined) { (d, k) =>
      val origType = withCluster.schema(k).dataType
      d.withColumn(k,
          coalesce(col(s"${k}_resolved").cast(origType), col(k)))
        .drop(s"${k}_resolved")
    }
    resolved.drop("component")
  }
}

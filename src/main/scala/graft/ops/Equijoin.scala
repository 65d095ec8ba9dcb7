package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions
import graft.llm.LlmClient

/** LLM-verified fuzzy join (reference docetl/operations/equijoin.py:1-778).
  *
  * Candidate generation ("blocking") is a native Spark join on the given
  * predicate — Catalyst picks broadcast/hash/sort-merge, so *pure-predicate*
  * joins fast-path to a relational join with zero LLM calls when
  * `llmVerify=false` (SURVEY.md §2.4: the reference always pays an LLM
  * verify; we make it an optional stage). With `llmVerify=true`, surviving
  * pairs get a `comparison_prompt` verdict via `mapPartitions`
  * (equijoin.py:145-194).
  *
  * Matched pairs merge left+right with `_left`/`_right` suffixing on column
  * collisions (equijoin.py:655-658); per-side fan-out caps `limits.left/
  * right` are enforced with row_number windows (deterministic order by the
  * other side's id — the reference's greedy completion order is thread-
  * nondeterministic, documented in SURVEY.md §7.5.2).
  */
object EquijoinOp {

  final case class Config(
      name: String,
      condition: String,            // SQL predicate over l.* / r.* columns
      compareExprLeft: String = "", // render of {{ left }} for the verify prompt
      compareExprRight: String = "",
      llmVerify: Boolean = false,
      model: String = "mock",
      limitLeft: Option[Int] = None,  // max matches per left row
      limitRight: Option[Int] = None, // max matches per right row
      leftIdKey: String = "",
      rightIdKey: String = "",
      /** Cap the candidate pairs sent to the LLM verify (reference
        * equijoin.py:398-421 limit_comparisons), stratified as in
        * equijoin.py:723-778: pairs group by the side whose rendered compare
        * string is longer on average, each group gets an equal quota
        * (remainder to the first groups in key order — the deterministic
        * analog of the reference's thread-order-dependent insertion order),
        * and within a group the longest other-side renders win. Requires
        * leftIdKey/rightIdKey. */
      limitComparisons: Option[Int] = None,
      /** Precision-guarantee model cascade for the verify stage (reference
        * equijoin.py:196-239; defaults precision — cascade_runner.py:33-36).
        * Requires llmVerify. */
      cascade: Option[CascadeCompare.Config] = None,
      /** Hard per-equi-key candidate-pair budget for the LLM verify stage —
        * the equijoin mirror of resolve's `max_pairs_per_bucket`. Keys come
        * from the condition's `l.x = r.y` conjuncts; each key keeps only a
        * deterministic (leftId, rightId)-ordered head of its pairs, so ONE
        * degenerate key on two large sides cannot silently emit |L|x|R|
        * verify calls (the skew diagnostic warns; this bounds). When the
        * condition has no extractable equi key the cap degrades to a global
        * sorted head of `budget` pairs. Requires leftIdKey/rightIdKey.
        * Recall lost to the cap is observable via the skew warning. */
      maxPairsPerKey: Option[Long] = None)

  def apply(left: DataFrame, right: DataFrame, cfg: Config, client: LlmClient): DataFrame =
    applyWithExtra(left, right, cfg, client, None)

  /** `extraBlocking` is ANDed into the candidate set BEFORE the
    * limit_comparisons head, the LLM verify, and the per-side limit windows —
    * sub-threshold pairs must never cost a verify call nor occupy a slot in a
    * per-side match quota (reference equijoin.py:427-551 thresholds during
    * blocking, not after matching). */
  private def applyWithExtra(
      left: DataFrame, right: DataFrame, cfg: Config, client: LlmClient,
      extraBlocking: Option[org.apache.spark.sql.Column]): DataFrame = {
    val collisions = left.columns.toSet.intersect(right.columns.toSet)
    val l = collisions.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"${c}_left"))
    val r = collisions.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"${c}_right"))
    val lp = l.alias("l")
    val rp = r.alias("r")
    // One equi-conjunct extraction serves both the skew diagnostic and the
    // pair cap — the two consumers must agree on what "the key" is.
    lazy val equi = equiConjuncts(left.sparkSession, cfg.condition,
      l.columns.toSeq, r.columns.toSeq)
    if (cfg.llmVerify) diagnoseSkew(l, r, cfg, equi)
    require(cfg.maxPairsPerKey.isEmpty || cfg.llmVerify,
      s"equijoin '${cfg.name}': max_pairs_per_key bounds the LLM verify " +
        "stage and needs llm_verify: true — for pure-relational joins " +
        "Catalyst/AQE own skew handling")
    val joinedBase = lp.join(rp, expr(cfg.condition))
    val joinedAll = extraBlocking.fold(joinedBase)(joinedBase.filter)
    val joined = cfg.maxPairsPerKey match {
      case Some(budget) if cfg.llmVerify =>
        require(cfg.leftIdKey.nonEmpty && cfg.rightIdKey.nonEmpty,
          s"equijoin '${cfg.name}': max_pairs_per_key needs left_id_key/right_id_key")
        val lid = sideKey(cfg.leftIdKey, collisions, "_left")
        val rid = sideKey(cfg.rightIdKey, collisions, "_right")
        if (equi.nonEmpty) {
          // Rank-limit filter → Catalyst plans WindowGroupLimit, so partial
          // limits apply map-side and a hot key's tail pairs never reach
          // the verify stage (same shape as resolve's per-bucket cap).
          val w = Window.partitionBy(equi.map { case (ln, _) => col(s"l.$ln") }: _*)
            .orderBy(col(lid).asc, col(rid).asc)
          joinedAll.withColumn("_graft_pb", row_number().over(w))
            .filter(col("_graft_pb") <= budget).drop("_graft_pb")
        } else {
          graft.core.PairBudget.notice(
            s"[graft] equijoin '${cfg.name}': no equi key extractable from " +
              s"condition — max_pairs_per_key applies as a global head of $budget pairs")
          joinedAll.orderBy(col(lid).asc, col(rid).asc).limit(
            math.min(budget, Int.MaxValue.toLong).toInt)
        }
      case _ => joinedAll
    }
    val candidates = cfg.limitComparisons match {
      case Some(n) if cfg.llmVerify =>
        val lid = sideKey(cfg.leftIdKey, collisions, "_left")
        val rid = sideKey(cfg.rightIdKey, collisions, "_right")
        stratifiedLengthHead(joined, n, lid, rid, cfg)
      case _ => joined
    }

    val verified =
      if (!cfg.llmVerify) candidates
      else {
        val withCmp = candidates
          .withColumn("_cl", expr(cfg.compareExprLeft).cast("string"))
          .withColumn("_cr", expr(cfg.compareExprRight).cast("string"))
        val matched = cfg.cascade match {
          case Some(cas) => CascadeCompare(withCmp, "_cl", "_cr", cas, client)
          case None =>
            val model = cfg.model
            val meter = graft.llm.Meter(left.sparkSession, cfg.name)
            val s2 = withCmp.schema
            val (iCl, iCr) = (s2.fieldIndex("_cl"), s2.fieldIndex("_cr"))
            withCmp.mapPartitions { it =>
              graft.llm.Concurrency.flatMapOrdered(it, None) { row =>
                if (graft.llm.Cached.compare(client, meter, model,
                  s"${row.getString(iCl)}\n###\n${row.getString(iCr)}")) Iterator.single(row)
                else Iterator.empty
              }
            }(Encoders.row(s2))
        }
        matched.drop("_cl", "_cr")
      }

    val limitedL = cfg.limitLeft match {
      case Some(n) =>
        val lid = sideKey(cfg.leftIdKey, collisions, "_left")
        val rid = sideKey(cfg.rightIdKey, collisions, "_right")
        val w = Window.partitionBy(col(lid)).orderBy(col(rid).asc)
        verified.withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") <= n).drop("_graft_rn")
      case None => verified
    }
    cfg.limitRight match {
      case Some(n) =>
        val lid = sideKey(cfg.leftIdKey, collisions, "_left")
        val rid = sideKey(cfg.rightIdKey, collisions, "_right")
        val w = Window.partitionBy(col(rid)).orderBy(col(lid).asc)
        limitedL.withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") <= n).drop("_graft_rn")
      case None => limitedL
    }
  }

  private def sideKey(key: String, collisions: Set[String], suffix: String): String =
    if (collisions.contains(key)) s"$key$suffix" else key

  /** Pre-join skew diagnostic for the LLM-verify path: parse the join
    * condition, pull out its `l.x = r.y` equi conjuncts, and estimate the
    * hottest key's candidate-pair product from per-side key counts — two
    * O(rows) aggs plus a distinct-key-sized join, never the pairs
    * themselves. A skewed key on a verified join silently multiplies LLM
    * calls; this makes it a loud warning before the join runs. Non-equi
    * conditions (no extractable key) skip the check. Diagnostics must never
    * fail the operator, hence the Try. */
  private def diagnoseSkew(
      l: DataFrame, r: DataFrame, cfg: Config, equi: Seq[(String, String)]): Unit =
    scala.util.Try {
      if (equi.nonEmpty)
        graft.core.PairBudget.warnIfSkewed(
          graft.core.PairBudget.equiJoinStats(l, equi.map(_._1), r, equi.map(_._2)),
          s"equijoin '${cfg.name}'")
    }.getOrElse(())

  /** Equi conjuncts of a join condition as (leftName, rightName) pairs,
    * returning the ACTUAL side column names. Attributes resolve by `l.` /
    * `r.` qualifier, or — the common unqualified style, `c_nationkey =
    * n_nationkey` — by which side owns the column name (collision renaming
    * makes side column sets disjoint, so unqualified membership is
    * unambiguous). Matching is case-insensitive like Spark's default
    * analyzer resolution, so a condition the join resolves also yields its
    * key here. Empty when the condition has no such conjunct or fails to
    * parse — callers treat that as "no extractable key". */
  private def equiConjuncts(
      spark: org.apache.spark.sql.SparkSession, condition: String,
      lCols: Seq[String], rCols: Seq[String]): Seq[(String, String)] =
    scala.util.Try {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
      val lByLower = lCols.map(c => c.toLowerCase -> c).toMap
      val rByLower = rCols.map(c => c.toLowerCase -> c).toMap
      val parsed = spark.sessionState.sqlParser.parseExpression(condition)
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(a, b) => conjuncts(a) ++ conjuncts(b)
        case other => Seq(other)
      }
      def side(a: UnresolvedAttribute): Option[(String, String)] =
        a.nameParts.map(_.toLowerCase) match {
          case Seq("l", n) => lByLower.get(n).map(("l", _))
          case Seq("r", n) => rByLower.get(n).map(("r", _))
          case Seq(n) => (lByLower.get(n), rByLower.get(n)) match {
            case (Some(c), None) => Some(("l", c))
            case (None, Some(c)) => Some(("r", c))
            case _ => None
          }
          case _ => None
        }
      conjuncts(parsed).flatMap {
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          (side(a), side(b)) match {
            case (Some(("l", ln)), Some(("r", rn))) => Some((ln, rn))
            case (Some(("r", rn)), Some(("l", ln))) => Some((ln, rn))
            case _ => None
          }
        case _ => None
      }
    }.getOrElse(Seq.empty)

  /** Stratified-by-length candidate sampling (reference equijoin.py:723-778
    * `stratified_length_sample`), distributively:
    *   1. one aggregation decides the grouping side (higher average rendered
    *      compare length — `use_left_as_key = left_length > right_length`);
    *   2. group quota = n / nGroups, remainder +1 to the `extra` smallest
    *      group keys (a distributed sort-limit + broadcast semi-join, never
    *      a global window over all keys);
    *   3. within a group, pairs rank by the OTHER side's rendered length
    *      descending ("prioritize longer matches"), other-side id as the
    *      deterministic tie-break.
    * Driver state is two scalars + the `extra`-row key head; everything else
    * is joins/windows. Like the reference, a group smaller than its quota
    * under-fills (no redistribution), so the result can be < n pairs. */
  private def stratifiedLengthHead(
      joined: DataFrame, n: Int, lid: String, rid: String, cfg: Config): DataFrame = {
    val lLen = length(expr(cfg.compareExprLeft).cast("string")).cast("double")
    val rLen = length(expr(cfg.compareExprRight).cast("string")).cast("double")
    val avgs = joined.agg(avg(lLen), avg(rLen)).collect()(0)
    def avgOr0(i: Int) = if (avgs.isNullAt(i)) 0.0 else avgs.getDouble(i)
    val useLeftAsKey = avgOr0(0) > avgOr0(1)
    val (keyCol, otherLen, otherId) =
      if (useLeftAsKey) (col(lid), rLen, col(rid)) else (col(rid), lLen, col(lid))
    val keys = joined.select(keyCol.as("_graft_gk")).distinct()
    val nGroups = keys.count()
    if (nGroups == 0) return joined.limit(0)
    val base = (n / nGroups).toInt
    val extra = (n % nGroups).toInt
    val extraKeys = keys.orderBy(col("_graft_gk").asc).limit(extra)
      .withColumn("_graft_extra", lit(1))
    val w = Window.partitionBy(col("_graft_gk"))
      .orderBy(otherLen.desc, otherId.asc)
    joined.withColumn("_graft_gk", keyCol)
      .join(broadcast(extraKeys), Seq("_graft_gk"), "left")
      .withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") <= lit(base) + when(col("_graft_extra").isNotNull, 1).otherwise(0))
      .drop("_graft_gk", "_graft_extra", "_graft_rn")
  }

  /** Embedding blocking with RUNTIME threshold calibration (reference
    * equijoin.py:332-378 auto-blocking via `RuntimeBlockingOptimizer`,
    * target recall 0.95): sketch both sides, LLM-label a deterministic
    * sample of bucket-cofalling pairs, fit the cosine threshold that keeps
    * `targetRecall` of the labeled matches, then run the normal
    * embedding-blocked join at that threshold. O(sampleSize) LLM calls +
    * driver work; everything else distributed. Returns (joined, threshold). */
  def withAutoEmbeddingBlocking(
      left: DataFrame,
      right: DataFrame,
      cfg: Config,
      leftEmbCol: String,
      rightEmbCol: String,
      dim: Int,
      client: LlmClient,
      targetRecall: Double = 0.95,
      sampleSize: Int = 100,
      numPlanes: Int = 8,
      seed: Long = 42): (DataFrame, Double) = {
    val planes = VectorFunctions.planes(numPlanes, dim, seed)
    def sketch(embCol: String) = VectorFunctions.sketch(col(embCol), planes)
    val l = left.select(sketch(leftEmbCol).as("_bkt"),
      col(leftEmbCol).as("_le"), expr(cfg.compareExprLeft).cast("string").as("_lr"))
    val r = right.select(sketch(rightEmbCol).as("_bkt"),
      col(rightEmbCol).as("_re"), expr(cfg.compareExprRight).cast("string").as("_rr"))
    val sample = l.join(r, Seq("_bkt"))
      .withColumn("_cos", graft.functions.CosineSimilarity(col("_le"), col("_re")))
      .orderBy(col("_lr"), col("_rr")) // deterministic sample
      .limit(sampleSize)
      .collect()
    val meter = graft.llm.Meter(left.sparkSession, cfg.name)
    val labeled = sample.map { row =>
      (row.getAs[Double]("_cos"), graft.llm.Cached.compare(client, meter, cfg.model,
        s"${row.getAs[String]("_lr")}\n###\n${row.getAs[String]("_rr")}"))
    }.toSeq
    val threshold = Blocking.calibrateCosineThreshold(labeled, targetRecall)
    (withEmbeddingBlocking(left, right, cfg, leftEmbCol, rightEmbCol, dim,
      threshold, client, numPlanes, seed), threshold)
  }

  /** Fuzzy join with embedding-similarity blocking (reference
    * equijoin.py:427-551): both sides sketch into the same hyperplane-LSH
    * buckets, candidate pairs are cosine-scored with the native expression
    * and thresholded, then (optionally) LLM-verified via `cfg`. The bucket
    * join replaces the reference's full cross cosine matrix — candidates
    * are linear-ish in the bucket sizes, never |L| x |R|. */
  def withEmbeddingBlocking(
      left: DataFrame,
      right: DataFrame,
      cfg: Config,
      leftEmbCol: String,
      rightEmbCol: String,
      dim: Int,
      cosineThreshold: Double,
      client: LlmClient,
      numPlanes: Int = 8,
      seed: Long = 42): DataFrame = {
    val planes = VectorFunctions.planes(numPlanes, dim, seed)
    def sketch(embCol: String) = VectorFunctions.sketch(col(embCol), planes)
    val l = left.withColumn("_graft_bkt", sketch(leftEmbCol))
    val r = right.withColumn("_graft_bkt", sketch(rightEmbCol))
    // Collision suffixing happens inside apply(); reference the post-join names.
    val collisions = l.columns.toSet.intersect(r.columns.toSet)
    val lEmb = if (collisions(leftEmbCol)) s"${leftEmbCol}_left" else leftEmbCol
    val rEmb = if (collisions(rightEmbCol)) s"${rightEmbCol}_right" else rightEmbCol
    val cosine = graft.functions.CosineSimilarity(col(lEmb), col(rEmb))
    // Delegate to the predicate path: bucket equality is folded into the
    // join condition and the cosine threshold rides along as a blocking
    // filter applied BEFORE verify/limits, so verify calls are only paid on
    // above-threshold pairs and per-side quotas fill from real candidates.
    applyWithExtra(l, r, cfg.copy(condition =
      s"_graft_bkt_left = _graft_bkt_right AND (${cfg.condition.trim match {
        case "" => "true"
        case c  => c
      }})"), client, Some(cosine >= cosineThreshold))
      .drop("_graft_bkt_left", "_graft_bkt_right")
  }
}

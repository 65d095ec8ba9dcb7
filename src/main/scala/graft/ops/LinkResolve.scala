package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.LlmClient

/** Foreign-key repair (reference docetl/operations/link_resolve.py:34-206):
  * values inside `linkKey` arrays that do not match any row's `idKey` are
  * matched against the canonical id set (normalized-equality blocking, then
  * an LLM confirm per surviving candidate) and rewritten in place.
  *
  * Distributed shape: the dangling-value set is `explode` + left-anti join
  * (never a driver collect of values); candidate (dangling, canonical) pairs
  * come from a join on the normalization key; the confirmed mapping is
  * broadcast back and arrays are rewritten with the `transform` higher-order
  * function (SURVEY.md §2.4 mapping).
  */
object LinkResolveOp {

  final case class Config(
      name: String,
      idKey: String,
      linkKey: String,
      /** SQL normalization applied to both sides for candidate blocking. */
      normalizeExpr: String = "lower(trim(x))",
      model: String = "mock",
      /** Max confirmed-mapping entries collected to the driver and baked
        * into the plan as a broadcast literal map. Above this, the rewrite
        * runs as a distributed explode/join/re-group — the dangling-value
        * set is unbounded at scale and a multi-million-entry plan literal is
        * a driver OOM. */
      mappingGate: Long = 100000L)

  def apply(df: DataFrame, cfg: Config, client: LlmClient): DataFrame = {
    val spark = df.sparkSession
    def norm(c: String): org.apache.spark.sql.Column =
      expr(cfg.normalizeExpr.replace("x", c))

    val ids = df.select(col(cfg.idKey).cast("string").as("_cid")).distinct()
    val linkVals = df.select(explode(col(cfg.linkKey)).as("_lv"))
      .select(col("_lv").cast("string").as("_lv")).distinct()
    val dangling = linkVals.join(ids, col("_lv") === col("_cid"), "left_anti")

    // Candidates: dangling value x canonical id agreeing on the normalization.
    val cands = dangling.withColumn("_nl", norm("_lv"))
      .join(ids.withColumn("_nc", norm("_cid")), col("_nl") === col("_nc"))
      .select("_lv", "_cid")

    val model = cfg.model
    val meter = graft.llm.Meter(spark, cfg.name)
    val mappingSchema = StructType(Seq(
      StructField("_lv", StringType), StructField("_cid", StringType)))
    val confirmed = graft.core.PersistScope.register(cands.mapPartitions { it =>
      graft.llm.Concurrency.flatMapOrdered(it, None) { row =>
        if (graft.llm.Cached.compare(client, meter, model,
          s"${row.getString(0).trim.toLowerCase}\n###\n${row.getString(1).trim.toLowerCase}"))
          Iterator.single(row)
        else Iterator.empty
      }
    }(Encoders.row(mappingSchema))
      // one canonical target per dangling value: smallest id wins
      .groupBy("_lv").agg(min("_cid").as("_cid"))
      .persist())

    // Size-gate the driver collect: an O(maxRows) limited count, not a full
    // count, decides the path (same guard shape as Rank.byPairwise).
    val small = confirmed
      .limit(math.min(cfg.mappingGate + 1, Int.MaxValue.toLong).toInt)
      .count() <= cfg.mappingGate
    if (small) {
      // Broadcast the (small) mapping and rewrite arrays in place.
      val mapping = confirmed.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val mapCol = typedLit(mapping)
      df.withColumn(cfg.linkKey,
        transform(col(cfg.linkKey), v =>
          coalesce(element_at(mapCol, v.cast("string")), v.cast("string"))))
    } else rewriteViaJoin(df, cfg.linkKey, confirmed)
  }

  /** Scale path (reference link_resolve.py:150-154 applied distributively):
    * `posexplode` the link arrays, left-join each element against the
    * confirmed-mapping DF, and re-group in element order. Never materializes
    * the mapping on the driver; the join shuffles (or broadcasts, if AQE
    * finds the mapping small after all) on the element value. */
  private def rewriteViaJoin(
      df: DataFrame, linkKey: String, confirmed: DataFrame): DataFrame = {
    val rid = "_graft_lr_rid"
    val withId = df.withColumn(rid, monotonically_increasing_id())
    val exploded = withId
      .select(col(rid), posexplode(col(linkKey)).as(Seq("_pos", "_v")))
      .withColumn("_v", col("_v").cast("string"))
    val joined = exploded
      .join(confirmed.withColumnRenamed("_lv", "_v"), Seq("_v"), "left")
      .select(col(rid), col("_pos"), coalesce(col("_cid"), col("_v")).as("_rv"))
    val regrouped = joined.groupBy(col(rid)).agg(
      sort_array(collect_list(struct(col("_pos"), col("_rv"))))
        .getField("_rv").as("_graft_lr_arr"))
    // Empty/null arrays produce no exploded rows → left join keeps them; the
    // original (string-cast) array is the rewrite identity in that case.
    withId.join(regrouped, Seq(rid), "left")
      .withColumn(linkKey,
        when(col("_graft_lr_arr").isNotNull, col("_graft_lr_arr"))
          .otherwise(transform(col(linkKey), _.cast("string"))))
      .drop(rid, "_graft_lr_arr")
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{CosineSimilarity, VectorFunctions}
import graft.llm.LlmClient

/** Embedding-similarity blocking with runtime threshold calibration —
  * the reference's auto-blocking (reference
  * docetl/operations/utils/blocking.py:174-574, resolve.py:350-407,
  * equijoin.py:332-378; BASELINE.md: target recall 0.95, calibration sample
  * <= 100 oracle-labeled pairs).
  *
  * Shape: candidate pairs come from random-hyperplane LSH buckets scored
  * with the native cosine expression (never all-pairs); the threshold is fit
  * on a small collected sample that the LLM labels — O(sampleSize) driver
  * work, 100 TB-safe (SURVEY.md §7.5.3) — then broadcast back as a filter.
  */
object Blocking {

  /** Candidate pairs (id_a, id_b, cosine) from hyperplane-LSH buckets.
    * `minCosine` prunes obvious non-candidates cheaply before any LLM work. */
  def embeddingCandidates(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      minCosine: Double = 0.0,
      numPlanes: Int = 8,
      seed: Long = 42): DataFrame = {
    val sketch = VectorFunctions.sketch(col(embCol), VectorFunctions.planes(numPlanes, dim, seed))
    val docs = df.select(col(idCol).as("_id"), col(embCol).as("_e"), sketch.as("_b"))
    val l = docs.select(col("_b"), col("_id").as("id_a"), col("_e").as("_ea"))
    val r = docs.select(col("_b"), col("_id").as("id_b"), col("_e").as("_eb"))
    l.join(r, Seq("_b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", CosineSimilarity(col("_ea"), col("_eb")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Fit the cosine threshold that keeps `targetRecall` of true matches:
    * the cosine of the ceil(positives * recall)-th highest-scoring positive
    * (reference blocking.py threshold fit). Returns 0.0 when the sample has
    * no positives (block nothing out). */
  def calibrateCosineThreshold(
      labeled: Seq[(Double, Boolean)], targetRecall: Double): Double = {
    val pos = labeled.filter(_._2).map(_._1).sortBy(-_)
    if (pos.isEmpty) 0.0
    else pos(math.min(pos.size - 1, math.ceil(pos.size * targetRecall).toInt - 1))
  }

  /** Auto-threshold over a candidate-pair DataFrame: label a sample of
    * pairs (joined back to their compare renders) with the client, fit the
    * threshold, return the filtered pairs. */
  def autoThreshold(
      candidates: DataFrame, // (id_a, id_b, cosine)
      renders: DataFrame,    // (id, render) — compare text per row id
      client: LlmClient,
      meter: graft.llm.Meter,
      model: String,
      targetRecall: Double = 0.95,
      sampleSize: Int = 100): (DataFrame, Double) = {
    val withRenders = candidates
      .join(renders.select(col("id").as("id_a"), col("render").as("_ra")), Seq("id_a"))
      .join(renders.select(col("id").as("id_b"), col("render").as("_rb")), Seq("id_b"))
    val sample = withRenders
      .orderBy(col("id_a"), col("id_b")) // deterministic sample
      .limit(sampleSize)
      .collect()
    val labeled = sample.map { row =>
      val cos = row.getAs[Double]("cosine")
      val isMatch = graft.llm.Cached.compare(client, meter, model,
        s"${row.getAs[String]("_ra")}\n###\n${row.getAs[String]("_rb")}")
      (cos, isMatch)
    }.toSeq
    val threshold = calibrateCosineThreshold(labeled, targetRecall)
    (candidates.filter(col("cosine") >= threshold), threshold)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Cached, LlmClient, Meter}

/** LLM semantic ORDER BY (reference docetl/operations/rank.py:16-1109,
  * type alias "order").
  *
  * Initial full ordering methods:
  *   - `embedding`: cosine similarity to the criteria embedding
  *     (rank.py:309) — a score column + global sort.
  *   - `likert`: per-doc 1-7 LLM rating (rank.py:523) — a SemanticMap
  *     producing `rating`, then sort.
  *
  * The 1-based `_rank` column (rank.py:50-51) is assigned with a
  * sort + per-partition offset (`zipWithIndex`) — NOT a row_number over an
  * unpartitioned window, which would collapse to a single task. The sort is
  * range-partitioned, so this scales to the full corpus.
  *
  * "Picky window" refinement (rank.py:696-912) walks the top slice backwards
  * re-ranking overlapping windows under a call budget — inherently
  * sequential, so it runs on a *collected top-k slice* (k << n), which is
  * correct at 100 TB because the slice is O(k) (SURVEY.md §7.5.3).
  */
object RankOp {

  /** Global 1-based `_rank` by `sortCols`. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val sorted = df.orderBy(sortCols: _*)
    val schema = sorted.schema.add(StructField("_rank", LongType))
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  def byEmbedding(
      df: DataFrame,
      embeddingCol: String,
      query: Array[Double],
      direction: String = "desc",
      tieBreak: Seq[String] = Nil): DataFrame = {
    val score = graft.functions.VectorFunctions.cosineToConst(col(embeddingCol), query)
    val scored = df.withColumn("_graft_score", round(score, 6))
    val ordered = (if (direction == "desc") col("_graft_score").desc
                   else col("_graft_score").asc) +: tieBreak.map(col(_).asc)
    withGlobalRank(scored, ordered).drop("_graft_score")
  }

  def byLikert(
      df: DataFrame,
      name: String,
      promptTemplate: String,
      client: LlmClient,
      model: String = "mock",
      direction: String = "desc",
      tieBreak: Seq[String] = Nil): DataFrame = {
    val rated = SemanticMap(df, SemanticMapConfig(
      name = name, prompt = promptTemplate,
      outputSchema = Seq("rating" -> "int"), model = model), client)
    val ordered = (if (direction == "desc") col("rating").desc
                   else col("rating").asc) +: tieBreak.map(col(_).asc)
    withGlobalRank(rated, ordered)
  }

  /** Pairwise-comparison ranking (reference rank.py:195, the QuRK
    * baseline): every ordered pair gets an LLM "is A better than B?"
    * verdict; rows rank by win count. O(n²) LLM calls — a research
    * baseline, use on bounded inputs or samples (the reference excludes it
    * from its default suite for the same reason). Distributed: pairs from a
    * blocked self-join, verdicts in `mapPartitions`, wins via one groupBy.
    *
    * GUARDED against the unbounded cartesian: either pass `blockExpr`
    * (pairs form only within equal blocks — a hash join, never a
    * BroadcastNestedLoopJoin) or the input must have at most `maxRows`
    * rows (checked with an O(maxRows) limited count, not a full count).
    * An unblocked 10⁸-row input is a 10¹⁶-pair plan — fail loudly instead. */
  def byPairwise(
      df: DataFrame,
      name: String,
      idKey: String,
      renderExpr: String,
      client: LlmClient,
      model: String = "mock",
      tieBreak: Seq[String] = Nil,
      blockExpr: String = "",
      maxRows: Int = 1000): DataFrame = {
    val blocked = blockExpr.nonEmpty
    if (!blocked) {
      val n = df.limit(maxRows + 1).count()
      require(n <= maxRows,
        s"rank.byPairwise without blockExpr is an all-pairs cartesian; " +
          s"input exceeds maxRows=$maxRows rows. Pass blockExpr or sample first.")
    }
    val rendered =
      if (blocked)
        df.select(col(idKey).as("_id"), expr(renderExpr).cast("string").as("_r"),
          expr(blockExpr).as("_blk"))
      else df.select(col(idKey).as("_id"), expr(renderExpr).cast("string").as("_r"))
    val left = rendered.columns.foldLeft(rendered)((d, c) => d.withColumnRenamed(c, c + "a"))
    val right = rendered.columns.foldLeft(rendered)((d, c) => d.withColumnRenamed(c, c + "b"))
    val pairs =
      (if (blocked)
         left.join(right, col("_blka") === col("_blkb") && col("_ida") =!= col("_idb"))
       else left.join(right, col("_ida") =!= col("_idb")))
        .select(col("_ida"), col("_ra"), col("_rb"))
    val s = pairs.schema
    val (iA, iRa, iRb) = (s.fieldIndex("_ida"), s.fieldIndex("_ra"), s.fieldIndex("_rb"))
    val winSchema = StructType(Seq(StructField("_id", s("_ida").dataType)))
    val meter = Meter(df.sparkSession, name)
    val wins = pairs.mapPartitions { it =>
      it.flatMap { row =>
        if (Cached.compare(client, meter, model, s"${row.getString(iRa)}\n###\n${row.getString(iRb)}"))
          Iterator.single(Row(row.get(iA)))
        else Iterator.empty
      }
    }(Encoders.row(winSchema))
      .groupBy("_id").agg(count(lit(1)).as("_wins"))
    val scored = df.join(
      wins.withColumnRenamed("_id", idKey), Seq(idKey), "left")
      .withColumn("_wins", coalesce(col("_wins"), lit(0L)))
    val ordered = col("_wins").desc +: tieBreak.map(col(_).asc)
    withGlobalRank(scored, ordered).drop("_wins")
  }

  /** Calibrated-embedding ranking (reference rank.py:1013
    * `_execute_calibrated_embedding_*`): LLM-rate a small deterministic
    * sample, then score every row as the similarity-weighted average of the
    * sample ratings — O(sample) LLM calls total, the full ordering is one
    * distributed pass of `sampleSize` cosine expressions. */
  def byCalibratedEmbedding(
      df: DataFrame,
      name: String,
      embeddingCol: String,
      promptExpr: String,
      client: LlmClient,
      model: String = "mock",
      sampleSize: Int = 10,
      direction: String = "desc",
      tieBreak: Seq[String] = Nil): DataFrame = {
    val sample = df
      .select(expr(promptExpr).cast("string").as("_p"),
        transform(col(embeddingCol), _.cast("double")).as("_e"))
      .orderBy(col("_p")) // deterministic anchors regardless of partitioning
      .limit(sampleSize).collect()
    require(sample.nonEmpty, "calibrated rank needs a non-empty sample")
    val ratingSchema = StructType(Seq(StructField("rating", LongType)))
    val meter = Meter(df.sparkSession, name)
    val anchors = sample.map { r =>
      val rating = Cached.complete(client, meter, model, r.getString(0), ratingSchema)
        .values("rating").asInstanceOf[Long].toDouble
      (r.getSeq[Double](1).toArray, rating)
    }
    val embD = transform(col(embeddingCol), _.cast("double"))
    val sims = anchors.map { case (vec, _) =>
      graft.functions.CosineSimilarity(embD, array(vec.toIndexedSeq.map(lit): _*))
    }
    val weighted = anchors.zip(sims).map { case ((_, r), s) => s * lit(r) }
      .reduce(_ + _)
    val absSum = sims.map(abs).reduce(_ + _) + lit(1e-9)
    val scored = df.withColumn("_score", round(weighted / absSum, 6))
    val ordered = (if (direction == "desc") col("_score").desc
                   else col("_score").asc) +: tieBreak.map(col(_).asc)
    withGlobalRank(scored, ordered)
  }

  /** Sliding-window rank (reference rank.py:389 `_execute_sliding_window_qurk`,
    * the human-powered-sort QuRK baseline): an initial embedding ordering,
    * then overlapping windows of `windowSize` advancing by `windowSize/2`
    * from the TOP of the list are LLM re-rated and reordered in place; the
    * walk stops after the first window starting at or past `k` (reference
    * breaks after processing that window). The window pass is inherently
    * sequential, so it runs on the collected top `k + windowSize` slice —
    * O(k) driver state, correct at scale because rows below the slice keep
    * their initial rank (same shape as [[refineTopSlice]]). */
  def bySlidingWindow(
      df: DataFrame,
      name: String,
      embeddingCol: String,
      query: Array[Double],
      renderExpr: String,
      client: LlmClient,
      model: String = "mock",
      k: Int = 50,
      windowSize: Int = 10,
      direction: String = "desc",
      tieBreak: Seq[String] = Nil): DataFrame = {
    val initial = byEmbedding(df, embeddingCol, query, direction, tieBreak)
    val spark = initial.sparkSession
    val sliceSize = k + windowSize
    val slice = initial.filter(col("_rank") <= sliceSize)
      .withColumn("_graft_render", expr(renderExpr).cast("string"))
      .orderBy(col("_rank"))
      .collect()
    if (slice.length <= 1) return initial
    val renderIdx = slice.head.fieldIndex("_graft_render")
    val ratingSchema = StructType(Seq(StructField("rating", LongType)))
    val meter = Meter(spark, name)
    var items = slice.toVector
    val step = math.max(1, windowSize / 2)
    var start = 0
    var done = false
    while (!done) {
      val window = items.slice(start, math.min(start + windowSize, items.length))
      val rated = window.map { r =>
        val rating = Cached.complete(client, meter, model,
          r.getString(renderIdx), ratingSchema).values("rating").asInstanceOf[Long]
        (r, rating)
      }
      // Stable sort: equal ratings keep their current relative order, like
      // the reference applying the batch ranking permutation.
      val reordered =
        (if (direction == "desc") rated.sortBy(-_._2) else rated.sortBy(_._2)).map(_._1)
      items = items.patch(start, reordered, window.length)
      if (start >= k || start + windowSize >= items.length) done = true
      else start += step
    }
    val rankIdx = slice.head.fieldIndex("_rank")
    val refined = items.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq.updated(rankIdx, i + 1L))
    }
    val sliceDf = spark.createDataFrame(
      spark.sparkContext.parallelize(refined), slice.head.schema.asInstanceOf[StructType])
      .drop("_graft_render")
    initial.filter(col("_rank") > sliceSize).unionByName(sliceDf)
  }

  /** Picky-window refinement over the current top `sliceSize` rows: windows
    * of `windowSize` walked from the back, the client re-rates each window's
    * members, `numTopPerWindow` best bubble up, overlapping by
    * `overlapFraction` — bounded by `callBudget` distinct rating prompts
    * (reference rank.py:696-912).
    * Returns the refined top slice re-ranked 1..sliceSize; rows outside the
    * slice keep their original `_rank`.
    */
  def refineTopSlice(
      ranked: DataFrame,
      renderExpr: String,
      client: LlmClient,
      model: String = "mock",
      sliceSize: Int = 50,
      windowSize: Int = 10,
      overlapFraction: Double = 0.5,
      callBudget: Int = 20): DataFrame = {
    val spark = ranked.sparkSession
    val slice = ranked.filter(col("_rank") <= sliceSize)
      .withColumn("_graft_render", expr(renderExpr).cast("string"))
      .orderBy(col("_rank"))
      .collect()
    if (slice.isEmpty) return ranked
    val renderIdx = slice.head.fieldIndex("_graft_render")
    val ratingSchema = StructType(Seq(StructField("rating", LongType)))
    val meter = Meter(spark, "refine_top_slice")
    var items = slice.toVector
    // The budget counts distinct prompts: a row re-rated by an overlapping
    // window is answered from the response cache and costs no call.
    val sent = collection.mutable.HashSet.empty[String]
    val step = math.max(1, (windowSize * (1 - overlapFraction)).toInt)
    var start = math.max(0, items.length - windowSize)
    while (sent.size < callBudget && start >= 0) {
      val window = items.slice(start, start + windowSize)
      val rated = window.map { r =>
        val prompt = r.getString(renderIdx)
        sent += prompt
        (r, Cached.complete(client, meter, model, prompt, ratingSchema)
          .values("rating").asInstanceOf[Long])
      }
      val reordered = rated.sortBy(-_._2).map(_._1)
      items = items.patch(start, reordered, window.length)
      if (start == 0) start = -1 else start = math.max(0, start - step)
    }
    val rankIdx = slice.head.fieldIndex("_rank")
    val refined = items.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq.updated(rankIdx, i + 1L))
    }
    val sliceDf = spark.createDataFrame(
      spark.sparkContext.parallelize(refined), slice.head.schema.asInstanceOf[StructType])
      .drop("_graft_render")
    ranked.filter(col("_rank") > sliceSize).unionByName(sliceDf)
  }
}

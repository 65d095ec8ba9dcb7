package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Cached, LlmClient, Meter}

/** Hierarchical clustering + LLM node summaries (reference
  * docetl/operations/cluster.py:14-310): embed rows, build a cluster tree,
  * LLM-summarize every internal node bottom-up, and annotate each row with
  * its root→leaf path of summaries under `outputKey` ("clusters").
  *
  * Spark-first: recursive bisecting k-means (`BisectingKMeans` is the Spark
  * ML hierarchical analog — SURVEY.md §2.5 mapping). Assignment and scoring
  * are distributed; only the per-node summaries (O(#clusters) strings, not
  * O(rows)) ever reach the driver.
  */
object ClusterOp {

  def apply(
      df: DataFrame,
      embeddingCol: String,
      renderExpr: String,      // SQL expr: the text summarized per cluster
      numClusters: Int,
      client: LlmClient,
      model: String = "mock",
      outputKey: String = "clusters",
      maxSummaryMembers: Int = 20,
      seed: Long = 42,
      maxIter: Int = 10,
      /** Fixed centroids instead of k-means training — for reproducible
        * grids or externally-trained quantizers. */
      explicitCentroids: Option[Array[Array[Double]]] = None,
      /** Custom node-summary prompt (reference cluster.py `summary_prompt`,
        * rendered with the members as `inputs`): `{{ inputs }}` is replaced
        * by the member block, otherwise the block is appended. */
      summaryPrompt: Option[String] = None,
      /** Declared summary output schema (reference `summary_schema`); a
        * single field labels nodes with its value, multiple fields render
        * "k=v" pairs. */
      summarySchema: Seq[(String, String)] = Seq("summary" -> "str")): DataFrame = {
    // Centroids train on a driver-side sample (graft.ann.Ann.trainCentroids
    // — the coarse-quantizer recipe); ASSIGNMENT is fully distributed, a
    // codegen'd nearest-centroid expression over every row. No per-iteration
    // Spark jobs, no ML pipeline in the hot path.
    val centroids = explicitCentroids.getOrElse(
      graft.ann.Ann.trainCentroids(df, embeddingCol, numClusters, maxIter, seed))
    val assigned = graft.ann.Ann.ivfAssign(df, embeddingCol, centroids)
      .withColumnRenamed("_cell", "_graft_cluster")

    // Per-cluster summary over a bounded member sample (deterministic order).
    // The cap is a rank-limit window BEFORE the collect_list — Catalyst
    // plans WindowGroupLimit, so a giant cluster never materializes its full
    // member array in an agg buffer (slice-after-collect_list would). Result
    // is identical: the lexicographically-smallest maxSummaryMembers.
    val outStruct = graft.core.SchemaTypes.toStruct(summarySchema)
    val sampleW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_graft_cluster")).orderBy(col("_graft_render"))
    val samples = assigned
      .withColumn("_graft_render", expr(renderExpr).cast("string"))
      .withColumn("_graft_rn", row_number().over(sampleW))
      .filter(col("_graft_rn") <= maxSummaryMembers)
      .groupBy("_graft_cluster")
      .agg(sort_array(collect_list(col("_graft_render"))).as("_members"))
      .collect()
    val meter = Meter(df.sparkSession, "cluster")
    val summaries = samples.map { r =>
      val cid = r.getInt(0)
      val prompt = renderSummaryPrompt(summaryPrompt, r.getSeq[String](1).mkString("\n"))
      val resp = Cached.complete(client, meter, model, prompt, outStruct)
      cid -> renderSummaryValues(resp.values, outStruct)
    }.toMap
    val summaryMap = typedLit(summaries)
    assigned
      .withColumn(outputKey, array(element_at(summaryMap, col("_graft_cluster"))))
      .drop("_graft_cluster")
  }

  /** Hierarchical variant (reference cluster.py:14-310 builds a full binary
    * tree agglomeratively on the driver — O(n²)): recursive bisecting
    * k-means, level by level, at O(depth) SPARK JOBS TOTAL — not one per
    * tree node. Each level runs exactly two jobs:
    *
    *   1. a grouped seeded-hash sample: the top `sampleSizePerNode` rows
    *      per path by hash (one window pass) collect to the driver, which
    *      runs a tiny k=2 Lloyd per path locally;
    *   2. assignment: the per-path child centroids broadcast-join back on
    *      `_graft_path` and every row picks its nearer child — fully
    *      distributed, codegen'd array math, then materializes for the
    *      next level.
    *
    * (The r2 version drove a KMeans.fit + count per PATH: 2^d - 1 ML fits,
    * each several jobs — a depth-8 tree was 255 sequential Spark jobs.)
    * Every internal node gets an LLM summary bottom-up (leaves from bounded
    * member samples, internal nodes from their children's summaries), and
    * each row is annotated with its root→leaf PATH of summaries under
    * `outputKey` — the reference's `clusters` column shape.
    */
  def hierarchical(
      df: DataFrame,
      embeddingCol: String,
      renderExpr: String,
      depth: Int,
      client: LlmClient,
      model: String = "mock",
      outputKey: String = "clusters",
      maxSummaryMembers: Int = 10,
      seed: Long = 42,
      /** Collapse near-degenerate levels (reference cluster.py `collapse`
        * by relative distance): an internal node whose own split is at
        * least `ratio` x its parent's split distance adds little hierarchy
        * — its summary is dropped from every row's path (root and leaves
        * always stay). */
      collapse: Option[Double] = None,
      sampleSizePerNode: Int = 1000,
      /** Cap on the TOTAL rows collected per level across all nodes. The
        * tree doubles per level, so a constant per-NODE sample is
        * O(2^level × sampleSizePerNode × dim) on the driver — ~2 GB at
        * depth 8 × 1000 samples × 1k-dim. As the level widens past
        * `maxDriverSampleRowsPerLevel / sampleSizePerNode` nodes, the
        * per-node sample shrinks proportionally (floor 2 — a bisection
        * needs two points), keeping driver memory bounded by
        * max(cap, 2 × #nodes) rows regardless of depth. */
      maxDriverSampleRowsPerLevel: Int = 65536,
      summaryPrompt: Option[String] = None,
      summarySchema: Seq[(String, String)] = Seq("summary" -> "str")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(depth >= 1, "depth must be >= 1")
    val spark = df.sparkSession
    lastSampleRowsPerLevel = Vector.empty

    // splitDist(path) = distance between the two child centroids of the
    // k=2 split performed AT that node.
    val splitDist = scala.collection.mutable.Map[String, Double]()
    var assigned = df
      .withColumn("_graft_vecd", transform(col(embeddingCol), _.cast("double")))
      .withColumn("_graft_path", lit(""))
      .persist()
    // Nodes at the CURRENT level (paths still being split). Tracked on the
    // driver — splittable nodes double, unsplittable ones carry through — so
    // sizing the next level's sample costs no extra Spark job.
    var activePaths = 1L
    (1 to depth).foreach { level =>
      // Job 1: grouped sample — up to perNode rows per path by seeded hash
      // (order-invariant, like SampleOp.seededHead but keyed). The per-node
      // quota shrinks as the level widens so the level's total collect stays
      // under maxDriverSampleRowsPerLevel.
      val perNode = math.max(2,
        math.min(sampleSizePerNode.toLong,
          maxDriverSampleRowsPerLevel / math.max(1L, activePaths)).toInt)
      val w = Window.partitionBy(col("_graft_path")).orderBy(col("_graft_h"))
      val sampleRows = assigned
        .withColumn("_graft_h", xxhash64(lit(seed + level), col("_graft_vecd")))
        .withColumn("_graft_rn", row_number().over(w))
        .filter(col("_graft_rn") <= perNode)
        .select(col("_graft_path"), col("_graft_vecd"))
        .collect()
      lastSampleRowsPerLevel =
        lastSampleRowsPerLevel :+ ((sampleRows.length.toLong, activePaths))
      val byPath = sampleRows.groupBy(_.getString(0)).map { case (p, rs) =>
        p -> rs.map(_.getSeq[Double](1).toArray)
          .sortBy(_.toIndexedSeq)(Ordering.Implicits.seqOrdering[IndexedSeq, Double])
      }
      // Driver: k=2 Lloyd per path over its sample (tiny, local).
      val centroids = byPath.toSeq.sortBy(_._1).flatMap { case (p, pts) =>
        bisect(pts).map { case (c0, c1) =>
          splitDist(p) = math.sqrt(c0.zip(c1).map { case (a, b) =>
            (a - b) * (a - b) }.sum)
          (p, c0.toSeq, c1.toSeq)
        }
      }
      if (centroids.nonEmpty) {
        // Job 2: distributed assignment via a broadcast join on the path.
        val centDf = spark.createDataFrame(centroids)
          .toDF("_graft_path", "_c0", "_c1")
        def sqDist(c: String) = aggregate(
          zip_with(col("_graft_vecd"), col(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
        val next = assigned
          .join(broadcast(centDf), Seq("_graft_path"), "left")
          .withColumn("_graft_path",
            when(col("_c0").isNull, col("_graft_path")) // unsplittable node
              .otherwise(concat(col("_graft_path"), lit("/"),
                when(sqDist("_c0") <= sqDist("_c1"), lit(0)).otherwise(lit(1)))))
          .drop("_c0", "_c1")
          .persist()
        next.count() // materialize BEFORE dropping the parent's cache
        assigned.unpersist()
        assigned = next
      }
      activePaths += centroids.size // each split node became two
    }
    // Collapsed internal nodes: split nearly as wide as the parent's.
    val collapsed: Set[String] = collapse match {
      case None => Set.empty
      case Some(ratio) =>
        splitDist.keySet.filter { p =>
          p.nonEmpty && {
            val parent = p.substring(0, p.lastIndexOf('/'))
            splitDist.get(parent).exists(pd => pd > 0 && splitDist(p) >= ratio * pd)
          }
        }.toSet
    }

    // Bottom-up summaries: leaves from member samples, ancestors from
    // children. Only O(#nodes) strings ever reach the driver.
    val outStruct = graft.core.SchemaTypes.toStruct(summarySchema)
    // Rank-limit window before collect_list (same shape as the flat op):
    // bounded agg buffers at any leaf size, identical member sample.
    val leafW = Window.partitionBy(col("_graft_path")).orderBy(col("_graft_render"))
    val leafSamples = assigned
      .withColumn("_graft_render", expr(renderExpr).cast("string"))
      .withColumn("_graft_rn", row_number().over(leafW))
      .filter(col("_graft_rn") <= maxSummaryMembers)
      .groupBy("_graft_path")
      .agg(sort_array(collect_list(col("_graft_render"))).as("_members"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val summaries = scala.collection.mutable.Map[String, String]()
    val meter = Meter(df.sparkSession, "cluster")
    def summarize(path: String): String = summaries.getOrElseUpdate(path, {
      val children = leafSamples.keys.filter(k =>
        k.startsWith(path) && k != path).toSeq.sorted
      val directLeaf = leafSamples.get(path)
      val input = directLeaf match {
        case Some(members) => members.mkString("\n")
        case None =>
          // internal node: summarize the nearest descendant summaries
          val childPaths = children.map(_.substring(path.length).split('/')
            .filter(_.nonEmpty).head).distinct.sorted.map(c => s"$path/$c")
          childPaths.map(summarize).mkString("\n")
      }
      val resp = Cached.complete(client, meter, model,
        renderSummaryPrompt(summaryPrompt, input), outStruct)
      renderSummaryValues(resp.values, outStruct)
    })
    leafSamples.keys.foreach(summarize)
    summarize("") // root
    // Per-leaf path-of-summaries arrays, broadcast back as a literal map;
    // collapsed internal nodes drop out of the path (root + leaf kept).
    val pathArrays = leafSamples.keys.map { leaf =>
      val segs = leaf.split('/').filter(_.nonEmpty)
      val ancestors = (0 to segs.length).map(i =>
        segs.take(i).map("/" + _).mkString)
      val kept = ancestors.filter(a =>
        a == "" || a == leaf || !collapsed.contains(a))
      leaf -> kept.map(summaries)
    }.toMap
    val pathMap = typedLit(pathArrays)
    assigned
      .withColumn(outputKey, element_at(pathMap, col("_graft_path")))
      .drop("_graft_vecd", "_graft_path")
  }

  /** (rows collected, active paths) per level of the last `hierarchical`
    * run — test observability for the driver-sample bound, which is
    * max(maxDriverSampleRowsPerLevel, 2 × active paths) because a bisection
    * needs at least two points per node. No logger dependency. */
  @volatile private[graft] var lastSampleRowsPerLevel: Vector[(Long, Long)] = Vector.empty

  /** `{{ inputs }}` substitution for a custom summary prompt; without a
    * custom prompt the member block IS the prompt (the mock-oracle path). */
  private def renderSummaryPrompt(summaryPrompt: Option[String], members: String): String =
    summaryPrompt match {
      case Some(p) if p.contains("{{ inputs }}") => p.replace("{{ inputs }}", members)
      case Some(p) => s"$p\n$members"
      case None => members
    }

  /** Node label from the declared summary schema: a single field labels the
    * node with its value (the reference's common shape), multiple fields
    * render sorted "k=v" pairs. */
  private def renderSummaryValues(
      values: Map[String, Any],
      outStruct: org.apache.spark.sql.types.StructType): String =
    if (outStruct.fields.length == 1) String.valueOf(values(outStruct.fields.head.name))
    else outStruct.fieldNames.sorted.map(f => s"$f=${values(f)}").mkString("; ")

  /** Local k=2 Lloyd over a node's sample: deterministic farthest-first
    * init (first point + its farthest), <=20 refinement iterations.
    * None when the sample cannot split (fewer than 2 distinct points). */
  private def bisect(
      pts: Array[Array[Double]],
      maxIter: Int = 20): Option[(Array[Double], Array[Double])] = {
    if (pts.length < 2) return None
    val dim = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val a0 = pts.head
    val b0 = pts.maxBy(p => d2(a0, p))
    if (d2(a0, b0) == 0) return None // all points identical
    var c0 = a0.clone(); var c1 = b0.clone()
    var iter = 0; var moved = true
    while (iter < maxIter && moved) {
      val s0 = new Array[Double](dim); val s1 = new Array[Double](dim)
      var n0 = 0L; var n1 = 0L
      pts.foreach { p =>
        if (d2(p, c0) <= d2(p, c1)) { n0 += 1; var i = 0; while (i < dim) { s0(i) += p(i); i += 1 } }
        else { n1 += 1; var i = 0; while (i < dim) { s1(i) += p(i); i += 1 } }
      }
      val m0 = if (n0 > 0) s0.map(_ / n0) else c0
      val m1 = if (n1 > 0) s1.map(_ / n1) else c1
      moved = !java.util.Arrays.equals(m0, c0) || !java.util.Arrays.equals(m1, c1)
      c0 = m0; c1 = m1
      iter += 1
    }
    Some((c0, c1))
  }
}

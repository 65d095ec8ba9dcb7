package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SchemaTypes
import graft.llm.{Cached, LlmClient, Meter}

/** LLM aggregation (reference docetl/operations/reduce.py:35-1053).
  *
  * Group by `reduceKeys` ("_all" = one global group, reduce.py:265-299); per
  * group the member rows are rendered with `memberExpr` (a SQL expression —
  * our Spark-first stand-in for the Jinja row template), ordered by
  * `orderKey` for determinism (the reference preserves first-seen order; a
  * distributed engine must order explicitly — SURVEY.md §7.5.2), then:
  *
  *   - `batch` strategy (reduce.py:987+): one completion over all members
  *     joined by '\n'.
  *   - `fold` strategy (reduce.py:684-793): sequential `foldPrompt` over
  *     `foldBatchSize`-sized chunks, carrying the accumulator output forward.
  *
  * Plan shape: groupBy + sort_array(collect_list(struct(order, member))) —
  * ONE shuffle whose payload is the rendered member strings (not whole rows),
  * with the LLM call running post-aggregation, distributed across groups.
  * Adds `_counts_prereduce_{name}` (reduce.py:383) and optional `passThrough`
  * fields from the first member (reduce.py:399-407).
  */
object SemanticReduce {

  final case class Config(
      name: String,
      reduceKeys: Seq[String],
      memberExpr: String,
      orderKey: String,
      outputSchema: Seq[(String, String)],
      model: String = "mock",
      strategy: String = "batch", // batch | fold
      foldBatchSize: Int = 100,
      passThrough: Seq[String] = Nil,
      lineage: Boolean = false,
      /** Value sampling within the group (reference reduce.py:143-161
        * `value_sampling`): cap the members the LLM sees to n. The
        * count/lineage columns still reflect the FULL group (sampling only
        * bounds prompt size). */
      valueSampleSize: Option[Int] = None,
      /** `first_n` (head in orderKey order), `random` (deterministic seeded
        * pick), `sem_sim` (top-k members by embedding cosine to
        * `valueSampleQuery` — reference "semantic_similarity"), or
        * `diverse` (farthest-first over member embeddings), or `cluster`
        * (k-means the members, one representative per cluster — reference
        * "cluster" mode, reduce.py:457-492). Members keep their orderKey
        * order in every mode. */
      valueSampleMode: String = "first_n",
      valueSampleQuery: Option[String] = None,
      valueSampleEmbedModel: String = "mock-embed",
      /** Keep only the n smallest groups (reference reduce.py:301-305
        * `limit`), ties broken by the reduce keys. */
      limitSmallestGroups: Option[Int] = None,
      /** Adds `_observability_{name}` carrying the prompt(s) sent for the
        * group — fold chains joined by "\n=====\n" (reference
        * reduce.py:385-387). */
      enableObservability: Boolean = false,
      /** Judge-prompt refinement loop over the group result (reference
        * reduce ops share the map gleaning config, api.py:365-460). */
      gleaning: Option[GleaningConfig] = None,
      /** Keep every fold step's output under `_{name}_intermediates`
        * (reference reduce.py:444-450,567-594: a list of
        * {iter, intermediate} entries per group). Rendered as
        * "iter=<i>;k=v;..." strings; batch-strategy groups get an empty
        * list (the reference only records intermediates on fold paths). */
      persistIntermediates: Boolean = false,
      /** Drop a GROUP whose LLM call fails instead of failing the query
        * (reference base.py skip_on_error). */
      skipOnError: Boolean = false,
      /** Use the streaming shape for `fold` strategy (repartition by keys +
        * sorted single pass): peak per-group state is one foldBatchSize
        * chunk + the accumulator, never the whole member array. On by
        * default; automatically skipped when a feature that intrinsically
        * needs the full member list is configured (value_sampling, lineage,
        * limit-smallest-groups). Off = the collect_list shape (also the
        * test baseline the streaming path is verified against). */
      streamingFold: Boolean = true)

  def apply(df: DataFrame, cfg: Config, client: LlmClient): DataFrame = {
    val outStruct = SchemaTypes.toStruct(cfg.outputSchema)
    val global = cfg.reduceKeys == Seq("_all")
    val keyFields =
      if (global) Array.empty[StructField]
      else cfg.reduceKeys.map(k => df.schema(k)).toArray
    val ptFields = cfg.passThrough.map(k => df.schema(k)).toArray
    val lineageFields =
      if (cfg.lineage)
        Array(StructField(s"${cfg.name}_lineage", ArrayType(StringType)))
      else Array.empty[StructField]
    val obsFields =
      if (cfg.enableObservability)
        Array(StructField(s"_observability_${cfg.name}", StringType))
      else Array.empty[StructField]
    val intermediateFields =
      if (cfg.persistIntermediates)
        Array(StructField(s"_${cfg.name}_intermediates", ArrayType(StringType)))
      else Array.empty[StructField]
    val newSchema = StructType(
      keyFields ++ ptFields ++ outStruct.fields ++ lineageFields ++ obsFields ++
        intermediateFields :+
        StructField(s"_counts_prereduce_${cfg.name}", LongType))

    if (cfg.strategy == "fold" && cfg.streamingFold && cfg.valueSampleSize.isEmpty &&
        !cfg.lineage && cfg.limitSmallestGroups.isEmpty)
      return streamingFold(df, cfg, client, outStruct, newSchema, global)

    val member = struct(col(cfg.orderKey).as("o"), expr(cfg.memberExpr).cast("string").as("m"))
    // first_n value-sampling pushdown: the sampled head is order-defined, so
    // a rank-limit window (WindowGroupLimit) bounds the collected array at k
    // BY CONSTRUCTION instead of sampling after a full-group collect. Other
    // modes (and lineage) need the complete member list, so they keep the
    // unbounded collect. The in-task first_n take(k) below then no-ops.
    val firstNPushdown = cfg.valueSampleSize.isDefined &&
      cfg.valueSampleMode == "first_n" && !cfg.lineage
    val dfA =
      if (!firstNPushdown) df
      else {
        val pcols: Seq[org.apache.spark.sql.Column] =
          if (global) Seq(lit(0)) else cfg.reduceKeys.map(col)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pcols: _*)
          .orderBy(col(cfg.orderKey), expr(cfg.memberExpr).cast("string"))
        df.withColumn("_graft_vsrn", row_number().over(w))
      }
    val memberCol =
      if (firstNPushdown) when(col("_graft_vsrn") <= cfg.valueSampleSize.get, member)
      else member
    val ptStruct =
      if (cfg.passThrough.isEmpty) lit(null).cast("string").as("_pt")
      else min(struct(col(cfg.orderKey) +: cfg.passThrough.map(col): _*)).as("_pt")
    val aggCols = Seq(
      sort_array(collect_list(memberCol)).as("_members"),
      count(lit(1)).as("_n"),
      ptStruct)
    val groupedAll =
      if (global) dfA.agg(aggCols.head, aggCols.tail: _*)
      else dfA.groupBy(cfg.reduceKeys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    val grouped = cfg.limitSmallestGroups match {
      case Some(n) if !global =>
        groupedAll.orderBy(col("_n").asc +: cfg.reduceKeys.map(col(_).asc): _*).limit(n)
      case _ => groupedAll
    }

    val meter = Meter(df.sparkSession, cfg.name)
    val cfgB = cfg
    val nKeys = keyFields.length
    val gSchema = grouped.schema

    grouped.mapPartitions { it =>
      def reduceGroup(row: Row): Row = {
        val allMembers = row.getSeq[Row](gSchema.fieldIndex("_members")).map(_.getString(1))
        val members = cfgB.valueSampleSize match {
          case None => allMembers
          case Some(k) => ValueSampling(
            allMembers, k, cfgB.valueSampleMode, cfgB.valueSampleQuery,
            cfgB.valueSampleEmbedModel, client, meter)
        }
        val n = row.getLong(gSchema.fieldIndex("_n"))
        val call = new GroupCalls(cfgB, client, meter, outStruct)
        val intermediates = Seq.newBuilder[String]
        val initial = cfgB.strategy match {
          case "batch" => call(members.mkString("\n"))
          case "fold" =>
            // Sequential incremental fold: each chunk's prompt carries the
            // prior accumulator output (reference reduce.py:684-793).
            var iter = 0
            members.grouped(cfgB.foldBatchSize)
              .foldLeft(Option.empty[Map[String, Any]]) { (acc, chunk) =>
                val prefix = acc.map(a =>
                  s"ACC:${a.toSeq.sortBy(_._1).mkString(",")}\n").getOrElse("")
                val out = call(prefix + chunk.mkString("\n"))
                if (cfgB.persistIntermediates) {
                  intermediates += s"iter=$iter;" +
                    out.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
                  iter += 1
                }
                Some(out)
              }.getOrElse(call(""))
          case other => throw new IllegalArgumentException(s"unknown strategy $other")
        }
        val values = LlmRunner.glean(cfgB.gleaning, client, meter, cfgB.model, initial)(call.refine)
        val keyVals = (0 until nKeys).map(row.get)
        val ptVals =
          if (cfgB.passThrough.isEmpty) Seq.empty[Any]
          else {
            val pt = row.getStruct(gSchema.fieldIndex("_pt"))
            cfgB.passThrough.indices.map(i => pt.get(i + 1))
          }
        val outVals = outStruct.fields.map(f => LlmRunner.coerce(values.get(f.name), f.dataType))
        val lineageVals =
          if (cfgB.lineage) Seq(allMembers) // reference reduce.py:410-418
          else Seq.empty[Any]
        val obsVals =
          if (cfgB.enableObservability) Seq(call.prompts) else Seq.empty[Any]
        val interVals =
          if (cfgB.persistIntermediates) Seq(intermediates.result())
          else Seq.empty[Any]
        Row((keyVals ++ ptVals ++ outVals ++ lineageVals ++ obsVals ++ interVals :+ n): _*)
      }
      // Groups reduce through the executor's shared call window, in order.
      graft.llm.Concurrency.flatMapOrdered(it, None) { row =>
        // deterministic config errors (bad mode, missing query) must still
        // fail loudly — skip_on_error is for per-group RUNTIME failures
        try Iterator.single(reduceGroup(row)) catch {
          case e: IllegalArgumentException => throw e
          case _: Exception if cfgB.skipOnError => Iterator.empty
        }
      }
    }(Encoders.row(newSchema))
  }

  /** One group's LLM calls through the op's cache path, the prompts sent,
    * and its gleaning refinements. The cache matters here because a global sort ABOVE this
    * operator runs a range-partitioner SAMPLING pass that executes the
    * whole partition twice — without it every group would pay its LLM
    * calls twice (and task retries would too). */
  private final class GroupCalls(
      cfg: Config, client: LlmClient, meter: Meter, outStruct: StructType) {
    private val sent = Seq.newBuilder[String]
    private var lastPrompt = ""

    def apply(prompt: String): Map[String, Any] = {
      if (cfg.enableObservability) sent += prompt
      lastPrompt = prompt
      Cached.complete(client, meter, cfg.model, prompt, outStruct).values
    }

    /** A gleaning refinement: reduce refines from the last prompt it sent. */
    def refine(improvements: String): Map[String, Any] =
      apply(s"$lastPrompt\nRefine: $improvements")

    /** The prompts sent for the group, fold chains joined by "\n=====\n". */
    def prompts: String = sent.result().mkString("\n=====\n")
  }

  /** Scale shape for `strategy = "fold"`: repartition by the reduce keys,
    * sort within partitions by (keys, orderKey, member) — the same total
    * order `sort_array(struct(o, m))` yields — then fold each group in ONE
    * streaming pass over the sorted rows. Peak per-group state is one
    * foldBatchSize chunk plus the accumulator, regardless of group size;
    * the collect_list shape holds the ENTIRE group in an agg buffer first,
    * which a mega-group turns into an executor OOM. Results are identical
    * (same chunking, same prompts, same cache keys — ReduceStreamingSpec
    * pins the equivalence). */
  private def streamingFold(
      df: DataFrame, cfg: Config, client: LlmClient,
      outStruct: StructType, newSchema: StructType, global: Boolean): DataFrame = {
    val meter = Meter(df.sparkSession, cfg.name)
    val cfgB = cfg
    val keyNames = if (global) Seq.empty[String] else cfg.reduceKeys
    val projected = df.select(
      keyNames.map(col) ++ Seq(
        col(cfg.orderKey).as("_graft_ord"),
        expr(cfg.memberExpr).cast("string").as("_graft_m")) ++
        cfg.passThrough.map(col): _*)
    val parts =
      // the global group is ONE sequential fold chain by definition
      // (reference reduce.py:684-793) — a single partition is its true shape
      if (global) projected.repartition(1)
      else projected.repartition(keyNames.map(col): _*)
    val sorted = parts.sortWithinPartitions(
      (keyNames ++ Seq("_graft_ord", "_graft_m")).map(col): _*)
    val nk = keyNames.length
    val iM = nk + 1
    val ptStart = nk + 2

    sorted.mapPartitions { it =>
      val buf = it.buffered
      // Consume one whole group; None = group dropped by skip_on_error.
      def foldGroup(): Option[Row] = {
        val first = buf.head
        val keyVals = (0 until nk).map(first.get)
        // _pt must match the collect_list baseline's
        // min(struct(orderKey, passThrough...)): among rows sharing the
        // minimal orderKey, the minimal pass-through tuple wins. The
        // partition sort is (keys, ord, member), so the first row is only
        // minimal in (ord, member) — track the (ord, pt...) minimum
        // explicitly (ReduceStreamingSpec pins the tie-break equivalence).
        def ptTuple(r: Row): Seq[Any] =
          r.get(nk) +: cfgB.passThrough.indices.map(i => r.get(ptStart + i))
        def cmpAny(a: Any, b: Any): Int = (a, b) match {
          case (null, null) => 0
          case (null, _) => -1 // ascending struct ordering: null first
          case (_, null) => 1
          // Strings must compare like Spark's internal UTF8String binary
          // ordering (unsigned UTF-8 bytes), NOT Java's UTF-16 compareTo —
          // they disagree on supplementary characters (e.g. U+FFFD sorts
          // after emoji in UTF-16 but before in UTF-8), and the baseline's
          // min(struct(...)) uses the binary order.
          case (x: String, y: String) =>
            val ab = x.getBytes("UTF-8"); val bb = y.getBytes("UTF-8")
            var i = 0; var c = 0
            val n = math.min(ab.length, bb.length)
            while (i < n && c == 0) { c = (ab(i) & 0xff) - (bb(i) & 0xff); i += 1 }
            if (c != 0) c else ab.length - bb.length
          case (x: Comparable[_], _) => x.asInstanceOf[Comparable[Any]].compareTo(b)
          case _ => 0 // non-Comparable pass-through type: keep first-seen
        }
        def cmpSeq(a: Seq[Any], b: Seq[Any]): Int =
          a.iterator.zip(b.iterator).map { case (x, y) => cmpAny(x, y) }
            .find(_ != 0).getOrElse(0)
        var bestPt = ptTuple(first)
        def sameGroup(r: Row): Boolean =
          (0 until nk).forall(i => r.get(i) == first.get(i))
        var n = 0L
        var acc = Option.empty[Map[String, Any]]
        var failed = Option.empty[Throwable]
        var iter = 0
        val call = new GroupCalls(cfgB, client, meter, outStruct)
        val intermediates = Seq.newBuilder[String]
        val chunk = new scala.collection.mutable.ArrayBuffer[String](cfgB.foldBatchSize)
        def flush(): Unit = if (chunk.nonEmpty && failed.isEmpty) {
          val prefix = acc.map(a =>
            s"ACC:${a.toSeq.sortBy(_._1).mkString(",")}\n").getOrElse("")
          try {
            val out = call(prefix + chunk.mkString("\n"))
            if (cfgB.persistIntermediates) {
              intermediates += s"iter=$iter;" +
                out.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
              iter += 1
            }
            acc = Some(out)
          } catch {
            case e: IllegalArgumentException => throw e
            case e: Exception if cfgB.skipOnError => failed = Some(e)
          }
          chunk.clear()
        }
        while (buf.hasNext && sameGroup(buf.head)) {
          val r = buf.next()
          n += 1
          // Once skip_on_error marks the group failed we still drain its
          // rows to reach the next group, but stop buffering members —
          // otherwise chunk grows O(group size), the exact unbounded state
          // this streaming shape exists to prevent.
          if (failed.isEmpty) {
            if (cfgB.passThrough.nonEmpty) {
              val cand = ptTuple(r)
              if (cmpSeq(cand, bestPt) < 0) bestPt = cand
            }
            chunk += r.getString(iM)
            if (chunk.size >= cfgB.foldBatchSize) flush()
          }
        }
        flush()
        if (failed.isDefined) return None
        val ptVals = bestPt.tail
        try {
          val values = LlmRunner.glean(cfgB.gleaning, client, meter, cfgB.model,
            acc.getOrElse(call("")))(call.refine)
          val outVals = outStruct.fields.map(f => LlmRunner.coerce(values.get(f.name), f.dataType))
          val obsVals =
            if (cfgB.enableObservability) Seq(call.prompts) else Seq.empty[Any]
          val interVals =
            if (cfgB.persistIntermediates) Seq(intermediates.result())
            else Seq.empty[Any]
          Some(Row((keyVals ++ ptVals ++ outVals ++ obsVals ++ interVals :+ n): _*))
        } catch {
          case e: IllegalArgumentException => throw e
          case _: Exception if cfgB.skipOnError => None
        }
      }
      new Iterator[Row] {
        private var pending: Option[Row] = None
        private def advance(): Unit =
          while (pending.isEmpty && buf.hasNext) pending = foldGroup()
        def hasNext: Boolean = { advance(); pending.isDefined }
        def next(): Row = {
          advance()
          val r = pending.getOrElse(throw new NoSuchElementException("empty"))
          pending = None
          r
        }
      }
    }(Encoders.row(newSchema))
  }
}

/** Within-group member sampling strategies (reference reduce.py:143-161
  * `value_sampling`: random / first_n / cluster / semantic-similarity).
  * Every mode preserves the members' original (orderKey) order. */
private[graft] object ValueSampling {

  def apply(
      allMembers: Seq[String],
      k: Int,
      mode: String,
      query: Option[String],
      embedModel: String,
      client: LlmClient,
      meter: Meter): Seq[String] = mode match {
    case "first_n" => allMembers.take(k)
    case "random" => // seeded stable pick
      keepByIndex(allMembers,
        allMembers.zipWithIndex
          .sortBy { case (m, i) =>
            (graft.functions.MinHashSignature.fmix64(m.hashCode.toLong), i) }
          .take(k).map(_._2))
    case "sem_sim" =>
      val q = query.getOrElse(throw new IllegalArgumentException(
        "sem_sim value sampling needs value_sample_query"))
      if (allMembers.size <= k) allMembers
      else {
        val embs = Cached.embed(client, meter, embedModel, allMembers)
        val qe = Cached.embed(client, meter, embedModel, Seq(q)).head
        keepByIndex(allMembers,
          allMembers.indices.sortBy(i => (-cosine(embs(i), qe), i)).take(k))
      }
    case "cluster" =>
      // Cluster-representative sampling (reference reduce.py:457-492
      // `_cluster_based_sampling`: k-means the members into k clusters, one
      // member per cluster). Deterministic analog of the reference's
      // random-per-cluster pick: each cluster contributes the member nearest
      // its centroid (ties -> lowest index). Runs executor-local over the
      // group's members — the embeddings never leave the task.
      if (allMembers.size <= k) allMembers
      else {
        val embs = Cached.embed(client, meter, embedModel, allMembers)
        val assign = localKMeans(embs, k)
        val reps = assign.zipWithIndex.groupBy(_._1._1).values.map { cluster =>
          // (cluster id, dist to centroid) with original index
          cluster.minBy { case ((_, d), i) => (d, i) }._2
        }.toSeq
        keepByIndex(allMembers, reps.sorted)
      }
    case "diverse" => // farthest-first representatives
      if (allMembers.size <= k) allMembers
      else {
        val embs = Cached.embed(client, meter, embedModel, allMembers)
        val selected = scala.collection.mutable.ArrayBuffer(0)
        while (selected.size < k) {
          // maximize the MINIMUM distance to the selected set (classic
          // farthest-first); maximizing the max would re-admit near-
          // duplicates of already-selected members
          val next = allMembers.indices
            .filterNot(selected.contains)
            .maxBy(i => (selected.map(s => -cosine(embs(i), embs(s))).min, -i))
          selected += next
        }
        keepByIndex(allMembers, selected.toSeq)
      }
    case other => throw new IllegalArgumentException(
      s"unknown value_sample_mode '$other' (first_n | random | sem_sim | diverse | cluster)")
  }

  /** Local Lloyd over the member embeddings: deterministic farthest-first
    * init (first point, then repeatedly the point farthest from the chosen
    * set), <=15 iterations. Returns per-point (cluster id, distance to its
    * centroid). Members are O(group) and already in memory — this is the
    * in-task analog of the reference's sklearn KMeans. */
  private def localKMeans(
      embs: Seq[Array[Float]], k: Int, maxIter: Int = 15): Seq[(Int, Double)] = {
    def d2(a: Array[Float], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    var centroids: Array[Array[Double]] = {
      val chosen = scala.collection.mutable.ArrayBuffer(0)
      while (chosen.size < k) {
        val next = embs.indices.filterNot(chosen.contains)
          .maxBy(i => (chosen.map(c => d2(embs(i), embs(c).map(_.toDouble))).min, -i))
        chosen += next
      }
      chosen.map(i => embs(i).map(_.toDouble)).toArray
    }
    var assign = Array.fill(embs.size)(0)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val next = embs.map(e => centroids.indices.minBy(c => (d2(e, centroids(c)), c))).toArray
      moved = !java.util.Arrays.equals(next, assign)
      assign = next
      centroids = centroids.indices.map { c =>
        val mine = embs.indices.filter(assign(_) == c)
        if (mine.isEmpty) centroids(c)
        else {
          val dim = embs(mine.head).length
          val sum = new Array[Double](dim)
          mine.foreach { i => var j = 0; while (j < dim) { sum(j) += embs(i)(j); j += 1 } }
          sum.map(_ / mine.size)
        }
      }.toArray
      iter += 1
    }
    embs.indices.map(i => (assign(i), d2(embs(i), centroids(assign(i)))))
  }

  private def keepByIndex(members: Seq[String], idx: Seq[Int]): Seq[String] = {
    val keep = idx.toSet
    members.zipWithIndex.collect { case (m, i) if keep(i) => m }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length && i < b.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}

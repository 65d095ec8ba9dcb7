package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.core.Materialize.noop

/** Scale rehearsal (VERDICT r16 item 5): answer the "would this still
  * be linear at 100×?" question with DATA instead of plan reading.
  * Synthesizes 10× and 100× the sf0.1 documents/embeddings tables and
  * runs the heavy families — MinHash dedup, PassJoin edit pairs, IVF
  * search, Aho–Corasick blocklist, budget select — timing each and
  * reporting runtime growth ratios plus driver heap. A family whose
  * runtime grows much faster than the data (or whose driver heap grows
  * with the corpus) fails the smoke.
  *
  * Replication detail that matters: each synthetic copy suffixes every
  * TOKEN with its copy tag and offsets ids, so copies share no
  * shingles/embedding directions. Naive replication would manufacture
  * k-way near-dup cliques — the pair stage would then grow as k² BY
  * CONSTRUCTION (correct behavior on pathological data), telling us
  * nothing about operator scaling on realistic corpora.
  *
  * Usage: runMain graft.ScaleSmoke [sfDir] [scales] [outFile]
  *   defaults: /root/testdata/sf0.1  1,10,100  target/SCALE_SMOKE.md
  */
object ScaleSmoke {

  /** The id offset between synthetic copies: the span of `id` in `base`, so
    * copy c's ids `[lo + c*stride, hi + c*stride]` never meet another
    * copy's. */
  private def stride(base: DataFrame, id: String): Long = {
    val r = base.agg(min(col(id)).cast("long"), max(col(id)).cast("long")).head()
    require(!r.isNullAt(0), s"no $id to offset")
    r.getLong(1) - r.getLong(0) + 1
  }

  private def synthDocs(spark: SparkSession, sfDir: String, k: Int,
      dir: java.nio.file.Path): String = {
    val base = graft.core.Tables(spark, sfDir, "documents")
    val docStride = stride(base, "doc_id")
    val p = dir.resolve(s"docs_x$k.parquet").toString
    val copies = base
      .withColumn("_copy", explode(sequence(lit(0), lit(k - 1))))
      // stage the rewritten text so n_chars measures the text the row
      // actually carries (suffixed tokens are longer than the source)
      .withColumn("_text", when(col("_copy") === 0, col("text"))
        .otherwise(concat_ws(" ",
          transform(split(col("text"), " "),
            t => concat(t, lit("~"), col("_copy"))))))
    copies.select(
        (col("doc_id") + col("_copy") * docStride).as("doc_id"),
        col("_text").as("text"),
        col("lang"), col("source"),
        length(col("_text")).as("n_chars"))
      .write.mode("overwrite").parquet(p)
    p
  }

  private def synthEmb(spark: SparkSession, sfDir: String, k: Int,
      dir: java.nio.file.Path): String = {
    val base = graft.core.Tables(spark, sfDir, "embeddings")
    val vecStride = stride(base, "vec_id")
    val p = dir.resolve(s"emb_x$k.parquet").toString
    base.withColumn("_copy", explode(sequence(lit(0), lit(k - 1))))
      .select(
        (col("vec_id") + col("_copy") * vecStride).as("vec_id"),
        // rotate-ish perturbation: shift each copy's vectors off the
        // originals so IVF cells keep realistic occupancy
        transform(col("embedding"), (x, i) =>
          x.cast("double") + col("_copy").cast("double") * 0.003 *
            (i.cast("double") + 1.0)).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(p)
    p
  }

  /** Synthetic events at k×: event/user ids offset per copy (so joins
    * never match across copies — output and state grow LINEARLY with k,
    * the property under test), timestamps unchanged (the watermark
    * sweep pattern stays realistic). `ts` is written as LONG MICROS —
    * the post-[[graft.core.Tables]] normalized form — and the smoke's
    * stream reader consumes it directly (no second normalization). */
  private def synthEvents(spark: SparkSession, sfDir: String, k: Int,
      dir: java.nio.file.Path): String = {
    val base = graft.core.Tables(spark, sfDir, "events")
    val (eventStride, userStride) = (stride(base, "event_id"), stride(base, "user_id"))
    val p = dir.resolve(s"events_x$k.parquet").toString
    base.withColumn("_copy", explode(sequence(lit(0), lit(k - 1))))
      .select(
        (col("event_id") + col("_copy") * eventStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("_copy") * userStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(p)
    p
  }

  /** The q275 stream-stream interval join driven at scale k against a
    * synthetic events directory (VERDICT r18 item 7 — the one heavy
    * family the 100× rehearsal never covered): per user, every
    * (purchase, click) pair with the click in the hour before the
    * purchase, watermark 0, noop sink. State partitions are FIXED at
    * the session's shuffle-partition count across every scale, so the
    * curve isolates per-row state-commit cost from partition-count
    * effects. Returns (output rows, input rows, summed state commit ms,
    * summed state rows), summed over every micro-batch: the progress comes
    * from a listener, since `recentProgress` keeps only the last
    * `spark.sql.streaming.numRecentProgressUpdates` batches. */
  private def streamIntervalJoinGate(spark: SparkSession,
      eventsPath: String, checkpoint: String): (Long, Long, Long, Long) = {
    val schema = graft.core.Tables.parquet(spark, eventsPath).schema
    def side(tpe: String, prefix: String) =
      spark.readStream.schema(schema).parquet(eventsPath)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          expr("timestamp_micros(ts)").as(s"${prefix}_ts"))
    val out = graft.streaming.Streams.intervalJoin(
      side("purchase", "p"), side("click", "c"),
      "p_user", "c_user", "p_ts", "c_ts",
      before = "1 hour", after = "0 seconds",
      watermarkDelay = "0 seconds")
      .select("p_id", "c_id")
    val log = new ProgressLog
    spark.streams.addListener(log)
    val progress = try {
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      log.of(q.runId)
    } finally spark.streams.removeListener(log)
    val outRows = progress.map(_.sink.numOutputRows).filter(_ > 0).sum
    val inRows = progress.map(_.numInputRows).sum
    val commitMs = progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum
    val stateRows = progress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).filter(_ > 0).lastOption.getOrElse(0L)
    (outRows, inRows, commitMs, stateRows)
  }

  /** Every progress report the listener bus delivers. The bus posts a
    * query's termination after its last progress, so once that arrives the
    * query's reports are complete. */
  private final class ProgressLog extends StreamingQueryListener {
    private val reports = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    private val ended = new java.util.concurrent.LinkedBlockingQueue[java.util.UUID]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      reports.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      ended.add(e.runId)

    /** The reports of the run `runId`, after its termination reached the bus. */
    def of(runId: java.util.UUID): Seq[StreamingQueryProgress] = {
      var seen = false
      while (!seen) {
        val id = ended.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        require(id != null, s"stream run $runId never reported its termination")
        seen = id == runId
      }
      import scala.jdk.CollectionConverters._
      reports.asScala.filter(_.runId == runId).toSeq
    }
  }

  private def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  private def heapMb(): Long = {
    // two forced GCs with a settle pause: a single System.gc() leaves
    // floating garbage (finalizable Spark blocks, weak-ref caches), which
    // made the r17 table show x10 > x100 heap INVERSIONS (457 MB -> 85 MB
    // for PassJoin) — measurement noise, not state growth
    System.gc()
    Thread.sleep(200)
    System.gc()
    Thread.sleep(200)
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) >> 20
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = (if (args.length > 1) args(1) else "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val outFile = if (args.length > 2) args(2) else "target/SCALE_SMOKE.md"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-scale-smoke")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft_scale")
    // up to 101x sf0.1 of synthetic parquet — delete it even when a
    // family throws (a finally, not a last line), and close the walk
    // stream (it holds a directory handle)
    def cleanupTmp(): Unit = {
      val walk = java.nio.file.Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    val pass = try { run(spark, sfDir, scales, outFile, cpus, tmp) }
      finally {
        cleanupTmp()
        spark.stop()
      }
    if (!pass) sys.exit(1)
  }

  /** The measured body — returns the PASS verdict. */
  private def run(spark: SparkSession, sfDir: String, scales: Seq[Int],
      outFile: String, cpus: String, tmp: java.nio.file.Path): Boolean = {
    import scala.jdk.CollectionConverters._
    val phrases = spark.createDataFrame(
      Seq("badphrase one", "forbidden combo", "xyzzy").map(
        org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("phrase",
          org.apache.spark.sql.types.StringType))))

    // family name -> (docs, emb, scale) => rows of the whole result, run
    // to a noop write (the way Bench times a query)
    def families(docs: DataFrame, emb: DataFrame, k: Int) = Seq(
      "minhash_keep_best" -> (() =>
        noop(graft.dedup.MinHashDedup.keepBest(docs, "doc_id", "text"))),
      "edit_pairs_passjoin" -> (() =>
        noop(graft.dedup.EditDedup.pairs(docs, "doc_id", "text", t = 2))),
      "ivf_search" -> (() => {
        val cent = graft.ann.Ann.trainCentroids(emb, "embedding", 64)
        val assigned = graft.ann.Ann.ivfAssign(emb, "embedding", cent)
        val queries = emb.filter(col("vec_id") < 500)
        noop(graft.ann.Ann.ivfSearch(assigned, "vec_id", "embedding",
          queries, "vec_id", "embedding", cent, k = 10, nProbe = 4))
      }),
      "blocklist_filter" -> (() =>
        noop(graft.ops.Blocklist.filterBlocked(docs, "text", phrases, "phrase"))),
      "budget_select" -> (() =>
        noop(graft.ops.BudgetSelect(docs, "n_chars", "n_chars",
          budget = 150000L * k, tieBreak = "doc_id"))),
      // r18 additions (VERDICT r17 item 6): the DP-kernel family
      // (WER + CER on a half-prefix candidate — the q288/q291 shape),
      // the quantization family (PQ encode + IVF-PQ probe search),
      // and the multi-agg datacard report
      "wer_cer_kernels" -> (() => {
        // interior noise (the q288 plant), NOT a prefix candidate: a
        // prefix hits editDistChars' common-prefix strip and the DP
        // never runs. Clamps bound the per-row DP so the smoke
        // measures ROW scaling (the 100x question), not the per-row
        // constant the bench already measures.
        val toks = split(col("text"), " ")
        val cand = docs.withColumn("_cand", concat_ws(" ",
          zip_with(toks, sequence(lit(1), greatest(size(toks), lit(1))),
            (w, i) => when(i % 3 === 0, lit("zzqx")).otherwise(w))))
        noop(graft.ops.TextSim.wer(cand, Seq("doc_id"), "_cand", "text",
          maxTokens = 200)) +
          noop(graft.ops.TextSim.cer(cand, Seq("doc_id"), "_cand", "text",
            maxChars = 400))
      }),
      "ivfpq_search" -> (() => {
        val cent = graft.ann.Ann.trainCentroids(emb, "embedding", 64)
        val assigned = graft.ann.Ann.ivfAssign(emb, "embedding", cent)
        val cb = graft.ann.ProductQuantize.trainPq(
          emb, "embedding", nSub = 8, nCodes = 16)
        val coded = graft.ann.ProductQuantize.encode(
          assigned, "embedding", cb)
        noop(graft.ann.ProductQuantize.ivfPqSearch(coded, "vec_id",
          "pq_codes", cb, cent, emb.filter(col("vec_id") < 500),
          "vec_id", "embedding", k = 10, nProbe = 4))
      }),
      "datacard" -> (() =>
        noop(graft.ops.Datacard(docs, "text", "lang"))))

    // synthesize each scale ONCE; the warm-up sweep reuses the
    // smallest scale's files rather than regenerating them
    val docPaths = scales.map(k => k -> synthDocs(spark, sfDir, k, tmp)).toMap
    val embPaths = scales.map(k => k -> synthEmb(spark, sfDir, k, tmp)).toMap

    // one unmeasured warm-up sweep at the smallest scale (JIT/codegen)
    {
      val d = spark.read.parquet(docPaths(scales.min))
      val e = spark.read.parquet(embPaths(scales.min))
      families(d, e, scales.min).foreach(_._2())
      graft.core.PersistScope.unpersistAll()
    }

    val rows = scala.collection.mutable.ArrayBuffer[
      (String, Int, Double, Long, Long)]()
    for (k <- scales) {
      val d = spark.read.parquet(docPaths(k))
      val e = spark.read.parquet(embPaths(k))
      for ((name, f) <- families(d, e, k)) {
        val (sec, n) = timed(f())
        graft.core.PersistScope.unpersistAll()
        rows += ((name, k, sec, n, heapMb()))
        println(f"$name%-22s x$k%-4d ${sec}%8.2f s  rows=$n%-9d " +
          f"heap=${rows.last._5}%d MB")
      }
    }

    // streaming state family (VERDICT r18 item 7): the interval-join
    // gate at each scale, fixed state partitions (= shuffle partitions,
    // constant across scales within this session)
    val eventPaths = scales.map(k => k -> synthEvents(spark, sfDir, k, tmp)).toMap
    val gateStats = scala.collection.mutable.ArrayBuffer[
      (Int, Double, Long, Long, Long, Long)]()
    // unmeasured warm-up at the smallest scale (codegen + state-store
    // provider bring-up)
    val _warm = streamIntervalJoinGate(spark, eventPaths(scales.min),
      tmp.resolve(s"ckpt_warm").toString)
    for (k <- scales) {
      val t0 = System.nanoTime()
      val (outRows, inRows, commitMs, stateRows) = streamIntervalJoinGate(
        spark, eventPaths(k), tmp.resolve(s"ckpt_x$k").toString)
      val sec = (System.nanoTime() - t0) / 1e9
      rows += (("stream_interval_join", k, sec, outRows, heapMb()))
      gateStats += ((k, sec, inRows, outRows, commitMs, stateRows))
      println(f"stream_interval_join   x$k%-4d ${sec}%8.2f s  rows=$outRows%-9d " +
        f"in=$inRows commitMs=$commitMs state=$stateRows heap=${rows.last._5}%d MB")
    }

    val sb = new StringBuilder
    sb.append("# SCALE_SMOKE — measured runtime growth, ")
      .append(s"sf0.1 base × ${scales.mkString("/")}\n\n")
    sb.append("Synthetic scale-up of the sf0.1 tables (token-suffixed ")
      .append("copies — no manufactured\ncross-copy near-dups; see ")
      .append("`graft.ScaleSmoke` scaladoc). local[")
      .append(cpus).append("], one warm-up sweep; each family is timed to a ")
      .append("noop write of its\nwhole result.\n\n")
    sb.append("| family | scale | seconds | output rows | driver heap MB |")
      .append(" growth vs 1x |\n|---|---|---|---|---|---|\n")
    val base = rows.filter(_._2 == scales.min).map(r => r._1 -> r._3).toMap
    var worst = 0.0
    for ((name, k, sec, n, mem) <- rows) {
      val g = sec / math.max(base(name), 1e-9)
      val rel = g / (k.toDouble / scales.min)
      if (k != scales.min) worst = math.max(worst, rel)
      sb.append(f"| $name | x$k | $sec%.2f | $n | $mem | $g%.1fx |\n")
    }
    sb.append("\n## Streaming interval-join gate (fixed state partitions = ")
      .append(cpus).append(")\n\n")
    sb.append("| scale | wall s | input rows | rows/s | output rows |")
      .append(" state commit ms (summed) | state rows |\n")
      .append("|---|---|---|---|---|---|---|\n")
    for ((k, sec, inRows, outRows, commitMs, stateRows) <- gateStats)
      sb.append(f"| x$k | $sec%.2f | $inRows | ${inRows / math.max(sec, 1e-9)}%.0f " +
        f"| $outRows | $commitMs | $stateRows |\n")

    val maxScale = scales.max
    val memBase = rows.filter(_._2 == scales.min).map(_._5).max
    val memMax = rows.filter(_._2 == maxScale).map(_._5).max
    sb.append(f"\nWorst time-growth / data-growth ratio: $worst%.2f ")
      .append("(1.0 = perfectly linear; < 1 = sublinear, fixed costs ")
      .append("amortizing).\n")
    sb.append(f"Driver heap: $memBase MB at x${scales.min} -> $memMax MB ")
      .append(f"at x$maxScale (flat heap = no O(rows) driver state).\n")
    val pass = worst <= 3.0 && memMax <= math.max(4L * memBase, memBase + 512L)
    sb.append(s"\nVerdict: ${if (pass) "PASS" else "FAIL"} — time growth " +
      "within 3x of data growth and driver heap flat.\n")
    val out = java.nio.file.Paths.get(outFile).toAbsolutePath
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    pass
  }
}

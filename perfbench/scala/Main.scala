package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry
import graft.api.{Conf, Pipeline}
import graft.core.GraftSession
import graft.llm.{LlmCache, MockLlmClient, TokenTally}

/** One op of a pass: an optional YAML config (parsed inside the op, as a
  * user's run would) and the call that builds the result DataFrame. */
final case class OpSpec(key: String, yaml: Option[String], build: (SparkSession, Option[Conf]) => DataFrame)

/** A workload: the ops of one pass over the generated inputs in `dir`.
  * The set-up runs `Main.WarmUpPasses` passes as its warm-up. */
trait Workload {
  def digestKind: String
  def pass(dir: String): Seq[OpSpec]
  def beforePass(): Unit = ()
}

/** One pass is one run of the map → filter → reduce pipeline, with the
  * response cache cleared first, so each pass pays every call. */
final class SemanticCold(client: SimProvider) extends Workload {
  val digestKind = "md5"
  val edit = "cold"

  def yaml(dir: String): String =
    s"""datasets:
       |  docs: { path: "$dir/documents.parquet" }
       |operations:
       |  - name: sentiment
       |    type: map
       |    prompt: "Label the sentiment of this note: {{ input.text }}"
       |    output: { schema: { sentiment: str } }
       |  - name: on_topic
       |    type: filter
       |    prompt: "Does this note discuss query engines? {{ input.text }}"
       |    output: { schema: { on_topic: bool } }
       |  - name: digest
       |    type: reduce
       |    reduce_key: [lang, source]
       |    member_expr: "concat('$edit ', sentiment, ': ', text)"
       |    order_key: doc_id
       |    output: { schema: { summary: str } }
       |pipeline:
       |  steps:
       |    - { name: notes, input: docs, operations: [sentiment, on_topic, digest] }
       |""".stripMargin

  def pass(dir: String) =
    Seq(OpSpec(s"pipeline-$edit", Some(yaml(dir)), (spark, conf) => Pipeline.run(conf.get, spark, client)))
  override def beforePass(): Unit = LlmCache.clear()
}

/** Non-LLM document-curation queries of the operator suite. */
final class Curation(queries: Seq[String]) extends Workload {
  val digestKind = "xxhash"
  def pass(dir: String) =
    queries.map(q => OpSpec(q, None, (spark, _) => SparkEntry.queries(q)(spark, dir)))
}

object Main {
  /** Curation queries, one per kernel family, chosen so that the set-up
    * and the timed passes fit one run: a text metric (chrF), quality rules,
    * repetition statistics, MinHash and SimHash dedup, IVF-PQ search. */
  val CurationQueries = Seq(
    "q283_chrf", "q111_quality_rules", "q75_repetition_stats",
    "q24_dedup_minhash", "q26_dedup_simhash", "q123_ann_ivfpq")

  /** Passes of the set-up. After the cold pass, pass times kept falling
    * for about three more passes as the JIT compiled the hot code: on
    * curation_docs 6.4, 6.1, 5.5 s, then 4.7–5.6 s. */
  val WarmUpPasses = 4

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val dir = arg(args, "dir")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val cores = arg(args, "cores").toInt
    val client = SimProvider(MockLlmClient(), arg(args, "rt-us").toLong, arg(args, "item-us").toLong)
    val wl: Workload = workload match {
      case "semantic_cold" => new SemanticCold(client)
      case "curation_docs" => new Curation(CurationQueries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val run = new Runner(wl, cores, work)

    // Set-up, from JVM start: build the session and run the warm-up
    // passes. The first writes its outputs as the checked references.
    run.open()
    (1 to WarmUpPasses).foreach { k =>
      wl.beforePass()
      run.pass(wl.pass(dir), -k, traced = false, ref = if (k == 1) Some("setup") else None)
    }
    val setupS = (Clock.ms - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val planControl = run.planControl()

    // Timed passes, closed loop, one client. A traced run alternates
    // untraced and traced passes so both are measured under equal warmth.
    // A full collection precedes every pass and is not timed; the live
    // heap it leaves after each pass is the heap metric.
    Jvm.liveHeapMb()
    var heapMb = 0.0
    var measured = 0.0
    var p = 0
    while (p < 2 || measured < seconds) {
      wl.beforePass()
      measured += run.pass(wl.pass(dir), p, traced = traced && p % 2 == 1, ref = None)
      heapMb = math.max(heapMb, Jvm.liveHeapMb())
      p += 1
    }
    run.finishChecks()

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => CurationQueries.contains(k) }
    val record = Map(
      "workload" -> workload,
      "stamp" -> (Jvm.stamp ++ Map(
        "spark" -> run.spark.version,
        "master" -> run.spark.sparkContext.master,
        "shuffle_partitions" -> run.spark.conf.get("spark.sql.shuffle.partitions"),
        "materialize" -> "noop",
        "digest" -> wl.digestKind)),
      "setup_s" -> setupS,
      "plan_control" -> planControl,
      "measured_s" -> measured,
      "heap_live_peak_mb" -> heapMb,
      "passes" -> run.passes,
      "ops" -> run.ops,
      "refs" -> run.refs,
      "oracle" -> oracle,
      "spans" -> Spans.all.asScala.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
          "start" -> s.start, "end" -> s.end)))
    Files.write(Paths.get(work, "record.json"), Json(record).getBytes(StandardCharsets.UTF_8))
    run.close()
  }
}

/** Runs passes of ops, one at a time, and records what each cost. Spark's
  * scratch space and the checked outputs live under `work`. */
final class Runner(wl: Workload, cores: Int, work: String) {
  private val refDir = s"$work/refs"
  var spark: SparkSession = _
  private val layers = new LayerListener
  private val plans = new PlanListener
  private var opIds = 0
  val passes = mutable.ArrayBuffer[Map[String, Any]]()
  val ops = mutable.ArrayBuffer[collection.Map[String, Any]]()
  val refs = mutable.ArrayBuffer[Map[String, Any]]()
  private val pendingChecks = mutable.ArrayBuffer[(String, mutable.Map[String, Any])]()

  def open(): Unit = {
    spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    graft.functions.CosineSimilarity.register(spark)
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(plans)
  }

  def close(): Unit = if (spark != null) {
    BenchBus.drain(spark.sparkContext)
    spark.stop()
    spark = null
  }

  /** Order-independent digest of a result: row count plus a sum of row
    * hashes. `md5` hashes the columns, sorted by name and cast to string,
    * so DuckDB can recompute it; `xxhash` covers any column type. */
  private def digest(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name)
    wl.digestKind match {
      case "md5" =>
        val row = concat_ws("|", cols.map(f => col(s"`${f.name}`").cast("string")).toSeq: _*)
        sum(conv(substring(md5(row), 1, 12), 16, 10).cast("bigint"))
      case _ =>
        val hashed = cols.map { f =>
          val c = col(s"`${f.name}`")
          if (hasMap(f.dataType)) to_json(struct(c)) else c
        }
        sum(pmod(xxhash64(hashed.toSeq: _*), lit(2147483647L)))
    }
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Runs one pass and returns its wall time in seconds. */
  def pass(specs: Seq[OpSpec], passNo: Int, traced: Boolean, ref: Option[String]): Double = {
    val passId = s"pass$passNo"
    Spans.on = traced
    val t0 = Clock.ms
    specs.foreach(s => runOp(s, passNo, passId, traced, ref))
    val t1 = Clock.ms
    Spans.add(Span(passId, "", "pass", "", t0, t1))
    Spans.on = false
    if (passNo >= 0) passes += Map("pass" -> passNo, "traced" -> traced, "wall_s" -> (t1 - t0) / 1000.0)
    (t1 - t0) / 1000.0
  }

  private def runOp(spec: OpSpec, passNo: Int, passId: String, traced: Boolean, ref: Option[String]): Unit = {
    opIds += 1
    val op = s"op$opIds"
    val sc = spark.sparkContext
    def span[A](name: String)(f: => A): A = {
      val a = Clock.ms
      try f finally Spans.add(Span(s"$op/$name", op, name, op, a, Clock.ms))
    }
    val rec = mutable.LinkedHashMap[String, Any]("op" -> op, "pass" -> passNo, "key" -> spec.key,
      "traced" -> traced)
    val llm0 = SimProvider.counts
    SimProvider.maxInflight.set(0)
    val hits0 = LlmCache.hits
    val cost0 = TokenTally.summary.values.map(_.cost).sum
    val (gc0, jit0, cg0, cls0) = (Jvm.gcMs, Jvm.jitMs, Jvm.codegenNs, Jvm.codegenClasses)
    val t0 = Clock.ms
    try {
      val conf = spec.yaml.map(y => span("api.parse")(Conf.fromYaml(y)))
      val p1 = Clock.ms
      if (traced) sc.setLocalProperty("perfbench.tag", s"$op/build")
      val df = span("api.build")(spec.build(spark, conf))
      val p2 = Clock.ms
      if (traced) sc.setLocalProperty("perfbench.tag", s"$op/exec")
      val obs = Observation(s"perfbench-$op")
      val observed = df.observe(obs, count(lit(1)).as("rows"), digest(df).as("digest"))
      plans.expect(obs.name, df.schema)
      val a0 = Clock.ms
      ref match {
        case Some(r) => observed.write.mode("overwrite").parquet(s"$refDir/$r/${spec.key}")
        case None => observed.write.format("noop").mode("overwrite").save()
      }
      val a1 = Clock.ms
      val m = obs.get
      rec ++= Map("ok" -> true, "latency_s" -> (a1 - t0) / 1000.0,
        "parse_s" -> (p1 - t0) / 1000.0, "build_s" -> (p2 - p1) / 1000.0,
        "action_s" -> (a1 - a0) / 1000.0,
        "rows" -> m("rows"), "digest" -> Option(m("digest")).map(_.toString).getOrElse("0"))
      if (traced) {
        BenchBus.drain(sc)
        rec ++= layerRecord(op, a0, a1, plans.result(obs.name))
      }
      pendingChecks += ((obs.name, rec))
      ref.foreach(r => refs += Map("setup" -> r, "key" -> spec.key,
        "path" -> s"$refDir/$r/${spec.key}", "rows" -> m("rows"), "digest" -> rec("digest")))
    } catch {
      case e: Throwable =>
        rec ++= Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
    } finally {
      sc.setLocalProperty("perfbench.tag", null)
      Spans.add(Span(op, passId, "op", op, t0, Clock.ms))
    }
    val llm1 = SimProvider.counts
    rec ++= Map(
      "llm_round_trips" -> (llm1._1 - llm0._1), "llm_items" -> (llm1._2 - llm0._2),
      "llm_wait_s" -> (llm1._3 - llm0._3) / 1e9, "llm_tokens_in" -> (llm1._4 - llm0._4),
      "llm_tokens_out" -> (llm1._5 - llm0._5), "llm_max_inflight" -> SimProvider.maxInflight.get,
      "llm_cost_usd" -> (TokenTally.summary.values.map(_.cost).sum - cost0),
      "cache_hits" -> (LlmCache.hits - hits0), "cache_entries" -> CacheSize(),
      "jvm_gc_s" -> (Jvm.gcMs - gc0) / 1000.0, "jvm_jit_s" -> (Jvm.jitMs - jit0) / 1000.0,
      "codegen_compile_s" -> (Jvm.codegenNs - cg0) / 1e9,
      "codegen_classes" -> (Jvm.codegenClasses - cls0))
    ops += rec
    System.err.println(f"[perfbench] pass $passNo%d ${spec.key}%s ${(Clock.ms - t0) / 1000.0}%.3fs ok=${rec("ok")}")
  }

  /** Spark layer counters of one traced op, and its plan and exec spans. */
  private def layerRecord(op: String, a0: Double, a1: Double,
      plan: Option[PlanListener#Seen]): Map[String, Any] = {
    val b = layers.acc(s"$op/build")
    val x = layers.acc(s"$op/exec")
    val phases = plan.map(_.phases).getOrElse(Map.empty)
    def phaseS(k: String) = phases.get(k).map { case (s, e) => (e - s) / 1000.0 }.getOrElse(0.0)
    val planEnd = if (phases.isEmpty) a0 else math.min(a1, math.max(a0, phases.values.map(_._2).max.toDouble))
    Spans.add(Span(s"$op/plan", op, "plan", op, a0, planEnd))
    Spans.add(Span(s"$op/exec", op, "exec", op, planEnd, a1))
    val (slowWall, skew) = x.synchronized(x.slowestStage)
    x.synchronized(Map(
      "build_jobs" -> b.jobs,
      "plan_analysis_s" -> phaseS("analysis"), "plan_optimization_s" -> phaseS("optimization"),
      "plan_planning_s" -> phaseS("planning"), "plan_s" -> (planEnd - a0) / 1000.0,
      "exec_s" -> (a1 - planEnd) / 1000.0,
      "exec_jobs" -> x.jobs, "exec_stages" -> x.stages, "exec_tasks" -> x.tasks,
      "exec_failed_tasks" -> x.failedTasks, "exec_task_busy_s" -> x.busyMs / 1000.0,
      "exec_task_cpu_s" -> x.cpuNs / 1e9, "exec_gc_s" -> x.gcMs / 1000.0,
      "exec_spill_bytes" -> x.spill, "exec_slowest_stage_s" -> slowWall / 1000.0,
      "exec_skew" -> skew, "scan_bytes" -> x.inBytes, "scan_rows" -> x.inRecords,
      "scan_partitions" -> x.scanTasks, "shuffle_write_bytes" -> x.shuffleWrite,
      "shuffle_read_bytes" -> x.shuffleRead, "shuffle_fetch_wait_s" -> x.fetchWaitMs / 1000.0))
  }

  private def planLabel(obsName: String): String = plans.result(obsName) match {
    case Some(s) if s.outputOk => "ok"
    case Some(_) => "pruned"
    case None => "unseen"
  }

  /** Negative control of the plan check: an action that counts an
    * observed DataFrame instead of writing it must come out "pruned". */
  def planControl(): String = {
    val df = spark.range(100).selectExpr("id", "id * 2 AS twice")
    val obs = Observation("perfbench-control")
    plans.expect(obs.name, df.schema)
    df.observe(obs, count(lit(1)).as("rows")).count()
    BenchBus.drain(spark.sparkContext)
    planLabel(obs.name)
  }

  /** After the timed passes: every op's write must have been seen by the
    * plan check with the query's full output. */
  def finishChecks(): Unit = {
    BenchBus.drain(spark.sparkContext)
    pendingChecks.foreach { case (name, rec) => rec("plan_check") = planLabel(name) }
    pendingChecks.clear()
  }
}

/** Entries in the response cache. LlmCache exposes no size, so this reads
  * its backing map reflectively; -1 when that map cannot be found. */
object CacheSize {
  private lazy val field = graft.llm.LlmCache.getClass.getDeclaredFields
    .find(f => classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
  def apply(): Long = field.map { f =>
    f.setAccessible(true)
    f.get(graft.llm.LlmCache).asInstanceOf[java.util.Map[_, _]].size.toLong
  }.getOrElse(-1L)
}

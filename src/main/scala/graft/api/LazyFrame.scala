package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.llm.{LlmClient, MockLlmClient}

/** Lazy, config-building fluent API — the analog of the reference's `Frame`
  * (reference docetl/apis/frame.py:169,337-851 `_append_op` + fluent ops;
  * two-frame merging at frame.py:239-335 `_merge_pipeline`; round-trips at
  * frame.py:1183-1386 `from_yaml`/`to_yaml`).
  *
  * Unlike [[Frame]] (which wraps an eager `DataFrame` and runs each op's
  * Registry handler immediately — still lazy in the Spark sense, but bound
  * to a session), `LazyFrame` accumulates *op configs*: nothing touches
  * Spark until [[run]], and the whole pipeline serializes to YAML that
  * [[Pipeline.runYaml]] executes identically. That gives the reference's
  * three-surface contract: YAML, fluent builder, and DataFrame-wrapper all
  * lower to the same config and the same execution path. The op facades
  * themselves are [[OpFacades]], shared with [[Frame]].
  *
  * Structure: `priorOps`+`steps` hold already-closed steps (each step
  * references its ops by name); `head`+`stepName`+`ops` are the open step
  * being built. Binary facades (`decontaminate`, `novelty`, ...) and
  * combinators ([[equijoin]], [[union]], [[intersect]], [[except_]]) close
  * both sides and merge their pipelines, renaming the right side's
  * steps/ops/datasets on collision (≅ frame.py `ref()` suffixing).
  *
  * Op auto-naming is `{type}_{index}` with a pipeline-global index
  * (≅ frame.py auto-naming).
  */
final case class LazyFrame(
    datasets: Vector[(String, String)],
    priorOps: Vector[java.util.LinkedHashMap[String, Any]],
    steps: Vector[java.util.LinkedHashMap[String, Any]],
    head: Vector[(String, Any)],
    stepName: String,
    ops: Vector[java.util.LinkedHashMap[String, Any]])
    extends OpFacades[LazyFrame] {

  import LazyFrame.copyMap
  import OpFacades.{jlist, jmap}

  /** Primary (first) dataset name — kept for single-source convenience. */
  def datasetName: String = datasets.head._1
  def datasetPath: String = datasets.head._2

  protected def append(tpe: String, fields: (String, Any)*): LazyFrame =
    appendNamed(s"${tpe}_${priorOps.length + ops.length}", tpe, fields: _*)

  /** Both open steps close and merge (see [[merged]]); the op heads a new
    * step over this side's output, its frame-valued field replaced by the
    * other side's final step name. */
  protected def appendWith(step: String, tpe: String,
      fields: (String, Any)*): LazyFrame = {
    val right = fields.collect { case (_, r: LazyFrame) => r }
    require(right.size == 1, s"$tpe: expected one frame-valued field")
    val (m, lRef, rRef) = merged(right.head)
    m.copy(head = Vector("input" -> lRef),
      stepName = s"${step}_${m.steps.length}")
      .append(tpe, fields.map {
        case (k, _: LazyFrame) => k -> rRef
        case kv => kv
      }: _*)
  }

  private def appendNamed(name: String, tpe: String, fields: (String, Any)*): LazyFrame = {
    val m = jmap("name" -> name, "type" -> tpe)
    fields.foreach { case (k, v) => m.put(k, v) }
    copy(ops = ops :+ m)
  }

  /** Set (or override) one YAML field on the LAST appended op — reach
    * a knob the fluent facade omits without abandoning the facade:
    * `lf.bitextMine(...).withOption("seed", 7)`. Structure keys
    * (`name`/`type`) stay immutable. */
  def withOption(key: String, value: Any): LazyFrame = {
    require(ops.nonEmpty, "withOption needs a preceding op in the open step")
    require(key != "name" && key != "type",
      s"withOption cannot override structural key '$key'")
    val m = copyMap(ops.last)
    m.put(key, value)
    copy(ops = ops.init :+ m)
  }

  /** Close the open step and start a new one headed by `nextHead`. */
  private def close(nextName: String, nextHead: (String, Any)*): LazyFrame = {
    val stepMap = jmap("name" -> stepName)
    head.foreach { case (k, v) => stepMap.put(k, v) }
    stepMap.put("operations", jlist(ops.map(_.get("name"))))
    copy(priorOps = priorOps ++ ops, steps = steps :+ stepMap,
      head = nextHead.toVector, stepName = nextName, ops = Vector.empty)
  }

  /** Merge `right`'s pipeline into this one (≅ frame.py:239-335
    * `_merge_pipeline`): both open steps close; the right side's dataset /
    * step / op names get a `__r` suffix wherever they'd collide (identical
    * name→path datasets dedupe instead). Returns the merged state plus the
    * two step refs the caller's new head should point at. */
  private def merged(right: LazyFrame): (LazyFrame, String, String) = {
    val l = this.close(s"${stepName}_next")
    val r = right.close(s"${right.stepName}_next")

    val usedNames = scala.collection.mutable.Set[String](
      l.datasets.map(_._1) ++ l.steps.map(_.get("name").toString) ++
        l.priorOps.map(_.get("name").toString): _*)
    def fresh(n: String): String = {
      var c = n
      while (usedNames.contains(c)) c = c + "__r"
      usedNames += c
      c
    }

    // Dataset renames: same (name, path) merges; same name, different path
    // gets a fresh name on the right.
    val lDs = l.datasets.toMap
    val dsRename = scala.collection.mutable.Map[String, String]()
    val newDs = r.datasets.flatMap { case (n, p) =>
      lDs.get(n) match {
        case Some(lp) if lp == p => dsRename(n) = n; None
        case _ => val nn = fresh(n); dsRename(n) = nn; Some(nn -> p)
      }
    }
    val stepRename = scala.collection.mutable.Map[String, String]()
    val opRename = scala.collection.mutable.Map[String, String]()
    r.steps.foreach(s => stepRename(s.get("name").toString) = fresh(s.get("name").toString))
    r.priorOps.foreach(o => opRename(o.get("name").toString) = fresh(o.get("name").toString))
    def ref(n: String): String =
      stepRename.getOrElse(n, dsRename.getOrElse(n, n))

    val newOps = r.priorOps.map { o =>
      val m = copyMap(o); m.put("name", opRename(o.get("name").toString)); m
    }
    val newSteps = r.steps.map { s =>
      val m = copyMap(s)
      m.put("name", stepRename(s.get("name").toString))
      if (m.containsKey("input")) m.put("input", ref(m.get("input").toString))
      Seq("union", "intersect", "except").foreach { k =>
        if (m.containsKey(k)) {
          val refs = m.get(k).asInstanceOf[java.util.List[Any]]
          m.put(k, jlist(scala.jdk.CollectionConverters.ListHasAsScala(refs)
            .asScala.toSeq.map(x => ref(x.toString))))
        }
      }
      if (m.containsKey("join")) {
        val j = copyMap(m.get("join").asInstanceOf[java.util.LinkedHashMap[String, Any]])
        j.put("left", ref(j.get("left").toString))
        j.put("right", ref(j.get("right").toString))
        m.put("join", j)
      }
      if (m.containsKey("operations")) {
        val names = m.get("operations").asInstanceOf[java.util.List[Any]]
        m.put("operations", jlist(scala.jdk.CollectionConverters.ListHasAsScala(names)
          .asScala.toSeq.map(x => opRename.getOrElse(x.toString, x.toString))))
      }
      m
    }
    val lastLeft = l.steps.last.get("name").toString
    val lastRight = stepRename(r.steps.last.get("name").toString)
    val m = l.copy(datasets = l.datasets ++ newDs,
      priorOps = l.priorOps ++ newOps, steps = l.steps ++ newSteps)
    (m, lastLeft, lastRight)
  }

  /** LLM-verified fuzzy join against another frame (join-headed step). */
  def equijoin(right: LazyFrame, condition: String,
      llmVerify: Boolean = false,
      compareLeft: String = "", compareRight: String = "",
      limitLeft: Option[Int] = None, limitRight: Option[Int] = None,
      leftIdKey: String = "", rightIdKey: String = "",
      limitComparisons: Option[Int] = None): LazyFrame = {
    val (m, lRef, rRef) = merged(right)
    val j = jmap("left" -> lRef, "right" -> rRef, "condition" -> condition)
    if (llmVerify) {
      j.put("llm_verify", true)
      j.put("compare_left", compareLeft); j.put("compare_right", compareRight)
      j.put("left_id", leftIdKey); j.put("right_id", rightIdKey)
    }
    limitLeft.foreach(j.put("limit_left", _))
    limitRight.foreach(j.put("limit_right", _))
    limitComparisons.foreach(j.put("limit_comparisons", _))
    m.copy(head = Vector("join" -> j),
      stepName = s"equijoin_${m.steps.length}")
  }

  /** SQL UNION (distinct = true, the SQL default) / UNION ALL. */
  def union(right: LazyFrame, distinct: Boolean = true): LazyFrame =
    setOp(right, "union", "distinct" -> distinct)
  /** SQL INTERSECT / INTERSECT ALL. */
  def intersect(right: LazyFrame, all: Boolean = false): LazyFrame =
    setOp(right, "intersect", "all" -> all)
  /** SQL EXCEPT / EXCEPT ALL (named `except_` — `except` is a keyword). */
  def except_(right: LazyFrame, all: Boolean = false): LazyFrame =
    setOp(right, "except", "all" -> all)

  private def setOp(right: LazyFrame, kind: String, flag: (String, Boolean)): LazyFrame = {
    val (m, lRef, rRef) = merged(right)
    m.copy(head = Vector(kind -> jlist(Seq(lRef, rRef)), flag),
      stepName = s"${kind}_${m.steps.length}")
  }

  // ---- lower / run / actions ----

  /** The full pipeline config: merged datasets, every closed step plus the
    * open one, ops referenced by (pipeline-globally unique) name. */
  def toConf: Conf = {
    val dsm = jmap(datasets.map { case (n, p) => n -> (jmap("path" -> p): Any) }: _*)
    val openStep = jmap("name" -> stepName)
    head.foreach { case (k, v) => openStep.put(k, v) }
    openStep.put("operations", jlist(ops.map(_.get("name"))))
    val root = jmap(
      "datasets" -> dsm,
      "operations" -> jlist(priorOps ++ ops),
      "pipeline" -> jmap("steps" -> jlist(steps :+ openStep)))
    Conf(root)
  }

  /** YAML serialization; `Conf.fromYaml(toYaml)` runs identically
    * (round-trip ≅ reference frame.py:1183-1386). */
  def toYaml: String = {
    val opts = new org.yaml.snakeyaml.DumperOptions()
    opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
    new org.yaml.snakeyaml.Yaml(opts).dump(toConf.value)
  }

  def run(spark: SparkSession, client: LlmClient = MockLlmClient()): DataFrame =
    Pipeline.run(toConf, spark, client)

  /** Propagated output schemas per step without writing output. */
  def describe(spark: SparkSession, client: LlmClient = MockLlmClient()): Seq[(String, org.apache.spark.sql.types.StructType)] =
    Pipeline.describe(toConf, spark, client)

  /** Pre-flight cost estimate on a bounded sample per dataset — see
    * [[Estimate]]. Never touches sinks or checkpoints. */
  def estimate(spark: SparkSession, client: LlmClient = MockLlmClient(),
      sampleRows: Int = 200): Estimate.Report =
    Estimate(toConf, spark, client, sampleRows)

  // Actions (≅ frame.py:940-1119 show/count/collect/to_pandas/write_*) —
  // each triggers one pipeline execution; Spark's own laziness means the
  // plan only materializes what the action needs (count prunes columns,
  // show limits rows).
  def count(spark: SparkSession, client: LlmClient = MockLlmClient()): Long =
    run(spark, client).count()
  def collect(spark: SparkSession, client: LlmClient = MockLlmClient()): Seq[Row] =
    run(spark, client).collect().toSeq
  def show(spark: SparkSession, max: Int = 5, client: LlmClient = MockLlmClient()): Unit =
    run(spark, client).show(max, truncate = false)
  def writeParquet(path: String, spark: SparkSession,
      client: LlmClient = MockLlmClient()): Unit =
    Pipeline.write(run(spark, client), path)
  def writeJson(path: String, spark: SparkSession,
      client: LlmClient = MockLlmClient()): Unit =
    Pipeline.write(run(spark, client), path)
  def writeCsv(path: String, spark: SparkSession,
      client: LlmClient = MockLlmClient()): Unit =
    Pipeline.write(run(spark, client), path)
}

object LazyFrame {

  def read(datasetName: String, path: String): LazyFrame =
    LazyFrame(Vector(datasetName -> path), Vector.empty, Vector.empty,
      Vector("input" -> datasetName), s"${datasetName}_out", Vector.empty)

  /** Rebuild a LazyFrame from YAML emitted by [[LazyFrame.toYaml]] — any
    * number of datasets/steps; the last step reopens as the frame's open
    * step. Ops must be declared in the top-level `operations` block (the
    * shape `toYaml` emits). */
  def fromYaml(yaml: String): LazyFrame = {
    val conf = Conf.fromYaml(yaml)
    val ds = conf("datasets").asOrderedMap.map { case (n, d) => n -> d("path").str }
    val allOps = conf.get("operations").map(_.asList).getOrElse(Nil)
      .map(o => rawMap(o)).toVector
    val opsByName = allOps.map(o => o.get("name").toString -> o).toMap
    val stepConfs = conf("pipeline")("steps").asList.toVector
    val (closed, open) = (stepConfs.init, stepConfs.last)
    val openOpNames = open.get("operations").map(_.asList.map(_.str)).getOrElse(Nil)
    val openOps = openOpNames.map(opsByName).toVector
    val headFields = open.asOrderedMap.collect {
      case (k, v) if k != "name" && k != "operations" => k -> v.value
    }.toVector
    LazyFrame(ds.toVector, allOps.filterNot(openOps.contains),
      closed.map(rawMap), headFields, open("name").str, openOps)
  }

  private def rawMap(c: Conf): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    c.asOrderedMap.foreach { case (k, v) => m.put(k, v.value) }
    m
  }

  private[api] def copyMap(src: java.util.LinkedHashMap[String, Any]): java.util.LinkedHashMap[String, Any] =
    new java.util.LinkedHashMap[String, Any](src)
}

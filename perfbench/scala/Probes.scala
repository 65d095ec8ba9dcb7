package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds at nanoTime resolution: the time base of Spark's
  * listener events, so benchmark, provider and Spark spans line up. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` names the span that caused it; spans of
  * one op share `op`. */
final case class Span(id: String, parent: String, name: String, op: String,
    start: Double, end: Double)

/** In-memory span store, written out when the run ends. Recording is on
  * only during traced passes. */
object Spans {
  @volatile var on = false
  val all = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (on) all.add(s)
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(v, sb); sb.toString }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(f.toDouble, sb)
    case n: Number => sb.append(n.toString)
    case m: collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(x, sb) }
      sb.append(']')
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** Spark work attributed to one tag (`op<id>/build` or `op<id>/exec`). */
final class PhaseAcc {
  var jobs, stages, tasks, failedTasks = 0L
  var busyMs, cpuNs, gcMs, spill = 0L
  var inBytes, inRecords, scanTasks = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val stageWallMs = mutable.Map[Int, Long]()

  /** (wall ms, max task ÷ median task) of the stage with the longest wall. */
  def slowestStage: (Long, Double) =
    if (stageWallMs.isEmpty) (0L, 0.0)
    else {
      val (sid, wall) = stageWallMs.maxBy(_._2)
      val ds = taskMs.getOrElse(sid, mutable.ArrayBuffer.empty[Long]).sorted
      val skew =
        if (ds.isEmpty) 0.0
        else {
          val mid = ds.length / 2
          val med = if (ds.length % 2 == 1) ds(mid).toDouble else (ds(mid - 1) + ds(mid)) / 2.0
          ds.last / math.max(med, 1.0)
        }
      (wall, skew)
    }
}

/** Attributes jobs, stages and tasks to the tag in the `perfbench.tag`
  * local property, and records job and stage spans. Untagged work (every
  * untraced pass) is ignored. */
final class LayerListener extends SparkListener {
  val TagKey = "perfbench.tag"
  private val accs = new ConcurrentHashMap[String, PhaseAcc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  def acc(tag: String): PhaseAcc = accs.computeIfAbsent(tag, _ => new PhaseAcc)
  private def opOf(tag: String) = tag.takeWhile(_ != '/')
  private def parentOf(tag: String) =
    if (tag.endsWith("/build")) s"${opOf(tag)}/api.build" else s"${opOf(tag)}/exec"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).orNull
    if (tag != null) {
      jobStart.put(e.jobId, (tag, e.time))
      e.stageInfos.foreach { s => stageTag.putIfAbsent(s.stageId, tag); stageJob.putIfAbsent(s.stageId, e.jobId) }
      val a = acc(tag)
      a.synchronized { a.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (tag, t0) =>
      Spans.add(Span(s"job${e.jobId}", parentOf(tag), "job", opOf(tag), t0.toDouble, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(stageTag.get(s.stageId)).foreach { tag =>
      val a = acc(tag)
      val t0 = s.submissionTime.getOrElse(0L)
      val t1 = s.completionTime.getOrElse(t0)
      a.synchronized { a.stages += 1; a.stageWallMs(s.stageId) = t1 - t0 }
      Spans.add(Span(s"stage${s.stageId}", s"job${stageJob.get(s.stageId)}", "stage", opOf(tag),
        t0.toDouble, t1.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val a = acc(tag)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        a.busyMs += e.taskInfo.duration
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          if (m.inputMetrics.bytesRead > 0) a.scanTasks += 1
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
      }
    }
}

/** Planning phases of each timed action, and the self-check that the
  * action wrote the whole result. An action over the op's observed
  * DataFrame (found by its observation name) passes only when it is a
  * write (the noop write of a timed op, the parquet write of a checked
  * reference) whose input has the DataFrame's output. Any other action
  * over it, such as a count that Catalyst may prune, fails the check. */
final class PlanListener extends QueryExecutionListener {
  final case class Seen(outputOk: Boolean, phases: Map[String, (Long, Long)])
  private val expected = new ConcurrentHashMap[String, StructType]()
  private val seen = new ConcurrentHashMap[String, Seen]()

  def expect(obsName: String, schema: StructType): Unit = expected.put(obsName, schema)
  def result(obsName: String): Option[Seen] = Option(seen.get(obsName))

  private def fields(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.analyzed.collectFirst { case c: CollectMetrics if expected.containsKey(c.name) => c.name }
      .foreach { name =>
        val written = qe.analyzed.collectFirst {
          case w: V2WriteCommand => w.query
          case w: DataWritingCommand => w.query
        }
        val ok = written.exists { q =>
          fields(q.schema) == fields(expected.get(name)) &&
            q.collectFirst { case c: CollectMetrics if c.name == name => c }.isDefined
        }
        val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
        seen.merge(name, Seen(ok, phases), (a, b) => Seen(a.outputOk && b.outputOk, b.phases))
      }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** JVM-wide counters: GC and JIT time, Spark codegen, and the live heap. */
object Jvm {
  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenNs: Long = CodeGenerator.compileTime
  def codegenClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Old-generation occupancy right after a full collection, in MiB: the
    * live heap at a pass boundary. Collecting between passes also keeps
    * one pass's garbage out of the next pass's time. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  def stamp: Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "jvm_args" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).mkString(" "))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Materialize, PersistScope}

/** Benchmark main: runs every SparkEntry query against `SPARK_GRAFT_SF_DIR`
  * and prints ONE JSON line of per-query seconds.
  *
  * Each query is timed to its whole result: a noop write of every row
  * ([[graft.core.Materialize.noop]]), the same materialization perfbench
  * uses, so no query is timed as a pruned row count.
  *
  * Measures steady-state throughput, JMH-style: one unmeasured warm-up
  * sweep of the full suite first (compiling every whole-stage-codegen class
  * and heating the JIT on real loop trip counts), then `SPARK_GRAFT_ITERS`
  * (default 3) timed sweeps; each query reports its MIN across sweeps plus
  * a max-min `~spread` field.
  *
  * Tail-readability: the line ends with the per-query minima (`"queries"`)
  * and a `"total_s"` scalar, and the spread dict namespaces its keys
  * (`"q71~spread"`), so a truncated stdout tail never shows a spread under
  * a bare query name. The full line is also written to `target/bench.json`.
  *
  * A query that throws is a failure, not a timing: it is left out of the
  * per-query minima and `total_s`, stamped in `"failed"`, and the run
  * exits non-zero.
  */
object Bench {

  /** `iters` timed full-suite sweeps: (query, min seconds, max-min spread)
    * per query that succeeded in every sweep, and the queries that threw in
    * any sweep. */
  private[graft] def timedSweeps(spark: SparkSession, sfDir: String,
      suite: Seq[(String, (SparkSession, String) => DataFrame)],
      iters: Int): (Seq[(String, Double, Double)], Seq[String]) = {
    val times = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    (1 to iters).foreach { _ =>
      suite.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { Materialize.noop(fn(spark, sfDir)); true } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] bench: $name failed — $e")
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Flush op-internal persists between queries (untimed): each query
        // re-persists its own frames anyway, so this only stops storage
        // blocks accumulating across the suite.
        PersistScope.unpersistAll()
        if (ok) times(name) = times.getOrElse(name, Vector.empty) :+ dt
        else failed += name
      }
    }
    (times.toSeq.collect { case (name, ts) if !failed(name) =>
      (name, ts.min, ts.max - ts.min) }, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    // Optional comma-separated name filter for hand-profiling single queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Warm-up sweep: the full suite once, unmeasured. A query that fails
    // here fails again in the timed sweeps, which report it.
    suite.foreach { case (_, fn) =>
      try Materialize.noop(fn(spark, sfDir))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    PersistScope.unpersistAll()
    val (results, failed) = timedSweeps(spark, sfDir, suite, iters)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spreads = results
      .map { case (k, _, s) => s"\"" + k + "~spread\":" +
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(s)) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedField = failed.map(q => s"\"$q\"").mkString("[", ",", "]")
    // Field order is the tail-truncation contract: metadata first, the
    // spread dict next, per-query minima second-to-last, total_s last.
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""iterations":$iters,"materialize":"noop","cpus":$cpus,""" +
      s""""sf":"$sfDir","failed":$failedField,"spread":$spreads,""" +
      s""""queries":$qs,"total_s":$total}"""
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    println(json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[graft] bench: ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}

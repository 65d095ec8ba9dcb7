package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Scale lint: an unpartitioned Window drags the whole input through
    // ONE task — the single-task sort the SCALE.md invariants ban
    // (RankOp.withGlobalRank exists to avoid it). A QueryExecutionListener
    // sees EVERY action's plan, including intermediate driver-side
    // collects inside ops (where r11's q174 hid one), not just the final
    // dumped frame.
    val unpartitionedWindows = new java.util.concurrent.atomic.AtomicInteger
    @volatile var currentQuery = "<init>"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val hits = qe.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
            case w: org.apache.spark.sql.catalyst.plans.logical
                .WindowGroupLimit if w.partitionSpec.isEmpty => w
          }
          if (hits.nonEmpty) {
            unpartitionedWindows.addAndGet(hits.size)
            // The listener bus is async, so currentQuery may already have
            // advanced — attribution is best-effort ('~'); the window
            // expression text locates the real culprit regardless.
            val what = hits.headOption.map(_.expressions.take(2)
              .mkString(", ").take(160)).getOrElse("")
            System.err.println(s"[verify] LINT: ~$currentQuery executed " +
              s"${hits.size} unpartitioned Window node(s) [$what] — " +
              "single-task sort; use RankOp.withGlobalRank or partition " +
              "the window")
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated name prefixes); the driver
    // never sets it, so its runs always dump the full suite.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    val failed = dump(spark, sfDir, outDir, selected.toSeq,
      name => currentQuery = name)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Subset (dev) runs restrict the oracle file to the queries they
    // dumped, so diffcheck can treat EVERY missing parquet as a hard FAIL
    // — a query that crashed during the dump must never read as "pass".
    // Driver runs never set the filter, so they always get the full map.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop() // flushes the async listener bus before the summary
    if (unpartitionedWindows.get() > 0)
      System.err.println(s"[verify] LINT SUMMARY: " +
        s"${unpartitionedWindows.get()} unpartitioned Window execution(s) " +
        "— see LINT lines above; fix before shipping")
    if (failed.nonEmpty) {
      System.err.println(failureLine(failed))
      sys.exit(1)
    }
  }

  /** Writes each query's result to `outDir/<name>` as parquet and returns
    * the names of the queries that threw, in run order. `starting` hears
    * each name before its query runs. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      starting: String => Unit = _ => ()): Seq[String] =
    queries.flatMap { case (name, fn) =>
      starting(name)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Vacuous-gate lint: a query whose engine output is empty will
        // "pass" against an equally-empty oracle while exercising nothing
        // (r10's q146). Warn loudly so a zero-row fixture gets salted.
        val n = spark.read.parquet(s"$outDir/$name").count()
        if (n == 0L)
          System.err.println(
            s"[verify] WARNING: $name produced 0 rows — if the oracle is " +
              "also empty this gate is vacuous; salt the fixture")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
      finally graft.core.PersistScope.unpersistAll() // op-internal caches
    }

  /** The one line a failed run ends with. */
  def failureLine(failed: Seq[String]): String =
    s"[verify] FAILED ${failed.size} queries: ${failed.mkString(" ")}"
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** CLI entry point for YAML pipelines — the analog of the reference's
  * `docetl run pipeline.yaml` (reference docetl/cli.py:168).
  *
  * Usage: runMain graft.tools.RunPipeline <pipeline.yaml> [showRows|--describe|--estimate[=N]] [--no-stats]
  * `--describe` prints each step's output schema without writing the sink.
  * `--estimate[=N]` runs the pre-flight cost estimate on an N-row sample
  * per dataset (default 200) and prints extrapolated rows/calls/cost
  * instead of executing the full pipeline.
  *
  * After a run, an execution summary is printed (reference runner.py:572-581
  * prints per-op costs and the total): one line per op with rows in/out and
  * selectivity, one line per model with calls/tokens/accumulated cost, and
  * the total cost. `--no-stats` skips the per-op row counting (which forces
  * an extra materialization pass — fine on samples and bench tables, worth
  * skipping on a full-corpus run whose sink already materialized once).
  */
object RunPipeline {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunPipeline <pipeline.yaml> [showRows|--describe] [--no-stats]")
    val flags = args.drop(1).toSet
    val describe = flags.contains("--describe")
    val stats = !flags.contains("--no-stats")
    val showRows = args.drop(1).find(a => !a.startsWith("--")).map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val estimateArg = args.drop(1).find(_.startsWith("--estimate"))
    if (describe) {
      val conf = graft.api.Conf.fromYamlFile(args(0))
      graft.api.Pipeline.describe(conf, spark).foreach { case (name, schema) =>
        println(s"[pipeline] step $name: ${schema.simpleString}")
      }
    } else if (estimateArg.isDefined) {
      val n = estimateArg.get.split('=') match {
        case Array(_, v) => v.toInt
        case _ => 200
      }
      val conf = graft.api.Conf.fromYamlFile(args(0))
      println(graft.api.Estimate(conf, spark, sampleRows = n).render)
    } else {
      runAndReport(args(0), spark, showRows, stats).foreach(println)
    }
    spark.stop()
  }

  /** Run the pipeline and return the report lines (separated from [[main]]
    * so tests can drive it on a shared session without `spark.stop()`). */
  private[graft] def runAndReport(
      yamlPath: String, spark: SparkSession,
      showRows: Int = 5, stats: Boolean = true): Seq[String] = {
    graft.llm.TokenTally.reset()
    graft.core.PairBudget.drainWarnings() // drop warnings from earlier runs
    val conf = graft.api.Conf.fromYamlFile(yamlPath)
    val lines = Seq.newBuilder[String]
    val out =
      if (stats) {
        val (result, _, opStats) = graft.api.Pipeline.runInstrumented(conf, spark)
        opStats.foreach { s =>
          lines += f"[pipeline] op ${s.step}/${s.op}: rows_in=${s.rowsIn} " +
            f"rows_out=${s.rowsOut} selectivity=${s.selectivity}%.4f"
        }
        result
      } else graft.api.Pipeline.run(conf, spark)
    lines += s"[pipeline] output rows: ${out.count()}"
    out.show(showRows, truncate = false)
    // Per-model LLM usage accumulated over the run (local mode: the
    // executor-local tally IS the global tally; see TokenTally docs).
    val tallies = graft.llm.TokenTally.summary.toSeq.sortBy(_._1)
    tallies.foreach { case (model, t) =>
      lines += f"[pipeline] llm model=$model calls=${t.calls} " +
        f"input_tokens=${t.inputTokens} output_tokens=${t.outputTokens} cost=$$${t.cost}%.6f"
    }
    lines += f"[pipeline] total llm cost: $$${tallies.map(_._2.cost).sum}%.6f"
    // Skew diagnostics raised during the run (hot blocking buckets) — the
    // summary is where a user actually sees them, not buried in stderr.
    graft.core.PairBudget.drainWarnings().foreach { w =>
      lines += s"[pipeline] skew: $w"
    }
    lines.result()
  }
}

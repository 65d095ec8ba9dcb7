package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import graft.core.SchemaTypes
import graft.llm.{Cached, LlmClient, Meter, Template}

/** Agent-mode projection (reference docetl/operations/map.py:44,493 +
  * operations/utils/openai_agents_runner.py): instead of a one-shot
  * completion, each row runs a bounded tool-use loop —
  *
  *   1. render the prompt into a transcript;
  *   2. ask the model for an `action`; `"final"` ends the loop, any other
  *      value names a tool;
  *   3. run the tool over the transcript, append `"\nOBS:<result>"`, repeat;
  *   4. after the loop, one structured completion over the full transcript
  *      produces the declared output fields, merged into the row.
  *
  * Tools are plain Scala functions (`transcript => observation`) closed over
  * by the `mapPartitions` lambda — serializable, executor-side, no driver
  * round-trips. `maxTurns` bounds provider calls per row (the reference's
  * agent runner has the same turn cap). Incompatible with gleaning, as in the
  * reference (map.py:102-103) — the loop IS the refinement.
  */
object AgentMap {

  final case class Config(
      name: String,
      prompt: String,
      outputSchema: Seq[(String, String)],
      model: String = "mock",
      maxTurns: Int = 4)

  private val actionSchema = StructType(Seq(StructField("action", StringType)))

  /** Config-addressable tools (the YAML surface can only name tools, not
    * define closures — the reference has the same split: `docetl.Agent`
    * tools are Python objects, never serialized into configs). */
  val builtinTools: Map[String, String => String] = Map(
    "wordcount" -> ((t: String) => s"words=${t.split(" ", -1).length}"),
    "charcount" -> ((t: String) => s"chars=${t.length}"),
    "head" -> ((t: String) => t.take(32)))

  def apply(
      df: DataFrame,
      cfg: Config,
      tools: Map[String, String => String],
      client: LlmClient): DataFrame = {
    require(tools.nonEmpty, "agent mode needs at least one tool")
    val outStruct = SchemaTypes.toStruct(cfg.outputSchema)
    val kept = df.schema.fields.filterNot(f => outStruct.fieldNames.contains(f.name))
    val keptIdx = kept.map(f => df.schema.fieldIndex(f.name))
    val newSchema = StructType(kept ++ outStruct.fields)
    val tpl = Template(cfg.prompt, df.schema)
    val meter = Meter(df.sparkSession, cfg.name)
    val cfgB = cfg
    val toolsB = tools

    df.mapPartitions { it =>
      it.map { row =>
        var transcript = tpl.render(row)
        var turns = 0
        var done = false
        while (!done && turns < cfgB.maxTurns) {
          val action = Cached.complete(client, meter, cfgB.model, transcript, actionSchema)
            .values("action").asInstanceOf[String]
          if (action == "final") done = true
          else {
            // Unknown tool names fall back to the alphabetically-first tool
            // (Map iteration order is hash-order above 4 entries) — a real
            // client is prompted with the tool list; the mock is not.
            val tool = toolsB.getOrElse(action, toolsB.minBy(_._1)._2)
            transcript += s"\nOBS:${tool(transcript)}"
            turns += 1
          }
        }
        val fin = Cached.complete(client, meter, cfgB.model, transcript, outStruct)
        val out = keptIdx.map(row.get) ++
          outStruct.fields.map(f => LlmRunner.coerce(fin.values.get(f.name), f.dataType))
        Row(out.toSeq: _*)
      }
    }(Encoders.row(newSchema))
  }
}

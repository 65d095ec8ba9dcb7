package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.MockLlmClient
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship pipeline on /root/testdata/sf0.001 (driver smoke-checks
    * rows>0): documents -> semantic sentiment map (mock LLM) -> semantic
    * filter -> grouped reduce. Exercises the LLM runner seam, passthrough
    * merge, filter-consumes-decision-key, and partial aggregation. */
  def entry(spark: SparkSession): DataFrame = {
    val client = MockLlmClient()
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val mapped = SemanticMap(docs, SemanticMapConfig(
      name = "flagship_map", prompt = "{{ input.text }}",
      outputSchema = Seq("sentiment" -> "str")), client)
    val kept = SemanticFilter(mapped, SemanticMapConfig(
      name = "flagship_filter", prompt = "{{ input.text }}",
      outputSchema = Seq("keep" -> "bool")), client)
    CodeReduce(kept, Seq("lang", "sentiment"),
      Seq("n_docs" -> "count(1)", "avg_chars" -> "avg(n_chars)"),
      name = "flagship")
  }

  /** One entry per implemented operator from SURVEY.md §2 (see Queries). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { case (name, q, _) => name -> q }.toMap

  /** DuckDB-equivalent SQL for every SQL-expressible query. */
  def oracleSql: Map[String, String] =
    Queries.all.collect { case (name, _, Some(sql)) => name -> sql }.toMap
}

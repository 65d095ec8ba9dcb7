package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.LlmClient

/** Reference-resolving extraction (reference docetl/operations/extract.py:17-584):
  * the LLM returns *references* into a text field — line-number ranges over an
  * 80-column re-wrapped copy, or regex patterns — which are resolved to
  * literal substrings appended under `{key}{suffix}` (default
  * `_extracted_{name}`, extract.py:45-56). Avoids paying the LLM to copy text.
  */
object ExtractOp {

  /** Regex extraction path: once the pattern is known this is pure
    * `regexp_extract_all` — native, codegen'd (SURVEY.md §2.2 mapping). */
  def regex(
      df: DataFrame,
      name: String,
      documentKey: String,
      pattern: String,
      formatExtraction: Boolean = true,
      suffix: Option[String] = None): DataFrame = {
    val outKey = s"$documentKey${suffix.getOrElse(s"_extracted_$name")}"
    val matches = regexp_extract_all(col(documentKey), lit(pattern), lit(0))
    val value = if (formatExtraction) array_join(matches, "\n\n") else matches
    df.withColumn(outKey, value)
  }

  /** Multi-key regex extraction (reference `document_keys` is a LIST,
    * extract.py:45-56: each key gets its own `{key}{suffix}` column). */
  def regexMulti(
      df: DataFrame,
      name: String,
      documentKeys: Seq[String],
      pattern: String,
      formatExtraction: Boolean = true,
      suffix: Option[String] = None): DataFrame =
    documentKeys.foldLeft(df)((d, k) =>
      regex(d, name, k, pattern, formatExtraction, suffix))

  /** Line-number extraction path: text is re-wrapped to `width` columns, the
    * LLM is prompted with the numbered lines and returns ranges "a-b"; the
    * ranges resolve to literal substrings (extract.py line_number method). */
  def lineNumber(
      df: DataFrame,
      name: String,
      documentKey: String,
      prompt: String,
      client: LlmClient,
      model: String = "mock",
      width: Int = 80,
      formatExtraction: Boolean = true,
      suffix: Option[String] = None): DataFrame = {
    val outKey = s"$documentKey${suffix.getOrElse(s"_extracted_$name")}"
    val newSchema = df.schema.add(StructField(outKey, StringType))
    val idx = df.schema.fieldIndex(documentKey)
    val rangeSchema = StructType(Seq(StructField("ranges", StringType)))
    val meter = graft.llm.Meter(df.sparkSession, name)
    df.mapPartitions { it =>
      it.map { row =>
        val text = row.getString(idx)
        val lines = Option(text).getOrElse("").grouped(width).toArray
        val numbered = lines.zipWithIndex
          .map { case (l, i) => s"${i + 1}: $l" }.mkString("\n")
        val resp = graft.llm.Cached.complete(client, meter, model, s"$prompt\n$numbered", rangeSchema)
        val spans = resp.values("ranges").toString.split(",").flatMap { r =>
          r.trim.split("-") match {
            case Array(a, b) =>
              val lo = a.trim.toInt.max(1) - 1
              val hi = (b.trim.toInt.min(lines.length)) - 1
              if (lo <= hi) Some(lines.slice(lo, hi + 1).mkString) else None
            case Array(a) =>
              val i = a.trim.toInt - 1
              if (i >= 0 && i < lines.length) Some(lines(i)) else None
            case _ => None
          }
        }
        Row((row.toSeq :+ spans.mkString("\n\n")): _*)
      }
    }(Encoders.row(newSchema))
  }

  /** Multi-key line-number extraction — `document_keys` is a LIST for both
    * methods in the reference (extract.py:45-56); each key gets its own
    * `{key}{suffix}` column and its own per-row range query. The folds chain
    * as narrow object operators (no shuffle between keys). */
  def lineNumberMulti(
      df: DataFrame,
      name: String,
      documentKeys: Seq[String],
      prompt: String,
      client: LlmClient,
      model: String = "mock",
      width: Int = 80,
      formatExtraction: Boolean = true,
      suffix: Option[String] = None): DataFrame =
    documentKeys.foldLeft(df)((d, k) =>
      lineNumber(d, name, k, prompt, client, model, width, formatExtraction, suffix))
}

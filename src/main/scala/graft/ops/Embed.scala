package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Cached, LlmClient, Meter}

/** Embedding stage (reference `gen_embedding`, api.py:179; embedding batch
  * sizes 1000/2000 per resolve/equijoin — BASELINE.md): adds
  * `ArrayType(FloatType)` vectors for a rendered text expression.
  *
  * `mapPartitions` with batched provider calls — the same batching a real
  * embedding endpoint wants — through the shared response cache, so
  * repeated texts (and task retries) don't re-embed. Downstream ops
  * (topk/blocking/dedup/ANN) consume the column with the native cosine
  * expression.
  */
object EmbedOp {

  def apply(
      df: DataFrame,
      textExpr: String,
      outCol: String,
      client: LlmClient,
      model: String = "mock-embed",
      batchSize: Int = 1000): DataFrame = {
    val withText = df.withColumn("_graft_embed_text", expr(textExpr).cast("string"))
    val inSchema = withText.schema
    val textIdx = inSchema.fieldIndex("_graft_embed_text")
    val outSchema = StructType(
      df.schema.fields :+ StructField(outCol, ArrayType(FloatType)))
    val meter = Meter(df.sparkSession, "embed")
    withText.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = Cached.embed(client, meter, model, batch.map(_.getString(textIdx)))
        batch.lazyZip(vecs).map((row, vec) =>
          Row.fromSeq(row.toSeq.patch(textIdx, Nil, 1) :+ vec.toSeq))
      }
    }(Encoders.row(outSchema))
  }
}

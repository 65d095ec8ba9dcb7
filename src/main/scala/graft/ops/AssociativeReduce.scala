package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Cached, LlmClient, Meter}

/** Associative fold+merge LLM reduce as a Spark `Aggregator` —
  * the reference's parallel fold/merge strategy (reference
  * docetl/operations/reduce.py:519-683,871-986, `associative: true`) mapped
  * onto Spark partial aggregation exactly as SURVEY.md §2.5 prescribes:
  *
  *   - `reduce` (update): members accumulate into a buffer; whenever the
  *     buffer reaches `foldBatchSize`, a fold prompt collapses it into an
  *     accumulator string — this runs MAP-SIDE, before the shuffle, so the
  *     exchange carries one partial accumulator per (partition, group), not
  *     the member rows.
  *   - `merge`: two partial accumulators combine with a merge prompt — the
  *     tree-merge across partitions that the reference runs on a thread pool
  *     (reduce.py:871-986), here scheduled by Spark itself.
  *
  * The merge tree's shape depends on partitioning, so (like the reference's
  * parallel mode) results are only guaranteed stable when the client's
  * fold/merge are genuinely associative. Group counts ride along in the
  * buffer; output adds `_counts_prereduce_{name}`.
  */
object AssociativeSemanticReduce {

  final case class Config(
      name: String,
      reduceKeys: Seq[String],
      memberExpr: String,
      outputSchema: Seq[(String, String)],
      model: String = "mock",
      foldBatchSize: Int = 20)

  // (pending members, folded accumulator or null, member count)
  final case class Buf(pending: Seq[String], acc: String, n: Long)

  def apply(df: DataFrame, cfg: Config, client: LlmClient): DataFrame = {
    val outStruct = graft.core.SchemaTypes.toStruct(cfg.outputSchema)
    require(outStruct.fields.forall(_.dataType == StringType),
      "associative reduce outputs string fields (folded accumulators)")
    val meter = Meter(df.sparkSession, cfg.name)
    val model = cfg.model
    val foldSize = cfg.foldBatchSize
    val accSchema = StructType(Seq(StructField("acc", StringType)))

    def accCall(prompt: String): String =
      Cached.complete(client, meter, model, prompt, accSchema).values("acc").toString
    def foldCall(current: String, members: Seq[String]): String =
      accCall((if (current == null) "" else s"ACC:$current\n") + members.mkString("\n"))
    def mergeCall(a: String, b: String): String = accCall(s"MERGE:$a\n###\n$b")
    def drain(b: Buf, force: Boolean): Buf =
      if (b.pending.size >= foldSize || (force && b.pending.nonEmpty))
        Buf(Nil, foldCall(b.acc, b.pending), b.n)
      else b

    val agg = new Aggregator[String, Buf, (String, Long)] {
      def zero: Buf = Buf(Nil, null, 0L)
      def reduce(b: Buf, member: String): Buf =
        drain(Buf(b.pending :+ member, b.acc, b.n + 1), force = false)
      def merge(a: Buf, b: Buf): Buf = {
        val da = drain(a, force = true)
        val db = drain(b, force = true)
        val acc = (da.acc, db.acc) match {
          case (null, x) => x
          case (x, null) => x
          case (x, y)    => mergeCall(x, y)
        }
        Buf(Nil, acc, da.n + db.n)
      }
      def finish(b: Buf): (String, Long) = {
        val d = drain(b, force = true)
        (if (d.acc == null) "" else d.acc, d.n)
      }
      def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      def outputEncoder: Encoder[(String, Long)] =
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    }

    val outName = outStruct.fields.head.name
    val member = expr(cfg.memberExpr).cast("string")
    df.groupBy(cfg.reduceKeys.map(col): _*)
      .agg(udaf(agg, Encoders.STRING).apply(member).as("_folded"))
      .select(
        cfg.reduceKeys.map(col) ++ Seq(
          col("_folded._1").as(outName),
          col("_folded._2").as(s"_counts_prereduce_${cfg.name}")): _*)
  }
}

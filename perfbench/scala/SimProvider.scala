package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.TaskContext
import org.apache.spark.sql.types.StructType

import graft.llm.{LlmClient, LlmResponse}

/** Simulated provider: a decorator over a deterministic client (the mock)
  * that makes every round trip wait `roundTripUs` plus `itemUs` per item it
  * carries, so that neither batching nor concurrency is free. Outputs are
  * the inner client's. The wait parks the calling thread; no thread is
  * added. Counters are per JVM, which in local mode is the whole run. */
final case class SimProvider(inner: LlmClient, roundTripUs: Long, itemUs: Long) extends LlmClient {
  import SimProvider._

  private def call[A](items: Int)(tokens: A => (Long, Long))(f: => A): A = {
    val t0 = Clock.ms
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    val waitNs = (roundTripUs + itemUs * items) * 1000L
    val deadline = System.nanoTime() + waitNs
    var left = waitNs
    try {
      while (left > 0) { LockSupport.parkNanos(left); left = deadline - System.nanoTime() }
      val r = f
      val (in, out) = tokens(r)
      tokensIn.addAndGet(in)
      tokensOut.addAndGet(out)
      r
    } finally {
      inflight.decrementAndGet()
      val t1 = Clock.ms
      roundTrips.incrementAndGet()
      itemsSent.addAndGet(items)
      waitNanos.addAndGet(((t1 - t0) * 1e6).toLong)
      if (Spans.on) {
        val tc = TaskContext.get()
        val parent = if (tc == null) "" else s"stage${tc.stageId()}"
        Spans.add(Span(s"llm${spanIds.incrementAndGet()}", parent, "llm", "", t0, t1))
      }
    }
  }

  private def one(r: LlmResponse) = (r.inputTokens, r.outputTokens)

  override def complete(model: String, prompt: String, schema: StructType): LlmResponse =
    call(1)(one)(inner.complete(model, prompt, schema))

  override def completeBatch(model: String, prompts: Seq[String], schema: StructType): Seq[LlmResponse] =
    call(prompts.size)((rs: Seq[LlmResponse]) => (rs.map(_.inputTokens).sum, rs.map(_.outputTokens).sum))(
      inner.completeBatch(model, prompts, schema))

  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
    call(texts.size)((_: Seq[Array[Float]]) => (0L, 0L))(inner.embed(model, texts))

  override def logprobConfidence(model: String, prompt: String): Double =
    call(1)((_: Double) => (0L, 0L))(inner.logprobConfidence(model, prompt))

  override def withOutputMode(mode: String): LlmClient = copy(inner = inner.withOutputMode(mode))
}

object SimProvider {
  val roundTrips, itemsSent, waitNanos, tokensIn, tokensOut = new AtomicLong()
  val inflight, maxInflight = new AtomicInteger()
  private val spanIds = new AtomicLong()

  /** (round trips, items, wait ns, tokens in, tokens out) so far. */
  def counts: (Long, Long, Long, Long, Long) =
    (roundTrips.get, itemsSent.get, waitNanos.get, tokensIn.get, tokensOut.get)
}

package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{DoubleAccumulator, LongAccumulator}

/** The LLM seam every semantic operator calls through — the Scala analog of
  * the reference's `APIWrapper` (reference docetl/operations/utils/api.py:76+).
  *
  * Implementations must be Serializable: instances are closed over by
  * `mapPartitions` lambdas and run on executors. Production implementations
  * wrap an HTTP client with retries/rate limits; tests and the driver's
  * correctness gate use [[MockLlmClient]], whose outputs are deterministic
  * pure functions of the prompt (which is what licenses treating semantic
  * projections as deterministic for plan rewrites — SURVEY.md §2.11 note).
  */
trait LlmClient extends Serializable {

  /** One structured-output completion: returns a field->value map conforming
    * to `schema`, plus a dollar cost. (reference api.py:588 `call_llm`) */
  def complete(model: String, prompt: String, schema: StructType): LlmResponse

  /** Batched completion (reference api.py:242 `call_llm_batch` /
    * `batch_prompt` mode, map.py:530-618): one provider round-trip labels a
    * whole batch. Default: per-item calls. */
  def completeBatch(model: String, prompts: Seq[String], schema: StructType): Seq[LlmResponse] =
    prompts.map(complete(model, _, schema))

  /** Pairwise comparison returning is_match (reference equijoin.py:145-194,
    * resolve.py comparison_prompt). */
  def compare(model: String, prompt: String): Boolean =
    complete(model, prompt, MockLlmClient.boolSchema)
      .values("is_match").asInstanceOf[Boolean]

  /** Text embedding (reference api.py:179 `gen_embedding`). */
  def embed(model: String, texts: Seq[String]): Seq[Array[Float]]

  /** Single-token logprob confidence for cascade routing
    * (reference api.py:1004 `classify_with_logprob`). */
  def logprobConfidence(model: String, prompt: String): Double = 1.0

  /** Return a client using the given structured-output mode —
    * `"tools"` (function-calling, the reference default, api.py:59-64) or
    * `"structured_output"` (json_object response_format). Ops select it via
    * `output: {mode: ...}` (api.py:316-318); clients that don't distinguish
    * (mock) return themselves. */
  def withOutputMode(mode: String): LlmClient = this
}

final case class LlmResponse(
    values: Map[String, Any],
    cost: Double,
    inputTokens: Long = 0L,
    outputTokens: Long = 0L)

/** Executor-local per-model token/cost tally (reference api.py:147 per-model
  * token tables, runner.py:164-167 cost summary). In local mode this IS the
  * global tally; on a cluster each executor holds its shard — aggregate via
  * the per-op accumulators or collect the executor tallies out-of-band. */
object TokenTally {
  final case class Tally(calls: Long, inputTokens: Long, outputTokens: Long, cost: Double)
  private val map = new java.util.concurrent.ConcurrentHashMap[String, Tally]()

  def record(model: String, r: LlmResponse): Unit =
    map.merge(model, Tally(1, r.inputTokens, r.outputTokens, r.cost),
      (a, b) => Tally(a.calls + b.calls, a.inputTokens + b.inputTokens,
        a.outputTokens + b.outputTokens, a.cost + b.cost))

  def summary: Map[String, Tally] = {
    val b = Map.newBuilder[String, Tally]
    map.forEach((k, v) => b += k -> v)
    b.result()
  }
  def reset(): Unit = map.clear()
}

/** Decorator that throttles every provider round-trip through
  * [[RateLimiter]] — ops opt in via their config without the runner knowing
  * about rate limits at all. */
final case class RateLimitedClient(inner: LlmClient, key: String, permitsPerMinute: Double)
    extends LlmClient {
  override def complete(model: String, prompt: String, schema: StructType): LlmResponse = {
    RateLimiter.acquire(key, permitsPerMinute)
    inner.complete(model, prompt, schema)
  }
  override def completeBatch(model: String, prompts: Seq[String], schema: StructType): Seq[LlmResponse] = {
    RateLimiter.acquire(key, permitsPerMinute)
    inner.completeBatch(model, prompts, schema)
  }
  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] = {
    RateLimiter.acquire(key, permitsPerMinute)
    inner.embed(model, texts)
  }
  override def logprobConfidence(model: String, prompt: String): Double =
    inner.logprobConfidence(model, prompt)
  override def withOutputMode(mode: String): LlmClient =
    copy(inner = inner.withOutputMode(mode))
}

/** An op's charge — the engine-wide analog of the reference's per-op float
  * cost return (base.py:190-205): provider round trips and dollar cost in
  * the accumulators `graft.llm.calls.<op>` and `graft.llm.cost.<op>`.
  * Only [[Cached]] charges it, and only for real provider calls: cache
  * hits are free provider-side, so a warm re-run reports 0. */
final case class Meter(calls: LongAccumulator, cost: DoubleAccumulator) {

  /** One real round trip: it counts even if it throws, its cost once it
    * answers. The adds are synchronized because the pool threads of one
    * task share that task's accumulator copies, and `AccumulatorV2.add` is
    * a plain read-modify-write. */
  private[llm] def charge[A](call: => A)(costOf: A => Double): A = {
    calls.synchronized(calls.add(1))
    val r = call
    cost.synchronized(cost.add(costOf(r)))
    r
  }
}

object Meter {
  def apply(spark: SparkSession, op: String): Meter = Meter(
    spark.sparkContext.longAccumulator(s"graft.llm.calls.$op"),
    spark.sparkContext.doubleAccumulator(s"graft.llm.cost.$op"))
}

/** The one path from an op to the provider (the analog of the reference's
  * `APIWrapper` with its disk cache, api.py:76+ / cache.py:17-23): every
  * call is looked up in [[LlmCache]] and charged to the op's [[Meter]] only
  * when it reaches the provider. Spark re-executes partitions for task
  * retries, speculation, AND the range-partitioner sampling pass a global
  * sort runs over its child — without the cache each of those pays the
  * provider calls again; driver-side calls (calibration anchors, oracle
  * labels, summaries) are cached for the same reason across re-runs.
  * `bypassCache` neither reads nor writes the cache. */
object Cached {

  private def key(model: String, schema: StructType, prompt: String) =
    s"$model|${schema.simpleString}|$prompt"

  def complete(
      client: LlmClient, meter: Meter, model: String, prompt: String, schema: StructType,
      bypassCache: Boolean = false): LlmResponse = {
    def call = meter.charge(client.complete(model, prompt, schema))(_.cost)
    if (bypassCache) call else LlmCache.getOrCompute(key(model, schema, prompt), call)
  }

  def compare(client: LlmClient, meter: Meter, model: String, prompt: String): Boolean =
    complete(client, meter, model, prompt, MockLlmClient.boolSchema)
      .values("is_match").asInstanceOf[Boolean]

  /** Cached logprob confidence — a recomputed partition must see the SAME
    * confidence or rows can cross a calibrated threshold between two scans
    * of the same frame (classified into neither or both sides). */
  def confidence(client: LlmClient, meter: Meter, model: String, prompt: String): Double =
    LlmCache.getOrCompute(s"$model|logprob|$prompt", LlmResponse(Map("confidence" ->
      meter.charge(client.logprobConfidence(model, prompt))(_ => 0.0)), 0.0))
      .values("confidence").asInstanceOf[Double]

  /** One provider round trip labels the batch's distinct misses
    * (reference map.py:530-618 `batch_prompt`). */
  def completeBatch(
      client: LlmClient, meter: Meter, model: String, prompts: Seq[String], schema: StructType,
      bypassCache: Boolean): Seq[LlmResponse] = {
    val ps = prompts.toIndexedSeq
    fill(ps.map(key(model, schema, _)), bypassCache) { misses =>
      meter.charge(client.completeBatch(model, misses.map(ps), schema))(_.map(_.cost).sum)
    }
  }

  /** Embeddings, the distinct misses in one provider round trip. */
  def embed(client: LlmClient, meter: Meter, model: String, texts: Seq[String]): Seq[Array[Float]] = {
    val ts = texts.toIndexedSeq
    fill(ts.map(t => s"$model|embed|$t"), bypassCache = false) { misses =>
      meter.charge(client.embed(model, misses.map(ts)))(_ => 0.0)
        .map(e => LlmResponse(Map("e" -> e), 0.0))
    }.map(_.values("e").asInstanceOf[Array[Float]])
  }

  /** Batch-miss fill: each key is looked up ONCE, `fetch` sends only the
    * distinct misses, and every item is answered from the responses in
    * hand — the cache is a bounded FIFO shared by the JVM, so a re-read
    * after the provider call can find an entry evicted or cleared. Every
    * item answered without its own request counts as a cache hit, as a
    * single call's hit does in `getOrCompute`. */
  private def fill(keys: IndexedSeq[String], bypassCache: Boolean)(
      fetch: IndexedSeq[Int] => Seq[LlmResponse]): IndexedSeq[LlmResponse] = {
    val found = keys.map(k => if (bypassCache) None else LlmCache.get(k))
    val misses = keys.indices.filter(found(_).isEmpty).distinctBy(keys)
    if (!bypassCache) LlmCache.countHits(keys.size - misses.size)
    if (misses.isEmpty) return found.map(_.get)
    val fresh = fetch(misses)
    require(fresh.size == misses.size,
      s"provider returned ${fresh.size} responses for ${misses.size} requests")
    if (!bypassCache) misses.zip(fresh).foreach { case (i, r) => LlmCache.put(keys(i), r) }
    val byKey = misses.map(keys).zip(fresh).toMap
    keys.indices.map(i => found(i).getOrElse(byKey(keys(i))))
  }
}

/** Timeout + retry decorator (reference map.py:476-477: 120 s LLM call
  * timeout, 2 retries per timeout; api.py:588 retry loop). Provider
  * round-trips run on a shared daemon pool and are abandoned at the
  * timeout; failures and timeouts retry up to `maxRetries` times with
  * linear backoff. Batch calls scale the timeout by batch size (a 200-item
  * batch legitimately takes longer than one call).
  *
  * Compose as `RetryingClient(RateLimitedClient(inner))` — the limiter
  * INSIDE the retry loop — so every retry attempt re-acquires a permit
  * rather than bursting unthrottled at a failing provider. An abandoned
  * timed-out call may still complete (and bill) provider-side — the
  * response cache absorbs the duplicate if it lands. An interrupted caller
  * (a cancelled call window) interrupts its round-trip and does not
  * retry. */
final case class RetryingClient(
    inner: LlmClient,
    timeoutMs: Long = 120000,
    maxRetries: Int = 2,
    backoffMs: Long = 100) extends LlmClient {

  private def withRetry[A](budgetMs: Long)(f: => A): A = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      try return withTimeout(budgetMs)(f)
      catch {
        case e: InterruptedException => throw e // cancelled: no retry
        case e: Exception =>
          last = e
          attempt += 1
          if (attempt <= maxRetries && backoffMs > 0) Thread.sleep(backoffMs * attempt)
      }
    }
    throw last
  }

  private def withTimeout[A](budgetMs: Long)(f: => A): A = {
    val task = RetryingClient.pool.submit(() => f)
    try task.get(budgetMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        task.cancel(true)
        throw new java.util.concurrent.TimeoutException(
          s"LLM call exceeded ${budgetMs}ms")
      case e: InterruptedException =>
        task.cancel(true)
        throw e
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  override def complete(model: String, prompt: String, schema: StructType): LlmResponse =
    withRetry(timeoutMs)(inner.complete(model, prompt, schema))
  override def completeBatch(model: String, prompts: Seq[String], schema: StructType): Seq[LlmResponse] =
    withRetry(timeoutMs * math.max(1, prompts.size))(
      inner.completeBatch(model, prompts, schema))
  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
    withRetry(timeoutMs)(inner.embed(model, texts))
  override def logprobConfidence(model: String, prompt: String): Double =
    withRetry(timeoutMs)(inner.logprobConfidence(model, prompt))
  override def withOutputMode(mode: String): LlmClient =
    copy(inner = inner.withOutputMode(mode))
}

object RetryingClient {
  /** Shared daemon pool for timed calls (a thread per call would leak
    * threads under heavy per-row usage). */
  private lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-llm-call")
      t.setDaemon(true)
      t
    })
}

/** Model-fallback decorator (reference docetl/runner.py:39-88: LiteLLM
  * Router `fallbacks` chains): a failed completion for model M retries down
  * `chains(M)` in order before rethrowing the last failure. Embeddings and
  * logprob scoring follow the same chain. Cost/token tallies are recorded by
  * the inner client under the model that actually answered. */
final case class FallbackClient(inner: LlmClient, chains: Map[String, Seq[String]])
    extends LlmClient {

  private def withChain[A](model: String)(f: String => A): A = {
    val models = model +: chains.getOrElse(model, Nil)
    var last: Throwable = null
    models.foreach { m =>
      try return f(m)
      catch { case e: Exception => last = e }
    }
    throw last
  }

  override def complete(model: String, prompt: String, schema: StructType): LlmResponse =
    withChain(model)(inner.complete(_, prompt, schema))
  override def completeBatch(model: String, prompts: Seq[String], schema: StructType): Seq[LlmResponse] =
    withChain(model)(inner.completeBatch(_, prompts, schema))
  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
    withChain(model)(inner.embed(_, texts))
  override def logprobConfidence(model: String, prompt: String): Double =
    withChain(model)(inner.logprobConfidence(_, prompt))
  override def withOutputMode(mode: String): LlmClient =
    copy(inner = inner.withOutputMode(mode))
}

/** Blocking token-bucket rate limiter, one bucket per key per executor JVM
  * (reference rate_limits config + pyrate_limiter, runner.py:297-361;
  * SURVEY.md §7.5.5: static per-executor quota = global / numExecutors as
  * the v1 distributed strategy). */
object RateLimiter {
  private val nextFree = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Block until a permit is available for `key` at `permitsPerMinute`. */
  def acquire(key: String, permitsPerMinute: Double): Unit = {
    if (permitsPerMinute <= 0) return
    val intervalNanos = (60e9 / permitsPerMinute).toLong
    val slot = nextFree.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong(System.nanoTime()))
    val scheduled = slot.getAndAccumulate(intervalNanos,
      (cur, step) => math.max(cur, System.nanoTime()) + step)
    val wait = scheduled - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
  }
}

/** Executor-local response cache, keyed by (model, prompt, schema) — the
  * analog of the reference's disk LLM cache (reference
  * docetl/operations/utils/cache.py:17-23). Makes Spark task retries and
  * speculative re-execution idempotent w.r.t. LLM calls (SURVEY.md §7.5.4).
  * Bounded FIFO eviction; per-JVM (executor), so no coordination cost.
  */
object LlmCache {
  private val maxEntries = 100000
  private val map = new java.util.concurrent.ConcurrentHashMap[String, LlmResponse]()
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Optional second tier on local disk (the direct analog of the
    * reference's diskcache directory, cache.py:17-23): survives memory
    * eviction and executor JVM restarts; per-executor, no coordination.
    * Best-effort — IO failures fall back to compute. */
  @volatile private var diskDir: Option[java.nio.file.Path] = None

  def enableDisk(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    diskDir = Some(p)
  }
  def disableDisk(): Unit = diskDir = None

  private def diskPath(key: String): Option[java.nio.file.Path] = diskDir.map { d =>
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    d.resolve(s"$h.llm")
  }

  private def diskGet(key: String): Option[LlmResponse] =
    diskPath(key).filter(java.nio.file.Files.exists(_)).flatMap { p =>
      try {
        val in = new java.io.ObjectInputStream(java.nio.file.Files.newInputStream(p))
        try Some(in.readObject().asInstanceOf[LlmResponse]) finally in.close()
      } catch { case _: Exception => None }
    }

  private def diskPut(key: String, v: LlmResponse): Unit =
    diskPath(key).foreach { p =>
      try {
        val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
        val out = new java.io.ObjectOutputStream(java.nio.file.Files.newOutputStream(tmp))
        try out.writeObject(v) finally out.close()
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Exception => () }
    }

  private def remember(key: String, v: LlmResponse): Unit =
    if (map.putIfAbsent(key, v) == null) {
      order.add(key)
      while (map.size() > maxEntries) {
        val evict = order.poll()
        if (evict != null) map.remove(evict) else return
      }
    }

  def get(key: String): Option[LlmResponse] =
    Option(map.get(key)).orElse {
      val fromDisk = diskGet(key)
      fromDisk.foreach(remember(key, _))
      fromDisk
    }

  def put(key: String, v: LlmResponse): Unit = {
    remember(key, v)
    diskPut(key, v)
  }

  /** Keys being computed right now, each with the future its leader
    * completes. */
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[LlmResponse]]()

  /** Single-flight: concurrent callers of one missing key make ONE provider
    * call. The first caller computes; the others wait for its response and
    * count as hits, exactly as they would have in a serial run. If the
    * leader fails, each waiter computes for itself, so a waiter sees no
    * failure it would not have seen alone. */
  def getOrCompute(key: String, compute: => LlmResponse): LlmResponse =
    get(key) match {
      case Some(v) => hitCounter.incrementAndGet(); v
      case None =>
        val mine = new java.util.concurrent.CompletableFuture[LlmResponse]()
        inflight.putIfAbsent(key, mine) match {
          case null =>
            try {
              // a leader that finished between get and putIfAbsent has
              // already stored its response
              val v = Option(map.get(key)) match {
                case Some(v) => hitCounter.incrementAndGet(); v
                case None => computeAndStore(key, compute)
              }
              mine.complete(v)
              v
            } catch {
              case e: Throwable => mine.completeExceptionally(e); throw e
            } finally inflight.remove(key, mine)
          case leader =>
            try { val v = leader.get(); hitCounter.incrementAndGet(); v }
            catch {
              case _: java.util.concurrent.ExecutionException => computeAndStore(key, compute)
            }
        }
    }

  private def computeAndStore(key: String, compute: => LlmResponse): LlmResponse = {
    val v = compute
    remember(key, v)
    diskPut(key, v)
    v
  }

  /** Served-from-cache completions since the last [[resetHits]] — lets a
    * pre-flight estimate tell a cold measurement from one a warm cache
    * silently zeroed (per-JVM: exact in local mode, per-executor on a
    * cluster). */
  private val hitCounter = new java.util.concurrent.atomic.AtomicLong()
  def hits: Long = hitCounter.get()
  def resetHits(): Unit = hitCounter.set(0L)
  private[llm] def countHits(n: Int): Unit = hitCounter.addAndGet(n)

  def clear(): Unit = { map.clear(); order.clear() }
}

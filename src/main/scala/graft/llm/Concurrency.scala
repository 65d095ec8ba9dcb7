package graft.llm

import java.util.concurrent.{ExecutionException, ExecutorService, Executors, Future}

import org.apache.spark.TaskContext

/** Bounded in-flight, order-preserving concurrent mapping for executor-side
  * LLM calls — the analog of the reference's thread pool (reference
  * docetl/runner.py:156: `max_threads = 4 * cpu_count`, every op fans its
  * rows across it). Spark gives one thread per partition; without this,
  * in-partition calls serialize and throughput is bounded by #partitions
  * rather than the provider's concurrency budget.
  *
  * Every task in the JVM shares one fixed daemon pool of [[poolSize]]
  * threads, so an executor never has more than `4 × cores` calls in flight
  * however many tasks it runs. Each window keeps at most its width of
  * futures on that pool; results are yielded in input order (semantic
  * results must not depend on response arrival order). The upstream
  * iterator is only advanced on the calling (task) thread.
  *
  * The default window is the whole pool, whatever the partition layout: a
  * one-partition input fills every thread, and the windows of concurrent
  * tasks queue on the pool rather than on a per-task share. An explicit
  * width only narrows a window. A window opened on a pool thread (a call
  * that itself fans out) runs inline: full-width outer calls would
  * otherwise hold every thread while their inner calls queue behind them.
  *
  * A failure propagates on the failing element's turn, so skip_on_error
  * semantics are per-row as in the serial path (the op catches inside `f`);
  * an escaping failure ends the iterator and cancels the rest of the
  * window. A task that ends early for any other reason (kill, a satisfied
  * downstream limit) cancels it from a task completion listener. Either way
  * `cancel(true)` interrupts the workers, so no abandoned call keeps
  * running and billing.
  */
object Concurrency {

  /** Provider calls in flight per CPU — the reference's
    * `max_threads = 4 * cpu_count`. */
  val CallsPerCpu = 4

  /** Threads in the shared pool, [[CallsPerCpu]] per core of the JVM that
    * makes the calls (the executor, not the driver). */
  val poolSize: Int = CallsPerCpu * Runtime.getRuntime.availableProcessors

  private val ThreadName = "graft-llm-async"

  private lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(poolSize, r => {
      val t = new Thread(r, ThreadName)
      t.setDaemon(true)
      t
    })

  /** `f` over `it` with up to `parallelism` calls in flight, capped at the
    * pool size; 1 = serial. */
  def mapOrdered[A, B](it: Iterator[A], parallelism: Int)(f: A => B): Iterator[B] = {
    val width = math.min(parallelism, poolSize)
    if (width <= 1 || Thread.currentThread.getName == ThreadName) it.map(f)
    else windowed(it, width)(f)
  }

  /** `window = Some(n)`: as [[mapOrdered]] with `n`. `None`: the default
    * window, the whole pool. */
  def mapOrdered[A, B](it: Iterator[A], window: Option[Int])(f: A => B): Iterator[B] =
    mapOrdered(it, window.getOrElse(poolSize))(f)

  private def windowed[A, B](it: Iterator[A], width: Int)(
      f: A => B): Iterator[B] = new Iterator[B] {
    // Touched only on the task thread: Spark runs completion listeners
    // on the thread that ran the task.
    private val window = new java.util.ArrayDeque[Future[B]]()
    private var ended = false
    private def submit(a: A): Future[B] = pool.submit(() => f(a))
    private def fill(): Unit =
      while (!ended && window.size < width && it.hasNext) window.add(submit(it.next()))
    private def cancelAll(): Unit = {
      ended = true
      window.forEach(_.cancel(true))
      window.clear()
    }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => cancelAll()))
    fill()
    override def hasNext: Boolean = !window.isEmpty
    override def next(): B = {
      val fut = window.poll()
      if (fut == null) throw new NoSuchElementException("next on empty iterator")
      val r =
        try fut.get()
        catch {
          case e: ExecutionException => cancelAll(); throw e.getCause
          case e: Throwable => fut.cancel(true); cancelAll(); throw e
        }
      fill()
      r
    }
  }

  /** flatMap flavor: each element yields 0..n outputs, order preserved. */
  def flatMapOrdered[A, B](it: Iterator[A], parallelism: Int)(f: A => Iterator[B]): Iterator[B] =
    mapOrdered(it, parallelism)(a => f(a).toVector).flatten

  /** flatMap flavor of the `Option` window. */
  def flatMapOrdered[A, B](it: Iterator[A], window: Option[Int])(f: A => Iterator[B]): Iterator[B] =
    mapOrdered(it, window)(a => f(a).toVector).flatten
}

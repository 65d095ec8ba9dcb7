package graft.llm

import java.util.concurrent.{
  ConcurrentHashMap, ExecutionException, ExecutorService, Executors, Future, FutureTask, Semaphore}

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
  * An explicit width is the window's own. The default window instead draws
  * on its task's budget, [[CallsPerCpu]] calls per CPU the task holds
  * (`spark.task.cpus`), which every default window of the task shares: the
  * chained LLM operators of one task (map → filter) split it rather than
  * each taking a full share. An executor whose task slots are all busy
  * thus keeps its whole pool in flight and queues no call behind it.
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

  private lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(poolSize, r => {
      val t = new Thread(r, "graft-llm-async")
      t.setDaemon(true)
      t
    })

  /** A task's call budget: `size` permits, one per call in flight. */
  private final case class Budget(size: Int, permits: Semaphore)

  /** Budgets of the running tasks, by task attempt. */
  private val budgets = new ConcurrentHashMap[java.lang.Long, Budget]()

  /** The calling task's budget, made on first use and dropped when the task
    * completes; outside a task, a budget of its own for each window. */
  private def taskBudget(): Budget = TaskContext.get() match {
    case null => Budget(CallsPerCpu, new Semaphore(CallsPerCpu))
    case tc =>
      val id = tc.taskAttemptId()
      // only this task's thread touches its entry
      Option(budgets.get(id)).getOrElse {
        val n = math.min(poolSize, CallsPerCpu * tc.cpus())
        val b = Budget(n, new Semaphore(n))
        budgets.put(id, b)
        tc.addTaskCompletionListener[Unit](_ => budgets.remove(id))
        b
      }
  }

  /** `f` over `it` with up to `parallelism` calls in flight, capped at the
    * pool size; 1 = serial. */
  def mapOrdered[A, B](it: Iterator[A], parallelism: Int)(f: A => B): Iterator[B] = {
    val width = math.min(parallelism, poolSize)
    if (width <= 1) it.map(f) else windowed(it, width, None)(f)
  }

  /** `window = Some(n)`: as [[mapOrdered]] with `n`. `None`: the default
    * window, on the task's shared budget. */
  def mapOrdered[A, B](it: Iterator[A], window: Option[Int])(f: A => B): Iterator[B] =
    window match {
      case Some(n) => mapOrdered(it, n)(f)
      case None =>
        val b = taskBudget()
        windowed(it, b.size, Some(b.permits))(f)
    }

  private def windowed[A, B](it: Iterator[A], width: Int, budget: Option[Semaphore])(
      f: A => B): Iterator[B] = new Iterator[B] {
    // Touched only on the task thread: Spark runs completion listeners
    // on the thread that ran the task.
    private val window = new java.util.ArrayDeque[Future[B]]()
    private var ended = false
    private def submit(a: A): Future[B] = budget match {
      case None => pool.submit(() => f(a))
      case Some(permits) =>
        // Taken after the element is pulled, so only submitted calls hold
        // permits, and they finish on their own: a chained upstream window
        // that needs one always gets it. Released when the call is done or
        // cancelled.
        permits.acquire()
        val task = new FutureTask[B](() => f(a)) {
          override def done(): Unit = permits.release()
        }
        pool.execute(task)
        task
    }
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

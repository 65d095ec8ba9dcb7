package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = graft.core.GraftSession.builder("local[4]", 4)
    .appName("graft-tests")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types._

  /** Runs `action` and sums the per-task updates of the named accumulators
    * over the jobs it ran. */
  protected def accumulated(names: Set[String])(action: => Unit): Map[String, Double] = {
    import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{
      SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
    val sums = new ConcurrentHashMap[String, java.lang.Double]()
    val started, ended = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.foreach { a =>
          (a.name, a.update) match {
            case (Some(n), Some(v: Number)) if names(n) =>
              sums.merge(n, v.doubleValue, (x, y) => x + y)
            case _ => ()
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // the listener bus is asynchronous; a job's task ends reach the
      // listener before its job end
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while ((started.get() == 0 || ended.get() < started.get()) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.get() > 0 && ended.get() == started.get(), "jobs did not finish on the bus")
    } finally spark.sparkContext.removeSparkListener(listener)
    names.map(n => n -> Option(sums.get(n)).map(_.doubleValue).getOrElse(0.0)).toMap
  }

  def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def docsDf: DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    df(schema,
      Row(1L, "the fast spark join is good and fast", "en"),
      Row(2L, "a slow merge sort on the table", "en"),
      Row(3L, "der die und das mit window", "de"),
      Row(4L, "the fast spark join is good and fast", "en"), // exact dup of 1
      Row(5L, "the fast spark join is good and quick", "en"), // near dup of 1
      Row(6L, "completely different words about databases here", "en"))
  }
}

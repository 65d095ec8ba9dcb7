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
    val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    val jobs = listening(_.taskInfo.accumulables.foreach { a =>
      (a.name, a.update) match {
        case (Some(n), Some(v: Number)) if names(n) =>
          sums.merge(n, v.doubleValue, (x, y) => x + y)
        case _ => ()
      }
    })(action)
    assert(jobs > 0, "the action ran no job")
    names.map(n => n -> Option(sums.get(n)).map(_.doubleValue).getOrElse(0.0)).toMap
  }

  /** The number of Spark jobs `action` submits. */
  protected def jobsIn(action: => Unit): Int = listening(_ => ())(action)

  /** Runs `action` with a listener that counts job starts and hands every
    * task end to `onTask`, then drains the listener bus, so the listener has
    * seen every event the action posted. Returns the jobs started. */
  private def listening(onTask: org.apache.spark.scheduler.SparkListenerTaskEnd => Unit)(
      action: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onTask(e)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      action
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    started.get()
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

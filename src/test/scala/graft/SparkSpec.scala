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

package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry on
  * sf0.001 and prints schema + row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println("ENTRY_SCHEMA=" + df.schema.simpleString)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, truncate = false)
    spark.stop()
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Runs a query to its whole result, the way a sink would: a noop write of
  * every row, with the row count observed in the same job. A `count()`
  * lets Catalyst prune the plan down to what counting needs; a write keeps
  * every output column, so its time is the cost of the result itself.
  * Returns the number of rows written. */
object Materialize {
  def noop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** Standard session builder: the configs every graft session needs (UTC,
  * right-sized shuffle partitions, nanosecond-parquet handling) plus SQL
  * registration of the custom expressions. Use this instead of a bare
  * `SparkSession.builder()` so scans of nanosecond timestamp parquet and
  * `cosine_similarity(...)` SQL work out of the box. */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE skew-join splitting: semantic pipelines group/join on content-
      // derived keys (fingerprints, blocking buckets, LSH bands) whose
      // distribution is data-dependent — skew is the norm, not the edge case.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark's cache of generated classes defaults to 100 entries in four
      // LRU segments. Graft plans inline driver-trained state (centroids,
      // codebooks) as literals, so six curation queries already compile
      // ~92 distinct classes; at 100 entries an overfull segment evicts
      // every class it holds before reuse, and how many depends on the
      // code's hashes. A static conf: it must be set before the first
      // query of the JVM compiles.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  def getOrCreate(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    graft.functions.CosineSimilarity.register(spark)
    spark
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the lakehouse OPTIMIZE pass: long-running
  * ingest (especially streaming micro-batches and per-shard appends)
  * accumulates thousands of KB-scale parquet files whose per-file
  * open/footer overhead eventually dominates scan time; compaction
  * rewrites a directory into ~`targetBytes` files. Publicly standard
  * (Delta OPTIMIZE, Iceberg rewrite_data_files); the reference has no
  * storage-maintenance story — §2.14 engine extension next to
  * [[ShardedSink]]/[[IncrementalScan]].
  *
  * Scale shape: `plan` reads ONLY file metadata (names + sizes — no data
  * scan) to decide whether compaction pays; `run` is one read +
  * repartition + write into a temp dir, then an atomic-ish swap (rename
  * within the same filesystem). Output file count =
  * ceil(totalBytes / targetBytes), at most the input file count —
  * bounded, deterministic. The rewrite
  * shuffles once (round-robin repartition); pass `sortCols` to make the
  * pass double as a layout pass ([[graft.ops.ZOrder.layout]] composes
  * upstream for multi-dimension keys).
  */
object Compact {

  final case class Plan(nFiles: Int, totalBytes: Long, targetFiles: Int,
      worthIt: Boolean)

  /** Metadata-only decision: compaction pays when the directory holds
    * more than `targetFiles × ratio` files (default: 4× more files than
    * the target layout). */
  def plan(spark: SparkSession, path: String, targetBytes: Long,
      ratio: Double = 4.0): Plan = {
    require(targetBytes > 0, "targetBytes must be positive")
    val files = listDataFiles(spark, path)
    val total = files.map(_._2).sum
    // never more files than were found: a tiny targetBytes would otherwise
    // plan one output partition per byte
    val target = math.max(1,
      math.min(files.size.toDouble, math.ceil(total.toDouble / targetBytes)).toInt)
    Plan(files.size, total, target, files.size > target * ratio)
  }

  /** Rewrite `path` (a parquet dir) into ~targetBytes files; returns the
    * plan it executed. Skips (worthIt = false) unless `force`. */
  def run(spark: SparkSession, path: String, targetBytes: Long,
      sortCols: Seq[String] = Nil, force: Boolean = false): Plan = {
    val p = plan(spark, path, targetBytes)
    if (!p.worthIt && !force) return p
    val df = spark.read.parquet(path)
    val tmp = s"$path${TmpSuffix}"
    val arranged =
      if (sortCols.nonEmpty)
        df.repartitionByRange(p.targetFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(p.targetFiles)
    arranged.write.mode("overwrite").parquet(tmp)
    // Same-filesystem swap: old dir out, compacted dir in. Hadoop's
    // FileSystem.rename reports most failures by RETURNING FALSE, not
    // throwing — every step is checked, and on failure the swap aborts
    // with the original data untouched (a half-swap rolls the old dir
    // back; nothing is deleted until the new dir is in place). Run
    // compaction from a single maintenance job, not concurrently with
    // writers, like any OPTIMIZE pass.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(s"$path${OldSuffix}")
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(dst, old)) {
      fs.delete(tmpP, true)
      throw new java.io.IOException(
        s"compact: could not move '$path' aside — data left in place")
    }
    if (!fs.rename(tmpP, dst)) {
      val restored = fs.rename(old, dst) // roll the original back
      fs.delete(tmpP, true)
      throw new java.io.IOException(
        s"compact: could not install the compacted dir at '$path'" +
          (if (restored) " — original data restored"
           else s" — ORIGINAL LEFT AT $old"))
    }
    fs.delete(old, true)
    p
  }

  /** Number of data files currently under `path` (metadata only) — the
    * post-compaction layout check Verify gates on. */
  def dataFileCount(spark: SparkSession, path: String): Int =
    listDataFiles(spark, path).size

  private val TmpSuffix = "__graft_compact_tmp"
  private val OldSuffix = "__graft_compact_old"

  private def listDataFiles(spark: SparkSession,
      path: String): Seq[(String, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith("_") && !n.startsWith("."))
        out += n -> f.getLen
    }
    out.result()
  }
}

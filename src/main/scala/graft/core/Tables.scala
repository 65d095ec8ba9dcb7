package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver-provided benchmark tables (TESTDATA.md).
  *
  * Mirrors the reference's `scan` op (reference docetl/operations/scan.py:4-26):
  * a named dataset resolved against a directory of sources. Parquet scans give
  * Catalyst column pruning + predicate pushdown for free.
  *
  * Every parquet input goes through [[parquet]]. `spark.read.parquet(path)`
  * infers the schema with a Spark job (`ParquetFileFormat
  * .mergeSchemasInParallel` submits one even for a single file and ships the
  * Hadoop conf in its closure): ~60 ms per read on 4 cores, against ~5 ms for
  * a read with the schema given. When the path is one parquet file, the
  * driver reads that file's footer itself (a few KB) and converts it with the
  * code the job would run, so the schema, nullability and the session's
  * `binaryAsString` / `int96AsTimestamp` / `inferTimestampNTZ` / `nanosAsLong`
  * settings come out the same. A directory, a glob, a hidden file name
  * (`_x`, `.x`, which Spark's listing skips), a missing path or an unreadable
  * footer falls through to `spark.read.parquet(path)` unchanged, so partition
  * discovery and Spark's own errors stay Spark's. Nothing is cached.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val d = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(d) else d
  }

  /** `spark.read.parquet(path)` without the schema-inference job when `path`
    * is a single parquet file (see the object's scaladoc). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    // Spark globs a path holding any of these characters
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val status = p.getFileSystem(conf).getFileStatus(p)
      val name = status.getPath.getName
      if (!status.isFile || name.startsWith("_") || name.startsWith(".")) None
      else {
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
    } catch { case NonFatal(_) => None }

  /** STREAMING read of the same table with the same `ts` contract — the
    * schema comes from [[parquet]] (readStream requires an explicit
    * schema), and the normalization projection composes onto
    * the stream unchanged. The file streaming source lists a DIRECTORY;
    * when the table ships as a single parquet FILE (the driver's
    * layout), it is exposed through a per-(dir, table) temp directory
    * holding one symlink — metadata only, created once per JVM. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = parquet(spark, path).schema
    val f = new java.io.File(path)
    val streamPath =
      if (f.isDirectory) path
      else streamDirs.synchronized {
        // synchronized: TrieMap.getOrElseUpdate can run the block twice
        // under a race, orphaning the loser's temp dir
        streamDirs.getOrElseUpdate((dir, name), {
          val tmp = java.nio.file.Files
            .createTempDirectory(s"graft_stream_$name")
          java.nio.file.Files.createSymbolicLink(
            tmp.resolve(s"$name.parquet"), f.toPath.toAbsolutePath)
          tmp.toString
        })
      }
    val d = spark.readStream.schema(schema).parquet(streamPath)
    if (name == "events") normalizeEventTs(d) else d
  }

  private val streamDirs =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  // the symlink dirs are metadata-only (one link each); delete them when
  // the JVM exits so looped test/bench sessions don't litter /tmp
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    streamDirs.values.foreach { d =>
      try {
        val p = java.nio.file.Paths.get(d)
        // close the directory stream BEFORE deleting the dir — an open
        // handle leaks an fd and blocks deletion on locking platforms
        val listing = java.nio.file.Files.list(p)
        try listing.forEach(c => java.nio.file.Files.deleteIfExists(c))
        finally listing.close()
        java.nio.file.Files.deleteIfExists(p)
      } catch { case _: Exception => () }
    }))

  /** The driver's `events.ts` has shipped in two physical forms across
    * rounds: parquet TIMESTAMP(NANOS) (read as Long NANOseconds under
    * `spark.sql.legacy.parquet.nanosAsLong`) and parquet TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ). Every suite query does integer time
    * arithmetic, so both normalize here to ONE contract: `ts` = BIGINT
    * epoch MICROseconds. Sessions pin timeZone=UTC, making the NTZ→epoch
    * conversion deterministic (and equal to DuckDB's `epoch_us(ts)` on the
    * same naive values). µs epochs (~1.7e15) also stay under float64's
    * 2^53 exact-integer ceiling, so oracle dataframe coercion is bit-exact
    * — a raw ns epoch would not be. */
  private def normalizeEventTs(d: DataFrame): DataFrame = {
    val tsCol: Option[Column] = d.schema.fields.find(_.name == "ts").map {
      f => f.dataType match {
        case TimestampType    => unix_micros(col("ts"))
        case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
        case LongType         => expr("ts div 1000") // legacy ns-as-long
        case _                => col("ts").cast("long")
      }
    }
    tsCol.fold(d)(c => d.withColumn("ts", c))
  }
}

package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.{Graft, Pipeline}
import graft.core.Tables

/** `Tables.parquet` reads a single file's schema from its footer on the
  * driver: no Spark job, and the same frame `spark.read.parquet` returns. */
class TableReadSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(d: DataFrame): Seq[String] = d.collect().toSeq.map(show).sorted

  /** A value as text, binary by content (an array's `toString` is its identity). */
  private def show(v: Any): String = v match {
    case b: Array[Byte] => b.mkString("bytes(", ",", ")")
    case r: Row => r.toSeq.map(show).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${show(k)}->${show(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(show).mkString("(", ",", ")")
    case other => String.valueOf(other)
  }

  /** The footer read and Spark's inferred read agree on schema (names,
    * types, nullability, metadata) and rows, or throw the same class. */
  private def assertSameRead(path: String): Unit = {
    def attempt(read: => DataFrame) =
      scala.util.Try { val d = read; (d.schema, rows(d)) }
    val (mine, theirs) = (attempt(Tables.parquet(spark, path)), attempt(spark.read.parquet(path)))
    (mine, theirs) match {
      case (scala.util.Success(a), scala.util.Success(b)) =>
        assert(a._1 == b._1, s"schema of $path")
        assert(a._2 == b._2, s"rows of $path")
      case (scala.util.Failure(a), scala.util.Failure(b)) =>
        assert(a.getClass == b.getClass, s"$path: ${a.getMessage} vs ${b.getMessage}")
      case _ => fail(s"$path: $mine vs $theirs")
    }
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tempDir(): String = {
    val d = Files.createTempDirectory("graft_tableread_").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.toString
  }

  /** A parquet file of rows 1 to 3 written without Spark's schema metadata,
    * so the footer's own types are converted. */
  private def rawFile(name: String, message: String)(fill: (Group, Long) => Group): String = {
    val schema = MessageTypeParser.parseMessageType(message)
    val path = s"${tempDir()}/$name.parquet"
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach(i => w.write(fill(groups.newGroup().append("id", i), i)))
    finally w.close()
    path
  }

  /** An unannotated binary column: a string under `binaryAsString`. */
  private lazy val binFile = rawFile("bin",
    "message m { required int64 id; optional binary raw; }")(
    (g, i) => g.append("raw", Binary.fromString(s"r$i")))

  /** A TIMESTAMP(NANOS) column: a long under `nanosAsLong`, an error without. */
  private lazy val nanosFile = rawFile("nanos",
    "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")(
    (g, i) => g.append("ts", i * 1000000007L))

  /** A single part file written by Spark, with non-nullable, nested, map
    * and timestamp columns. */
  private lazy val sparkFile: String = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", ArrayType(StringType, containsNull = false)))), nullable = false),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("t", TimestampType)))
    val data = df(schema,
      Row(1L, Row(1, Seq("x", "y")), Map("k" -> 1.5), java.sql.Timestamp.valueOf("2024-01-02 03:04:05")),
      Row(2L, Row(2, Seq.empty[String]), null, null))
    val dir = s"${tempDir()}/written"
    data.coalesce(1).write.parquet(dir)
    new java.io.File(dir).listFiles().map(_.toString)
      .filter(p => p.endsWith(".parquet") && new java.io.File(p).getName.startsWith("part-"))
      .toSeq match {
      case Seq(one) => one
      case other => fail(s"expected one part file, got $other")
    }
  }

  test("a single-file table read submits no Spark job") {
    Tables.names.foreach { n =>
      assert(jobsIn(Tables(spark, sf, n).schema) == 0, s"Tables($n)")
    }
    val docs = s"$sf/documents.parquet"
    assert(jobsIn(Pipeline.read(spark, docs).schema) == 0, "Pipeline.read")
    assert(jobsIn(Graft.readParquet(spark, docs).df.schema) == 0, "Graft.readParquet")
    assert(jobsIn(Tables.stream(spark, sf, "events").schema) == 0, "Tables.stream")
  }

  test("the footer read equals spark.read.parquet on every table and a Spark-written file") {
    Tables.names.foreach(n => assertSameRead(s"$sf/$n.parquet"))
    assertSameRead(sparkFile)
    assertSameRead(binFile)
    assertSameRead(nanosFile)
  }

  test("the footer read follows binaryAsString and nanosAsLong set on a live session") {
    def footerTypes(path: String): Seq[DataType] = {
      var types = Seq.empty[DataType]
      assert(jobsIn { types = Tables.parquet(spark, path).schema.map(_.dataType) } == 0, path)
      types
    }
    assert(footerTypes(binFile) == Seq(LongType, BinaryType))
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assertSameRead(binFile)
      assertSameRead(sparkFile)
      assertSameRead(s"$sf/documents.parquet")
      assert(footerTypes(binFile) == Seq(LongType, StringType))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertSameRead(nanosFile)
      assert(footerTypes(nanosFile) == Seq(LongType, LongType))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assertSameRead(nanosFile)
      assertSameRead(sparkFile)
      assertSameRead(s"$sf/events.parquet")
      assert(scala.util.Try(Tables.parquet(spark, nanosFile).schema).isFailure,
        "a nanos column without nanosAsLong is Spark's error")
    }
  }

  test("a partitioned directory, a glob, a hidden file and a missing path read as Spark reads them") {
    val dir = s"${tempDir()}/parts"
    Tables.parquet(spark, s"$sf/documents.parquet").select(col("doc_id"), col("lang"))
      .write.partitionBy("lang").parquet(dir)
    assertSameRead(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("doc_id", "lang"))
    assertSameRead(s"$dir/lang=*")
    assertSameRead(s"$dir/*/*.parquet")
    val hidden = s"${tempDir()}/_hidden.parquet"
    Files.copy(java.nio.file.Paths.get(sparkFile), java.nio.file.Paths.get(hidden))
    assertSameRead(hidden)
    assertSameRead(s"$sf/no_such_table.parquet")
    assertSameRead(s"$sf/../sf0.001/region.parquet")
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the similarity and n-gram counting kernels: each is
  * written once, in its own file, and every arm that uses it calls it. A
  * second copy anywhere under `graft` fails this spec, and so does a
  * return of the keyed-shuffle overlap join or the per-gram `filter` mode
  * search the n-gram kernels replaced. Copies drift (a seed, a rounding, a
  * tie order), and an exact-vs-approximate recall check hooks one kernel
  * per arm. */
class KernelPathSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** (kernel, the one file that holds it, a pattern matching its body). */
  private val kernels: Seq[(String, String, Regex)] = Seq(
    ("hyperplane generator", "functions/VectorFunctions.scala", raw"nextGaussian\(\)".r),
    ("hyperplane sign sketch", "functions/VectorFunctions.scala",
      raw"otherwise\(0L\)\s*\*\s*\(1L\s*<<".r),
    ("MinHash band keys", "functions/MinHashSignature.scala",
      raw"""slice\(col\("_sig"\)|xxhash64\(\s*\w+\s*,\s*slice\(""".r),
    ("per-query cosine top-k", "ann/Ann.scala",
      raw"""orderBy\(col\("score"\)\.desc,\s*col\("neighbor_id"\)\.asc\)""".r),
    ("per-query ADC top-k", "ann/ProductQuantize.scala", raw"""orderBy\(col\("adc_dist"\)\.asc""".r),
    ("processing-time gate timeout", "streaming/Streams.scala", raw"\bsetTimeoutDuration\b".r),
    ("event-time gate timeout", "streaming/Streams.scala", raw"\bsetTimeoutTimestamp\b".r),
    ("clipped n-gram overlap", "functions/NgramCounts.scala",
      raw"""\btable\.take\(|least\(col\("_cc"\)""".r),
    ("n-gram mode count", "functions/NgramCounts.scala",
      raw"""\.load\(seq, n\)|transform\(array_distinct\(\w+\),\s*\w+\s*=>\s*size\(filter\(""".r))

  /** Comments blanked, so prose may describe a kernel. */
  private def uncommented(src: String): String =
    src.replaceAll(raw"(?s)/\*.*?\*/", " ").replaceAll("//[^\n]*", " ")

  test("the patterns flag the copies they replaced, not the kernel calls") {
    def hits(src: String) = kernels.filter(_._3.findFirstIn(src).nonEmpty).map(_._1)
    assert(hits("val planes = Array.fill(numPlanes, dim)(rng.nextGaussian())") ==
      Seq("hyperplane generator"))
    assert(hits("when(dot(c, p) > 0, 1L).otherwise(0L) * (1L << i)") ==
      Seq("hyperplane sign sketch"))
    assert(hits("""b => xxhash64(b, slice(col("_sig"), b * rowsPerBand + 1, lit(r)))""") ==
      Seq("MinHash band keys"))
    assert(hits("""Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)""") == Seq("per-query cosine top-k"))
    assert(hits("""Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)""") == Seq("per-query ADC top-k"))
    assert(hits("stateTtl.foreach(state.setTimeoutDuration)") == Seq("processing-time gate timeout"))
    assert(hits("state.setTimeoutTimestamp(base, stateTtl)") == Seq("event-time gate timeout"))
    assert(hits("""agg(sum(least(col("_cc"), col("_rc"))).as("_ov"))""") ==
      Seq("clipped n-gram overlap"))
    assert(hits("""round(array_max(transform(array_distinct(toks),
      t => size(filter(toks, y => y === t)))).cast("double") / size(toks), 6)""") ==
      Seq("n-gram mode count"))
    assert(hits("size(filter(toks, t => array_contains(sw, t)))").isEmpty)
    assert(hits("ClippedNgramOverlap(col(\"_cs\"), col(\"_rs\"), 1, maxN)").isEmpty)
    assert(hits("VectorFunctions.sketch(col(e), VectorFunctions.planes(8, dim, seed))").isEmpty)
    assert(hits("""posexplode(MinHashSignature.bandKeys(col("_sig"), 64, 16))""").isEmpty)
    assert(hits("""xxhash64(concat_ws(" ", slice(col("_toks"), i, n)))""").isEmpty)
    assert(hits(uncommented("// rng.nextGaussian() per plane")).isEmpty)
  }

  test("each similarity kernel is written once, in its own file") {
    val files: Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.size > 100, s"scanned only ${files.size} files")
    val sources = files.map(f =>
      root.relativize(f).toString -> uncommented(new String(Files.readAllBytes(f), "UTF-8")))
    val problems = kernels.flatMap { case (kernel, home, pattern) =>
      sources.flatMap { case (file, src) =>
        val n = pattern.findAllMatchIn(src).size
        val expected = if (file == home) 1 else 0
        if (n == expected) None else Some(s"$file: $n copies of the $kernel (expected $expected)")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }
}

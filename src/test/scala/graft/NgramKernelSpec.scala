package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ClippedNgramOverlap, TextFunctions => TF, TopGramCount}
import graft.ops.TextSim

/** The row-local n-gram kernels: unit edges of `ClippedNgramOverlap` and
  * `TopGramCount`, one row out per row in for the metrics built on them,
  * and row-for-row parity with the keyed-shuffle and higher-order-function
  * forms they replaced ([[NgramReference]]) on seeded random inputs. */
class NgramKernelSpec extends SparkSpec {

  private def utf(s: String) = UTF8String.fromString(s)
  private def longs(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Long] =
    a.toLongArray().toSeq
  private def strs(xs: String*) = new GenericArrayData(xs.map(utf).toArray[Any])

  private def tmpParquet(d: DataFrame, name: String): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_$name")
      .resolve("t.parquet").toString
    d.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("ClippedNgramOverlap on strings counts code-point windows") {
    def ov(c: String, r: String, lo: Int, hi: Int) =
      longs(ClippedNgramOverlap.compute(utf(c), utf(r), lo, hi))
    assert(ov("aaa", "aa", 1, 3) == Seq(2L, 1L, 0L))
    // three code points, four UTF-16 units: one 3-gram, never a 4-gram
    assert(ov("a\uD83D\uDE00b", "\uD83D\uDE00b", 1, 3) == Seq(2L, 1L, 0L))
    assert(ov("a\uD83D\uDE00b", "a\uD83D\uDE00b", 3, 4) == Seq(1L, 0L))
    // a combining mark is a character of its own, as Spark's length counts it
    assert(ov("e\u0301", "\u0301e", 1, 2) == Seq(2L, 0L))
    assert(ov("", "abc", 1, 2) == Seq(0L, 0L))
    assert(ov("abc", "", 1, 1) == Seq(0L))
    assert(ov("abab", "baba", 2, 2) == Seq(2L))
  }

  test("ClippedNgramOverlap on token arrays counts token windows") {
    def ov(c: Seq[String], r: Seq[String], lo: Int, hi: Int) =
      longs(ClippedNgramOverlap.compute(strs(c: _*), strs(r: _*), lo, hi))
    assert(ov(Seq("a", "b", "a", "b"), Seq("a", "b", "b"), 1, 2) == Seq(3L, 1L))
    assert(ov(Seq("x"), Seq("x"), 2, 2) == Seq(0L))
    assert(ov(Seq(), Seq("x"), 1, 1) == Seq(0L))
    // a window is a token sequence, not the joined string
    assert(ov(Seq("a b", "c"), Seq("a", "b c"), 1, 2) == Seq(0L, 0L))
  }

  test("TopGramCount edges: fewer than n tokens, empty text, empty tokens") {
    assert(TopGramCount.compute(utf("a b"), 3) == 1)
    assert(TopGramCount.compute(utf(""), 1) == 1)
    assert(TopGramCount.compute(utf(""), 2) == 1)
    assert(TopGramCount.compute(utf("a  a"), 1) == 2)
    assert(TopGramCount.compute(utf("  "), 1) == 3)
    assert(TopGramCount.compute(utf("x y x y"), 2) == 2)
    assert(TopGramCount.compute(utf("x y z"), 3) == 1)
  }

  test("a null side gives null through both the generated and the interpreted path") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", StringType), StructField("b", StringType)))
    val local = df(schema, Row(1L, null, "ab"), Row(2L, "ab", null), Row(3L, "ab", "ab"))
    for (d <- Seq(local, tmpParquet(local, "kernelnull"))) {
      val got = d.select(col("id"),
        ClippedNgramOverlap(col("a"), col("b"), 1, 2).as("ov"),
        TopGramCount(col("a"), 2).as("top"))
        .orderBy("id").collect().map(r =>
          (Option(r.getSeq[Long](1)), if (r.isNullAt(2)) None else Some(r.getInt(2))))
      assert(got.toSeq == Seq((None, None), (None, Some(1)),
        (Some(Seq(2L, 1L)), Some(1))))
    }
  }

  test("one row out per row in: duplicate and null ids keep their own rows") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("cand", StringType), StructField("ref", StringType)))
    val d = df(schema, Row(1L, "a b c", "a b c"), Row(1L, "a b c", "a b c"),
      Row(null, "a b c", "a b c"))
    val chrf = TextSim.chrF(d, Seq("id"), "cand", "ref", maxN = 2).collect()
    assert(chrf.length == 3 && chrf.forall(_.getAs[Double]("chrf") == 1.0),
      chrf.mkString(", "))
    val bleu = TextSim.bleu(d, Seq("id"), "cand", "ref", maxN = 2).collect()
    assert(bleu.length == 3 && bleu.forall(_.getAs[Double]("bleu") == 1.0),
      bleu.mkString(", "))
    val f1 = TextSim.ngramF1(d, Seq("id"), "cand", "ref", n = 1).collect()
    assert(f1.length == 3, f1.mkString(", "))
    for (r <- f1) {
      assert(r.getAs[Long]("overlap") == 3L, r)
      for (m <- Seq("precision", "recall", "f1")) assert(r.getAs[Double](m) == 1.0, r)
    }
  }

  /** Seeded random texts over pieces that hit every trap: non-BMP
    * characters, combining marks, tabs and newlines, runs of spaces (empty
    * split tokens), repeated words, case, and empty, blank and null sides. */
  private def randomPairs(seed: Long, rows: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val pieces = Seq("a", "b", "c", "the", "cat", "A", "The", " ", " ", "  ",
      "\t", "\n", "\uD83D\uDE00", "a\uD83D\uDE00b", "\u00e9", "e\u0301", "x y",
      "ab", "a-b", "")
    def text(): String = rng.nextInt(10) match {
      case 0 => null
      case 1 => ""
      case 2 => Seq(" ", "  \t", "\n ")(rng.nextInt(3))
      case _ => Seq.fill(rng.nextInt(14))(pieces(rng.nextInt(pieces.size))).mkString
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("cand", StringType), StructField("ref", StringType)))
    df(schema, (0 until rows).map(i => Row(i.toLong, text(), text())): _*)
  }

  private def sameRows(name: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), name)
    val g = got.collect().sortBy(_.getLong(0)).toSeq
    val w = want.collect().sortBy(_.getLong(0)).toSeq
    assert(g.size == w.size, s"$name: ${g.size} rows vs ${w.size}")
    val diffs = g.zip(w).filter { case (a, b) => a != b }
    assert(diffs.isEmpty, s"$name: ${diffs.take(5).mkString("; ")}")
  }

  test("kernels match the keyed-shuffle and lambda forms row for row") {
    for (seed <- Seq(11L, 12L)) {
      val local = randomPairs(seed, 160)
      // a parquet scan runs the generated code; the local relation is
      // folded by the interpreted path
      for ((d, path) <- Seq(local -> "interpreted",
          tmpParquet(local, s"ngramparity$seed") -> "generated")) {
        val tag = s"seed $seed, $path"
        for (n <- Seq(1, 2, 6))
          sameRows(s"chrF maxN=$n, $tag", TextSim.chrF(d, Seq("id"), "cand", "ref", maxN = n),
            NgramReference.chrF(d, Seq("id"), "cand", "ref", maxN = n))
        sameRows(s"chrF beta=1, $tag",
          TextSim.chrF(d, Seq("id"), "cand", "ref", maxN = 3, beta = 1.0),
          NgramReference.chrF(d, Seq("id"), "cand", "ref", maxN = 3, beta = 1.0))
        for (n <- Seq(1, 2, 4))
          sameRows(s"bleu maxN=$n, $tag", TextSim.bleu(d, Seq("id"), "cand", "ref", maxN = n),
            NgramReference.bleu(d, Seq("id"), "cand", "ref", maxN = n))
        for (n <- Seq(1, 2, 3))
          sameRows(s"ngramF1 n=$n, $tag", TextSim.ngramF1(d, Seq("id"), "cand", "ref", n),
            NgramReference.ngramF1(d, Seq("id"), "cand", "ref", n))
        for (c <- Seq("cand", "ref"))
          sameRows(s"top shares of $c, $tag",
            d.select(col("id"), TF.topTokenFraction(col(c)).as("t1"),
              TF.topNgramFraction(col(c), 2).as("t2"),
              TF.topNgramFraction(col(c), 3).as("t3")),
            d.select(col("id"), NgramReference.topTokenFraction(col(c)).as("t1"),
              NgramReference.topNgramFraction(col(c), 2).as("t2"),
              NgramReference.topNgramFraction(col(c), 3).as("t3")))
      }
    }
  }

  test("q75 and q111 top shares carry no higher-order function") {
    val dir = java.nio.file.Files.createTempDirectory("graft_topshare").toString
    val docs = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    df(docs, Row(1L, "the cat the cat sat"), Row(2L, "a  b"))
      .write.parquet(s"$dir/documents.parquet")
    for ((q, cols) <- Seq(
        "q75_repetition_stats" -> Seq("top_word_frac", "top_2gram_frac"),
        "q111_quality_rules" -> Seq("top_2gram_frac"))) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      for (c <- cols) {
        val defs = plan.flatMap(_.expressions).flatMap(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Alias if a.name == c => a
        })
        assert(defs.nonEmpty, s"$q: no $c in ${plan.treeString.take(600)}")
        assert(defs.forall(_.find(_.isInstanceOf[HigherOrderFunction]).isEmpty),
          s"$q.$c: ${defs.mkString("; ")}")
        assert(defs.exists(_.find(_.isInstanceOf[TopGramCount]).nonEmpty), s"$q.$c")
      }
    }
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.ops.CorpusDrift

class CorpusDriftSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  private def jsd(a: Seq[String], b: Seq[String]): Double = {
    val rows = jsdRow(a, b)
    rows.getDouble(rows.fieldIndex("js_divergence"))
  }

  private def jsdRow(a: Seq[String], b: Seq[String]): Row =
    CorpusDrift.jensenShannon(
      df(schema, a.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }: _*),
      "text",
      df(schema, b.zipWithIndex.map { case (t, i) => Row(100L + i, t) }: _*),
      "text").collect()(0)

  test("identical corpora have zero divergence") {
    val c = Seq("alpha beta gamma", "beta gamma delta")
    assert(jsd(c, c) === 0.0)
  }

  test("divergence is symmetric and bounded by ln 2") {
    val a = Seq("aa aa bb", "cc")
    val b = Seq("xx yy", "zz zz zz")
    val ab = jsd(a, b)
    val ba = jsd(b, a)
    assert(ab === ba)
    assert(ab > 0.0 && ab <= math.log(2.0) + 1e-9)
  }

  test("matches the brute-force smoothed JSD") {
    val a = Seq("p p q", "r")
    val b = Seq("p q q q", "s s")
    def counts(c: Seq[String]) =
      c.flatMap(_.split(" ")).groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val (ca, cb) = (counts(a), counts(b))
    val vocab = (ca.keySet ++ cb.keySet).toSeq
    val na = ca.values.sum; val nb = cb.values.sum; val v = vocab.size.toDouble
    val expected = vocab.map { t =>
      val p = (ca.getOrElse(t, 0.0) + 1) / (na + v)
      val q = (cb.getOrElse(t, 0.0) + 1) / (nb + v)
      val m = (p + q) / 2
      0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
    }.sum
    assert(math.abs(jsd(a, b) -
      BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6)
  }

  test("scalars report the joint vocab and per-side token totals") {
    val r = jsdRow(Seq("a b c"), Seq("c d"))
    assert(r.getLong(r.fieldIndex("vocab_size")) === 4L)
    assert(r.getLong(r.fieldIndex("tokens_a")) === 3L)
    assert(r.getLong(r.fieldIndex("tokens_b")) === 2L)
  }

  test("Frame and LazyFrame wire corpusDrift end to end") {
    val a = df(schema, Row(1L, "x y"))
    val b = df(schema, Row(2L, "y z"))
    val viaFrame = graft.api.Graft.fromDF(a)
      .corpusDrift(graft.api.Graft.fromDF(b), "text")
    assert(viaFrame.count() === 1)

    import graft.api.{LazyFrame, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("cdrift").toString
    a.write.mode("overwrite").parquet(s"$dir/a.parquet")
    b.write.mode("overwrite").parquet(s"$dir/b.parquet")
    val lf = LazyFrame.read("a", s"$dir/a.parquet")
      .corpusDrift(LazyFrame.read("b", s"$dir/b.parquet"), "text")
    assert(LazyFrame.fromYaml(lf.toYaml).toYaml == lf.toYaml)
    assert(Pipeline.runYaml(lf.toYaml, spark).count() == 1)
  }
}

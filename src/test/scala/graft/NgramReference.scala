package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The keyed-shuffle n-gram metrics and the higher-order-function mode
  * searches that `TextSim.chrF` / `bleu` / `ngramF1` and
  * `TextFunctions.topTokenFraction` / `topNgramFraction` replaced. Kept
  * only as the reference the kernel parity spec compares against: each
  * explodes its grams into rows and counts them with a shuffle keyed by
  * (ids, order, gram), so it is correct only when the ids are unique. */
object NgramReference {

  private def tokens(c: Column): Column =
    graft.functions.TextFunctions.alnumTokens(c)

  /** (order, gram) structs for every order in `orders` over a staged
    * column; orders with too few units contribute an empty array. */
  private def orderedGramStructs(src: Column, orders: Range,
      sizeOf: Column => Column,
      gramAt: (Column, Column, Int) => Column): Column =
    flatten(array(orders.map { n =>
      when(sizeOf(src) >= n,
        transform(sequence(lit(1), sizeOf(src) - (n - 1)),
          i => struct(lit(n).as("_n"), gramAt(src, i, n).as("_g"))))
        .otherwise(array().cast("array<struct<_n:int,_g:string>>"))
    }: _*))

  private def wordGramStructs(toksCol: Column, orders: Range): Column =
    orderedGramStructs(toksCol, orders, size,
      (t, i, n) => array_join(slice(t, i, lit(n)), " "))

  private def charGramStructs(strCol: Column, orders: Range): Column =
    orderedGramStructs(strCol, orders, length,
      (s, i, n) => s.substr(i, lit(n)))

  /** Clipped multiset overlap per (ids, order) via two keyed counts and
    * one keyed join; rows/orders with no shared gram are absent. */
  private def clippedOverlap(base: DataFrame, idCols: Seq[String],
      candGrams: Column, refGrams: Column): DataFrame = {
    val ids = idCols.map(col)
    def counted(src: Column, out: String) = base
      .select(ids :+ explode(src).as("_x"): _*)
      .select(ids :+ col("_x._n").as("_n") :+ col("_x._g").as("_g"): _*)
      .groupBy(ids :+ col("_n") :+ col("_g"): _*)
      .agg(count(lit(1)).as(out))
    counted(candGrams, "_cc")
      .join(counted(refGrams, "_rc"), idCols :+ "_n" :+ "_g")
      .groupBy(ids :+ col("_n"): _*)
      .agg(sum(least(col("_cc"), col("_rc"))).as("_ov"))
  }

  def ngramF1(df: DataFrame, idCols: Seq[String], candCol: String,
      refCol: String, n: Int): DataFrame = {
    val ids = idCols.map(col)
    val staged = df.select(ids :+ tokens(col(candCol)).as("_ctf") :+
      tokens(col(refCol)).as("_rtf"): _*)
    def gramsOf(c: Column): Column =
      when(size(c) >= n,
        transform(sequence(lit(1), size(c) - (n - 1)),
          i => array_join(slice(c, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    val base = staged.select(ids :+ gramsOf(col("_ctf")).as("_cg") :+
      gramsOf(col("_rtf")).as("_rg"): _*)
    val totals = base.select(ids :+ size(col("_cg")).cast("bigint")
      .as("cand_grams") :+ size(col("_rg")).cast("bigint")
      .as("ref_grams"): _*)
    def counted(g: String, out: String) = base
      .select(ids :+ explode(col(g)).as("_g"): _*)
      .groupBy(ids :+ col("_g"): _*)
      .agg(count(lit(1)).as(out))
    val overlap = counted("_cg", "_cc")
      .join(counted("_rg", "_rc"), idCols :+ "_g")
      .groupBy(ids: _*)
      .agg(sum(least(col("_cc"), col("_rc"))).as("overlap"))
    val joined = totals.join(overlap, idCols, "left")
      .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
    val p = when(col("cand_grams") > 0,
      col("overlap").cast("double") / col("cand_grams")).otherwise(0.0)
    val r = when(col("ref_grams") > 0,
      col("overlap").cast("double") / col("ref_grams")).otherwise(0.0)
    joined
      .withColumn("precision", round(p, 6))
      .withColumn("recall", round(r, 6))
      .withColumn("f1",
        round(when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(0.0), 6))
  }

  def bleu(df: DataFrame, idCols: Seq[String], candCol: String,
      refCol: String, maxN: Int = 4): DataFrame = {
    val ids = idCols.map(col)
    val base = df.select(ids :+ tokens(col(candCol)).as("_ct") :+
      tokens(col(refCol)).as("_rt"): _*)
    val overlap = clippedOverlap(base, idCols,
      wordGramStructs(col("_ct"), 1 to maxN),
      wordGramStructs(col("_rt"), 1 to maxN))
    val skeleton = base
      .select(ids :+ size(col("_ct")).cast("bigint").as("_lc") :+
        size(col("_rt")).cast("bigint").as("_lr"): _*)
      .withColumn("_n", explode(sequence(lit(1), lit(maxN))))
      .withColumn("_tot", greatest(col("_lc") - col("_n") + 1, lit(0L)))
    val perOrder = skeleton
      .join(overlap, idCols :+ "_n", "left")
      .withColumn("_ov", coalesce(col("_ov"), lit(0L)))
      .withColumn("_zero", col("_tot") === 0 || col("_ov") === 0)
      .withColumn("_lnMicro", when(col("_zero"), lit(0L))
        .otherwise(round(log(col("_ov").cast("double") / col("_tot")) * 1e6)
          .cast("bigint")))
    val bp = when(col("_lc") >= col("_lr"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("_lr").cast("double") / col("_lc")))
    perOrder.groupBy(ids: _*)
      .agg(first(col("_lc")).as("_lc"), first(col("_lr")).as("_lr"),
        max(when(col("_zero"), 1).otherwise(0)).as("_anyZero"),
        sum(col("_lnMicro")).as("_sln"))
      .withColumn("bleu",
        round(when(col("_anyZero") === 1 || col("_lc") === 0, 0.0)
          .otherwise(bp *
            exp(col("_sln").cast("double") / (maxN * 1e6))), 6))
      .select(ids :+ col("_lc").as("cand_tokens") :+
        col("_lr").as("ref_tokens") :+ col("bleu"): _*)
  }

  def chrF(df: DataFrame, idCols: Seq[String], candCol: String,
      refCol: String, maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    val ids = idCols.map(col)
    def cleaned(c: Column): Column =
      coalesce(regexp_replace(c, "\\s+", ""), lit(""))
    val base = df.select(ids :+ cleaned(col(candCol)).as("_cs") :+
      cleaned(col(refCol)).as("_rs"): _*)
    val overlap = clippedOverlap(base, idCols,
      charGramStructs(col("_cs"), 1 to maxN),
      charGramStructs(col("_rs"), 1 to maxN))
    val skeleton = base
      .select(ids :+ length(col("_cs")).as("_lc") :+
        length(col("_rs")).as("_lr"): _*)
      .withColumn("_n", explode(sequence(lit(1), lit(maxN))))
      .withColumn("_ct", greatest(col("_lc") - col("_n") + 1, lit(0)))
      .withColumn("_rt", greatest(col("_lr") - col("_n") + 1, lit(0)))
    val perOrder = skeleton
      .join(overlap, idCols :+ "_n", "left")
      .withColumn("_ov", coalesce(col("_ov"), lit(0L)))
      .withColumn("_pMicro", when(col("_ct") > 0,
        round(col("_ov") * 1e6 / col("_ct")).cast("bigint"))
        .otherwise(lit(0L)))
      .withColumn("_rMicro", when(col("_rt") > 0,
        round(col("_ov") * 1e6 / col("_rt")).cast("bigint"))
        .otherwise(lit(0L)))
    val b2 = beta * beta
    perOrder.groupBy(ids: _*)
      .agg(sum(col("_pMicro")).as("_sp"), sum(col("_rMicro")).as("_sr"))
      .withColumn("_chrP", col("_sp").cast("double") / (maxN * 1e6))
      .withColumn("_chrR", col("_sr").cast("double") / (maxN * 1e6))
      .withColumn("chrf",
        round(when(lit(b2) * col("_chrP") + col("_chrR") > 0,
          lit(1 + b2) * col("_chrP") * col("_chrR") /
            (lit(b2) * col("_chrP") + col("_chrR")))
          .otherwise(0.0), 6))
      .select(ids :+ col("chrf"): _*)
  }

  def topTokenFraction(c: Column): Column = {
    val toks = split(c, " ")
    round(array_max(transform(array_distinct(toks),
      t => size(filter(toks, y => y === t)))).cast("double") / size(toks), 6)
  }

  def topNgramFraction(c: Column, n: Int): Column = {
    val grams = graft.functions.TextFunctions.shingles(c, n)
    round(array_max(transform(array_distinct(grams),
      g => size(filter(grams, y => y === g)))).cast("double") / size(grams), 6)
  }
}

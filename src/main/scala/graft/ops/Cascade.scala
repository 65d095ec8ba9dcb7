package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Cached, LlmClient, Meter, Template}

/** Model cascade for filter-shaped ops (reference
  * docetl/operations/utils/cascade_runner.py, SURVEY.md §2.11/§4.2):
  *
  *   1. A cheap *proxy* model scores every row with a confidence
  *      (single-token logprob in the reference, api.py:1004).
  *   2. A confidence threshold is *calibrated on an oracle-labeled sample*
  *      to meet the target guarantee (recall for filters —
  *      cascade_runner.py:33-36) — the sample is O(calibrationSize), driver
  *      side, 100 TB-safe (SURVEY.md §7.5.3).
  *   3. Confident rows keep the proxy decision; the rest escalate to the
  *      oracle model. The escalated sub-DataFrame is the only expensive part.
  *
  * Two full passes over the data, both distributed; the only collect is the
  * calibration sample.
  */
object CascadeFilter {

  final case class Config(
      name: String,
      prompt: String,
      decisionKey: String = "keep",
      proxyModel: String = "proxy",
      oracleModel: String = "oracle",
      targetRecall: Double = 0.9,
      calibrationSize: Int = 100)

  def apply(df: DataFrame, cfg: Config, proxy: LlmClient, oracle: LlmClient): DataFrame =
    applyWithThreshold(df, cfg, proxy, oracle)._1

  /** Like [[apply]] but also returns the calibrated threshold — the
    * testable seam for the partition-invariance guarantee (the sample is a
    * seeded hash head, so the threshold must not change under
    * `repartition`). */
  private[graft] def applyWithThreshold(
      df: DataFrame, cfg: Config, proxy: LlmClient, oracle: LlmClient): (DataFrame, Double) = {
    val tpl = Template(cfg.prompt, df.schema)
    val boolSchema = StructType(Seq(StructField(cfg.decisionKey, BooleanType)))
    val scoredSchema = df.schema
      .add(StructField("_graft_dec", BooleanType))
      .add(StructField("_graft_conf", DoubleType))
    val proxyModel = cfg.proxyModel
    val meter = Meter(df.sparkSession, cfg.name)

    // Pass 1: proxy decision + confidence for every row.
    val scored = graft.core.PersistScope.register(df.mapPartitions { it =>
      it.map { row =>
        val p = tpl.render(row)
        val dec = Cached.complete(proxy, meter, proxyModel, p, boolSchema)
          .values(cfg.decisionKey).asInstanceOf[Boolean]
        val conf = Cached.confidence(proxy, meter, proxyModel, p)
        Row.fromSeq(row.toSeq :+ dec :+ conf)
      }
    }(Encoders.row(scoredSchema)).persist())

    // Calibration: oracle-label an order-invariant sample, pick the smallest
    // threshold whose proxy decisions reach targetRecall on it. seededHead
    // (not .limit) — a head sample is whatever file lists first, so at scale
    // the recall guarantee would be calibrated on one file's distribution
    // (same fix as SemanticMap calibrate / Ann.trainCentroids).
    val sample = SampleOp.seededHead(scored, cfg.calibrationSize).collect()
    val oracleModel = cfg.oracleModel
    val tplIdx = scoredSchema.fieldIndex("_graft_dec")
    val confIdx = scoredSchema.fieldIndex("_graft_conf")
    val labeled = sample.map { row =>
      val p = tpl.render(row)
      val truth = Cached.complete(oracle, meter, oracleModel, p, boolSchema)
        .values(cfg.decisionKey).asInstanceOf[Boolean]
      (row.getBoolean(tplIdx), row.getDouble(confIdx), truth)
    }
    val threshold = calibrate(labeled.toSeq, cfg.targetRecall)

    // Pass 2: confident rows keep the proxy verdict; the rest escalate.
    val confident = scored.filter(col("_graft_conf") >= threshold)
      .filter(col("_graft_dec"))
      .drop("_graft_dec", "_graft_conf")
    val escalated = scored.filter(col("_graft_conf") < threshold)
      .drop("_graft_dec", "_graft_conf")
    val escalatedKept = SemanticFilter(escalated, SemanticMapConfig(
      name = cfg.name, prompt = cfg.prompt,
      outputSchema = Seq(cfg.decisionKey -> "bool"),
      model = cfg.oracleModel), oracle)
    (confident.unionByName(escalatedKept), threshold)
  }

  /** Smallest confidence threshold t such that, on the labeled sample,
    * true-positives among rows with conf >= t (proxy) plus all rows below t
    * (escalated to oracle = perfect) recover >= targetRecall of positives. */
  private[graft] def calibrate(
      labeled: Seq[(Boolean, Double, Boolean)], targetRecall: Double): Double = {
    val positives = labeled.count(_._3)
    if (positives == 0) return 0.0
    val candidates = labeled.map(_._2).distinct.sorted :+ 1.1
    candidates.find { t =>
      val recovered = labeled.count { case (dec, conf, truth) =>
        truth && (if (conf >= t) dec else true) // below t -> oracle gets it right
      }
      recovered.toDouble / positives >= targetRecall
    }.getOrElse(1.1)
  }
}

/** Model cascade for PAIRWISE comparisons (resolve/equijoin verify stage) —
  * the reference's precision-guarantee mode (cascade defaults:
  * resolve/equijoin -> precision, cascade_runner.py:33-36):
  *
  *   1. the proxy model answers is_match + a confidence for every candidate
  *      pair;
  *   2. a threshold is calibrated on an oracle-labeled sample of the
  *      proxy's ACCEPTS so that accepts at conf >= t reach `targetPrecision`;
  *   3. confident accepts are trusted; everything else (low-confidence
  *      accepts and all rejects) re-asks the oracle model.
  *
  * Returns the input filtered to matches; `clCol`/`crCol` are the two
  * rendered compare sides. */
object CascadeCompare {

  final case class Config(
      proxyModel: String = "proxy",
      oracleModel: String = "oracle",
      targetPrecision: Double = 0.9,
      calibrationSize: Int = 100)

  def apply(
      pairs: DataFrame,
      clCol: String,
      crCol: String,
      cfg: Config,
      client: LlmClient): DataFrame =
    applyWithThreshold(pairs, clCol, crCol, cfg, client)._1

  /** Like [[apply]] but also returns the calibrated threshold (see
    * [[CascadeFilter.applyWithThreshold]]). */
  private[graft] def applyWithThreshold(
      pairs: DataFrame,
      clCol: String,
      crCol: String,
      cfg: Config,
      client: LlmClient): (DataFrame, Double) = {
    val schema = pairs.schema
    val (iL, iR) = (schema.fieldIndex(clCol), schema.fieldIndex(crCol))
    val scoredSchema = schema
      .add(StructField("_graft_dec", BooleanType))
      .add(StructField("_graft_conf", DoubleType))
    val proxyModel = cfg.proxyModel
    val meter = Meter(pairs.sparkSession, "cascade_compare")
    val scored = graft.core.PersistScope.register(pairs.mapPartitions { it =>
      it.map { row =>
        val p = s"${row.getString(iL)}\n###\n${row.getString(iR)}"
        Row.fromSeq(row.toSeq :+ Cached.compare(client, meter, proxyModel, p)
          :+ Cached.confidence(client, meter, proxyModel, p))
      }
    }(Encoders.row(scoredSchema)).persist())

    val decIdx = scoredSchema.fieldIndex("_graft_dec")
    val confIdx = scoredSchema.fieldIndex("_graft_conf")
    val oracleModel = cfg.oracleModel
    // Order-invariant sample of the proxy's accepts (not .limit: head order
    // is partition-list order, which would calibrate the precision band on
    // the first file at scale).
    val sample = SampleOp.seededHead(
      scored.filter(col("_graft_dec")), cfg.calibrationSize).collect()
    val labeled = sample.map { row =>
      val p = s"${row.getString(iL)}\n###\n${row.getString(iR)}"
      (row.getDouble(confIdx), Cached.compare(client, meter, oracleModel, p))
    }
    val threshold = calibratePrecision(labeled.toSeq, cfg.targetPrecision)

    val trusted = scored.filter(col("_graft_dec") && col("_graft_conf") >= threshold)
    val escalated = scored.filter(!col("_graft_dec") || col("_graft_conf") < threshold)
    val escalatedMatches = escalated.mapPartitions { it =>
      it.filter { row =>
        Cached.compare(client, meter, oracleModel, s"${row.getString(iL)}\n###\n${row.getString(iR)}")
      }
    }(Encoders.row(scoredSchema))
    (trusted.unionByName(escalatedMatches).drop("_graft_dec", "_graft_conf"), threshold)
  }

  /** Smallest threshold t whose proxy-accepts at conf >= t reach the target
    * precision on the oracle-labeled sample (below-t accepts escalate, so
    * only the trusted band needs the guarantee). */
  private[graft] def calibratePrecision(
      labeled: Seq[(Double, Boolean)], targetPrecision: Double): Double = {
    if (labeled.isEmpty) return 0.0
    val candidates = labeled.map(_._1).distinct.sorted :+ 1.1
    candidates.find { t =>
      val band = labeled.filter(_._1 >= t)
      band.isEmpty || band.count(_._2).toDouble / band.size >= targetPrecision
    }.getOrElse(1.1)
  }
}

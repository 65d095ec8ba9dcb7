package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.llm.{LlmClient, MockLlmClient}
import graft.ops._

/** Fluent lazy builder over DataFrame — the Scala analog of the reference's
  * pandas-like Frame API (reference docetl/apis/frame.py:337-1119). Every
  * call stays lazy (Spark plans compose); `collect`/`show`/`write*` trigger
  * execution. `schema`/`explain` inspect without executing, like the
  * reference's `transform_schema` chain (frame.py:852-904).
  *
  * The op facades are [[OpFacades]], shared with [[LazyFrame]]: each call
  * runs the op's [[Registry]] handler on `df` with the facade's YAML
  * fields, so a Frame chain and the same LazyFrame chain's `run` execute
  * the same handler with the same knobs. Ops name themselves
  * `{type}_{index}` like LazyFrame's. A facade field that names a dataset
  * (`sbScore`'s `model`, `bitextMine`'s `targetFrom`, ...) resolves in
  * `datasets` — bind one with [[withDataset]]; a frame-valued facade
  * argument binds itself.
  *
  * What stays here is what no registered op type does: DataFrame plumbing
  * and actions, the ANN/retrieval/vocabulary helpers, the DataFrame-valued
  * arms YAML has no key for, and the typed-config overloads (which restate
  * no knob names).
  */
final case class Frame(df: DataFrame, client: LlmClient,
    datasets: Map[String, DataFrame] = Map.empty, opIndex: Int = 0)
    extends OpFacades[Frame] {

  private def next(d: DataFrame): Frame = copy(df = d)

  protected def append(tpe: String, fields: (String, Any)*): Frame =
    applyOp(tpe, datasets, fields)

  /** The frame-valued field binds `other.df` under a generated dataset
    * name, which the handler resolves like a pipeline dataset. */
  protected def appendWith(step: String, tpe: String,
      fields: (String, Any)*): Frame = {
    val bound = fields.collect { case (k, f: Frame) => s"_${k}_$opIndex" -> f.df }
    require(bound.size == 1, s"$tpe: expected one frame-valued field")
    applyOp(tpe, datasets ++ bound, fields.map {
      case (k, _: Frame) => k -> bound.head._1
      case kv => kv
    })
  }

  private def applyOp(tpe: String, ds: Map[String, DataFrame],
      fields: Seq[(String, Any)]): Frame = {
    val conf = Conf(OpFacades.jmap(
      (("name" -> s"${tpe}_$opIndex") +: ("type" -> tpe) +: fields): _*))
    copy(df = Registry(tpe)(df, conf, OpContext(df.sparkSession, client, ds)),
      opIndex = opIndex + 1)
  }

  /** Bind `other` as dataset `name` for facades that reference datasets
    * by name (`sbScore(..., model = name)`, `bitextMine(..., targetFrom =
    * name)`, `op("vocab_coverage", "vocab" -> name, ...)`). */
  def withDataset(name: String, other: Frame): Frame =
    copy(datasets = datasets + (name -> other.df))

  // -- typed-config overloads
  def semanticMap(cfg: SemanticMapConfig): Frame = next(SemanticMap(df, cfg, client))
  def semanticReduce(cfg: SemanticReduce.Config): Frame =
    next(SemanticReduce(df, cfg, client))
  def resolve(cfg: ResolveOp.Config): Frame = next(ResolveOp(df, cfg, client))
  def equijoin(right: Frame, cfg: EquijoinOp.Config): Frame =
    next(EquijoinOp(df, right.df, cfg, client))
  def parse(cfg: graft.sources.ParseOp.Config): Frame =
    next(graft.sources.ParseOp(df, cfg))
  def chatRender(messagesCol: String, template: ChatOps.ChatTemplate): Frame =
    next(ChatOps.render(df, messagesCol, template))
  /** Agent map with caller-supplied tool functions (YAML names builtins). */
  def agentMap(cfg: AgentMap.Config, tools: Map[String, String => String]): Frame =
    next(AgentMap(df, cfg, tools, client))

  // -- relational plumbing
  def dropKeys(keys: String*): Frame = next(df.drop(keys: _*))

  // -- set operations (same name-aligned semantics as the YAML step heads:
  // union is by column name and distinct unless asked otherwise; the right
  // side of intersect/except re-selects the left's column order so
  // positional semantics can't pair mismatched columns)
  def union(other: Frame, distinct: Boolean = true): Frame = {
    val u = df.unionByName(other.df)
    next(if (distinct) u.distinct() else u)
  }
  def intersect(other: Frame, all: Boolean = false): Frame = {
    val r = graft.core.Joins.alignByName(df, other.df)
    next(if (all) df.intersectAll(r) else df.intersect(r))
  }
  def except(other: Frame, all: Boolean = false): Frame = {
    val r = graft.core.Joins.alignByName(df, other.df)
    next(if (all) df.exceptAll(r) else df.except(r))
  }

  // -- DataFrame-valued arms YAML has no key for (its `sample: custom`
  // lists rows inline; `url_parse` takes its suffix table inline)
  def sampleCustom(samples: Frame): Frame = next(SampleOp.custom(df, samples.df))
  def urlDomainViaSuffixes(hostCol: String, suffixes: Frame): Frame =
    next(UrlOps.registeredDomainViaTable(df, hostCol, suffixes.df))
  /** The encodable (piece) vocabulary — train + corpus alphabet in one
    * call; THIS (not `wordpieceTrain`'s merge table) is what
    * `wordpieceEncode(vocabFrom = ...)` consumes. */
  def wordpieceVocab(textCol: String, numMerges: Int,
      mergesPerRound: Int = 1): Frame =
    next(WordPiece.vocabTable(df, textCol,
      WordPiece.train(df, textCol, numMerges, mergesPerRound)))

  // -- approximate nearest neighbors (this frame = the query side)
  def annBruteForce(queryId: String, queryEmb: String, corpus: Frame,
      corpusId: String, corpusEmb: String, k: Int): Frame =
    next(graft.ann.Ann.bruteForce(corpus.df, corpusId, corpusEmb,
      df, queryId, queryEmb, k))
  def annLsh(queryId: String, queryEmb: String, corpus: Frame,
      corpusId: String, corpusEmb: String, dim: Int, k: Int,
      numPlanes: Int = 8, multiProbe: Int = 1): Frame =
    next(graft.ann.Ann.lshSearch(corpus.df, corpusId, corpusEmb,
      df, queryId, queryEmb, dim, k, numPlanes, multiProbe))
  def annIvf(queryId: String, queryEmb: String, corpus: Frame,
      corpusId: String, corpusEmb: String, k: Int,
      nCentroids: Int = 64, nProbe: Int = 8): Frame = {
    val centroids = graft.ann.Ann.trainCentroids(corpus.df, corpusEmb, nCentroids)
    val assigned = graft.ann.Ann.ivfAssign(corpus.df, corpusEmb, centroids)
    next(graft.ann.Ann.ivfSearch(assigned, corpusId, corpusEmb,
      df, queryId, queryEmb, centroids, k, nProbe))
  }
  def annPq(queryId: String, queryEmb: String, corpus: Frame,
      corpusId: String, corpusEmb: String, nSub: Int, nCodes: Int,
      k: Int): Frame = {
    val cb = graft.ann.ProductQuantize.trainPq(corpus.df, corpusEmb, nSub, nCodes)
    val coded = graft.ann.ProductQuantize.encode(corpus.df, corpusEmb, cb)
    next(graft.ann.ProductQuantize.adcSearch(coded, corpusId, "pq_codes", cb,
      df, queryId, queryEmb, k))
  }

  // -- retrieval context joins (the YAML surface reaches these only
  // through `map`'s `retriever:` block)
  def withRetrievedContext(name: String, queryTextCol: String, corpus: Frame,
      corpusTextCol: String, k: Int = 3): Frame =
    next(RetrieverOp.byTermOverlap(df, name, queryTextCol, corpus.df,
      corpusTextCol, corpusTextCol, k))
  def withRetrievedContextBm25(name: String, queryTextCol: String, corpus: Frame,
      corpusTextCol: String, k: Int = 3): Frame =
    next(RetrieverOp.byBm25(df, name, queryTextCol, corpus.df,
      corpusTextCol, corpusTextCol, k))
  def withRetrievedContextEmbedding(name: String, queryEmbCol: String, corpus: Frame,
      corpusEmbCol: String, corpusRenderExpr: String, k: Int = 3): Frame =
    next(RetrieverOp.byEmbedding(df, name, queryEmbCol, corpus.df,
      corpusEmbCol, corpusRenderExpr, k))
  def withRetrievedContextHybrid(name: String, queryEmbCol: String,
      queryTextCol: String, corpus: Frame, corpusEmbCol: String,
      corpusTextCol: String, k: Int = 3, vectorWeight: Double = 0.5): Frame =
    next(RetrieverOp.byHybrid(df, name, queryEmbCol, queryTextCol, corpus.df,
      corpusEmbCol, corpusTextCol, corpusTextCol, k, vectorWeight))

  // -- inspection without execution (frame.py:852-904)
  def schema: StructType = df.schema
  def explain(): Unit = df.explain("formatted")
  def plan: String = df.queryExecution.toString()

  /** Accumulated dollar cost across all models this JVM has called —
    * the reference's `df.semantic.total_cost` (pd_accessors.py:397). */
  def totalCost: Double = graft.llm.TokenTally.summary.values.map(_.cost).sum

  /** Per-model call/token/cost tallies — the reference's
    * `frame.token_usage` (frame.py:1093). */
  def tokenUsage: Map[String, graft.llm.TokenTally.Tally] =
    graft.llm.TokenTally.summary

  // -- execution
  def collect(): Array[org.apache.spark.sql.Row] = df.collect()
  def count(): Long = df.count()
  def show(n: Int = 5): Unit = df.show(n, truncate = false)
  def writeParquet(path: String): Unit = Pipeline.write(df, path)
  def writeJson(path: String): Unit = Pipeline.write(df, path)
  def writeCsv(path: String): Unit = Pipeline.write(df, path)
  def toDF: DataFrame = df
}

/** Entry points (reference `docetl.read_json` etc., frame.py:1404). */
/** The pandas `.semantic` accessor analog (reference
  * docetl/apis/pd_accessors.py:36-132): `import graft.api.implicits._`
  * lifts any plain DataFrame into the fluent semantic surface in place —
  * `df.semantic.map(...)` in the reference is `df.semantic.semanticMap(...)`
  * here, and every Frame verb (dedup, sampling, temporal, curation) rides
  * along. Same object as [[Graft.fromDF]]; this is syntax, not a new
  * lifecycle. */
object implicits {
  implicit class SemanticDataFrame(private val df: DataFrame) {
    def semantic: Frame = Frame(df, MockLlmClient())
    def semantic(client: LlmClient): Frame = Frame(df, client)
  }
}

object Graft {
  def readParquet(spark: SparkSession, path: String,
      client: LlmClient = MockLlmClient()): Frame =
    Frame(graft.core.Tables.parquet(spark, path), client)
  def readJson(spark: SparkSession, path: String,
      client: LlmClient = MockLlmClient()): Frame =
    Frame(spark.read.json(path), client)
  def readCsv(spark: SparkSession, path: String,
      client: LlmClient = MockLlmClient()): Frame =
    Frame(spark.read.option("header", "true").option("inferSchema", "true").csv(path), client)
  def fromDF(df: DataFrame, client: LlmClient = MockLlmClient()): Frame =
    Frame(df, client)
}

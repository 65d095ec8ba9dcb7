package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import graft.llm.Template

/** External-I/O operators (reference docetl/operations/web_search.py:15-197,
  * web_fetch.py:1-324): per-row web search / URL fetch.
  *
  * The HTTP layer is a pluggable [[HttpClient]] trait — this container has
  * zero egress, so the default is [[StubHttpClient]], which answers
  * deterministically from the request string. The Spark plumbing (per-row
  * templated queries via `mapPartitions`, bounded result arrays, typed result
  * schema, nondeterministic-op discipline) is the real implementation; a
  * production deployment swaps in an HTTP-backed client with per-executor
  * rate limiting, nothing else changes.
  */
trait HttpClient extends Serializable {
  /** Search: returns (title, description, url) triples. */
  def search(query: String, maxResults: Int): Seq[(String, String, String)]
  /** Engine-aware search (reference web_search.py `search_engine`:
    * brave | bing | google | duckduckgo). Default ignores the engine so
    * existing clients keep working; engine-aware backends override. */
  def search(query: String, maxResults: Int, engine: String): Seq[(String, String, String)] =
    search(query, maxResults)
  /** Fetch: returns the page body as markdown-ish text. */
  def fetch(url: String): String
}

/** Deterministic offline stand-in: results derived from the request text. */
final case class StubHttpClient() extends HttpClient {
  def search(query: String, maxResults: Int): Seq[(String, String, String)] =
    (1 to maxResults).map(i => (
      s"result $i for: $query",
      s"stub description $i (${query.length} chars)",
      s"https://example.invalid/${query.replaceAll("\\W+", "-").toLowerCase}/$i"))
  def fetch(url: String): String = s"# stub page\nfetched: $url\n"
}

object WebSearchOp {

  private val resultType = ArrayType(StructType(Seq(
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("url", StringType))))

  /** Appends the search results array (reference web_search.py result shape,
    * capped at `maxResults`; `output_field` defaults to `search_results`,
    * web_search.py:163). Reference row semantics preserved: an empty
    * rendered query searches nothing (web_search.py:181), and a per-row
    * search failure becomes one ("ERROR", message, "") result instead of
    * failing the query (web_search.py:192) — on a long job one bad row must
    * not kill the stage. */
  def apply(
      df: DataFrame,
      name: String,
      queryTemplate: String,
      maxResults: Int = 3,
      http: HttpClient = StubHttpClient(),
      outputField: Option[String] = None,
      engine: String = "brave"): DataFrame = {
    val tpl = Template(queryTemplate, df.schema)
    val outKey = outputField.getOrElse("search_results")
    val newSchema = df.schema.add(StructField(outKey, resultType))
    df.mapPartitions { it =>
      it.map { row =>
        val query = tpl.render(row).trim
        val results =
          if (query.isEmpty) Seq.empty[Row]
          else
            try http.search(query, maxResults, engine).map { case (t, d, u) => Row(t, d, u) }
            catch {
              case scala.util.control.NonFatal(e) =>
                Seq(Row("ERROR", String.valueOf(e.getMessage), ""))
            }
        Row.fromSeq(row.toSeq :+ results)
      }
    }(Encoders.row(newSchema))
  }
}

object WebFetchOp {

  /** Fetches URLs per row (reference web_fetch.py:170-233 surface):
    *   - `urlKey` names a string column (one fetch per row) OR an
    *     array<string> column (one fetch per element, array result aligned
    *     by index — the reference's list-URL mode);
    *   - `staticUrl` fetches the same URL for every row instead
    *     (web_fetch.py `url` config);
    *   - `outputField` overrides the default `{name}_content` column;
    *   - `bodyOnly` keeps only <body> content of HTML pages
    *     (web_fetch.py:39-45);
    *   - `convertToMarkdown` converts HTML-looking responses via the
    *     pure-JVM [[graft.sources.HtmlToMarkdown]] (web_fetch.py:48-52);
    *   - `maxWorkers` fetches that many URLs concurrently per partition
    *     (the reference's thread pool; in-partition, order-preserving),
    *     capped by the executor's shared pool of
    *     [[graft.llm.Concurrency.poolSize]] threads, which the LLM
    *     operators' calls use too.
    */
  def apply(
      df: DataFrame,
      name: String,
      urlKey: String,
      http: HttpClient = StubHttpClient(),
      convertToMarkdown: Boolean = false,
      bodyOnly: Boolean = false,
      outputField: Option[String] = None,
      staticUrl: Option[String] = None,
      maxWorkers: Int = 1): DataFrame = {
    import graft.sources.HtmlToMarkdown
    val outKey = outputField.getOrElse(s"${name}_content")
    val isList = staticUrl.isEmpty &&
      df.schema(urlKey).dataType.isInstanceOf[ArrayType]
    val idx = if (staticUrl.isEmpty) df.schema.fieldIndex(urlKey) else -1
    val newSchema = df.schema.add(
      StructField(outKey, if (isList) ArrayType(StringType) else StringType))
    df.mapPartitions { it =>
      // Per-URL failure becomes the row's content, not a stage failure
      // (reference web_fetch.py:214 returns "ERROR: {e}" for the failing
      // URL) — same policy WebSearchOp applies to bad search rows. NonFatal
      // only: an InterruptedException must propagate so task cancellation
      // (speculative kill, job abort) actually stops the fetch worker.
      def one(url: String): String =
        try {
          val raw = http.fetch(url)
          val isHtml = HtmlToMarkdown.looksLikeHtml(raw)
          val body = if (bodyOnly && isHtml) HtmlToMarkdown.extractBody(raw) else raw
          if (convertToMarkdown && isHtml) HtmlToMarkdown(body) else body
        } catch {
          case scala.util.control.NonFatal(e) => s"ERROR: ${String.valueOf(e.getMessage)}"
        }
      graft.llm.Concurrency.mapOrdered(it, math.max(1, maxWorkers)) { row =>
        val fetched: Any = staticUrl match {
          case Some(u) => one(u)
          case None if row.isNullAt(idx) => if (isList) Seq.empty[String] else null
          case None if isList =>
            row.getSeq[String](idx).map(u => if (u == null || u.isEmpty) null else one(u))
          case None => one(row.getString(idx))
        }
        Row.fromSeq(row.toSeq :+ fetched)
      }
    }(Encoders.row(newSchema))
  }
}

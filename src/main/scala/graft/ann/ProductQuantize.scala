package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric-distance (ADC) search — the
  * higher-compression companion to [[VectorQuantize]] (publicly described
  * in Jégou et al. 2011 "Product Quantization for Nearest Neighbor Search"
  * and implemented by FAISS `IndexPQ`/`IndexIVFPQ`; the reference has no
  * vector-compression story — §2.14 engine extension).
  *
  * The vector splits into `nSub` contiguous subvectors; each subspace gets
  * its own `nCodes`-entry codebook, and a vector stores only its per-sub
  * nearest-centroid index: 768 float32 dims at nSub=96/nCodes=256 become 96
  * bytes — 32× smaller than [[VectorQuantize]]'s 4×. ADC scores a FLOAT
  * query against codes by summing per-subspace query→centroid distances, so
  * search never reconstructs the corpus.
  *
  * Scale shape: the codebook is `nSub × nCodes × subDim` doubles —
  * config-bounded driver state (256 codes × 96 subs × 8 dims = 1.5 MB)
  * broadcast as a nested literal array. [[trainPq]] is `nSub` independent
  * driver-sample k-means fits (the [[Ann.trainCentroids]] seeded-hash-head
  * sample, O(sample) each); [[encode]] and [[adcScore]] are pure native
  * array expressions — no UDF, no shuffle, no join; search reuses
  * [[Ann.bruteForce]]'s broadcast-queries top-k shape and composes with IVF
  * cells for the sub-linear path (encode within cells = IVFPQ).
  *
  * The codebook parameter is a join seam: [[trainPq]] fits one, but any
  * externally-trained codebook drops in unchanged (the same convention as
  * the unigram-LM and linear-score model tables) — which is also what makes
  * encode/ADC exactly oracle-checkable under a deterministic codebook.
  */
object ProductQuantize {

  type Codebook = Array[Array[Array[Double]]] // (sub)(code)(subDim)

  /** Fit `nSub` per-subspace codebooks by seeded-sample k-means. The
    * embedding dimension must divide evenly into `nSub`. */
  def trainPq(corpus: DataFrame, embCol: String, nSub: Int, nCodes: Int,
      maxIter: Int = 10, seed: Long = 42, sampleSize: Int = 20000): Codebook = {
    // One agg instead of head(): an empty corpus gets a clear error (not a
    // NoSuchElementException), and a RAGGED embedding column is rejected up
    // front instead of failing later in ANSI slice/element_at with an
    // opaque message. min==max check costs one narrow pass over `size()`.
    val mm = corpus.agg(min(size(col(embCol))), max(size(col(embCol)))).head()
    require(!mm.isNullAt(0), "trainPq: corpus is empty (no rows to train on)")
    val (dimMin, dimMax) = (mm.getInt(0), mm.getInt(1))
    require(dimMin == dimMax,
      s"trainPq: ragged embedding lengths (min=$dimMin, max=$dimMax)")
    val dim = dimMax
    require(dim % nSub == 0, s"dim $dim not divisible by nSub=$nSub")
    val subDim = dim / nSub
    (0 until nSub).map { s =>
      val sub = corpus.select(
        slice(col(embCol), s * subDim + 1, subDim).as("_sub"))
      Ann.trainCentroids(sub, "_sub", nCodes, maxIter, seed + s, sampleSize)
    }.toArray
  }

  private def lit3(cb: Codebook): Column =
    array(cb.toIndexedSeq.map(sub =>
      array(sub.toIndexedSeq.map(code =>
        array(code.toIndexedSeq.map(lit): _*)): _*)): _*)

  /** Squared L2 between two equal-length array columns. */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** Per-subspace nearest-centroid code (first index on ties): a pure
    * native array expression over the broadcast codebook literal. */
  def codesCol(emb: Column, cb: Codebook): Column = {
    val nSub = cb.length
    val subDim = cb(0)(0).length
    val cbl = lit3(cb)
    transform(sequence(lit(0), lit(nSub - 1)), s => {
      val sub = transform(slice(emb, s * subDim + 1, lit(subDim)), _.cast("double"))
      val dists = transform(element_at(cbl, s + 1), c => sqL2(sub, c))
      (array_position(dists, array_min(dists)) - 1).cast("bigint")
    })
  }

  /** Append the PQ code column (array<bigint>, length nSub). */
  def encode(df: DataFrame, embCol: String, cb: Codebook,
      outCol: String = "pq_codes"): DataFrame =
    df.withColumn(outCol, codesCol(col(embCol), cb))

  /** ADC distance of a float query to a coded vector: sum over subspaces of
    * squared L2 between the query subvector and the coded centroid. */
  def adcScore(queryEmb: Column, codes: Column, cb: Codebook): Column = {
    val nSub = cb.length
    val subDim = cb(0)(0).length
    val cbl = lit3(cb)
    aggregate(
      sequence(lit(0), lit(nSub - 1)),
      lit(0.0d),
      (acc, s) => {
        val qSub = transform(
          slice(queryEmb, s * subDim + 1, lit(subDim)), _.cast("double"))
        val cent = element_at(element_at(cbl, s + 1),
          (element_at(codes, s + 1) + 1).cast("int"))
        acc + sqL2(qSub, cent)
      })
  }

  /** IVFPQ: the standard billion-scale recipe (FAISS `IndexIVFPQ`) — the
    * coarse quantizer ([[Ann.ivfAssign]] cells) bounds which corpus rows a
    * query touches, PQ codes bound what each touched row costs. The corpus
    * carries only (id, cell, codes); queries broadcast-join their `nProbe`
    * nearest cells and ADC-score candidates, so scan cost drops by
    * ~nCells/nProbe AND the scanned payload is codes, not floats. With
    * `nProbe = nCells` results are exactly [[adcSearch]]'s (the q29-style
    * correctness gate); sub-linear probes trade recall, covered by spec. */
  def ivfPqSearch(
      assignedCodes: DataFrame, // has _cell (ivfAssign) + PQ codes
      corpusId: String,
      codesColName: String,
      cb: Codebook,
      centroids: Array[Array[Double]],
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val probeCells = Ann.probeCellsCol(col(queryEmb), centroids, nProbe)
    val q = queries.select(col(queryId).as("query_id"),
      col(queryEmb).as("_qe"), explode(probeCells).as("_cell"))
    val c = assignedCodes.select(col(corpusId).as("neighbor_id"),
      col(codesColName).as("_codes"), col("_cell"))
    adcTopK(c.join(broadcast(q), Seq("_cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist",
        round(adcScore(col("_qe"), col("_codes"), cb), 6)), k)
  }

  // ---- residual encoding (FAISS IndexIVFPQ semantics) -------------------
  //
  // Raw-vector PQ quantizes each vector directly; residual PQ quantizes
  // `vec − coarseCentroid(cell)` instead. Within a cell the residuals are
  // recentered on the origin and have strictly smaller spread than the raw
  // vectors, so the same nSub×nCodes code budget buys lower quantization
  // error — the accuracy trade FAISS IndexIVFPQ ships by default. Raw PQ
  // stays the oracle-exact mode (its codes are replayable in plain SQL
  // against a deterministic codebook; residual codes are too, given
  // deterministic CENTROIDS — see q156's fixture).

  private def lit2(m: Array[Array[Double]]): Column =
    array(m.toIndexedSeq.map(row =>
      array(row.toIndexedSeq.map(lit): _*)): _*)

  /** `emb − centroids(cell)` as a pure array expression (the coarse
    * centroid table is config-bounded driver state, broadcast as a nested
    * literal like the codebook). */
  def residualCol(emb: Column, cell: Column,
      centroids: Array[Array[Double]]): Column =
    zip_with(transform(emb, _.cast("double")),
      element_at(lit2(centroids), cell.cast("int") + 1),
      (x, c) => x - c)

  /** Fit per-subspace codebooks on RESIDUALS of an ivfAssign'ed corpus
    * (`cellCol` from [[Ann.ivfAssign]]). Same seeded driver-sample k-means
    * as [[trainPq]], applied to `emb − centroid(cell)`. */
  def trainPqResidual(assigned: DataFrame, embCol: String, cellCol: String,
      centroids: Array[Array[Double]], nSub: Int, nCodes: Int,
      maxIter: Int = 10, seed: Long = 42, sampleSize: Int = 20000): Codebook =
    trainPq(assigned.withColumn("_res",
      residualCol(col(embCol), col(cellCol), centroids)),
      "_res", nSub, nCodes, maxIter, seed, sampleSize)

  /** Append PQ codes of the residual vs the row's coarse centroid. */
  def encodeResidual(df: DataFrame, embCol: String, cellCol: String,
      cb: Codebook, centroids: Array[Array[Double]],
      outCol: String = "pq_codes"): DataFrame =
    df.withColumn(outCol,
      codesCol(residualCol(col(embCol), col(cellCol), centroids), cb))

  /** [[ivfPqSearch]] with residual-coded cells: each probed cell scores the
    * QUERY'S residual against that cell's centroid (`q − centroid(cell)`)
    * against the stored residual codes — the FAISS IndexIVFPQ search rule.
    * Same broadcast-probe shape and cost bounds as the raw variant. */
  def ivfPqSearchResidual(
      assignedCodes: DataFrame, // has _cell (ivfAssign) + residual PQ codes
      corpusId: String,
      codesColName: String,
      cb: Codebook,
      centroids: Array[Array[Double]],
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val probeCells = Ann.probeCellsCol(col(queryEmb), centroids, nProbe)
    val q = queries.select(col(queryId).as("query_id"),
      col(queryEmb).as("_qe"), explode(probeCells).as("_cell"))
      // per-probed-cell query residual, computed ONCE on the small
      // broadcast side (queries × nProbe rows), not per candidate pair
      .withColumn("_qr", residualCol(col("_qe"), col("_cell"), centroids))
      .select("query_id", "_qr", "_cell")
    val c = assignedCodes.select(col(corpusId).as("neighbor_id"),
      col(codesColName).as("_codes"), col("_cell"))
    adcTopK(c.join(broadcast(q), Seq("_cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist",
        round(adcScore(col("_qr"), col("_codes"), cb), 6)), k)
  }

  /** Asymmetric top-k: float queries against the PQ-coded corpus, smallest
    * ADC distance first. Broadcast-queries shape, k rows per query. */
  def adcSearch(
      corpusCodes: DataFrame,
      corpusId: String,
      codesColName: String,
      cb: Codebook,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryEmb).as("_qe"))
    val c = corpusCodes.select(col(corpusId).as("neighbor_id"),
      col(codesColName).as("_codes"))
    val crossed = graft.core.Joins.boundedCrossBroadcast(
      c, q, col("neighbor_id"), col("query_id"))
    adcTopK(
      (if (excludeSelf) crossed.filter(col("neighbor_id") =!= col("query_id"))
       else crossed)
        .withColumn("adc_dist", round(adcScore(col("_qe"), col("_codes"), cb), 6)),
      k)
  }

  /** Per-query ADC top-k over scored candidate rows carrying (query_id,
    * neighbor_id, adc_dist): smallest distance first, ties broken by the
    * smaller neighbor id. The one ranking kernel of every PQ arm, so an arm
    * differs from [[adcSearch]] only in its candidates. */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select("query_id", "neighbor_id", "adc_dist")
  }
}

package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - `bruteForce`: exact cosine top-k — the correctness baseline. The query
  *   set is broadcast (small side), the corpus streams; per-query top-k via a
  *   window. Fine whenever |queries| * |corpus| partitions fit executors.
  * - `ivf`: inverted-file variant — corpus is pre-assigned to the nearest of
  *   `nCentroids` k-means centroids; at query time only `nProbe` closest
  *   cells are scanned. The scale path: scan cost drops by ~nCentroids/nProbe.
  */
object Ann {

  /** Exact cosine top-k of `corpus` for every row of `queries`.
    * Output: (query id, neighbor id, cosine score), k rows per query. */
  def bruteForce(
      corpus: DataFrame,
      corpusId: String,
      corpusEmb: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryEmb).as("_qe"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusEmb).as("_ce"))
    val crossed = graft.core.Joins.boundedCrossBroadcast(
      c, q, col("neighbor_id"), col("query_id"))
    cosineTopK(
      if (excludeSelf) crossed.filter(col("neighbor_id") =!= col("query_id")) else crossed,
      k)
  }

  /** Hard-negative mining for retrieval/classifier training: for each query,
    * the top-k most-similar corpus rows whose `label` DIFFERS from the
    * query's — the near-misses that teach an encoder its decision boundary,
    * per the public DPR/SimCSE recipes (random negatives are too easy; the
    * highest-scoring wrong-label rows are the signal).
    *
    * Same plan shape as [[bruteForce]] — queries broadcast, corpus streams,
    * per-query top-k window — with the label-mismatch filter applied BEFORE
    * ranking, so positives never consume candidate slots. The filter also
    * subsumes self-exclusion (a row shares its own label). For corpora past
    * the broadcast-product budget, mine from an ANN candidate pool instead:
    * `ivfSearch`/`lshSearch` with k' > k, then filter labels and re-rank —
    * the same candidates-then-verify shape as the dedup families.
    * Output: (query_id, neighbor_id, score), k rows per query. */
  def hardNegatives(
      corpus: DataFrame,
      corpusId: String,
      corpusEmb: String,
      corpusLabel: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      queryLabel: String,
      k: Int): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryEmb).as("_qe"),
      col(queryLabel).as("_ql"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusEmb).as("_ce"),
      col(corpusLabel).as("_cl"))
    val crossed = graft.core.Joins.boundedCrossBroadcast(
      c, q, col("neighbor_id"), col("query_id"))
    cosineTopK(crossed.filter(!(col("_cl") <=> col("_ql"))), k)
  }

  /** Every centroid's (euclidean distance, cell) struct as ONE array
    * column: a data-driven loop over a single nested centroid-matrix
    * literal. Per-cell arithmetic is the same cast → subtract → square
    * → left-fold → sqrt chain as the unrolled
    * [[VectorFunctions.euclideanToConst]] form it replaces, so
    * distances — and therefore assignments, probe sets and ties — are
    * bit-for-bit unchanged. The unrolled form generated one expression
    * subtree PER CENTROID (nCells independent zip_with/aggregate trees,
    * each embedding its own dim-length literal, all inside one
    * least()/array_sort() call): at nCells = 256 that plan hit
    * multi-megabyte projections whose evaluation cost scaled with the
    * EXPRESSION COUNT, not the data (q292's 256-row audit fixture
    * measured 3.4 s). The loop form is nCells-invariant-sized code
    * over one constant-folded literal (optimization guide §4: keep the
    * hot path expression-friendly; §1.2: fix per-task work once the
    * shape is right). */
  private[graft] def cellDistStructs(queryEmb: Column,
      centroids: Array[Array[Double]]): Column = {
    // sequence(0, -1) would yield a DESCENDING [0, -1] rather than an
    // empty array, silently emitting garbage (null d, cells 0/-1) where
    // the old least()/array() forms failed loudly at analysis time.
    // Unreachable via trainCentroids (non-empty guaranteed), reachable
    // with caller-supplied centroids — fail loud here instead.
    require(centroids.nonEmpty,
      "cellDistStructs needs at least one centroid")
    val cbl = array(centroids.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit): _*)): _*)
    transform(sequence(lit(0), lit(centroids.length - 1)), i =>
      struct(
        sqrt(aggregate(
          zip_with(queryEmb, element_at(cbl, i + 1),
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v)).as("d"),
        i.as("cell")))
  }

  /** The `nProbe` nearest cells of `queryEmb` as an array column —
    * a slice of the distance-sorted cell array. Shared by every IVF
    * probe arm (including the PQ searchers). */
  private[graft] def probeCellsCol(queryEmb: Column,
      centroids: Array[Array[Double]], nProbe: Int): Column =
    transform(slice(array_sort(cellDistStructs(queryEmb, centroids)),
      1, nProbe), s => s.getField("cell"))

  /** Join probe-exploded queries to the cell-assigned corpus — the
    * shared IVF candidate stage. `broadcastQueries = true` is the
    * small-query-set shape (per-query serving, mining with thousands
    * of queries); `false` keeps the join a plain cell-keyed shuffle —
    * REQUIRED when the query side is itself corpus-sized (bitext
    * mining, all-pairs hard negatives): broadcasting a 10M-row query
    * set exploded nProbe-fold is a driver/executor OOM, not a plan.
    * At shuffle-join scale, size nCells to the corpus (cells are the
    * join's parallelism units; AQE splits stragglers). */
  private def probedJoin(c: DataFrame, q: DataFrame,
      broadcastQueries: Boolean): DataFrame =
    if (broadcastQueries) c.join(broadcast(q), Seq("_cell"))
    else c.join(q, Seq("_cell"))

  /** Per-query cosine top-k over candidate rows carrying (query_id, _qe,
    * neighbor_id, _ce): scores rounded to 6 places, ties broken by the
    * smaller neighbor id. The one ranking kernel of every search arm, exact
    * and approximate, so an arm differs from brute force only in its
    * candidates. */
  private def cosineTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("score",
        round(graft.functions.CosineSimilarity(col("_qe"), col("_ce")), 6))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select("query_id", "neighbor_id", "score")
  }

  /** Empty (query_id, neighbor_id, score) result carrying the callers'
    * id types — the brute arms return empty frames on empty inputs, so
    * the IVF arms (whose centroid training cannot run on nothing) must
    * match instead of throwing. */
  private def emptyTopK(queries: DataFrame, queryId: String,
      corpus: DataFrame, corpusId: String): DataFrame = {
    val spark = queries.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        queries.schema(queries.schema.fieldIndex(queryId)).dataType),
      org.apache.spark.sql.types.StructField("neighbor_id",
        corpus.schema(corpus.schema.fieldIndex(corpusId)).dataType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** IVF-bucketed hard negatives — the scale arm of [[hardNegatives]]:
    * the corpus is cell-assigned once, each query probes its `nProbe`
    * nearest cells, and the label-mismatch filter runs on the probed
    * candidates BEFORE ranking (exactly where the brute arm applies
    * it), so with `nProbe = nCells` the result is bit-identical to
    * [[hardNegatives]]. At `nProbe < nCells` recall is approximate:
    * a wrong-label neighbor living in an unprobed cell is missed —
    * the standard IVF trade, tuned by nCells/nProbe. Centroids train
    * label-agnostic (labels only gate candidacy, not geometry).
    * `broadcastQueries` defaults FALSE: this is the arm the brute
    * guard routes oversized query sets to, so it must not re-broadcast
    * what that guard just refused; set true for small query sets. An
    * empty side returns an empty frame (the brute arm's behavior). */
  def hardNegativesIvf(
      corpus: DataFrame,
      corpusId: String,
      corpusEmb: String,
      corpusLabel: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      queryLabel: String,
      k: Int,
      nCells: Int = 256,
      nProbe: Int = 8,
      seed: Long = 42,
      broadcastQueries: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, "nProbe in [1, nCells]")
    // The training-sample collect doubles as the corpus emptiness probe
    // (no separate isEmpty scan job); an empty QUERY side needs no gate
    // at all — it flows through the probe join/top-k to the same empty
    // (query_id, neighbor_id, score) frame the brute arm returns.
    val centOpt = trainCentroidsOpt(corpus, corpusEmb, nCells, seed = seed)
    if (centOpt.isEmpty) return emptyTopK(queries, queryId, corpus, corpusId)
    val centroids = centOpt.get
    val q = queries.select(col(queryId).as("query_id"), col(queryEmb).as("_qe"),
        col(queryLabel).as("_ql"),
        explode(probeCellsCol(col(queryEmb), centroids, nProbe)).as("_cell"))
    val c = ivfAssign(corpus, corpusEmb, centroids)
      .select(col(corpusId).as("neighbor_id"), col(corpusEmb).as("_ce"),
        col(corpusLabel).as("_cl"), col("_cell"))
    cosineTopK(
      probedJoin(c, q, broadcastQueries).filter(!(col("_cl") <=> col("_ql"))),
      k)
  }

  /** IVF index: assign each corpus row to its nearest centroid (cell).
    * Centroids come from k-means over a sample (Spark ML), collected to the
    * driver (O(nCentroids * dim)) and broadcast as literals. */
  def ivfAssign(
      corpus: DataFrame,
      embCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    // array_min over the (d, cell) structs = least() over the unrolled
    // per-centroid structs it replaces: both use the same lexicographic
    // struct ordering (min distance, then min cell index on exact ties).
    corpus.withColumn("_cell",
      array_min(cellDistStructs(col(embCol), centroids)).getField("cell"))

  /** Train `nCentroids` k-means centroids on a SAMPLE of the corpus,
    * Lloyd-iterated on the driver — the standard coarse-quantizer recipe
    * (FAISS trains IVF cells the same way): one distributed job collects
    * O(sampleSize * dim) doubles, the iterations are driver-local array
    * math, and the (tiny) centroid set broadcasts back as literals. A
    * distributed `KMeans.fit` here costs one sequential Spark job per
    * init/iteration pass for a model that only decides probe order. */
  def trainCentroids(
      corpus: DataFrame,
      embCol: String,
      nCentroids: Int,
      maxIter: Int = 10,
      seed: Long = 42,
      sampleSize: Int = 20000): Array[Array[Double]] = {
    val opt = trainCentroidsOpt(corpus, embCol, nCentroids, maxIter, seed,
      sampleSize)
    require(opt.nonEmpty, "cannot train centroids on an empty corpus")
    opt.get
  }

  /** [[trainCentroids]], or None when the corpus is empty — the sample
    * collect IS the emptiness probe (an empty corpus ⟺ an empty seeded
    * sample), so callers that must return an empty frame on an empty
    * side (the IVF mining/negatives arms) don't pay a separate
    * `isEmpty` action per side before training: at 100 TB each of
    * those is a whole extra scan job (guide §1.2: don't compute things
    * you throw away). */
  private[graft] def trainCentroidsOpt(
      corpus: DataFrame,
      embCol: String,
      nCentroids: Int,
      maxIter: Int = 10,
      seed: Long = 42,
      sampleSize: Int = 20000): Option[Array[Array[Double]]] = {
    // Seeded-hash head, NOT `.limit` — a plain limit takes whichever
    // partition lists first (one file's distribution at 100 TB); the hash
    // head is a uniform sample invariant to partitioning and file order.
    val rows = graft.ops.SampleOp.seededHead(
        corpus.select(transform(col(embCol), _.cast("double")).as("_e")),
        sampleSize, seed)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    if (rows.isEmpty) None
    else Some(lloyd(rows, nCentroids, maxIter, seed))
  }

  /** Both sides' coarse quantizers from ONE distributed job — the
    * bitext-mining shape, where each direction's IVF needs its own
    * quantizer and two per-side [[trainCentroidsOpt]] calls are two
    * full-corpus sample-scan jobs (guide §1.2/§2.4: at 100 TB each is a
    * whole extra pass). Per-side sample parity with
    * [[trainCentroidsOpt]] is exact: the seeded hash is over
    * (seed, _e) ONLY — the side tag never enters it — so each side's
    * `sampleSize` smallest hashes are the same rows its own
    * orderBy+limit would select, and the driver re-sort by (side, hash)
    * reproduces the per-side collect order (hash ties are
    * equal-content vectors up to an xxhash64 collision, so tie order
    * cannot change the sample). Bit-identical centroids vs the
    * single-side trainer are pinned in Round19Spec. */
  private[graft] def trainCentroidsDualOpt(
      a: DataFrame, aEmb: String,
      b: DataFrame, bEmb: String,
      nCentroids: Int,
      maxIter: Int = 10,
      seed: Long = 42,
      sampleSize: Int = 20000)
      : (Option[Array[Array[Double]]], Option[Array[Array[Double]]]) = {
    val pa = a.select(transform(col(aEmb), _.cast("double")).as("_e"),
      lit(0).as("_side"))
    val pb = b.select(transform(col(bEmb), _.cast("double")).as("_e"),
      lit(1).as("_side"))
    // per-side top-n in one pass: row_number over (side, hash) plans a
    // partial WindowGroupLimit before the exchange (the engine's pinned
    // top-n shape), so only <= partitions * 2 * sampleSize rows shuffle
    val w = Window.partitionBy(col("_side")).orderBy(col("_h"))
    val sampled = pa.unionByName(pb)
      .withColumn("_h", xxhash64(lit(seed), col("_e")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= sampleSize)
      .select(col("_side"), col("_h"), col("_e"))
      .collect()
      .sortBy(r => (r.getInt(0), r.getLong(1)))
    def side(tag: Int): Option[Array[Array[Double]]] = {
      val rows = sampled.iterator.filter(_.getInt(0) == tag)
        .map(_.getSeq[Double](2).toArray).toArray
      if (rows.isEmpty) None
      else Some(lloyd(rows, nCentroids, maxIter, seed))
    }
    (side(0), side(1))
  }

  /** Driver-local Lloyd iterations over a collected sample — the single
    * shared kernel of [[trainCentroidsOpt]] and
    * [[trainCentroidsDualOpt]], so the two trainers cannot diverge. */
  private def lloyd(rows: Array[Array[Double]], nCentroids: Int,
      maxIter: Int, seed: Long): Array[Array[Double]] = {
    val k = math.min(nCentroids, rows.length)
    val dim = rows.head.length
    val rng = new scala.util.Random(seed)
    var centroids = rng.shuffle(rows.indices.toList).take(k)
      .map(i => rows(i).clone()).toArray
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      rows.foreach { r =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = r(j) - centroids(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += r(j); j += 1 }
      }
      moved = false
      val next = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else {
          val m = sums(c).map(_ / counts(c))
          if (!java.util.Arrays.equals(m, centroids(c))) moved = true
          m
        }
      }.toArray
      centroids = next
      iter += 1
    }
    centroids
  }

  /** Hyperplane-LSH bucketed ANN — the second indexed path besides IVF
    * (no training pass at all): corpus rows bucket by the sign sketch of
    * `numPlanes` hyperplanes ([[VectorFunctions.sketch]], as in
    * [[graft.dedup.EmbeddingDedup]]),
    * and each query probes its own bucket plus every bucket within Hamming
    * distance `multiProbe` (standard multiprobe LSH). Cost is the probed
    * buckets' population — sum over C(numPlanes, <=multiProbe) of
    * ~|corpus| / 2^numPlanes — never the corpus; recall tunes via
    * numPlanes (granularity) and multiProbe (radius). A (query, neighbor)
    * pair can match through at most one probe (each corpus row has exactly
    * one bucket), so no candidate dedup stage is needed. `explicitPlanes`
    * (e.g. [[graft.dedup.EmbeddingDedup.axisPlanes]]) makes the bucketing
    * reproducible by an external SQL oracle. */
  def lshSearch(
      corpus: DataFrame,
      corpusId: String,
      corpusEmb: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      dim: Int,
      k: Int,
      numPlanes: Int = 8,
      multiProbe: Int = 1,
      seed: Long = 42,
      explicitPlanes: Option[Array[Array[Double]]] = None,
      excludeSelf: Boolean = true): DataFrame = {
    require(numPlanes >= 1 && numPlanes <= 20, "numPlanes in [1, 20]")
    require(multiProbe >= 0 && multiProbe <= numPlanes, "multiProbe in [0, numPlanes]")
    val planes = explicitPlanes.getOrElse(VectorFunctions.planes(numPlanes, dim, seed))
    // The probe-mask enumeration below runs over planes.length — an
    // explicitPlanes array longer than the guard-checked numPlanes would
    // silently bypass the 2^20 bound (2^40 masks = driver OOM).
    require(planes.length >= 1 && planes.length <= 20,
      s"lshSearch: ${planes.length} explicit planes exceed the 20-plane bound")
    val masks = (0L until (1L << planes.length))
      .filter(m => java.lang.Long.bitCount(m) <= multiProbe)
    val c = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusEmb).as("_ce"), VectorFunctions.sketch(col(corpusEmb), planes).as("_b"))
    val q = queries
      .select(col(queryId).as("query_id"), col(queryEmb).as("_qe"),
        VectorFunctions.sketch(col(queryEmb), planes).as("_qb"))
      .withColumn("_b", explode(transform(
        array(masks.map(lit): _*), m => col("_qb").bitwiseXOR(m))))
    val joined = c.join(broadcast(q), Seq("_b"))
    cosineTopK(
      if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id")) else joined,
      k)
  }

  /** IVF query: for each query, scan only the `nProbe` nearest cells.
    * `broadcastQueries = true` (the default — the serving shape, small
    * query set vs a big corpus) broadcasts the probe-exploded queries;
    * pass false when the query side is itself corpus-sized (see
    * [[probedJoin]]). */
  def ivfSearch(
      assignedCorpus: DataFrame, // output of ivfAssign, has _cell
      corpusId: String,
      corpusEmb: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      centroids: Array[Array[Double]],
      k: Int,
      nProbe: Int = 2,
      excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryEmb).as("_qe"),
      explode(probeCellsCol(col(queryEmb), centroids, nProbe)).as("_cell"))
    val c = assignedCorpus.select(col(corpusId).as("neighbor_id"),
      col(corpusEmb).as("_ce"), col("_cell"))
    val joined = probedJoin(c, q, broadcastQueries)
    cosineTopK(
      if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id"))
      else joined,
      k)
  }
}

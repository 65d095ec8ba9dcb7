package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSignature, TextFunctions, VectorFunctions}

/** Deduplication operators for training-data pipelines (driver mandate: core
  * engine components beyond the reference's surface).
  *
  * Scale design notes (100 TB):
  *   - Exact dedup is a hash-partition groupBy on a fingerprint — one shuffle
  *     of (fingerprint, id), not documents.
  *   - MinHash/SimHash candidate generation shuffles (band-key, id) pairs;
  *     documents are only re-joined for the verify step on the (small)
  *     candidate set.
  *   - All-pairs comparisons only ever happen within LSH buckets, never
  *     globally.
  */
object ExactDedup {

  /** Keep one row per normalized-text fingerprint; winner = smallest
    * `tieBreak`. One window over the fingerprint hash. */
  def apply(df: DataFrame, textCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col("_graft_fp")).orderBy(col(tieBreak).asc)
    df.withColumn("_graft_fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn", "_graft_fp")
  }
}

/** Shared hot-bucket guard for the LSH dedup families. An intra-bucket pair
  * join is quadratic in its hottest bucket; one degenerate key (boilerplate
  * text, a stopword-like shingle, an all-zeros sketch) silently turns a
  * linear stage into n²/2 pairs. `maxBucketSize` applies the standard LSH
  * common-bucket ban: buckets larger than the cap are excluded from
  * candidate generation entirely. Recall note: a banned pair usually
  * co-occurs in a less-common bucket (minhash has numBands chances, simhash
  * four quarters, ngram every other shingle); only pairs whose EVERY shared
  * bucket is over the cap are lost, which is exactly the
  * everything-matches-everything boilerplate an aggressive dedup wants
  * handled by exact dedup first. Default None = unchanged semantics. */
private[dedup] object BucketGuard {
  def cap(d: DataFrame, bucketCols: Seq[String], maxBucketSize: Option[Int]): DataFrame =
    maxBucketSize.fold(d) { c =>
      // count window, no ordering: one shuffle by the bucket key — the same
      // partitioning the candidate self-join needs anyway.
      val w = Window.partitionBy(bucketCols.map(col): _*)
      d.withColumn("_graft_bn", count(lit(1)).over(w))
        .filter(col("_graft_bn") <= c)
        .drop("_graft_bn")
    }

  /** Softer hot-bucket guard: instead of BANNING an over-cap bucket, keep a
    * deterministic id-ordered head of its members, so the bucket still
    * yields up to h(h-1)/2 candidate pairs (resolve's `max_pairs_per_bucket`
    * analog for the dedup families). The rank-limit filter plans as
    * WindowGroupLimit, so a hot bucket's tail drops map-side before the
    * pair join. Members past the head lose only THIS bucket's chance at
    * candidacy — the other bands/quarters/shingles still offer theirs.
    * Composable with `cap` (ban what is hopeless, head what is merely hot). */
  def head(
      d: DataFrame, bucketCols: Seq[String], idCol: String,
      maxBucketHead: Option[Int]): DataFrame =
    maxBucketHead.fold(d) { h =>
      val w = Window.partitionBy(bucketCols.map(col): _*).orderBy(col(idCol).asc)
      d.withColumn("_graft_bh", row_number().over(w))
        .filter(col("_graft_bh") <= h)
        .drop("_graft_bh")
    }
}

object MinHashDedup {

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle(n words) -> P permutation min-hashes (xxhash64 with per-perm
    * seed) -> band keys (b bands of r = P/b) -> bucket self-join -> exact
    * Jaccard verify on candidate pairs.
    *
    * Returns (idA, idB, jaccard) with idA < idB and jaccard >= threshold.
    * Everything is native expressions; the only shuffles are the band-key
    * groupBy and the verify join.
    */
  /** Shared prep for the self- and cross-corpus pair stages: hashed
    * shingle table (persisted + materialized) and its guarded band keys.
    * Shingles are hashed to 64-bit longs ONCE (fused byte-range XXH64,
    * graft.functions.ShingleHashes); the P permutation hashes re-hash that
    * long, not the string — ~20x cheaper per (perm, shingle). Jaccard over
    * hashed shingles equals string Jaccard up to 64-bit collisions
    * (negligible). */
  private def prepBanded(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numPerms: Int,
      numBands: Int,
      maxBucketSize: Option[Int],
      maxBucketHead: Option[Int]): (DataFrame, DataFrame) = {
    // Band keys: hash of each band's slice of the signature. Only (band,
    // key, id) go through the shuffle — never the shingle arrays.
    val bands = posexplode(MinHashSignature.bandKeys(col("_sig"), numPerms, numBands))
    val sh = graft.functions.ShingleHashes(col(textCol), shingleSize)
    val docs = graft.core.PersistScope.register(
      df.select(col(idCol).as("_id"), sh.as("_sh"))
        .filter(size(col("_sh")) > 0)
        .persist())
    // Materialize the cache before fanning out: the signature branch and the
    // two verify-side lookups otherwise race to compute the same partitions
    // concurrently (each paying the shingle scan) before any of them has
    // populated the storage blocks.
    docs.count()

    // Signature: numPerms permutation minima in one fused codegen'd loop
    // (graft.functions.MinHashSignature) — the interpreted HOF equivalent
    // dominated this stage at 64 perms x ~100 shingles per doc.
    val sig = MinHashSignature(col("_sh"), numPerms)
    val banded = BucketGuard.head(
      BucketGuard.cap(
        docs.withColumn("_sig", sig)
          .select(col("_id"), bands.as(Seq("_band", "_bkey"))),
        Seq("_band", "_bkey"), maxBucketSize),
      Seq("_band", "_bkey"), "_id", maxBucketHead)
    (docs, banded)
  }

  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val (docs, banded) = prepBanded(df, idCol, textCol, shingleSize,
      numPerms, numBands, maxBucketSize, maxBucketHead)

    // Bucket self-join -> distinct candidate id pairs (idA < idB).
    val l = banded.select(col("_band"), col("_bkey"), col("_id").as("id_a"))
    val r = banded.select(col("_band"), col("_bkey"), col("_id").as("id_b"))
    val cands = l.join(r, Seq("_band", "_bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // Exact Jaccard verify on the candidate set only: re-join the (small)
    // pair set against the hashed-shingle arrays.
    val byId = docs.select(col("_id"), col("_sh"))
    val withSh = cands
      .join(byId.select(col("_id").as("id_a"), col("_sh").as("_sha")), Seq("id_a"))
      .join(byId.select(col("_id").as("id_b"), col("_sh").as("_shb")), Seq("id_b"))
    withSh
      .withColumn("jaccard",
        round(graft.functions.JaccardSimilarity(col("_sha"), col("_shb")), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Dedup: drop every row that is the larger id of a near-dup pair. */
  def apply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val dupIds = candidatePairs(df, idCol, textCol, shingleSize, numPerms,
      numBands, jaccardThreshold, maxBucketSize, maxBucketHead)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Incremental (cross-corpus) near-duplicate pairs: each NEW document
    * against a REFERENCE corpus — the "dedup this crawl against everything
    * we already have" step of the public web-corpus pipelines (CCNet /
    * Dolma dedup new dumps against prior dumps; the reference engine has
    * no incremental shape — its resolve re-pairs the whole input,
    * reference docetl/operations/resolve.py:523-548).
    *
    * Returns (id_new, id_ref, jaccard >= threshold). Same LSH machinery as
    * [[candidatePairs]], but the band join is new×ref instead of a
    * self-join: signatures/bands compute once per side, only (band, key,
    * id) shuffle, and the hot-bucket guards apply per side — a bucket
    * capped at h on each side emits at most h² candidates. At scale the
    * reference side's banded keys are the natural thing to precompute and
    * store once per accumulated corpus; this recomputes them from text,
    * which is one linear pass. */
  def crossPairs(
      newDf: DataFrame,
      newIdCol: String,
      newTextCol: String,
      refDf: DataFrame,
      refIdCol: String,
      refTextCol: String,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val (newDocs, newBanded) = prepBanded(newDf, newIdCol, newTextCol,
      shingleSize, numPerms, numBands, maxBucketSize, maxBucketHead)
    val (refDocs, refBanded) = prepBanded(refDf, refIdCol, refTextCol,
      shingleSize, numPerms, numBands, maxBucketSize, maxBucketHead)
    val cands = newBanded.select(col("_band"), col("_bkey"), col("_id").as("id_new"))
      .join(refBanded.select(col("_band"), col("_bkey"), col("_id").as("id_ref")),
        Seq("_band", "_bkey"))
      .select("id_new", "id_ref")
      .dropDuplicates("id_new", "id_ref")
    val withSh = cands
      .join(newDocs.select(col("_id").as("id_new"), col("_sh").as("_sha")),
        Seq("id_new"))
      .join(refDocs.select(col("_id").as("id_ref"), col("_sh").as("_shb")),
        Seq("id_ref"))
    withSh
      .withColumn("jaccard",
        round(graft.functions.JaccardSimilarity(col("_sha"), col("_shb")), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_new"), col("id_ref"), col("jaccard"))
  }

  /** Storable per-document LSH state for an accumulating corpus:
    * `(_id, _sh, _bands: array<struct<_band,_bkey>>)`. Write this once per
    * ingested dump (parquet), and each new crawl's [[crossPairs]] overload
    * below joins against it WITHOUT touching the reference text again —
    * the 100 TB shape, where re-shingling the accumulated corpus per crawl
    * would dwarf the crawl itself. Size ≈ the distinct shingle hashes +
    * numBands longs per doc. Guards don't apply here (membership of a
    * bucket is decided at JOIN time against the crawl, where the per-side
    * cap/head guards run). */
  def signatureTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16): DataFrame = {
    val bands = transform(MinHashSignature.bandKeys(col("_sig"), numPerms, numBands),
      (key, b) => struct(b.as("_band"), key.as("_bkey")))
    val sh = graft.functions.ShingleHashes(col(textCol), shingleSize)
    val sig = MinHashSignature(col("_sh"), numPerms)
    df.select(col(idCol).as("_id"), sh.as("_sh"))
      .filter(size(col("_sh")) > 0)
      .withColumn("_sig", sig)
      .select(col("_id"), col("_sh"), bands.as("_bands"))
  }

  /** [[crossPairs]] against a precomputed reference [[signatureTable]]:
    * identical semantics (given identical shingle/perm/band parameters),
    * but the reference side's linear text pass is replaced by a scan of
    * the stored state. Guards still bound the join: cap/head on the NEW
    * side, and the candidate set is deduped before the verify join.
    *
    * 100 TB deployment note (guide §3.2): with the reference side
    * stored, a Bloom filter over the (small) crawl's band keys applied
    * to the stored side's exploded (_band, _bkey) rows BEFORE the
    * exchange drops the ~all reference band keys that match nothing in
    * the crawl — band keys are high-cardinality hashes, so the filter
    * is selective by construction, and false positives only add
    * candidates the Jaccard verify kills (never fewer true pairs). Not
    * wired here: in the self-computing [[crossPairs]] both sides'
    * banded keys derive from text in the same query, so building the
    * filter costs one extra full prepBanded action — measured strictly
    * negative at bench scale, and the declared queries all take that
    * self-computing path. */
  def crossPairsPrecomputed(
      newDf: DataFrame,
      newIdCol: String,
      newTextCol: String,
      refSignatures: DataFrame,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val (newDocs, newBanded) = prepBanded(newDf, newIdCol, newTextCol,
      shingleSize, numPerms, numBands, maxBucketSize, maxBucketHead)
    val refBanded = refSignatures
      .select(col("_id").as("id_ref"), explode(col("_bands")).as("_b"))
      .select(col("id_ref"), col("_b._band").as("_band"),
        col("_b._bkey").as("_bkey"))
    val cands = newBanded
      .select(col("_band"), col("_bkey"), col("_id").as("id_new"))
      .join(refBanded, Seq("_band", "_bkey"))
      .select("id_new", "id_ref")
      .dropDuplicates("id_new", "id_ref")
    val withSh = cands
      .join(newDocs.select(col("_id").as("id_new"), col("_sh").as("_sha")),
        Seq("id_new"))
      .join(refSignatures.select(col("_id").as("id_ref"), col("_sh").as("_shb")),
        Seq("id_ref"))
    withSh
      .withColumn("jaccard",
        round(graft.functions.JaccardSimilarity(col("_sha"), col("_shb")), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_new"), col("id_ref"), col("jaccard"))
  }

  /** The new corpus minus every document near-duplicating the reference
    * corpus (left-anti on [[crossPairs]] hits). The reference corpus is
    * never modified — this is a one-directional membership filter, not a
    * symmetric dedup. */
  def cleanAgainstReference(
      newDf: DataFrame,
      newIdCol: String,
      newTextCol: String,
      refDf: DataFrame,
      refIdCol: String,
      refTextCol: String,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame =
    cleanFromPairs(newDf, newIdCol,
      crossPairs(newDf, newIdCol, newTextCol, refDf, refIdCol,
        refTextCol, shingleSize, numPerms, numBands, jaccardThreshold,
        maxBucketSize, maxBucketHead))

  /** The single definition of "clean against reference" given an already-
    * computed (id_new, id_ref) pair list — shared by [[cleanAgainstReference]]
    * and the YAML `dedup_against` step so the two surfaces cannot diverge. */
  def cleanFromPairs(newDf: DataFrame, newIdCol: String,
      pairs: DataFrame): DataFrame =
    newDf.join(pairs.select(col("id_new").as(newIdCol)).distinct(),
      Seq(newIdCol), "left_anti")

  /** Cluster-exact dedup keeping the BEST row per near-dup cluster: pairs
    * close into connected components (near-duplicate similarity is not
    * transitive, so the pair-greedy `apply` can drop a chain's middle while
    * keeping both ends; components make the survivor set one-per-cluster
    * exactly), then each component keeps its `qualityExpr`-argmax row, id
    * ascending as tie-break. Default quality = text length — the public
    * pipelines' "keep the longest variant" heuristic; pass a quality-score
    * or surprisal column for smarter retention.
    *
    * Scale: components run over the (small) pair list, never the documents
    * ([[graft.graph.ConnectedComponents]]); the survivor pick is one keyed
    * window whose partitions are near-dup clusters — bounded by the same
    * hot-bucket guards that bound the pair stage. Unpaired rows keep their
    * own id as the partition key and survive untouched. */
  def keepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      qualityExpr: String = "",
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val quality =
      if (qualityExpr.isEmpty) length(col(textCol)) else expr(qualityExpr)
    val comp = components(df, idCol, textCol, shingleSize, numPerms,
      numBands, jaccardThreshold, maxBucketSize, maxBucketHead)
    keepBestByComponent(df, idCol, comp, quality)
  }

  /** Connected components over [[candidatePairs]] edges: (idCol,
    * component) for every row that HAS a near-duplicate. PUBLIC so a
    * pipeline wanting both the deduped corpus ([[keepBest]]) and the
    * removal trail ([[audit]]) computes the LSH banding + CC once:
    * persist this, then feed it to [[keepBestFromComponents]] /
    * [[auditFromComponents]]. */
  def components(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    graft.graph.ConnectedComponents.runFromEdges(
      candidatePairs(df, idCol, textCol, shingleSize, numPerms,
        numBands, jaccardThreshold, maxBucketSize, maxBucketHead)
        .select("id_a", "id_b"))
      .withColumnRenamed("id", idCol)
  }

  /** [[keepBest]] over PRECOMPUTED [[components]] — no pair/CC
    * recompute. */
  def keepBestFromComponents(df: DataFrame, idCol: String,
      comp: DataFrame, quality: Column): DataFrame =
    keepBestByComponent(df, idCol, comp, quality)

  /** [[audit]] over PRECOMPUTED [[components]] — no pair/CC
    * recompute. */
  def auditFromComponents(df: DataFrame, idCol: String,
      comp: DataFrame, quality: Column): DataFrame =
    keepBestAuditByComponent(df, idCol, comp, quality)

  /** AUDIT form of [[keepBest]]: every row with (kept, survivor_id) —
    * the removal trail curation runs owe their operators. Same pair
    * generation and CC; the verdict joins back instead of anti-joining
    * losers out. Subsumes [[keepBest]]: filter `kept` and drop the two
    * audit columns. */
  def audit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      qualityExpr: String = "",
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val quality =
      if (qualityExpr.isEmpty) length(col(textCol)) else expr(qualityExpr)
    val comp = components(df, idCol, textCol, shingleSize, numPerms,
      numBands, jaccardThreshold, maxBucketSize, maxBucketHead)
    keepBestAuditByComponent(df, idCol, comp, quality)
  }

  /** Survivor selection shared by the keep-best dedup variants: rank ONLY
    * the rows that belong to a near-dup component and anti-join the losers
    * back out. The windowed sort touches just the duplicated subset (and
    * the rank scan prunes to the id + quality columns), and the final
    * anti-join streams the corpus through once — vs. windowing the whole
    * table partitioned by coalesce(component, id), which shuffles and sorts
    * 100% of a 100 TB corpus to rank the ~few-% that have a duplicate. */
  private[dedup] def keepBestByComponent(
      df: DataFrame, idCol: String, comp: DataFrame,
      quality: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(quality.desc, col(idCol).asc)
    val losers = df.join(comp, Seq(idCol))
      .withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") =!= 1)
      .select(idCol)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** The AUDIT view of [[keepBestByComponent]] — the "why did my
    * document disappear" trail a curation run owes its operators: every
    * input row with (kept, survivor_id), survivor = the row keep-best
    * keeps for this row's component (itself for unpaired rows). Same
    * component-subset window + one join back — the audit costs what the
    * dedup costs, plus nothing. */
  private[dedup] def keepBestAuditByComponent(
      df: DataFrame, idCol: String, comp: DataFrame,
      quality: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(quality.desc, col(idCol).asc)
    val full = w.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, org.apache.spark.sql.expressions.Window
      .unboundedFollowing)
    val verdict = df.join(comp, Seq(idCol))
      .withColumn("_survivor", first(col(idCol)).over(full))
      .select(col(idCol), col("_survivor"))
    df.join(verdict, Seq(idCol), "left")
      .withColumn("survivor_id",
        coalesce(col("_survivor"), col(idCol)))
      .withColumn("kept", col("survivor_id") === col(idCol))
      .drop("_survivor")
  }
}

object SimHashDedup {

  /** 60-bit SimHash per document: sign-sum of token-hash bits, fused into
    * one codegen'd loop ([[graft.functions.SimHashBits]]).
    *
    * The per-token hash is PORTABLE — the first 15 hex chars of md5 parsed
    * as a 60-bit long — so an external SQL engine (the DuckDB oracle)
    * reproduces the fingerprint bit-for-bit: Spark
    * `conv(substr(md5(t),1,15),16,10)` == DuckDB
    * `('0x' || substr(md5(t),1,15))::BIGINT`.
    *
    * Candidates = pairs agreeing on any 15-bit quarter of the simhash
    * (catches Hamming distance <= 3 by pigeonhole), verified by true Hamming
    * distance via bit_count(xor).
    */
  val Bits = 60

  def simhash(textCol: Column): Column = {
    val toks = array_distinct(split(textCol, " "))
    val hashes = transform(toks,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    graft.functions.SimHashBits(hashes, Bits)
  }

  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val bandBits = Bits / 4
    val mask = (1L << bandBits) - 1
    val docs = df.select(col(idCol).as("_id"), simhash(col(textCol)).as("_sh"))
    val banded = BucketGuard.head(
      BucketGuard.cap(docs.select(
        col("_id"), col("_sh"),
        posexplode(transform(sequence(lit(0), lit(3)),
          q => call_function("shiftright", col("_sh"), q * bandBits)
            .bitwiseAND(lit(mask)))).as(Seq("_q", "_qk"))),
        Seq("_q", "_qk"), maxBucketSize),
      Seq("_q", "_qk"), "_id", maxBucketHead)
    val l = banded.select(col("_q"), col("_qk"), col("_id").as("id_a"), col("_sh").as("_sha"))
    val r = banded.select(col("_q"), col("_qk"), col("_id").as("id_b"), col("_sh").as("_shb"))
    l.join(r, Seq("_q", "_qk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("_sha").bitwiseXOR(col("_shb"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}

object NgramJaccardDedup {

  /** Blocked n-gram Jaccard: pairs sharing a blocking key are compared by
    * word n-gram Jaccard similarity. The blocking expression bounds the
    * comparison set (never all-pairs). Returns (id_a, id_b, jaccard).
    *
    * Implementation is an INVERTED INDEX, not a pair join of shingle
    * arrays: explode (block, shingle, id), self-join on (block, shingle),
    * count co-occurrences per id pair — |A∩B| — then Jaccard from the
    * per-doc set sizes (|A∪B| = |A|+|B|-|A∩B|). The shuffle payload is
    * (block, shingle-hash, id) triples and small count rows; the quadratic
    * alternative ships both full shingle arrays through every intra-block
    * pair, which at 100 TB is the difference between ~24 bytes/row and
    * ~KBs/pair. Pairs sharing zero shingles never materialize at all
    * (their Jaccard is 0 — below any positive threshold). */
  def pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockExpr: String,
      n: Int = 3,
      threshold: Double = 0.5,
      /** Ban shingles whose posting list exceeds this many docs (idf-floor
        * pruning). Banned shingles stop generating candidate pairs AND stop
        * counting toward |A∩B|, so Jaccard is underestimated for pairs
        * sharing them — the accepted trade of stopword-shingle pruning. */
      maxPostingSize: Option[Int] = None,
      /** Keep only this many id-ordered docs per posting instead of (or in
        * addition to) banning: intersection counts are then underestimated
        * for docs past a hot posting's head — same trade, softer knob. */
      maxPostingHead: Option[Int] = None): DataFrame = {
    require(threshold > 0, "ngram threshold must be positive")
    intersections(df, idCol, textCol, blockExpr, n, maxPostingSize,
      maxPostingHead)
      .withColumn("jaccard",
        round(col("_inter").cast("double") /
          (col("_sza") + col("_szb") - col("_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Blocked n-gram CONTAINMENT: |A∩B| / min(|A|, |B|) — the ASYMMETRIC
    * near-dup signal Jaccard structurally misses: a short document fully
    * quoted inside a long aggregation page has Jaccard ≈ |A|/|B| (tiny)
    * but containment 1. Returns (id_a, id_b, containment, jaccard,
    * contained_id) where contained_id is the SMALLER gram set's id (ties
    * → id_a) — the document a containment-dedup pass would drop. Same
    * inverted-index machinery and posting guards as [[pairs]]. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockExpr: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxPostingSize: Option[Int] = None,
      maxPostingHead: Option[Int] = None): DataFrame = {
    require(threshold > 0, "containment threshold must be positive")
    intersections(df, idCol, textCol, blockExpr, n, maxPostingSize,
      maxPostingHead)
      .withColumn("containment",
        round(col("_inter").cast("double") /
          least(col("_sza"), col("_szb")), 6))
      .filter(col("containment") >= threshold)
      .withColumn("jaccard",
        round(col("_inter").cast("double") /
          (col("_sza") + col("_szb") - col("_inter")), 6))
      .withColumn("contained_id",
        when(col("_szb") < col("_sza"), col("id_b")).otherwise(col("id_a")))
      .select("id_a", "id_b", "containment", "jaccard", "contained_id")
  }

  /** Shared inverted-index core: candidate pairs with
    * (_inter = |A∩B|, _sza, _szb) gram-set sufficient statistics. */
  private def intersections(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockExpr: String,
      n: Int,
      maxPostingSize: Option[Int],
      maxPostingHead: Option[Int]): DataFrame = {
    // Hashed shingles: long intersection counting beats string (see
    // MinHashDedup note on collision odds).
    val sh = graft.functions.ShingleHashes(col(textCol), n)
    val docs = graft.core.PersistScope.register(
      df.select(col(idCol).as("_id"), expr(blockExpr).as("_blk"), sh.as("_sh"))
        .persist())
    docs.count() // populate the cache before the three downstream branches
    val sizes = docs.select(col("_id"), size(col("_sh")).cast("long").as("_sz"))
    val ex = BucketGuard.head(
      BucketGuard.cap(
        docs.select(col("_blk"), col("_id"), explode(col("_sh")).as("_s")),
        Seq("_blk", "_s"), maxPostingSize),
      Seq("_blk", "_s"), "_id", maxPostingHead)
    val co = ex.select(col("_blk"), col("_s"), col("_id").as("id_a"))
      .join(ex.select(col("_blk"), col("_s"), col("_id").as("id_b")), Seq("_blk", "_s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("_inter"))
    co.join(sizes.select(col("_id").as("id_a"), col("_sz").as("_sza")), Seq("id_a"))
      .join(sizes.select(col("_id").as("id_b"), col("_sz").as("_szb")), Seq("id_b"))
  }
}

/** Benchmark decontamination: flag (or drop) corpus documents that share any
  * word n-gram with a held-out benchmark/eval corpus — the standard
  * contamination control in pretraining pipelines (publicly described in the
  * GPT-3 paper's appendix C 13-gram filter and the open Dolma/RedPajama
  * toolkits).
  *
  * Scale design (100 TB corpus, benchmark suites are MBs–GBs):
  *   - Both sides reduce to their DISTINCT hashed n-gram sets via the fused
  *     zero-allocation [[graft.functions.ShingleHashes]] pass — only (gram
  *     hash, id) longs ever move, never token arrays or text.
  *   - The benchmark gram set is tiny relative to the corpus, so the default
  *     plan BROADCASTS it: the corpus side streams map-side through the hash
  *     join with no shuffle of exploded grams at all, and the only shuffle
  *     is the final per-doc count (partial-aggregated map-side).
  *   - With `broadcastBenchmark = false` it degrades gracefully to a
  *     shuffled hash join on the gram hash. Either way output cardinality is
  *     bounded by the corpus's exploded gram count (both join sides are
  *     distinct), so there is no quadratic bucket anywhere — unlike the
  *     near-dup families, contamination needs no pair budget.
  */
object Decontaminate {

  /** Per-doc contamination hits: (idCol, n_contaminated) where
    * `n_contaminated` = number of DISTINCT word n-grams of the doc that also
    * occur anywhere in `benchmark`. Docs with zero shared grams are absent. */
  def hits(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 8,
      broadcastBenchmark: Boolean = true): DataFrame = {
    val bg0 = benchmark
      .select(explode(graft.functions.ShingleHashes(col(benchTextCol), n)).as("_g"))
      .distinct()
    val bg = if (broadcastBenchmark) broadcast(bg0) else bg0
    corpus
      .select(col(idCol), explode(graft.functions.ShingleHashes(col(textCol), n)).as("_g"))
      .join(bg, Seq("_g"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_contaminated"))
  }

  /** The audit direction: per BENCHMARK item, how much of it leaked into the
    * corpus — `(benchIdCol, n_grams, n_hit, hit_frac)` where `n_grams` is the
    * item's distinct n-gram count and `n_hit` how many of those occur
    * anywhere in the corpus. This is the report eval teams publish
    * ("x% of benchmark Y's n-grams appear in the training set"); `hits`/
    * `clean` answer the corpus-side question, this answers the eval-side one.
    * Every benchmark item with at least one n-gram appears in the output,
    * including zero-HIT ones (items shorter than n words have no gram set
    * to audit and are absent).
    *
    * Scale shape (corpus 100 TB, benchmark MBs): the benchmark's
    * (id, gram) pairs are tiny and BROADCAST; the corpus reduces to its
    * distinct gram-hash set — one linear aggregation on 64-bit longs, the
    * same shape as `hits` — and streams map-side through the broadcast hash
    * join. Each (id, gram) pair matches at most once because BOTH sides are
    * distinct, so the per-item count needs no second dedup. The final
    * groupBy keys on benchmark ids (bounded by the benchmark's size). */
  def benchmarkHits(
      corpus: DataFrame,
      textCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int = 8): DataFrame = {
    val bg = benchmark
      .select(col(benchIdCol),
        explode(graft.functions.ShingleHashes(col(benchTextCol), n)).as("_g"))
      .distinct()
    // Spark cannot build a LEFT-outer hash join from a broadcast LEFT side,
    // so the big-small join is INNER (corpus streams through the broadcast
    // benchmark grams map-side) and the zero-hit items re-enter via a
    // small-side left join between two benchmark-bounded aggregates.
    val hitCounts = corpus
      .select(explode(graft.functions.ShingleHashes(col(textCol), n)).as("_g"))
      .distinct()
      .join(broadcast(bg), Seq("_g"))
      .groupBy(benchIdCol)
      .agg(count(lit(1)).cast("long").as("n_hit"))
    val totals = bg.groupBy(benchIdCol)
      .agg(count(lit(1)).cast("long").as("n_grams"))
    totals.join(hitCounts, Seq(benchIdCol), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("hit_frac",
        round(col("n_hit").cast("double") / col("n_grams"), 6))
  }

  /** The corpus minus every contaminated document (left-anti on hits). */
  def clean(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 8,
      broadcastBenchmark: Boolean = true): DataFrame =
    corpus.join(
      hits(corpus, idCol, textCol, benchmark, benchTextCol, n, broadcastBenchmark)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** EMBEDDING-space benchmark decontamination — the semantic arm the
    * n-gram family structurally misses (the public "LLM decontaminator"
    * concern, Yang et al. 2023: a REPHRASED benchmark item shares few
    * 8-grams with its source but sits next to it in embedding space):
    * for every corpus row, the single nearest benchmark embedding by
    * round-6 cosine; rows scoring at or above `threshold` are hits,
    * emitted as (id, bench_id, score).
    *
    * Scale shape: the benchmark collects ONCE to the driver and
    * broadcasts as a plain array (eval benchmarks are thousands of
    * rows against a 100 TB corpus by construction — `maxBenchRows`
    * guards the contract); the corpus streams through one
    * mapPartitions kernel — no join, no shuffle, no window, per-row
    * cost |bench|·dim multiply-adds. That per-CORPUS-ROW cost is
    * linear in the cap, so the default (100k) IS the op's cost model:
    * raising it deliberately scales every corpus row's work with it.
    * Determinism: doubles accumulate in fixed dim
    * order, scores round to 6 before comparison, ties break on the
    * smaller bench id (the bench array is id-sorted). Null or
    * zero-norm embeddings on either side never match; an embedding
    * with a null ELEMENT (corrupt row) fails loud with its id. */
  def embeddingHits(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchEmbCol: String,
      threshold: Double,
      maxBenchRows: Int = 100000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxBenchRows >= 1, s"maxBenchRows must be >= 1, got $maxBenchRows")
    val benchRows = benchmark
      .select(col(benchIdCol),
        transform(col(benchEmbCol), x => x.cast("double")).as("_e"))
      .collect()
    require(benchRows.nonEmpty, "embeddingHits: empty benchmark")
    require(benchRows.length <= maxBenchRows,
      s"embeddingHits: benchmark has ${benchRows.length} rows, over the " +
        s"$maxBenchRows broadcast bound — the kernel pays |bench|·dim " +
        "multiply-adds PER CORPUS ROW, so the cap is the op's cost " +
        "model, not just a broadcast-size guard; decontamination " +
        "benchmarks are thousands of rows by construction — raise " +
        "maxBenchRows deliberately if yours is genuinely larger")
    val bench = benchRows
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map { r =>
        val a = unboxEmbedding(r.getSeq[Any](1), "benchmark", r.get(0))
        var i = 0; var nn = 0.0
        while (i < a.length) { nn += a(i) * a(i); i += 1 }
        (r.get(0), a, math.sqrt(nn))
      }
      .filter(_._3 > 0.0)
      .sortWith((x, y) => compareIds(x._1, y._1) < 0)
    // a benchmark that filters to NOTHING usable must fail like an empty
    // one — a contamination gate silently matching nothing ships
    // contaminated data (the worst failure mode this op can have)
    require(bench.nonEmpty, "embeddingHits: benchmark has no usable " +
      "embeddings (every row is null or zero-norm)")
    val benchDim = bench.head._2.length
    require(bench.forall(_._2.length == benchDim),
      "embeddingHits: benchmark embeddings have mixed dimensions")
    val bc = corpus.sparkSession.sparkContext.broadcast(bench)
    val proj = corpus.select(col(idCol),
      transform(col(embCol), x => x.cast("double")).as("_e"))
    val benchIdType =
      benchmark.schema(benchmark.schema.fieldIndex(benchIdCol)).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      proj.schema.head,
      org.apache.spark.sql.types.StructField("bench_id", benchIdType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    val thr = threshold
    val bd = benchDim
    proj.mapPartitions { it =>
      val b = bc.value
      it.flatMap { row =>
        if (row.isNullAt(1)) Iterator.empty
        else {
          val e = unboxEmbedding(row.getSeq[Any](1), "corpus", row.get(0))
          // a corpus/benchmark dimension mismatch means a wrong encoder
          // or a stale column — fail LOUD, never silently match nothing
          if (e.length != bd) throw new IllegalArgumentException(
            s"embeddingHits: corpus row ${row.get(0)} has dimension " +
              s"${e.length}, benchmark has $bd — different encoders?")
          var i = 0; var nn = 0.0
          while (i < e.length) { nn += e(i) * e(i); i += 1 }
          val norm = math.sqrt(nn)
          if (norm == 0.0) Iterator.empty
          else {
            var best = Double.NegativeInfinity
            var bestId: Any = null
            var j = 0
            while (j < b.length) {
              val (bid, be, bn) = b(j)
              var dot = 0.0; var d = 0
              while (d < e.length) { dot += e(d) * be(d); d += 1 }
              val sc = graft.core.Num.rnd6(dot / (norm * bn))
              // strictly greater: the id-sorted array makes the
              // SMALLEST bench id win round-6 ties
              if (sc > best) { best = sc; bestId = bid }
              j += 1
            }
            if (bestId != null && best >= thr)
              Iterator.single(org.apache.spark.sql.Row(
                row.get(0), bestId, best))
            else Iterator.empty
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Unbox a (possibly element-null) embedding Seq to a double array in
    * ONE pass — a null ELEMENT is a corrupt row, not an absent
    * embedding: fail loud with the row id inside the unboxing loop (the
    * gate convention), never a second O(dim) scan and never an opaque
    * executor NPE. Shared by the benchmark (driver) and corpus
    * (executor kernel) arms of [[embeddingHits]]. */
  private def unboxEmbedding(s: Seq[Any], side: String,
      id: Any): Array[Double] = {
    val a = new Array[Double](s.length)
    var i = 0
    while (i < a.length) {
      val v = s(i)
      if (v == null) throw new IllegalArgumentException(
        s"embeddingHits: $side row $id has a null embedding element — " +
          "corrupt embedding column")
      a(i) = v.asInstanceOf[Double]
      i += 1
    }
    a
  }

  /** Natural ordering for bench ids of the common id types; mirrors the
    * ORDER BY a SQL oracle applies to the same column. */
  private def compareIds(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case _ => a.toString.compareTo(b.toString)
  }

  /** The corpus minus embedding-space contamination (left-anti on
    * [[embeddingHits]] ids — ids only through the join). */
  def embeddingClean(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchEmbCol: String,
      threshold: Double,
      maxBenchRows: Int = 100000): DataFrame =
    corpus.join(
      embeddingHits(corpus, idCol, embCol, benchmark, benchIdCol,
        benchEmbCol, threshold, maxBenchRows).select(col(idCol)),
      Seq(idCol), "left_anti")
}

/** Corpus-frequency segment removal — the line-level dedup pass of the
  * public web-corpus pipelines (CCNet groups by line hash; RefinedWeb /
  * Falcon drop lines repeated across many pages as boilerplate: nav bars,
  * cookie banners, footers). A "segment" is any `delim`-separated unit —
  * line, sentence, or word — so the same operator serves boilerplate-line
  * removal and corpus-stopword stripping.
  *
  * Scale shape: segments explode once; the document-frequency aggregation
  * shuffles 64-bit `xxhash64` segment keys, never the segment strings; the
  * banned set is at most (total segment occurrences) / maxDocFreq entries —
  * small for any meaningful threshold — and joins back LEFT ANTI on the
  * hash (AQE broadcasts it when it fits); the rebuild is one groupBy(id)
  * whose per-doc state is the document's own segment list, bounded by
  * document length. No stage holds more than one document's segments in a
  * single aggregation buffer. 64-bit hash collisions can conflate two
  * distinct segments — the standing dedup-family convention.
  */
object LineDedup {

  /** Documents with every segment occurring in more than `maxDocFreq`
    * distinct documents removed, text rebuilt in original segment order as
    * `{textCol}_clean`. Documents whose segments are ALL banned drop from
    * the output (no empty-text rows); other columns re-join via idCol. */
  def clean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
      maxDocFreq: Long = 1000): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val segs = df.select(
      col(idCol),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(delim))).as(Seq("_pos", "_seg")))
    val banned = segs
      .groupBy(xxhash64(col("_seg")).as("_segh"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select("_segh")
    segs
      .withColumn("_segh", xxhash64(col("_seg")))
      .join(banned, Seq("_segh"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("_pos"), col("_seg")))),
          s => s("_seg")),
        delim).as(s"${textCol}_clean"))
  }

  /** Pipeline-composable shape: the input rows with `textCol` REPLACED by
    * its cleaned text, all other columns passing through (inner join on
    * idCol — all-boilerplate documents still drop). */
  def apply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
      maxDocFreq: Long = 1000): DataFrame = {
    val cleaned = clean(df, idCol, textCol, delim, maxDocFreq)
      .withColumnRenamed(s"${textCol}_clean", textCol)
    // Preserve the input column order; idCol joins, textCol substitutes.
    df.drop(textCol).join(cleaned, Seq(idCol))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication"): cluster the embedding space
  * with k-means, compare cosine similarity only WITHIN each cluster, close
  * above-threshold pairs into connected components, and keep one
  * representative per component. The clustering is what makes web-scale
  * semantic dedup tractable — candidate pairs are bounded by cluster sizes,
  * never |corpus|².
  *
  * Scale shape: centroids train on a seeded-hash driver sample
  * ([[graft.ann.Ann.trainCentroids]], the FAISS recipe — O(sample·k·dim)
  * driver work); assignment is a distributed codegen nearest-centroid
  * expression; the in-cluster pair join takes the same hot-bucket guards as
  * the LSH families (`maxClusterSize` ban / `maxClusterHead` id-ordered
  * head); components close over the pair EDGE LIST (never documents); the
  * survivor window is one keyed rank. `nClusters = 1` degrades to exact
  * all-pairs — the oracle-checkable small-corpus mode; real corpora size
  * `nClusters` so clusters stay comparable to an LSH bucket.
  */
object SemDedup {

  /** Rows minus semantic near-duplicates: per component, the highest
    * `qualityExpr` row survives (id ascending tie-break; empty quality =
    * keep the lowest id). */
  def keepBest(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nClusters: Int,
      cosineThreshold: Double = 0.95,
      qualityExpr: String = "",
      maxClusterSize: Option[Int] = None,
      maxClusterHead: Option[Int] = None,
      seed: Long = 42): DataFrame = {
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    val comp = graft.graph.ConnectedComponents.runFromEdges(
      candidatePairs(df, idCol, embCol, nClusters, cosineThreshold,
        maxClusterSize, maxClusterHead, seed)
        .select("id_a", "id_b"))
      .withColumnRenamed("id", idCol)
    val quality =
      if (qualityExpr.isEmpty) lit(0) else expr(qualityExpr)
    MinHashDedup.keepBestByComponent(df, idCol, comp, quality)
  }

  /** The in-cluster near-duplicate pair list (id_a < id_b, rounded cosine). */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nClusters: Int,
      cosineThreshold: Double = 0.95,
      maxClusterSize: Option[Int] = None,
      maxClusterHead: Option[Int] = None,
      seed: Long = 42): DataFrame = {
    val projected = df.select(col(idCol).as("_id"), col(embCol).as("_e"))
    val assigned =
      // Exact mode: one cell. The cell value must stay NON-FOLDABLE
      // (pmod(hash, 1) = 0 per row) — a literal 0 would let Catalyst fold
      // the join condition to `true` and plan the forbidden
      // BroadcastNestedLoopJoin instead of a keyed join.
      if (nClusters == 1)
        projected.withColumn("_cell", pmod(xxhash64(col("_id")), lit(1L)))
      else graft.ann.Ann.ivfAssign(projected, "_e",
        graft.ann.Ann.trainCentroids(df.select(col(embCol)), embCol,
          nClusters, seed = seed))
    val docs = BucketGuard.head(
      BucketGuard.cap(assigned, Seq("_cell"), maxClusterSize),
      Seq("_cell"), "_id", maxClusterHead)
    val l = docs.select(col("_cell"), col("_id").as("id_a"), col("_e").as("_ea"))
    val r = docs.select(col("_cell"), col("_id").as("id_b"), col("_e").as("_eb"))
    l.join(r, Seq("_cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(graft.functions.CosineSimilarity(col("_ea"), col("_eb")), 6))
      .filter(col("cosine") >= cosineThreshold)
      .select("id_a", "id_b", "cosine")
  }
}

/** Substring-span dedup — the windowed form of exact substring
  * deduplication ("Deduplicating Training Data Makes Language Models
  * Better", Lee et al. 2022: suffix-array duplicate spans): every n-token
  * window that occurs more than once in the corpus keeps ONLY its first
  * occurrence (minimal (doc, position)); the tokens every other occurrence
  * covers are masked out and documents rebuild from the surviving tokens.
  * Catches copy-paste spans that cross segment boundaries — the case
  * delimiter-aligned [[LineDedup]] cannot see.
  *
  * Scale shape: windows explode as (doc, pos, 64-bit hash) — stride-1, so
  * |tokens| rows per doc, linear; ONE hash aggregation finds each window's
  * first occurrence and count; only duplicated occurrences (bounded by the
  * duplicated volume, not the corpus) explode to covered positions for the
  * anti-join; rebuild is the same per-doc regroup LineDedup uses. Never a
  * pair join — duplicate detection is counting, exactly like
  * decontaminate. Hash note: spans compare by xxhash64 (the dedup-family
  * 64-bit collision convention).
  */
object SpanDedup {

  /** (idCol, `{textCol}_clean`): text with duplicated spans masked.
    * Documents reduced to zero tokens drop from the output. */
  def clean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      delim: String = " "): DataFrame = {
    require(n >= 2, s"span window must be >= 2 tokens, got $n")
    val q = java.util.regex.Pattern.quote(delim)
    // The delimiter reaches SQL-literal position only inside concat_ws
    // (split stays in the Column API, where Pattern.quote needs no
    // escaping); backslashes and quotes escape for the SQL parser.
    val delimSql = delim.replace("\\", "\\\\").replace("'", "\\'")
    val withToks = df.select(col(idCol), split(col(textCol), q).as("_toks"))
    // (doc, pos, window-hash) for every stride-1 n-token window. Consumed
    // twice (duplicate counting, then the occurrence join) — persisted as
    // the narrow (id, pos, hash) projection so the explode+hash pass runs
    // once, the dedup-family convention (released via PersistScope).
    val wins = graft.core.PersistScope.register(withToks
      .filter(size(col("_toks")) >= n)
      .select(col(idCol), posexplode(expr(
        s"""transform(
              sequence(0, size(_toks) - $n),
              i -> xxhash64(concat_ws('$delimSql',
                     slice(_toks, i + 1, $n))))"""))
        .as(Seq("_pos", "_wh")))
      .persist())
    // First occurrence = min (doc, pos) struct; duplicated = count > 1.
    val dups = wins
      .groupBy(col("_wh"))
      .agg(min(struct(col(idCol), col("_pos"))).as("_keeper"),
        count(lit(1)).as("_cnt"))
      .filter(col("_cnt") > 1)
      .select(col("_wh"), col("_keeper"))
    // Every non-keeper occurrence masks its n covered token positions;
    // positions aggregate to ONE small array per affected doc.
    val masked = wins
      .join(dups, Seq("_wh"))
      .filter(struct(col(idCol), col("_pos")) =!= col("_keeper"))
      .select(col(idCol),
        explode(sequence(col("_pos"), col("_pos") + lit(n - 1))).as("_pos"))
      .distinct()
      .groupBy(col(idCol))
      .agg(collect_list(col("_pos")).as("_mask"))
    // Rebuild is a per-row codegen'd array filter against the (usually
    // absent) mask — tokens themselves never explode or shuffle; only
    // masked POSITIONS move, bounded by the duplicated volume. Docs whose
    // every position is masked drop (matching the regroup shape this
    // replaces); original empty/short docs are never masked, so they pass.
    withToks
      .join(masked, Seq(idCol), "left")
      .filter(col("_mask").isNull || size(col("_mask")) < size(col("_toks")))
      .select(col(idCol), expr(
        s"""array_join(
              transform(
                filter(
                  transform(_toks, (t, i) -> struct(i AS i, t AS t)),
                  s -> _mask IS NULL OR NOT array_contains(_mask, s.i)),
                s -> s.t),
              '$delimSql')""").as(s"${textCol}_clean"))
  }

  /** Pipeline-composable shape: `textCol` replaced by the masked text,
    * other columns passing through (inner join on idCol — fully-duplicated
    * documents still drop). */
  def apply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      delim: String = " "): DataFrame = {
    val cleaned = clean(df, idCol, textCol, n, delim)
      .withColumnRenamed(s"${textCol}_clean", textCol)
    df.drop(textCol).join(cleaned, Seq(idCol))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}

object EmbeddingDedup {

  /** Axis-aligned planes: plane i = unit vector on dimension i (sketch bit i
    * = sign of embedding[i]) — SQL-oracle-reproducible. */
  def axisPlanes(n: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(n, dim)((i, j) => if (i == j) 1.0 else 0.0)

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH
    * bucketing: sign-bit sketch of `numPlanes` fixed pseudo-random
    * hyperplanes, bucket join on the sketch, cosine verify.
    *
    * The hyperplanes are derived deterministically from a seed so reruns (and
    * the test oracle) agree. Candidates only form within buckets, so the
    * verify join is linear-ish, not quadratic.
    *
    * `explicitPlanes` overrides the random hyperplanes — axis-aligned unit
    * vectors make the sketch a pure sign test on the first `numPlanes`
    * dimensions, which an external SQL oracle can reproduce exactly.
    */
  def pairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      numPlanes: Int = 8,
      cosineThreshold: Double = 0.95,
      seed: Long = 42,
      explicitPlanes: Option[Array[Array[Double]]] = None,
      maxBucketSize: Option[Int] = None,
      maxBucketHead: Option[Int] = None): DataFrame = {
    val sketch = VectorFunctions.sketch(col(embCol),
      explicitPlanes.getOrElse(VectorFunctions.planes(numPlanes, dim, seed)))
    val docs = BucketGuard.head(
      BucketGuard.cap(
        df.select(col(idCol).as("_id"), col(embCol).as("_e"), sketch.as("_b")),
        Seq("_b"), maxBucketSize),
      Seq("_b"), "_id", maxBucketHead)
    val l = docs.select(col("_b"), col("_id").as("id_a"), col("_e").as("_ea"))
    val r = docs.select(col("_b"), col("_id").as("id_b"), col("_e").as("_eb"))
    l.join(r, Seq("_b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(graft.functions.CosineSimilarity(col("_ea"), col("_eb")), 6))
      .filter(col("cosine") >= cosineThreshold)
      .select("id_a", "id_b", "cosine")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.MinHashSignature

/** Structured Streaming operators (SURVEY.md §2.12: absent from the
  * reference; extension territory the driver mandates we cover Spark-first).
  *
  * All transforms are expressed on the streaming DataFrame so the micro-batch
  * planner reuses the same Catalyst pipeline as batch: a `readStream` source
  * swaps in, the operator code is identical (the semantic mapPartitions ops
  * compose with streams too — they are object operators, legal in
  * append-mode streams).
  *
  * The stateful ops accept a `stateTtl` (processing-time duration string):
  * groups idle past it are evicted, so total state is bounded by the TTL
  * window's activity instead of the stream's lifetime. Note Spark schedules
  * extra (possibly empty) micro-batches to fire processing-time timeouts:
  * run TTL'd queries with a real `Trigger.ProcessingTime` interval, and
  * poll the sink rather than `processAllAvailable()` in tests (the engine
  * never reports a TTL'd stream quiescent).
  */
object Streams {

  /** Watermarked tumbling-window aggregation over an event stream —
    * the canonical streaming rollup (event time = `tsCol`).
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowDuration: String,
      watermarkDelay: String,
      keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Gap-based sessionization as a NATIVE session-window aggregation —
    * `session_window` + watermark, so the engine owns the state: sessions
    * close (and their state evicts) when the watermark passes session end +
    * gap, with no custom state function at all. Emits one row per CLOSED
    * session in append mode — the right shape for an always-on pipeline
    * writing finished sessions to a sink. [[sessionize]] remains the
    * custom-state form for consumers that want live per-event snapshots
    * (update mode) or a processing-time TTL. */
  def sessionWindows(
      events: DataFrame,
      tsCol: String,
      gapDuration: String,
      watermarkDelay: String,
      keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gapDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming corpus-drift monitor: per event-time window, the
    * Jensen-Shannon divergence between the window's unigram distribution
    * and a STATIC reference distribution (last month's corpus, the
    * training mix) — the always-on form of
    * [[graft.ops.CorpusDrift.jensenShannon]], with the same Laplace
    * smoothing over the joint vocabulary (bounded by ln 2, finite on
    * disjoint vocabularies). The alert rule a crawl pipeline wants:
    * "page me when this hour's token distribution diverges".
    *
    * Scale shape: ONE watermarked stateful aggregation (token explode →
    * collect per window — state bounded by window content, the quantity
    * a drift number must see by definition); the reference rides as a
    * BROADCAST map closed over by one post-aggregation UDF, so no second
    * stateful operator (chained streaming aggs are restricted) and no
    * stream-static join. Emits one row per closed window in append mode:
    * (window, n_tokens, vocab_size, js_divergence). */
  def driftByWindow(
      events: DataFrame,
      tsCol: String,
      textCol: String,
      windowDuration: String,
      watermarkDelay: String,
      reference: Map[String, Long]): DataFrame = {
    require(reference.nonEmpty, "driftByWindow needs a non-empty reference")
    val refTotal = reference.values.map(_.toDouble).sum
    // Actually broadcast (not closure-capture — a months-of-crawl
    // reference map is tens of MB that must ship once per executor, not
    // inside every micro-batch's task binaries).
    val refB = events.sparkSession.sparkContext.broadcast(reference)
    val js = udf((toks: Seq[String]) => {
      val ref = refB.value
      val wc = toks.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
      val wTotal = toks.size.toDouble
      val vocab = (wc.keySet ++ ref.keySet).toSeq
      val v = vocab.size.toDouble
      val sum = vocab.iterator.map { tok =>
        val p = (wc.getOrElse(tok, 0.0) + 1.0) / (wTotal + v)
        val q = (ref.getOrElse(tok, 0L).toDouble + 1.0) / (refTotal + v)
        val m = (p + q) / 2.0
        p * math.log(p / m) * 0.5 + q * math.log(q / m) * 0.5
      }.sum
      (math.rint(sum * 1e6) / 1e6, vocab.size.toLong)
    })
    events
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(filter(split(col(textCol), " "),
        t => length(t) > 0)).as("_tok"))
      .groupBy(window(col(tsCol), windowDuration))
      .agg(collect_list(col("_tok")).as("_toks"))
      .withColumn("_js", js(col("_toks")))
      .select(col("window"),
        size(col("_toks")).cast("bigint").as("n_tokens"),
        col("_js._2").as("vocab_size"),
        col("_js._1").as("js_divergence"))
  }

  final case class SessionInfo(
      user_id: Long, session_start: Long, session_end: Long, n_events: Long)
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Gap-based sessionization with custom state (`mapGroupsWithState`):
    * per user, events within `gapSeconds` extend the current session; a
    * larger gap starts a new one. Each update emits the current session
    * snapshot (Update-mode consumers keep the latest row per user). The
    * batch analog is q06_sessionize; this is the always-on form.
    *
    * `stateTtl` bounds state over an infinite stream: a user idle past the
    * TTL (processing time) has their state evicted — the final session
    * snapshot is emitted once more on eviction, and a later event starts a
    * fresh session. Without a TTL the per-user state set grows with the
    * number of EVER-seen users, which an always-on pipeline cannot afford.
    *
    * Input must have columns (user_id: Long, ts_seconds: Long).
    */
  def sessionize(
      events: Dataset[Row],
      gapSeconds: Long,
      stateTtl: Option[String] = None): Dataset[SessionInfo] = {
    import events.sparkSession.implicits._
    val byUser = events
      .selectExpr("user_id", "ts_seconds")
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)
    val timeout = processingTime[Long](stateTtl)
    byUser.mapGroupsWithState[SessionState, SessionInfo](timeout.conf) {
      case (userId, rows, state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          // Idle past TTL: emit the closing snapshot, drop the state.
          val s = state.get
          state.remove()
          SessionInfo(userId, s.start, s.last, s.n)
        } else {
          val ts = rows.map(_._2).toSeq.sorted
          val merged = ts.foldLeft(state.getOption) {
            case (None, t) => Some(SessionState(t, t, 1))
            case (Some(s), t) if t - s.last <= gapSeconds =>
              Some(SessionState(s.start, t, s.n + 1))
            case (Some(_), t) => Some(SessionState(t, t, 1)) // gap exceeded
          }
          merged.foreach(state.update)
          timeout.rearm(state, Nil)
          val s = merged.get
          SessionInfo(userId, s.start, s.last, s.n)
        }
    }
  }

  /** STATELESS streaming decontamination: drop stream rows sharing any word
    * n-gram with a static benchmark corpus (the streaming face of
    * [[graft.dedup.Decontaminate]]). The benchmark's distinct gram hashes —
    * benchmark/eval suites are MBs, not corpus-scale — collect once at plan
    * time and ship to executors as one array literal, so the per-row check
    * is a pure `arrays_overlap` against the fused
    * [[graft.functions.ShingleHashes]] pass: no state store, no join, legal
    * in any output mode, and identical semantics batch vs stream. For a
    * benchmark too large to broadcast as a literal, decontaminate the batch
    * corpus with `Decontaminate.clean` instead — the streaming filter is
    * deliberately the small-benchmark shape. */
  def decontaminate(
      stream: DataFrame,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 8): DataFrame = {
    val grams = benchmark
      .select(explode(graft.functions.ShingleHashes(col(benchTextCol), n)).as("_g"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (grams.isEmpty) stream
    else stream.filter(!arrays_overlap(
      graft.functions.ShingleHashes(col(textCol), n), typedlit(grams)))
  }

  /** Streaming bloom-filter decontamination against an accumulated
    * reference corpus: keep rows whose word n-grams hit the reference's
    * [[graft.dedup.BloomFilter]] at most `maxHits` times. The filter builds
    * ONCE from the static reference (one narrow agg → fixed m-bit word
    * array) and the probe is a pure per-row expression over that broadcast
    * literal — stateless, no stream-static join, so restarts/replays are
    * idempotent and per-batch cost never grows with reference size. Bloom
    * guarantees carry over: nothing contaminated survives (no false
    * negatives); false positives drop clean rows at the configured rate.
    * The always-on analog of `BloomFilter.cleanAgainstReference`. */
  def bloomClean(
      stream: DataFrame,
      textCol: String,
      reference: DataFrame,
      refTextCol: String,
      n: Int = 4,
      m: Long = 1L << 22,
      k: Int = 3,
      maxHits: Long = 0L): DataFrame = {
    val refGrams = reference.select(
      explode(array_distinct(
        graft.functions.TextFunctions.shingles(col(refTextCol), n))).as("_g"))
    bloomCleanWith(stream, textCol,
      graft.dedup.BloomFilter.build(refGrams, "_g", m, k), n, maxHits)
  }

  /** [[bloomClean]] against an ALREADY-BUILT filter — the deployment
    * shape (the reference filter is static state, built once and probed
    * by every ingest batch; rebuilding per stream start is waste). */
  def bloomCleanWith(
      stream: DataFrame,
      textCol: String,
      filter: graft.dedup.BloomFilter.Filter,
      n: Int = 4,
      maxHits: Long = 0L): DataFrame = {
    val hitCount = aggregate(
      graft.dedup.BloomFilter.probeValues(
        array_distinct(
          graft.functions.TextFunctions.shingles(col(textCol), n)), filter),
      lit(0L), (acc, h) => acc + when(h, 1L).otherwise(0L))
    // coalesce: shingles(null) is null, so the fold yields null hits — a
    // null/empty-gram row is gram-DISJOINT from the reference and must be
    // KEPT (matching BloomFilter.cleanAgainstReference), not filtered by
    // `null <= maxHits` evaluating to null.
    stream.withColumn("_bloom_hits", hitCount)
      .filter(coalesce(col("_bloom_hits"), lit(0L)) <= maxHits)
      .drop("_bloom_hits")
  }

  /** Streaming incremental near-dup detection: every (stream doc, reference
    * doc) pair whose exact Jaccard ≥ threshold, where the reference is a
    * STATIC stored [[graft.dedup.MinHashDedup.signatureTable]] (the
    * accumulated corpus's LSH state) — the always-on face of
    * `crossPairsPrecomputed`, for flagging near-dups of already-ingested
    * data at ingest time.
    *
    * Entirely STATELESS (stream-static joins buffer nothing across
    * batches; legal in append mode): the stream side computes shingles +
    * band keys in one pass and probes the static banded keys; exact
    * Jaccard verifies candidates; and because a stream row lives in
    * exactly ONE micro-batch, the multi-band duplicates of a pair are
    * intra-batch only — a hash repartition by pair + per-partition seen-set
    * is exact global pair dedup with no state store. Stream-side shingle
    * arrays ride through the band explode (×numBands within a micro-batch
    * — bounded by batch size, the trade for avoiding a stream-stream
    * self-join, which would need unbounded join state); reference shingles
    * join in thin, candidates-only. Re-flagging across restarts is
    * idempotent by construction (no state to lose). Persist/cache the
    * signature table DataFrame if the per-batch static scan matters. */
  def nearDupHitsAgainstReference(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      refSignatures: DataFrame,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      jaccardThreshold: Double = 0.8): DataFrame = {
    val bands = posexplode(MinHashSignature.bandKeys(col("_sig"), numPerms, numBands))
    val sh = graft.functions.ShingleHashes(col(textCol), shingleSize)
    val sig = MinHashSignature(col("_sha"), numPerms)
    val banded = stream
      .select(col(idCol).as("id_new"), sh.as("_sha"))
      .filter(size(col("_sha")) > 0)
      .withColumn("_sig", sig)
      .select(col("id_new"), col("_sha"), bands.as(Seq("_band", "_bkey")))
    val refBanded = refSignatures
      .select(col("_id").as("id_ref"), explode(col("_bands")).as("_b"))
      .select(col("id_ref"), col("_b._band").as("_band"),
        col("_b._bkey").as("_bkey"))
    val verified = banded
      .join(refBanded, Seq("_band", "_bkey")) // stream-static: stateless
      .join(refSignatures.select(col("_id").as("id_ref"), col("_sh").as("_shb")),
        Seq("id_ref"))
      .withColumn("jaccard",
        round(graft.functions.JaccardSimilarity(col("_sha"), col("_shb")), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_new"), col("id_ref"), col("jaccard"))
    val schema = org.apache.spark.sql.types.StructType(verified.schema.fields.toIndexedSeq)
    verified.repartition(col("id_new"), col("id_ref"))
      .mapPartitions { it =>
        val seen = collection.mutable.HashSet.empty[(Any, Any)]
        it.filter(r => seen.add((r.get(0), r.get(1))))
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** When a gate's idle state expires. `rearm` runs after every update of
    * a live group, with the group's rows of this batch. Processing time
    * slides `stateTtl` from now (no TTL: no timeout). Event time expires
    * the group once the watermark passes its latest event + `stateTtl`. */
  private final case class Timeout[T](
      conf: GroupStateTimeout, rearm: (GroupState[_], Seq[T]) => Unit)

  private def processingTime[T](stateTtl: Option[String]): Timeout[T] = Timeout(
    if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout,
    (state, _) => stateTtl.foreach(state.setTimeoutDuration))

  /** Late rows can carry event times at or below the watermark; the
    * timeout base stays ahead of it, or setting the timeout throws. */
  private def eventTime[T](stateTtl: String, eventMs: T => Long): Timeout[T] = Timeout(
    GroupStateTimeout.EventTimeTimeout,
    (state, items) => state.setTimeoutTimestamp(
      math.max(items.iterator.map(eventMs).max, state.getCurrentWatermarkMs()), stateTtl))

  /** An event-time gate's input: the watermarked timestamp column must
    * reach the stateful operator itself (the analyzer rejects event-time
    * timeouts otherwise), so callers project it through. */
  private def watermarked(rows: DataFrame, tsCol: String, watermarkDelay: String): DataFrame =
    rows.filter(col(tsCol).isNotNull).withWatermark(tsCol, watermarkDelay)

  private def fingerprint(text: String): String = {
    val normalized = text.trim.toLowerCase.replaceAll("\\s+", " ")
    java.security.MessageDigest.getInstance("MD5")
      .digest(normalized.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The exact-dedup gate's state function, one boolean per fingerprint.
    * A new fingerprint passes one row, the min id: the group iterator's
    * order after the shuffle is partition order, not arrival order, so the
    * min id is deterministic across runs and parallelism. Duplicates of a
    * live fingerprint drop and slide its timeout forward; a timed-out
    * fingerprint is evicted. */
  private def dedupGate[T](timeout: Timeout[T], id: T => Long, text: T => String)
      : (String, Iterator[T], GroupState[Boolean]) => Iterator[(Long, String)] = {
    case (_, _, state) if state.hasTimedOut =>
      state.remove()
      Iterator.empty
    case (_, items, state) =>
      val seq = items.toSeq
      val first = if (state.exists) None else Some(seq.minBy(id))
      if (first.isDefined) state.update(true)
      timeout.rearm(state, seq)
      first.iterator.map(t => (id(t), text(t)))
  }

  /** Streaming exact dedup with keyed state (`flatMapGroupsWithState`):
    * the FIRST row per normalized-text fingerprint passes, every later
    * duplicate is dropped — the always-on analog of
    * [[graft.dedup.ExactDedup]]. State per fingerprint is one boolean;
    * `stateTtl` (processing time) evicts fingerprints idle past the TTL, so
    * total state is bounded by the TTL window's distinct-fingerprint count
    * instead of the stream's lifetime count. The recall trade: a duplicate
    * arriving after its original's state expired passes again. Input needs
    * (id: Long, text: String) columns.
    */
  def dedupExact(
      rows: Dataset[Row],
      stateTtl: Option[String] = None): Dataset[(Long, String)] = {
    import rows.sparkSession.implicits._
    val timeout = processingTime[(Long, String)](stateTtl)
    rows.selectExpr("id", "text")
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .groupByKey { case (_, text) => fingerprint(text) }
      .flatMapGroupsWithState[Boolean, (Long, String)](OutputMode.Append(), timeout.conf)(
        dedupGate[(Long, String)](timeout, _._1, _._2))
  }

  /** The quota gate's state function, one Long counter per key: a batch's
    * arrivals admit in id order while the key has room. A timed-out key is
    * evicted, so its budget resets on its next arrival. */
  private def quotaGate[T](timeout: Timeout[T], n: Int, id: T => Long, key: T => String)
      : (String, Iterator[T], GroupState[Long]) => Iterator[(Long, String)] = {
    case (_, _, state) if state.hasTimedOut =>
      state.remove()
      Iterator.empty
    case (_, items, state) =>
      val seq = items.toSeq
      val used = state.getOption.getOrElse(0L)
      val room = n - used.toInt
      val admitted = if (room <= 0) Seq.empty else seq.sortBy(id).take(room)
      state.update(used + admitted.size)
      timeout.rearm(state, seq)
      admitted.iterator.map(t => (id(t), key(t)))
  }

  /** Streaming per-key admission quota — the live counterpart of
    * [[graft.ops.QuotaSelect]]: admit a row only while its key has
    * admitted fewer than `n` rows. An infinite stream has no global
    * quality order, so admission is first-come (within a micro-batch the
    * group's arrivals admit in id order — the shuffled iterator's order
    * is partition order, not arrival order, and sorting by id makes the
    * admitted set deterministic across runs and parallelism). The
    * ingestion guard that stops one hot host from flooding a live crawl.
    *
    * State = ONE Long counter per key (fixed size); `stateTtl` (sliding,
    * processing-time) resets an idle key's budget — a host quiet past
    * the TTL earns a fresh quota, which is usually the wanted policy for
    * rolling ingestion windows.
    *
    * Input needs (id: Long) plus `keyCol`; emits admitted (id, key). */
  def quotaByKey(
      rows: Dataset[Row],
      keyCol: String,
      n: Int,
      stateTtl: Option[String] = None): Dataset[(Long, String)] = {
    require(n >= 1, s"quota must be >= 1, got $n")
    import rows.sparkSession.implicits._
    val timeout = processingTime[(Long, String)](stateTtl)
    rows.selectExpr("id", s"cast($keyCol as string) as _k")
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String)](OutputMode.Append(), timeout.conf)(
        quotaGate[(Long, String)](timeout, n, _._1, _._2))
  }

  /** Event-time variant of [[dedupExact]]'s TTL: fingerprints are evicted
    * when the WATERMARK passes their last-seen event time + `stateTtl` —
    * wall-clock independent, so replaying a checkpointed stream (or
    * reprocessing a backlog at full speed) evicts at exactly the same
    * points as the original run. Prefer this over the processing-time TTL
    * for always-on pipelines whose input carries a usable event time; the
    * processing-time form remains for sources without one. Also avoids the
    * perpetual timeout-check batches of ProcessingTimeTimeout — batches
    * (and evictions) happen only when data advances the watermark, so
    * `processAllAvailable()` works normally.
    *
    * Input needs (id: Long, text: String) plus the `tsCol` timestamp
    * column. The recall trade is the same: a duplicate arriving after its
    * original's eviction passes again; duplicates of a live fingerprint
    * slide its TTL forward.
    */
  def dedupExactEventTime(
      rows: Dataset[Row],
      tsCol: String,
      watermarkDelay: String,
      stateTtl: String): Dataset[(Long, String)] = {
    import rows.sparkSession.implicits._
    type T = (Long, String, java.sql.Timestamp)
    val timeout = eventTime[T](stateTtl, _._3.getTime)
    watermarked(rows, tsCol, watermarkDelay)
      .selectExpr("id", "text", tsCol)
      .as[T](Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.TIMESTAMP))
      .groupByKey { case (_, text, _) => fingerprint(text) }
      .flatMapGroupsWithState[Boolean, (Long, String)](OutputMode.Append(), timeout.conf)(
        dedupGate[T](timeout, _._1, _._2))
  }

  /** Event-time variant of [[quotaByKey]]'s TTL: an idle key's budget
    * resets when the WATERMARK passes its last arrival + `stateTtl` —
    * wall-clock independent, so backlog replays admit exactly the same
    * rows as the original run (the same reasoning as
    * [[dedupExactEventTime]]). Input needs (id: Long), `keyCol`, and the
    * `tsCol` timestamp column; emits admitted (id, key). */
  def quotaByKeyEventTime(
      rows: Dataset[Row],
      keyCol: String,
      n: Int,
      tsCol: String,
      watermarkDelay: String,
      stateTtl: String): Dataset[(Long, String)] = {
    require(n >= 1, s"quota must be >= 1, got $n")
    import rows.sparkSession.implicits._
    type T = (Long, String, java.sql.Timestamp)
    val timeout = eventTime[T](stateTtl, _._3.getTime)
    watermarked(rows, tsCol, watermarkDelay)
      .selectExpr("id", s"cast($keyCol as string) as _k", tsCol)
      .as[T](Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.TIMESTAMP))
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String)](OutputMode.Append(), timeout.conf)(
        quotaGate[T](timeout, n, _._1, _._2))
  }

  /** Per-bucket LSH state: parallel seqs of member ids and their MinHash
    * signatures (Product encoder-friendly). */
  final case class BucketMembers(ids: Seq[Long], sigs: Seq[Seq[Long]])

  /** Banded projection shared by the near-dup variants: id, MinHash
    * signature, and one (band, bandkey) row per band (plus `extraCols`
    * carried through, e.g. the watermarked event-time column). */
  private def bandedSignatures(
      rows: Dataset[Row], shingleSize: Int, numPerms: Int, numBands: Int,
      extraCols: Seq[String]): DataFrame = {
    val bands = posexplode(MinHashSignature.bandKeys(col("_sig"), numPerms, numBands))
    val sh = graft.functions.ShingleHashes(col("text"), shingleSize)
    val sig = MinHashSignature(col("_sh"), numPerms)
    val extras = extraCols.map(col)
    rows
      .select(col("id").cast("long").as("id") +: sh.as("_sh") +: extras: _*)
      .filter(size(col("_sh")) > 0)
      .select(col("id") +: sig.as("_sig") +: extras: _*)
      .select(col("id") +: col("_sig") +: bands.as(Seq("_band", "_bkey")) +: extras: _*)
  }

  /** One bucket invocation: compare this batch's docs (id order —
    * deterministic across partitions) against the held members, emit
    * >= threshold pairs, admit new members up to `maxBucketState`. */
  private def bucketStep(
      docs: Seq[(Long, Seq[Long])], members0: BucketMembers,
      threshold: Double, maxBucketState: Int)
      : (BucketMembers, Seq[(Long, Long, Double)]) = {
    var members = members0
    val out = Seq.newBuilder[(Long, Long, Double)]
    docs.sortBy(_._1).foreach { case (id, sigSeq) =>
      val s = sigSeq.toArray
      members.ids.indices.foreach { i =>
        if (members.ids(i) != id) {
          val other = members.sigs(i)
          var eq = 0
          var p = 0
          while (p < s.length) { if (s(p) == other(p)) eq += 1; p += 1 }
          val est = eq.toDouble / s.length
          if (est >= threshold)
            out += ((math.min(members.ids(i), id), math.max(members.ids(i), id), est))
        }
      }
      if (members.ids.length < maxBucketState && !members.ids.contains(id))
        members = BucketMembers(members.ids :+ id, members.sigs :+ s.toSeq)
    }
    (members, out.result())
  }

  /** The near-dup gate's state function, one [[BucketMembers]] per
    * (band, key) bucket: [[bucketStep]] over the batch's (id, signature)
    * rows. A timed-out bucket is evicted with its members. */
  private def nearDupGate[T](timeout: Timeout[T], threshold: Double, maxBucketState: Int,
      idSig: T => (Long, Seq[Long]))
      : ((Int, Long), Iterator[T], GroupState[BucketMembers]) => Iterator[(Long, Long, Double)] = {
    case (_, _, state) if state.hasTimedOut =>
      state.remove()
      Iterator.empty
    case (_, items, state) =>
      val seq = items.toSeq
      val (members, out) = bucketStep(seq.map(idSig),
        state.getOption.getOrElse(BucketMembers(Nil, Nil)), threshold, maxBucketState)
      state.update(members)
      timeout.rearm(state, seq)
      out.iterator
  }

  /** Streaming NEAR-duplicate detection with keyed LSH state — the always-on
    * analog of [[graft.dedup.MinHashDedup]].
    *
    * Each document's MinHash signature (the same fused codegen expressions
    * as the batch op — Catalyst expressions compose onto streams) is split
    * into band keys; the stream groups by (band, key) and each bucket's
    * state holds up to `maxBucketState` (id, signature) members — the
    * streaming form of the hot-bucket ban, which also bounds total state at
    * `maxBucketState x #buckets`. A new document emits one
    * (earlier_id, id, est_jaccard) event per bucket member whose
    * matching-perm fraction reaches `threshold` (the standard MinHash
    * Jaccard estimator — no shingle arrays ever enter state).
    *
    * A pair co-falling in several bands emits once per band; pipe through
    * `dropDuplicates("id_a", "id_b")` (with a watermark for bounded state)
    * when unique pair events are required.
    *
    * `maxBucketState` bounds each bucket, but over an infinite stream the
    * NUMBER of (band, key) buckets grows without bound — `stateTtl`
    * (processing time) evicts buckets idle past the TTL so total state is
    * `maxBucketState x (buckets active within one TTL window)`. The recall
    * trade: a near-duplicate arriving after every band bucket it shares
    * with its original expired is not flagged. Input needs (id: Long,
    * text: String) columns.
    */
  def dedupNearMinhash(
      rows: Dataset[Row],
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.8,
      maxBucketState: Int = 64,
      stateTtl: Option[String] = None): Dataset[(Long, Long, Double)] = {
    val banded = bandedSignatures(rows, shingleSize, numPerms, numBands, Nil)
    import rows.sparkSession.implicits._
    type T = (Long, Seq[Long], Int, Long)
    val timeout = processingTime[T](stateTtl)
    banded
      .as[(Long, Seq[Long], Int, Long)]
      .groupByKey { case (_, _, band, bkey) => (band, bkey) }
      .flatMapGroupsWithState[BucketMembers, (Long, Long, Double)](
        OutputMode.Append(), timeout.conf)(
        nearDupGate[T](timeout, threshold, maxBucketState, t => (t._1, t._2)))
  }

  /** Event-time variant of [[dedupNearMinhash]]'s TTL: a band bucket is
    * evicted when the watermark passes its last-seen event time + `stateTtl`
    * — wall-clock free (see [[dedupExactEventTime]] for why that matters on
    * checkpoint replay), and no perpetual timeout-check batches. Input
    * needs (id, text, `tsCol`) columns. */
  def dedupNearMinhashEventTime(
      rows: Dataset[Row],
      tsCol: String,
      watermarkDelay: String,
      stateTtl: String,
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.8,
      maxBucketState: Int = 64): Dataset[(Long, Long, Double)] = {
    val banded = bandedSignatures(watermarked(rows, tsCol, watermarkDelay),
      shingleSize, numPerms, numBands, Seq(tsCol))
    import rows.sparkSession.implicits._
    type T = (Long, Seq[Long], Int, Long, java.sql.Timestamp)
    val timeout = eventTime[T](stateTtl, _._5.getTime)
    banded
      .as[(Long, Seq[Long], Int, Long, java.sql.Timestamp)]
      .groupByKey { case (_, _, band, bkey, _) => (band, bkey) }
      .flatMapGroupsWithState[BucketMembers, (Long, Long, Double)](
        OutputMode.Append(), timeout.conf)(
        nearDupGate[T](timeout, threshold, maxBucketState, t => (t._1, t._2)))
  }

  /** Streaming sink helper: run a streaming DataFrame to memory and return
    * the table name (tests / interactive inspection). */
  /** Stream-stream time-interval join — Structured Streaming's NATIVE
    * watermarked join, the streaming analog of
    * [[graft.ops.TemporalOps.windowJoin]]: every (left, right) pair with
    * equal keys whose right timestamp lies in
    * `[left.ts - before, left.ts + after]`. Both sides carry watermarks and
    * the join condition bounds the time range, which is exactly what lets
    * the engine EVICT buffered rows once the watermark passes the interval
    * bound — state is a sliding time window of each side, not the stream's
    * history. Column names must be disjoint across sides (rename before
    * joining); `before`/`after` are SQL interval strings ("4 hours").
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      before: String,
      after: String,
      watermarkDelay: String): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"intervalJoin: column names must be disjoint across sides, shared: " +
        overlap.mkString(", "))
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, expr(
      s"$leftKey = $rightKey AND " +
        s"$rightTs >= $leftTs - interval '$before' AND " +
        s"$rightTs <= $leftTs + interval '$after'"))
  }

  /** Run `body` (a gate's start + drain + stop) with no-data
    * micro-batches disabled, restoring the session default after. The
    * zero-row watermark batch exists to EMIT watermark-driven results
    * (windowed-agg final windows, outer-join null pads) and to evict
    * state early; it costs a full state-store commit cycle across every
    * store instance. Safe ONLY for gates whose operators emit nothing
    * on that batch: INNER stream-stream joins, and
    * flatMapGroupsWithState functions whose timeout branch emits empty
    * (every one in this module — they only `state.remove()`). The
    * append-mode windowed gates (q217-class) NEED the no-data flush and
    * must not use this. Conf restoration is spec-pinned (Round19Spec). */
  def withoutNoDataBatches[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  def toMemorySink(df: DataFrame, name: String, outputMode: OutputMode): Unit = {
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
      .processAllAvailable()
  }
}

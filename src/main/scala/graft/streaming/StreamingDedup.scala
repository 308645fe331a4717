package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/**
 * Streaming exact deduplication over a document stream: emit each distinct
 * content hash's FIRST document, drop every later copy — the online form of
 * `Dedup.exact` (whose batch result is the DuckDB-oracled q23). An ingest
 * pipeline runs this between decode and the sink so duplicates never reach
 * downstream state.
 *
 * State = one boolean per distinct content hash, partitioned by the hash —
 * grows with distinct content (the theoretical minimum for exact streaming
 * dedup) and shards across executors with the shuffle. For corpus-scale
 * streams where even that is too large, [[firstSeenTtl]] bounds state to
 * the hashes sighted within a horizon (processing-time timeout, re-admits
 * after a quiet horizon); the batch `Dedup.exact` as a periodic compaction
 * composes with either variant unchanged.
 *
 * Stateless curation ops (PII redaction, quality/langid scoring, repetition
 * stats' per-doc projections) need no streaming form: they are pure
 * projections and run on a streaming DataFrame as-is.
 */
object StreamingDedup {

  case class HashedDoc(docId: Long, h: Long)

  /** 64-bit content hash (codegen'd xxhash64). `Dedup.exact` keys on md5 —
    * equal text collapses identically under either; this one is a long so
    * the state key stays 8 bytes. */
  def contentHash(text: Column): Column = xxhash64(text)

  /** First-seen filter: one output row per distinct hash, ever — the row
    * with the lowest docId within the batch that introduces the hash.
    * Append-mode; exactly-once per hash under checkpointed recovery. */
  def firstSeen(docs: Dataset[HashedDoc]): Dataset[HashedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[HashedDoc],
            state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(it.minBy(_.docId))
          }
      }
  }

  /** TTL'd first-seen filter: like [[firstSeen]], but a hash's state row
    * expires after `horizonMs` with no sighting. The horizon SLIDES: a
    * duplicate arriving inside it is dropped AND re-arms the timer, so a
    * hash is only forgotten after a full quiet horizon; the next copy then
    * re-admits (at most one extra emit per hash per quiet horizon). State
    * is bounded by the hashes ACTIVE within the horizon instead of all
    * distinct content ever — the trade a 100 TB/day stream has to take;
    * duplicates in real corpora cluster in time (re-crawls, retries), which
    * is exactly what the window keeps. */
  def firstSeenTtl(docs: Dataset[HashedDoc], horizonMs: Long)
      : Dataset[HashedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout) {
        (_: Long, it: Iterator[HashedDoc],
            state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            state.setTimeoutDuration(horizonMs) // sighting re-arms the horizon
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(horizonMs)
            Iterator.single(it.minBy(_.docId))
          }
      }
  }

  /** Convenience: hash a (id, text) stream and keep first-seen docs. */
  def dedupStream(docs: DataFrame, textCol: String, idCol: String)
      : Dataset[HashedDoc] = {
    import docs.sparkSession.implicits._
    firstSeen(docs.select(
      col(idCol).cast("long").as("docId"),
      contentHash(col(textCol)).as("h"))
      .as[HashedDoc])
  }

  /** Convenience: [[dedupStream]] with the TTL'd state variant. */
  def dedupStreamTtl(docs: DataFrame, textCol: String, idCol: String,
      horizonMs: Long): Dataset[HashedDoc] = {
    import docs.sparkSession.implicits._
    firstSeenTtl(docs.select(
      col(idCol).cast("long").as("docId"),
      contentHash(col(textCol)).as("h"))
      .as[HashedDoc], horizonMs)
  }

  /**
   * EVENT-TIME-bounded exact dedup via Spark's native
   * `dropDuplicatesWithinWatermark`: two copies of the same content are
   * collapsed whenever their event times fall within the watermark delay
   * of each other; state for a hash is dropped once the watermark passes
   * it. Complements [[firstSeenTtl]]: that one bounds state by
   * PROCESSING-time quiet horizons (wall-clock retention no matter how
   * the stream replays); this one is replay-deterministic — the same
   * events with the same timestamps dedup identically regardless of
   * trigger cadence, because the horizon is carried by the data.
   *
   * Keeps every input column; `tsCol` must be a TimestampType column the
   * watermark can ride on. One caveat (spec-pinned): Spark evicts expired
   * dedup state at the END of a micro-batch, so a copy arriving in the
   * same batch whose watermark first crosses the original's expiry is
   * still dropped; re-admission starts one batch later.
   */
  def dedupWithinWatermark(docs: DataFrame, textCol: String,
      tsCol: String, delay: String): DataFrame =
    docs
      .withColumn("__h", contentHash(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  // ------------------------------------------------------- streaming near-dup

  case class BandedDoc(docId: Long, bandId: Int, bandHash: Long)
  case class CandidatePair(docA: Long, docB: Long)

  /**
   * Map-only MinHash banding for a STREAM: per doc, shingle hashes, k min
   * hashes, and LSH band hashes are all computed with higher-order array
   * expressions inside projections — no window, no groupBy, so it runs on a
   * streaming DataFrame as-is. Produces the EXACT same (doc_id, band_id,
   * band_hash) rows as the batch `Dedup.minhashBands(Dedup.minhashSignatures(…))`
   * (same token hashes, same positional shingle fold, same affine seeds,
   * same band fold — pinned by a batch-equivalence spec), so stream and
   * batch candidates agree.
   *
   * Docs with fewer than `shingleN` tokens have no shingles and emit no
   * bands, matching the batch path.
   */
  def bandedStream(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4): DataFrame =
    bandRows(docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text")), "__text", Seq("doc_id"),
      numHashes, shingleN, rowsPerBand)

  /**
   * One row per (key columns, band_id, band_hash) computed MAP-ONLY from
   * `textCol` — the shared core of [[bandedStream]] and the sink pipeline's
   * `dedup=near` stage (which keys on (partition, offset) instead of a doc
   * id). The tokenize → shingle → minhash → band chain runs as ONE native
   * codegen'd expression per row ([[graft.functions.MinhashBandsExpr]] —
   * no window, no groupBy, runs on streaming frames as-is), producing the
   * EXACT same band values as the batch
   * `Dedup.minhashBands(Dedup.minhashSignatures(…))` (pinned by the
   * batch-equivalence spec and q78's oracle). Rows with fewer than
   * `shingleN` tokens have no shingles and emit no band rows, matching the
   * batch path (the expression returns an empty array; `explode` drops it).
   *
   * HISTORY: rounds 6–8 composed this from higher-order array lambdas in
   * narrow selects. Those evaluate INTERPRETED per element — the q78 bench
   * row cost 27 s at sf0.1 against 0.8 s for its batch twin q25 — and the
   * shape was fragile (collapsing the narrow selects re-evaluated the
   * shingle fold per downstream reference, measured ~67× slower still).
   * The native expression is both ~30× faster and shape-proof: there is
   * exactly one fold, inside one generated function, whatever Catalyst
   * does to the projections (PlanInventorySpec asserts the
   * single-occurrence plan on q78).
   */
  def bandRows(docs: DataFrame, textCol: String, keyCols: Seq[String],
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val keys = keyCols.map(col)
    val bandsArr = GraftBridge.column(graft.functions.MinhashBandsExpr(
      GraftBridge.expression(col(textCol).cast("string")),
      numHashes, shingleN, rowsPerBand))
    docs
      .select(keys :+ explode(bandsArr).as("band"): _*)
      .select(keys :+ col("band.band_id").as("band_id") :+
        col("band.band_hash").as("band_hash"): _*)
  }

  /**
   * MAP-ONLY winnowed fingerprints for a STREAM — the streaming form of
   * [[graft.operators.TextAnalysis.winnowedFingerprints]] (which uses
   * doc-keyed windows, unavailable on streaming frames): per row, shingle
   * hashes and the per-sliding-window minima are computed with higher-order
   * array expressions inside staged narrow selects (the [[bandRows]] plan
   * shape — each intermediate array stays an ATTRIBUTE between
   * projections), producing the EXACT same (keys, fp) rows as the batch
   * operator (pinned by an equivalence spec). Short rows follow the batch
   * contract: no shingles → no fingerprints; fewer than `window` shingles
   * → the single global min.
   *
   * COST CAVEAT, measured round 7: in-array HOF folds evaluate interpreted
   * per element — on 100k LONG documents the batch window form is ~50×
   * faster (4.6 s vs 230 s for the shingle stage). This form exists for
   * STREAMS, where micro-batches are bounded and record values are
   * typically short (the sink's value column); for batch corpora use
   * [[graft.operators.TextAnalysis.winnowedFingerprints]].
   */
  def winnowedFingerprintRows(docs: DataFrame, textCol: String,
      keyCols: Seq[String],
      shingleN: Int = 3, window: Int = 4): DataFrame = {
    import graft.operators.TextAnalysis.{tokenHashes, HashPrime}
    val keys = keyCols.map(col)
    val ths = tokenHashes(col(textCol))
    val shingles = when(size(ths) >= shingleN,
      transform(sequence(lit(0), size(ths) - shingleN),
        i => (1 until shingleN).foldLeft(element_at(ths, i + 1): Column) {
          (acc, j) => (acc * 131L + element_at(ths, i + j + 1)) % HashPrime
        })).otherwise(array().cast("array<bigint>"))
    val mins = when(size(col("__sh")) === 0, array().cast("array<bigint>"))
      .when(size(col("__sh")) < window, array(array_min(col("__sh"))))
      .otherwise(transform(sequence(lit(0), size(col("__sh")) - window),
        i => array_min(slice(col("__sh"), i + 1, lit(window)))))
    docs
      .select(keys :+ shingles.as("__sh"): _*)
      .select(keys :+ array_distinct(mins).as("__fp"): _*)
      .select(keys :+ explode(col("__fp")).as("fp"): _*)
  }

  /**
   * Online LSH candidate pairs: state per (band_id, band_hash) bucket is the
   * member doc-id list; a doc landing in a non-empty bucket emits a pair
   * with every existing member (docA < docB). Buckets are HARD-CAPPED at
   * `bucketCap` members — the same bound as the batch
   * `Similarity.lshCandidates` cap: a degenerate bucket (boilerplate text
   * every doc shares) emits at most cap·(cap−1)/2 pairs ever, and docs
   * beyond the cap are ignored for that bucket (they still pair through
   * their other bands). State per bucket is ≤ cap longs.
   *
   * A pair sharing SEVERAL bands emits once per band from THIS operator
   * (each bucket's state is independent — a band bucket cannot see another
   * band's emissions); [[oneShotPairs]] downstream is the one-shot contract.
   */
  def streamingCandidates(banded: Dataset[BandedDoc], bucketCap: Int = 64)
      : Dataset[CandidatePair] = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(d => (d.bandId, d.bandHash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[BandedDoc],
            state: org.apache.spark.sql.streaming.GroupState[List[Long]]) =>
          val seen = state.getOption.getOrElse(Nil)
          val newIds = it.map(_.docId).toSeq.distinct.sorted
            .filterNot(seen.contains)
          val out = Seq.newBuilder[CandidatePair]
          var members = seen
          newIds.foreach { id =>
            if (members.size < bucketCap) {
              members.foreach(m =>
                out += CandidatePair(math.min(m, id), math.max(m, id)))
              members = id :: members
            }
          }
          if (members ne seen) state.update(members)
          out.result().iterator
      }
  }

  /** [[streamingCandidates]] with the sliding-horizon state bound: a bucket
    * member with no sighting for `horizonMs` stops pairing, and a bucket
    * quiet for a full horizon clears entirely. State per member is
    * (docId, lastSeenMs) and the horizon is enforced AT PAIRING TIME —
    * `lastSeen >= now − horizon`, the sink's exact filter — because Spark's
    * processing-time timeout has no strict upper bound on firing latency:
    * with a timeout-only horizon a doc arriving after the deadline but
    * before the timeout fires would pair with stale members (round-6
    * advice). The timeout is retained purely as the state-EVICTION
    * mechanism; a member sighting re-arms both its own age and the bucket
    * timer. Same trade as [[firstSeenTtl]] and the sink's
    * `near:<k>x<r>:<ttlMs>` mode: duplicates in real corpora cluster in
    * time; the horizon is what a 100 TB/day stream keeps. */
  def streamingCandidatesTtl(banded: Dataset[BandedDoc], horizonMs: Long,
      bucketCap: Int = 64): Dataset[CandidatePair] = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(d => (d.bandId, d.bandHash))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout) {
        (_: (Int, Long), it: Iterator[BandedDoc],
            state: org.apache.spark.sql.streaming.GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val now = System.currentTimeMillis()
            // exact horizon: age members out HERE, not at timeout fire
            val live = state.getOption.getOrElse(Nil)
              .filter(_._2 >= now - horizonMs)
            val arrivals = it.map(_.docId).toSeq.distinct.sorted
            val out = Seq.newBuilder[CandidatePair]
            // a re-sighted member re-arms its own age (and pairs with no one
            // — it is already in the bucket, matching the untimed variant)
            var members = live.map { case (id, ts) =>
              if (arrivals.contains(id)) (id, now) else (id, ts)
            }
            arrivals.filterNot(id => live.exists(_._1 == id)).foreach { id =>
              if (members.size < bucketCap) {
                members.foreach { case (m, _) =>
                  out += CandidatePair(math.min(m, id), math.max(m, id)) }
                members = (id, now) :: members
              }
            }
            state.update(members)
            state.setTimeoutDuration(horizonMs) // eviction only — any
                                                // sighting re-arms the bucket
            out.result().iterator
          }
      }
  }

  /** One-shot pair contract: each (docA, docB) candidate emits EXACTLY once
    * across bands and micro-batches — a pair-keyed first-seen filter over
    * the per-band emissions of [[streamingCandidates]] (a pair sharing k
    * bands otherwise surfaces up to k times). State = one boolean per
    * distinct emitted pair, bounded by the band gate's candidate volume
    * (near-dup density × bucketCap ceiling), not by the corpus. Chaining two
    * Append-mode flatMapGroupsWithState operators is supported streaming
    * topology; the spec drives it through checkpointed micro-batches. */
  def oneShotPairs(pairs: Dataset[CandidatePair]): Dataset[CandidatePair] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(p => (p.docA, p.docB))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: (Long, Long), _: Iterator[CandidatePair],
            state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(CandidatePair(k._1, k._2))
          }
      }
  }

  /** [[oneShotPairs]] with the sliding-horizon state bound: a pair's
    * emitted-flag expires after a quiet `horizonMs` (re-sightings re-arm
    * it), so a pair re-surfacing after a full quiet horizon emits again —
    * at most one emit per pair per quiet horizon instead of exactly once
    * ever. State is the pair's lastSeenMs and the horizon is checked AT
    * ARRIVAL (`lastSeen >= now − horizon`), with the processing-time
    * timeout as eviction only — exact horizon semantics regardless of
    * timeout firing latency, same contract as [[streamingCandidatesTtl]].
    * The trade that keeps the pair store bounded on an unbounded stream;
    * pairs the TTL'd bucket state can still generate are exactly the
    * in-horizon ones, so the two horizons compose. */
  def oneShotPairsTtl(pairs: Dataset[CandidatePair], horizonMs: Long)
      : Dataset[CandidatePair] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(p => (p.docA, p.docB))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout) {
        (k: (Long, Long), _: Iterator[CandidatePair],
            state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val now = System.currentTimeMillis()
            val freshWithinHorizon =
              state.getOption.exists(_ >= now - horizonMs)
            state.update(now) // any sighting re-arms
            state.setTimeoutDuration(horizonMs)
            if (freshWithinHorizon) Iterator.empty
            else Iterator.single(CandidatePair(k._1, k._2))
          }
      }
  }

  /** Convenience: band a raw (id, text) stream and emit candidate pairs —
    * exactly once per pair (the [[oneShotPairs]] contract; pass
    * `oneShot = false` for the raw once-per-shared-band firehose when a
    * downstream consumer dedups anyway and the extra state is unwanted).
    * `stateHorizonMs` switches BOTH stateful stages to the sliding-horizon
    * bound ([[streamingCandidatesTtl]] buckets + [[oneShotPairsTtl]] pair
    * flags) — a caller bounding bucket state must not silently accumulate
    * unbounded pair state downstream. */
  def nearDupStream(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4,
      bucketCap: Int = 64, oneShot: Boolean = true,
      stateHorizonMs: Option[Long] = None): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val banded = bandedStream(docs, textCol, idCol, numHashes, shingleN,
        rowsPerBand)
      .select(col("doc_id").as("docId"), col("band_id").as("bandId"),
        col("band_hash").as("bandHash"))
      .as[BandedDoc]
    (stateHorizonMs, oneShot) match {
      case (Some(h), true) =>
        oneShotPairsTtl(streamingCandidatesTtl(banded, h, bucketCap), h)
      case (Some(h), false) => streamingCandidatesTtl(banded, h, bucketCap)
      case (None, true)     => oneShotPairs(streamingCandidates(banded, bucketCap))
      case (None, false)    => streamingCandidates(banded, bucketCap)
    }
  }
}

package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.mapping.SinkConfig
import graft.operators.RecordMapper
import graft.sink.{KeyedParquetTable, SinkTable}

/**
 * End-to-end Structured Streaming pipeline: Kafka-shaped stream → per-binding
 * mapping → routed write into keyed tables, with the reference's operational
 * semantics:
 *
 *  - multi-table fan-out: every binding of a record's topic gets the record
 *    (reference: sink/src/test/.../CassandraSinkTaskTest.java:255-291;
 *    sink/src/it/.../StructEndToEndCCMIT.java:570-608)
 *  - unknown-topic routing: records whose topic has no binding are counted
 *    as failures, not dropped silently (reference:
 *    sink/src/it/.../SimpleEndToEndSimulacronIT.java:740-774)
 *  - per-(topic,table) record counters, Dropwizard-style names
 *    (reference: SimpleEndToEndSimulacronIT.java:469-473,635-683)
 *  - at-least-once via checkpointed micro-batches (strictly stronger than the
 *    reference's lowest-failed-offset rewind, reference:
 *    sink/src/main/.../CassandraSinkTask.java:67-74,114-155): a failed batch
 *    replays whole, and the LWW writetime merge makes the replay idempotent.
 */
class SinkPipeline(
    config: SinkConfig.Config,
    tables: Map[String, SinkTable], // keyed by "keyspace.table"
    storeRoot: String) {

  import RecordMapper._

  /** Metrics registry (reference A3). */
  val recordCount = TrieMap[String, LongAccumulator]()
  /** Per-counter trailing-window rate meters (reference KAF-100,
    * changelog/README.md:16 — "Add rates to failedRecordCount"): every
    * counter add also marks a meter, so `rate(name)` reads events/sec over
    * the trailing minute the way the reference's Dropwizard Meter exposes
    * rates alongside the count. */
  val rates = TrieMap[String, SinkPipeline.RateMeter]()
  val failedWithUnknownTopic = new LongAccumulator
  @volatile private var metricsRegistered = false
  private val batchesProcessed = new java.util.concurrent.atomic.AtomicLong(0)

  private val stores = TrieMap[String, KeyedParquetTable]()

  /** Dense DSIR models by model dir (see [[qualityFilter]]), loaded once
    * per pipeline: the trained histogram is an immutable model directory
    * (training is offline by contract). A failed load is never cached —
    * the next batch retries it. */
  private val dsirModels = TrieMap[String, Array[Long]]()

  def store(spark: org.apache.spark.sql.SparkSession, b: SinkConfig.TableBinding): KeyedParquetTable =
    stores.getOrElseUpdate(b.qualifiedTable,
      new KeyedParquetTable(spark, tables(b.qualifiedTable),
        s"$storeRoot/${b.qualifiedTable}", b.nullToUnset,
        compression = config.parquetCodec,
        maxWriteTasks = config.maxConcurrentRequests,
        mergeMode = b.mergeMode))

  // --------------------------------------------------- content-level dedup
  // The `dedup = exact | exactTtl:<ms>` stage (SinkConfig). Seen-hash state
  // is a KeyedParquetTable keyed by the 64-bit content hash, one per
  // binding: the batch-vs-seen anti-join reads the store's base and runs
  // unfolded in one scan, and a batch's sightings are appended as one run
  // (with a TTL, folded into the state).
  // `exact` passes the first copy of each content hash ever; `exactTtl`
  // forgets a hash after a quiet horizon, and every sighting, dropped
  // copies included, re-arms it.

  private val dedupStores = TrieMap[String, KeyedParquetTable]()

  /** The seen-hash store backing a binding's dedup stage (public for
    * maintenance and state inspection — row count = live tracked hashes).
    * `exact`/`exactTtl` key on the 64-bit content hash; `near` keys on the
    * (band_id, band_hash) pair — one row per LSH band bucket ever occupied.
    *
    * The on-disk path carries the state LAYOUT (`hashes` vs
    * `bands<k>x<r>`): a config change that alters what the rows MEAN —
    * exact↔near, or different banding parameters — lands on a fresh store
    * and re-seeds, instead of crashing on a schema mismatch (exact→near) or
    * silently treating stale bands from another parameterization as live
    * dedup state (near:16x4→near:8x2). TTL changes share the layout — the
    * horizon reinterprets `last_seen`, it doesn't change the key.
    *
    * A `_LAYOUT` marker records which layout is ACTIVE: a config round-trip
    * (exact→near→exact, or 16x4→8x2→16x4) would otherwise silently revive
    * the earlier layout's on-disk rows as live state. On open, a layout that
    * differs from the marker clears the binding's stale layout directories
    * and re-seeds — switching dedup config is a state reset, by design.
    * (A marker-less store from an earlier version adopts the opened layout
    * as active without clearing.) */
  def dedupStore(spark: org.apache.spark.sql.SparkSession,
      b: SinkConfig.TableBinding): KeyedParquetTable =
    dedupStores.getOrElseUpdate(s"${b.topic}.${b.qualifiedTable}", {
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      val (schema, pk, layout) = b.dedupNearParams match {
        case Some((k, r)) =>
          (StructType(Seq(
            StructField("band_id", IntegerType),
            StructField("band_hash", LongType),
            StructField("last_seen", LongType))), Seq("band_id", "band_hash"),
            s"bands${k}x$r")
        case None =>
          // phash shares the exact mode's (h, last_seen) schema but gets
          // its OWN layout name: a factor change (or exact↔phash flip)
          // must re-seed, not revive the other parameterization's hashes
          (StructType(Seq(
            StructField("h", LongType),
            StructField("last_seen", LongType))), Seq("h"),
            b.dedupPhashFactor.map(f => s"phash$f").getOrElse("hashes"))
      }
      val bindingRoot = java.nio.file.Paths.get(
        storeRoot, "_dedup", s"${b.topic}.${b.qualifiedTable}")
      val marker = bindingRoot.resolve("_LAYOUT")
      val prior =
        if (java.nio.file.Files.exists(marker))
          Some(new String(java.nio.file.Files.readAllBytes(marker),
            "UTF-8").trim)
        else None
      if (prior.exists(_ != layout)) {
        // layout change: every layout dir under this binding is stale state
        // from another parameterization — clear them all so the active
        // layout re-seeds instead of reviving long-dead hashes/bands
        val listing = java.nio.file.Files.list(bindingRoot)
        try {
          val stale = listing.iterator()
          while (stale.hasNext) {
            val p = stale.next()
            if (java.nio.file.Files.isDirectory(p)) deleteTree(p)
          }
        } finally listing.close()
      }
      java.nio.file.Files.createDirectories(bindingRoot)
      java.nio.file.Files.write(marker, layout.getBytes("UTF-8"))
      new KeyedParquetTable(spark,
        SinkTable(b.keyspace, s"${b.table}__dedup", schema, pk),
        bindingRoot.resolve(layout).toString,
        compression = config.parquetCodec)
    })

  private def deleteTree(root: java.nio.file.Path): Unit =
    SinkPipeline.deleteTree(root)

  /** Ingest-time DSIR quality gate (`quality = dsir:<minWqAvgQ>:<histDir>`,
    * SinkConfig): score each record's text value against the trained
    * [[graft.operators.Sampling.dsirHistogram]] persisted at `histDir` and
    * drop records whose per-feature qlog2 importance ratio (`w_q_avg`)
    * falls under the threshold — "only ingest what looks like the target
    * corpus", the online form of [[graft.operators.Sampling.dsirWeights]].
    * Tombstones (null values) ALWAYS pass: a quality gate must never block
    * a delete. Feature-less values (empty text) score (0,0,0) and pass iff
    * 0 ≥ threshold — set a positive threshold to also drop empties.
    *
    * The model is collected once per pipeline into its dense in-memory form
    * ([[graft.operators.Sampling.dsirModel]], which fails the batch loudly
    * on a non-dense table), so per batch the gate is
    * `slice.withColumn(keep).observe(kept, dropped).filter(keep)`: one
    * native per-row kernel inside the batch's map stage — no join, no
    * shuffle, no staged frame, and a generated class that is identical in
    * every batch. Counters: qualityKeptCount / qualityDroppedCount
    * (dedup-counter naming; tombstones count as neither) — they ride an
    * [[Observation]] that fires with the first downstream job (the table's
    * run write), so the gate
    * costs ZERO driver actions of its own per batch. The counts thunk is
    * read only AFTER the table merge is durable — marking before
    * applyBatch would double-count on a failed batch's replay — and never
    * blocks ([[SinkPipeline.observeCounts]]). */
  private[streaming] def qualityFilter(spark: org.apache.spark.sql.SparkSession,
      b: SinkConfig.TableBinding, slice: DataFrame)
      : (DataFrame, Option[() => (Long, Long)]) =
    b.qualityDsirParams match {
      case None => (slice, None)
      case Some((minAvgQ, histDir)) =>
        val model = dsirModels.getOrElseUpdate(histDir,
          try graft.operators.Sampling.dsirModel(spark.read.parquet(histDir))
          catch { case e: Exception => throw new IllegalStateException(
            s"quality=dsir model at $histDir failed to load; failing the " +
              "batch for retry", e) })
        val score = graft.operators.Sampling.dsirScoreOf(col("value"), model)
        val gated = slice.withColumn("__keep", col("value").isNull ||
          graft.operators.Sampling.dsirAvg(score) >= minAvgQ)
        val keptExpr = coalesce(sum(when(col("value").isNotNull &&
          col("__keep"), 1L).otherwise(0L)), lit(0L))
        val droppedExpr = coalesce(sum(when(col("__keep"), 0L).otherwise(1L)),
          lit(0L))
        val (observed, read) = SinkPipeline.observeCounts(gated,
          Seq("kept" -> keptExpr, "dropped" -> droppedExpr))
        val counts = () => {
          val m = read()
          (m("kept"), m("dropped"))
        }
        (observed.filter(col("__keep")).drop("__keep"), Some(counts))
    }

  /** Filter a topic slice down to first-seen content. Returns the filtered
    * slice plus a deferred sightings merge to run AFTER the table merge
    * succeeds — so a failed batch replays with the seen-set unchanged and
    * re-selects the same rows. (A crash between table merge and sightings
    * merge re-admits that batch's content later: dedup is at-least-once
    * across a crash window; the table itself stays exactly-once via its own
    * replay watermark, and the LWW merge absorbs the re-admit.) */
  private def dedupFilter(spark: org.apache.spark.sql.SparkSession,
      b: SinkConfig.TableBinding, slice: DataFrame, batchId: Long)
      : (DataFrame, Option[() => Unit]) =
    if (!b.dedupEnabled) (slice, None)
    else if (b.dedupNearParams.isDefined) nearDedupFilter(spark, b, slice, batchId)
    else {
      val ds = dedupStore(spark, b)
      val nowMs = System.currentTimeMillis()
      val hcol = "__content_hash"
      // exact: byte identity; phash: perceptual identity — the 64-bit
      // average-hash of the BMP payload packed into one long (a jittered
      // re-encode of the same picture hashes equal; bytes don't)
      val contentKey = b.dedupPhashFactor match {
        case Some(f) =>
          // a string-typed value decodes via its UTF-8 bytes (never a
          // valid BMP → null → passes unfiltered, same routing as any
          // other undecodable payload)
          val bytes = slice.schema("value").dataType match {
            case org.apache.spark.sql.types.BinaryType => col("value")
            case _ => col("value").cast(
              org.apache.spark.sql.types.BinaryType)
          }
          val h = graft.multimodal.MediaDedup.aHash64(bytes, lit(f))
          shiftleft(h.getField("phash_hi"), 32)
            .bitwiseOR(h.getField("phash_lo"))
        case None => xxhash64(col("value"))
      }
      val hashed = slice.withColumn(hcol, contentKey)
      // tombstones never dedup: all-null values would collapse every
      // delete. Under phash, an UNDECODABLE payload has no perceptual
      // identity — it passes unfiltered (route, don't drop) and records
      // no sighting.
      val dedupable = hashed
        .filter(col("value").isNotNull && col(hcol).isNotNull)
      val tombstones = hashed
        .filter(col("value").isNull || col(hcol).isNull)
        .select(slice.columns.toIndexedSeq.map(col): _*)
      val recordCols = slice.columns
      // in-batch first copy per hash: min (partition, offset) — a
      // map-side-combined min_by, not a window (a hot value's copies would
      // otherwise pile into one task's sort)
      val first = dedupable.groupBy(col(hcol))
        .agg(min_by(struct(recordCols.toIndexedSeq.map(col): _*),
          struct(col("partition"), col("offset"))).as("__first"))
      // the lookup reads the sightings unfolded: a sighting is never
      // deleted and last_seen only grows, so a hash is in the folded state
      // (under the TTL horizon) iff some sighting row says so
      val seenAll = ds.unfolded()
      val seen = b.dedupTtlMs match {
        case Some(t) => seenAll.filter(col("last_seen") >= nowMs - t)
        case None    => seenAll
      }
      val fresh = first.join(seen.select(col("h").as(hcol)), Seq(hcol),
        "left_anti")
      val out = fresh.select(col("__first.*")).unionByName(tombstones)
      // exact: only fresh hashes need recording; exactTtl: EVERY sighting
      // re-arms the horizon (LWW keeps the newest last_seen)
      val sighted = b.dedupTtlMs match {
        case Some(_) => dedupable.select(col(hcol)).distinct()
        case None    => fresh.select(col(hcol))
      }
      val sightings = sighted.select(col(hcol).as("h"),
        lit(nowMs).as("last_seen"),
        lit(nowMs * 1000).as(WritetimeCol),
        lit(ModeUpsert).as(ModeCol))
      // exactTtl: the sightings batch folds into the state and drops
      // hashes past the horizon PHYSICALLY, so disk and lookup volume track
      // recently-active content, not all content ever seen.
      val horizon = b.dedupTtlMs.map(t => col("last_seen") >= nowMs - t)
      (out, Some(() => ds.applyBatch(sightings, batchId, binding = b.topic,
        retain = horizon)))
    }

  /** `dedup=near`: drop a record sharing any MinHash LSH band with EARLIER
    * content — earlier batches via the seen-band state,
    * earlier (partition, offset) within the batch via a per-band min. The
    * keep/drop policy matches the batch [[graft.operators.Dedup.applyNearDedup]]
    * over band-bucket candidates exactly: a dropped record's bands still
    * block later look-alikes (every doc occupies its buckets, kept or not),
    * so admission never depends on join order. Banding is
    * [[StreamingDedup.bandRows]] — bit-identical to the batch
    * minhashBands fold. Short records with no shingles have no bands and
    * always pass; tombstones never dedup. Replay contract is the same
    * deferred-sightings commit as the exact path. */
  private def nearDedupFilter(spark: org.apache.spark.sql.SparkSession,
      b: SinkConfig.TableBinding, slice: DataFrame, batchId: Long)
      : (DataFrame, Option[() => Unit]) = {
    val (numHashes, rowsPerBand) = b.dedupNearParams.get
    val ds = dedupStore(spark, b)
    val nowMs = System.currentTimeMillis()
    val dedupable = slice.filter(col("value").isNotNull)
    val tombstones = slice.filter(col("value").isNull)
    // (partition, offset) is the record identity and arrival order — unique
    // within a topic by Kafka's contract
    val bandRows = graft.operators.Staging.stage(StreamingDedup.bandRows(
        dedupable.select(col("partition"), col("offset"), col("value")),
        "value", Seq("partition", "offset"),
        numHashes = numHashes, rowsPerBand = rowsPerBand))
      // feeds the state lookup, the in-batch min, and the sightings merge —
      // compute the banding once
    // near:<k>x<r>:<ttl>: same sliding horizon as exactTtl — bands quiet for
    // a full horizon stop blocking (and expire physically below). Like the
    // exact path, the lookup reads the sightings unfolded.
    val seenAll = ds.unfolded()
    val seen = b.dedupTtlMs match {
      case Some(t) => seenAll.filter(col("last_seen") >= nowMs - t)
      case None    => seenAll
    }
    // a record loses if ANY of its bands is already in state…
    val hitState = bandRows
      .join(seen.select("band_id", "band_hash"), Seq("band_id", "band_hash"),
        "left_semi")
      .select("partition", "offset")
    // …or has an earlier record (per-band min over ALL of this batch's
    // records — kept or dropped, matching applyNearDedup's pair semantics)
    val firstPerBand = bandRows.groupBy("band_id", "band_hash")
      .agg(min(struct(col("partition"), col("offset"))).as("__first"))
    val hitBatch = bandRows.join(firstPerBand, Seq("band_id", "band_hash"))
      .filter(struct(col("partition"), col("offset")) =!= col("__first"))
      .select("partition", "offset")
    val dropped = hitState.unionByName(hitBatch).distinct()
    val out = dedupable.join(dropped, Seq("partition", "offset"), "left_anti")
      .unionByName(tombstones)
    val sightings = bandRows.select(col("band_id"), col("band_hash")).distinct()
      .withColumn("last_seen", lit(nowMs))
      .withColumn(WritetimeCol, lit(nowMs * 1000))
      .withColumn(ModeCol, lit(ModeUpsert))
    // TTL'd near: every sighting re-arms the horizon (LWW keeps the newest
    // last_seen); expired bands leave the state PHYSICALLY when the
    // sightings batch folds into it — identical state-bounding contract to
    // exactTtl
    val horizon = b.dedupTtlMs.map(t => col("last_seen") >= nowMs - t)
    (out, Some(() => {
      ds.applyBatch(sightings, batchId, binding = b.topic, retain = horizon)
      // the staged banding's last consumer was the sightings merge: release
      // it so persist-mode staging doesn't pin one cached plan per batch
      // for the life of the stream (a failed batch leaks one entry until
      // its replay re-stages — bounded by the retry count)
      graft.operators.Staging.unstage(bandRows)
    }))
  }

  /** Physically expire dedup state past its TTL horizon in the whole seen
    * store of every TTL'd binding (`exactTtl` content hashes and TTL'd
    * `near` band hashes alike — both carry `last_seen`) — the maintenance
    * sweep for a store no batch has written to lately (every sightings
    * batch with a horizon already expires the whole store). Call
    * periodically (e.g. from a maintenance trigger). */
  def vacuumDedupState(spark: org.apache.spark.sql.SparkSession,
      nowMs: Long = System.currentTimeMillis()): Unit =
    config.bindings.foreach { b =>
      b.dedupTtlMs.foreach { t =>
        dedupStore(spark, b).sweep(col("last_seen") >= nowMs - t)
      }
    }

  /** All messages down an exception's cause chain (for unwrapping a per-row
    * assert failure out of Spark's job-abort wrappers). */
  private def causeChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

  private def counter(spark: org.apache.spark.sql.SparkSession, name: String): LongAccumulator =
    recordCount.getOrElseUpdate(name, {
      val acc = new LongAccumulator
      spark.sparkContext.register(acc, name)
      acc
    })

  /** Add to a named counter AND mark its rate meter (KAF-100). */
  private def countAndMark(spark: org.apache.spark.sql.SparkSession,
      name: String, n: Long): Unit = {
    counter(spark, name).add(n)
    rates.getOrElseUpdate(name, new SinkPipeline.RateMeter()).mark(n)
  }

  /** Trailing-window rate (events/sec) of a named counter; 0 when the
    * counter has never been marked (KAF-100 parity surface). */
  def rate(name: String): Double =
    rates.get(name).map(_.ratePerSec).getOrElse(0.0)

  /** Partition-key batch accounting for a mapped batch bound for `b`'s
    * table at the CONFIGURED `maxNumberOfRecordsInBatch` cap (reference A2
    * + the KAF-95 global, `...properties.sample:38-39`) — how many
    * CQL-BATCH round-trips the reference writer would issue for it. The
    * cap flows from the parsed properties instead of the code-level
    * default, so a ported reference config keeps its knob. */
  def batchGroups(mapped: DataFrame, b: SinkConfig.TableBinding): DataFrame =
    graft.operators.Upserts.batchGroups(mapped,
      tables(b.qualifiedTable).primaryKey,
      cap = config.maxNumberOfRecordsInBatch)

  /** Process one micro-batch of Kafka-shaped records. Also usable directly
    * for batch (non-streaming) ingest.
    *
    * When `queryExecutionTimeout` is EXPLICITLY configured (KAF-49;
    * `SinkConfig.Config.queryExecutionTimeoutSet`), the whole batch runs
    * under a job group with a watchdog: past the timeout, every Spark job
    * of the batch (and any it would still submit) is cancelled and the
    * batch fails with a timeout error — the checkpoint then retries it
    * whole, and the store's replay watermark + LWW merge keep the retry
    * exactly-once, the same failure contract as any other batch error.
    * The reference's per-CQL-statement timeout becomes a per-micro-batch
    * timeout because the micro-batch is this engine's unit of write
    * execution; it arms only on explicit configuration since the
    * reference's 30 s statement default has no faithful batch-level
    * translation. */
  def processBatch(records: DataFrame, batchId: Long): Unit =
    if (!config.queryExecutionTimeoutSet) processBatchInner(records, batchId)
    else {
      val spark = records.sparkSession
      val groupId = s"graft-sink-batch-$batchId-${System.nanoTime()}"
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      spark.sparkContext.setJobGroup(groupId,
        s"graft sink batch $batchId", interruptOnCancel = true)
      val watchdog = SinkPipeline.watchdogExec.schedule(new Runnable {
        override def run(): Unit = {
          timedOut.set(true)
          // cancel running jobs AND any the batch would still submit —
          // driver-side code between jobs must not sneak more work in
          try spark.sparkContext.cancelJobGroupAndFutureJobs(groupId)
          catch { case _: Throwable => () }
        }
      }, config.queryExecutionTimeout.toLong,
        java.util.concurrent.TimeUnit.SECONDS)
      try processBatchInner(records, batchId)
      catch {
        case e: Throwable if timedOut.get() =>
          throw new IllegalStateException(
            s"sink batch $batchId exceeded queryExecutionTimeout=" +
              s"${config.queryExecutionTimeout}s; jobs cancelled, batch " +
              "held for retry", e)
      } finally {
        watchdog.cancel(false)
        spark.sparkContext.clearJobGroup()
      }
    }

  /** Wall milliseconds of the last processed batch's synchronous stages
    * (`count` = persist + topic counts; `quality` = DSIR gate plan, plus
    * the one-time model load; `dedup` = state lookup + filter plan;
    * `write` = mapping + merge jobs; `quality_counts` = the gate's counter
    * read; `sightings` = deferred dedup-state commit) — phase-level
    * attribution for a per-batch wall-time regression in a long stream
    * (VERDICT r10 #2: an 8-batch rising series was unattributable from
    * totals alone). Plain bookkeeping, always on: five nanoTime reads per
    * batch. */
  @volatile var lastBatchPhaseMs: Map[String, Long] = Map.empty

  private def processBatchInner(records: DataFrame, batchId: Long): Unit = {
    val phase = new graft.sink.StageTimer
    // the whole micro-batch is a latency path over small per-batch frames:
    // plan its file scans with the split floor at 1 (see
    // KeyedParquetTable.withMicroBatchSplits — at scale the 128 MB split
    // cap governs and nothing changes)
    try graft.sink.KeyedParquetTable.withMicroBatchSplits(
      records.sparkSession) {
      processBatchPhased(records, batchId, phase)
    } finally lastBatchPhaseMs = phase.toMap
  }

  private def processBatchPhased(records: DataFrame, batchId: Long,
      phase: graft.sink.StageTimer): Unit = {
    val spark = records.sparkSession
    if (!metricsRegistered) synchronized {
      if (!metricsRegistered) {
        spark.sparkContext.register(failedWithUnknownTopic, "failedWithUnknownTopic")
        metricsRegistered = true
      }
    }
    val knownTopics = config.topics
    // NOT repartitioned before the persist, deliberately: an r11 A/B
    // spread each micro-batch to defaultParallelism here and the 32-batch
    // sink_stream got SLOWER (every per-batch stage became 32 scheduled
    // tasks over ~100-row partitions; count/quality/write phases all
    // inflated ~2×). A micro-batch is small by construction — per-batch
    // cost is overhead-bound, not compute-bound, so fewer tasks win; the
    // batch-scale ingest paths (sink_quality_batch, q00) parallelize at
    // their sources instead.
    val recs = records
    // cache: the batch is read once per binding + once for the unknown count
    recs.persist()
    try {
      // ONE tiny agg action gives the unknown-topic count AND per-binding
      // emptiness: a binding whose topic slice is empty must be skipped
      // outright — an empty plan's CollectMetrics node gets optimized away
      // (empty-relation propagation), and its counters would cost a
      // fallback job of their own
      val topicCounts = phase("count") {
        recs.groupBy("topic").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      failedWithUnknownTopic.add(
        topicCounts.filterNot(kv => knownTopics.contains(kv._1)).values.sum)
      // replayed micro-batches: the state merge would be skipped anyway, but
      // the dead-letter append and counters must not double-apply either.
      // The replay watermark is PER BINDING (keyed by topic): bindings that
      // fan into one table must each get to merge the same batch id.
      val toApply = config.bindings.filter { b =>
        topicCounts.getOrElse(b.topic, 0L) > 0L &&
          (batchId == Long.MinValue ||
            batchId > store(spark, b).lastAppliedBatchId(b.topic))
      }
      toApply.foreach { b =>
        // quality gate FIRST (drop out-of-domain content before paying
        // dedup-state reads/writes for it), then content dedup
        val (screened, qualityCounts) = phase("quality") {
          qualityFilter(spark, b, recs.filter(col("topic") === b.topic))
        }
        val (forTopic, commitSightings) = phase("dedup") {
          dedupFilter(spark, b, screened, batchId)
        }
        val compiled = RecordMapper.compile(b, tables(b.qualifiedTable), forTopic,
          captureErrors = true)
        // S6: a provided query transforms the mapped batch in place of the
        // generated write (reference: ProvidedQueryCCMIT.java:89-330). The
        // SQL sees the mapped view (incl. __writetime); the result must keep
        // the pk columns, and rows always upsert (deletes are disabled by
        // config validation).
        val mapped = b.query match {
          case Some(sql) =>
            val out = graft.operators.ProvidedQuery.run(compiled, sql)
            val withMeta = (if (out.columns.contains(WritetimeCol)) out
              else out.withColumn(WritetimeCol,
                lit(System.currentTimeMillis() * 1000)))
              .withColumn(ModeCol, lit(ModeUpsert))
              .withColumn(ErrorCol,
                if (out.columns.contains(ErrorCol)) col(ErrorCol)
                else lit(null).cast(org.apache.spark.sql.types.StringType))
            val missingPk = tables(b.qualifiedTable).primaryKey
              .filterNot(withMeta.columns.contains)
            require(missingPk.isEmpty,
              s"provided query for ${b.qualifiedTable} drops pk columns: " +
                missingPk.mkString(", "))
            withMeta
          case None => compiled
        }
        // reference ignoreErrors=None: failures hold the batch back — the
        // checkpoint retries it whole (at-least-once, LWW-idempotent). The
        // check rides INSIDE the write job as a per-row assert (the manifest
        // only flips after a clean job), not a driver-side pre-count action.
        val guarded =
          if (config.ignoreErrors == "None")
            mapped.filter(assert_true(col(ErrorCol).isNull,
              concat(lit(s"record failed mapping for ${b.qualifiedTable} and " +
                "ignoreErrors=None; failing the batch for retry: "),
                col(ErrorCol))).isNull)
          else mapped
        // record/failure counters fold into the write job via observed
        // metrics — zero extra count() actions per binding per batch (the
        // round-2 shape ran two driver actions per binding)
        val (observed, readMetrics) = SinkPipeline.observeCounts(guarded,
          Seq("total" -> count(lit(1)), "failed" -> count(col(ErrorCol))))
        try phase("write") {
          val st = store(spark, b)
          st.applyBatch(
            observed.filter(col(ErrorCol).isNull).drop(ErrorCol), batchId,
            binding = b.topic)
          // fold the store's sub-phase attribution into the batch phases
          // (write_merge_write / write_meta) so the sidecar can see inside
          // `write`
          st.lastApplyPhaseMs.foreach { case (k, ms) =>
            phase.add(s"write_$k", ms) }
        } catch {
          case e: Throwable if causeChain(e)
              .exists(m => m != null && m.contains("ignoreErrors=None")) =>
            throw new IllegalStateException(
              s"record(s) failed mapping for ${b.qualifiedTable} and " +
                "ignoreErrors=None; failing the batch for retry", e)
        }
        val metrics = phase("metrics") { readMetrics() }
        val nFailed = metrics("failed")
        if (nFailed > 0) {
          // error side-output (reference F3): failed records go to the dead
          // letter, never silently into the table
          mapped.filter(col(ErrorCol).isNotNull).write.mode("append")
            .parquet(s"$storeRoot/_dead_letter/${b.topic}.${b.qualifiedTable}")
        }
        countAndMark(spark, s"${b.topic}.${b.qualifiedTable}.failedRecordCount", nFailed)
        val nTotal = metrics("total")
        countAndMark(spark, s"${b.topic}.${b.qualifiedTable}.recordCount", nTotal)
        // dedup-stage observability (A3 analogue — the reference counts per
        // topic.ks.table, reference: SimpleEndToEndSimulacronIT.java:469-473):
        // kept = rows that survived the dedup filter (they are exactly the
        // rows the write job observed); dropped = the topic slice minus kept.
        // Both fall out of numbers already in hand — zero extra actions.
        // (With a provided query the write-job row count is the QUERY's
        // output, so the slice-minus-kept difference is not a dedup count —
        // skip rather than lie.)
        // quality counts resolve AFTER the table merge is durable (replay
        // contract) — usually a free read of the write job's observation,
        // see qualityFilter
        val qCounts = phase("quality_counts") { qualityCounts.map(_.apply()) }
        if (b.dedupEnabled && b.query.isEmpty) {
          // rows that ENTERED the dedup stage = topic slice minus whatever
          // the quality gate already dropped — without the subtraction a
          // binding with both stages would report quality drops twice
          // (once in qualityDroppedCount, again here)
          val slice = topicCounts.getOrElse(b.topic, 0L) -
            qCounts.map(_._2).getOrElse(0L)
          countAndMark(spark,
            s"${b.topic}.${b.qualifiedTable}.dedupKeptCount", nTotal)
          countAndMark(spark,
            s"${b.topic}.${b.qualifiedTable}.dedupDroppedCount",
            math.max(0L, slice - nTotal))
        }
        // quality counters mark only now that the table merge is durable —
        // a failed batch replays without having counted (replay contract)
        qCounts.foreach { case (k, d) =>
          countAndMark(spark,
            s"${b.topic}.${b.qualifiedTable}.qualityKeptCount", k)
          countAndMark(spark,
            s"${b.topic}.${b.qualifiedTable}.qualityDroppedCount", d)
        }
        // record this batch's content hashes only after the table merge is
        // durable (see dedupFilter's replay contract)
        phase("sightings") { commitSightings.foreach(_.apply()) }
      }
      // automatic vacuum cadence: every N-th processed batch sweeps expired
      // rows out of every TTL'd dedup store. A TTL'd sightings batch already
      // folds and prunes its whole store, so the sweep only shrinks the
      // store of a binding that no recent batch has written; N=0 disables
      val n = batchesProcessed.incrementAndGet()
      if (config.dedupVacuumEvery > 0 && n % config.dedupVacuumEvery == 0 &&
          config.bindings.exists(b => b.dedupEnabled && b.dedupTtlMs.isDefined))
        vacuumDedupState(spark)
    } finally phase("unpersist") { recs.unpersist() }
  }

  /** Stats bridge attached by [[start]] when `jmx = true` (the reference's
    * JMX stats-reporting toggle, `...properties.sample:40-42`): None when
    * `jmx = false` or before the stream starts. The per-record counters in
    * [[recordCount]]/[[rates]] always collect (they are the data-path
    * semantics, e.g. dedup drop accounting) — `jmx` governs REPORTING,
    * exactly as the reference's flag turns its Dropwizard JMX reporter on
    * and off without changing sink behavior. */
  @volatile var metricsListener: Option[GraftQueryListener] = None

  /** Wire a streaming source through the sink. */
  def start(records: DataFrame, checkpoint: String): StreamingQuery = {
    // X3 analogue: forward spark.* passthrough keys to the session, as the
    // reference forwards datastax-java-driver.* keys to its driver session
    config.sparkPassthrough.foreach { case (k, v) =>
      records.sparkSession.conf.set(k, v)
    }
    // jmx toggle: attach the stats bridge once per pipeline
    if (config.jmx && metricsListener.isEmpty) synchronized {
      if (metricsListener.isEmpty) {
        val l = new GraftQueryListener
        records.sparkSession.streams.addListener(l)
        metricsListener = Some(l)
      }
    }
    records.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => processBatch(batch, id) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}

object SinkPipeline {
  /** Named long counters that ride `frame`'s first downstream job as an
    * [[Observation]]: returns the observed frame and a read that never
    * blocks. The read drains the listener bus (observed metrics arrive
    * there) and returns the observed values once the job has run; when
    * the observation has not fired — its job ran outside this session, or
    * never ran — or fired without its keys (the node was pruned as an
    * empty relation, which below a join does not make the counts 0), it
    * computes the same expressions with a one-row agg of `frame` instead.
    * `Observation.get` would wait forever in the first case. */
  private[streaming] def observeCounts(frame: DataFrame,
      counts: Seq[(String, Column)]): (DataFrame, () => Map[String, Long]) = {
    val obs = new Observation()
    val named = counts.map { case (n, c) => c.as(n) }
    val read = () => {
      org.apache.spark.sql.GraftBridge.drainListeners(frame.sparkSession)
      val m = org.apache.spark.sql.GraftBridge.observedOrEmpty(obs)
      if (counts.forall(c => m.contains(c._1)))
        counts.map { case (n, _) => n -> m(n).asInstanceOf[Long] }.toMap
      else {
        val row = frame.agg(named.head, named.tail: _*).head()
        counts.indices.map(i => counts(i)._1 -> row.getLong(i)).toMap
      }
    }
    (frame.observe(obs, named.head, named.tail: _*), read)
  }

  /** Shared daemon scheduler for the queryExecutionTimeout watchdog — one
    * thread for all pipelines; timers are cancelled on batch completion so
    * the queue stays empty in steady state. */
  private[streaming] lazy val watchdogExec = {
    val e = new java.util.concurrent.ScheduledThreadPoolExecutor(1, r => {
      val t = new Thread(r, "graft-sink-watchdog")
      t.setDaemon(true)
      t
    })
    e.setRemoveOnCancelPolicy(true)
    e
  }

  /** Trailing-window rate meter (KAF-100, changelog/README.md:16): marks
    * record (nanotime, delta); the rate is Σ deltas inside the trailing
    * window / window seconds — the observable, windowed analogue of a
    * Dropwizard Meter's 1-minute rate, with bounded memory (samples older
    * than the window prune on every mark and read). */
  final class RateMeter(windowNanos: Long = 60L * 1000L * 1000L * 1000L) {
    private val samples = new java.util.ArrayDeque[Array[Long]]()
    private var total = 0L
    private var firstMarkNanos = Long.MinValue
    private def prune(now: Long): Unit =
      while (!samples.isEmpty && now - samples.peekFirst()(0) > windowNanos)
        samples.removeFirst()
    def mark(n: Long): Unit = synchronized {
      val now = System.nanoTime()
      if (firstMarkNanos == Long.MinValue) firstMarkNanos = now
      total += n
      samples.addLast(Array(now, n))
      prune(now)
    }
    def count: Long = synchronized(total)
    def ratePerSec: Double = synchronized {
      val now = System.nanoTime()
      prune(now)
      var inWindow = 0L
      samples.forEach(s => inWindow += s(1))
      // divide by the ACTUAL observation span while the meter is younger
      // than the window — Dropwizard-Meter behavior; a full-window divisor
      // would understate a young meter (600 marks in its first second must
      // read ~600/s, not 10/s). Floor at 1ms so the very first read after
      // the first mark doesn't divide by ~0 and explode.
      val span =
        if (firstMarkNanos == Long.MinValue) windowNanos
        else math.min(windowNanos, math.max(now - firstMarkNanos, 1000000L))
      inWindow * 1e9 / span
    }
  }

  /** Recursive delete, deepest-first. The layout-marker reset calls it
    * STRICT (a file that survives the reset would revive stale dedup state,
    * so failing loudly beats proceeding); the bench's per-run cleanup calls
    * it best-effort (one contested temp file must not abandon the rest of
    * the tree, let alone a bench run). */
  private[graft] def deleteTree(root: java.nio.file.Path,
      bestEffort: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    val all = java.nio.file.Files.walk(root).iterator().asScala.toSeq
    all.sortBy(-_.getNameCount).foreach { p =>
      if (bestEffort)
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: Throwable => () }
      else java.nio.file.Files.deleteIfExists(p)
    }
  }
}

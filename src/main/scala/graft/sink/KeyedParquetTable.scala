package graft.sink

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{RecordMapper, Upserts}

/**
 * A primary-keyed, parquet-backed table with Cassandra-flavored write
 * semantics: LWW upsert, per-column null-to-unset, delete, and counter
 * increments. Stands in for the Cassandra sink in tests and in the oracle
 * harness (the real deployment swaps this for the Cassandra connector's
 * writer — the merge algebra in [[Upserts]] is identical).
 *
 * State is HASH-BUCKETED by primary key into `numBuckets` buckets, with a
 * manifest (`CURRENT`) mapping each bucket to the state version that owns
 * it. A micro-batch merges ONLY the buckets its keys touch:
 *
 *   - the batch's bucket set is computed from the pk hash;
 *   - touched buckets' state is read with a partition filter on the bucket
 *     column (partition-pruned — untouched buckets are never scanned);
 *   - one co-partitioned merge job writes the new bucket partitions to
 *     `v<N+1>/__bucket=<k>/`; the manifest flips touched pointers to N+1 and
 *     leaves untouched buckets on their old versions.
 *
 * Per-batch cost is O(touched state), not O(total state) — the round-1
 * full-table read-merge-write rewrite is gone. This is the same
 * manifest-of-bucket-snapshots shape a table format uses at 100 TB; the
 * number of live versions is bounded by `numBuckets` and [[vacuum]] drops
 * unreferenced ones.
 */
class KeyedParquetTable(
    spark: SparkSession,
    val table: SinkTable,
    root: String,
    nullToUnset: Boolean = true,
    numBuckets: Int = 16,
    /** Parquet codec for state files (X2 `compression` mapped via
      * `SinkConfig.Config.parquetCodec`). */
    compression: String = "snappy",
    /** Cap on concurrent write tasks per merge job — the Spark analogue of
      * the reference's `maxConcurrentRequests` in-flight-writes throttle
      * (KAF-60), wired from `SinkConfig` by `SinkPipeline.store`. Applied
      * as a `coalesce` on the merged frame right before the state write,
      * so a bucket-version write never runs more than this many parallel
      * tasks. The default is effectively "no cap" for any sane local or
      * cluster parallelism. */
    maxWriteTasks: Int = Int.MaxValue,
    /** `row`: one writetime per row ([[Upserts.mergeInto]]); `cell`:
      * per-column writetimes persisted as `__wt_<col>` state columns
      * ([[Upserts.mergeIntoCellWise]] — Cassandra's actual reconciliation
      * granularity, for bindings writing disjoint columns out of order);
      * `entry`: cell-wise plus per-MAP-ENTRY writetimes persisted as
      * `__wtmap_<col>` state columns for every MapType column
      * ([[Upserts.mergeIntoCellWise]] with `entryCols` — reference KAF-98:
      * a record's map value upserts/removes individual entries instead of
      * replacing the cell). */
    mergeMode: String = "row") {

  require(Set("row", "cell", "entry").contains(mergeMode),
    s"mergeMode must be row, cell or entry (got '$mergeMode')")

  val BucketCol = "__bucket"

  private val rootPath = Paths.get(root)
  Files.createDirectories(rootPath)

  private def currentFile = rootPath.resolve("CURRENT")

  private def bucketOf: Column =
    pmod(hash(table.primaryKey.map(col): _*), lit(numBuckets))

  /** The replay-guard key used when no binding is named: single-writer
    * tables (the common case) track one batch watermark. */
  val DefaultBinding = "_"

  /** Manifest: last applied batch id PER BINDING, newest version, bucket →
    * version. Replay of an already-applied micro-batch is a no-op, which
    * upgrades the pipeline to exactly-once even for counters (the one write
    * mode LWW can't make replay-idempotent; reference hard part, SURVEY
    * §7.4). The watermark is per binding because several bindings can fan
    * into ONE table (reference S7 — the very case cell-wise merge exists
    * for): with a single watermark, the first binding's merge of batch N
    * would make the second binding's merge of the SAME batch look like a
    * replay and silently drop its records.
    *
    * The header also pins `numBuckets` (bucketOf re-hashes keys, so a
    * different bucket count would silently read the wrong partitions) and
    * `mergeMode` (cell mode persists `__wt_<col>` columns a row-mode reopen
    * would drop) — a mismatch fails fast instead. */
  private case class Meta(lastBatch: Map[String, Long], maxV: Int,
      buckets: Map[Int, Int]) {
    def lastFor(binding: String): Long = lastBatch.getOrElse(binding, -1L)
  }

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  private def currentMeta: Meta =
    if (!Files.exists(currentFile)) Meta(Map.empty, 0, Map.empty)
    else {
      val lines = Files.readString(currentFile).trim.split('\n')
      val head = lines.head.split(' ')
      require(head.length == 3,
        s"unrecognized manifest header at $root: '${lines.head}'")
      require(head(1).toInt == numBuckets,
        s"state at $root was written with numBuckets=${head(1)} but opened " +
          s"with numBuckets=$numBuckets; re-hashing keys would corrupt " +
          "bucket pruning — open with the original bucket count")
      require(head(2) == mergeMode,
        s"state at $root was written with mergeMode=${head(2)} but opened " +
          s"with mergeMode=$mergeMode — open with the original merge mode")
      val (bindingLines, bucketLines) = lines.tail.filter(_.nonEmpty)
        .partition(_.startsWith("b "))
      val lastBatch = bindingLines.map { ln =>
        val Array(_, k, v) = ln.split(' '); dec(k) -> v.toLong
      }.toMap
      val buckets = bucketLines.map { ln =>
        val Array(k, ver) = ln.split(':'); k.toInt -> ver.toInt
      }.toMap
      Meta(lastBatch, head(0).toInt, buckets)
    }

  private def writeMeta(m: Meta): Unit = {
    val body = (s"${m.maxV} $numBuckets $mergeMode" +:
      (m.lastBatch.toSeq.sortBy(_._1).map { case (k, v) => s"b ${enc(k)} $v" } ++
        m.buckets.toSeq.sorted.map { case (k, v) => s"$k:$v" })).mkString("\n")
    val tmp = rootPath.resolve("CURRENT.tmp")
    Files.writeString(tmp, body)
    // durable before visible: a crash after the rename must not leave a
    // CURRENT whose bytes (or whose directory entry) never reached disk
    fsync(tmp)
    fsync(rootPath)
    Files.move(tmp, currentFile, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    fsync(rootPath)
  }

  private def fsync(p: java.nio.file.Path): Unit = {
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  def lastAppliedBatchId: Long = currentMeta.lastFor(DefaultBinding)
  def lastAppliedBatchId(binding: String): Long = currentMeta.lastFor(binding)

  private def emptyState: DataFrame = {
    val base = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), table.schema)
    if (table.counterCols.nonEmpty) base
    else base.withColumn(RecordMapper.WritetimeCol, lit(null).cast(LongType))
  }

  /** Read the state of `wanted` buckets (None = all) as ONE parquet read
    * over the exact `v<N>/__bucket=<k>` leaf directories the manifest maps
    * them to. The previous shape issued one `spark.read.parquet(v<N>)` per
    * DISTINCT OWNING VERSION (filter on the bucket partition, then union):
    * after numBuckets batches the owners spread over up to numBuckets
    * versions, so every state read paid O(versions) driver-side listings +
    * footer schema inferences + an O(versions)-way union in the plan —
    * measured ~300-500 ms of the sink_stream per-batch `merge_write`/`dedup`
    * phases at steady state (guide §6 file listing, §7.3 driver-side work).
    * Reading the leaf dirs directly needs no partition discovery, no bucket
    * filter (each dir IS one wanted bucket), one listing, one scan node.
    * A pointed-to leaf dir can be missing only for a version written by the
    * rare all-rows-deleted branch (schema-only, zero bucket dirs) — that
    * bucket's state is empty, so skipping the missing dir is the same
    * answer the old filter-based read produced. */
  private def readBuckets(m: Meta, wanted: Option[Set[Int]]): DataFrame = {
    val picked = wanted match {
      case Some(w) => m.buckets.view.filterKeys(w.contains).toMap
      case None    => m.buckets
    }
    val (present, missing) = picked.toSeq.sorted.map { case (b, v) =>
      rootPath.resolve(s"v$v").resolve(s"$BucketCol=$b")
    }.partition(Files.exists(_))
    // A manifest-referenced leaf dir is legitimately absent when its
    // version's write COMPLETED but emitted zero rows for that bucket (a
    // merge/sweep whose retain/tombstones deleted the bucket's every row
    // still flips the bucket's pointer; the schema-only all-rows-deleted
    // version is the all-buckets case of the same shape) — that bucket's
    // state is empty, the same answer the old filter-based read produced.
    // Any OTHER absence (a reader racing vacuum() — which removes whole
    // v<N> trees, never single bucket dirs — partial deletion, corruption)
    // previously read as silently EMPTY state, and a subsequent merge
    // would have persisted that loss as the new version (ADVICE r11 #1):
    // verify the completed-version shape or fail loudly.
    missing.foreach { leaf =>
      val vDir = leaf.getParent
      val benign = Files.exists(vDir) &&
        Files.exists(vDir.resolve("_SUCCESS"))
      require(benign,
        s"state bucket dir $leaf is referenced by the manifest but its " +
          "version dir is missing or incomplete — refusing to read the " +
          "bucket as empty (concurrent vacuum / partial delete / " +
          "corruption); re-open the table or restore the version dir")
    }
    val leafDirs = present.map(_.toString)
    if (leafDirs.isEmpty) emptyState
    else stateSchema match {
      // explicit schema: no per-read footer schema inference, and any
      // cross-version column drift reconciles EXACTLY as the merge
      // expects (absent columns null — e.g. pre-TTL versions read with a
      // later __expires_s schema) instead of depending on which file's
      // footer the inference happened to pick (ADVICE r11 #2)
      case Some(sch) => spark.read.schema(sch).parquet(leafDirs: _*)
      case None =>
        // no write this session yet: union-schema inference across the
        // read versions (late-appearing columns — __expires_s — reconcile
        // correctly even when the newest footer predates them; truly
        // incompatible drift fails loudly instead of silently picking one
        // footer). NOT pinned — a touched-buckets read may not see every
        // version; the first write pins the authoritative schema.
        spark.read.option("mergeSchema", "true").parquet(leafDirs: _*)
    }
  }

  /** The state files' schema, pinned after the first inference and kept in
    * step with every write — saves one driver-side footer inference per
    * state read, and makes multi-version reads reconcile schema drift
    * deterministically (all fields nullable: older versions may predate a
    * column, e.g. `__expires_s` appearing with the first TTL'd batch). */
  @volatile private var stateSchema
      : Option[org.apache.spark.sql.types.StructType] = None

  private def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case at: ArrayType =>
        ArrayType(asNullable(at.elementType), containsNull = true)
      case mt: MapType => MapType(asNullable(mt.keyType),
        asNullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Current full state; empty frame with the right schema before any write. */
  def state(): DataFrame = readBuckets(currentMeta, None)

  /** State restricted to the buckets touched by `keys`' primary-key values —
    * the partition-pruned read for point-lookup joins (a batch-vs-state
    * anti-join reads O(touched buckets), not O(total state)). `keys` must
    * carry the table's pk columns; the bucket collect is ≤ numBuckets rows. */
  def stateForKeys(keys: DataFrame): DataFrame =
    readBuckets(currentMeta, Some(touchedBuckets(keys)))

  /** The bucket set `keys`' primary-key values hash into — ≤ numBuckets
    * rows collected. Callers that later merge the SAME key set back (the
    * dedup sightings commit) pass the set to [[applyBatch]]'s
    * `knownTouched` so the merge skips its own identical collect job. */
  def touchedBuckets(keys: DataFrame): Set[Int] =
    keys.select(bucketOf.as(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Partition-pruned state read for an already-computed bucket set. */
  def stateForBuckets(touched: Set[Int]): DataFrame =
    readBuckets(currentMeta, Some(touched))

  /** Rewrite EVERY bucket keeping only rows satisfying `keep` — the physical
    * expiry hook for TTL'd state (the merge-time `retain` prune in
    * [[applyBatch]] only rewrites the buckets a batch touches; sweep bounds
    * the rest). One read + one write of live state; intended for a periodic
    * maintenance call, not the per-batch path. Serialized against
    * [[applyBatch]] (both are manifest read-modify-writes: an interleaving
    * would have two writers race the same `v<N+1>` directory and the loser's
    * bucket pointers silently vanish from the manifest — e.g. a maintenance
    * vacuum timer firing mid-merge). Single-JVM lock: the driver is the only
    * manifest writer, as in any single-writer table format. */
  /** maxConcurrentRequests analogue: cap the write job's task parallelism.
    * `coalesce(n)` is a no-op when the frame already has ≤ n partitions,
    * so the default cap never touches the plan. */
  private def capWrite(df: DataFrame): DataFrame =
    if (maxWriteTasks == Int.MaxValue) df else df.coalesce(maxWriteTasks)

  def sweep(keep: Column): Unit = synchronized {
    val m = currentMeta
    if (m.buckets.isEmpty) return
    val kept = readBuckets(m, None).filter(keep)
    val v = m.maxV + 1
    val out = capWrite(kept.withColumn(BucketCol, bucketOf))
    writeVersion(out, v)
    writeMeta(Meta(m.lastBatch, v, m.buckets.keys.map(_ -> v).toMap))
    vacuum()
  }

  /** Write one state version. The happy path is a single partitioned write
    * job; only the rare all-rows-deleted outcome (the partitioned write
    * produced ZERO bucket directories, whose version dir a later read could
    * not even schema-infer) pays a second, trivial job to stamp a
    * schema-only file. The previous shape ran `out.isEmpty` FIRST, which
    * executed the whole upstream merge plan once for the check and again
    * for the write — the bench's sink_stream spent ~45% of its per-batch
    * `write` phase in that duplicate execution (guide §1.2: don't compute
    * things you throw away). */
  private def writeVersion(out: DataFrame, v: Int): Unit = {
    val dir = rootPath.resolve(s"v$v")
    out.write.mode("overwrite").option("compression", compression)
      .partitionBy(BucketCol).parquet(dir.toString)
    // the newest version's layout IS the state schema from here on (leaf-dir
    // reads never see the partition column); older versions' files may lack
    // late-appearing columns — read as null, which is what the merge expects
    stateSchema = Some(asNullable(org.apache.spark.sql.types.StructType(
      out.schema.filterNot(_.name == BucketCol)))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
    val hasBucketDirs = {
      val ls = Files.list(dir)
      try ls.anyMatch(p => p.getFileName.toString.startsWith(s"$BucketCol="))
      finally ls.close()
    }
    if (!hasBucketDirs)
      // schema-only version (BucketCol as a plain column, zero rows) —
      // exactly the shape the old isEmpty branch wrote
      out.limit(0).write.mode("overwrite").option("compression", compression)
        .parquet(dir.toString)
  }

  /** Drop version directories no longer referenced by any bucket pointer
    * (bounded disk; the manifest always stays valid). `_SUCCESS` goes
    * first: a reader holding a stale manifest that races the deletion then
    * fails [[readBuckets]]' completed-version check instead of reading an
    * already-deleted bucket leaf as empty state. */
  def vacuum(): Unit = {
    val m = currentMeta
    val live = m.buckets.values.toSet
    (1 to m.maxV).filterNot(live.contains).foreach { old =>
      val dir = rootPath.resolve(s"v$old")
      if (Files.exists(dir)) {
        Files.deleteIfExists(dir.resolve("_SUCCESS"))
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }

  /** Rows visible at `nowSec` — TTL'd rows past their expiry are gone
    * (reference G2: TTL'd cells disappear; modeled at row granularity). */
  def stateAt(nowSec: Long): DataFrame = {
    val s = state()
    if (!s.columns.contains(RecordMapper.ExpiresCol)) s
    else s.filter(col(RecordMapper.ExpiresCol).isNull ||
      col(RecordMapper.ExpiresCol) > nowSec)
      .drop(RecordMapper.ExpiresCol)
  }

  /** Apply one routed, mapped micro-batch (columns: mapped table cols +
    * __mode + __writetime [+ __ttl_seconds]). A batchId ≤ the last applied
    * one FOR THIS BINDING is a replay — skipped, exactly-once. Bindings that
    * fan into the same table pass distinct `binding` keys so each one's
    * merge of a batch is tracked independently.
    *
    * `retain`: rows of the MERGED touched buckets failing this predicate are
    * dropped before the write — TTL'd state (e.g. the dedup seen-hash store)
    * expires physically during the merge it was already paying for, zero
    * extra passes. Untouched buckets keep their expired rows until the next
    * batch lands in them or [[sweep]] runs. */
  /** `knownTouched`: the batch's bucket set when the CALLER already
    * collected it (the dedup sightings merge re-uses the set its state
    * lookup computed over the same keys) — the merge then runs ONE Spark
    * job (the write) instead of two, and skips the batch persist whose only
    * point was sharing work between those jobs (guide §1.2). The set must
    * cover every bucket the batch's keys hash into; a superset only
    * rewrites the extra buckets' state unchanged. */
  def applyBatch(batch: DataFrame, batchId: Long = Long.MinValue,
      binding: String = DefaultBinding,
      retain: Option[Column] = None,
      knownTouched: Option[Set[Int]] = None): Unit = synchronized {
    val phases = scala.collection.mutable.LinkedHashMap[String, Long]()
    val timed = new KeyedParquetTable.Timer {
      def apply[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime()
        try f
        finally phases += name -> (System.nanoTime() - t0) / 1000000L
      }
    }
    try KeyedParquetTable.withMicroBatchSplits(spark) {
      applyBatchTimed(batch, batchId, binding, retain, knownTouched, timed)
    } finally lastApplyPhaseMs = phases.toMap
  }

  /** Wall ms of the last [[applyBatch]]'s internal stages (`collect` =
    * touched-bucket materialization job; `merge_write` = merge plan + state
    * write job; `meta` = manifest flip + vacuum; `unpersist` = blocking
    * batch-cache drop) — the per-batch `write` phase of a long stream was a
    * single opaque number (OPTIMIZATION_r11 "Not yet optimized" #1) and the
    * next cut needed to know which job inside it pays. Plain bookkeeping. */
  @volatile var lastApplyPhaseMs: Map[String, Long] = Map.empty

  private def applyBatchTimed(batch: DataFrame, batchId: Long,
      binding: String, retain: Option[Column],
      knownTouched: Option[Set[Int]],
      timed: KeyedParquetTable.Timer): Unit = {
    val m = currentMeta
    if (batchId != Long.MinValue && batchId <= m.lastFor(binding)) return
    def bumped = m.lastBatch +
      (binding -> math.max(batchId, m.lastFor(binding)))

    // The mapped batch has up to THREE consumers below (touched-bucket
    // collect, merge, write) and its plan is typically the binding's whole
    // mapping pipeline (quality semi-join + dedup anti-join + JSON decode)
    // — without a persist each consumer re-executed that pipeline from the
    // source (guide §5 caching: reused AND expensive to recompute; the
    // bench's sink_stream write phase carried 2 of the 3 duplicate runs).
    // MEMORY_AND_DISK: a micro-batch is bounded; spill beats recompute.
    // With `knownTouched` the write job is the ONLY consumer — no persist.
    val batchP =
      if (knownTouched.isDefined) batch
      else batch.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the batch determines which buckets the merge touches at all
      val touched = knownTouched.getOrElse(timed("collect") {
        batchP.select(bucketOf.as(BucketCol)).distinct()
          .collect().map(_.getInt(0)).toSet
      })
      if (touched.isEmpty) {
        writeMeta(m.copy(lastBatch = bumped))
        return
      }

      val out = timed("merge_plan") {
        val stTouched = readBuckets(m, Some(touched))
        val merged =
          if (table.counterCols.nonEmpty)
            Upserts.mergeCounters(stTouched, Upserts.counterCombine(batchP, table), table)
          else if (mergeMode == "row")
            Upserts.mergeInto(stTouched, batchP, table, nullToUnset)
          else
            Upserts.mergeIntoCellWise(stTouched, batchP, table, nullToUnset,
              entryCols = if (mergeMode == "entry") table.mapCols else Nil)
        val next = retain.map(merged.filter).getOrElse(merged)
        val plan = capWrite(next.withColumn(BucketCol, bucketOf))
        plan.queryExecution.executedPlan // force analysis/optimization here
        plan
      }
      timed("merge_write") {
        val v = m.maxV + 1
        writeVersion(out, v)

        writeMeta(Meta(
          lastBatch = bumped,
          maxV = v,
          buckets = m.buckets ++ touched.map(_ -> v)))
      }
      timed("meta")(vacuum()) // superseded versions are unreachable
    } finally if (knownTouched.isEmpty)
      timed("unpersist")(batchP.unpersist(true))
    // blocking, deliberately: an async unpersist here races the NEXT
    // micro-batch's jobs with this batch's block drain — a 32-batch stream
    // showed the same monotone per-batch growth (wall ≫ cpu, tail 2.7→10 s)
    // that round 8 adjudicated for async clearCache between bench runs.
    // The drop of a micro-batch-sized cache is bounded and cheap.
  }
}

object KeyedParquetTable {
  /** Polymorphic stage timer for [[KeyedParquetTable.applyBatch]]'s
    * sub-phase attribution (same shape as SinkPipeline's Phaser). */
  private[sink] trait Timer {
    def apply[A](name: String)(f: => A): A
  }

  /** Run `f` with `spark.sql.files.minPartitionNum = 1` — the micro-batch
    * latency scope (a state merge, a whole processBatch). Spark's split
    * packing aims `bytesPerCore = (totalBytes + files·openCost) /
    * minPartitionNum`, and minPartitionNum DEFAULTS to the session
    * parallelism — so a touched-bucket state read of ~35 KB-sized files
    * (each padded by the 4 MB openCost) planned ~35 single-file splits just
    * to fill cores, and every micro-batch merge scheduled ~35 no-op tasks
    * per state scan (guide §6 input split size; §2.2 fewer, larger map
    * tasks). With the floor at 1, small reads pack into O(1) splits while
    * big reads are untouched: `maxPartitionBytes` (128 MB default) still
    * caps every split, so a 100 TB bucket scan plans exactly the same
    * splits as before — the setting only stops the artificial fan-out when
    * the data is SMALLER than one split per core, which is precisely the
    * micro-batch case. Restores the previous value on exit; the scope is
    * the single-writer driver thread (applyBatch is synchronized).
    *
    * CONCURRENCY CONTRACT (ADVICE r11 #3): the save/set/restore mutates the
    * SESSION-level SQL conf, so it assumes one sink pipeline per
    * SparkSession and no concurrent ad-hoc queries on that session while a
    * micro-batch is in flight — the deployment shape of every entrypoint
    * here (a streaming sink owns its cloned micro-batch session; the bench
    * and tests drive one pipeline at a time). Running several pipelines on
    * ONE session could plan an unrelated concurrent scan with the floor
    * applied (correct plans, possibly fewer splits than intended) or
    * restore a stale value; give each pipeline its own session
    * (spark.newSession()) in that topology. */
  private[graft] def withMicroBatchSplits[A](
      spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.files.minPartitionNum"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}

package graft.sink

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{RecordMapper, Upserts}

/**
 * A primary-keyed, parquet-backed table with Cassandra-flavored write
 * semantics: LWW upsert, per-column null-to-unset, delete, and counter
 * increments. Stands in for the Cassandra sink in tests and in the oracle
 * harness (the real deployment swaps this for the Cassandra connector's
 * writer — the merge algebra in [[Upserts]] is identical).
 *
 * The store is APPEND-ONLY with merge-on-read, the log-structured shape
 * Cassandra itself has: a write never reads state. Rows are hash-bucketed
 * by primary key into `numBuckets` buckets, and every version directory
 * `v<N>/` holds one `__bucket=<k>/` directory per bucket it wrote. The
 * manifest (`CURRENT`) maps each bucket to its BASE version; the bucket's
 * RUNS are the versions in (base, maxV] that hold the bucket and a
 * `_SUCCESS` marker.
 *
 *  - '''Write.''' [[applyBatch]] writes the mapped batch as one new run
 *    `v<N>/`: its raw rows with `__mode`, `__writetime`, `__ttl_seconds`
 *    and the cells it carries, in one map-only job. Then it flips the
 *    manifest. A batch's cost tracks the batch, not the state.
 *  - '''Read.''' [[state]] and [[stateForBuckets]] fold each bucket's base
 *    and runs with the mode's merge ([[Upserts.fold]]): one pk shuffle
 *    however many runs there are, equal to merging the runs one batch at a
 *    time, oldest first.
 *  - '''Compaction''' is derived from the data. Once a bucket's run bytes
 *    exceed its base bytes, the batch that tipped it folds base and runs
 *    into a new base, written into that batch's own version directory in
 *    place of its run. That batch pays for a compaction job anyway, so
 *    every other bucket it lands in whose runs exceed half its base folds
 *    in the same job: hash buckets fill at the same pace, and without this
 *    the few a little behind would each cost a second compaction batch
 *    right after the first. A base grows by at least half at each
 *    compaction, so a row is rewritten O(log n) times, and the bytes on
 *    disk stay within about twice the folded state plus one batch. A
 *    bucket also compacts once it holds `numBuckets` runs, so a read scans
 *    at most `numBuckets` runs however long the stream has run.
 *  - '''Direct fold.''' When a batch is known to compact before it is
 *    written, it skips the run: base, runs and the batch fold in one job
 *    into new bases for every bucket. That is the case for a batch into an
 *    empty table, a batch with `retain` (its folded rows failing the
 *    predicate are dropped), a bucket at the run bound, and a batch
 *    predicted to outweigh a bucket's base and runs together (hot keys).
 *    The prediction is the heavier of the last two batches (rows, times
 *    the last run's bytes per row). Folding such a batch directly costs
 *    about what its run write would, since the state is the lighter side;
 *    a heavier state writes the run, and a wrong guess then costs at most
 *    one run write and read. [[sweep]] compacts every bucket.
 *
 * A crash before the flip leaves only versions above maxV, which every
 * reader ignores, the replayed batch overwrites and [[vacuum]] deletes.
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
    /** Cap on concurrent write tasks per write job — the Spark analogue of
      * the reference's `maxConcurrentRequests` in-flight-writes throttle
      * (KAF-60), wired from `SinkConfig` by `SinkPipeline.store`. Applied
      * as a `coalesce` right before every run or compaction write, so a
      * version write never runs more than this many parallel tasks. The default is effectively "no cap" for any sane local or
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


  /** The merge this table folds with. Row-level state always carries
    * `__expires_s`: a pipeline batch always carries `__ttl_seconds`. */
  private val spec = Upserts.Fold(table, nullToUnset,
    entryCols = mergeMode match {
      case "row"   => None
      case "cell"  => Some(Nil)
      case _       => Some(table.mapCols)
    },
    withExpiry = true)

  /** Every version file holds fold rows — a run's write rows (whose
    * state-only columns read as null), or a base's state rows (whose write
    * columns read as null) — without their run, which is the version the
    * file sits in. */
  private val fileSchema =
    org.apache.spark.sql.types.StructType(spec.rowsSchema.filterNot(_.name == Upserts.RunCol))

  private val VersionDir = "v(\\d+)".r
  private def versionDir(v: Int): Path = rootPath.resolve(s"v$v")
  private def leaf(v: Int, k: Int): Path = versionDir(v).resolve(s"$BucketCol=$k")

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }

  private def list(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.toVector finally ls.close()
  }

  /** Bucket → data bytes (checksums and markers excluded) of one version
    * directory; empty when it has no `_SUCCESS`, i.e. never completed. */
  private def bucketBytes(v: Int): Map[Int, Long] =
    if (!Files.exists(versionDir(v).resolve("_SUCCESS"))) Map.empty
    else list(versionDir(v)).map(_.getFileName.toString)
      .filter(_.startsWith(s"$BucketCol=")).map { n =>
        n.stripPrefix(s"$BucketCol=").toInt -> list(versionDir(v).resolve(n))
          .filter { f =>
            val name = f.getFileName.toString
            !name.startsWith(".") && !name.startsWith("_")
          }.map(Files.size).sum
      }.toMap

  /** [[bucketBytes]] of committed versions (≤ maxV), which never change. */
  private val committed = TrieMap[Int, Map[Int, Long]]()

  /** The root as of manifest `m`: the version directories present, and the
    * buckets held by each completed version up to `upTo`. */
  private case class Disk(m: Meta, present: Seq[Int],
      held: Map[Int, Map[Int, Long]]) {
    def base(k: Int): Int = m.buckets.getOrElse(k, 0)
    /** Versions in (base(k), upTo] holding bucket k, oldest first. */
    def runs(k: Int): Seq[Int] =
      held.toSeq.collect { case (v, bs) if v > base(k) && bs.contains(k) => v }.sorted
    def runBytes(k: Int): Long = runs(k).map(held(_)(k)).sum
    def baseBytes(k: Int): Long = held.get(base(k)).flatMap(_.get(k)).getOrElse(0L)
    /** Buckets with a base or a run. */
    def buckets: Set[Int] = m.buckets.keySet ++
      held.flatMap { case (v, bs) => bs.keys.filter(v > base(_)) }
    /** Versions that are a base or a run of some bucket. */
    def live: Set[Int] = m.buckets.values.toSet ++
      held.collect { case (v, bs) if bs.keys.exists(v > base(_)) => v }
  }

  /** One listing of the root, plus one of each version not yet cached. */
  private def disk(m: Meta, upTo: Int): Disk = {
    val present = list(rootPath).map(_.getFileName.toString)
      .collect { case VersionDir(n) => n.toInt }
    Disk(m, present, present.filter(_ <= upTo).map { v =>
      v -> (if (v <= m.maxV) committed.getOrElseUpdate(v, bucketBytes(v))
        else bucketBytes(v))
    }.toMap)
  }

  /** The fold rows of `wanted` buckets (None = every bucket): one scan per
    * version holding a wanted bucket's base or run, over exactly those
    * `__bucket=<k>` directories (at most numBuckets paths, so a per-batch
    * lookup stays under Spark's parallel-listing threshold), its rows
    * tagged with the version as their run. The explicit schema costs no
    * footer inference. A live version can still hold a bucket compacted
    * since; reading leaf directories never touches it.
    *
    * A base whose bucket directory is missing reads as an empty bucket only
    * when its version completed (`_SUCCESS`: a compaction that kept no row
    * of the bucket). Any other absence — a reader racing [[vacuum]], a
    * partial delete, corruption — fails loudly: read as empty, the next
    * compaction would persist the loss. */
  private def readRows(d: Disk, wanted: Option[Set[Int]]): DataFrame = {
    val ks = wanted.getOrElse(d.buckets).toSeq.sorted
    val bases = ks.flatMap { k =>
      d.m.buckets.get(k).filter { v =>
        val present = Files.exists(leaf(v, k))
        require(present || Files.exists(versionDir(v).resolve("_SUCCESS")),
          s"state bucket dir ${leaf(v, k)} is referenced by the manifest but " +
            "its version dir is missing or incomplete — refusing to read the " +
            "bucket as empty (concurrent vacuum / partial delete / " +
            "corruption); re-open the table or restore the version dir")
        present
      }.map(_ -> k)
    }
    val scans = (bases ++ ks.flatMap(k => d.runs(k).map(_ -> k)))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (v, vks) =>
        spark.read.schema(fileSchema)
          .parquet(vks.map(vk => leaf(v, vk._2).toString): _*)
          .withColumn(Upserts.RunCol, lit(v))
      }
    if (scans.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        spec.rowsSchema)
    else scans.reduce(_ union _)
  }

  /** Current full state, folded; empty with the fold's columns before any
    * write. */
  def state(): DataFrame = {
    val m = currentMeta
    Upserts.fold(readRows(disk(m, m.maxV), None), spec)
  }

  /** The bucket set `keys`' primary-key values hash into — ≤ numBuckets
    * rows collected; what [[stateForBuckets]] and [[unfoldedForBuckets]]
    * prune to. */
  def touchedBuckets(keys: DataFrame): Set[Int] =
    keys.select(bucketOf.as(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Folded state of an already-computed bucket set (partition-pruned). */
  def stateForBuckets(touched: Set[Int]): DataFrame = {
    val m = currentMeta
    Upserts.fold(readRows(disk(m, m.maxV), Some(touched)), spec)
  }

  /** Every row the `touched` buckets' bases and runs hold, NOT folded, in
    * the table's columns: a key appears once per run that wrote it, and a
    * delete reads like any other row. Existence here equals existence in
    * [[state]] only for a store whose rows are never deleted — the dedup
    * seen-stores, whose per-batch lookup therefore needs no fold. */
  def unfoldedForBuckets(touched: Set[Int]): DataFrame = {
    val m = currentMeta
    readRows(disk(m, m.maxV), Some(touched))
      .select(table.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** maxConcurrentRequests analogue: cap the write job's task parallelism.
    * `coalesce(n)` is a no-op when the frame already has ≤ n partitions,
    * so the default cap never touches the plan. */
  private def capWrite(df: DataFrame): DataFrame =
    if (maxWriteTasks == Int.MaxValue) df else df.coalesce(maxWriteTasks)

  /** Compact EVERY bucket, keeping only folded rows satisfying `keep` — the
    * physical expiry hook for TTL'd state that no `retain` batch writes to
    * any more (a `retain` batch folds every bucket). One read + one write
    * of live state; intended for a periodic maintenance call, not the
    * per-batch path. Serialized against [[applyBatch]] (both are manifest
    * read-modify-writes: an interleaving would have two writers race the
    * same `v<N+1>` directory and the loser's bucket pointers silently
    * vanish from the manifest — e.g. a maintenance vacuum timer firing
    * mid-merge). Single-JVM lock: the driver is the only manifest writer,
    * as in any single-writer table format. */
  def sweep(keep: Column): Unit = synchronized {
    val m = currentMeta
    val d = disk(m, m.maxV)
    if (d.buckets.isEmpty) return
    val v = m.maxV + 1
    deleteTree(versionDir(v)) // a crashed write's leftover
    compact(d, d.buckets, v, Some(keep))
    writeMeta(m.copy(maxV = v, buckets = m.buckets ++ d.buckets.map(_ -> v)))
    vacuum()
  }

  /** Write `df` partitioned by bucket under `dir`, replacing whatever a
    * crashed attempt left there. */
  private def writeBuckets(df: DataFrame, dir: Path): Unit =
    capWrite(df.withColumn(BucketCol, bucketOf))
      .write.mode("overwrite").option("compression", compression)
      .partitionBy(BucketCol).parquet(dir.toString)

  /** Mark `v<v>/` complete, also when no bucket directory was written. */
  private def markDone(v: Int): Unit = {
    Files.createDirectories(versionDir(v))
    val done = versionDir(v).resolve("_SUCCESS")
    if (!Files.exists(done)) Files.createFile(done)
  }

  /** Fold buckets `ks` (base + runs up to `v`) into new bases that take the
    * place of their directories in `v<v>/`: written to `_compact/` first,
    * then swapped in one bucket directory at a time. `v` is above the
    * manifest's maxV until the caller flips it, so no reader sees a
    * half-swapped version. */
  private def compact(d: Disk, ks: Set[Int], v: Int, keep: Option[Column]): Unit = {
    val folded = Upserts.fold(readRows(d, Some(ks)), spec)
    val tmp = rootPath.resolve("_compact")
    writeBuckets(keep.map(folded.filter).getOrElse(folded), tmp)
    Files.createDirectories(versionDir(v))
    ks.foreach { k =>
      deleteTree(leaf(v, k))
      val out = tmp.resolve(s"$BucketCol=$k")
      if (Files.exists(out)) Files.move(out, leaf(v, k), StandardCopyOption.ATOMIC_MOVE)
    }
    markDone(v)
    deleteTree(tmp)
  }

  /** Delete every version directory that is neither a base nor a run of any
    * bucket — superseded bases and runs, runs that landed no row, anything
    * above maxV (a write that crashed before its flip) — and a leftover
    * `_compact/`. One listing of the root. `_SUCCESS` goes first: a reader
    * holding a stale manifest that races the deletion then fails
    * [[readRows]]' completed-version check instead of reading an
    * already-deleted bucket as empty state. */
  def vacuum(): Unit = synchronized {
    val m = currentMeta
    val d = disk(m, m.maxV)
    val live = d.live
    d.present.filterNot(live).foreach { v =>
      Files.deleteIfExists(versionDir(v).resolve("_SUCCESS"))
      deleteTree(versionDir(v))
      committed.remove(v)
    }
    deleteTree(rootPath.resolve("_compact"))
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
    * __mode + __writetime [+ __ttl_seconds]) by appending it as one run —
    * no state is read, and the batch is consumed by exactly one job, the
    * run write — or, when the batch compacts for certain, by folding it
    * with the state in that one job instead (see the class doc). A batchId
    * ≤ the last applied one FOR THIS BINDING is a replay — skipped,
    * exactly-once. Bindings that fan into the same table pass distinct
    * `binding` keys so each one's batch is tracked independently.
    *
    * Every bucket the run lands in whose run bytes now exceed its base
    * bytes is compacted in the same call. `retain`: the batch folds every
    * bucket, and folded rows failing the predicate are dropped — TTL'd
    * state (e.g. the dedup seen-hash store) expires physically at every
    * batch that writes to it.
    *
    * `knownTouched` is ignored: neither write needs a bucket set. */
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
      applyBatchTimed(batch, batchId, binding, retain, timed)
    } finally lastApplyPhaseMs = phases.toMap
  }

  /** Wall ms of the last [[applyBatch]]'s internal stages (`merge_write` =
    * the run write, any compaction, or the direct fold; `meta` = manifest
    * flip + vacuum).
    * Plain bookkeeping. */
  @volatile var lastApplyPhaseMs: Map[String, Long] = Map.empty

  /** What the next batch is predicted to weigh: the heavier of the last two
    * batches (their rows), at the last run's bytes per row in each bucket.
    * A load into an empty table is not counted: it says nothing about the
    * stream's batches. */
  private var lastRun: (Map[Int, Long], Long) = (Map.empty, 0L)
  private var recentRows: (Long, Long) = (0L, 0L)
  private def observed(rows: Long): Unit = recentRows = (recentRows._2, rows)
  private def predictedBytes(k: Int): Double =
    if (lastRun._2 <= 0) 0.0
    else lastRun._1.getOrElse(k, 0L).toDouble *
      math.max(recentRows._1, recentRows._2) / lastRun._2

  private def applyBatchTimed(batch: DataFrame, batchId: Long,
      binding: String, retain: Option[Column],
      timed: KeyedParquetTable.Timer): Unit = {
    val m = currentMeta
    if (batchId != Long.MinValue && batchId <= m.lastFor(binding)) return
    val v = m.maxV + 1
    val d = disk(m, m.maxV)
    val obs = new org.apache.spark.sql.Observation()
    val rows = Upserts.writeRows(batch, spec, lit(v))
      .observe(obs, count(lit(1)).as("rows"))
    val direct = retain.isDefined || d.buckets.isEmpty || d.buckets.exists { k =>
      d.runs(k).size >= numBuckets ||
        predictedBytes(k) > d.baseBytes(k) + d.runBytes(k)
    }
    val compacted = timed("merge_write") {
      // the observed rows arrive on the listener bus
      def observedRows(): Long = {
        org.apache.spark.sql.GraftBridge.drainListeners(spark)
        org.apache.spark.sql.GraftBridge.observedOrEmpty(obs)
          .get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
      }
      if (direct) {
        // the batch's frame leads the union, so the job runs in the
        // batch's session: observations registered there (the caller's
        // counters, `obs`) fire only for that session's queries
        val folded = Upserts.fold(rows.union(readRows(d, None)), spec)
        writeBuckets(retain.map(folded.filter).getOrElse(folded), versionDir(v))
        markDone(v)
        val n = observedRows()
        if (d.buckets.nonEmpty) observed(n)
        d.buckets ++ bucketBytes(v).keySet
      } else {
        writeBuckets(rows.drop((Upserts.RunCol +: spec.stateOnly): _*), versionDir(v))
        val n = observedRows()
        observed(n)
        val after = disk(m, v)
        val landed = after.held.getOrElse(v, Map.empty)
        lastRun = (landed, n)
        // runs over base, per bucket (no base: always due)
        def load(k: Int) = after.runBytes(k).toDouble / math.max(after.baseBytes(k), 1L)
        val due =
          if (landed.keys.exists(load(_) > 1)) landed.keySet.filter(load(_) > 0.5)
          else Set.empty[Int]
        if (due.nonEmpty) compact(after, due, v, None)
        due
      }
    }
    timed("meta") {
      writeMeta(Meta(
        lastBatch = m.lastBatch + (binding -> math.max(batchId, m.lastFor(binding))),
        maxV = v,
        buckets = m.buckets ++ compacted.map(_ -> v)))
      vacuum()
    }
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

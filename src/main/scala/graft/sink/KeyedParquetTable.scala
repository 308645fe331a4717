package graft.sink

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
 * Cassandra itself has: a write never reads state. Every version directory
 * `v<N>/` holds plain parquet files, one per write task, the way Cassandra
 * writes one SSTable per memtable flush. The manifest (`CURRENT`) lists the
 * live versions with their row counts: the oldest is the BASE, the folded
 * state as of some batch, and every later one is a RUN, one batch's raw
 * write rows.
 *
 *  - '''Write.''' [[applyBatch]] writes the mapped batch as one new run
 *    `v<N>/`: its raw rows with `__mode`, `__writetime`, `__ttl_seconds`
 *    and the cells it carries, in one map-only job. Then it flips the
 *    manifest. A batch's cost tracks the batch, not the state.
 *  - '''Read.''' [[state]] folds the base and the runs with the mode's
 *    merge ([[Upserts.fold]]) from one scan of their directories, each
 *    row's run read off the version its file sits in: one pk shuffle
 *    however many runs there are, equal to merging the runs one batch at a
 *    time, oldest first.
 *  - '''Compaction''' is derived from the data. Once the runs hold more
 *    rows than the base, the batch that tipped it folds base and runs into
 *    a new base, written into that batch's own version directory in place
 *    of its run. The base at least doubles at each compaction, so a row is
 *    rewritten O(log n) times, and the rows on disk stay within about twice
 *    the folded state plus one batch. The store also compacts once it holds
 *    [[KeyedParquetTable.MaxRuns]] runs, so a read scans a bounded number
 *    of versions however long the stream has run.
 *  - '''Direct fold.''' When a batch is known to compact before it is
 *    written, it skips the run: base, runs and the batch fold in one job
 *    into a new base. That is the case for a batch into an empty table, a
 *    batch with `retain` (its folded rows failing the predicate are
 *    dropped), a store at the run bound, and a batch predicted to outweigh
 *    base and runs together (hot keys). The prediction is the heavier of
 *    the last two batches' rows, kept in the manifest, so it survives a
 *    reopen. Folding such a batch directly costs about what its run write
 *    would, since the state is the lighter side; a heavier state writes the
 *    run, and a wrong guess then costs at most one run write and read.
 *    [[sweep]] folds the whole store.
 *
 * The row counts come from the writes' [[org.apache.spark.sql.Observation]]s
 * and steer compaction only: a read scans every live version whatever its
 * count. A crash before the flip leaves only versions above maxV, which
 * every reader ignores, the replayed batch overwrites and [[vacuum]]
 * deletes.
 */
class KeyedParquetTable(
    spark: SparkSession,
    val table: SinkTable,
    root: String,
    nullToUnset: Boolean = true,
    /** Parquet codec for state files (X2 `compression` mapped via
      * `SinkConfig.Config.parquetCodec`). */
    compression: String = "snappy",
    /** Cap on concurrent write tasks per write job — the Spark analogue of
      * the reference's `maxConcurrentRequests` in-flight-writes throttle
      * (KAF-60), wired from `SinkConfig` by `SinkPipeline.store`. Applied
      * as a `coalesce` right before every run or compaction write, so a
      * version write never runs more than this many parallel tasks, and
      * never holds more than this many files. The default is effectively
      * "no cap" for any sane local or cluster parallelism. */
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

  import KeyedParquetTable.MaxRuns

  require(Set("row", "cell", "entry").contains(mergeMode),
    s"mergeMode must be row, cell or entry (got '$mergeMode')")

  private val rootPath = Paths.get(root)
  Files.createDirectories(rootPath)

  private def currentFile = rootPath.resolve("CURRENT")

  /** The replay-guard key used when no binding is named: single-writer
    * tables (the common case) track one batch watermark. */
  val DefaultBinding = "_"

  /** Manifest: last applied batch id PER BINDING, newest version, the rows
    * of the last two batches, and the live versions with their rows, base
    * first. Replay of an already-applied micro-batch is a no-op, which
    * upgrades the pipeline to exactly-once even for counters (the one write
    * mode LWW can't make replay-idempotent; reference hard part, SURVEY
    * §7.4). The watermark is per binding because several bindings can fan
    * into ONE table (reference S7 — the very case cell-wise merge exists
    * for): with a single watermark, the first binding's merge of batch N
    * would make the second binding's merge of the SAME batch look like a
    * replay and silently drop its records.
    *
    * `CURRENT` reads `<maxV> <mergeMode> <rows> <rows>`, then one
    * `b <binding> <batch>` line per binding and one `<v>:<rows>` line per
    * live version. The header pins `mergeMode` (cell mode persists
    * `__wt_<col>` columns a row-mode reopen would drop): a mismatch fails
    * fast instead, and so does the bucketed layout's header. */
  private case class Meta(lastBatch: Map[String, Long], maxV: Int,
      recent: (Long, Long), live: Seq[(Int, Long)]) {
    def lastFor(binding: String): Long = lastBatch.getOrElse(binding, -1L)
    def versions: Seq[Int] = live.map(_._1)
    def baseRows: Long = live.headOption.fold(0L)(_._2)
    def runs: Seq[(Int, Long)] = live.drop(1)
    /** A batch's rows, as the last two batches predict them. */
    def predicted: Long = math.max(recent._1, recent._2)
    def observed(rows: Long): Meta = copy(recent = (recent._2, rows))
  }

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  private def currentMeta: Meta =
    if (!Files.exists(currentFile)) Meta(Map.empty, 0, (0L, 0L), Nil)
    else {
      val lines = Files.readString(currentFile).trim.split('\n')
      val head = lines.head.split(' ')
      require(!(head.length == 3 && head(1).forall(_.isDigit)),
        s"state at $root has the bucketed layout (manifest header " +
          s"'${lines.head}', rows in __bucket=<k> directories), which this " +
          "store no longer reads — replay the table's source into a fresh root")
      require(head.length == 4,
        s"unrecognized manifest header at $root: '${lines.head}'")
      require(head(1) == mergeMode,
        s"state at $root was written with mergeMode=${head(1)} but opened " +
          s"with mergeMode=$mergeMode — open with the original merge mode")
      val (bindingLines, versionLines) = lines.tail.filter(_.nonEmpty)
        .partition(_.startsWith("b "))
      val lastBatch = bindingLines.map { ln =>
        val Array(_, k, v) = ln.split(' '); dec(k) -> v.toLong
      }.toMap
      val live = versionLines.map { ln =>
        val Array(v, n) = ln.split(':'); v.toInt -> n.toLong
      }.toSeq.sortBy(_._1)
      Meta(lastBatch, head(0).toInt, (head(2).toLong, head(3).toLong), live)
    }

  private def writeMeta(m: Meta): Unit = {
    val body = (s"${m.maxV} $mergeMode ${m.recent._1} ${m.recent._2}" +:
      (m.lastBatch.toSeq.sortBy(_._1).map { case (k, v) => s"b ${enc(k)} $v" } ++
        m.live.map { case (v, n) => s"$v:$n" })).mkString("\n")
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

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }

  /** The fold rows of versions `vs`: one scan over their directories (at
    * most [[KeyedParquetTable.MaxRuns]] + 1 paths, under Spark's
    * parallel-listing threshold), each row's run parsed from the name of
    * the version directory its file sits in. A column, not a literal per
    * version, so every read shares one generated plan. The explicit schema
    * costs no footer inference.
    *
    * A version without `_SUCCESS` — a reader racing [[vacuum]], a partial
    * delete, corruption — fails loudly: read as empty, the next compaction
    * would persist the loss. */
  private def readRows(vs: Seq[Int]): DataFrame = {
    vs.foreach { v =>
      require(Files.exists(versionDir(v).resolve("_SUCCESS")),
        s"state version ${versionDir(v)} is referenced by the manifest but is " +
          "missing or incomplete — refusing to read it as empty (concurrent " +
          "vacuum / partial delete / corruption); re-open the table or " +
          "restore the version dir")
    }
    if (vs.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        spec.rowsSchema)
    else spark.read.schema(fileSchema)
      .parquet(vs.map(versionDir(_).toString): _*)
      .withColumn(Upserts.RunCol, regexp_extract(col("_metadata.file_path"),
        "/v(\\d+)/[^/]+$", 1).cast("int"))
  }

  /** Current full state, folded; empty with the fold's columns before any
    * write. */
  def state(): DataFrame = Upserts.fold(readRows(currentMeta.versions), spec)

  /** Every row the base and the runs hold, NOT folded, in the table's
    * columns: a key appears once per run that wrote it, and a delete reads
    * like any other row. Existence here equals existence in [[state]] only
    * for a store whose rows are never deleted — the dedup seen-stores,
    * whose per-batch lookup therefore needs no fold. */
  def unfolded(): DataFrame =
    readRows(currentMeta.versions).select(table.schema.fieldNames.toIndexedSeq.map(col): _*)

  /** Bucket-layout shim for callers that still pass a bucket set: the
    * store is one bucket, 0, and this runs no job. */
  def touchedBuckets(keys: DataFrame): Set[Int] = Set(0)

  /** Bucket-layout shim: [[state]], whatever the bucket set. */
  def stateForBuckets(touched: Set[Int]): DataFrame = state()

  /** maxConcurrentRequests analogue: cap the write job's task parallelism.
    * `coalesce(n)` is a no-op when the frame already has ≤ n partitions,
    * so the default cap never touches the plan. */
  private def capWrite(df: DataFrame): DataFrame =
    if (maxWriteTasks == Int.MaxValue) df else df.coalesce(maxWriteTasks)

  /** Write `df` under `dir`, one file per task, replacing whatever a
    * crashed attempt left there. */
  private def write(df: DataFrame, dir: Path): Unit =
    capWrite(df).write.mode("overwrite").option("compression", compression)
      .parquet(dir.toString)

  /** `df` counting its rows into the returned observation. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = new Observation()
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  /** The rows an [[observed]] frame's job counted; 0 if it never fired.
    * The observed rows arrive on the listener bus. */
  private def counted(obs: Observation): Long = {
    org.apache.spark.sql.GraftBridge.drainListeners(spark)
    org.apache.spark.sql.GraftBridge.observedOrEmpty(obs)
      .get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** Fold `rows` into a base under `dir`, keeping only folded rows
    * satisfying `keep`; returns the base's rows. */
  private def writeBase(rows: DataFrame, keep: Option[Column], dir: Path): Long = {
    val folded = Upserts.fold(rows, spec)
    val (base, obs) = observed(keep.map(folded.filter).getOrElse(folded))
    write(base, dir)
    counted(obs)
  }

  /** Fold the whole store, keeping only folded rows satisfying `keep` — the
    * physical expiry hook for TTL'd state that no `retain` batch writes to
    * any more (a `retain` batch folds the store). One read + one write of
    * live state; intended for a periodic maintenance call, not the
    * per-batch path. Serialized against [[applyBatch]] (both are manifest
    * read-modify-writes: an interleaving would have two writers race the
    * same `v<N+1>` directory and the loser's versions silently vanish from
    * the manifest — e.g. a maintenance vacuum timer firing mid-merge).
    * Single-JVM lock: the driver is the only manifest writer, as in any
    * single-writer table format. */
  def sweep(keep: Column): Unit = synchronized {
    val m = currentMeta
    if (m.live.isEmpty) return
    val v = m.maxV + 1
    val rows = writeBase(readRows(m.versions), Some(keep), versionDir(v))
    writeMeta(m.copy(maxV = v, live = Seq(v -> rows)))
    vacuum()
  }

  /** Delete every version directory that is neither the base nor a run —
    * superseded bases and runs, anything above maxV (a write that crashed
    * before its flip) — and a leftover `_compact/`. One listing of the
    * root. `_SUCCESS` goes first: a reader holding a stale manifest that
    * races the deletion then fails [[readRows]]' completed-version check
    * instead of reading an already-deleted version as empty state. */
  def vacuum(): Unit = synchronized {
    val live = currentMeta.versions.toSet
    val ls = Files.list(rootPath)
    val present = try ls.iterator().asScala.map(_.getFileName.toString)
      .collect { case VersionDir(n) => n.toInt }.toVector finally ls.close()
    present.filterNot(live).foreach { v =>
      Files.deleteIfExists(versionDir(v).resolve("_SUCCESS"))
      deleteTree(versionDir(v))
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
    * A run that leaves the runs with more rows than the base is compacted
    * in the same call. `retain`: the batch folds the store, and folded rows
    * failing the predicate are dropped — TTL'd state (e.g. the dedup
    * seen-hash store) expires physically at every batch that writes to it.
    *
    * `knownTouched` is ignored (a bucket-layout argument kept for old
    * callers): neither write needs a bucket set. */
  def applyBatch(batch: DataFrame, batchId: Long = Long.MinValue,
      binding: String = DefaultBinding,
      retain: Option[Column] = None,
      knownTouched: Option[Set[Int]] = None): Unit = synchronized {
    val timed = new StageTimer
    try KeyedParquetTable.withMicroBatchSplits(spark) {
      applyBatchTimed(batch, batchId, binding, retain, timed)
    } finally lastApplyPhaseMs = timed.toMap
  }

  /** Wall ms of the last [[applyBatch]]'s internal stages (`merge_write` =
    * the run write, any compaction, or the direct fold; `meta` = manifest
    * flip + vacuum).
    * Plain bookkeeping. */
  @volatile var lastApplyPhaseMs: Map[String, Long] = Map.empty

  private def applyBatchTimed(batch: DataFrame, batchId: Long,
      binding: String, retain: Option[Column],
      timed: StageTimer): Unit = {
    val m = currentMeta
    if (batchId != Long.MinValue && batchId <= m.lastFor(binding)) return
    val v = m.maxV + 1
    // a batch's rows fold after every version's: one run number for every
    // batch, so no batch compiles code of its own
    val (rows, batchRows) = observed(Upserts.writeRows(batch, spec, lit(Int.MaxValue)))
    val runRows = m.runs.map(_._2).sum
    val direct = retain.isDefined || m.live.isEmpty || m.runs.size >= MaxRuns ||
      m.predicted > m.baseRows + runRows
    val next = timed("merge_write") {
      if (direct) {
        // the batch's frame leads the union, so the job runs in the
        // batch's session: observations registered there (the caller's
        // counters, `batchRows`) fire only for that session's queries
        val base = writeBase(rows.union(readRows(m.versions)), retain, versionDir(v))
        val n = counted(batchRows)
        // a load into an empty table says nothing about the stream's batches
        (if (m.live.isEmpty) m else m.observed(n)).copy(live = Seq(v -> base))
      } else {
        write(rows.drop((Upserts.RunCol +: spec.stateOnly): _*), versionDir(v))
        val n = counted(batchRows)
        val ran = m.observed(n).copy(live = m.live :+ (v -> n))
        if (runRows + n <= m.baseRows) ran
        else {
          // the fold reads the run at v, so the base goes through
          // _compact/; v stays above the manifest's maxV until the flip
          val tmp = rootPath.resolve("_compact")
          val base = writeBase(readRows(ran.versions), None, tmp)
          deleteTree(versionDir(v))
          Files.move(tmp, versionDir(v), StandardCopyOption.ATOMIC_MOVE)
          ran.copy(live = Seq(v -> base))
        }
      }
    }
    timed("meta") {
      writeMeta(next.copy(maxV = v,
        lastBatch = m.lastBatch + (binding -> math.max(batchId, m.lastFor(binding)))))
      vacuum()
    }
  }
}

object KeyedParquetTable {
  /** The runs a store holds before the next batch folds them into the
    * base, whatever their rows: a read scans at most this many runs. */
  val MaxRuns = 16

  /** Run `f` with `spark.sql.files.minPartitionNum = 1` — the micro-batch
    * latency scope (a state merge, a whole processBatch). Spark's split
    * packing aims `bytesPerCore = (totalBytes + files·openCost) /
    * minPartitionNum`, and minPartitionNum DEFAULTS to the session
    * parallelism — so a state read of ~35 KB-sized files
    * (each padded by the 4 MB openCost) planned ~35 single-file splits just
    * to fill cores, and every micro-batch merge scheduled ~35 no-op tasks
    * per state scan (guide §6 input split size; §2.2 fewer, larger map
    * tasks). With the floor at 1, small reads pack into O(1) splits while
    * big reads are untouched: `maxPartitionBytes` (128 MB default) still
    * caps every split, so a 100 TB state scan plans exactly the same
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

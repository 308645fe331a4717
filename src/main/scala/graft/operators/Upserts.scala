package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.SinkTable

/**
 * Batch-side write-mode algebra: the Cassandra-ish merge semantics of the
 * reference sink, re-expressed as shuffle-conscious DataFrame transforms.
 *
 * All operations shuffle at most once, on the table's primary key — the same
 * key Cassandra hashes — so a 1000-executor run co-partitions batch and state
 * and AQE can pick shuffle-hash vs sort-merge per stats.
 */
object Upserts {

  /**
   * Within-batch last-writer-wins compaction: keep, per primary key, the row
   * with the highest (writetime, tiebreak). This is the reference's
   * `USING TIMESTAMP` idempotence mechanism (reference:
   * sink/src/it/.../SimpleEndToEndSimulacronIT.java:91-93 — every generated
   * INSERT carries `USING TIMESTAMP :message_internal_timestamp`;
   * sink/src/it/.../WriteTimestampAndTtlCCMIT.java:45-70): replays and
   * out-of-order deliveries collapse to the newest write.
   *
   * Implemented as `max_by(row, orderKey)` hash aggregation, not a window
   * sort: partial aggregation compacts map-side BEFORE the shuffle, so at
   * 100 TB the shuffle carries one candidate row per (pk, map partition)
   * instead of every record — and no per-partition full sort is needed.
   * Order keys compare lexicographically as a struct; pass a unique
   * tiebreaker (e.g. offset) for total determinism.
   */
  def lwwCompact(batch: DataFrame, pk: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val valueStruct = struct(batch.columns.map(col).toIndexedSeq: _*)
    batch
      .groupBy(pk.map(col): _*)
      .agg(max_by(valueStruct, struct(orderCols: _*)).as("__row"))
      .select(col("__row.*"))
  }

  /**
   * Counter accumulation (reference A1/S5): within the batch, increments for
   * the same key sum together; the merge with existing state adds them to the
   * current counter values (reference: sink/src/it/.../JsonEndToEndCCMIT.java:276-300
   * — the same record delivered twice yields c3=6, c4=8).
   *
   * Map-side partial aggregation makes this a half-shuffle at scale.
   */
  def counterCombine(batch: DataFrame, table: SinkTable): DataFrame = {
    val sums = table.counterCols.map(c => sum(col(c)).cast(LongType).as(c))
    batch.groupBy(table.primaryKey.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Within-run deterministic tiebreaker for equal-writetime rows: the
    * row's full value struct, column order fixed by name sort — minus any
    * column whose type Spark cannot order (MapType, e.g. an entry-mode map
    * column). Columns that are constant or null across a run's rows (the
    * fold's own `__run` / `__set`, cells the run does not carry) leave the
    * order among that run's rows unchanged. */
  private def orderableTiebreak(df: DataFrame): Column = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    struct(df.columns.sorted
      .filter(c => RowOrdering.isOrderable(df.schema(c).dataType))
      .map(col).toIndexedSeq: _*)
  }

  // ------------------------------------------------------------- the fold

  /** Fold-row column: the run a row belongs to. State rows sort before
    * every run they are folded with. */
  val RunCol = "__run"
  /** Fold-row column: the columns a write row's batch carried, one
    * '0'/'1' per regular column in `table.regularCols` order, then one for
    * `__ttl_seconds`. A column absent from a batch is never touched, while
    * a present null cell unsets (or, with `nullToUnset = false`, nulls)
    * it. Null on state rows: that is how the fold tells state from
    * writes. */
  val SetCol = "__set"

  /** One merge algebra, parameterized:
    *  - a table with counter columns sums its increments;
    *  - `entryCols = None`: row-level LWW ([[mergeInto]]), with a
    *    `__expires_s` state column iff `withExpiry`;
    *  - `entryCols = Some(cols)`: cell-level LWW ([[mergeIntoCellWise]]),
    *    with `cols` (MapType) reconciled per map entry. */
  final case class Fold(table: SinkTable, nullToUnset: Boolean,
      entryCols: Option[Seq[String]], withExpiry: Boolean) {
    def counters: Boolean = table.counterCols.nonEmpty

    /** The folded state's columns: pk, then the mode's cells. */
    def stateSchema: StructType = {
      def f(n: String, t: DataType) = StructField(n, t, nullable = true)
      def typed(c: String) = f(c, table.schema(c).dataType)
      val body: Seq[StructField] =
        if (counters) table.counterCols.map(f(_, LongType))
        else entryCols match {
          case None =>
            table.regularCols.map(typed) ++ (f(RecordMapper.WritetimeCol, LongType) +:
              (if (withExpiry) Seq(f(RecordMapper.ExpiresCol, LongType)) else Nil))
          case Some(es) =>
            table.regularCols.filterNot(es.contains)
              .flatMap(c => Seq(typed(c), f(s"__wt_$c", LongType))) ++
              es.flatMap { m =>
                val mt = table.schema(m).dataType.asInstanceOf[MapType]
                Seq(typed(m), f(s"__wtmap_$m", MapType(mt.keyType, LongType)))
              } :+ f(RecordMapper.WritetimeCol, LongType)
        }
      StructType(table.primaryKey.map(typed) ++ body)
    }

    /** State columns a write row never carries: cell writetimes, expiry. */
    def stateOnly: Seq[String] = stateSchema.fieldNames.toSeq.filterNot(
      (table.primaryKey ++ table.regularCols :+ RecordMapper.WritetimeCol).contains)

    /** Fold rows: the state's columns, then a write row's mode, TTL and
      * cell set, then the run. State rows leave the write columns null;
      * write rows leave the state-only columns null. */
    def rowsSchema: StructType = StructType(stateSchema.fields ++ Seq(
      StructField(RecordMapper.ModeCol, StringType),
      StructField(RecordMapper.TtlCol, LongType),
      StructField(SetCol, StringType),
      StructField(RunCol, IntegerType)))
  }

  /** `state` as fold rows (run 0): columns it lacks read as null. */
  private[graft] def stateRows(state: DataFrame, spec: Fold): DataFrame = {
    val has = state.columns.toSet
    val stateCols = spec.stateSchema.fieldNames.toSet
    state.select(spec.rowsSchema.fields.toIndexedSeq.map { f =>
      (if (f.name == RunCol) lit(0)
        else if (stateCols(f.name) && has(f.name)) col(f.name)
        else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** A routed, mapped batch (pk + the cells it maps + `__mode` +
    * `__writetime` [+ `__ttl_seconds`]) as the fold rows of `run`: raw,
    * uncompacted — the fold settles a run's rows itself. */
  private[graft] def writeRows(batch: DataFrame, spec: Fold, run: Column): DataFrame = {
    val has = batch.columns.toSet
    val t = spec.table
    val carried = (t.primaryKey ++ t.regularCols ++ Seq(RecordMapper.WritetimeCol,
      RecordMapper.ModeCol, RecordMapper.TtlCol)).toSet
    val set = (t.regularCols.map(has) :+ has(RecordMapper.TtlCol))
      .map(if (_) '1' else '0').mkString
    batch.select(spec.rowsSchema.fields.toIndexedSeq.map { f =>
      (f.name match {
        case RunCol => run
        case SetCol => lit(set)
        case n if carried(n) && has(n) => col(n)
        case _ => lit(null)
      }).cast(f.dataType).as(f.name)
    }: _*)
  }

  /**
   * Fold state rows and write rows per primary key, in run order — the
   * merge-on-read of an append-only store, and the one implementation
   * behind [[mergeInto]], [[mergeIntoCellWise]] and [[mergeCounters]]
   * (their one-batch case is a fold with a single run).
   *
   * The result equals merging the runs into the state ONE BATCH AT A TIME,
   * oldest run first: within a run, a key's rows settle to the one with the
   * highest (writetime, tiebreak) (entry-mode map entries union across the
   * run's upserts, per-entry newest wins); that winner then merges into the
   * key's folded state by the mode's rules below. A later run therefore
   * wins an equal-writetime tie, and a run's partial update lands only the
   * cells it carries — folding a UNION of runs as one batch would instead
   * keep just one row-level winner and lose the other runs' cells.
   *
   * Counters sum, which is order-free, so they fold as one aggregation with
   * map-side partial sums. Every other mode shuffles ONCE on the primary
   * key, however many runs there are, sorts within partitions by (pk, run,
   * writetime, tiebreak), and steps through each key's rows in that order.
   */
  private[graft] def fold(rows: DataFrame, spec: Fold): DataFrame = {
    val pk = spec.table.primaryKey.map(col)
    val ordered = rows.select(spec.rowsSchema.fieldNames.toIndexedSeq.map(col): _*)
    if (spec.counters) {
      val sums = spec.table.counterCols.map(c =>
        sum(coalesce(col(c), lit(0L))).cast(LongType).as(c))
      ordered.groupBy(pk: _*).agg(sums.head, sums.tail: _*)
    } else {
      val folder = new Folder(spec)
      ordered.repartition(pk: _*)
        .sortWithinPartitions((pk ++ Seq(col(RunCol), col(RecordMapper.WritetimeCol),
          orderableTiebreak(ordered))): _*)
        .mapPartitions((it: Iterator[org.apache.spark.sql.Row]) => folder(it))(
          org.apache.spark.sql.Encoders.row(spec.stateSchema))
    }
  }

  /**
   * Merge a routed, mapped batch into existing table state (row-level LWW).
   *
   * Semantics per mode column (`RecordMapper.ModeCol`):
   *  - DELETE: row disappears (reference: sink/src/it/.../DeleteCCMIT.java:39-275);
   *    a delete of an absent row is a no-op and leaves no tombstone
   *  - UPSERT: per-column: a non-null batch value overwrites; a null batch
   *    value leaves the existing cell when `nullToUnset` (default), or
   *    overwrites with null when not (reference:
   *    sink/src/it/.../RawDataEndToEndCCMIT.java:180-218, JsonEndToEndCCMIT.java:256-273)
   *  - a column absent from the batch frame entirely is never touched (unset)
   *
   * Within the batch, a key's rows settle to the highest (writetime,
   * tiebreak) — the tiebreak is the row's value struct, the analogue of
   * Cassandra's cell-value reconciliation for equal timestamps. State rows
   * carry `__writetime`; the batch winner overwrites cells only when its
   * writetime is >= the state's (last writer wins, Cassandra
   * reconciliation); the row's writetime becomes the greater of the two.
   *
   * TTL → row expiry (reference G2): when the batch carries
   * `__ttl_seconds`, a winning row sets `__expires_s` = writetime(s) + ttl
   * (TTL 0 or null = no expiry, Cassandra semantics; negative TTLs were
   * already clamped to 0 by the codec, WriteTimestampAndTtlCCMIT.java:159);
   * without the column the state's expiry is kept.
   *
   * Plan: [[fold]] with one run — one pk shuffle of state and batch rows.
   */
  def mergeInto(
      state: DataFrame,
      batch: DataFrame,
      table: SinkTable,
      nullToUnset: Boolean = true): DataFrame = {
    val spec = Fold(table, nullToUnset, None,
      withExpiry = state.columns.contains(RecordMapper.ExpiresCol) ||
        batch.columns.contains(RecordMapper.TtlCol))
    fold(stateRows(state, spec).union(writeRows(batch, spec, lit(1))), spec)
  }

  /**
   * CELL-level LWW merge: every regular column carries its own writetime
   * (`__wt_<col>` in the state frame), matching Cassandra's per-cell
   * reconciliation exactly (each cell reconciles on its own timestamp —
   * reference semantics behind `USING TIMESTAMP`,
   * WriteTimestampAndTtlCCMIT.java:45-70). [[mergeInto]]'s row-level
   * writetime is correct when every binding writes the same column set; it
   * diverges when bindings write DISJOINT columns out of order: a row
   * updated at t=200 on column a must still accept a t=150 first write to
   * column b — per-cell timestamps accept it, a row-level timestamp
   * wrongly refuses.
   *
   * Semantics per mode:
   *  - UPSERT: cell overwrites iff batch wt >= that CELL's wt (null cell +
   *    nullToUnset leaves the cell); the cell's wt advances with it
   *  - DELETE at wt T is a row tombstone covering cells with wt <= T:
   *    covered cells null out, cells written after T survive; a row with no
   *    surviving cells disappears
   *
   * `entryCols` (MapType regular columns; `mergeMode=entry`, reference
   * KAF-98) reconcile INSIDE the collection instead — one writetime per map
   * entry, persisted in a parallel `__wtmap_<col>: map<K,long>` state
   * column. This is the whole-pipeline form of [[mergeMapEntries]]: the
   * batch is the sink's routed, mapped micro-batch (one map VALUE per
   * record, plus `__mode` / `__writetime`), not a pre-exploded entry stream.
   * A record's map value is read as a SET OF ENTRY ACTIONS (the reference
   * reaches these semantics through `UPDATE t SET mapCol[:key] = :value`
   * provided queries, ProvidedQueryCCMIT.java:478-545): entries upsert
   * independently under per-entry LWW; entries the record does not mention
   * are never touched; a null/empty map contributes no actions. A null entry
   * VALUE is the removal marker when `nullToUnset = false` and a dropped
   * no-op when `nullToUnset = true` — mirroring [[mergeMapEntries]].
   * Within-batch, one surviving ACTION per pk (row grain) but map entries
   * union across every upsert record of the batch (entry grain); a DELETE
   * at wt T also covers map entries with wt <= T; empty maps normalize to
   * null.
   *
   * Output: pk + regular cols + per-cell `__wt_<col>` (per-entry
   * `__wtmap_<col>` for entry columns) + `__writetime` (= greatest live
   * cell or entry wt, for compatibility with row-level readers).
   * TTL/expiry is not modeled here (use [[mergeInto]] for row expiry).
   * Plan: [[fold]] with one run.
   */
  def mergeIntoCellWise(
      state: DataFrame,
      batch: DataFrame,
      table: SinkTable,
      nullToUnset: Boolean = true,
      entryCols: Seq[String] = Nil): DataFrame = {
    val spec = Fold(table, nullToUnset, Some(entryCols), withExpiry = false)
    fold(stateRows(state, spec).union(writeRows(batch, spec, lit(1))), spec)
  }

  /** Merge counter increments into state: state + increment, per key (a
    * null counter counts as 0). [[fold]] with one run. */
  def mergeCounters(state: DataFrame, increments: DataFrame, table: SinkTable): DataFrame = {
    val spec = Fold(table, nullToUnset = true, None, withExpiry = false)
    fold(stateRows(state, spec).union(writeRows(increments, spec, lit(1))), spec)
  }

  /** The per-key step of [[fold]], over one partition's rows sorted by
    * (pk, run, writetime, tiebreak). Comparisons follow SQL: a null
    * writetime makes a comparison unknown, and an unknown condition takes
    * the not-overwrite branch. */
  private final class Folder(spec: Fold) extends Serializable {
    import org.apache.spark.sql.Row
    import scala.collection.mutable

    private val schema = spec.rowsSchema
    private val width = spec.stateSchema.length
    private val pkIdx = spec.table.primaryKey.map(schema.fieldIndex).toArray
    private val wtIdx = schema.fieldIndex(RecordMapper.WritetimeCol)
    private val modeIdx = schema.fieldIndex(RecordMapper.ModeCol)
    private val ttlIdx = schema.fieldIndex(RecordMapper.TtlCol)
    private val setIdx = schema.fieldIndex(SetCol)
    private val runIdx = schema.fieldIndex(RunCol)
    private val cellWise = spec.entryCols.isDefined
    private val expIdx =
      if (spec.withExpiry && !cellWise) schema.fieldIndex(RecordMapper.ExpiresCol) else -1
    private val ttlBit = spec.table.regularCols.size
    /** (position, `__set` bit, is a map-entry column) per regular column;
      * in cell mode the cell's writetime (map) sits at position + 1. */
    private val cells: Array[(Int, Int, Boolean)] =
      spec.table.regularCols.zipWithIndex.map { case (c, bit) =>
        (schema.fieldIndex(c), bit, spec.entryCols.exists(_.contains(c)))
      }.toArray

    private type Entries = mutable.LinkedHashMap[Any, (Any, java.lang.Long)]

    def apply(it: Iterator[Row]): Iterator[Row] = {
      val in = it.buffered
      Iterator.continually(in).takeWhile(_.hasNext).flatMap(foldKey)
    }

    /** Null-safe primary-key equality (SQL's `<=>`). */
    private def samePk(a: Row, b: Row): Boolean = pkIdx.forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
        case (x, y) => java.util.Objects.equals(x, y)
      }
    }
    private def wtOf(r: Row): java.lang.Long = r.get(wtIdx).asInstanceOf[java.lang.Long]
    private def orMin(x: java.lang.Long): Long = if (x == null) Long.MinValue else x

    /** Consume one key's rows; its folded state row, if any survives. */
    private def foldKey(in: BufferedIterator[Row]): Option[Row] = {
      val key = in.head
      var st: Array[Any] = null
      while (in.hasNext && samePk(in.head, key)) {
        val r = in.next()
        if (r.isNullAt(setIdx)) st = Array.tabulate(width)(r.get)
        else {
          val run = mutable.ArrayBuffer(r)
          while (in.hasNext && !in.head.isNullAt(setIdx) &&
              in.head.getInt(runIdx) == r.getInt(runIdx) && samePk(in.head, key))
            run += in.next()
          st = if (cellWise) cellStep(st, run) else rowStep(st, run)
        }
      }
      if (st == null) None
      else if (!cellWise) {
        st(wtIdx) = orMin(st(wtIdx).asInstanceOf[java.lang.Long])
        Some(Row.fromSeq(st.toSeq))
      } else Option(settle(st)).map { s =>
        // the greatest live cell or entry writetime
        val wts = cells.iterator.flatMap { case (i, _, entry) =>
          if (entry) Option(s(i + 1).asInstanceOf[scala.collection.Map[Any, Any]])
            .iterator.flatMap(_.values)
          else Iterator(s(i + 1))
        }.collect { case t: java.lang.Long => t.longValue }
        s(wtIdx) = (wts ++ Iterator(Long.MinValue)).max
        Row.fromSeq(s.toSeq)
      }
    }

    /** Row-level step: the run's winner against the folded row. */
    private def rowStep(st: Array[Any], run: mutable.ArrayBuffer[Row]): Array[Any] = {
      val w = run.last
      val wWt = wtOf(w)
      val sWt = if (st == null) null else st(wtIdx).asInstanceOf[java.lang.Long]
      val inBatch = !w.isNullAt(modeIdx)
      // a row without a writetime is not "in state": any write wins
      val wins: Option[Boolean] =
        if (sWt == null) Some(true) else Option(wWt).map(_.longValue >= sWt.longValue)
      if (inBatch && w.getString(modeIdx) == RecordMapper.ModeDelete &&
          !wins.contains(false)) return null
      val out = if (st == null) new Array[Any](width) else st.clone()
      pkIdx.foreach(i => out(i) = w.get(i))
      val overwrite = inBatch && wins.contains(true)
      val set = w.getString(setIdx)
      if (overwrite) cells.foreach { case (i, bit, _) =>
        if (set.charAt(bit) == '1' && !(spec.nullToUnset && w.isNullAt(i)))
          out(i) = w.get(i)
      }
      out(wtIdx) = math.max(orMin(wWt), orMin(sWt))
      if (expIdx >= 0 && overwrite && set.charAt(ttlBit) == '1') {
        val ttl = w.get(ttlIdx).asInstanceOf[java.lang.Long]
        out(expIdx) =
          if (ttl == null || ttl <= 0 || wWt == null) null
          else java.lang.Long.valueOf((wWt.toDouble / 1000000L).toLong + ttl)
      }
      out
    }

    /** Cell-level step: each cell (and map entry) against its own
      * writetime; null when no cell survives. */
    private def cellStep(st: Array[Any], run: mutable.ArrayBuffer[Row]): Array[Any] = {
      val w = run.last
      val wWt = wtOf(w)
      val inBatch = !w.isNullAt(modeIdx)
      val isDelete = inBatch && w.getString(modeIdx) == RecordMapper.ModeDelete
      val set = w.getString(setIdx)
      def newer(a: java.lang.Long, b: java.lang.Long) =
        a != null && b != null && a.longValue > b.longValue
      val out = if (st == null) new Array[Any](width) else st.clone()
      pkIdx.foreach(i => out(i) = w.get(i))
      cells.foreach { case (i, bit, entry) =>
        val mapped = inBatch && set.charAt(bit) == '1'
        if (!entry) {
          val sWt = out(i + 1).asInstanceOf[java.lang.Long]
          if (isDelete) {
            if (!newer(sWt, wWt)) { out(i) = null; out(i + 1) = null }
          } else if (mapped && (sWt == null || (wWt != null && wWt >= sWt)) &&
              !(spec.nullToUnset && w.isNullAt(i))) {
            out(i) = w.get(i); out(i + 1) = wWt
          }
        } else {
          val sv = entriesOf(out(i), out(i + 1))
          val res =
            if (isDelete) sv.filter { case (_, (_, t)) => newer(t, wWt) }
            else if (!mapped) sv
            else {
              // the run's entry actions: per entry, its newest upsert wins
              val bm: Entries = mutable.LinkedHashMap()
              run.foreach { r =>
                if (r.getString(modeIdx) == RecordMapper.ModeUpsert && !r.isNullAt(i))
                  r.getMap[Any, Any](i).foreach { case (k, v) =>
                    if (!(spec.nullToUnset && v == null)) bm(k) = (v, wtOf(r))
                  }
              }
              val merged: Entries = sv.clone()
              bm.foreach { case (k, b) =>
                val bWins = sv.get(k).forall { s =>
                  b._2 != null && s._2 != null && b._2 >= s._2 }
                if (bWins) merged(k) = b
              }
              // a winning null value (reachable only when !nullToUnset) is
              // the removal marker
              merged.filter(_._2._1 != null)
            }
          putEntries(out, i, res)
        }
      }
      settle(out)
    }

    /** A map column and its writetime map as entries, zipped by key (either
      * one null: no entries). */
    private def entriesOf(values: Any, wts: Any): Entries = {
      val out: Entries = mutable.LinkedHashMap()
      (values, wts) match {
        case (v: scala.collection.Map[Any, Any] @unchecked,
            t: scala.collection.Map[Any, java.lang.Long] @unchecked) =>
          v.foreach { case (k, x) => out(k) = (x, t.getOrElse(k, null)) }
          t.foreach { case (k, x) => if (!v.contains(k)) out(k) = (null, x) }
        case _ =>
      }
      out
    }

    /** Store entries back; no entries is no cell (null, null). */
    private def putEntries(out: Array[Any], i: Int, es: Entries): Unit =
      if (es.isEmpty) { out(i) = null; out(i + 1) = null }
      else {
        out(i) = es.map { case (k, (v, _)) => k -> v }.toMap
        out(i + 1) = es.map { case (k, (_, t)) => k -> t }.toMap
      }

    /** Normalize entry columns; null when no cell is live. */
    private def settle(out: Array[Any]): Array[Any] = {
      cells.foreach { case (i, _, entry) =>
        if (entry) putEntries(out, i, entriesOf(out(i), out(i + 1))) }
      if (cells.isEmpty || cells.exists { case (i, _, _) => out(i) != null }) out
      else null
    }
  }

  /**
   * ENTRY-level merge for a MapType column (reference KAF-98,
   * `changelog/README.md:10`): the reference's
   * `UPDATE t SET mapCol[:key] = :value WHERE pk = :pk` provided-query
   * shape updates ONE map entry per record — a null value is a no-op under
   * `nullToUnset` (ProvidedQueryCCMIT.java:478-511) and REMOVES the entry
   * when `nullToUnset = false` (ProvidedQueryCCMIT.java:514-545, where
   * removing the last entry makes the row disappear). [[mergeIntoCellWise]]
   * reconciles at column granularity; this operator reconciles INSIDE the
   * collection, one writetime per map entry.
   *
   * Frames:
   *  - `state`: pk ++ (`mapCol`: map<K,V>, `__wtmap_<mapCol>`: map<K,long>).
   *    Missing columns (fresh table) are treated as empty maps.
   *  - `batch`: pk ++ (`keyCol`, `valueCol`, `__writetime`) — one entry
   *    action per record.
   *
   * Semantics per (pk, map key): batch wins iff its writetime >= the
   * ENTRY's writetime (insert when the entry is absent); a winning null
   * value removes the entry when `nullToUnset = false` and is dropped
   * BEFORE compaction when `nullToUnset = true` (an unset never shadows an
   * earlier live write in the same batch). Rows whose map ends empty
   * disappear — the operator models the reference test's table shape where
   * the map is the only regular column (a row is visible only through live
   * cells).
   *
   * Plan shape: per-entry LWW compaction partial-aggregates on
   * (pk, key) map-side, folds to one map per pk, then ONE full-outer pk
   * join against state; the entry reconciliation runs inside
   * `map_zip_with` — no explode of state, no per-entry join. `orderCols`
   * break within-batch ties (pass writetime + a unique offset).
   */
  def mergeMapEntries(
      state: DataFrame,
      batch: DataFrame,
      pk: Seq[String],
      mapCol: String,
      keyCol: String,
      valueCol: String,
      orderCols: Seq[Column],
      nullToUnset: Boolean = true): DataFrame = {

    val wt = RecordMapper.WritetimeCol
    val wtMapCol = s"__wtmap_$mapCol"
    val keyT = batch.schema(keyCol).dataType
    val valT = batch.schema(valueCol).dataType
    val entryT = StructType(Seq(
      StructField("v", valT), StructField("t", LongType)))
    def emptyEntryMap: Column = map_from_arrays(
      array().cast(ArrayType(keyT)), array().cast(ArrayType(entryT)))

    // a null map KEY is unrepresentable in the merged map (map_from_entries
    // throws on it, aborting the whole micro-batch) — route the record out
    // of the merge instead, matching the sink's per-record failure policy
    val keyed = batch.filter(col(keyCol).isNotNull)
    // nullToUnset: a null action is a no-op, and must not shadow an older
    // live write under the within-batch compaction — drop it up front
    val pre = if (nullToUnset) keyed.filter(col(valueCol).isNotNull) else keyed
    val compact = pre
      .groupBy((pk :+ keyCol).map(col): _*)
      .agg(max_by(struct(col(valueCol).as("v"), col(wt).as("t")),
        struct(orderCols: _*)).as("__e"))
    val bm = compact
      .groupBy(pk.map(col): _*)
      .agg(map_from_entries(collect_list(
        struct(col(keyCol), col("__e")))).as("__bm"))

    val sMap = if (state.columns.contains(mapCol)) col(s"s.$mapCol")
      else lit(null).cast(MapType(keyT, valT))
    val sWtMap = if (state.columns.contains(wtMapCol)) col(s"s.$wtMapCol")
      else lit(null).cast(MapType(keyT, LongType))

    val s = state.alias("s")
    val b = bm.alias("b")
    val joinCond = pk.map(k => col(s"s.$k") <=> col(s"b.$k")).reduce(_ && _)
    val pkCols = pk.map(k => coalesce(col(s"b.$k"), col(s"s.$k")).as(k))

    val smStruct = coalesce(
      map_zip_with(sMap, sWtMap, (_, v, t) => struct(v.as("v"), t.as("t"))),
      emptyEntryMap)
    val bmStruct = coalesce(col("b.__bm"), emptyEntryMap)
    val merged = map_zip_with(smStruct, bmStruct, (_, sv, bv) => {
      val bWins = bv.isNotNull &&
        (sv.isNull || bv.getField("t") >= sv.getField("t"))
      when(bWins, bv).otherwise(sv)
    })
    // a winning null value (reachable only when !nullToUnset) is the
    // removal marker; filtering it out IS the entry deletion
    val kept = map_filter(merged, (_, e) => e.getField("v").isNotNull)

    s.join(b, joinCond, "full_outer")
      .select((pkCols :+ kept.as("__kept")): _*)
      .filter(size(map_keys(col("__kept"))) > 0)
      .select((pk.map(col) ++ Seq(
        transform_values(col("__kept"), (_, e) => e.getField("v")).as(mapCol),
        transform_values(col("__kept"), (_, e) => e.getField("t")).as(wtMapCol),
        array_max(map_values(transform_values(col("__kept"),
          (_, e) => e.getField("t")))).as(wt))): _*)
  }

  /**
   * Partition-key batch grouping stats (reference A2): the reference groups
   * statements into CQL BATCHes per (topic, table, partition key), capped at
   * `maxNumberOfRecordsInBatch` = 32 (reference:
   * sink/src/it/.../SimpleEndToEndSimulacronIT.java:776-876;
   * dist/conf/...properties.sample:38-39). Spark's sink writer gets this
   * grouping from the pk shuffle; this helper exposes the batch-size
   * accounting (how many driver round-trips a batch costs).
   */
  def batchGroups(batch: DataFrame, partitionKey: Seq[String], cap: Int = 32): DataFrame = {
    batch
      .groupBy(partitionKey.map(col): _*)
      .agg(count(lit(1)).as("rows_in_partition"))
      .withColumn("num_batches",
        ceil(col("rows_in_partition").cast(DoubleType) / lit(cap)).cast(LongType))
  }

  /** Changelog op names accepted by [[retractAggregate]]. */
  val RetractOps: Set[String] =
    Set("insert", "delete", "update_pre", "update_post")

  /**
   * Retract-stream aggregation (Flink-style changelog semantics in
   * batch): net COUNT/SUM per key over a CDC changelog where each row is
   * an `insert` (+1), `delete` (−1), or an update split into
   * `update_pre` (−1, old value) / `update_post` (+1, new value). The
   * signed fold makes corrections COMMUTATIVE — a late delete or a
   * re-stated update lands as two more rows, no read-modify-write, so
   * the aggregate maintains incrementally under exactly the partial-agg
   * shuffle a plain groupBy uses.
   *
   * Output per key: net_count, net_sum, and `consistent` (net_count ≥ 0
   * — a negative count means deletes without matching inserts reached
   * this slice, the changelog-integrity signal a pipeline alerts on).
   * Unknown op strings fail analysis-loud rather than silently skewing
   * the fold.
   */
  def retractAggregate(changelog: DataFrame, keyCol: String,
      valueCol: String, opCol: String): DataFrame = {
    val w = when(col(opCol).isin("insert", "update_post"), 1L)
      .when(col(opCol).isin("delete", "update_pre"), -1L)
      .otherwise(raise_error(concat(
        lit(s"retractAggregate: unknown op '"), col(opCol),
        lit(s"' — expected one of ${RetractOps.mkString(", ")}"))))
    changelog
      .select(col(keyCol), col(valueCol).as("__v"), w.as("__w"))
      .groupBy(col(keyCol))
      .agg(sum(col("__w")).as("net_count"),
        sum(col("__w") * col("__v")).as("net_sum"))
      .withColumn("consistent", col("net_count") >= 0L)
  }
}

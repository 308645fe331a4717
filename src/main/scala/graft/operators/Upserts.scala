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
   * Skew-resistant LWW compaction: hot keys (one device spamming a
   * partition key) make the single-shuffle compaction skew-bound; salting
   * splits each key into `saltBuckets` sub-groups compacted in parallel,
   * then a second (tiny) compaction merges the per-salt winners. Identical
   * result to [[lwwCompact]]; strictly better wall-clock under heavy skew.
   * The salt is derived from the order columns so it costs no extra state.
   */
  def saltedLwwCompact(batch: DataFrame, pk: Seq[String], orderCols: Seq[Column],
      saltBuckets: Int = 16): DataFrame = {
    val salted = batch.withColumn("__salt",
      pmod(hash(orderCols: _*), lit(saltBuckets)))
    val stage1 = lwwCompact(salted, pk :+ "__salt", orderCols)
    lwwCompact(stage1.drop("__salt"), pk, orderCols)
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

  /** Within-batch deterministic tiebreaker for equal-writetime rows: the
    * row's full value struct, column order fixed by name sort — minus any
    * column whose type Spark cannot order (MapType, e.g. an entry-mode map
    * column: including one fails `max_by` analysis). */
  private def orderableTiebreak(batch: DataFrame): Column = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    struct(batch.columns.sorted
      .filter(c => RowOrdering.isOrderable(batch.schema(c).dataType))
      .map(col).toIndexedSeq: _*)
  }

  /**
   * Merge a routed, compacted batch into existing table state.
   *
   * Semantics per mode column (`RecordMapper.ModeCol`):
   *  - DELETE: row disappears (reference: sink/src/it/.../DeleteCCMIT.java:39-275)
   *  - UPSERT: per-column: a non-null batch value overwrites; a null batch
   *    value leaves the existing cell when `nullToUnset` (default), or
   *    overwrites with null when not (reference:
   *    sink/src/it/.../RawDataEndToEndCCMIT.java:180-218, JsonEndToEndCCMIT.java:256-273)
   *  - a column absent from the batch frame entirely is never touched (unset)
   *
   * Cell-level LWW: state rows carry `__writetime`; a batch row only
   * overwrites cells when its writetime is >= the state's (last writer wins,
   * matching Cassandra reconciliation).
   *
   * Plan shape: one full outer join on pk (both sides hash-partitioned on the
   * same key) — at 100 TB this is the canonical merge-on-read compaction
   * join; with bucketed state it degrades to a co-located join with no state
   * shuffle.
   */
  def mergeInto(
      state: DataFrame,
      batch: DataFrame,
      table: SinkTable,
      nullToUnset: Boolean = true): DataFrame = {

    val pk = table.primaryKey
    val wt = RecordMapper.WritetimeCol
    val mode = RecordMapper.ModeCol

    val batchCols = batch.columns.toSet
    val mappedRegular = table.regularCols.filter(batchCols.contains)

    // one surviving action per pk in the batch. Ties on __writetime break on
    // the row's full value struct (column order fixed by name sort) — the
    // analogue of Cassandra's cell-value reconciliation for equal timestamps;
    // without it two same-pk-same-writetime rows would resolve by arbitrary
    // max_by tie, i.e. partitioning-dependent output.
    val tiebreak = orderableTiebreak(batch)
    val compacted = lwwCompact(batch, pk, Seq(col(wt), tiebreak))

    val s = state.alias("s")
    val b = compacted.alias("b")
    val joinCond = pk.map(k => col(s"s.$k") <=> col(s"b.$k")).reduce(_ && _)
    val joined = s.join(b, joinCond, "full_outer")

    val inBatch = col(s"b.$mode").isNotNull
    val inState = col(s"s.$wt").isNotNull
    val isDelete = inBatch && col(s"b.$mode") === RecordMapper.ModeDelete
    val batchWins = !inState || (col(s"b.$wt") >= col(s"s.$wt"))

    val pkCols = pk.map(k => coalesce(col(s"b.$k"), col(s"s.$k")).as(k))
    val valueCols = table.regularCols.map { c =>
      if (!mappedRegular.contains(c)) {
        // column never mapped: always the state cell
        (if (state.columns.contains(c)) col(s"s.$c") else lit(null)).as(c)
      } else {
        val sCell = if (state.columns.contains(c)) col(s"s.$c") else lit(null)
        val bCell = col(s"b.$c")
        val overwrite =
          if (nullToUnset) inBatch && batchWins && bCell.isNotNull
          else inBatch && batchWins
        when(overwrite, bCell).otherwise(sCell).as(c)
      }
    }
    val wtCol = greatest(
      coalesce(col(s"b.$wt"), lit(Long.MinValue)),
      coalesce(col(s"s.$wt"), lit(Long.MinValue))).as(wt)

    // TTL → row expiry (reference G2): a winning batch row with a TTL sets
    // expires = writetime(s) + ttl; without TTL it clears any expiry.
    val ttlC = RecordMapper.TtlCol
    val expC = RecordMapper.ExpiresCol
    val expCols: Seq[Column] =
      if (batchCols.contains(ttlC)) {
        val sExp = if (state.columns.contains(expC)) col(s"s.$expC")
          else lit(null).cast(LongType)
        // TTL 0 = no expiry (Cassandra semantics; negative TTLs were already
        // clamped to 0 by the codec, reference: WriteTimestampAndTtlCCMIT.java:159)
        val bExp = when(col(s"b.$ttlC").isNotNull && col(s"b.$ttlC") > 0,
          (col(s"b.$wt") / lit(1000000L)).cast(LongType) + col(s"b.$ttlC"))
        Seq(when(inBatch && batchWins, bExp).otherwise(sExp).as(expC))
      } else if (state.columns.contains(expC)) Seq(col(s"s.$expC").as(expC))
      else Seq.empty

    joined
      .filter(!(isDelete && batchWins)) // tombstone removes the row
      .filter(inState || !isDelete)     // delete of an absent row is a no-op
      .select((pkCols ++ valueCols ++ (wtCol +: expCols)): _*)
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
   * Within-batch compaction keeps one surviving ACTION per pk (row grain)
   * but map entries union across every upsert record of the batch (entry
   * grain); a DELETE at wt T also covers map entries with wt <= T; empty
   * maps normalize to null.
   *
   * Output: pk + regular cols + per-cell `__wt_<col>` (per-entry
   * `__wtmap_<col>` for entry columns) + `__writetime` (= greatest live
   * cell or entry wt, for compatibility with row-level readers).
   * TTL/expiry is not modeled here (use [[mergeInto]] for row expiry).
   * Same plan shape as [[mergeInto]]: one full-outer pk join, partial-agg
   * compaction before it — cell wts add one long column per regular column.
   * Each entry column adds one explode + per-entry partial-agg compaction +
   * refold on the BATCH only, joined back on pk (state maps are never
   * exploded — the entry reconciliation runs inside `map_zip_with`), so the
   * extra work is O(batch entries), not O(state).
   */
  def mergeIntoCellWise(
      state: DataFrame,
      batch: DataFrame,
      table: SinkTable,
      nullToUnset: Boolean = true,
      entryCols: Seq[String] = Nil): DataFrame = {

    val pk = table.primaryKey
    val wt = RecordMapper.WritetimeCol
    val mode = RecordMapper.ModeCol
    def cellWt(c: String) = s"__wt_$c"
    def wtMapCol(c: String) = s"__wtmap_$c"

    val batchCols = batch.columns.toSet
    val scalarCols = table.regularCols.filterNot(entryCols.contains)
    val mappedScalar = scalarCols.filter(batchCols.contains)
    val mappedMap = entryCols.filter(batchCols.contains)

    val tiebreak = orderableTiebreak(batch)
    val rowWinner = lwwCompact(batch, pk, Seq(col(wt), tiebreak))

    // per entry column: explode upsert records' maps into entry actions,
    // per-entry LWW compaction (partial-agg, map-side), refold to ONE
    // struct-map per pk. Only the batch explodes — never state.
    val combined = mappedMap.foldLeft(rowWinner) { (acc, m) =>
      val ex = batch
        .filter(col(mode) === RecordMapper.ModeUpsert && col(m).isNotNull)
        .select((pk.map(col) ++ Seq(col(wt), tiebreak.as("__tb"),
          explode(col(m)).as(Seq("__k", "__v")))): _*)
      // nullToUnset: a null entry value is a no-op and must not shadow an
      // older live write under the within-batch compaction
      val pre = if (nullToUnset) ex.filter(col("__v").isNotNull) else ex
      val bm = pre
        .groupBy((pk :+ "__k").map(col): _*)
        .agg(max_by(struct(col("__v").as("v"), col(wt).as("t")),
          struct(col(wt), col("__tb"))).as("__e"))
        .groupBy(pk.map(col): _*)
        .agg(map_from_entries(collect_list(
          struct(col("__k"), col("__e")))).as(s"__bm_$m"))
      acc.join(bm, pk, "left")
    }

    val s = state.alias("s")
    val b = combined.alias("b")
    val joinCond = pk.map(k => col(s"s.$k") <=> col(s"b.$k")).reduce(_ && _)
    val joined = s.join(b, joinCond, "full_outer")

    val inBatch = col(s"b.$mode").isNotNull
    val isDelete = inBatch && col(s"b.$mode") === RecordMapper.ModeDelete

    val pkCols = pk.map(k => coalesce(col(s"b.$k"), col(s"s.$k")).as(k))
    val scalarOut: Seq[Column] = scalarCols.flatMap { c =>
      val sCell = if (state.columns.contains(c)) col(s"s.$c")
        else lit(null).cast(table.schema(c).dataType)
      val sWt = if (state.columns.contains(cellWt(c))) col(s"s.${cellWt(c)}")
        else lit(null).cast(LongType)
      val survivesDelete = sWt.isNotNull && sWt > col(s"b.$wt")
      val deleted = when(survivesDelete, sCell).otherwise(lit(null))
      val deletedWt = when(survivesDelete, sWt).otherwise(lit(null).cast(LongType))
      if (!mappedScalar.contains(c))
        Seq(when(isDelete, deleted).otherwise(sCell).as(c),
          when(isDelete, deletedWt).otherwise(sWt).as(cellWt(c)))
      else {
        val bCell = col(s"b.$c")
        val cellWins = inBatch && !isDelete &&
          (sWt.isNull || col(s"b.$wt") >= sWt)
        val overwrite =
          if (nullToUnset) cellWins && bCell.isNotNull else cellWins
        Seq(
          when(isDelete, deleted)
            .otherwise(when(overwrite, bCell).otherwise(sCell)).as(c),
          when(isDelete, deletedWt)
            .otherwise(when(overwrite, col(s"b.$wt")).otherwise(sWt))
            .as(cellWt(c)))
      }
    }

    // entry columns: entry reconciliation inside map_zip_with over the
    // (value, writetime) struct-map view of state
    val entryOut: Seq[Column] = entryCols.flatMap { m =>
      val mt = table.schema(m).dataType.asInstanceOf[MapType]
      val entryT = StructType(Seq(
        StructField("v", mt.valueType), StructField("t", LongType)))
      def emptyEntryMap: Column = map_from_arrays(
        array().cast(ArrayType(mt.keyType)), array().cast(ArrayType(entryT)))
      val sMap = if (state.columns.contains(m)) col(s"s.$m")
        else lit(null).cast(MapType(mt.keyType, mt.valueType))
      val sWtm = if (state.columns.contains(wtMapCol(m)))
        col(s"s.${wtMapCol(m)}")
      else lit(null).cast(MapType(mt.keyType, LongType))
      val sStruct = coalesce(
        map_zip_with(sMap, sWtm, (_, v, t) => struct(v.as("v"), t.as("t"))),
        emptyEntryMap)
      // a row tombstone at wt T covers entries with wt <= T
      val covered = map_filter(sStruct, (_, e) => e.getField("t") > col(s"b.$wt"))
      val out =
        if (!mappedMap.contains(m)) when(isDelete, covered).otherwise(sStruct)
        else {
          val bmStruct = coalesce(col(s"b.__bm_$m"), emptyEntryMap)
          val merged = map_zip_with(sStruct, bmStruct, (_, sv, bv) => {
            val bWins = bv.isNotNull &&
              (sv.isNull || bv.getField("t") >= sv.getField("t"))
            when(bWins, bv).otherwise(sv)
          })
          // a winning null value (reachable only when !nullToUnset) is the
          // removal marker; filtering it out IS the entry deletion
          val upserted = map_filter(merged, (_, e) => e.getField("v").isNotNull)
          when(isDelete, covered)
            .otherwise(when(inBatch, upserted).otherwise(sStruct))
        }
      // an empty map is no live cells: normalize to null so row liveness
      // (and readers) see one representation
      val outOrNull = when(size(map_keys(out)) > 0, out)
      Seq(
        transform_values(outOrNull, (_, e) => e.getField("v")).as(m),
        transform_values(outOrNull, (_, e) => e.getField("t")).as(wtMapCol(m)))
    }

    val liveWts: Seq[Column] =
      scalarCols.map(c => col(cellWt(c))) ++
        entryCols.map(m => array_max(map_values(col(wtMapCol(m)))))
    val anyCellLive = table.regularCols.map(c => col(c).isNotNull)
      .reduceOption(_ || _).getOrElse(lit(true))

    joined
      .select((pkCols ++ scalarOut ++ entryOut): _*)
      // a row whose cells are all gone (full tombstone coverage, or a delete
      // of an absent row) disappears
      .filter(anyCellLive)
      .withColumn(wt, greatest(
        (liveWts :+ lit(Long.MinValue).cast(LongType)): _*))
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

  /** Merge counter increments into state: state + increment, per key. */
  def mergeCounters(state: DataFrame, increments: DataFrame, table: SinkTable): DataFrame = {
    val pk = table.primaryKey
    val s = state.alias("s")
    val b = increments.alias("b")
    val joinCond = pk.map(k => col(s"s.$k") <=> col(s"b.$k")).reduce(_ && _)
    val pkCols = pk.map(k => coalesce(col(s"b.$k"), col(s"s.$k")).as(k))
    val counters = table.counterCols.map { c =>
      (coalesce(col(s"s.$c"), lit(0L)) + coalesce(col(s"b.$c"), lit(0L))).as(c)
    }
    s.join(b, joinCond, "full_outer").select((pkCols ++ counters): _*)
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

package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{RecordMapper, Upserts}

/** An independent model of the one-batch merges that [[Upserts]] computes
  * with its per-key fold: the same semantics written as one full-outer pk
  * join of state and the batch's LWW winners, column by column. The
  * differential spec chains these one batch at a time and compares the
  * append-only store against them, so an error in the fold's step rules
  * shows even though the store and `Upserts.mergeInto` share the fold. */
object JoinMerges {

  /** Ties on writetime break on the row's value struct, columns sorted by
    * name, minus the types Spark cannot order (map columns). */
  private def tiebreak(batch: DataFrame): Column = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    struct(batch.columns.sorted
      .filter(c => RowOrdering.isOrderable(batch.schema(c).dataType))
      .map(col).toIndexedSeq: _*)
  }

  /** Row-level LWW with null-to-unset, deletes and TTL → `__expires_s`. */
  def mergeInto(state: DataFrame, batch: DataFrame, table: SinkTable,
      nullToUnset: Boolean): DataFrame = {
    val pk = table.primaryKey
    val wt = RecordMapper.WritetimeCol
    val mode = RecordMapper.ModeCol
    val batchCols = batch.columns.toSet
    val mappedRegular = table.regularCols.filter(batchCols.contains)
    val compacted = Upserts.lwwCompact(batch, pk, Seq(col(wt), tiebreak(batch)))

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
      val sCell = if (state.columns.contains(c)) col(s"s.$c") else lit(null)
      if (!mappedRegular.contains(c)) sCell.as(c)
      else {
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
    val ttlC = RecordMapper.TtlCol
    val expC = RecordMapper.ExpiresCol
    val expCols: Seq[Column] =
      if (batchCols.contains(ttlC)) {
        val sExp = if (state.columns.contains(expC)) col(s"s.$expC")
          else lit(null).cast(LongType)
        val bExp = when(col(s"b.$ttlC").isNotNull && col(s"b.$ttlC") > 0,
          (col(s"b.$wt") / lit(1000000L)).cast(LongType) + col(s"b.$ttlC"))
        Seq(when(inBatch && batchWins, bExp).otherwise(sExp).as(expC))
      } else if (state.columns.contains(expC)) Seq(col(s"s.$expC").as(expC))
      else Seq.empty

    joined
      .filter(!(isDelete && batchWins))
      .filter(inState || !isDelete)
      .select((pkCols ++ valueCols ++ (wtCol +: expCols)): _*)
  }

  /** Cell-level LWW (`__wt_<col>` per cell); `entryCols` reconcile per map
    * entry (`__wtmap_<col>`); a delete at T covers cells and entries with
    * writetime ≤ T. */
  def mergeIntoCellWise(state: DataFrame, batch: DataFrame, table: SinkTable,
      nullToUnset: Boolean, entryCols: Seq[String] = Nil): DataFrame = {
    val pk = table.primaryKey
    val wt = RecordMapper.WritetimeCol
    val mode = RecordMapper.ModeCol
    def cellWt(c: String) = s"__wt_$c"
    def wtMapCol(c: String) = s"__wtmap_$c"
    val batchCols = batch.columns.toSet
    val scalarCols = table.regularCols.filterNot(entryCols.contains)
    val mappedScalar = scalarCols.filter(batchCols.contains)
    val mappedMap = entryCols.filter(batchCols.contains)
    val tb = tiebreak(batch)
    val rowWinner = Upserts.lwwCompact(batch, pk, Seq(col(wt), tb))

    // per entry column: the batch's upsert entries, newest per (pk, key),
    // folded to one map per pk
    val combined = mappedMap.foldLeft(rowWinner) { (acc, m) =>
      val ex = batch
        .filter(col(mode) === RecordMapper.ModeUpsert && col(m).isNotNull)
        .select((pk.map(col) ++ Seq(col(wt), tb.as("__tb"),
          explode(col(m)).as(Seq("__k", "__v")))): _*)
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
        val cellWins = inBatch && !isDelete && (sWt.isNull || col(s"b.$wt") >= sWt)
        val overwrite = if (nullToUnset) cellWins && bCell.isNotNull else cellWins
        Seq(
          when(isDelete, deleted)
            .otherwise(when(overwrite, bCell).otherwise(sCell)).as(c),
          when(isDelete, deletedWt)
            .otherwise(when(overwrite, col(s"b.$wt")).otherwise(sWt)).as(cellWt(c)))
      }
    }

    val entryOut: Seq[Column] = entryCols.flatMap { m =>
      val mt = table.schema(m).dataType.asInstanceOf[MapType]
      val entryT = StructType(Seq(
        StructField("v", mt.valueType), StructField("t", LongType)))
      def emptyEntryMap: Column = map_from_arrays(
        array().cast(ArrayType(mt.keyType)), array().cast(ArrayType(entryT)))
      val sMap = if (state.columns.contains(m)) col(s"s.$m")
        else lit(null).cast(MapType(mt.keyType, mt.valueType))
      val sWtm = if (state.columns.contains(wtMapCol(m))) col(s"s.${wtMapCol(m)}")
        else lit(null).cast(MapType(mt.keyType, LongType))
      val sStruct = coalesce(
        map_zip_with(sMap, sWtm, (_, v, t) => struct(v.as("v"), t.as("t"))),
        emptyEntryMap)
      val covered = map_filter(sStruct, (_, e) => e.getField("t") > col(s"b.$wt"))
      val out =
        if (!mappedMap.contains(m)) when(isDelete, covered).otherwise(sStruct)
        else {
          val bmStruct = coalesce(col(s"b.__bm_$m"), emptyEntryMap)
          val merged = map_zip_with(sStruct, bmStruct, (_, sv, bv) =>
            when(bv.isNotNull && (sv.isNull || bv.getField("t") >= sv.getField("t")), bv)
              .otherwise(sv))
          // a winning null value is the removal marker
          val upserted = map_filter(merged, (_, e) => e.getField("v").isNotNull)
          when(isDelete, covered).otherwise(when(inBatch, upserted).otherwise(sStruct))
        }
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
      .filter(anyCellLive)
      .withColumn(wt, greatest((liveWts :+ lit(Long.MinValue).cast(LongType)): _*))
  }

  /** Counters: state + increment, per key. */
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
}

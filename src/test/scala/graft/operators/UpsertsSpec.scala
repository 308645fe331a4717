package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sink.SinkTable

/** Merge algebra: LWW, null-to-unset, deletes, counters
  * (reference: JsonEndToEndCCMIT.java:256-300, RawDataEndToEndCCMIT.java:180-218,
  * DeleteCCMIT.java:39-275). */
class UpsertsSpec extends SparkSuite {

  private lazy val s = sqlc
  import RecordMapper._

  private val table = SinkTable("ks", "t", StructType(Seq(
    StructField("pk", LongType), StructField("a", LongType),
    StructField("b", StringType))), Seq("pk"))

  private def df(schema: StructType, rows: Row*) = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach(l.add)
    s.createDataFrame(l, schema)
  }

  private val stateSchema = StructType(Seq(
    StructField("pk", LongType), StructField("a", LongType),
    StructField("b", StringType), StructField(WritetimeCol, LongType)))
  private val batchSchema = StructType(Seq(
    StructField("pk", LongType), StructField("a", LongType),
    StructField("b", StringType), StructField(WritetimeCol, LongType),
    StructField(ModeCol, StringType)))

  test("upsert overwrites non-null cells, null leaves cell when nullToUnset (F2)") {
    val state = df(stateSchema, Row(1L, 10L, "old", 100L))
    val batch = df(batchSchema, Row(1L, 20L, null, 200L, ModeUpsert))
    val out = Upserts.mergeInto(state, batch, table, nullToUnset = true).collect()
    assert(out.toSeq == Seq(Row(1L, 20L, "old", 200L)))
  }

  test("nullToUnset=false overwrites with null (JsonEndToEndCCMIT.java:256-273)") {
    val state = df(stateSchema, Row(1L, 10L, "old", 100L))
    val batch = df(batchSchema, Row(1L, 20L, null, 200L, ModeUpsert))
    val out = Upserts.mergeInto(state, batch, table, nullToUnset = false).collect()
    assert(out.toSeq == Seq(Row(1L, 20L, null, 200L)))
  }

  test("stale write loses (LWW by writetime)") {
    val state = df(stateSchema, Row(1L, 10L, "new", 300L))
    val batch = df(batchSchema, Row(1L, 99L, "stale", 200L, ModeUpsert))
    val out = Upserts.mergeInto(state, batch, table).collect()
    assert(out.toSeq == Seq(Row(1L, 10L, "new", 300L)))
  }

  test("DELETE removes the row (DeleteCCMIT)") {
    val state = df(stateSchema, Row(1L, 10L, "x", 100L), Row(2L, 20L, "y", 100L))
    val batch = df(batchSchema, Row(1L, null, null, 200L, ModeDelete))
    val out = Upserts.mergeInto(state, batch, table).collect()
    assert(out.toSeq == Seq(Row(2L, 20L, "y", 100L)))
  }

  test("delete of absent row is a no-op; insert of new row lands") {
    val state = df(stateSchema, Row(1L, 1L, "a", 50L))
    val batch = df(batchSchema,
      Row(9L, null, null, 200L, ModeDelete),
      Row(3L, 30L, "c", 200L, ModeUpsert))
    val out = Upserts.mergeInto(state, batch, table).collect().sortBy(_.getLong(0))
    assert(out.toSeq == Seq(Row(1L, 1L, "a", 50L), Row(3L, 30L, "c", 200L)))
  }

  test("within-batch replay compacts to the latest write (lwwCompact)") {
    val batch = df(batchSchema,
      Row(1L, 1L, "first", 100L, ModeUpsert),
      Row(1L, 2L, "second", 200L, ModeUpsert),
      Row(1L, 2L, "second", 200L, ModeUpsert)) // replay duplicate
    val out = Upserts.lwwCompact(batch, Seq("pk"), Seq(col(WritetimeCol))).collect()
    assert(out.length == 1 && out.head.getString(2) == "second")
  }

  test("same-pk same-writetime batch rows resolve deterministically (cell-value tiebreak)") {
    val state = df(stateSchema)
    val rows = Seq(
      Row(1L, 20L, "y", 100L, ModeUpsert),
      Row(1L, 30L, "x", 100L, ModeUpsert))
    // winner must be the same under ANY partitioning / row order: the value
    // struct breaks the timestamp tie (Cassandra cell-value reconciliation),
    // so a=30 wins (columns compare in name order: a before b)
    val expected = Seq(Row(1L, 30L, "x", 100L))
    Seq(rows, rows.reverse).foreach { rs =>
      Seq(1, 4).foreach { parts =>
        val batch = df(batchSchema, rs: _*).repartition(parts)
        val out = Upserts.mergeInto(state, batch, table).collect()
        assert(out.toSeq == expected, s"order=$rs parts=$parts")
      }
    }
  }

  test("counter increments accumulate across deliveries (JsonEndToEndCCMIT.java:276-300)") {
    val ct = SinkTable("ks", "ctr", StructType(Seq(
      StructField("c1", LongType), StructField("c3", LongType))),
      Seq("c1"), counterCols = Seq("c3"))
    val ctrSchema = StructType(Seq(
      StructField("c1", LongType), StructField("c3", LongType)))
    // same record delivered twice: c3=3 twice → 6
    val batch = df(ctrSchema, Row(1L, 3L), Row(1L, 3L))
    val inc = Upserts.counterCombine(batch, ct)
    val state0 = df(ctrSchema)
    val s1 = Upserts.mergeCounters(state0, inc, ct)
    assert(s1.collect().toSeq == Seq(Row(1L, 6L)))
    // third delivery on existing state → 9
    val s2 = Upserts.mergeCounters(s1,
      Upserts.counterCombine(df(ctrSchema, Row(1L, 3L)), ct), ct)
    assert(s2.collect().toSeq == Seq(Row(1L, 9L)))
  }

  test("TTL'd winning rows carry an expiry; TTL-less writes clear it (G2)") {
    val batchTtlSchema = StructType(batchSchema.fields :+
      StructField(TtlCol, LongType))
    val state = df(stateSchema, Row(1L, 10L, "x", 1000000000L))
    val batch = df(batchTtlSchema,
      Row(1L, 20L, "y", 2000000000L, ModeUpsert, 60L),   // ttl 60s
      Row(2L, 30L, "z", 2000000000L, ModeUpsert, null))  // no ttl
    val out = Upserts.mergeInto(state, batch, table).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(4)) null else r.getLong(4))).sortBy(_._1)
    // writetime 2000000000 µs = 2000 s → expires 2060
    assert(out.toSeq == Seq((1L, 2060L), (2L, null)))
  }

  // ---- cell-level writetime reconciliation (mergeIntoCellWise) ----

  private val cellStateSchema = StructType(Seq(
    StructField("pk", LongType), StructField("a", LongType),
    StructField("b", StringType), StructField("__wt_a", LongType),
    StructField("__wt_b", LongType)))

  test("cell-wise: disjoint-column writes with interleaved timestamps both land") {
    // state: column a written at t=200 (b never written). A later batch
    // writes ONLY column b at t=150. Row-level LWW would refuse (150 < 200);
    // per-cell reconciliation accepts it — b's own cell timestamp is unset.
    val state = df(cellStateSchema, Row(1L, 10L, null, 200L, null))
    val batchB = df(
      StructType(Seq(StructField("pk", LongType), StructField("b", StringType),
        StructField(WritetimeCol, LongType), StructField(ModeCol, StringType))),
      Row(1L, "late-b", 150L, ModeUpsert))
    val out = Upserts.mergeIntoCellWise(state, batchB, table).collect()
    assert(out.toSeq ==
      Seq(Row(1L, 10L, 200L, "late-b", 150L, 200L))) // a,b live; __writetime=max
  }

  test("cell-wise: stale write to a newer cell loses, per cell not per row") {
    val state = df(cellStateSchema, Row(1L, 10L, "new", 200L, 300L))
    // batch writes both cells at t=250: overwrites a (250>=200), loses b (250<300)
    val batch = df(batchSchema, Row(1L, 77L, "stale", 250L, ModeUpsert))
    val out = Upserts.mergeIntoCellWise(state, batch, table).collect()
    assert(out.toSeq == Seq(Row(1L, 77L, 250L, "new", 300L, 300L)))
  }

  test("cell-wise: delete at T is a tombstone covering cells with wt <= T") {
    val state = df(cellStateSchema,
      Row(1L, 10L, "keep", 100L, 300L), // a@100 covered, b@300 survives
      Row(2L, 20L, "gone", 100L, 150L)) // full coverage → row disappears
    val batch = df(batchSchema,
      Row(1L, null, null, 200L, ModeDelete),
      Row(2L, null, null, 200L, ModeDelete),
      Row(9L, null, null, 200L, ModeDelete)) // absent row → no-op
    val out = Upserts.mergeIntoCellWise(state, batch, table).collect()
    assert(out.toSeq == Seq(Row(1L, null, null, "keep", 300L, 300L)))
  }

  test("cell-wise: null + nullToUnset leaves the cell AND its timestamp") {
    val state = df(cellStateSchema, Row(1L, 10L, "old", 100L, 100L))
    val batch = df(batchSchema, Row(1L, 20L, null, 200L, ModeUpsert))
    val out = Upserts.mergeIntoCellWise(state, batch, table).collect()
    assert(out.toSeq == Seq(Row(1L, 20L, 200L, "old", 100L, 200L)))
  }

  test("cell-wise: chaining from empty state builds typed cell columns") {
    val empty = df(StructType(Seq(StructField("pk", LongType))))
    val batchA = df(
      StructType(Seq(StructField("pk", LongType), StructField("a", LongType),
        StructField(WritetimeCol, LongType), StructField(ModeCol, StringType))),
      Row(1L, 11L, 100L, ModeUpsert))
    val st1 = Upserts.mergeIntoCellWise(empty, batchA, table)
    // unmapped column b must come out as a typed (string) null, so the next
    // merge can overwrite it
    assert(st1.schema("b").dataType == StringType)
    val batchB = df(
      StructType(Seq(StructField("pk", LongType), StructField("b", StringType),
        StructField(WritetimeCol, LongType), StructField(ModeCol, StringType))),
      Row(1L, "bee", 90L, ModeUpsert))
    val out = Upserts.mergeIntoCellWise(st1, batchB, table).collect()
    assert(out.toSeq == Seq(Row(1L, 11L, 100L, "bee", 90L, 100L)))
  }

  test("batch grouping caps at 32 records per partition-key batch (A2)") {
    val rows = (1 to 70).map(i => Row(1L, i.toLong, "x", 0L, ModeUpsert)) :+
      Row(2L, 1L, "y", 0L, ModeUpsert)
    val batch = df(batchSchema, rows: _*)
    val out = Upserts.batchGroups(batch, Seq("pk"), cap = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 70L, 3L), (2L, 1L, 1L)))
  }

  test("retract aggregate: update nets to the delta, orphan delete flags " +
      "inconsistent, unknown op fails loud") {
    val s = sqlc
    import s.implicits._
    val log = Seq(
      // key 1: insert 10, then update 10 → 25: net one row worth 25
      (1L, "insert", 10L), (1L, "update_pre", 10L), (1L, "update_post", 25L),
      // key 2: delete with no matching insert in this slice
      (2L, "delete", 7L))
      .toDF("k", "op", "v")
    val out = Upserts.retractAggregate(log, "k", "v", "op")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 25L, true),
      (2L, -1L, -7L, false)))
    val bad = Seq((1L, "upsert", 1L)).toDF("k", "op", "v")
    val e = intercept[Exception] {
      Upserts.retractAggregate(bad, "k", "v", "op").collect()
    }
    assert(e.getMessage.contains("unknown op") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown op")))
  }
  // ---- KAF-98 map-entry merge (ProvidedQueryCCMIT.java:478-545) ----

  private val mapBatchSchema = StructType(Seq(
    StructField("pk", LongType), StructField("k", StringType),
    StructField("v", LongType), StructField(WritetimeCol, LongType),
    StructField("off", LongType)))
  private def mapMerge(state: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, nullToUnset: Boolean) =
    Upserts.mergeMapEntries(state, batch, Seq("pk"), "m", "k", "v",
      Seq(col(WritetimeCol), col("off")), nullToUnset)
  private def entries(out: org.apache.spark.sql.DataFrame) =
    out.select(col("pk"), explode(map_zip_with(col("m"), col("__wtmap_m"),
        (_, v, t) => struct(v.as("v"), t.as("t")))).as(Seq("k", "e")))
      .select(col("pk"), col("k"), col("e.v"), col("e.t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(x => (x._1, x._2)).toSeq
  private val emptyMapState = StructType(Seq(StructField("pk", LongType)))

  test("mergeMapEntries inserts entries; null is a no-op under nullToUnset " +
      "(KAF-98, ProvidedQueryCCMIT.java:478-511)") {
    val st0 = df(emptyMapState)
    val b1 = df(mapBatchSchema,
      Row(1L, "key_1", 10L, 100L, 1L), Row(1L, "key_2", 7L, 100L, 2L))
    val st1 = mapMerge(st0, b1, nullToUnset = true)
    assert(entries(st1) == Seq((1L, "key_1", 10L, 100L),
      (1L, "key_2", 7L, 100L)))
    // newer null action: skipped entirely (does not shadow, does not remove)
    val b2 = df(mapBatchSchema, Row(1L, "key_1", null, 200L, 3L))
    assert(entries(mapMerge(st1, b2, nullToUnset = true)) ==
      Seq((1L, "key_1", 10L, 100L), (1L, "key_2", 7L, 100L)))
  }

  test("mergeMapEntries: null removes the entry when nullToUnset=false; " +
      "emptied row disappears (ProvidedQueryCCMIT.java:514-545)") {
    val st0 = df(emptyMapState)
    val st1 = mapMerge(st0,
      df(mapBatchSchema, Row(1L, "key_1", 10L, 100L, 1L)), nullToUnset = true)
    val out = mapMerge(st1,
      df(mapBatchSchema, Row(1L, "key_1", null, 200L, 2L)),
      nullToUnset = false)
    assert(out.count() == 0L) // last entry removed -> row gone
  }

  test("mergeMapEntries: per-entry LWW — a stale update loses, a stale " +
      "removal loses, other entries untouched") {
    val st0 = df(emptyMapState)
    val st1 = mapMerge(st0, df(mapBatchSchema,
      Row(1L, "a", 1L, 300L, 1L), Row(1L, "b", 2L, 100L, 2L)),
      nullToUnset = true)
    val out = mapMerge(st1, df(mapBatchSchema,
      Row(1L, "a", 99L, 200L, 3L),   // stale vs a@300 -> loses
      Row(1L, "b", null, 50L, 4L),   // stale removal vs b@100 -> loses
      Row(1L, "c", 5L, 150L, 5L)),   // fresh insert
      nullToUnset = false)
    assert(entries(out) == Seq((1L, "a", 1L, 300L), (1L, "b", 2L, 100L),
      (1L, "c", 5L, 150L)))
  }

  test("mergeMapEntries: within-batch compaction keeps the newest action " +
      "per entry; unset never shadows an older live write") {
    val st0 = df(emptyMapState)
    // nullToUnset=true: the t=200 null is dropped pre-compaction, so the
    // t=100 live write lands
    val out1 = mapMerge(st0, df(mapBatchSchema,
      Row(1L, "a", 10L, 100L, 1L), Row(1L, "a", null, 200L, 2L)),
      nullToUnset = true)
    assert(entries(out1) == Seq((1L, "a", 10L, 100L)))
    // nullToUnset=false: the newest action is the removal -> no entry
    val out2 = mapMerge(st0, df(mapBatchSchema,
      Row(1L, "a", 10L, 100L, 1L), Row(1L, "a", null, 200L, 2L)),
      nullToUnset = false)
    assert(out2.count() == 0L)
  }

  test("mergeMapEntries: a record with a null map KEY routes out of the " +
      "merge instead of aborting the micro-batch") {
    val st0 = df(emptyMapState)
    val out = mapMerge(st0, df(mapBatchSchema,
      Row(1L, null, 10L, 100L, 1L),   // bad record: null key
      Row(1L, "a", 7L, 100L, 2L)),
      nullToUnset = true)
    assert(entries(out) == Seq((1L, "a", 7L, 100L)))
  }

  // ---- mergeMode=entry sink merge (KAF-98 through the whole pipeline) ----

  private val entryTable = SinkTable("ks", "te", StructType(Seq(
    StructField("pk", LongType),
    StructField("m", MapType(StringType, LongType)),
    StructField("txt", StringType))), Seq("pk"))
  private val entryBatchSchema = StructType(Seq(
    StructField("pk", LongType),
    StructField("m", MapType(StringType, LongType)),
    StructField("txt", StringType),
    StructField(WritetimeCol, LongType),
    StructField(ModeCol, StringType)))
  private val emptyEntryState = StructType(Seq(StructField("pk", LongType)))
  private def entryMerge(state: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, nullToUnset: Boolean = true) =
    Upserts.mergeIntoCellWise(state, batch, entryTable, nullToUnset,
      entryCols = entryTable.mapCols)
  private def mapOf(out: org.apache.spark.sql.DataFrame, pk: Long) = {
    val r = out.filter(col("pk") === pk).head()
    (Option(r.getAs[Map[String, Long]]("m")),
      Option(r.getAs[Map[String, Long]]("__wtmap_m")),
      r.getAs[String]("txt"))
  }

  test("mergeIntoEntryWise: a record's map upserts entries, untouched " +
      "entries survive (the KAF-98 divergence from cell mode)") {
    val st0 = df(emptyEntryState)
    val st1 = entryMerge(st0, df(entryBatchSchema,
      Row(1L, Map("a" -> 1L, "b" -> 2L), "t1", 100L, ModeUpsert)))
    val st2 = entryMerge(st1, df(entryBatchSchema,
      Row(1L, Map("b" -> 20L, "c" -> 3L), null, 200L, ModeUpsert)))
    val (m, wtm, txt) = mapOf(st2, 1L)
    // entry a is NOT mentioned by the second record — cell mode would have
    // replaced the whole map; entry mode must keep it
    assert(m.get == Map("a" -> 1L, "b" -> 20L, "c" -> 3L))
    assert(wtm.get == Map("a" -> 100L, "b" -> 200L, "c" -> 200L))
    assert(txt == "t1") // null + nullToUnset leaves the scalar cell
    assert(st2.head().getAs[Long](WritetimeCol) == 200L)

    // per-entry LWW: a stale write to one entry is refused, fresh entries land
    val st3 = entryMerge(st2, df(entryBatchSchema,
      Row(1L, Map("b" -> 99L, "d" -> 4L), null, 150L, ModeUpsert)))
    val (m3, wtm3, _) = mapOf(st3, 1L)
    assert(m3.get == Map("a" -> 1L, "b" -> 20L, "c" -> 3L, "d" -> 4L))
    assert(wtm3.get("b") == 200L && wtm3.get("d") == 150L)
  }

  test("mergeIntoEntryWise: null entry value removes under " +
      "nullToUnset=false; emptied map nulls; fully-empty row disappears " +
      "(ProvidedQueryCCMIT.java:514-545)") {
    val st0 = df(emptyEntryState)
    val st1 = entryMerge(st0, df(entryBatchSchema,
      Row(1L, Map("a" -> 1L, "b" -> 2L), "keep", 100L, ModeUpsert)))
    // remove entry a; entry b and the scalar survive
    val st2 = entryMerge(st1, df(entryBatchSchema,
      Row(1L, Map("a" -> null), null, 200L, ModeUpsert)),
      nullToUnset = false)
    val (m2, _, _) = mapOf(st2, 1L)
    assert(m2.get == Map("b" -> 2L))
    assert(st2.head().getAs[String]("txt") == null) // !nullToUnset nulls it
    // remove the last entry: map normalizes to null; no live cells -> gone
    val st3 = entryMerge(st2, df(entryBatchSchema,
      Row(1L, Map("b" -> null), null, 300L, ModeUpsert)),
      nullToUnset = false)
    assert(st3.count() == 0L)
    // under nullToUnset=true the same null action is a no-op
    val stNoop = entryMerge(st1, df(entryBatchSchema,
      Row(1L, Map("a" -> null), null, 200L, ModeUpsert)))
    assert(mapOf(stNoop, 1L)._1.get == Map("a" -> 1L, "b" -> 2L))
  }

  test("mergeIntoEntryWise: within one batch, entries union across records " +
      "(entry grain) while scalars keep one surviving action (row grain)") {
    val st0 = df(emptyEntryState)
    val out = entryMerge(st0, df(entryBatchSchema,
      Row(1L, Map("a" -> 1L), "first", 100L, ModeUpsert),
      Row(1L, Map("b" -> 2L), "second", 200L, ModeUpsert)))
    val (m, wtm, txt) = mapOf(out, 1L)
    assert(m.get == Map("a" -> 1L, "b" -> 2L)) // both records' entries land
    assert(wtm.get == Map("a" -> 100L, "b" -> 200L))
    assert(txt == "second") // scalar: the row winner's cell
  }

  test("mergeIntoEntryWise: a row tombstone at T covers entries with " +
      "wt <= T, newer entries survive it") {
    val st0 = df(emptyEntryState)
    val st1 = entryMerge(st0, df(entryBatchSchema,
      Row(1L, Map("a" -> 1L), null, 100L, ModeUpsert)))
    val st2 = entryMerge(st1, df(entryBatchSchema,
      Row(1L, Map("b" -> 2L), null, 300L, ModeUpsert)))
    val del = entryMerge(st2, df(entryBatchSchema,
      Row(1L, null, null, 200L, ModeDelete)))
    val (m, wtm, _) = mapOf(del, 1L)
    assert(m.get == Map("b" -> 2L)) // a@100 covered, b@300 survives
    assert(wtm.get == Map("b" -> 300L))
    // a tombstone covering everything removes the row
    val delAll = entryMerge(st2, df(entryBatchSchema,
      Row(1L, null, null, 400L, ModeDelete)))
    assert(delAll.count() == 0L)
  }

}

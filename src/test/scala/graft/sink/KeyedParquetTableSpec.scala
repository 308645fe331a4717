package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.operators.RecordMapper

/** Bucketed state behavior: merges touch only the buckets a batch's keys
  * hash to; untouched buckets keep their old version directories. */
class KeyedParquetTableSpec extends SparkSuite {

  private lazy val s = sqlc

  private val table = SinkTable("ks", "bt", StructType(Seq(
    StructField("my_pk", LongType), StructField("my_value", LongType))),
    Seq("my_pk"))

  private def mapped(rows: (Long, Long, Long)*) = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach { case (pk, v, wt) =>
      l.add(Row(pk, v, wt, RecordMapper.ModeUpsert))
    }
    s.createDataFrame(l, StructType(Seq(
      StructField("my_pk", LongType), StructField("my_value", LongType),
      StructField(RecordMapper.WritetimeCol, LongType),
      StructField(RecordMapper.ModeCol, StringType))))
  }

  test("merge touches only the batch's buckets; untouched buckets keep their version") {
    val root = Files.createTempDirectory("graft-bucket").toString
    val t = new KeyedParquetTable(s, table, root, numBuckets = 8)

    // batch 1: many keys spread over (almost) all buckets
    t.applyBatch(mapped((1L to 64L).map(k => (k, k * 10, 100L)): _*), batchId = 1L)
    assert(t.state().count() == 64)
    assert(Files.exists(Paths.get(root, "v1")))

    // batch 2: a single key — only that key's bucket moves to v2
    t.applyBatch(mapped((1L, 999L, 200L)), batchId = 2L)
    val st = t.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st(1L) == 999L && st(2L) == 20L && st.size == 64)
    // v2 holds exactly one bucket partition; v1 still owns the rest
    val v2Parts = Files.list(Paths.get(root, "v2")).toArray.map(_.toString)
      .filter(_.contains("__bucket="))
    assert(v2Parts.length == 1)
    assert(Files.exists(Paths.get(root, "v1")))

    // replayed batch id is a no-op (exactly-once)
    t.applyBatch(mapped((1L, 111L, 300L)), batchId = 2L)
    assert(t.state().filter(col("my_pk") === 1L).head().getLong(1) == 999L)
  }

  test("applyBatch retain: expired rows in touched buckets drop during the merge") {
    val root = Files.createTempDirectory("graft-retain").toString
    // one bucket → every merge touches ALL state, so the prune is observable
    // deterministically (no dependence on which bucket a hash lands in)
    val t = new KeyedParquetTable(s, table, root, numBuckets = 1)
    t.applyBatch(mapped((1L, 10L, 100L), (2L, 20L, 110L), (3L, 30L, 200L)),
      batchId = 1L)
    assert(t.state().count() == 3)
    // next merge prunes rows below the horizon (writetime < 150) while
    // landing a new row — zero extra passes, same write it was doing anyway
    t.applyBatch(mapped((4L, 40L, 300L)), batchId = 2L,
      retain = Some(col(RecordMapper.WritetimeCol) >= 150L))
    val st = t.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st == Map(3L -> 30L, 4L -> 40L))
  }

  test("sweep: full-state expiry rewrite shrinks every bucket; manifest stays live") {
    val root = Files.createTempDirectory("graft-sweep").toString
    val t = new KeyedParquetTable(s, table, root, numBuckets = 8)
    t.applyBatch(mapped((1L to 40L).map(k =>
      (k, k, if (k <= 30) 100L else 900L)): _*), batchId = 1L)
    assert(t.state().count() == 40)
    t.sweep(col(RecordMapper.WritetimeCol) >= 500L)
    // only the 10 recent rows survive, across all buckets
    assert(t.state().collect().map(_.getLong(0)).sorted.toSeq == (31L to 40L))
    // the swept state stays a normal, writable table
    t.applyBatch(mapped((99L, 990L, 1000L)), batchId = 2L)
    assert(t.state().count() == 11)
    // sweep to empty is valid (schema-only state) and reopenable
    t.sweep(lit(false))
    assert(t.state().count() == 0)
    t.applyBatch(mapped((7L, 70L, 1100L)), batchId = 3L)
    assert(t.state().count() == 1)
  }

  test("state stays correct and disk-bounded over many micro-batches; manifest survives restart") {
    val root = Files.createTempDirectory("graft-endure").toString
    val t = new KeyedParquetTable(s, table, root, numBuckets = 4)
    // 30 overlapping batches: key k gets its last write at batch (k % 30)
    (1 to 30).foreach { b =>
      t.applyBatch(mapped((0 until 10).map { i =>
        val k = (b + i * 3) % 40
        (k.toLong, b * 1000L + k, b.toLong)
      }: _*), batchId = b.toLong)
    }
    // expected: per key, the row from its highest-writetime batch (LWW)
    val st = t.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1 to 30).flatMap { b =>
      (0 until 10).map(i => ((b + i * 3) % 40, b))
    }.groupBy(_._1).map { case (k, hits) =>
      val b = hits.map(_._2).max
      k.toLong -> (b * 1000L + k)
    }
    assert(st == expected)
    // vacuum keeps only referenced versions: ≤ numBuckets live dirs
    val liveDirs = Files.list(java.nio.file.Paths.get(root)).toArray
      .map(_.toString).count(_.matches(".*v\\d+$"))
    assert(liveDirs <= 4, s"$liveDirs version dirs survived vacuum")
    // a fresh instance over the same root reloads the manifest (restart)
    val t2 = new KeyedParquetTable(s, table, root, numBuckets = 4)
    assert(t2.lastAppliedBatchId == 30L)
    assert(t2.state().count() == expected.size)
    // and a replayed old batch is still a no-op after restart
    t2.applyBatch(mapped((0L, 999999L, 1L)), batchId = 30L)
    assert(t2.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }

  test("reopening state with a different numBuckets fails fast (manifest pins it)") {
    val root = Files.createTempDirectory("graft-nbuckets").toString
    val t = new KeyedParquetTable(s, table, root, numBuckets = 8)
    t.applyBatch(mapped((1L, 1L, 100L)), batchId = 1L)
    // re-hashing keys into a different bucket count would silently read the
    // wrong partitions — must refuse, not corrupt
    val t2 = new KeyedParquetTable(s, table, root, numBuckets = 16)
    val e = intercept[IllegalArgumentException] { t2.state() }
    assert(e.getMessage.contains("numBuckets=8"))
    // the original bucket count still opens fine
    val t3 = new KeyedParquetTable(s, table, root, numBuckets = 8)
    assert(t3.state().count() == 1)
  }

  test("unreferenced versions are vacuumed once every bucket moves past them") {
    val root = Files.createTempDirectory("graft-vacuum").toString
    val t = new KeyedParquetTable(s, table, root, numBuckets = 2)
    t.applyBatch(mapped((1L, 1L, 100L), (2L, 2L, 100L), (3L, 3L, 100L),
      (4L, 4L, 100L)), batchId = 1L)
    // touch every key again: all buckets move to v2, v1 becomes garbage
    t.applyBatch(mapped((1L, 11L, 200L), (2L, 22L, 200L), (3L, 33L, 200L),
      (4L, 44L, 200L)), batchId = 2L)
    assert(!Files.exists(Paths.get(root, "v1")))
    assert(t.state().count() == 4)
  }

  test("a manifest pointing at a version that lost a leaf fails the read loudly") {
    val root = Files.createTempDirectory("graft-stale").toString
    val t = new KeyedParquetTable(s, table, root, numBuckets = 2)
    t.applyBatch(mapped((1L, 1L, 100L), (2L, 2L, 100L), (3L, 3L, 100L),
      (4L, 4L, 100L)), batchId = 1L)
    val v1 = Paths.get(root, "v1")
    val leaves = Files.list(v1).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("__bucket="))
    assert(leaves.length == 2)
    // the state a vacuum of v1 leaves when it stops after its first leaf:
    // _SUCCESS is already gone, so the missing leaf cannot pass as a
    // completed version's zero-row bucket
    Files.delete(v1.resolve("_SUCCESS"))
    graft.streaming.SinkPipeline.deleteTree(leaves.head)
    val e = intercept[IllegalArgumentException] { t.state().count() }
    assert(e.getMessage.contains("referenced by the manifest"))
  }

  test("cell-wise merge mode: disjoint-column writes interleave across micro-batches") {
    val wide = SinkTable("ks", "cw", StructType(Seq(
      StructField("my_pk", LongType), StructField("my_value", LongType),
      StructField("my_text", StringType))), Seq("my_pk"))
    // binding A maps only my_value, binding B only my_text — each batch
    // frame carries just its own column (an absent column is never touched)
    def valBatch(rows: (Long, Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (pk, v, wt) => l.add(Row(pk, v, wt, RecordMapper.ModeUpsert)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("my_pk", LongType), StructField("my_value", LongType),
        StructField(RecordMapper.WritetimeCol, LongType),
        StructField(RecordMapper.ModeCol, StringType))))
    }
    def textBatch(rows: (Long, String, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (pk, t, wt) => l.add(Row(pk, t, wt, RecordMapper.ModeUpsert)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("my_pk", LongType), StructField("my_text", StringType),
        StructField(RecordMapper.WritetimeCol, LongType),
        StructField(RecordMapper.ModeCol, StringType))))
    }
    val root = Files.createTempDirectory("graft-cell").toString
    val t = new KeyedParquetTable(s, wide, root, numBuckets = 4, mergeMode = "cell")

    t.applyBatch(valBatch((1L, 100L, 200L), (2L, 200L, 200L)), batchId = 1L)
    // OLDER writetime on the OTHER column: row-level LWW would refuse this;
    // per-cell timestamps must land it
    t.applyBatch(textBatch((1L, "late-but-lands", 150L)), batchId = 2L)
    // older write to an already-written cell: refused per-cell
    t.applyBatch(valBatch((1L, 999L, 120L)), batchId = 3L)
    val st = t.state().collect().map(r => (r.getAs[Long]("my_pk"),
      r.getAs[Long]("my_value"), r.getAs[String]("my_text"),
      r.getAs[Long]("__wt_my_value"),
      Option(r.getAs[java.lang.Long]("__wt_my_text")).map(_.toLong)))
      .sortBy(_._1)
    assert(st.toSeq == Seq(
      (1L, 100L, "late-but-lands", 200L, Some(150L)),
      (2L, 200L, null, 200L, None)))  // never-written cell: null value AND null wt

    // restart over the same root: manifest + cell wts survive; replay no-op
    val t2 = new KeyedParquetTable(s, wide, root, numBuckets = 4, mergeMode = "cell")
    assert(t2.lastAppliedBatchId == 3L)
    t2.applyBatch(valBatch((1L, 777L, 500L)), batchId = 3L)
    assert(t2.state().filter(col("my_pk") === 1L).head()
      .getAs[Long]("my_value") == 100L)

    // endurance: 20 more interleaved micro-batches alternating columns with
    // sawtooth writetimes — final cells = per-column max-writetime write
    (4 to 23).foreach { b =>
      val wt = 1000L + (b % 7) * 100L  // deliberately non-monotonic
      if (b % 2 == 0) t2.applyBatch(valBatch((1L, b.toLong, wt)), batchId = b.toLong)
      else t2.applyBatch(textBatch((1L, s"t$b", wt)), batchId = b.toLong)
    }
    // per column: the max-writetime write wins; at equal writetimes across
    // DIFFERENT batches the later merge wins (cell overwrites on >=, the
    // Cassandra reconciliation order for sequential mutations). Max wt 1600
    // hits b%7==6 → b ∈ {6,13,20}: value sees it at b=6 then b=20 (20 wins),
    // text only at b=13.
    val fin = t2.state().filter(col("my_pk") === 1L).head()
    assert(fin.getAs[Long]("my_value") == 20L)      // wt 1600, later merge wins
    assert(fin.getAs[String]("my_text") == "t13")   // wt 1600, only odd hit
    assert(fin.getAs[Long]("__wt_my_value") == 1600L)
    assert(fin.getAs[Long]("__wt_my_text") == 1600L)

    // the state's merge granularity is pinned: row-mode reopen fails fast
    val tRow = new KeyedParquetTable(s, wide, root, numBuckets = 4)
    val e = intercept[IllegalArgumentException] { tRow.state() }
    assert(e.getMessage.contains("mergeMode=cell"))
  }

  test("entry merge mode: map entries reconcile per-entry across " +
      "micro-batches and restarts (KAF-98)") {
    val et = SinkTable("ks", "em", StructType(Seq(
      StructField("my_pk", LongType),
      StructField("my_map", MapType(StringType, LongType)))), Seq("my_pk"))
    def mapBatch(rows: (Long, Map[String, Any], Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (pk, m, wt) =>
        l.add(Row(pk, m, wt, RecordMapper.ModeUpsert))
      }
      s.createDataFrame(l, StructType(Seq(
        StructField("my_pk", LongType),
        StructField("my_map", MapType(StringType, LongType)),
        StructField(RecordMapper.WritetimeCol, LongType),
        StructField(RecordMapper.ModeCol, StringType))))
    }
    val root = Files.createTempDirectory("graft-entry").toString
    val t = new KeyedParquetTable(s, et, root, numBuckets = 4,
      mergeMode = "entry", nullToUnset = false)

    t.applyBatch(mapBatch((1L, Map("a" -> 1L, "b" -> 2L), 100L)), batchId = 1L)
    // second batch mentions only b and c: a must survive (cell mode would
    // have replaced the whole map)
    t.applyBatch(mapBatch((1L, Map("b" -> 20L, "c" -> 3L), 200L)), batchId = 2L)
    // null value removes entry c (nullToUnset=false)
    t.applyBatch(mapBatch((1L, Map("c" -> null), 300L)), batchId = 3L)
    val st = t.state().filter(col("my_pk") === 1L).head()
    assert(st.getAs[Map[String, Long]]("my_map") == Map("a" -> 1L, "b" -> 20L))
    assert(st.getAs[Map[String, Long]]("__wtmap_my_map") ==
      Map("a" -> 100L, "b" -> 200L))

    // restart over the same root: entry writetimes survive; a stale entry
    // write is still refused after reopen
    val t2 = new KeyedParquetTable(s, et, root, numBuckets = 4,
      mergeMode = "entry", nullToUnset = false)
    assert(t2.lastAppliedBatchId == 3L)
    t2.applyBatch(mapBatch((1L, Map("b" -> 99L), 150L)), batchId = 4L)
    assert(t2.state().head().getAs[Map[String, Long]]("my_map") ==
      Map("a" -> 1L, "b" -> 20L))
    // removing the last entries drops the row
    t2.applyBatch(mapBatch((1L, Map("a" -> null, "b" -> null), 500L)),
      batchId = 5L)
    assert(t2.state().count() == 0L)

    // the merge granularity is pinned in the manifest: cell reopen fails fast
    val tCell = new KeyedParquetTable(s, et, root, numBuckets = 4,
      mergeMode = "cell")
    val e = intercept[IllegalArgumentException] { tCell.state() }
    assert(e.getMessage.contains("mergeMode=entry"))
  }

  test("X2 compression: state written with the configured parquet codec") {
    import graft.mapping.SinkConfig
    // reference name → parquet codec mapping, invalid values rejected
    def cfg(c: String) = SinkConfig.parse(Map(
      "topic.t.ks.bt.mapping" -> "my_pk=key, my_value=value.k",
      "compression" -> c))
    assert(cfg("None").parquetCodec == "uncompressed")
    assert(cfg("Snappy").parquetCodec == "snappy")
    assert(cfg("LZ4").parquetCodec == "lz4_raw")
    intercept[IllegalArgumentException](cfg("Gzip"))

    val root = Files.createTempDirectory("graft-lz4").toString
    val t = new KeyedParquetTable(s, table, root, compression = "lz4_raw")
    t.applyBatch(mapped((1L, 10L, 100L), (2L, 20L, 100L)), batchId = 1L)
    // round-trips, and the data files carry the codec suffix
    assert(t.state().count() == 2)
    val files = Files.walk(Paths.get(root)).iterator()
    val names = Iterator.continually(files).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).toList
    assert(names.exists(_.endsWith(".lz4raw.parquet")),
      s"expected lz4raw parquet files, saw: ${names.filter(_.endsWith("parquet"))}")
  }
}

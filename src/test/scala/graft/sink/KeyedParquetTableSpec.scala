package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.operators.RecordMapper

/** Flat, append-only state: a batch writes one run of plain parquet files,
  * one per write task; reads fold the base and the runs in one scan exactly
  * as the sequential per-batch merge would; compaction and vacuum keep disk
  * bounded; a crash before the manifest flip leaves nothing visible. */
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

  test("a batch appends one run of plain files beside the base; a replayed " +
      "batch id is a no-op") {
    val root = Files.createTempDirectory("graft-flat").toString
    val t = new KeyedParquetTable(s, table, root)

    // batch 1 lands in an empty table: it folds straight into the base v1
    t.applyBatch(mapped((1L to 64L).map(k => (k, k * 10, 100L)): _*), batchId = 1L)
    assert(t.state().count() == 64)
    assert(live(root) == Seq(1 -> 64L))

    // batch 2: a single key — one run v2 beside the base, which stays
    t.applyBatch(mapped((1L, 999L, 200L)), batchId = 2L)
    val st = t.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st(1L) == 999L && st(2L) == 20L && st.size == 64)
    assert(live(root) == Seq(1 -> 64L, 2 -> 1L))
    // both versions hold files only: no partition directories
    Seq("v1", "v2").foreach { v =>
      assert(Files.list(Paths.get(root, v)).iterator().asScala.forall(Files.isRegularFile(_)),
        s"$v holds a directory")
    }

    // replayed batch id is a no-op (exactly-once)
    t.applyBatch(mapped((1L, 111L, 300L)), batchId = 2L)
    assert(t.state().filter(col("my_pk") === 1L).head().getLong(1) == 999L)
  }

  test("applyBatch retain: expired rows in touched buckets drop during the merge") {
    val root = Files.createTempDirectory("graft-retain").toString
    // a retain batch folds the whole store, so the prune is observable
    val t = new KeyedParquetTable(s, table, root)
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
    val t = new KeyedParquetTable(s, table, root)
    t.applyBatch(mapped((1L to 40L).map(k =>
      (k, k, if (k <= 30) 100L else 900L)): _*), batchId = 1L)
    assert(t.state().count() == 40)
    t.sweep(col(RecordMapper.WritetimeCol) >= 500L)
    // only the 10 recent rows survive
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
    val t = new KeyedParquetTable(s, table, root)
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
    // vacuum keeps exactly the versions that are the base or a run (the
    // disk bound is the 32-batch fresh-keys test's)
    assert(versionDirs(root) == live(root).map(v => s"v${v._1}").toSet)
    // a fresh instance over the same root reloads the manifest (restart)
    val t2 = new KeyedParquetTable(s, table, root)
    assert(t2.lastAppliedBatchId == 30L)
    assert(t2.state().count() == expected.size)
    // and a replayed old batch is still a no-op after restart
    t2.applyBatch(mapped((0L, 999999L, 1L)), batchId = 30L)
    assert(t2.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }

  test("a store in the bucketed layout fails fast on open, naming the layout") {
    val root = Files.createTempDirectory("graft-bucketed")
    // the bucketed layout: `<maxV> <numBuckets> <mergeMode>`, bucket → base
    // version lines, one __bucket=<k> directory per bucket in each version
    val leaf = root.resolve("v1").resolve("__bucket=0")
    Files.createDirectories(leaf)
    mapped((1L, 1L, 100L)).write.parquet(leaf.resolve("data").toString)
    Files.createFile(root.resolve("v1").resolve("_SUCCESS"))
    Files.writeString(root.resolve("CURRENT"), "1 16 row\nb _ 1\n0:1")
    val t = new KeyedParquetTable(s, table, root.toString)
    Seq[() => Unit](() => t.state(), () => t.unfolded(),
      () => t.applyBatch(mapped((2L, 2L, 200L)), batchId = 2L)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("bucketed layout"), e.getMessage)
    }
    // refused before anything is written
    assert(versionDirs(root.toString) == Set("v1"))
  }

  test("unreferenced versions are vacuumed once the base moves past them") {
    val root = Files.createTempDirectory("graft-vacuum").toString
    val t = new KeyedParquetTable(s, table, root)
    t.applyBatch(mapped((1L, 1L, 100L), (2L, 2L, 100L), (3L, 3L, 100L),
      (4L, 4L, 100L)), batchId = 1L)
    // touch every key again in a run, then compact: the base moves past v1
    // and v2, and both become garbage
    t.applyBatch(mapped((1L, 11L, 200L), (2L, 22L, 200L), (3L, 33L, 200L),
      (4L, 44L, 200L)), batchId = 2L)
    t.sweep(lit(true))
    assert(versionDirs(root) == Set("v3"))
    assert(t.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 11L, 2L -> 22L, 3L -> 33L, 4L -> 44L))
  }

  test("a manifest pointing at a version that lost its files fails the read loudly") {
    val root = Files.createTempDirectory("graft-stale").toString
    val t = new KeyedParquetTable(s, table, root)
    t.applyBatch(mapped((1L, 1L, 100L), (2L, 2L, 100L), (3L, 3L, 100L),
      (4L, 4L, 100L)), batchId = 1L)
    t.applyBatch(mapped((5L, 5L, 100L)), batchId = 2L)
    val v2 = Paths.get(root, "v2")
    val parts = Files.list(v2).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.nonEmpty)
    // the state a vacuum of v2 leaves when it stops after its first file:
    // _SUCCESS is already gone, so the missing rows cannot pass as a
    // completed version's
    Files.delete(v2.resolve("_SUCCESS"))
    Files.delete(parts.head)
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
    val t = new KeyedParquetTable(s, wide, root, mergeMode = "cell")

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
    val t2 = new KeyedParquetTable(s, wide, root, mergeMode = "cell")
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
    val tRow = new KeyedParquetTable(s, wide, root)
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
    val t = new KeyedParquetTable(s, et, root,
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
    val t2 = new KeyedParquetTable(s, et, root,
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
    val tCell = new KeyedParquetTable(s, et, root, mergeMode = "cell")
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

  // ---- append-only layout: runs, compaction, crash windows ----

  private def du(p: java.nio.file.Path): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_") &&
        n != "CURRENT"
    }.map(Files.size).sum
    finally st.close()
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }

  /** The live versions and their rows, base first, as the manifest's
    * `v:rows` lines say. */
  private def live(root: String): Seq[(Int, Long)] =
    if (!Files.exists(Paths.get(root, "CURRENT"))) Nil
    else Files.readString(Paths.get(root, "CURRENT")).split('\n').toSeq.drop(1)
      .filter(l => l.nonEmpty && !l.startsWith("b ")).map { l =>
        val Array(v, n) = l.split(':'); v.toInt -> n.toLong
      }.sortBy(_._1)

  /** The base version; 0 before any write. */
  private def base(root: String): Int = live(root).headOption.fold(0)(_._1)

  private def versionDirs(root: String): Set[String] =
    Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("v\\d+")).toSet

  /** A state frame as comparable rows: the given columns, maps as Scala
    * maps, ordered by the leading (Long) primary key. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
    rowsOf(df.collect().toSeq, cols)
  private def rowsOf(rows: Seq[Row], cols: Seq[String]): Seq[Seq[Any]] =
    rows.map(r => cols.map(c => r.get(r.fieldIndex(c)) match {
      case m: scala.collection.Map[_, _] => m.toMap
      case x => x
    })).sortBy(_.head.asInstanceOf[Long])

  /** One randomized stream against the sequential per-batch merge of
    * [[JoinMerges]], the join-based model of the fold's one-batch case. */
  private case class Diff(name: String, table: SinkTable, mergeMode: String,
      nullToUnset: Boolean,
      batch: (java.util.SplittableRandom, Long) => (org.apache.spark.sql.DataFrame, String),
      merge: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame,
      /** The state before the first batch: no rows, the mode's columns. */
      empty: Seq[StructField])

  private def frame(fields: Seq[StructField], rows: Seq[Row]) = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach(l.add)
    s.createDataFrame(l, StructType(fields))
  }

  private val WtF = StructField(RecordMapper.WritetimeCol, LongType)
  private val ModeF = StructField(RecordMapper.ModeCol, StringType)
  private val TtlF = StructField(RecordMapper.TtlCol, LongType)
  /** Writetimes collide and arrive out of order: 4 distinct values, in µs. */
  private def wtOf(r: java.util.SplittableRandom) = (100L + 10L * r.nextInt(4)) * 1000000L
  private def mode(del: Boolean) =
    if (del) RecordMapper.ModeDelete else RecordMapper.ModeUpsert

  private val diffs: Seq[Diff] = {
    import graft.operators.Upserts
    val rowT = SinkTable("ks", "d_row", StructType(Seq(StructField("pk", LongType),
      StructField("a", LongType), StructField("b", StringType))), Seq("pk"))
    val cellT = rowT.copy(name = "d_cell")
    val entryT = SinkTable("ks", "d_entry", StructType(Seq(StructField("pk", LongType),
      StructField("m", MapType(StringType, LongType)))), Seq("pk"))
    val ctrT = SinkTable("ks", "d_ctr", StructType(Seq(StructField("pk", LongType),
      StructField("n", LongType))), Seq("pk"), counterCols = Seq("n"))
    def n(r: java.util.SplittableRandom) = 1 + r.nextInt(6)
    def cell[A](r: java.util.SplittableRandom, v: => A): Any =
      if (r.nextInt(3) == 0) null else v
    Seq(
      // row LWW with null cells (nullToUnset), batches that omit column b
      // or carry a TTL, deletes
      Diff("row", rowT, "row", nullToUnset = true, { (r, _) =>
        val withB = r.nextInt(4) != 0
        val withTtl = r.nextInt(3) == 0
        val fields = Seq(rowT.schema("pk"), rowT.schema("a")) ++
          (if (withB) Seq(rowT.schema("b")) else Nil) ++ Seq(WtF, ModeF) ++
          (if (withTtl) Seq(TtlF) else Nil)
        frame(fields, Seq.fill(n(r)) {
          val del = r.nextInt(5) == 0
          Row.fromSeq(Seq(r.nextInt(6).toLong, if (del) null else cell(r, r.nextInt(99).toLong)) ++
            (if (withB) Seq(if (del) null else cell(r, s"s${r.nextInt(9)}")) else Nil) ++
            Seq(wtOf(r), mode(del)) ++
            (if (withTtl) Seq(Seq[Any](null, 0L, 60L)(r.nextInt(3))) else Nil))
        }) -> "_"
      }, (st, b) => JoinMerges.mergeInto(st, b, rowT, nullToUnset = true),
        rowT.schema.fields.toSeq :+ WtF),
      // cell LWW fed by two bindings writing disjoint columns; a null cell
      // overwrites (nullToUnset = false)
      Diff("cell", cellT, "cell", nullToUnset = false, { (r, _) =>
        val c = if (r.nextBoolean()) "a" else "b"
        frame(Seq(cellT.schema("pk"), cellT.schema(c), WtF, ModeF), Seq.fill(n(r)) {
          val del = r.nextInt(5) == 0
          Row(r.nextInt(6).toLong,
            if (del) null else cell(r, if (c == "a") r.nextInt(99).toLong else s"s${r.nextInt(9)}"),
            wtOf(r), mode(del))
        }) -> c
      }, (st, b) => JoinMerges.mergeIntoCellWise(st, b, cellT, nullToUnset = false),
        Seq(cellT.schema("pk"), cellT.schema("a"), StructField("__wt_a", LongType),
          cellT.schema("b"), StructField("__wt_b", LongType), WtF)),
      // entry-level map merge: entries union within a batch, a null entry
      // value removes (nullToUnset = false)
      Diff("entry", entryT, "entry", nullToUnset = false, { (r, _) =>
        frame(Seq(entryT.schema("pk"), entryT.schema("m"), WtF, ModeF), Seq.fill(n(r)) {
          val del = r.nextInt(5) == 0
          val m = if (del || r.nextInt(8) == 0) null
            else Seq.fill(r.nextInt(3))(s"k${r.nextInt(3)}" ->
              (if (r.nextInt(4) == 0) null else java.lang.Long.valueOf(r.nextInt(99)))).toMap
          Row(r.nextInt(6).toLong, m, wtOf(r), mode(del))
        }) -> "_"
      }, (st, b) => JoinMerges.mergeIntoCellWise(st, b, entryT, nullToUnset = false,
        entryCols = entryT.mapCols),
        entryT.schema.fields.toSeq ++ Seq(
          StructField("__wtmap_m", MapType(StringType, LongType)), WtF)),
      Diff("counter", ctrT, "row", nullToUnset = true, { (r, _) =>
        frame(Seq(ctrT.schema("pk"), ctrT.schema("n"), WtF, ModeF), Seq.fill(n(r)) {
          Row(r.nextInt(6).toLong, cell(r, r.nextInt(9).toLong), wtOf(r),
            RecordMapper.ModeCounter)
        }) -> "_"
      }, (st, b) => JoinMerges.mergeCounters(st, Upserts.counterCombine(b, ctrT), ctrT),
        ctrT.schema.fields.toSeq))
  }

  /** Rows of keys 1000+ that no stream batch touches: a base big enough
    * that no run outweighs it (12,000 rows). */
  private def seedOf(d: Diff): org.apache.spark.sql.DataFrame = {
    val r = new java.util.SplittableRandom(99)
    d.name match {
      case "row" | "cell" => frame(Seq(d.table.schema("pk"), d.table.schema("a"),
        d.table.schema("b"), WtF, ModeF), (1000L until 13000L).map(k =>
          Row(k, r.nextLong(), s"seed${r.nextLong()}", 1L, RecordMapper.ModeUpsert)))
      case "entry" => frame(Seq(d.table.schema("pk"), d.table.schema("m"), WtF, ModeF),
        (1000L until 13000L).map(k => Row(k, Map(s"s${r.nextLong()}" -> r.nextLong()), 1L,
          RecordMapper.ModeUpsert)))
      case _ => frame(Seq(d.table.schema("pk"), d.table.schema("n"), WtF, ModeF),
        (1000L until 13000L).map(k => Row(k, r.nextLong() >>> 8, 1L, RecordMapper.ModeCounter)))
    }
  }

  test("append-only store equals the sequential per-batch merge in every " +
      "mode, with compaction at no batch, some batches and every batch") {
    for (d <- diffs; regime <- Seq("none", "some", "every")) {
      val root = Files.createTempDirectory(s"graft-diff-${d.name}").toString
      // the 6 batches stay under the bound of MaxRuns runs
      val t = new KeyedParquetTable(s, d.table, root, nullToUnset = d.nullToUnset,
        mergeMode = d.mergeMode)
      var expected = frame(d.empty, Nil)
      def step(b: org.apache.spark.sql.DataFrame): Unit = {
        val next = d.merge(expected, b)
        expected = s.createDataFrame(next.collect().toSeq.asJava, next.schema)
      }
      if (regime == "none") {
        val seed = seedOf(d)
        t.applyBatch(seed, batchId = 0L)
        step(seed)
      }
      val seeded = base(root)
      val r = new java.util.SplittableRandom(d.name.hashCode.toLong * 31 + regime.hashCode)
      (1L to 6L).foreach { id =>
        val (b, binding) = d.batch(r, id)
        t.applyBatch(b, batchId = id, binding = binding)
        if (regime == "every" || (regime == "some" && id % 3 == 0))
          t.sweep(lit(true))
        step(b)
        val cols = expected.columns.toSeq
        val actual = t.state().collect().toSeq
        assert(rowsOf(actual, cols) == rowsOf(expected, cols),
          s"${d.name}/$regime after batch $id")
        // a state column the one-batch merge has not introduced yet (row
        // expiry before the first TTL'd batch) is null in the store
        actual.headOption.toSeq.flatMap(_.schema.fieldNames).filterNot(cols.contains)
          .foreach(c => assert(actual.forall(_.isNullAt(actual.head.fieldIndex(c))),
            s"${d.name}/$regime $c"))
      }
      if (regime == "none")
        assert(base(root) == seeded, s"${d.name}: a run outweighed the seeded base")
    }
  }

  test("crash windows: an unflipped run or compaction version is invisible, " +
      "overwritten by the replayed batch, and vacuumed") {
    val seen = SinkTable("ks", "seen", StructType(Seq(
      StructField("h", LongType), StructField("last_seen", LongType))), Seq("h"))
    def sightings(keys: Seq[Long], at: Long) =
      frame(Seq(seen.schema("h"), seen.schema("last_seen"), WtF, ModeF),
        keys.map(k => Row(k, at, at * 1000, RecordMapper.ModeUpsert)))
    val root = Files.createTempDirectory("graft-crash")
    val t = new KeyedParquetTable(s, seen, root.toString)
    t.applyBatch(sightings(1L to 4000L, 10L), batchId = 1L)
    def snapshot(k: KeyedParquetTable) =
      (rowsOf(k.state(), Seq("h", "last_seen")),
        k.unfolded().select("h").collect().map(_.getLong(0)).toSet)

    // batch 2 is a run (no compaction), batch 3 compacts (retain); each one
    // crashes after writing its version and before its manifest flip
    Seq[(Long, Seq[Long], Option[org.apache.spark.sql.Column])](
      (2L, 401L to 420L, None),
      (3L, 421L to 440L, Some(lit(true)))).foreach { case (id, keys, retain) =>
      val before = snapshot(t)
      val maxV = versionDirs(root.toString).map(_.drop(1).toInt).max
      // the crashed write: the same batch applied on a copy of the store,
      // its new version copied back without the flip
      val copy = Files.createTempDirectory("graft-crash-copy")
      copyTree(root, copy)
      val tc = new KeyedParquetTable(s, seen, copy.toString)
      tc.applyBatch(sightings(keys, id * 10), batchId = id, retain = retain)
      val v = s"v${maxV + 1}"
      assert(Files.exists(copy.resolve(v)))
      assert((base(copy.toString) == maxV + 1) == retain.isDefined,
        s"batch $id: only the retain batch compacts")
      copyTree(copy.resolve(v), root.resolve(v))
      val leftover = du(root.resolve(v))
      val leftoverFiles = Files.walk(root.resolve(v)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      assert(leftover > 0 && leftoverFiles.nonEmpty)

      // invisible to state and to the dedup lookup
      assert(snapshot(t) == before, s"batch $id: an unflipped version is visible")
      assert(snapshot(new KeyedParquetTable(s, seen, root.toString)) ==
        before, s"batch $id: visible after a restart")
      // the replay overwrites it: the result equals the clean apply, and
      // none of the crashed attempt's files survive
      t.applyBatch(sightings(keys, id * 10), batchId = id, retain = retain)
      assert(snapshot(t) == snapshot(tc), s"batch $id: replay differs from a clean apply")
      val after = Files.walk(root.resolve(v)).iterator().asScala
        .map(_.getFileName.toString).toSet
      assert((leftoverFiles & after).isEmpty, s"batch $id: crashed files survived the replay")
    }

    // a leftover version above maxV, and a half-written compaction, that no
    // replay ever overwrites are vacuumed
    val maxV = versionDirs(root.toString).map(_.drop(1).toInt).max
    copyTree(root.resolve(s"v$maxV"), root.resolve(s"v${maxV + 1}"))
    copyTree(root.resolve(s"v$maxV"), root.resolve("_compact"))
    val before = snapshot(t)
    t.vacuum()
    assert(!Files.exists(root.resolve(s"v${maxV + 1}")))
    assert(!Files.exists(root.resolve("_compact")))
    assert(snapshot(t) == before)
  }

  test("append-only: 32 batches of fresh keys each write about one batch, " +
      "and disk stays within twice a compacted copy plus one batch") {
    // the first batch lands in an empty table, so it folds straight into
    // the base: run sizes compare to the first run
    val root = Files.createTempDirectory("graft-fresh")
    val t = new KeyedParquetTable(s, table, root.toString)
    val r = new java.util.SplittableRandom(5)
    val written = (1 to 32).map { b =>
      t.applyBatch(mapped(Seq.fill(1000) {
        (r.nextLong(), r.nextLong(), b.toLong)
      }: _*), batchId = b.toLong)
      // each batch is one version; a compaction makes it the base
      val compacted = base(root.toString) == b
      if (b % 8 == 0) {
        val copy = Files.createTempDirectory("graft-fresh-copy")
        copyTree(root, copy)
        new KeyedParquetTable(s, table, copy.toString).sweep(lit(true))
        val onDisk = du(root)
        val bound = 2 * du(copy) + du(root.resolve(s"v$b"))
        assert(onDisk <= bound, s"batch $b: $onDisk bytes on disk > $bound")
      }
      (compacted, du(root.resolve(s"v$b")))
    }
    assert(written.head._1, "the first batch folds into the empty table")
    val runs = written.filterNot(_._1).map(_._2)
    assert(runs.size >= 16 && runs.forall(_ <= 1.5 * runs.head),
      s"run bytes ${runs.max} vs the first run's ${runs.head}")
    // the store compacts once its runs hold more rows than its base, so the
    // base at least doubles and each row is rewritten O(log n) times: the
    // 1,000-row batches fold into the empty table at batch 1, then compact
    // at batches 3, 7, 15 and 31
    val compactions = written.zipWithIndex.collect { case ((true, _), i) => i + 1 }
    assert(compactions == Seq(1, 3, 7, 15, 31), s"compacted at batches $compactions")
    assert(t.state().count() == 32000)
  }

  test("append-only: the store holds at most MaxRuns runs, so a read scans " +
      "a bounded number of versions however many batches ran") {
    val root = Files.createTempDirectory("graft-runs")
    val t = new KeyedParquetTable(s, table, root.toString)
    // a base far heavier than the 64 batches together: by rows alone, the
    // store would never compact
    t.applyBatch(mapped((1L to 20000L).map(k => (k, k, 1L)): _*), batchId = 0L)
    val VersionOf = "/v(\\d+)/[^/]+$".r
    def versions(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(f => VersionOf.findFirstMatchIn(f).get.group(1)).toSet.size
    val r = new java.util.SplittableRandom(7)
    val scanned = (1 to 64).map { b =>
      t.applyBatch(mapped(Seq.fill(8) {
        (1L + r.nextLong(20000L), r.nextLong(), b.toLong + 1)
      }: _*), batchId = b.toLong)
      versions(t.unfolded())
    }
    // a base and at most MaxRuns runs, and the bound is what holds it
    assert(scanned.max == KeyedParquetTable.MaxRuns + 1,
      s"versions scanned per lookup: $scanned")
    assert(t.state().count() == 20000)
  }

  test("append-only: a batch that outweighs the state folds straight into " +
      "new bases, without writing a run first") {
    val root = Files.createTempDirectory("graft-hot")
    val t = new KeyedParquetTable(s, table, root.toString)
    // hot keys: every batch writes each of 200 keys twice
    def hot(b: Long) = mapped((0L until 200L).flatMap(k =>
      Seq((k, b * 10, b * 10), (k, b * 10 + 1, b * 10 + 1))): _*)
    // batch 1 folds into the empty table; batch 2's run outweighs the base
    // and compacts, which predicts that batch 3 will too
    val jobs = (1L to 3L).map(b =>
      jobsDuring(s"hot-$b")(t.applyBatch(hot(b), batchId = b))._2)
    assert(live(root.toString).map(_._1) == Seq(3))
    assert(jobs(2) < jobs(1), s"direct fold ran ${jobs(2)} jobs, run + compaction ${jobs(1)}")
    // the prediction is in the manifest: a fresh instance over a copy folds
    // the next batch straight into the base too
    val copy = Files.createTempDirectory("graft-hot-copy")
    copyTree(root, copy)
    val fresh = new KeyedParquetTable(s, table, copy.toString)
    val (_, reopened) = jobsDuring("hot-reopened")(fresh.applyBatch(hot(4), batchId = 4L))
    val (_, direct) = jobsDuring("hot-direct")(t.applyBatch(hot(4), batchId = 4L))
    assert(reopened == direct, s"reopened store ran $reopened jobs, the open one $direct")
    assert(live(root.toString).map(_._1) == Seq(4) && live(copy.toString).map(_._1) == Seq(4))
    val cols = Seq("my_pk", "my_value")
    assert(rowsOf(t.state(), cols) == (0L until 200L).map(k => Seq(k, 41L)))
    assert(rowsOf(fresh.state(), cols) == rowsOf(t.state(), cols))
  }

  test("a read is one file scan over the base and every run, each row " +
      "tagged with its run") {
    val root = Files.createTempDirectory("graft-scan").toString
    val t = new KeyedParquetTable(s, table, root)
    t.applyBatch(mapped((1L to 100L).map(k => (k, k, 100L)): _*), batchId = 1L)
    // four runs write key 1 at one writetime: the latest run wins the tie
    (2L to 5L).foreach(b => t.applyBatch(mapped((1L, b * 10, 500L)), batchId = b))
    assert(live(root).map(_._1) == (1 to 5))
    Seq(t.state(), t.unfolded()).foreach { df =>
      val plan = df.queryExecution.sparkPlan
      val scans = plan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.size == 1, plan.toString)
    }
    assert(t.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 100L).map(k => k -> (if (k == 1L) 50L else k)).toMap)
    // the run is a column, not a literal per version: reads over versions
    // no read has seen compile no new classes
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    (6L to 8L).foreach { b =>
      t.applyBatch(mapped((1L, b * 10, 500L)), batchId = b)
      t.state().collect()
    }
    assert(compiles.getCount == before, "a read over new versions compiled classes")
  }

  test("a run holds at most one part file per write task") {
    val root = Files.createTempDirectory("graft-tasks").toString
    val t = new KeyedParquetTable(s, table, root)
    t.applyBatch(mapped((1L to 4000L).map(k => (k, k, 100L)): _*), batchId = 1L)
    // three write tasks (kept apart, not coalesced), each holding keys of
    // every hash
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      t.applyBatch(mapped((1L to 3000L).map(k => (k, -k, 200L)): _*).repartition(3),
        batchId = 2L)
    }
    assert(live(root).map(_._1) == Seq(1, 2))
    val parts = Files.walk(Paths.get(root, "v2")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
    assert(parts.size == 3, s"run v2 holds ${parts.size} part files: $parts")
  }
}

package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.operators.RecordMapper

/** Bucketed, append-only state: a batch writes one run holding only the
  * buckets its keys hash to; reads fold bases and runs exactly as the
  * sequential per-batch merge would; compaction and vacuum keep disk
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
    // vacuum keeps exactly the versions that are a base or a run of some
    // bucket (the disk bound is the 32-batch fresh-keys test's)
    val ptr = bases(root)
    versionDirs(root).foreach { d =>
      val v = d.drop(1).toInt
      val held = Files.list(Paths.get(root, d)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("__bucket="))
        .map(_.stripPrefix("__bucket=").toInt).toSet
      assert(ptr.values.exists(_ == v) || held.exists(k => v > ptr.getOrElse(k, 0)),
        s"$d is neither a base nor a run")
    }
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
    // touch every key again, then compact: every bucket's base moves past
    // v1 and v2, and both become garbage
    t.applyBatch(mapped((1L, 11L, 200L), (2L, 22L, 200L), (3L, 33L, 200L),
      (4L, 44L, 200L)), batchId = 2L)
    t.sweep(lit(true))
    assert(versionDirs(root) == Set("v3"))
    assert(t.state().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 11L, 2L -> 22L, 3L -> 33L, 4L -> 44L))
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

  /** Bucket → base version, as the manifest's `k:v` lines say. */
  private def bases(root: String): Map[Int, Int] =
    if (!Files.exists(Paths.get(root, "CURRENT"))) Map.empty
    else Files.readString(Paths.get(root, "CURRENT")).split('\n').drop(1)
      .filter(l => l.nonEmpty && !l.startsWith("b ")).map { l =>
        val Array(k, v) = l.split(':'); k.toInt -> v.toInt
      }.toMap

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
    * that no run outweighs it (1,500 rows per bucket of 8). */
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
      // 8 buckets: the 6 batches stay under the bound of numBuckets runs
      val t = new KeyedParquetTable(s, d.table, root, nullToUnset = d.nullToUnset,
        numBuckets = 8, mergeMode = d.mergeMode)
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
      val seeded = bases(root)
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
        assert(bases(root) == seeded, s"${d.name}: a run outweighed the seeded base")
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
    val t = new KeyedParquetTable(s, seen, root.toString, numBuckets = 2)
    t.applyBatch(sightings(1L to 4000L, 10L), batchId = 1L)
    def snapshot(k: KeyedParquetTable) =
      (rowsOf(k.state(), Seq("h", "last_seen")),
        k.unfoldedForBuckets(Set(0, 1)).select("h").collect().map(_.getLong(0)).toSet)

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
      val tc = new KeyedParquetTable(s, seen, copy.toString, numBuckets = 2)
      tc.applyBatch(sightings(keys, id * 10), batchId = id, retain = retain)
      val v = s"v${maxV + 1}"
      assert(Files.exists(copy.resolve(v)))
      assert(bases(copy.toString).values.exists(_ == maxV + 1) == retain.isDefined,
        s"batch $id: only the retain batch compacts")
      copyTree(copy.resolve(v), root.resolve(v))
      val leftover = du(root.resolve(v))
      val leftoverFiles = Files.walk(root.resolve(v)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      assert(leftover > 0 && leftoverFiles.nonEmpty)

      // invisible to state and to the dedup lookup
      assert(snapshot(t) == before, s"batch $id: an unflipped version is visible")
      assert(snapshot(new KeyedParquetTable(s, seen, root.toString, numBuckets = 2)) ==
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
    // bases: run sizes compare to the first run
    val root = Files.createTempDirectory("graft-fresh")
    val t = new KeyedParquetTable(s, table, root.toString, numBuckets = 4)
    val r = new java.util.SplittableRandom(5)
    val written = (1 to 32).map { b =>
      t.applyBatch(mapped(Seq.fill(1000) {
        (r.nextLong(), r.nextLong(), b.toLong)
      }: _*), batchId = b.toLong)
      // each batch is one version; a compaction flips bucket pointers to it
      val compacted = bases(root.toString).filter(_._2 == b).keySet
      if (b % 8 == 0) {
        val copy = Files.createTempDirectory("graft-fresh-copy")
        copyTree(root, copy)
        new KeyedParquetTable(s, table, copy.toString, numBuckets = 4).sweep(lit(true))
        val onDisk = du(root)
        val bound = 2 * du(copy) + du(root.resolve(s"v$b"))
        assert(onDisk <= bound, s"batch $b: $onDisk bytes on disk > $bound")
      }
      (compacted, du(root.resolve(s"v$b")))
    }
    assert(written.head._1.size == 4, "the first batch compacts into empty buckets")
    val runs = written.filter(_._1.isEmpty).map(_._2)
    assert(runs.size >= 16 && runs.forall(_ <= 1.5 * runs.head),
      s"run bytes ${runs.max} vs the first run's ${runs.head}")
    // a bucket compacts once its runs outweigh its base, so its base grows
    // geometrically and each row is rewritten O(log n) times. A run is
    // written one file per (task, bucket), so while runs are small their
    // bytes per row exceed a base's and compactions come about twice as
    // often as pure doubling: ≤ 2 log2(32) + 2, not one per batch
    (0 until 4).foreach { k =>
      val n = written.count(_._1.contains(k))
      assert(n >= 2 && n <= 12, s"bucket $k compacted $n times")
    }
    assert(t.state().count() == 32000)
  }

  test("append-only: a bucket holds at most numBuckets runs, so a lookup " +
      "scans a bounded number of versions however many batches ran") {
    val root = Files.createTempDirectory("graft-runs")
    val t = new KeyedParquetTable(s, table, root.toString, numBuckets = 4)
    // a base far heavier than the 64 batches together: by bytes alone, no
    // bucket would ever compact
    t.applyBatch(mapped((1L to 20000L).map(k => (k, k, 1L)): _*), batchId = 0L)
    val VersionOf = "/v(\\d+)/".r
    def versions(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(f => VersionOf.findFirstMatchIn(f).get.group(1)).toSet.size
    val r = new java.util.SplittableRandom(7)
    val scanned = (1 to 64).map { b =>
      t.applyBatch(mapped(Seq.fill(8) {
        (1L + r.nextLong(20000L), r.nextLong(), b.toLong + 1)
      }: _*), batchId = b.toLong)
      (0 until 4).map(k => versions(t.unfoldedForBuckets(Set(k)))).max
    }
    // a base and at most numBuckets runs, and the bound is what holds it
    assert(scanned.max == 5, s"versions scanned per bucket lookup: $scanned")
    assert(t.state().count() == 20000)
  }

  test("append-only: a batch that outweighs the state folds straight into " +
      "new bases, without writing a run first") {
    val root = Files.createTempDirectory("graft-hot")
    val t = new KeyedParquetTable(s, table, root.toString, numBuckets = 4)
    // hot keys: every batch writes each of 200 keys twice
    def hot(b: Long) = mapped((0L until 200L).flatMap(k =>
      Seq((k, b * 10, b * 10), (k, b * 10 + 1, b * 10 + 1))): _*)
    // batch 1 folds into the empty table; batch 2's run tips every bucket,
    // which predicts that batch 3 will too
    (1L to 3L).foreach(b => t.applyBatch(hot(b), batchId = b))
    assert(bases(root.toString).values.toSet == Set(3))
    // the same batch on a fresh instance of a copy predicts nothing: it
    // writes a run, then compacts
    val copy = Files.createTempDirectory("graft-hot-copy")
    copyTree(root, copy)
    val fresh = new KeyedParquetTable(s, table, copy.toString, numBuckets = 4)
    val (_, viaRun) = jobsDuring("hot-run")(fresh.applyBatch(hot(4), batchId = 4L))
    val (_, direct) = jobsDuring("hot-direct")(t.applyBatch(hot(4), batchId = 4L))
    assert(direct < viaRun, s"direct fold ran $direct jobs, run + compaction $viaRun")
    assert(bases(root.toString).values.toSet == Set(4) &&
      bases(copy.toString).values.toSet == Set(4))
    val cols = Seq("my_pk", "my_value")
    assert(rowsOf(t.state(), cols) == (0L until 200L).map(k => Seq(k, 41L)))
    assert(rowsOf(fresh.state(), cols) == rowsOf(t.state(), cols))
  }
}

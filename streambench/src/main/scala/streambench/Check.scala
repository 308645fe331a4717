package streambench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mapping.SinkConfig.TableBinding
import graft.operators.Sampling
import graft.streaming.StreamingDedup

import Main.{Input, Rig}

/** Correctness verdict of one run, made after timing by comparing the final
  * store state with the expected state. `failedRecords` counts records the
  * program lost, failed or left wrong. The curate_text plant and drop
  * counts feed the per-layer metrics. */
final case class Check(ok: Boolean, failedRecords: Long, notes: Seq[String],
    tableRows: Long, dedupRows: Long,
    exactPlants: Long = 0, exactDropped: Long = 0,
    nearPlants: Long = 0, nearDropped: Long = 0,
    offdomain: Long = 0, offdomainDropped: Long = 0, falseDrops: Long = 0)

object Check {
  private def short(v: Any): String = {
    val s = v.toString
    if (s.length <= 60) s else s.take(57) + "..."
  }

  /** Keys missing, extra or holding another value than expected. */
  def diff[K, V](actual: Map[K, V], expected: Map[K, V],
      notes: mutable.ArrayBuffer[String], what: String): Long = {
    val bad = expected.count { case (k, v) => !actual.get(k).contains(v) } +
      actual.keysIterator.count(k => !expected.contains(k))
    if (bad > 0) {
      notes += s"$bad $what rows missing, extra or wrong"
      expected.iterator.filter { case (k, v) => !actual.get(k).contains(v) }.take(3)
        .foreach { case (k, v) =>
          notes += s"  $k: expected ${short(v)}, found ${actual.get(k).map(short)}" }
    }
    bad
  }

  def apply(spark: SparkSession, in: Input, rig: Rig, nFiles: Int): Check = {
    val wl = in.wl
    val pipe = rig.pipe
    val notes = mutable.ArrayBuffer[String]()
    val mappingFailed = Main.counter(pipe, "failedRecordCount")
    val deadRoot = rig.storeRoot.resolve("_dead_letter")
    val deadRows =
      if (Files.exists(deadRoot)) spark.read.parquet(deadRoot.toString + "/*").count() else 0L
    val unknown = pipe.failedWithUnknownTopic.value.longValue
    var failed = math.max(mappingFailed, deadRows) + unknown
    if (failed > 0)
      notes += s"$mappingFailed failedRecordCount, $deadRows dead-letter rows, $unknown unknown-topic"
    val total = in.totalRecords(nFiles)
    def state(b: TableBinding): Array[Row] = {
      val t = wl.tables(b.qualifiedTable)
      pipe.store(spark, b).state().select(t.schema.fieldNames.toSeq.map(col): _*).collect()
    }
    val dedupRows = rig.config.bindings.filter(_.dedupEnabled)
      .map(b => pipe.dedupStore(spark, b).state().count()).sum

    wl match {
      case UpsertTicks =>
        val actual = state(rig.config.bindings.head).map(r =>
          (r.getString(0), r.getTimestamp(1).getTime) ->
            (r.getString(2), r.getString(3), r.getString(4), r.getDouble(5))).toMap
        val g = UpsertTicks.gen(in.p.seed)
        val expected = (0L until total).iterator.map { i =>
          g.next(i)
          val s = g.last.sym
          (UpsertTicks.symbol(s), UpsertTicks.BaseTickMs + i) ->
            (UpsertTicks.exchange(s), UpsertTicks.industry(s), UpsertTicks.company(s),
              g.last.cents / 100.0)
        }.toMap
        failed += diff(actual, expected, notes, "stocks.ticks")
        Check(failed == 0, failed, notes.toSeq, actual.size, dedupRows)

      case HotUpdates =>
        val model = in.gen.asInstanceOf[HotUpdates.HotGen].model
        var rows = 0L
        rig.config.bindings.foreach { b =>
          val rs = state(b)
          rows += rs.length
          failed += (if (b.table == "kv") {
            val expected = (0 until HotUpdates.NumKeys).flatMap(k =>
              model.lww(k).map(v => HotUpdates.key(k) -> v)).toMap
            diff(rs.map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap,
              expected, notes, "hot.kv")
          } else {
            val expected = (0 until HotUpdates.NumKeys).filter(model.seen(_))
              .map(k => HotUpdates.key(k) -> model.sums(k)).toMap
            diff(rs.map(r => r.getString(0) -> r.getLong(1)).toMap, expected, notes, "hot.cnt")
          })
        }
        Check(failed == 0, failed, notes.toSeq, rows, dedupRows)

      case CurateText =>
        val b = rig.config.bindings.head
        val actual = state(b).map(r => r.getString(0) -> r.getString(1)).toMap
        val g = CurateText.gen(in.p.seed)
        val recs = (0L until total).map(i => (g.next(i), g.lastKind))
        val exp = expectedCurate(spark, in, rig, b, recs.map(_._1))
        failed += diff(actual, exp.kept, notes, "curate.docs")
        var ex, exD, nr, nrD, off, offD, falseDrops, exactStored = 0L
        recs.foreach { case (r, kind) =>
          val present = actual.contains(r.key)
          kind match {
            case _: CurateText.Exact =>
              ex += 1
              if (present) exactStored += 1 else exD += 1
            case _: CurateText.Near => nr += 1; if (!present) nrD += 1
            case CurateText.OffDomain => off += 1; if (!present) offD += 1
            // an original the quality model keeps but the table lacks:
            // dedup dropped it for sharing a band with another record
            case CurateText.Original =>
              if (!present && exp.passed(r.key)) falseDrops += 1
          }
        }
        // a planted exact copy must never reach the table (the diff above
        // counts it as an extra row)
        if (exactStored > 0) notes += s"$exactStored planted exact copies reached the table"
        val kept = Main.counter(pipe, "dedupKeptCount")
        if (actual.size != kept)
          notes += s"table has ${actual.size} rows but dedupKeptCount sums to $kept"
        failed += math.abs(actual.size - kept)
        val qualityKept = Main.counter(pipe, "qualityKeptCount")
        if (qualityKept != exp.passed.size)
          notes += s"qualityKeptCount is $qualityKept, the quality model keeps ${exp.passed.size}"
        failed += math.abs(qualityKept - exp.passed.size)
        Check(failed == 0 && exactStored == 0, failed, notes.toSeq, actual.size, dedupRows,
          exactPlants = ex, exactDropped = exD, nearPlants = nr, nearDropped = nrD,
          offdomain = off, offdomainDropped = offD, falseDrops = falseDrops)
    }
  }

  /** What curate_text's table must hold, and the keys of the records the
    * quality model keeps.
    *
    * The model and the MinHash banding come from the program's public
    * entrypoints (`Sampling.dsirScore`, `StreamingDedup.bandRows`); the
    * streaming dedup itself is replayed here in memory. A record the model
    * keeps is dropped when one of its bands belongs to a kept-by-quality
    * record that came before it: in an earlier batch, or earlier in
    * (partition, offset) order within its batch. Dropped records still hold
    * their bands. Batch membership comes from the checkpoint's file log. */
  final case class Expected(kept: Map[String, String], passed: Set[String])

  def expectedCurate(spark: SparkSession, in: Input, rig: Rig, b: TableBinding,
      recs: Seq[Rec]): Expected = {
    val (thr, histDir) = b.qualityDsirParams.get
    val (numHashes, rowsPerBand) = b.dedupNearParams.get
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(recs.map(r => Row(r.key, r.value)): _*),
      StructType(Seq(StructField("key", StringType), StructField("value", StringType))))
      .persist()
    val passed = Sampling.dsirScore(docs, spark.read.parquet(histDir), "value", "key")
      .filter(col("w_q_avg") >= thr).select("doc_id").collect().map(_.getString(0)).toSet
    val bands = StreamingDedup.bandRows(docs.filter(col("key").isInCollection(passed)),
      "value", Seq("key"), numHashes = numHashes, rowsPerBand = rowsPerBand)
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getLong(2))).toSeq).toMap
    docs.unpersist()
    val fileBatch = rig.fileBatches()
    def batch(i: Long): Long =
      if (i < in.wl.seedRecords) Long.MinValue
      else fileBatch.getOrElse(Main.fileName(((i - in.wl.seedRecords) /
        in.wl.recordsPerFile).toInt), Long.MaxValue)
    val order = recs.zipWithIndex.filter { case (r, _) => passed(r.key) }
      .sortBy { case (r, i) => (batch(i.toLong), r.partition, r.offset) }
    val seen = mutable.HashSet[(Int, Long)]()
    val kept = mutable.Map[String, String]()
    order.foreach { case (r, _) =>
      val own = bands.getOrElse(r.key, Nil)
      if (!own.exists(seen)) kept(r.key) = r.value
      seen ++= own
    }
    Expected(kept.toMap, passed)
  }
}

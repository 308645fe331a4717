package streambench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{RecordMapper, Sampling}
import graft.streaming.{SinkPipeline, StreamingDedup}

import Main.{Input, Pass, Rig}

/** A store's manifest (`CURRENT`): newest version and bucket → version. */
final case class Manifest(maxV: Int, buckets: Map[Int, Int]) {
  def atMax: Int = buckets.count(_._2 == maxV)
}
object Manifest {
  def read(root: Path): Option[Manifest] = {
    val f = root.resolve("CURRENT")
    if (!Files.exists(f)) None
    else {
      val lines = Files.readString(f).trim.split('\n')
      val maxV = lines.head.split(' ')(0).toInt
      val b = lines.tail.filter(l => l.nonEmpty && !l.startsWith("b ")).map { l =>
        val Array(k, v) = l.split(':'); k.toInt -> v.toInt
      }.toMap
      Some(Manifest(maxV, b))
    }
  }
  /** Bytes of regular files under `p`. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  /** Bytes of the versions the manifest points at. */
  def liveBytes(root: Path): Long = read(root) match {
    case None => 0L
    case Some(m) => m.buckets.toSeq.map { case (b, v) =>
      du(root.resolve(s"v$v").resolve(s"__bucket=$b")) }.sum
  }
}

/** Per-batch bookkeeping of the traced pass. Runs after `processBatch`
  * returns, so its cost lands in the batch span but not in processBatch. */
final class Tracer(val spans: Spans, val listener: BatchTaskListener) {
  import Tracer._
  val batches = mutable.LinkedHashMap[Long, BatchTrace]()
  private val lastV = mutable.Map[Path, Int]()

  /** Buckets the batch rewrote and bytes it wrote, summed over stores. */
  private def step(roots: Seq[Path]): StoreStep = roots.foldLeft(StoreStep(0, 0L)) {
    case (acc, root) => Manifest.read(root) match {
      case Some(m) if m.maxV > lastV.getOrElse(root, 0) =>
        lastV(root) = m.maxV
        StoreStep(acc.touched + m.atMax,
          acc.bytes + Manifest.du(root.resolve(s"v${m.maxV}")))
      case _ => acc
    }
  }

  def tableRoots(rig: Rig): Seq[Path] =
    rig.config.bindings.map(_.qualifiedTable).distinct.map(rig.storeRoot.resolve)
  def dedupRoots(rig: Rig): Seq[Path] = rig.config.bindings.filter(_.dedupEnabled)
    .flatMap { b =>
      val d = rig.storeRoot.resolve("_dedup").resolve(s"${b.topic}.${b.qualifiedTable}")
      if (!Files.exists(d)) Nil
      else Files.list(d).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    }

  /** Prime the version watermarks so the first traced batch counts only
    * its own writes. */
  def prime(rig: Rig): Unit = { step(tableRoots(rig)); step(dedupRoots(rig)) }

  def afterBatch(rig: Rig, id: Long, t0: Long, t1: Long, gcMs: Long): Unit = {
    val phases = rig.pipe.lastBatchPhaseMs
    val apply = rig.config.bindings.map(b =>
      rig.pipe.store(rig.spark, b).lastApplyPhaseMs)
      .foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a + (k -> (a.getOrElse(k, 0L) + v)) } }
    val table = step(tableRoots(rig))
    val dedup = step(dedupRoots(rig))
    val t2 = System.nanoTime()
    val batchSpan = spans.add("batch", t0, t2, 0, id)
    val pb = spans.add("processBatch", t0, t1, batchSpan, id)
    var t = t0
    Layers.PhaseOrder.foreach { name =>
      phases.get(name).foreach { ms =>
        val end = t + ms * 1000000L
        val sp = spans.add(name, t, end, pb, id)
        if (name == "write")
          spans.addSequential(sp, t, id, Layers.ApplyOrder.flatMap(k =>
            phases.get(s"write_$k").map(s"write_$k" -> _)))
        t = end
      }
    }
    spans.add("trace.bookkeeping", t1, t2, batchSpan, id)
    batches(id) = BatchTrace(id, t0, t1, t2, phases, apply, gcMs, table, dedup)
  }

  /** Tracing overhead: wall time of traced batches (processBatch plus the
    * bookkeeping above) against untraced batches of the same pass. */
  def overhead(rig: Rig, ps: Pass): String = {
    val (tr, un) = ps.batchIds.partition(traced)
    val trMs = tr.flatMap(batches.get).map(b => (b.doneNs - b.startNs) / 1e6)
    val unMs = un.flatMap(id => Option(rig.batches.get(id))).map(b => (b._2 - b._1) / 1e6)
    val d = Stats.mean(trMs) - Stats.mean(unMs)
    f"  tracing overhead (traced - untraced batches of this pass): ${d}%+.1f ms per batch " +
      f"(traced mean ${Stats.mean(trMs)}%.1f ms over ${trMs.size}, untraced mean " +
      f"${Stats.mean(unMs)}%.1f ms over ${unMs.size}; " +
      f"${if (unMs.isEmpty) 0.0 else 100 * d / Stats.mean(unMs)}%+.1f%%)\n"
  }
}

object Tracer {
  /** Odd batches are traced, even ones are not. */
  def traced(batchId: Long): Boolean = batchId % 2 == 1
  final case class StoreStep(touched: Int, bytes: Long)
  final case class BatchTrace(id: Long, startNs: Long, endNs: Long, doneNs: Long,
      phases: Map[String, Long], apply: Map[String, Long], gcMs: Long,
      table: StoreStep, dedup: StoreStep)
}

/** Layer-isolation pass: replays the first drain batches of the traced pass
  * through each layer's public entrypoint on scratch copies of the stores
  * taken just before the drain, forcing every result. The program's own
  * phase timers book lazily planned quality and dedup work under the
  * write's collect job; forcing each layer separately shows its real cost. */
final case class Isolation(ms: Map[String, Seq[Double]], counts: Map[String, Seq[Double]]) {
  def p50(k: String): Double = Stats.median(ms.getOrElse(k, Nil))
  def mean(k: String): Double = Stats.mean(counts.getOrElse(k, Nil))
}

object Isolation {
  val Batches = 3

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def apply(spark: SparkSession, in: Input, rig: Rig, tp: Pass, spans: Spans,
      scratchRoot: Path): Isolation = {
    val ms = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val counts = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def rec(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String, v: Double) =
      m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    val scratch = new SinkPipeline(rig.config, in.wl.tables, scratchRoot.toString)
    val finalKeys = in.wl match {
      case CurateText =>
        Some(rig.pipe.store(spark, rig.config.bindings.head).state().select("id").persist())
      case _ => None
    }
    val fb = rig.fileBatches()
    val histDir = rig.dir.resolve("hist").toString
    tp.drainBatchIds.take(Batches).foreach { id =>
      val files = fb.collect { case (f, b) if b == id =>
        rig.src.resolve("drain").resolve(f).toString }.toSeq.sorted
      val input = Main.kafkaColumns(spark.read.schema(Main.FileSchema).json(files: _*))
        .persist()
      input.count()
      val s0 = System.nanoTime()
      rig.config.bindings.foreach { b =>
        val table = in.wl.tables(b.qualifiedTable)
        val slice = input.filter(col("topic") === b.topic)
        b.qualityDsirParams.foreach { case (_, _) =>
          val scorable = slice.filter(col("value").isNotNull).select(
            concat_ws("/", col("partition"), col("offset")).as("__qid"),
            col("value").as("__qtext"))
          val (_, t) = timed(force(Sampling.dsirScore(scorable,
            spark.read.parquet(histDir), "__qtext", "__qid")))
          rec(ms, "quality", t)
        }
        b.dedupNearParams.foreach { case (k, r) =>
          val ds = scratch.dedupStore(spark, b)
          val bands = StreamingDedup.bandRows(
            slice.filter(col("value").isNotNull)
              .select(col("partition"), col("offset"), col("value")),
            "value", Seq("partition", "offset"), numHashes = k, rowsPerBand = r)
            .persist()
          val (_, tb) = timed(bands.count())
          val (touched, tt) = timed(ds.touchedBuckets(bands.select("band_id", "band_hash")))
          val state = ds.stateForBuckets(touched).persist()
          val (_, ts) = timed(state.count())
          rec(ms, "dedup", tb + tt + ts)
          rec(counts, "dedup.buckets_touched", touched.size)
          val distinctBands = bands.select("band_id", "band_hash").distinct()
          val fresh = distinctBands.join(state.select("band_id", "band_hash"),
            Seq("band_id", "band_hash"), "left_anti")
          rec(counts, "sightings.buckets_fresh", ds.touchedBuckets(fresh).size)
          val nowMs = System.currentTimeMillis()
          val sightings = distinctBands
            .withColumn("last_seen", lit(nowMs))
            .withColumn(RecordMapper.WritetimeCol, lit(nowMs * 1000))
            .withColumn(RecordMapper.ModeCol, lit(RecordMapper.ModeUpsert))
          val (_, tsg) = timed(ds.applyBatch(sightings, id, binding = b.topic,
            knownTouched = Some(touched)))
          rec(ms, "sightings", tsg)
          state.unpersist(); bands.unpersist()
        }
        // the sink merges what the gates kept: for curate_text, the keys
        // that reached the final table
        val kept = finalKeys match {
          case Some(keys) => slice.join(keys.withColumnRenamed("id", "key"), Seq("key"), "left_semi")
          case None => slice
        }
        val mapped = RecordMapper.compile(b, table, kept, captureErrors = true)
          .filter(col(RecordMapper.ErrorCol).isNull).drop(RecordMapper.ErrorCol)
          .persist()
        val (_, tm) = timed(force(mapped))
        rec(ms, "mapping", tm)
        val st = scratch.store(spark, b)
        val (_, ta) = timed(st.applyBatch(mapped, id, binding = b.topic))
        rec(ms, "sink", ta)
        mapped.unpersist()
      }
      spans.add("isolation.batch", s0, System.nanoTime(), 0, id)
      input.unpersist()
    }
    finalKeys.foreach(_.unpersist())
    Isolation(ms.view.mapValues(_.toSeq).toMap, counts.view.mapValues(_.toSeq).toMap)
  }
}

/** Per-layer metrics and the self-time table of a traced run. */
final case class Layers(metrics: Seq[(String, Double, String)], table: String)

object Layers {
  /** The order `processBatch` runs its phases in (`lastBatchPhaseMs` keys). */
  val PhaseOrder = Seq("count", "quality", "dedup", "write", "metrics",
    "quality_counts", "sightings", "release", "unpersist")
  /** `KeyedParquetTable.lastApplyPhaseMs` keys in order. */
  val ApplyOrder = Seq("collect", "merge_plan", "merge_write", "meta", "unpersist")
  /** Phases that belong to the pipeline itself rather than a layer. */
  val PipelineOwn = Seq("count", "metrics", "release", "unpersist")

  def apply(in: Input, rig: Rig, tp: Pass, tracer: Tracer, iso: Isolation,
      check: Check): Layers = {
    import Tracer.BatchTrace
    val ids = tp.batchIds.filter(tracer.batches.contains)
    val bt = ids.map(tracer.batches)
    def ph(b: BatchTrace, k: String): Double = b.phases.getOrElse(k, 0L).toDouble
    def p50(f: BatchTrace => Double): Double = Stats.median(bt.map(f))
    def mean(f: BatchTrace => Double): Double = Stats.mean(bt.map(f))
    val batchMs = bt.map(b => (b.endNs - b.startNs) / 1e6)
    val layerPhases = Seq("quality", "dedup", "write", "quality_counts", "sightings")
    val selfMs = bt.map(b => (b.endNs - b.startNs) / 1e6 - layerPhases.map(ph(b, _)).sum)
    def lc(b: BatchTrace) =
      Option(tracer.listener.byBatch.get(b.id))
    val fileBatch = rig.fileBatches()
    val inputBytes = ids.map { id =>
      fileBatch.collect { case (f, bid) if bid == id =>
        in.fileBytes(Main.fileIndex(f)) }.sum }.sum
    val written = bt.map(_.table.bytes).sum.toDouble
    val recCount = Main.counter(rig.pipe, "recordCount")
    val failed = Main.counter(rig.pipe, "failedRecordCount")
    val m = Seq(
      ("sink.collect_ms_p50", p50(_.apply.getOrElse("collect", 0L).toDouble), "ms"),
      ("sink.merge_plan_ms_p50", p50(_.apply.getOrElse("merge_plan", 0L).toDouble), "ms"),
      ("sink.merge_write_ms_p50", p50(_.apply.getOrElse("merge_write", 0L).toDouble), "ms"),
      ("sink.meta_ms_p50", p50(_.apply.getOrElse("meta", 0L).toDouble), "ms"),
      ("sink.apply_isolated_ms_p50", iso.p50("sink"), "ms"),
      ("sink.buckets_touched_per_batch", mean(_.table.touched.toDouble), "count"),
      ("sink.bytes_written_per_batch", mean(_.table.bytes.toDouble), "B"),
      ("sink.write_amp", if (inputBytes == 0) 0.0 else written / inputBytes, "ratio"),
      ("sink.state_rows_end", check.tableRows.toDouble, "count"),
      ("sink.state_mb_end", tracer.tableRoots(rig).map(Manifest.liveBytes).sum / 1048576.0, "MB"),
      ("sink.rows_collapsed", (recCount - failed - check.tableRows).toDouble, "count"),
      ("pipeline.batch_ms_p50", Stats.median(batchMs), "ms"),
      ("pipeline.batch_ms_p95", Stats.pct(batchMs, 0.95), "ms"),
      ("pipeline.self_ms_p50", Stats.median(selfMs), "ms"),
      ("pipeline.jobs_per_batch", mean(b => lc(b).map(_.jobs.toDouble).getOrElse(0.0)), "count"),
      ("pipeline.stages_per_batch", mean(b => lc(b).map(_.stages.toDouble).getOrElse(0.0)), "count"),
      ("pipeline.tasks_per_batch", mean(b => lc(b).map(_.tasks.toDouble).getOrElse(0.0)), "count"),
      ("pipeline.shuffle_mb_per_batch",
        mean(b => lc(b).map(_.shuffleBytes / 1048576.0).getOrElse(0.0)), "MB"),
      ("pipeline.cpu_ms_per_batch", mean(b => lc(b).map(_.cpuNs / 1e6).getOrElse(0.0)), "ms"),
      ("jvm.gc_ms_per_batch", mean(_.gcMs.toDouble), "ms"),
      ("mapping.self_ms_p50", iso.p50("mapping"), "ms"),
      ("mapping.records_in", recCount.toDouble, "count"),
      ("mapping.records_out", (recCount - failed).toDouble, "count"),
      ("mapping.failed", failed.toDouble, "count"),
      ("quality.self_ms_p50", iso.p50("quality"), "ms"),
      ("quality.plan_ms_p50", p50(ph(_, "quality")), "ms"),
      ("quality.kept", Main.counter(rig.pipe, "qualityKeptCount").toDouble, "count"),
      ("quality.dropped", Main.counter(rig.pipe, "qualityDroppedCount").toDouble, "count"),
      ("quality.offdomain", check.offdomain.toDouble, "count"),
      ("quality.offdomain_dropped", check.offdomainDropped.toDouble, "count"),
      ("dedup.self_ms_p50", iso.p50("dedup"), "ms"),
      ("dedup.plan_ms_p50", p50(ph(_, "dedup")), "ms"),
      ("dedup.kept", Main.counter(rig.pipe, "dedupKeptCount").toDouble, "count"),
      ("dedup.dropped", Main.counter(rig.pipe, "dedupDroppedCount").toDouble, "count"),
      ("dedup.buckets_touched_per_batch", iso.mean("dedup.buckets_touched"), "count"),
      ("dedup.state_rows_end", check.dedupRows.toDouble, "count"),
      ("dedup.exact_plants", check.exactPlants.toDouble, "count"),
      ("dedup.exact_plant_dropped", check.exactDropped.toDouble, "count"),
      ("dedup.near_plants", check.nearPlants.toDouble, "count"),
      ("dedup.near_plant_dropped", check.nearDropped.toDouble, "count"),
      ("dedup.false_drops", check.falseDrops.toDouble, "count"),
      ("sightings.ms_p50", p50(ph(_, "sightings")), "ms"),
      ("sightings.isolated_ms_p50", iso.p50("sightings"), "ms"),
      ("sightings.buckets_rewritten_per_batch", mean(_.dedup.touched.toDouble), "count"),
      ("sightings.buckets_fresh_per_batch", iso.mean("sightings.buckets_fresh"), "count"),
      ("source.gen_late_ms_max", tp.genLateMsMax, "ms"),
      ("source.read_lag_ms_p50", tp.readLagMsP50, "ms"),
      ("source.batch_records_p50", tp.batchRecordsP50, "count"),
      ("source.backlog_records_max", tp.backlogMax.toDouble, "count"),
      ("source.backlog_records_end", tp.backlogEnd.toDouble, "count"))

    // self-time table: each layer's own phases, and its isolated cost
    val sumBatch = batchMs.sum
    def share(ms: Double) = if (sumBatch == 0) 0.0 else 100.0 * ms / sumBatch
    val batchP50 = Stats.median(batchMs)
    def isoShare(k: String) = if (batchP50 == 0) 0.0 else 100.0 * iso.p50(k) / batchP50
    val rows = Seq(
      ("pipeline (count, metrics, release, unpersist, other)",
        Stats.median(selfMs), selfMs.sum, Double.NaN, "-"),
      ("quality (plan + counts)", p50(b => ph(b, "quality") + ph(b, "quality_counts")),
        bt.map(b => ph(b, "quality") + ph(b, "quality_counts")).sum, iso.p50("quality"),
        s"kept ${Main.counter(rig.pipe, "qualityKeptCount")} dropped ${Main.counter(rig.pipe, "qualityDroppedCount")}"),
      ("dedup (plan + touched-bucket collect)", p50(ph(_, "dedup")), bt.map(ph(_, "dedup")).sum,
        iso.p50("dedup"),
        s"kept ${Main.counter(rig.pipe, "dedupKeptCount")} dropped ${Main.counter(rig.pipe, "dedupDroppedCount")}"),
      ("mapping (runs inside write)", Double.NaN, Double.NaN, iso.p50("mapping"),
        s"in $recCount out ${recCount - failed} failed $failed"),
      ("sink write (collect+merge+meta)", p50(ph(_, "write")), bt.map(ph(_, "write")).sum,
        iso.p50("sink"), f"buckets/batch ${mean(_.table.touched.toDouble)}%.1f rows_end ${check.tableRows}"),
      ("sightings", p50(ph(_, "sightings")), bt.map(ph(_, "sightings")).sum, iso.p50("sightings"),
        f"buckets/batch ${mean(_.dedup.touched.toDouble)}%.1f fresh ${iso.mean("sightings.buckets_fresh")}%.1f"))
    val sb = new StringBuilder
    sb ++= f"  traced pass: ${bt.size} batches, processBatch p50 $batchP50%.1f ms\n"
    sb ++= f"  ${"layer"}%-52s ${"self p50"}%9s ${"share"}%7s ${"isolated"}%9s ${"iso/batch"}%9s  counts\n"
    rows.foreach { case (name, p, total, isoMs, cnt) =>
      def num(x: Double, w: Int) = if (x.isNaN) " " * (w - 1) + "-" else s"%${w}.1f".format(x)
      val sh = if (total.isNaN) Double.NaN else share(total)
      val ish = if (isoMs.isNaN || batchP50 == 0) Double.NaN else 100.0 * isoMs / batchP50
      sb ++= f"  $name%-52s ${num(p, 9)} ${num(sh, 6)}%% ${num(isoMs, 9)} ${num(ish, 8)}%%  $cnt\n"
    }
    m.foreach { case (k, v, u) => sb ++= f"  $k%-40s $v%14.3f $u\n" }
    Layers(m, sb.result())
  }
}

/** Single-threaded baseline: `upsert_ticks` at `local[1]` — the same
  * set-up and a drain of the same batch size. A diagnostic with counts;
  * never gated. */
object Baseline {
  def apply(p: Main.Params, in: Input, warm: Range, drain: Range): String = {
    val spark = Main.session(p, 1)
    try {
      val (rig, steps) = Main.setup(spark, in, "baseline", warm)
      val setupS = steps.map(_._2).sum
      val t0 = Main.publishAll(in, drain, rig, "drain", copy = false)
      rig.query.processAllAvailable()
      val recs = rig.batchRecords(drain, rig.fileBatches())
      val last = recs.keys.flatMap(b => Option(rig.batches.get(b))).map(_._2).max
      rig.stop()
      val n = recs.values.sum
      f"  baseline ${spark.sparkContext.master} (diagnostic, not gated): sustainable_rps ${n / ((last - t0) / 1e9)}%.1f " +
        f"over $n records in ${recs.size} batches; set-up ${setupS}%.2f s\n"
    } finally spark.stop()
  }
}

package streambench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mapping.SinkConfig
import graft.streaming.SinkPipeline

/** Open-loop streaming-sink benchmark. One invocation runs one workload:
  *
  *  1. set-up: Spark session, DSIR histogram training, store pre-seed and
  *     one warm-up batch through the streaming query;
  *  2. open loop, `--seconds` of offered load: a generator thread makes one file
  *     visible whenever its last record falls due at the workload's fixed
  *     offered rate — this phase gives event→commit latency;
  *  3. drain: a pre-written backlog becomes visible at once (one directory
  *     rename) and drains at the fixed batch size (`maxFilesPerTrigger`) —
  *     this gives the sustainable rate;
  *  4. correctness check against the generator's expected state.
  *
  * The query is a file-source Structured Streaming query whose
  * `foreachBatch` calls [[SinkPipeline.processBatch]], the production
  * per-batch path. With `--trace 1` every odd batch is traced (spans, a
  * SparkListener, store manifests) so traced and untraced batches of one
  * run give the tracing overhead; a layer-isolation pass follows and, for
  * `upsert_ticks`, a single-threaded `local[1]` baseline.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --out DIR
  */
object Main {
  final case class Params(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path)

  /** Exit code of a run flagged invalid (late generator or growing
    * open-loop backlog): no result is printed. */
  val InvalidExit = 3
  /** A generator later than this did not offer the scheduled load. */
  val LateLimitMs = 250.0
  /** Open-loop backlog above this many drained batches means the offered
    * rate was not sustained. */
  val BacklogLimitBatches = 2
  val BaselineDrainBatches = 3

  def parse(args: Array[String]): Params = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Params(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath)
  }

  /** Spark's cores: all but one, which the generator thread and the
    * driver share. */
  def cores: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          System.err.println("streambench failed: " + e)
          e.printStackTrace(System.err)
          1
      }
    System.out.flush()
    System.exit(code)
  }

  /** Kafka-shaped JSON lines as the generator writes them. */
  val FileSchema: StructType = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("key", StringType),
    StructField("value", StringType), StructField("ts", LongType)))

  def kafkaColumns(df: DataFrame): DataFrame = df.select(col("topic"),
    col("partition"), col("offset"), col("key"), col("value"),
    timestamp_micros(col("ts")).as("timestamp"))

  def line(r: Rec): String =
    "{\"topic\":" + Workloads.jstr(r.topic) + ",\"partition\":" + r.partition +
      ",\"offset\":" + r.offset + ",\"key\":" +
      (if (r.key == null) "null" else Workloads.jstr(r.key)) + ",\"value\":" +
      (if (r.value == null) "null" else Workloads.jstr(r.value)) +
      ",\"ts\":" + r.tsMicros + "}\n"

  def fileName(f: Int): String = f"f$f%06d.json"
  def fileIndex(name: String): Int = name.stripPrefix("f").stripSuffix(".json").toInt

  def session(p: Params, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("streambench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", p.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", p.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Everything one streaming set-up owns. The source directory holds one
    * sub-directory per publication (warm-up, open loop, backlog). */
  final class Rig(val spark: SparkSession, val wl: Workload, val dir: Path,
      val pipe: SinkPipeline, val config: SinkConfig.Config) {
    val src: Path = dir.resolve("src")
    val ck: Path = dir.resolve("ck")
    val storeRoot: Path = dir.resolve("store")
    /** batch id → (start ns, end ns) of the `processBatch` call. */
    val batches = new ConcurrentHashMap[Long, (Long, Long)]()
    /** Set during a traced run: odd batches are traced. */
    @volatile var tracer: Option[Tracer] = None
    var query: org.apache.spark.sql.streaming.StreamingQuery = _

    def start(): Unit = {
      Files.createDirectories(src.resolve("open"))
      val stream = kafkaColumns(spark.readStream.schema(FileSchema)
        .option("maxFilesPerTrigger", wl.filesPerBatch.toString)
        .json(src.toString + "/*"))
      query = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val tr = tracer.filter(_ => Tracer.traced(id))
          val gc0 = if (tr.isDefined) Heap.gcMs else 0L
          val t0 = System.nanoTime()
          pipe.processBatch(batch, id)
          val t1 = System.nanoTime()
          tr.foreach(_.afterBatch(this, id, t0, t1, Heap.gcMs - gc0))
          batches.put(id, (t0, t1))
          ()
        }
        .option("checkpointLocation", ck.toString)
        .start()
    }

    /** Source file name → batch id, from the file-source log in the
      * checkpoint (no Spark job). */
    def fileBatches(): Map[String, Long] = {
      val logDir = ck.resolve("sources").resolve("0")
      if (!Files.exists(logDir)) return Map.empty
      val out = mutable.Map[String, Long]()
      val ls = Files.list(logDir)
      try ls.iterator().asScala.filter(f => !f.getFileName.toString.startsWith("."))
        .foreach { f =>
          Files.readAllLines(f).asScala.filter(_.startsWith("{")).foreach { l =>
            val path = """"path":"([^"]*)"""".r.findFirstMatchIn(l).map(_.group(1))
            val id = """"batchId":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
            for (pth <- path; b <- id)
              out(pth.substring(pth.lastIndexOf('/') + 1)) = b
          }
        }
      finally ls.close()
      out.toMap
    }

    /** Batch ids of the given stream files, with each batch's record count. */
    def batchRecords(files: Range, fb: Map[String, Long]): Map[Long, Long] =
      files.flatMap(f => fb.get(fileName(f))).groupBy(identity)
        .view.mapValues(_.size.toLong * wl.recordsPerFile).toMap

    def stop(): Unit = if (query != null) {
      query.stop()
      query = null
    }
  }

  /** A pipeline counter summed over bindings, by name suffix. */
  def counter(pipe: SinkPipeline, suffix: String): Long =
    pipe.recordCount.iterator.collect {
      case (k, acc) if k.endsWith("." + suffix) => acc.value.longValue
    }.sum

  /** Pre-written input for the whole run, written before the session
    * starts. Stream files live in `stage/` until published. */
  final class Input(val p: Params, val wl: Workload, nStreamFiles: Int) {
    val stage: Path = p.work.resolve("stage")
    val seedDir: Path = p.work.resolve("seed")
    val trainDir: Path = p.work.resolve("train")
    val gen: Gen = wl.gen(p.seed)
    /** Bytes of each stream file. */
    val fileBytes = new Array[Long](nStreamFiles)

    def write(): Unit = {
      Files.createDirectories(stage)
      Files.createDirectories(seedDir)
      val sb = new StringBuilder
      var i = 0L
      var part = 0
      while (i < wl.seedRecords) {
        sb ++= line(gen.next(i)); i += 1
        if (sb.length > (8 << 20) || i == wl.seedRecords) {
          Files.writeString(seedDir.resolve(f"seed$part%03d.json"), sb.result())
          sb.clear(); part += 1
        }
      }
      (0 until nStreamFiles).foreach { f =>
        sb.clear()
        (0 until wl.recordsPerFile).foreach { _ => sb ++= line(gen.next(i)); i += 1 }
        val bytes = sb.result().getBytes("UTF-8")
        fileBytes(f) = bytes.length
        Files.write(stage.resolve(fileName(f)), bytes)
      }
      if (wl.needsHistogram) {
        Files.createDirectories(trainDir)
        val (target, raw) = CurateText.trainingDocs(p.seed, CurateText.TrainingDocs)
        def lines(docs: Seq[String]) =
          docs.map(d => "{\"text\":" + Workloads.jstr(d) + "}\n").mkString
        Files.writeString(trainDir.resolve("target.json"), lines(target))
        Files.writeString(trainDir.resolve("raw.json"), lines(raw))
      }
    }
    /** Records of the seed and of stream files [0, nFiles). */
    def totalRecords(nFiles: Int): Long =
      wl.seedRecords.toLong + nFiles.toLong * wl.recordsPerFile
  }

  private val mtimes = new Object
  private var lastMtime = 0L
  /** Strictly increasing mtimes: the file source orders files by mtime, so
    * files reach batches in generation order, as a Kafka partition does. */
  private def nextMtime(): FileTime = mtimes.synchronized {
    lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
    FileTime.fromMillis(lastMtime)
  }

  /** Make stream file `f` visible in the rig's open-loop directory (atomic
    * rename). Returns the ns at which it became visible. */
  def publish(in: Input, f: Int, rig: Rig): Long = {
    val staged = in.stage.resolve(fileName(f))
    Files.setLastModifiedTime(staged, nextMtime())
    Files.move(staged, rig.src.resolve("open").resolve(fileName(f)),
      StandardCopyOption.ATOMIC_MOVE)
    System.nanoTime()
  }

  /** Make a whole set of stream files visible at once: gather them in a
    * staging directory, then rename the directory into the source. With
    * `copy` the staged files stay for later use. Returns the visible ns. */
  def publishAll(in: Input, files: Range, rig: Rig, name: String,
      copy: Boolean): Long = {
    val dir = in.stage.resolve(s"${rig.dir.getFileName}-$name")
    Files.createDirectories(dir)
    files.foreach { f =>
      val from = in.stage.resolve(fileName(f))
      val to = dir.resolve(fileName(f))
      if (copy) Files.copy(from, to) else Files.move(from, to)
      Files.setLastModifiedTime(to, nextMtime())
    }
    Files.move(dir, rig.src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    System.nanoTime()
  }

  /** Set-up: histogram, pipeline, pre-seed, query start, one warm-up batch.
    * Returns the rig and the seconds of each set-up step, in order. */
  def setup(spark: SparkSession, in: Input, name: String,
      warm: Range): (Rig, Seq[(String, Double)]) = {
    val wl = in.wl
    val steps = mutable.ArrayBuffer[(String, Double)]()
    var t = System.nanoTime()
    def step(what: String): Unit = {
      val now = System.nanoTime()
      steps += what -> (now - t) / 1e9
      t = now
    }
    val dir = in.p.work.resolve(name)
    val histDir = dir.resolve("hist").toString
    if (wl.needsHistogram) {
      val text = StructType(Seq(StructField("text", StringType)))
      val target = spark.read.schema(text).json(in.trainDir.resolve("target.json").toString)
      val raw = spark.read.schema(text).json(in.trainDir.resolve("raw.json").toString)
      graft.operators.Sampling.dsirHistogram(target, raw, "text")
        .write.mode("overwrite").parquet(histDir)
      step("histogram")
    }
    val config = SinkConfig.parse(wl.props(histDir))
    val pipe = new SinkPipeline(config, wl.tables, dir.resolve("store").toString)
    val rig = new Rig(spark, wl, dir, pipe, config)
    if (wl.seedRecords > 0) {
      pipe.processBatch(kafkaColumns(spark.read.schema(FileSchema)
        .json(in.seedDir.toString)), Long.MinValue)
      step("pre-seed")
    }
    rig.start()
    publishAll(in, warm, rig, "warm", copy = true)
    rig.query.processAllAvailable()
    step("warm-up")
    (rig, steps.toSeq)
  }

  /** What one open-loop phase and drain measured. */
  final case class Pass(latencies: Array[Double], latencyBatches: Int,
      sustainableRps: Double, drainRecords: Long, drainBatches: Int,
      genLateMsMax: Double, readLagMsP50: Double, batchRecordsP50: Double,
      backlogMax: Long, backlogEnd: Long, batchIds: Seq[Long],
      drainBatchIds: Seq[Long], uncommittedRecords: Long) {
    def p50: Double = Stats.pct(latencies.toSeq, 0.5)
    def p95: Double = Stats.pct(latencies.toSeq, 0.95)
  }

  /** Run the open loop over `openFiles`, then drain `drainFiles`. */
  def pass(in: Input, rig: Rig, openFiles: Range, drainFiles: Range,
      spans: Option[Spans], beforeDrain: () => Unit): Pass = {
    val rpf = in.wl.recordsPerFile
    val spacing = in.wl.schedule.spacingNanos
    val n = openFiles.length
    val visible = new Array[Long](n)
    val due = new Array[Long](n)
    val writeStart = new Array[Long](n)
    val t0 = System.nanoTime() + 200L * 1000000L
    // record j of open file k falls due at t0 + (k*rpf + j) * spacing; the
    // file is written when its last record falls due
    def dueAt(k: Int, j: Int): Long = t0 + ((k.toLong * rpf + j) * spacing).toLong
    val genThread = new Thread(() => {
      openFiles.zipWithIndex.foreach { case (f, k) =>
        due(k) = dueAt(k, rpf - 1)
        var now = System.nanoTime()
        while (now < due(k)) {
          java.util.concurrent.locks.LockSupport.parkNanos(due(k) - now)
          now = System.nanoTime()
        }
        writeStart(k) = now
        visible(k) = publish(in, f, rig)
      }
    }, "streambench-generator")
    genThread.setDaemon(true)
    genThread.start()
    genThread.join()
    rig.query.processAllAvailable()
    Heap.sample("open loop")
    beforeDrain()
    val drainVisible = publishAll(in, drainFiles, rig, "drain", copy = false)
    rig.query.processAllAvailable()
    Heap.sample("drain")

    val fb = rig.fileBatches()
    def commit(b: Long): Option[(Long, Long)] = Option(rig.batches.get(b))
    var uncommitted = 0L
    val lat = mutable.ArrayBuffer[Double]()
    val lags = mutable.ArrayBuffer[Double]()
    openFiles.zipWithIndex.foreach { case (f, k) =>
      fb.get(fileName(f)).flatMap(commit) match {
        case Some((bs, be)) =>
          (0 until rpf).foreach(j => lat += (be - dueAt(k, j)) / 1e6)
          lags += (bs - visible(k)) / 1e6
        case None => uncommitted += rpf
      }
    }
    val openRecs = rig.batchRecords(openFiles, fb)
    val openIds = openRecs.keys.toSeq.sorted
    // backlog: records visible but not yet committed, after each visibility
    // and commit event of the open loop; "end" is at the last visibility
    val events = mutable.ArrayBuffer[(Long, Long)]()
    visible.foreach(v => events += v -> rpf.toLong)
    openIds.foreach(b => commit(b).foreach { case (_, be) => events += be -> -openRecs(b) })
    var backlog, backlogMax, backlogEnd = 0L
    val lastVisible = if (n == 0) 0L else visible.max
    events.sortBy(_._1).foreach { case (t, d) =>
      backlog += d
      backlogMax = math.max(backlogMax, backlog)
      if (t <= lastVisible) backlogEnd = backlog
    }
    // sustainable rate: the median over drain batches of a batch's records
    // over the time since the previous commit (or since the backlog became
    // visible), so a stall in one batch moves the figure little
    val drainRecs = rig.batchRecords(drainFiles, fb)
    uncommitted += drainFiles.length.toLong * rpf - drainRecs.values.sum
    val drainIds = drainRecs.keys.toSeq.sorted
    val rate = Stats.median(drainIds.flatMap(b => commit(b).map { case (_, end) =>
      val from = commit(b - 1).map(_._2).filter(_ > drainVisible).getOrElse(drainVisible)
      drainRecs(b) / ((end - from) / 1e9)
    }))
    spans.foreach { s =>
      openFiles.zipWithIndex.foreach { case (f, k) =>
        s.add("gen.file", writeStart(k), visible(k), 0, fb.getOrElse(fileName(f), -1L)) }
      s.add("gen.backlog", drainVisible, drainVisible, 0, drainIds.headOption.getOrElse(-1L))
    }
    // per batch: records / processBatch ms / ms since the previous commit
    def show(recs: Map[Long, Long]) = recs.keys.toSeq.sorted.map { b =>
      val c = commit(b)
      val gap = for (x <- c; y <- commit(b - 1)) yield (x._1 - y._2) / 1000000
      s"$b:${recs(b)}/${c.map(x => (x._2 - x._1) / 1000000).getOrElse(-1)}+${gap.getOrElse(-1)}"
    }.mkString(" ")
    System.err.println(s"${in.wl.name}: open batches ${show(openRecs)}; " +
      s"drain batches ${show(drainRecs)}")
    Pass(lat.toArray, openIds.size, rate, drainRecs.values.sum, drainIds.size,
      genLateMsMax = if (n == 0) 0.0 else (0 until n).map(k => (visible(k) - due(k)) / 1e6).max,
      readLagMsP50 = Stats.median(lags.toSeq),
      batchRecordsP50 = Stats.median(openRecs.values.map(_.toDouble).toSeq),
      backlogMax = backlogMax, backlogEnd = backlogEnd,
      batchIds = openIds ++ drainIds, drainBatchIds = drainIds,
      uncommittedRecords = uncommitted)
  }

  def invalidReason(wl: Workload, x: Pass): Option[String] =
    if (x.genLateMsMax > LateLimitMs)
      Some(f"generator ran ${x.genLateMsMax}%.1f ms late (limit $LateLimitMs%.0f ms)")
    else if (x.backlogEnd > BacklogLimitBatches.toLong * wl.batchRecords)
      Some(s"open-loop backlog ended at ${x.backlogEnd} records (limit " +
        s"${BacklogLimitBatches.toLong * wl.batchRecords}): the offered rate " +
        "was not sustained")
    else None

  def run(p: Params): Int = {
    val wl = Workloads(p.workload)
    require(p.seconds >= 1, "--seconds must be at least 1")
    Files.createDirectories(p.work)
    val warmN = wl.filesPerBatch
    val openN = math.max(1, math.round(p.seconds * wl.offeredRps / wl.recordsPerFile).toInt)
    val drainN = wl.drainBatches * wl.filesPerBatch
    val nFiles = warmN + openN + drainN
    val warm = 0 until warmN
    val open = warmN until warmN + openN
    val drain = warmN + openN until nFiles
    // the traced upsert_ticks run also drains a backlog at local[1]
    val baseline = nFiles until nFiles +
      (if (p.trace && wl == UpsertTicks) BaselineDrainBatches * wl.filesPerBatch else 0)
    val in = new Input(p, wl, baseline.end)
    val w0 = System.nanoTime()
    in.write()
    val inputS = (System.nanoTime() - w0) / 1e9

    val s0 = System.nanoTime()
    val spark = session(p, cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val (rig, rigSteps) = setup(spark, in, "rig", warm)
    val setupSteps = ("session" -> sessionS) +: rigSteps
    val setupS = setupSteps.map(_._2).sum
    Heap.sample("set-up")

    val scratch = p.work.resolve("scratch-store")
    val traced = if (!p.trace) None else {
      val listener = new BatchTaskListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(new Spans(System.nanoTime()), listener)
      tracer.prime(rig)
      rig.tracer = Some(tracer)
      Some(tracer)
    }
    // the isolation pass replays drain batches on the pre-drain state
    val ps = pass(in, rig, open, drain, traced.map(_.spans),
      beforeDrain = () => if (p.trace) copyTree(rig.storeRoot, scratch))
    rig.tracer = None
    traced.foreach { t =>
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      spark.sparkContext.removeSparkListener(t.listener)
    }
    val heapPeakMb = Heap.peakMb
    rig.stop()

    invalidReason(wl, ps).foreach { why =>
      System.err.println(s"INVALID RUN (${wl.name}, seed ${p.seed}): $why")
      spark.stop()
      return InvalidExit
    }

    val c0 = System.nanoTime()
    val check = Check(spark, in, rig, nFiles)
    val checkS = (System.nanoTime() - c0) / 1e9
    val offered = in.totalRecords(nFiles)
    val failed = ps.uncommittedRecords + check.failedRecords
    val correct = failed == 0 && check.ok

    val out = new StringBuilder
    out ++= s"workload ${wl.name}  seed ${p.seed}  seconds ${p.seconds}  " +
      s"local[$cores]  offered ${wl.offeredRps} rec/s  batch " +
      s"${wl.batchRecords} records (${wl.filesPerBatch} files x ${wl.recordsPerFile})\n"
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("sustainable_rps", ps.sustainableRps, "1/s"),
      ("latency_p50_ms", ps.p50, "ms"),
      ("latency_p95_ms", ps.p95, "ms"),
      ("heap_peak_mb", heapPeakMb, "MB"))
    if (p.trace) out ++= "  end-to-end, every odd batch traced:\n"
    e2e.foreach { case (k, v, u) => out ++= f"  $k%-18s $v%12.3f $u\n" }
    out ++= s"  latency n = ${ps.latencies.length} records in ${ps.latencyBatches} " +
      s"batches; drain ${ps.drainRecords} records in ${ps.drainBatches} batches; " +
      "set-up = " + setupSteps.map { case (k, v) => f"$k $v%.2f s" }.mkString(" + ") +
      f"; untimed: input $inputS%.2f s, check $checkS%.2f s\n"
    val metrics = traced match {
      case None => e2e
      case Some(tracer) =>
        val iso = Isolation(spark, in, rig, ps, tracer.spans, scratch)
        val spansPath = p.out.resolve(s"${wl.name}.spans.jsonl")
        tracer.spans.write(spansPath)
        val layers = Layers(in, rig, ps, tracer, iso, check)
        out ++= layers.table
        out ++= tracer.overhead(rig, ps)
        out ++= s"  spans: $spansPath (${tracer.spans.size} spans)\n"
        if (wl == UpsertTicks) {
          spark.stop()
          out ++= Baseline(p, in, warm, baseline)
        }
        layers.metrics
    }
    out ++= s"  records_offered $offered  records_failed $failed  correct $correct\n"
    check.notes.foreach(n => out ++= s"  check: $n\n")
    print(out.result())
    println(s"""{"correct":$correct,"attempted":$offered,"failed":$failed,"metrics":${jsonMetrics(metrics)}}""")
    SparkSession.getActiveSession.foreach(_.stop())
    0
  }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }

  def jsonMetrics(m: Seq[(String, Double, String)]): String =
    m.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
}

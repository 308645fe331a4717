package streambench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans, written out as JSON lines when the run ends. Times are
  * milliseconds since the run's time origin. */
final class Spans(originNs: Long) {
  import Spans.Span
  private val spans = mutable.ArrayBuffer[Span]()
  def ms(ns: Long): Double = (ns - originNs) / 1e6
  /** Record a span; returns its id. `parent` 0 is the root. */
  def add(name: String, startNs: Long, endNs: Long, parent: Int = 0,
      batch: Long = -1L): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, name, ms(startNs), ms(endNs), parent, batch)
    id
  }
  /** Children laid end to end from `startNs`, in the given order, for
    * phases whose durations the program reports without start times. */
  def addSequential(parent: Int, startNs: Long, batch: Long,
      phases: Seq[(String, Long)]): Unit = {
    var t = startNs
    phases.foreach { case (name, durMs) =>
      val end = t + durMs * 1000000L
      add(name, t, end, parent, batch)
      t = end
    }
  }
  def size: Int = synchronized(spans.size)
  def write(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= f"""{"id":${s.id},"name":${Workloads.jstr(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"parent":${s.parent},"batch":${s.batch}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.result())
  }
}

object Spans {
  final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
      parent: Int, batch: Long)
}

/** Jobs, stages, tasks, shuffle bytes and executor CPU per micro-batch,
  * attributed through the `streaming.sql.batchId` local property that the
  * micro-batch engine sets on the thread running the batch. */
final class BatchTaskListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleBytes = 0L; var cpuNs = 0L
  }
  val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Counts]()
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private def counts(b: Long): Counts = byBatch.computeIfAbsent(b, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val b = Option(e.properties).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    b.filter(Tracer.traced).foreach { id =>
      counts(id).synchronized(counts(id).jobs += 1)
      e.stageIds.foreach(s => stageBatch.put(s, id))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageBatch.get(e.stageInfo.stageId)).foreach { id =>
      val c = counts(id); c.synchronized(c.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageBatch.get(e.stageId)).foreach { id =>
      val c = counts(id)
      c.synchronized {
        c.tasks += 1
        if (e.taskMetrics != null) {
          c.cpuNs += e.taskMetrics.executorCpuTime
          c.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
}

/** Peak heap in use after full collections, sampled at phase ends (after
  * set-up, after the open loop, after the drain) — outside every timed
  * window — so it measures the live set rather than when garbage happened
  * to be collected. Also total GC time. */
object Heap {
  import scala.jdk.CollectionConverters._
  @volatile private var peak = 0L
  val SettleMs = 250L
  val SettleBytes: Long = 2L << 20
  val MaxRounds = 12

  def sample(label: String): Unit = {
    def collected(): Long = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    // Spark's ContextCleaner frees the blocks of broadcasts, shuffles and
    // cached data only after a collection has queued their handles, so
    // collect again after a pause until a round frees nothing more
    var prev = collected()
    var used = prev
    var rounds = 0
    while (rounds < 2 || (prev - used > SettleBytes && rounds < MaxRounds)) {
      Thread.sleep(SettleMs)
      prev = used
      used = collected()
      rounds += 1
    }
    System.err.println(f"heap after $label: ${used / 1048576.0}%.1f MB")
    synchronized { if (used > peak) peak = used }
  }
  def peakMb: Double = peak / 1048576.0
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of unsorted values. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

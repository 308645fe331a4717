package streambench

import org.apache.spark.sql.types._

import graft.sink.SinkTable

/** One Kafka-shaped record as the generator writes it. A null `value` is a
  * tombstone. `tsMicros` is the record's scheduled due time on the logical
  * timeline (see [[Schedule]]), stamped into the Kafka `timestamp` column. */
final case class Rec(topic: String, partition: Int, offset: Long,
    key: String, value: String, tsMicros: Long)

/** Deterministic 64-bit mixing (SplitMix64 finaliser) for per-stream seeds. */
object Mix {
  def apply(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(Mix(seed * 1000003L + stream))
}

/** The logical timeline: record `i` (counting seed, warm-up, open-loop and
  * drain records in one sequence) is due `i * spacingMicros` after
  * [[Schedule.BaseMicros]]. Stamps depend only on the index and the frozen
  * offered rate, so the same seed writes byte-identical files. */
final case class Schedule(offeredRps: Double) {
  val spacingNanos: Double = 1e9 / offeredRps
  def tsMicros(i: Long): Long =
    Schedule.BaseMicros + (i * spacingNanos / 1000.0).toLong
}
object Schedule {
  /** 2026-01-01T00:00:00Z. */
  val BaseMicros: Long = 1767225600000000L
}

/** A sequential, seeded record stream. `next(i)` must be called with
  * i = 0, 1, 2, … in order. */
trait Gen {
  def next(i: Long): Rec
}

/** The batch size, taken from the reference perf rig: a sink task consumes
  * its own topic partitions and one poll hands it up to `max.poll.records`
  * = 500 records (`perf/startPerfJson.sh:7`); `tasks.max` = 100 over 3
  * Connect workers (`perf/dse-sink.json:5`) gives a worker 33 tasks, and a
  * topic with fewer partitions feeds one task per partition. One batch is
  * one poll round of one worker. */
object PollRound {
  val MaxPollRecords = 500
  val TasksPerWorker: Int = 100 / 3
  def records(partitions: Int): Int =
    math.min(partitions, TasksPerWorker) * MaxPollRecords
}

/** A benchmark workload: tables, sink bindings, sizes and the frozen
  * offered rate. Sizes are in records; files hold `recordsPerFile` records
  * and a batch holds `filesPerBatch` files, one [[PollRound]] of the
  * topic's `partitions`. */
trait Workload {
  def name: String
  /** Open-loop offered rate, frozen at about half the sustainable rate
    * measured at `local[3]` when it was set (see README.md, "Calibration"). */
  def offeredRps: Double
  def partitions: Int
  def recordsPerFile: Int
  def filesPerBatch: Int = {
    require(PollRound.records(partitions) % recordsPerFile == 0)
    PollRound.records(partitions) / recordsPerFile
  }
  /** Records merged in one large batch during set-up, before streaming. */
  def seedRecords: Int
  def tables: Map[String, SinkTable]
  /** Connector properties; `histDir` is the trained DSIR model, if any. */
  def props(histDir: String): Map[String, String]
  def gen(seed: Long): Gen
  def needsHistogram: Boolean = false
  /** Batches the backlog holds; the sustainable rate is their median. */
  def drainBatches: Int
  def batchRecords: Int = recordsPerFile * filesPerBatch
  def schedule: Schedule = Schedule(offeredRps)
}

object Workloads {
  val all: Seq[String] = Seq("upsert_ticks", "curate_text", "hot_updates")

  def apply(name: String): Workload = name match {
    case "upsert_ticks" => UpsertTicks
    case "curate_text"  => CurateText
    case "hot_updates"  => HotUpdates
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${all.mkString(", ")})")
  }

  /** Minimal JSON string literal. */
  def jstr(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb += '"'
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.result()
  }
}

/** The reference perf rig's JSON ticks (`perf/dse-sink.json`): six fields
  * decoded into `stocks.ticks` with PK (symbol, ts). Every record is a new
  * key, so state only grows and each batch's keys spread over every bucket. */
object UpsertTicks extends Workload {
  val name = "upsert_ticks"
  val offeredRps = 3750.0
  val partitions = 33
  val recordsPerFile = 500
  val drainBatches = 3
  val seedRecords = 49500
  val NumSymbols = 500
  /** Tick datetimes are unique per record: BaseTickMs + record index. */
  val BaseTickMs = 1700000000000L
  private val exchanges = Array("NYSE", "NASDAQ", "LSE", "TSE")
  private val industries = Array("energy", "finance", "health", "retail",
    "tech", "transport", "utilities", "materials")

  val table = SinkTable("stocks", "ticks", StructType(Seq(
    StructField("symbol", StringType), StructField("ts", TimestampType),
    StructField("exchange", StringType), StructField("industry", StringType),
    StructField("name", StringType), StructField("value", DoubleType))),
    partitionKey = Seq("symbol"), clusteringKey = Seq("ts"))
  val tables = Map("stocks.ticks" -> table)
  def props(histDir: String): Map[String, String] = Map(
    "topic.ticks.stocks.ticks.mapping" ->
      ("symbol=value.symbol, ts=value.datetime, exchange=value.exchange, " +
        "industry=value.industry, name=value.name, value=value.value"))

  def symbol(s: Int): String = f"S$s%04d"
  def company(s: Int): String = f"Company $s%04d Inc"
  def exchange(s: Int): String = exchanges(s % exchanges.length)
  def industry(s: Int): String = industries((s / 4) % industries.length)
  def isoMs(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** One tick: (symbol index, price in cents). */
  final case class Tick(sym: Int, cents: Long)

  final class TickGen(seed: Long) extends Gen {
    private val rng = Mix.rng(seed, 1)
    private val sched = schedule
    var last: Tick = _
    def next(i: Long): Rec = {
      val s = rng.nextInt(NumSymbols)
      val cents = 1000L + rng.nextInt(900000)
      last = Tick(s, cents)
      val v = "{\"symbol\":" + Workloads.jstr(symbol(s)) +
        ",\"datetime\":" + Workloads.jstr(isoMs(BaseTickMs + i)) +
        ",\"exchange\":" + Workloads.jstr(exchange(s)) +
        ",\"industry\":" + Workloads.jstr(industry(s)) +
        ",\"name\":" + Workloads.jstr(company(s)) +
        ",\"value\":" + (cents / 100) + "." + f"${cents % 100}%02d" + "}"
      Rec("ticks", s % partitions, i, symbol(s), v, sched.tsMicros(i))
    }
  }
  def gen(seed: Long): TickGen = new TickGen(seed)
}

/** Text curation: seeded documents with planted exact copies, few-token
  * near copies and off-domain text, through `quality=dsir` and
  * `dedup=near:16x4`. Keys are unique, so the table only gains the rows the
  * two gates keep. A copy goes to its original's partition, so Kafka
  * (partition, offset) order puts the original first. */
object CurateText extends Workload {
  val name = "curate_text"
  val offeredRps = 150.0
  val partitions = 4
  val recordsPerFile = 50
  val drainBatches = 2
  val seedRecords = 0
  val TrainingDocs = 1000
  override val needsHistogram = true
  /** Record mix, in percent. */
  val ExactPct = 10
  val NearPct = 10
  val OffPct = 10
  /** Copies pick their original among the most recent originals. */
  val CopyWindow = 3000

  val table = SinkTable("curate", "docs", StructType(Seq(
    StructField("id", StringType), StructField("body", StringType))),
    partitionKey = Seq("id"))
  val tables = Map("curate.docs" -> table)
  def props(histDir: String): Map[String, String] = Map(
    "topic.docs.curate.docs.mapping" -> "id=key, body=value",
    "topic.docs.curate.docs.dedup" -> "near:16x4",
    "topic.docs.curate.docs.quality" -> s"dsir:0:$histDir")

  /** Word lists from fixed syllable sets: the in-domain and off-domain
    * vocabularies share no word. */
  private def vocab(syll: Array[String], n: Int, stream: Long): Array[String] = {
    val r = Mix.rng(7L, stream)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val k = 2 + r.nextInt(3)
      seen += (0 until k).map(_ => syll(r.nextInt(syll.length))).mkString
    }
    seen.toArray
  }
  val InVocab: Array[String] = vocab(Array("ka", "to", "mi", "ren", "sa", "lo",
    "ve", "dan", "ti", "mor", "el", "sun", "pa", "ri", "gol", "ne"), 3000, 1)
  val OffVocab: Array[String] = vocab(Array("zx", "qu", "yk", "wo", "jb", "fy",
    "xe", "vq", "hu", "zo", "kw", "yx"), 3000, 2)

  /** Zipf(1.0) cumulative weights over a vocabulary. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / r).toArray
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val cdf = zipfCdf(InVocab.length)
  private def draw(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    if (i >= 0) i else -i - 1
  }

  /** Document `j` of a text stream: 30–60 Zipf-drawn words. */
  def doc(seed: Long, stream: Long, j: Long, off: Boolean): Array[String] = {
    val r = Mix.rng(seed, stream * 1000000007L + j)
    val n = 30 + r.nextInt(31)
    val v = if (off) OffVocab else InVocab
    Array.fill(n)(v(draw(r)))
  }

  sealed trait Kind
  case object Original extends Kind
  final case class Exact(of: Long) extends Kind
  final case class Near(of: Long, edits: Int) extends Kind
  case object OffDomain extends Kind

  final class CurateGen(seed: Long) extends Gen {
    private val rng = Mix.rng(seed, 3)
    private val sched = schedule
    private val offsets = Array.fill(partitions)(0L)
    /** Record indices of originals, and each one's partition. */
    private val origIdx = scala.collection.mutable.ArrayBuffer[Long]()
    private val origPart = scala.collection.mutable.ArrayBuffer[Int]()
    var lastKind: Kind = Original
    var lastText: String = _
    def next(i: Long): Rec = {
      val roll = rng.nextInt(100)
      val (kind, part, words) =
        if (origIdx.nonEmpty && roll < ExactPct + NearPct) {
          val k = origIdx.length - 1 - rng.nextInt(math.min(CopyWindow, origIdx.length))
          val of = origIdx(k)
          val base = doc(seed, 0, of, off = false)
          if (roll < ExactPct) (Exact(of), origPart(k), base)
          else {
            val edits = 1 + rng.nextInt(3)
            val w = base.clone()
            (0 until edits).foreach { _ =>
              w(rng.nextInt(w.length)) = InVocab(rng.nextInt(InVocab.length))
            }
            (Near(of, edits), origPart(k), w)
          }
        } else if (roll < ExactPct + NearPct + OffPct)
          (OffDomain, rng.nextInt(partitions), doc(seed, 1, i, off = true))
        else {
          val p = rng.nextInt(partitions)
          origIdx += i; origPart += p
          (Original, p, doc(seed, 0, i, off = false))
        }
      lastKind = kind
      lastText = words.mkString(" ")
      val off = offsets(part)
      offsets(part) += 1
      Rec("docs", part, off, f"d$i%09d", lastText, sched.tsMicros(i))
    }
  }
  def gen(seed: Long): CurateGen = new CurateGen(seed)

  /** DSIR training corpora: target = in-domain text, raw = in-domain and
    * off-domain text in equal parts. Drawn from streams the records never
    * use. */
  def trainingDocs(seed: Long, n: Int): (Seq[String], Seq[String]) = {
    val target = (0 until n).map(j => doc(seed, 10, j, off = false).mkString(" "))
    val raw = (0 until n).map(j => doc(seed, 11, j, off = false).mkString(" ")) ++
      (0 until n).map(j => doc(seed, 12, j, off = true).mkString(" "))
    (target, raw)
  }
}

/** Hot-key updates: a Zipf-skewed key space with ~20% tombstones, fanned out
  * from one topic to an LWW table and a counter table. State is constant
  * (every key is seeded in set-up); the sink does updates, deletes and
  * counter sums instead of inserts. */
object HotUpdates extends Workload {
  val name = "hot_updates"
  val offeredRps = 2500.0
  val partitions = 33
  val recordsPerFile = 500
  val drainBatches = 5
  val NumKeys = 4000
  val seedRecords: Int = NumKeys
  val TombstonePct = 20

  val kv = SinkTable("hot", "kv", StructType(Seq(
    StructField("k", StringType), StructField("a", LongType),
    StructField("b", StringType))), partitionKey = Seq("k"))
  val cnt = SinkTable("hot", "cnt", StructType(Seq(
    StructField("k", StringType), StructField("n", LongType))),
    partitionKey = Seq("k"), counterCols = Seq("n"))
  val tables = Map("hot.kv" -> kv, "hot.cnt" -> cnt)
  def props(histDir: String): Map[String, String] = Map(
    "topic.hot.hot.kv.mapping" -> "k=key, a=value.a, b=value.b",
    "topic.hot.hot.cnt.mapping" -> "k=key, n=value.n")

  def key(k: Int): String = f"k$k%05d"
  private val cdf = {
    val w = (1 to NumKeys).map(r => 1.0 / math.pow(r, 1.1)).toArray
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  /** The generator's own expected state: LWW row per key (None = deleted)
    * and counter sums. */
  final class Model {
    val lww = new Array[Option[(Long, String)]](NumKeys)
    val sums = new Array[Long](NumKeys)
    val seen = new Array[Boolean](NumKeys)
  }

  final class HotGen(seed: Long) extends Gen {
    private val rng = Mix.rng(seed, 5)
    private val sched = schedule
    private val offsets = Array.fill(partitions)(0L)
    /** Last writetime millisecond per key: no key gets two records in one
      * millisecond, so LWW order is the arrival order. */
    private val lastMs = Array.fill(NumKeys)(Long.MinValue)
    val model = new Model
    def next(i: Long): Rec = {
      val ts = sched.tsMicros(i)
      val ms = Math.floorDiv(ts, 1000L)
      // set-up seeds every key once, in key order; then Zipf draws
      var k =
        if (i < NumKeys) i.toInt
        else {
          val u = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
          if (u >= 0) u else -u - 1
        }
      while (lastMs(k) == ms) k = rng.nextInt(NumKeys)
      lastMs(k) = ms
      val tomb = i >= NumKeys && rng.nextInt(100) < TombstonePct
      val part = k % partitions
      val off = offsets(part)
      offsets(part) += 1
      model.seen(k) = true
      if (tomb) {
        model.lww(k) = None
        Rec("hot", part, off, key(k), null, ts)
      } else {
        val a = rng.nextInt(1000000).toLong
        val b = "v" + Integer.toString(rng.nextInt(1 << 30), 36)
        val n = 1L + rng.nextInt(9)
        model.lww(k) = Some((a, b))
        model.sums(k) += n
        Rec("hot", part, off, key(k),
          "{\"a\":" + a + ",\"b\":" + Workloads.jstr(b) + ",\"n\":" + n + "}", ts)
      }
    }
  }
  def gen(seed: Long): HotGen = new HotGen(seed)
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.SparkSuite

class StreamingDedupSpec extends SparkSuite {

  private lazy val s = sqlc
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def write(dir: String, rows: (Long, String)*): Unit = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach { case (id, t) => l.add(Row(id, t)) }
    s.createDataFrame(l, schema).coalesce(1).write.parquet(dir)
  }

  /** Id of the query's last completed batch, -1 before the first. */
  private def lastBatchId(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  /** Wait until `q` reports progress satisfying `done` — progress is
    * posted only after a batch has committed to its sink — failing with
    * `what` past the deadline. Waits on the query, never on the clock: a
    * slow batch delays the check instead of racing it. */
  private def awaitProgress(q: StreamingQuery, what: String,
      timeoutMs: Long = 60000L)(done: Seq[StreamingQueryProgress] => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done(q.recentProgress.toSeq) && q.isActive &&
        System.currentTimeMillis() < deadline)
      q.awaitTermination(50L)
    q.exception.foreach(e => throw e)
    assert(done(q.recentProgress.toSeq), what)
  }

  /** Wait for the batch that reads a file written after batch `after`:
    * with one file per trigger, the first later batch with input rows. */
  private def awaitInputBatch(q: StreamingQuery, after: Long): Unit =
    awaitProgress(q, s"no batch after $after read the new file")(
      _.exists(p => p.batchId > after && p.numInputRows > 0))

  test("streaming dedup emits first-seen docs once across micro-batches") {
    import s.implicits._
    val src = Files.createTempDirectory("graft-sd-src").toString
    val ckpt = Files.createTempDirectory("graft-sd-ckpt").toString
    // batch 1: two copies of "aaa" (min id wins) + one "bbb"
    write(src + "/f1", (2L, "aaa"), (1L, "aaa"), (3L, "bbb"))
    // batch 2: a late "aaa" copy (dropped — hash already in state) + new "ccc"
    write(src + "/f2", (4L, "aaa"), (5L, "ccc"))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q = StreamingDedup.dedupStream(stream, "text", "doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("sd_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = s.table("sd_out").collect()
      .map(r => r.getAs[Long]("docId")).sorted
    // one winner per distinct text; doc 4's "aaa" never re-emits
    assert(out.toSeq == Seq(1L, 3L, 5L))
  }

  test("TTL'd dedup: in-horizon duplicates drop, quiet horizon re-admits, state shrinks") {
    val src = Files.createTempDirectory("graft-sdttl-src").toString
    val ckpt = Files.createTempDirectory("graft-sdttl-ckpt").toString
    val horizonMs = 4000L
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q = StreamingDedup.dedupStreamTtl(stream, "text", "doc_id", horizonMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdttl_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    // processing-time state timeouts make every batch "require another
    // batch", so noNewData never latches and processAllAvailable would
    // block forever — wait for the batch that read each new file instead
    def emitted(): Seq[Long] =
      s.table("sdttl_out").collect().map(_.getAs[Long]("docId")).sorted.toSeq
    def writeAndAwait(dir: String, rows: (Long, String)*): Unit = {
      val after = lastBatchId(q)
      write(dir, rows: _*)
      awaitInputBatch(q, after)
    }
    try {
      // batch 1: two hashes enter state
      writeAndAwait(src + "/f1", (1L, "aaa"), (2L, "bbb"))
      assert(emitted() == Seq(1L, 2L))
      // inside the horizon: duplicate drops (and re-arms aaa's timer)
      val armed = lastBatchId(q)
      write(src + "/f2", (3L, "aaa"))
      Thread.sleep(1500L)
      awaitInputBatch(q, armed)
      assert(emitted() == Seq(1L, 2L))
      // a full quiet horizon passes: aaa and bbb expire
      Thread.sleep(horizonMs + 2000L)
      writeAndAwait(src + "/f3", (4L, "ccc"))
      assert(emitted() == Seq(1L, 2L, 4L))
      // the expired hash re-admits
      writeAndAwait(src + "/f4", (5L, "aaa"))
      assert(emitted() == Seq(1L, 2L, 4L, 5L))
      // state is bounded by ACTIVE hashes: 3 distinct hashes were seen but
      // only {ccc, aaa} survive the expiry (bbb is gone)
      def liveRows(): Option[Long] = q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty => p.stateOperators.head.numRowsTotal
      }
      awaitProgress(q, s"expected 2 live state rows, got ${liveRows()}",
        timeoutMs = 30000L)(_ => liveRows().contains(2L))
    } finally q.stop()
  }

  test("streaming banding reproduces the batch minhash bands exactly") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words here entirely now"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "to on"))  // < shingleN tokens: no bands on either path
      .foreach { case (id, t) => l.add(Row(id, t)) }
    val df = s.createDataFrame(l, schema)
    val batch = graft.operators.Dedup.minhashBands(
      graft.operators.Dedup.minhashSignatures(df, "text", "doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_id"),
        r.getAs[Long]("band_hash"))).sorted
    val streamShaped = StreamingDedup.bandedStream(df, "text", "doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_id"),
        r.getAs[Long]("band_hash"))).sorted
    assert(streamShaped.nonEmpty && streamShaped.toSeq == batch.toSeq)
    assert(!streamShaped.exists(_._1 == 5L))
  }

  test("TTL'd buckets enforce the horizon at pairing time, not at timeout fire") {
    // THE case the per-member age filter exists for: Spark's processing-time
    // timeout fires on a TRIGGER, so a doc arriving after a member's
    // deadline but before any trigger runs must not pair with it. Holding
    // the query DOWN across the horizon makes that window deterministic —
    // on restart the bucket receives data, so hasTimedOut is false and the
    // stale member is still in state; only the lastSeen >= now − horizon
    // filter stands between it and a bogus pair.
    val src = Files.createTempDirectory("graft-agefilter-src").toString
    val ckpt = Files.createTempDirectory("graft-agefilter-ckpt").toString
    val outDir = Files.createTempDirectory("graft-agefilter-out").toString
    // wide enough that restart latency (phase 3's positive control must
    // land INSIDE it) cannot flake the test on a loaded machine
    val horizonMs = 30000L
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    def runOnce(): Unit = {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src + "/*")
      val q = StreamingDedup.nearDupStream(stream, "text", "doc_id",
          stateHorizonMs = Some(horizonMs))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      // processing-time timeouts keep scheduling batches, so AvailableNow
      // never self-terminates (see the TTL'd-dedup test above) — poll for
      // the data batch, then stop the query. The deadline sits BELOW the
      // horizon on purpose: phase 3's positive control needs doc 3 to pair
      // before doc 2 ages out, so a restart too slow for the horizon must
      // fail HERE (a clear environment diagnosis), not as a bogus
      // no-pair-emitted assertion downstream.
      // Progress is posted after the batch's sink commit, so the file
      // sink's output is durable once the data batch shows up.
      try awaitProgress(q, "stream made no progress within 25s (query " +
          "restart slower than the test horizon — environment, not product)",
          timeoutMs = 25000L)(_.exists(_.numInputRows > 0))
      finally q.stop()
    }
    def pairs(): Set[(Long, Long)] =
      try s.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB"))).toSet
      catch { case _: Throwable => Set.empty }
    write(src + "/f1", (1L, base))
    runOnce()
    assert(pairs().isEmpty)
    // the horizon passes while the query is DOWN — no trigger, no timeout
    Thread.sleep(horizonMs + 1000L)
    write(src + "/f2", (2L, base.replace("tok30", "tokX")))
    runOnce()
    assert(pairs().isEmpty,
      "doc 2 paired with a member whose last sighting is past the horizon")
    // positive control: doc 2 re-seeded the buckets, so a near-dup arriving
    // INSIDE the horizon pairs — an age filter that dropped everything
    // would pass the phases above but fail here
    write(src + "/f3", (3L, base.replace("tok31", "tokY")))
    runOnce()
    assert(pairs() == Set((2L, 3L)))
  }

  test("streaming winnowed fingerprints reproduce the batch operator exactly") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, (1 to 20).map(i => s"tok$i").mkString(" ")), // 18 shingles
      (2L, "a b c d e"), // 3 shingles < window → single global min
      (3L, "to on"),     // no shingles → no rows on either path
      (4L, (1 to 20).map(i => s"tok$i").mkString(" ")),   // duplicate of 1
      (5L, "xa xb " + (5 to 14).map(i => s"tok$i").mkString(" ") + " yc yd"))
      .foreach { case (id, t) => l.add(Row(id, t)) }
    val df = s.createDataFrame(l, schema)
    val batch = graft.operators.TextAnalysis
      .winnowedFingerprints(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val streamShaped = StreamingDedup
      .winnowedFingerprintRows(df, "text", Seq("doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp"))).sorted
    assert(streamShaped.nonEmpty && streamShaped.toSeq == batch.toSeq)
    assert(!streamShaped.exists(_._1 == 3L))
    // and it runs on an actual unbounded frame (map-only — no window, no
    // state): drive a two-file stream through to a memory sink
    val src = Files.createTempDirectory("graft-winnow-src").toString
    val ckpt = Files.createTempDirectory("graft-winnow-ckpt").toString
    write(src + "/f1", (1L, (1 to 20).map(i => s"tok$i").mkString(" ")))
    write(src + "/f2", (2L, "a b c d e"))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q = StreamingDedup.winnowedFingerprintRows(stream, "text", Seq("doc_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("winnow_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = s.table("winnow_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp"))).toSet
    val expect = batch.filter(p => p._1 == 1L).toSet ++
      streamShaped.filter(_._1 == 2L).toSet
    assert(streamed == expect)
  }

  test("streaming near-dup candidates across micro-batches equal the batch LSH pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words here entirely now"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "the quick brown fox leaps over the lazy dog"))
    val src = Files.createTempDirectory("graft-ndstream-src").toString
    val ckpt = Files.createTempDirectory("graft-ndstream-ckpt").toString
    // three micro-batches; candidates must connect docs across them
    write(src + "/f1", docs(0), docs(1))
    write(src + "/f2", docs(2), docs(3))
    write(src + "/f3", docs(4))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q = StreamingDedup.nearDupStream(stream, "text", "doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("nd_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = s.table("nd_out").collect()
      .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB"))).toSet
    val l = new java.util.ArrayList[Row]()
    docs.foreach { case (id, t) => l.add(Row(id, t)) }
    val all = s.createDataFrame(l, schema)
    val batch = graft.operators.Dedup.minhashCandidates(
      graft.operators.Dedup.minhashBands(
        graft.operators.Dedup.minhashSignatures(all, "text", "doc_id")))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // the near-dup family must actually appear
    assert(streamed.contains((1L, 4L)))
  }

  test("one-shot pair contract: a multi-band pair emits exactly once across micro-batches") {
    // exact copies share ALL bands: without the pair-keyed filter, (1,2)
    // surfaces once per shared band (4x here) and copies arriving in later
    // batches re-emit against every bucket member — the one-shot stage must
    // collapse all of it to a single row per distinct pair
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely different words here entirely now"))
    val src = Files.createTempDirectory("graft-osp-src").toString
    val ckpt = Files.createTempDirectory("graft-osp-ckpt").toString
    write(src + "/f1", docs(0), docs(3))
    write(src + "/f2", docs(1))
    write(src + "/f3", docs(2))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q = StreamingDedup.nearDupStream(stream, "text", "doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("osp_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = s.table("osp_out").collect()
      .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB")))
    // every distinct pair exactly once — no per-band or cross-batch repeats
    assert(rows.length == rows.distinct.length,
      s"pairs repeated: ${rows.groupBy(identity).filter(_._2.length > 1).keys}")
    assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the raw firehose DOES repeat multi-band pairs (the contract the
    // one-shot stage exists to fix) — pin the contrast on the same data
    val ckpt2 = Files.createTempDirectory("graft-osp-ckpt2").toString
    val stream2 = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q2 = StreamingDedup.nearDupStream(stream2, "text", "doc_id",
        oneShot = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("osp_raw")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val raw = s.table("osp_raw").collect()
      .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB")))
    assert(raw.toSet == rows.toSet)   // same distinct pairs
    assert(raw.length > raw.distinct.length) // but with per-band repeats
  }

  test("TTL'd candidate buckets: in-horizon near-dups pair, expired buckets forget") {
    val src = Files.createTempDirectory("graft-ndttl-src").toString
    val ckpt = Files.createTempDirectory("graft-ndttl-ckpt").toString
    val horizonMs = 4000L
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "the quick brown fox jumps over the lazy cat"
    val c = "the quick brown fox jumps over the lazy owl"
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q = StreamingDedup.nearDupStream(stream, "text", "doc_id",
        stateHorizonMs = Some(horizonMs))
      .writeStream.outputMode("append")
      .format("memory").queryName("ndttl_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    def emitted(): Set[(Long, Long)] = s.table("ndttl_out").collect()
      .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB"))).toSet
    try {
      // inside the horizon: the near-dup pairs
      val before = lastBatchId(q)
      write(src + "/f1", (1L, a))
      write(src + "/f2", (2L, b))
      // one file per trigger: both files are read once two batches after
      // `before` have taken input
      awaitProgress(q, "the two near-dup files were not both read")(
        _.count(p => p.batchId > before && p.numInputRows > 0) >= 2)
      assert(emitted() == Set((1L, 2L)))
      // a full quiet horizon passes: the buckets forget docs 1 and 2 — a
      // third look-alike arrives to EMPTY buckets and pairs with nothing
      Thread.sleep(horizonMs + 2500L)
      val quiet = lastBatchId(q)
      write(src + "/f3", (3L, c))
      Thread.sleep(3000L)
      awaitInputBatch(q, quiet)
      assert(emitted() == Set((1L, 2L)),
        s"expired buckets must not pair: ${emitted()}")
    } finally q.stop()
  }

  test("streaming and batch exact dedup keep the same documents") {
    val l = new java.util.ArrayList[Row]()
    Seq((2L, "x y z"), (9L, "x y z"), (5L, "q"), (7L, "q"), (8L, "solo"))
      .foreach { case (id, t) => l.add(Row(id, t)) }
    val df = s.createDataFrame(l, schema)
    val batchKept = graft.operators.Dedup.exact(df, "text", "doc_id")
      .collect().map(_.getAs[Long]("keep_id")).sorted
    // firstSeen on a bounded stream of one batch ≡ batch exact dedup
    import s.implicits._
    val streamed = StreamingDedup.firstSeen(
      df.select(col("doc_id").as("docId"),
        StreamingDedup.contentHash(col("text")).as("h"))
        .as[StreamingDedup.HashedDoc])
    // flatMapGroupsWithState on a batch Dataset runs as a plain groupBy
    val streamKept = streamed.collect().map(_.docId).sorted
    assert(streamKept.toSeq == batchKept.toSeq)
    assert(batchKept.toSeq == Seq(2L, 5L, 8L))
  }

  test("event-time dedup within watermark: in-delay duplicate drops, " +
      "post-watermark copy re-admits") {
    val tsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    def writeTs(dir: String, rows: (Long, String, Long)*): Unit = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (id, t, sec) =>
        l.add(Row(id, t, new java.sql.Timestamp(sec * 1000L))) }
      s.createDataFrame(l, tsSchema).coalesce(1).write.parquet(dir)
    }
    val src = Files.createTempDirectory("graft-wmd-src").toString
    val ckpt = Files.createTempDirectory("graft-wmd-ckpt").toString
    writeTs(src + "/f1", (1L, "aaa", 10L))
    // within the 5s delay of doc 1 → dropped; "bbb" is new
    writeTs(src + "/f2", (2L, "aaa", 12L), (3L, "bbb", 12L))
    // far future event pushes the watermark past doc 1's expiry
    writeTs(src + "/f3", (4L, "zzz", 100L))
    // Spark evicts expired dedup state at the END of a batch: the first
    // copy arriving in the same batch the watermark crosses the expiry is
    // still deduped against the stale entry (one-batch eviction lag)…
    writeTs(src + "/f4", (5L, "aaa", 101L))
    // …and the next batch's copy re-admits
    writeTs(src + "/f5", (6L, "aaa", 102L))
    val stream = s.readStream.schema(tsSchema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    val q = StreamingDedup.dedupWithinWatermark(stream, "text", "ts",
        "5 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("wmd_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = s.table("wmd_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 6L))
  }
}

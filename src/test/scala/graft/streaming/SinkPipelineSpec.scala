package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.mapping.SinkConfig
import graft.sink.SinkTable

/** End-to-end micro-batch ingest: fan-out, unknown-topic accounting,
  * delete/upsert application, state accumulation across batches
  * (reference: CassandraSinkTaskTest.java:255-291, SimpleEndToEndSimulacronIT.java:740-774). */
class SinkPipelineSpec extends SparkSuite {

  private lazy val s = sqlc

  private val kafkaSchema = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("key", StringType),
    StructField("value", StringType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", StringType))))),
    StructField("timestamp", TimestampType)))

  private def batch(rows: (String, Long, String, String, Long)*) = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach { case (topic, off, key, value, tsMs) =>
      l.add(Row(topic, 0, off, key, value, Seq.empty[Row],
        java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(tsMs))))
    }
    s.createDataFrame(l, kafkaSchema)
  }

  private val t1 = SinkTable("ks", "t1", StructType(Seq(
    StructField("my_pk", LongType), StructField("my_value", LongType))), Seq("my_pk"))
  private val t2 = SinkTable("ks", "t2", StructType(Seq(
    StructField("my_pk", LongType), StructField("my_text", StringType))), Seq("my_pk"))

  test("fan-out, state accumulation, deletes, unknown-topic counting") {
    val root = Files.createTempDirectory("graft-sink").toString
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value.t"))
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1, "ks.t2" -> t2), root)

    // batch 1: two keys on a known topic, one record on an unknown topic
    pipe.processBatch(batch(
      ("orders", 0L, "1", """{"v": 10, "t": "a"}""", 1000L),
      ("orders", 1L, "2", """{"v": 20, "t": "b"}""", 2000L),
      ("mystery", 2L, "3", """{"v": 99}""", 3000L)), 0L)

    assert(pipe.failedWithUnknownTopic.value == 1L)
    val st1 = pipe.store(s, config.bindings.head).state()
      .select("my_pk", "my_value").collect().sortBy(_.getLong(0))
    assert(st1.toSeq == Seq(Row(1L, 10L), Row(2L, 20L)))

    // batch 2: update key 1 (later writetime), tombstone-delete key 2
    pipe.processBatch(batch(
      ("orders", 3L, "1", """{"v": 11, "t": "a2"}""", 5000L),
      ("orders", 4L, "2", null, 6000L)), 1L)

    val st2 = pipe.store(s, config.bindings.head).state()
      .select("my_pk", "my_value").collect().sortBy(_.getLong(0))
    assert(st2.toSeq == Seq(Row(1L, 11L)))
    val st2b = pipe.store(s, config.bindings(1)).state()
      .select("my_pk", "my_text").collect().sortBy(_.getLong(0))
    assert(st2b.toSeq == Seq(Row(1L, "a2")))

    // replay batch 2 (at-least-once): state unchanged (idempotent via LWW)
    pipe.processBatch(batch(
      ("orders", 3L, "1", """{"v": 11, "t": "a2"}""", 5000L),
      ("orders", 4L, "2", null, 6000L)), 2L)
    val st3 = pipe.store(s, config.bindings.head).state()
      .select("my_pk", "my_value").collect().sortBy(_.getLong(0))
    assert(st3.toSeq == Seq(Row(1L, 11L)))
  }

  test("unparseable fields route to the dead letter, not the table (F3)") {
    val root = Files.createTempDirectory("graft-dlq").toString
    // default ignoreErrors=None fails the batch (offset-holdback analogue)
    val strict = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v"))
    val strictPipe = new SinkPipeline(strict, Map("ks.t1" -> t1),
      Files.createTempDirectory("graft-dlq-strict").toString)
    intercept[IllegalStateException] {
      strictPipe.processBatch(batch(
        ("orders", 0L, "1", """{"v": "bad"}""", 1000L)), 0L)
    }
    val config = SinkConfig.parse(Map(
      "ignoreErrors" -> "All",
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v"))
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1), root)
    pipe.processBatch(batch(
      ("orders", 0L, "1", """{"v": 10}""", 1000L),
      ("orders", 1L, "2", """{"v": "not-a-number"}""", 1000L),
      ("orders", 2L, null, """{"v": 30}""", 1000L)), 0L) // null PK → failed
    val st = pipe.store(s, config.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0))
    assert(st.toSeq == Seq(1L))
    val dlq = s.read.parquet(s"$root/_dead_letter/orders.ks.t1").collect()
    assert(dlq.length == 2)
    assert(pipe.recordCount("orders.ks.t1.failedRecordCount").value == 2L)
    assert(pipe.recordCount("orders.ks.t1.recordCount").value == 3L)
    // KAF-100: rates ride the counters. The meter is seconds old, so the
    // divisor is its actual observation span (Dropwizard Meter behavior),
    // not the full 60s window — 2 failures observed over a few seconds
    // must read at LEAST the full-window floor 2/60 ev/s, and exactly
    // 2/span; an unmarked counter reads 0 rather than throwing.
    assert(pipe.rate("orders.ks.t1.failedRecordCount") >= 2.0 / 60)
    assert(pipe.rate("orders.ks.t1.neverMarked") == 0.0)
    // young-meter span division, pinned directly: 600 marks in the first
    // ~instant of a meter's life reads ~marks/span, nowhere near 10/s
    val young = new SinkPipeline.RateMeter()
    young.mark(600L)
    assert(young.ratePerSec > 100.0)
    // a meter older than its window divides by the window again
    val aged = new SinkPipeline.RateMeter(windowNanos = 1000000L)
    aged.mark(5L)
    Thread.sleep(5)
    assert(aged.ratePerSec == 0.0) // sample pruned: outside the 1ms window
  }

  test("TTL'd rows expire from the visible state (G2)") {
    val root = Files.createTempDirectory("graft-ttl").toString
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v, __ttl=value.t"))
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1), root)
    // writetime = 1000 ms → 1 s; ttl 60 s → expires at 61 s
    pipe.processBatch(batch(
      ("orders", 0L, "1", """{"v": 10, "t": 60}""", 1000L),
      ("orders", 1L, "2", """{"v": 20}""", 1000L)), 0L)
    val store = pipe.store(s, config.bindings.head)
    assert(store.stateAt(50L).select("my_pk").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(store.stateAt(100L).select("my_pk").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("provided query transforms the mapped batch in place of the generated write (S6)") {
    val root = Files.createTempDirectory("graft-pq").toString
    // reference: query requires deletesEnabled=false
    intercept[graft.mapping.MappingSpec.ParseException] {
      SinkConfig.parse(Map(
        "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
        "topic.orders.ks.t1.query" -> "SELECT * FROM mapped"))
    }
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "topic.orders.ks.t1.deletesEnabled" -> "false",
      "topic.orders.ks.t1.query" ->
        "SELECT my_pk, my_value * 10 AS my_value, __writetime FROM mapped"))
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1), root)
    pipe.processBatch(batch(("orders", 0L, "3", """{"v": 4}""", 1000L)), 0L)
    val st = pipe.store(s, config.bindings.head).state()
      .select("my_pk", "my_value").collect()
    assert(st.toSeq == Seq(Row(3L, 40L)))
  }

  test("provided query: lowercase / aliased / literal view references (no string rewrite)") {
    import s.implicits._
    val mapped = Seq((1L, 10L), (2L, 20L)).toDF("my_pk", "my_value")
    val lower = graft.operators.ProvidedQuery.run(mapped,
      "select my_pk, my_value from mapped where my_value > 10")
    assert(lower.collect().toSeq == Seq(Row(2L, 20L)))
    val aliased = graft.operators.ProvidedQuery.run(mapped,
      "SELECT m.my_pk FROM mapped m WHERE m.my_pk = 1")
    assert(aliased.collect().toSeq == Seq(Row(1L)))
    val literal = graft.operators.ProvidedQuery.run(mapped,
      "SELECT my_pk, 'FROM mapped' AS note FROM mapped WHERE my_pk = 1")
    assert(literal.collect().toSeq == Seq(Row(1L, "FROM mapped")))
    // the view is dropped after analysis — nothing leaks into the catalog
    assert(!s.catalog.tableExists("mapped"))
  }

  test("provided query: independent sessions run concurrently without view collisions") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two sessions over one context: temp views are session-scoped, so both
    // can use the PUBLIC view name at once; the per-session lock must not
    // serialize them into each other's registrations
    val s2 = s.newSession()
    def burst(sess: org.apache.spark.sql.SparkSession, tag: Long) = Future {
      (1 to 20).map { _ =>
        val df = sess.range(5).selectExpr(s"id + ${tag * 1000} AS my_pk")
        graft.operators.ProvidedQuery
          .run(df, "SELECT SUM(my_pk) AS t FROM mapped")
          .head().getLong(0)
      }
    }
    val (a, b) = (burst(s, 1L), burst(s2, 2L))
    val (ra, rb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
    // 0+1+..+4 = 10, plus 5*tag*1000 — every run saw ITS session's frame
    assert(ra.forall(_ == 5010L) && rb.forall(_ == 10010L))
  }

  test("mergeMode=cell: disjoint-column bindings land out-of-order writes via processBatch") {
    val root = Files.createTempDirectory("graft-cellpipe").toString
    val wide = SinkTable("ks", "cw", StructType(Seq(
      StructField("my_pk", LongType), StructField("my_value", LongType),
      StructField("my_text", StringType))), Seq("my_pk"))
    val config = SinkConfig.parse(Map(
      "topic.vals.ks.cw.mapping" -> "my_pk=key, my_value=value.v",
      "topic.vals.ks.cw.mergeMode" -> "cell",
      "topic.texts.ks.cw.mapping" -> "my_pk=key, my_text=value.t",
      "topic.texts.ks.cw.mergeMode" -> "cell"))
    val pipe = new SinkPipeline(config, Map("ks.cw" -> wide), root)

    // batch 1: the value column lands at t=5000
    pipe.processBatch(batch(("vals", 0L, "1", """{"v": 100}""", 5000L)), 0L)
    // batch 2: the text column arrives with an OLDER record timestamp —
    // row-level LWW would refuse it; per-cell reconciliation must land it
    pipe.processBatch(batch(("texts", 1L, "1", """{"t": "late"}""", 3000L)), 1L)

    val st = pipe.store(s, config.bindings.head).state()
      .select("my_pk", "my_value", "my_text").head()
    assert(st == Row(1L, 100L, "late"))

    // batch 3: BOTH topics inside ONE micro-batch — the replay watermark is
    // per binding, so the second binding's merge of the same batchId must
    // not be mistaken for a replay of the first's
    pipe.processBatch(batch(
      ("vals", 2L, "2", """{"v": 7}""", 8000L),
      ("texts", 3L, "2", """{"t": "both"}""", 9000L)), 2L)
    val st2 = pipe.store(s, config.bindings.head).state()
      .filter(col("my_pk") === 2L)
      .select("my_pk", "my_value", "my_text").head()
    assert(st2 == Row(2L, 7L, "both"))

    // bindings that fan into one table must agree on the merge granularity
    intercept[IllegalArgumentException](SinkConfig.parse(Map(
      "topic.vals.ks.cw.mapping" -> "my_pk=key, my_value=value.v",
      "topic.vals.ks.cw.mergeMode" -> "cell",
      "topic.texts.ks.cw.mapping" -> "my_pk=key, my_text=value.t")))
  }

  test("mergeMode=entry: records upsert and remove individual map entries " +
      "through the full pipeline (KAF-98, ProvidedQueryCCMIT.java:478-545)") {
    val root = Files.createTempDirectory("graft-entrypipe").toString
    val em = SinkTable("ks", "em", StructType(Seq(
      StructField("my_pk", LongType),
      StructField("my_map", MapType(StringType, LongType)))), Seq("my_pk"))
    val config = SinkConfig.parse(Map(
      "topic.maps.ks.em.mapping" -> "my_pk=key, my_map=value.mm",
      "topic.maps.ks.em.mergeMode" -> "entry",
      "topic.maps.ks.em.nullToUnset" -> "false"))
    // config round-trip: the mode reaches the binding
    assert(config.bindings.head.mergeMode == "entry")
    val pipe = new SinkPipeline(config, Map("ks.em" -> em), root)

    pipe.processBatch(batch(
      ("maps", 0L, "1", """{"mm": {"a": 1, "b": 2}}""", 1000L)), 0L)
    // a record mentioning only b and c: entry a must survive (the whole
    // point of entry mode — cell mode would replace the map cell)
    pipe.processBatch(batch(
      ("maps", 1L, "1", """{"mm": {"b": 20, "c": 3}}""", 2000L)), 1L)
    val st1 = pipe.store(s, config.bindings.head).state().head()
    assert(st1.getAs[Map[String, Long]]("my_map") ==
      Map("a" -> 1L, "b" -> 20L, "c" -> 3L))

    // JSON null entry value = removal under nullToUnset=false
    pipe.processBatch(batch(
      ("maps", 2L, "1", """{"mm": {"a": null}}""", 3000L)), 2L)
    assert(pipe.store(s, config.bindings.head).state().head()
      .getAs[Map[String, Long]]("my_map") == Map("b" -> 20L, "c" -> 3L))
    // removing the last entries drops the row (ProvidedQueryCCMIT.java:514-545)
    pipe.processBatch(batch(
      ("maps", 3L, "1", """{"mm": {"b": null, "c": null}}""", 4000L)), 3L)
    assert(pipe.store(s, config.bindings.head).state().count() == 0L)

    // unknown merge modes are rejected at parse time
    intercept[IllegalArgumentException](SinkConfig.parse(Map(
      "topic.maps.ks.em.mapping" -> "my_pk=key, my_map=value.mm",
      "topic.maps.ks.em.mergeMode" -> "partial")))
  }

  test("mergeMode=entry composes with a TTL'd dedup store: duplicates drop " +
      "inside the horizon, entries still reconcile, re-admission re-merges") {
    val em = SinkTable("ks", "em", StructType(Seq(
      StructField("my_pk", LongType),
      StructField("my_map", MapType(StringType, LongType)))), Seq("my_pk"))
    def mk(ttlMs: Long) = {
      val config = SinkConfig.parse(Map(
        "topic.maps.ks.em.mapping" -> "my_pk=key, my_map=value.mm",
        "topic.maps.ks.em.mergeMode" -> "entry",
        "topic.maps.ks.em.dedup" -> s"exactTtl:$ttlMs"))
      (config, new SinkPipeline(config, Map("ks.em" -> em),
        Files.createTempDirectory("graft-entryttl").toString))
    }
    // wide horizon: the cross-batch duplicate map action is dropped BEFORE
    // the entry merge — entry a keeps its original writetime
    val (cw, pw) = mk(600000L)
    pw.processBatch(batch(("maps", 0L, "1", """{"mm": {"a": 1}}""", 1000L)), 0L)
    pw.processBatch(batch(
      ("maps", 1L, "1", """{"mm": {"a": 1}}""", 5000L),   // duplicate content
      ("maps", 2L, "1", """{"mm": {"b": 2}}""", 2000L)), 1L)
    val stw = pw.store(s, cw.bindings.head).state().head()
    assert(stw.getAs[Map[String, Long]]("my_map") == Map("a" -> 1L, "b" -> 2L))
    assert(stw.getAs[Map[String, Long]]("__wtmap_my_map") ==
      Map("a" -> 1000000L, "b" -> 2000000L)) // a: batch-0 writetime kept
    // narrow horizon: after a quiet horizon the hash is forgotten and the
    // SAME map action re-admits — the entry re-merges at its new writetime
    val (cn, pn) = mk(1000L)
    pn.processBatch(batch(("maps", 0L, "1", """{"mm": {"a": 1}}""", 1000L)), 0L)
    Thread.sleep(1500)
    pn.processBatch(batch(("maps", 1L, "1", """{"mm": {"a": 1}}""", 9000L)), 1L)
    val stn = pn.store(s, cn.bindings.head).state().head()
    assert(stn.getAs[Map[String, Long]]("my_map") == Map("a" -> 1L))
    assert(stn.getAs[Map[String, Long]]("__wtmap_my_map") ==
      Map("a" -> 9000000L)) // re-admitted action won per-entry LWW
  }

  test("counter replay with the same batchId is exactly-once") {
    val root = Files.createTempDirectory("graft-ctr").toString
    val ctr = SinkTable("ks", "ctr", StructType(Seq(
      StructField("c1", LongType), StructField("c3", LongType))),
      Seq("c1"), counterCols = Seq("c3"))
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.ctr.mapping" -> "c1=key, c3=value.v"))
    val pipe = new SinkPipeline(config, Map("ks.ctr" -> ctr), root)
    val b0 = batch(("orders", 0L, "1", """{"v": 3}""", 1000L))
    pipe.processBatch(b0, 0L)
    pipe.processBatch(b0, 0L) // replayed micro-batch: must not double-count
    pipe.processBatch(b0, 1L) // genuinely new delivery: increments
    val st = pipe.store(s, config.bindings.head).state()
      .select("c1", "c3").collect()
    assert(st.toSeq == Seq(Row(1L, 6L)))
  }

  test("streaming wiring: foreachBatch over a file stream + metrics listener") {
    val root = Files.createTempDirectory("graft-stream").toString
    val srcDir = Files.createTempDirectory("graft-stream-src").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    batch(("orders", 0L, "7", """{"v": 70, "t": "z"}""", 1000L))
      .write.mode("overwrite").parquet(srcDir)

    val listener = new GraftQueryListener
    s.streams.addListener(listener)
    try {
      val config = SinkConfig.parse(Map(
        "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v"))
      val pipe = new SinkPipeline(config, Map("ks.t1" -> t1), root)
      val stream = s.readStream.schema(kafkaSchema).parquet(srcDir)
      val q = pipe.start(stream, ckpt)
      q.awaitTermination(60000)
      val st = pipe.store(s, config.bindings.head).state()
        .select("my_pk", "my_value").collect()
      assert(st.toSeq == Seq(Row(7L, 70L)))
      // listener events are delivered asynchronously
      var waited = 0
      while (listener.stats.values.map(_.inputRows.get).sum < 1 && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      assert(listener.stats.values.map(_.inputRows.get).sum >= 1L)
    } finally s.streams.removeListener(listener)
  }

  test("dedup=exact: duplicate content across micro-batches reaches state once") {
    val root = Files.createTempDirectory("graft-dedup").toString
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "topic.orders.ks.t1.dedup" -> "exact"))
    assert(config.bindings.head.dedupEnabled &&
      config.bindings.head.dedupTtlMs.isEmpty)
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1), root)
    // batch 0: duplicate value INSIDE the batch — first copy (lowest offset)
    // wins; the same content under another key never lands
    pipe.processBatch(batch(
      ("orders", 0L, "1", """{"v": 10}""", 1000L),
      ("orders", 1L, "2", """{"v": 10}""", 2000L),
      ("orders", 2L, "3", """{"v": 30}""", 3000L)), 0L)
    val st1 = pipe.store(s, config.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted
    assert(st1.toSeq == Seq(1L, 3L))
    // batch 1: the same content ACROSS the batch boundary is dropped; new
    // content lands — this is the "duplicates across micro-batches reach
    // state once" contract
    pipe.processBatch(batch(
      ("orders", 3L, "4", """{"v": 10}""", 4000L),
      ("orders", 4L, "5", """{"v": 50}""", 5000L)), 1L)
    val st2 = pipe.store(s, config.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted
    assert(st2.toSeq == Seq(1L, 3L, 5L))
    // replay of batch 1 (same batchId): a no-op, seen-set unchanged
    pipe.processBatch(batch(
      ("orders", 3L, "4", """{"v": 10}""", 4000L),
      ("orders", 4L, "5", """{"v": 50}""", 5000L)), 1L)
    assert(pipe.store(s, config.bindings.head).state().count() == 3)
    // tombstones never dedup: both null-value deletes reach the table
    pipe.processBatch(batch(
      ("orders", 5L, "1", null, 6000L),
      ("orders", 6L, "3", null, 7000L)), 2L)
    val st3 = pipe.store(s, config.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted
    assert(st3.toSeq == Seq(5L))
  }

  test("dedup=exactTtl: drops inside the horizon, re-admits after a quiet one") {
    def ttlConfig(ms: Long) = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "topic.orders.ks.t1.dedup" -> s"exactTtl:$ms"))
    // wide horizon: the cross-batch duplicate is still inside it → dropped
    // (the horizon must dominate inter-batch processing latency here)
    val wide = ttlConfig(600000L)
    assert(wide.bindings.head.dedupTtlMs.contains(600000L))
    val pipeW = new SinkPipeline(wide, Map("ks.t1" -> t1),
      Files.createTempDirectory("graft-dedupttl-w").toString)
    pipeW.processBatch(batch(("orders", 0L, "1", """{"v": 10}""", 1000L)), 0L)
    pipeW.processBatch(batch(("orders", 1L, "2", """{"v": 10}""", 2000L)), 1L)
    assert(pipeW.store(s, wide.bindings.head).state().count() == 1)
    // narrow horizon: a full quiet horizon passes — the hash is forgotten
    // and the next copy re-admits
    val narrow = ttlConfig(1000L)
    val pipeN = new SinkPipeline(narrow, Map("ks.t1" -> t1),
      Files.createTempDirectory("graft-dedupttl-n").toString)
    pipeN.processBatch(batch(("orders", 0L, "1", """{"v": 10}""", 1000L)), 0L)
    Thread.sleep(1500)
    pipeN.processBatch(batch(("orders", 2L, "3", """{"v": 10}""", 3000L)), 1L)
    val st = pipeN.store(s, narrow.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted
    assert(st.toSeq == Seq(1L, 3L))
  }

  test("dedup=exactTtl: expired hashes leave the store PHYSICALLY, not just logically") {
    val ms = 800L
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "topic.orders.ks.t1.dedup" -> s"exactTtl:$ms"))
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1),
      Files.createTempDirectory("graft-dedupttl-x").toString)
    val b = config.bindings.head
    pipe.processBatch(batch(
      ("orders", 0L, "1", """{"v": 10}""", 1000L),
      ("orders", 1L, "2", """{"v": 20}""", 2000L)), 0L)
    assert(pipe.dedupStore(s, b).state().count() == 2)
    // a full quiet horizon passes; the maintenance sweep drops the expired
    // hashes from EVERY bucket — on-disk state shrinks to zero, so at scale
    // the store tracks recently-active content, never all content ever seen
    Thread.sleep(ms + 300)
    pipe.vacuumDedupState(s)
    assert(pipe.dedupStore(s, b).state().count() == 0)
    // old content re-admits (the hash is physically gone) and its sighting
    // re-arms the store with exactly the live row
    pipe.processBatch(batch(("orders", 2L, "3", """{"v": 10}""", 3000L)), 1L)
    assert(pipe.dedupStore(s, b).state().count() == 1)
    val st = pipe.store(s, b).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted
    assert(st.toSeq == Seq(1L, 2L, 3L))
  }

  test("dedup=phash: jittered re-encodes dedup on perceptual identity, " +
      "undecodable payloads pass unfiltered") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val binSchema = StructType(kafkaSchema.map(f =>
      if (f.name == "value") f.copy(dataType = BinaryType) else f))
    def bbatch(rows: (Long, String, Array[Byte])*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (off, key, value) =>
        l.add(Row("imgs", 0, off, key, value, Seq.empty[Row],
          java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(off * 1000))))
      }
      s.createDataFrame(l, binSchema)
    }
    // 16×16 grayscale picture `seed`, per-copy ±1 jitter: same perceptual
    // content, different bytes
    def bmp(seed: Long, jitter: Int): Array[Byte] =
      graft.functions.Bmp.encode(16, ArrayData.toArrayData(
        (0 until 256).map(i => (8L + (seed * 37 + i * 11) % 240 +
          (if (i % 2 == 0) jitter else 0)) * 65793L).toArray))
    assert(!java.util.Arrays.equals(bmp(1, 0), bmp(1, 1))) // bytes differ
    val timg = SinkTable("ks", "timg", StructType(Seq(
      StructField("my_pk", LongType), StructField("my_img", BinaryType))),
      Seq("my_pk"))
    val config = SinkConfig.parse(Map(
      "topic.imgs.ks.timg.mapping" -> "my_pk=key, my_img=value",
      "topic.imgs.ks.timg.dedup" -> "phash:2"))
    val pipe = new SinkPipeline(config,
      Map("ks.timg" -> timg),
      Files.createTempDirectory("graft-phash").toString)
    // batch 0: picture A twice (different jitter → different bytes), one
    // distinct picture B, one non-BMP payload
    pipe.processBatch(bbatch(
      (0L, "1", bmp(1, 0)), (1L, "2", bmp(1, 1)),
      (2L, "3", bmp(2, 0)), (3L, "4", "not a bmp".getBytes("UTF-8"))), 0L)
    val st1 = pipe.store(s, config.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted
    assert(st1.toSeq == Seq(1L, 3L, 4L)) // first A copy, B, undecodable
    // batch 1: yet another jittered A → dropped; new picture C → lands;
    // another undecodable payload → passes again (no sighting recorded)
    pipe.processBatch(bbatch(
      (4L, "5", bmp(1, 1)), (5L, "6", bmp(3, 0)),
      (6L, "7", "still not a bmp".getBytes("UTF-8"))), 1L)
    val st2 = pipe.store(s, config.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted
    assert(st2.toSeq == Seq(1L, 3L, 4L, 6L, 7L))
    // the seen store carries one perceptual hash per distinct picture
    assert(pipe.dedupStore(s, config.bindings.head).state().count() == 3)
  }

  test("dedup config round-trips and rejects malformed values") {
    def conf(v: String) = Map(
      "topic.o.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "topic.o.ks.t1.dedup" -> v)
    intercept[IllegalArgumentException](SinkConfig.parse(conf("fuzzy")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("exactTtl:-5")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("exactTtl:abc")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("exactTtl:")))
    val none = SinkConfig.parse(Map(
      "topic.o.ks.t1.mapping" -> "my_pk=key, my_value=value.v"))
    assert(!none.bindings.head.dedupEnabled)
    val c = SinkConfig.parse(conf("exactTtl:60000"))
    assert(c.bindings.head.dedup == "exactTtl:60000")
    assert(c.bindings.head.dedupTtlMs.contains(60000L))
    assert(SinkConfig.parse(conf("exact")).bindings.head.dedupEnabled)
    // near: bare form defaults to the 16x4 banding; explicit form must have
    // rowsPerBand dividing numHashes; malformed shapes fail at parse
    val near = SinkConfig.parse(conf("near")).bindings.head
    assert(near.dedupEnabled && near.dedupNearParams.contains((16, 4)) &&
      near.dedupTtlMs.isEmpty)
    assert(SinkConfig.parse(conf("near:8x2")).bindings.head
      .dedupNearParams.contains((8, 2)))
    val nearTtl = SinkConfig.parse(conf("near:8x2:60000")).bindings.head
    assert(nearTtl.dedupNearParams.contains((8, 2)) &&
      nearTtl.dedupTtlMs.contains(60000L))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:5x2")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:0x0")))
    // phash: bare form defaults to factor 2; factor and ttl validate
    val ph = SinkConfig.parse(conf("phash")).bindings.head
    assert(ph.dedupEnabled && ph.dedupPhashFactor.contains(2) &&
      ph.dedupTtlMs.isEmpty && ph.dedupNearParams.isEmpty)
    val ph4 = SinkConfig.parse(conf("phash:4:60000")).bindings.head
    assert(ph4.dedupPhashFactor.contains(4) &&
      ph4.dedupTtlMs.contains(60000L))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("phash:0")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("phash:2:")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("phash:2:-5")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:axb")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:16")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:8x2:-5")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:8x2:abc")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:8x2:")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:8x2:0")))
    // named presets expose the strict/broad band regimes on the config
    // surface: strict95 = 8 bands × 12 rows, broad40 = 16 bands × 4 rows
    // (MinHash-over-Jaccard recall law — see SinkConfig.NearPresets)
    val strict = SinkConfig.parse(conf("near:strict95")).bindings.head
    assert(strict.dedupNearParams.contains((96, 12)) &&
      strict.dedupTtlMs.isEmpty)
    val broad = SinkConfig.parse(conf("near:broad40:60000")).bindings.head
    assert(broad.dedupNearParams.contains((64, 4)) &&
      broad.dedupTtlMs.contains(60000L))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:strict95:")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:strict95:-5")))
    intercept[IllegalArgumentException](SinkConfig.parse(conf("near:bogus95")))
  }

  test("dedup=near:broad40 preset drives the pipeline end to end") {
    val root = Files.createTempDirectory("graft-preset").toString
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.dedup" -> "near:broad40"))
    val pipe = new SinkPipeline(config, Map("ks.t2" -> t2), root)
    val b = config.bindings.head
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok30", "tokX")
    pipe.processBatch(batch(
      ("orders", 0L, "1", base, 1000L),
      ("orders", 1L, "2", nearDup, 2000L)), 0L)
    // 64x4 banding: the 1-token mutation shares a band with base → dropped
    assert(pipe.store(s, b).state().select("my_pk").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // the preset's geometry names the store layout on disk
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, "_dedup", "orders.ks.t2", "bands64x4")))
  }

  test("dedup observability: per-binding kept/dropped counters ride the write job (A3)") {
    val root = Files.createTempDirectory("graft-dedupmetrics").toString
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "topic.orders.ks.t1.dedup" -> "exact"))
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1), root)
    // 3 records, one duplicate value → 2 kept, 1 dropped; zero extra actions
    // (kept = the write job's observed total, dropped = slice − kept)
    pipe.processBatch(batch(
      ("orders", 0L, "1", """{"v": 10}""", 1000L),
      ("orders", 1L, "2", """{"v": 10}""", 2000L),
      ("orders", 2L, "3", """{"v": 30}""", 3000L)), 0L)
    assert(pipe.recordCount("orders.ks.t1.dedupKeptCount").value == 2L)
    assert(pipe.recordCount("orders.ks.t1.dedupDroppedCount").value == 1L)
    // a tombstone never dedups: it counts as kept, not dropped
    pipe.processBatch(batch(("orders", 3L, "1", null, 4000L)), 1L)
    assert(pipe.recordCount("orders.ks.t1.dedupKeptCount").value == 3L)
    assert(pipe.recordCount("orders.ks.t1.dedupDroppedCount").value == 1L)
  }

  test("dedupVacuumEvery: expired rows leave untouched buckets on the cadence, no operator call") {
    def run(cadence: String): Long = {
      val config = SinkConfig.parse(Map(
        "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
        "topic.orders.ks.t1.dedup" -> "exactTtl:700",
        "dedupVacuumEvery" -> cadence))
      assert(config.dedupVacuumEvery == cadence.toInt)
      val pipe = new SinkPipeline(config, Map("ks.t1" -> t1),
        Files.createTempDirectory("graft-vac").toString)
      pipe.processBatch(batch(
        ("orders", 0L, "1", """{"v": 10}""", 1000L),
        ("orders", 1L, "2", """{"v": 20}""", 2000L)), 0L)
      assert(pipe.dedupStore(s, config.bindings.head).state().count() == 2)
      Thread.sleep(1000) // both hashes pass the horizon
      // the second batch touches NO bucket of this store (unknown topic):
      // any shrink is the automatic sweep, not the merge-time prune
      pipe.processBatch(batch(("mystery", 2L, "9", """{"v": 1}""", 3000L)), 1L)
      pipe.dedupStore(s, config.bindings.head).state().count()
    }
    assert(run("2") == 0L) // cadence reached at the 2nd batch → swept
    assert(run("0") == 2L) // disabled: expired rows linger until explicit sweep
    intercept[IllegalArgumentException](SinkConfig.parse(Map(
      "topic.o.ks.t1.mapping" -> "my_pk=key", "dedupVacuumEvery" -> "-1")))
    intercept[IllegalArgumentException](SinkConfig.parse(Map(
      "topic.o.ks.t1.mapping" -> "my_pk=key", "dedupVacuumEvery" -> "abc")))
  }

  test("dedup layout round-trip: a revived layout re-seeds instead of reviving stale state") {
    val root = Files.createTempDirectory("graft-layout").toString
    def mk(dedup: String) = {
      val config = SinkConfig.parse(Map(
        "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
        "topic.orders.ks.t1.dedup" -> dedup))
      (new SinkPipeline(config, Map("ks.t1" -> t1), root), config.bindings.head)
    }
    // era 1 (exact): content {"v": 10} enters the seen-hash state
    val (p1, b1) = mk("exact")
    p1.processBatch(batch(("orders", 0L, "1", """{"v": 10}""", 1000L)), 0L)
    assert(p1.dedupStore(s, b1).state().count() == 1)
    // era 2 (near): opening the bands layout flips the marker and clears the
    // hashes directory — the config change is a state reset by design
    val (p2, b2) = mk("near")
    p2.processBatch(batch(("orders", 1L, "2", """{"v": 20}""", 2000L)), 1L)
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get(root, "_dedup", "orders.ks.t1", "_LAYOUT")), "UTF-8") == "bands16x4")
    // era 3 (back to exact): WITHOUT the marker the old hashes dir would
    // revive and silently re-block {"v": 10}; with it the store re-seeds
    val (p3, b3) = mk("exact")
    assert(p3.dedupStore(s, b3).state().count() == 0)
    p3.processBatch(batch(("orders", 2L, "3", """{"v": 10}""", 3000L)), 2L)
    val st = p3.store(s, b3).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted.toSeq
    assert(st.contains(3L)) // the round-tripped content re-admitted
  }

  test("dedup=near over one batch equals batch applyNearDedup on the same corpus") {
    // offsets mirror doc ids, so the sink's (partition, offset) arrival
    // order IS the batch path's doc-id order — the two keep-sets must then
    // match EXACTLY: kept = docs minus doc_b of every band-candidate pair
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft-neareq").toString
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.dedup" -> "near"))
    val pipe = new SinkPipeline(config, Map("ks.t2" -> t2), root)
    // seeded corpus: 3 near-dup families with mutations + unique docs
    val rnd = new scala.util.Random(42)
    val fams = (0 until 3).map(f =>
      (0 until 40).map(i => s"f${f}w$i").mkString(" "))
    val docsSeq = (0L until 30L).map { id =>
      val t =
        if (id < 18) { // near-dup family member: mutate one token
          val base = fams((id % 3).toInt).split(" ")
          base.updated(rnd.nextInt(base.length), s"m$id").mkString(" ")
        } else (0 until 40).map(i => s"u${id}x$i").mkString(" ")
      (id, t)
    }
    pipe.processBatch(batch(docsSeq.map { case (id, t) =>
      ("orders", id, id.toString, t, 1000L + id) }: _*), 0L)
    val sinkKept = pipe.store(s, config.bindings.head).state()
      .select("my_pk").collect().map(_.getLong(0)).sorted.toSeq
    val df = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row]()
      docsSeq.foreach { case (id, t) => l.add(org.apache.spark.sql.Row(id, t)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    }
    val cands = Dedup.minhashCandidates(Dedup.minhashBands(
      Dedup.minhashSignatures(df, "text", "doc_id")))
    val batchKept = Dedup.applyNearDedup(df, cands, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(sinkKept == batchKept,
      s"sink kept $sinkKept != batch kept $batchKept")
    // the corpus must actually exercise the filter (some docs dropped)
    assert(sinkKept.size < 30 && sinkKept.nonEmpty)
  }

  test("dedup=near with TTL: quiet horizon re-admits; expired bands leave the store physically") {
    def ttlConfig(ms: Long) = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.dedup" -> s"near:16x4:$ms"))
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok30", "tokX")
    // wide horizon (must dominate inter-batch processing latency): the
    // cross-batch near-dup is still inside it → dropped
    val wide = ttlConfig(600000L)
    val pipeW = new SinkPipeline(wide, Map("ks.t2" -> t2),
      Files.createTempDirectory("graft-nearttl-w").toString)
    pipeW.processBatch(batch(("orders", 0L, "1", base, 1000L)), 0L)
    assert(pipeW.dedupStore(s, wide.bindings.head).state().count() > 0)
    pipeW.processBatch(batch(("orders", 1L, "2", nearDup, 2000L)), 1L)
    assert(pipeW.store(s, wide.bindings.head).state().select("my_pk")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // narrow horizon: a full quiet horizon passes — the vacuum sweep
    // empties the band store PHYSICALLY and the near-dup content re-admits
    val ms = 900L
    val narrow = ttlConfig(ms)
    val b = narrow.bindings.head
    val pipeN = new SinkPipeline(narrow, Map("ks.t2" -> t2),
      Files.createTempDirectory("graft-nearttl-n").toString)
    pipeN.processBatch(batch(("orders", 0L, "1", base, 1000L)), 0L)
    Thread.sleep(ms + 300)
    pipeN.vacuumDedupState(s)
    assert(pipeN.dedupStore(s, b).state().count() == 0)
    pipeN.processBatch(batch(("orders", 2L, "3", nearDup, 3000L)), 1L)
    assert(pipeN.store(s, b).state().select("my_pk").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("dedup=near: band-colliding content dropped in-batch, cross-batch, and via dropped records' bands") {
    val root = Files.createTempDirectory("graft-neardedup").toString
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.dedup" -> "near"))
    val pipe = new SinkPipeline(config, Map("ks.t2" -> t2), root)
    val b = config.bindings.head
    // the PipelineOpsSpec banding fixtures: base ~ nearDup collide in the
    // 16x4 bands; other shares no band with either
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok30", "tokX")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val fresh = (1 to 60).map(i => s"qqq$i").mkString(" ")
    // batch 0: nearDup shares a band with the EARLIER (lower offset) base →
    // dropped in-batch; other shares none → lands
    pipe.processBatch(batch(
      ("orders", 0L, "1", base, 1000L),
      ("orders", 1L, "2", nearDup, 2000L),
      ("orders", 2L, "3", other, 3000L)), 0L)
    assert(pipe.store(s, b).state().select("my_pk").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // batch 1: nearDup AGAIN — its batch-0 copy was dropped, but a dropped
    // record's bands still block (applyNearDedup pair semantics: kept or
    // not, every doc occupies its buckets); fresh content lands
    pipe.processBatch(batch(
      ("orders", 3L, "4", nearDup, 4000L),
      ("orders", 4L, "5", fresh, 5000L)), 1L)
    assert(pipe.store(s, b).state().select("my_pk").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    // replay of batch 1: a no-op — state and seen-band store unchanged
    val bandRows = pipe.dedupStore(s, b).state().count()
    pipe.processBatch(batch(
      ("orders", 3L, "4", nearDup, 4000L),
      ("orders", 4L, "5", fresh, 5000L)), 1L)
    assert(pipe.store(s, b).state().count() == 3)
    assert(pipe.dedupStore(s, b).state().count() == bandRows)
    // shingle-less records (< 3 tokens) have no bands: both identical short
    // values pass — near dedup never sees them; tombstones never dedup
    pipe.processBatch(batch(
      ("orders", 5L, "6", "hi", 6000L),
      ("orders", 6L, "7", "hi", 7000L),
      ("orders", 7L, "1", null, 8000L)), 2L)
    assert(pipe.store(s, b).state().select("my_pk").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L, 6L, 7L))
  }

  test("X3 passthrough: spark.* config keys reach the session at start") {
    val root = Files.createTempDirectory("graft-pt").toString
    val srcDir = Files.createTempDirectory("graft-pt-src").toString
    val ckpt = Files.createTempDirectory("graft-pt-ckpt").toString
    batch(("orders", 0L, "7", """{"v": 70, "t": "z"}""", 1000L))
      .write.mode("overwrite").parquet(srcDir)
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "spark.sql.parquet.filterPushdown" -> "true",
      "datastax-java-driver.basic.request.timeout" -> "ignored"))
    // only spark.* keys pass through; foreign driver keys are dropped
    assert(config.sparkPassthrough ==
      Map("spark.sql.parquet.filterPushdown" -> "true"))
    val pipe = new SinkPipeline(config, Map("ks.t1" -> t1), root)
    val q = pipe.start(s.readStream.schema(kafkaSchema).parquet(srcDir), ckpt)
    q.awaitTermination(60000)
    assert(s.conf.get("spark.sql.parquet.filterPushdown") == "true")
  }

  test("quality=dsir config: parse round-trip and rejection") {
    val ok = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.quality" -> "dsir:-50:/some/hist/dir"))
    assert(ok.bindings.head.qualityEnabled)
    assert(ok.bindings.head.qualityDsirParams ==
      Some((-50L, "/some/hist/dir")))
    // default off
    assert(!SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value"))
      .bindings.head.qualityEnabled)
    // malformed: missing dir, non-numeric threshold, unknown mode
    Seq("dsir:-50", "dsir:abc:/d", "perplexity:1:/d").foreach { bad =>
      intercept[IllegalArgumentException] {
        SinkConfig.parse(Map(
          "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
          "topic.orders.ks.t2.quality" -> bad))
      }
    }
  }

  /** Train the two-corpus DSIR model into `histDir`; returns a threshold
    * midway between an in-domain and an off-domain text's w_q_avg, picked
    * from the trained model itself (no magic constants). Target =
    * spark-ish docs, raw = a mixed corpus. */
  private def trainQualityModel(histDir: String, inText: String,
      outText: String): Long = {
    import s.implicits._
    val target = Seq((1L, "spark query join table scan"),
      (2L, "query join spark table merge")).toDF("doc_id", "text")
    val raw = Seq((10L, "spark query join filter"),
      (11L, "cat dog fish bird mouse"),
      (12L, "dog cat bird fish horse")).toDF("doc_id", "text")
    graft.operators.Sampling.dsirHistogram(target, raw, "text")
      .write.mode("overwrite").parquet(histDir)
    val scores = graft.operators.Sampling.dsirScore(
        Seq((1L, inText), (2L, outText)).toDF("id", "text"),
        s.read.parquet(histDir), "text", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(scores(1L) > scores(2L), s"in-domain must outscore off-domain: $scores")
    (scores(1L) + scores(2L)) / 2
  }

  test("quality=dsir gate: off-domain records drop at ingest, " +
      "tombstones always pass, counters track kept/dropped") {
    val root = Files.createTempDirectory("graft-quality").toString
    val histDir = Files.createTempDirectory("graft-quality-hist").toString
    val inText = "spark table query join"
    val outText = "cat dog fish bird"
    val thr = trainQualityModel(histDir, inText, outText)

    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.quality" -> s"dsir:$thr:$histDir"))
    val pipe = new SinkPipeline(config, Map("ks.t2" -> t2), root)

    // batch 0: one in-domain record, one off-domain record
    pipe.processBatch(batch(
      ("orders", 0L, "1", inText, 1000L),
      ("orders", 1L, "2", outText, 2000L)), 0L)
    val b = config.bindings.head
    assert(pipe.store(s, b).state().select("my_pk", "my_text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, inText)))
    assert(pipe.recordCount("orders.ks.t2.qualityKeptCount").value == 1L)
    assert(pipe.recordCount("orders.ks.t2.qualityDroppedCount").value == 1L)

    // batch 1: a tombstone for the ingested key must pass the gate
    pipe.processBatch(batch(("orders", 2L, "1", null, 3000L)), 1L)
    assert(pipe.store(s, b).state().count() == 0L)
    // the tombstone is neither kept-scored nor dropped-scored
    assert(pipe.recordCount("orders.ks.t2.qualityKeptCount").value == 1L)
    assert(pipe.recordCount("orders.ks.t2.qualityDroppedCount").value == 1L)
  }

  test("quality gate is a map-side filter: counts ride the downstream job, " +
      "tombstones pass, and a batch costs no extra Spark job") {
    val inText = "spark table query join"
    val outText = "cat dog fish bird"
    val histDir = Files.createTempDirectory("graft-q3-hist").toString
    val thr = trainQualityModel(histDir, inText, outText)
    def cfg(quality: Option[String]) = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value") ++
      quality.map("topic.orders.ks.t2.quality" -> _))

    // the gate on its own: counts resolve with ZERO jobs once any
    // downstream action has run over the filtered slice
    val gateCfg = cfg(Some(s"dsir:$thr:$histDir"))
    val b = gateCfg.bindings.head
    val pipe = new SinkPipeline(gateCfg, Map("ks.t2" -> t2),
      Files.createTempDirectory("graft-q3").toString)
    val slice = batch(
      ("orders", 0L, "1", inText, 1000L),
      ("orders", 1L, "2", outText, 2000L),
      ("orders", 2L, "3", null, 3000L),
      ("orders", 3L, "4", outText + " mouse", 4000L))
    val (out, counts) = pipe.qualityFilter(s, b, slice)
    assert(out.columns.toSeq == slice.columns.toSeq)
    assert(out.select("offset").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 2L), "in-domain record and tombstone pass, off-domain drop")
    val (kd, jobs) = jobsDuring("quality-counts")(counts.get.apply())
    assert(kd == ((1L, 2L)), "kept excludes the tombstone; dropped = 2")
    assert(jobs == 0, s"the gate's counts ran $jobs extra job(s)")

    // end to end: counters, a tombstone through the gate, and the same
    // number of jobs per batch as the binding without the gate (both
    // pipelines keep everything, so the rest of the plan is identical;
    // batch 0 pays the one-time model load)
    val keepAll = new SinkPipeline(cfg(Some(s"dsir:${Long.MinValue}:$histDir")),
      Map("ks.t2" -> t2), Files.createTempDirectory("graft-q3-all").toString)
    val noGate = new SinkPipeline(cfg(None),
      Map("ks.t2" -> t2), Files.createTempDirectory("graft-q3-none").toString)
    val gated = new SinkPipeline(gateCfg, Map("ks.t2" -> t2), Files.createTempDirectory("graft-q3-e2e").toString)
    Seq(keepAll, noGate, gated).foreach(_.processBatch(batch(
      ("orders", 0L, "1", inText, 1000L),
      ("orders", 1L, "2", outText, 2000L)), 0L))
    val next = batch(
      ("orders", 2L, "1", null, 3000L),
      ("orders", 3L, "5", inText + " scan", 4000L),
      ("orders", 4L, "6", outText, 5000L))
    val (_, withGate) = jobsDuring("with-gate")(keepAll.processBatch(next, 1L))
    val (_, without) = jobsDuring("without-gate")(noGate.processBatch(next, 1L))
    assert(withGate == without,
      s"the quality gate added ${withGate - without} job(s) to the batch")
    gated.processBatch(next, 1L)
    assert(gated.store(s, b).state().select("my_pk").collect()
      .map(_.getLong(0)).toSeq == Seq(5L), "tombstone deleted key 1")
    assert(gated.recordCount("orders.ks.t2.qualityKeptCount").value == 2L)
    assert(gated.recordCount("orders.ks.t2.qualityDroppedCount").value == 2L)
  }

  test("observed counters never block: an unfired observation falls back " +
      "to a one-row agg, a fired one costs no job") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val frame = batch(
      ("orders", 0L, "1", "a", 1000L),
      ("orders", 1L, "2", null, 2000L),
      ("orders", 2L, "3", "c", 3000L))
    val counts = Seq("total" -> count(lit(1)),
      "nulls" -> count(when(col("value").isNull, 1)))
    val expected = Map("total" -> 3L, "nulls" -> 1L)
    // no job ever runs the observed frame, so `Observation.get` would
    // wait forever; the read answers from its own agg instead
    val (_, unfired) = SinkPipeline.observeCounts(frame, counts)
    assert(Await.result(Future(unfired()), 60.seconds) == expected)
    // once a job has run over the observed frame the read is free
    val (observed, fired) = SinkPipeline.observeCounts(frame, counts)
    observed.filter(col("value").isNotNull)
      .write.format("noop").mode("overwrite").save()
    val (m, jobs) = jobsDuring("observed-read")(fired())
    assert(m == expected)
    assert(jobs == 0, s"the fired observation's read ran $jobs job(s)")
  }

  test("quality model: a non-dense model fails the batch loudly, and the " +
      "failed load is not cached") {
    import s.implicits._
    val inText = "spark table query join"
    val histDir = Files.createTempDirectory("graft-q4-hist").toString
    val thr = trainQualityModel(histDir, inText, "cat dog fish bird")
    val good = s.read.parquet(histDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val badDir = Files.createTempDirectory("graft-q4-bad").toString
    good.filter(_._1 != 7L).toSeq.toDF("bucket", "lr_q")
      .write.mode("overwrite").parquet(badDir)
    val config = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.quality" -> s"dsir:$thr:$badDir"))
    val pipe = new SinkPipeline(config, Map("ks.t2" -> t2),
      Files.createTempDirectory("graft-q4").toString)
    val rec = batch(("orders", 0L, "1", inText, 1000L))
    val e = intercept[IllegalStateException](pipe.processBatch(rec, 0L))
    assert(e.getMessage.contains(badDir) &&
      e.getCause.getMessage.contains("not dense"), e.getMessage)
    // the model dir is repaired in place: the retried batch loads it
    good.toSeq.toDF("bucket", "lr_q").write.mode("overwrite").parquet(badDir)
    pipe.processBatch(rec, 0L)
    assert(pipe.recordCount("orders.ks.t2.qualityKeptCount").value == 1L)
    assert(pipe.store(s, config.bindings.head).state().count() == 1L)
  }

  test("quality gate replay contract: counters mark only after a durable " +
      "write; dedup drop counter excludes quality drops") {
    val histDir = Files.createTempDirectory("graft-q2-hist").toString
    val inText = "spark table query join"
    val outText = "cat dog fish bird"
    val thr = trainQualityModel(histDir, inText, outText)

    // (a) a batch that fails AFTER the quality agg (unmappable key under
    // ignoreErrors=None) must not mark quality counters: the retry would
    // otherwise double-count — same replay contract as the dedup counters
    val failCfg = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.quality" -> s"dsir:$thr:$histDir"))
    val failPipe = new SinkPipeline(failCfg, Map("ks.t2" -> t2),
      Files.createTempDirectory("graft-q2-fail").toString)
    intercept[IllegalStateException] {
      failPipe.processBatch(batch(("orders", 0L, "x", inText, 1000L)), 0L)
    }
    assert(failPipe.recordCount.get("orders.ks.t2.qualityKeptCount")
      .forall(_.value == 0L))
    // the retried (now-clean) batch marks exactly once
    failPipe.processBatch(batch(("orders", 0L, "7", inText, 1000L)), 0L)
    assert(failPipe.recordCount("orders.ks.t2.qualityKeptCount").value == 1L)

    // (b) quality + dedup on one binding: dedupDroppedCount counts DEDUP
    // drops only — the gate's drops are already in qualityDroppedCount
    val cfg = SinkConfig.parse(Map(
      "topic.orders.ks.t2.mapping" -> "my_pk=key, my_text=value",
      "topic.orders.ks.t2.quality" -> s"dsir:$thr:$histDir",
      "topic.orders.ks.t2.dedup" -> "exact"))
    val pipe = new SinkPipeline(cfg, Map("ks.t2" -> t2),
      Files.createTempDirectory("graft-q2-both").toString)
    pipe.processBatch(batch(
      ("orders", 0L, "1", inText, 1000L),
      ("orders", 1L, "2", outText, 2000L), // quality-dropped
      ("orders", 2L, "3", inText, 3000L)), // exact dup → dedup-dropped
      0L)
    assert(pipe.recordCount("orders.ks.t2.qualityKeptCount").value == 2L)
    assert(pipe.recordCount("orders.ks.t2.qualityDroppedCount").value == 1L)
    assert(pipe.recordCount("orders.ks.t2.dedupKeptCount").value == 1L)
    assert(pipe.recordCount("orders.ks.t2.dedupDroppedCount").value == 1L)
  }

  test("pipeline batchGroups accounting flows the configured " +
      "maxNumberOfRecordsInBatch cap (KAF-95 global)") {
    import s.implicits._
    val cfg = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "maxNumberOfRecordsInBatch" -> "2"))
    val pipe = new SinkPipeline(cfg, Map("ks.t1" -> t1),
      Files.createTempDirectory("graft-bg").toString)
    val mapped = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L))
      .toDF("my_pk", "my_value")
    val g = pipe.batchGroups(mapped, cfg.bindings.head)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(g(1L) == ((3L, 2L))) // 3 rows at cap 2 → 2 batch requests
    assert(g(2L) == ((1L, 1L)))
  }

  test("maxConcurrentRequests caps the state write's task parallelism " +
      "(KAF-60 analogue)") {
    val root = Files.createTempDirectory("graft-mcr").toString
    val cfg = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "maxConcurrentRequests" -> "1"))
    assert(cfg.maxConcurrentRequests == 1)
    val pipe = new SinkPipeline(cfg, Map("ks.t1" -> t1), root)
    pipe.processBatch(batch(
      ("orders", 0L, "1", """{"v": 10}""", 1000L),
      ("orders", 1L, "2", """{"v": 20}""", 1000L),
      ("orders", 2L, "3", """{"v": 30}""", 1000L),
      ("orders", 3L, "4", """{"v": 40}""", 1000L),
      ("orders", 4L, "5", """{"v": 50}""", 1000L),
      ("orders", 5L, "6", """{"v": 60}""", 1000L)), 0L)
    // cap=1 → ONE write task → exactly one part file in the version (the
    // first batch folds into the empty table; uncapped, the fold's shuffle
    // partitions each write one); semantics unchanged — all six rows land
    val v1 = java.nio.file.Paths.get(root, "ks.t1", "v1")
    assert(java.nio.file.Files.exists(v1))
    val parts = java.nio.file.Files.list(v1).iterator()
    var n = 0
    while (parts.hasNext) {
      if (parts.next().getFileName.toString.startsWith("part-")) n += 1
    }
    assert(n == 1, s"$v1 has $n part files under cap=1")
    assert(pipe.store(s, cfg.bindings.head).state().count() == 6L)
  }

  test("queryExecutionTimeout cancels an over-running batch's jobs and " +
      "holds the batch for retry (KAF-49 analogue)") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-qet").toString
    val cfg = SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "queryExecutionTimeout" -> "5"))
    assert(cfg.queryExecutionTimeoutSet && cfg.queryExecutionTimeout == 5)
    // the DEFAULT config leaves the watchdog unarmed (the reference's 30 s
    // per-statement default has no faithful per-batch translation)
    assert(!SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v"))
      .queryExecutionTimeoutSet)
    val pipe = new SinkPipeline(cfg, Map("ks.t1" -> t1), root)
    // a batch whose very first job (the topic-count collect) would run 60 s:
    // 8 tasks × 60 s sleep; the watchdog cancels the group at 5 s and the
    // interrupt (interruptOnCancel) fails the tasks immediately
    val sleepKey = udf { (i: Long) => Thread.sleep(60000L); i.toString }
    val slow = s.range(0L, 8L, 1L, 8).select(
      lit("orders").as("topic"), lit(0).as("partition"),
      col("id").as("offset"), sleepKey(col("id")).as("key"),
      lit("""{"v": 1}""").as("value"),
      lit(null).cast(kafkaSchema("headers").dataType).as("headers"),
      lit(java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(1000L)))
        .as("timestamp"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] { pipe.processBatch(slow, 0L) }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("queryExecutionTimeout"),
      s"unexpected message: ${e.getMessage}")
    assert(elapsed < 55.0, s"watchdog did not cancel (took $elapsed s)")
    // nothing flipped: the failed batch left no state, and the pipeline
    // still processes a normal batch afterwards (retry contract)
    assert(pipe.store(s, cfg.bindings.head).state().count() == 0L)
    pipe.processBatch(batch(("orders", 9L, "7", """{"v": 70}""", 2000L)), 1L)
    assert(pipe.store(s, cfg.bindings.head).state()
      .select("my_pk", "my_value").collect().toSeq == Seq(Row(7L, 70L)))
  }

  test("jmx toggle: start() attaches the stats bridge iff jmx=true") {
    def runStream(cfg: SinkConfig.Config): SinkPipeline = {
      val root = Files.createTempDirectory("graft-jmx").toString
      val srcDir = Files.createTempDirectory("graft-jmx-src").toString
      val ckpt = Files.createTempDirectory("graft-jmx-ck").toString
      batch(("orders", 0L, "7", """{"v": 70}""", 1000L))
        .write.mode("overwrite").parquet(srcDir)
      val pipe = new SinkPipeline(cfg, Map("ks.t1" -> t1), root)
      val q = pipe.start(s.readStream.schema(kafkaSchema).parquet(srcDir), ckpt)
      q.awaitTermination(60000)
      pipe
    }
    val off = runStream(SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v",
      "jmx" -> "false")))
    assert(off.metricsListener.isEmpty)
    val on = runStream(SinkConfig.parse(Map(
      "topic.orders.ks.t1.mapping" -> "my_pk=key, my_value=value.v")))
    try {
      assert(on.metricsListener.isDefined) // default jmx=true
      // listener events arrive asynchronously
      val l = on.metricsListener.get
      var waited = 0
      while (l.stats.values.map(_.inputRows.get).sum < 1 && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      assert(l.stats.values.map(_.inputRows.get).sum >= 1L)
    } finally on.metricsListener.foreach(s.streams.removeListener)
  }
}

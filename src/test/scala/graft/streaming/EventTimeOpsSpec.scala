package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import EventTimeOps._

class EventTimeOpsSpec extends SparkSuite {

  private lazy val s = sqlc

  private val schema = StructType(Seq(
    StructField("topic", StringType), StructField("offset", LongType),
    StructField("key", StringType), StructField("timestamp", TimestampType)))

  private def events(rows: (String, Long, String, Long)*) = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach { case (t, o, k, ms) =>
      l.add(Row(t, o, k, java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(ms))))
    }
    s.createDataFrame(l, schema)
  }

  test("batch tumbling buckets are exact integer floors") {
    val df = events(
      ("a", 0L, "u", 0L), ("a", 1L, "u", 3599999L), // bucket 0
      ("a", 2L, "u", 3600000L),                      // bucket 1
      ("b", 3L, "u", 7200001L))                      // bucket 2
    val out = tumblingCounts(df, 3600000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq((0L, "a", 2L), (3600000L, "a", 1L), (7200000L, "b", 1L)))
  }

  test("sliding windows: each event lands in exactly width/slide windows") {
    // width 1000, slide 500 → 2 windows per event
    val df = events(
      ("a", 0L, "u", 0L),     // windows -500, 0
      ("a", 1L, "u", 499L),   // windows -500, 0
      ("a", 2L, "u", 500L),   // windows 0, 500
      ("b", 3L, "u", 1700L))  // windows 1000, 1500
    val out = slidingCounts(df, 1000L, 500L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq((-500L, "a", 2L), (0L, "a", 3L),
      (500L, "a", 1L), (1000L, "b", 1L), (1500L, "b", 1L)))
    // width == slide degenerates to tumbling
    val tum = slidingCounts(df, 1000L, 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val ref = tumblingCounts(df, 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(tum == ref)
    intercept[IllegalArgumentException] { slidingCounts(df, 1000L, 300L) }
  }

  test("batch sessionization splits on gaps > threshold") {
    val df = events(
      ("a", 0L, "u1", 1000L), ("a", 1L, "u1", 2000L),   // session 1
      ("a", 2L, "u1", 4000000L),                         // session 2 (gap > 30min)
      ("a", 3L, "u2", 500L))                             // other key
    val out = sessionize(df, 1800000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(("u1", 1L, 2L), ("u1", 2L, 1L), ("u2", 1L, 1L)))
  }

  test("funnel: strictly-after steps, ties excluded, monotone counts") {
    import s.implicits._
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 10L, "view"), (2L, 5L, "click"),          // click before view
      (3L, 10L, "view"), (3L, 10L, "click"),         // tie: not strictly after
      (3L, 50L, "purchase"),
      (4L, 1L, "click"), (4L, 2L, "purchase"))       // never viewed
      .toDF("user_id", "ts", "event_type")
    val out = funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1, "view", 3L), (2, "click", 1L),
      (3, "purchase", 1L)))
  }

  test("rolling agg: trailing range frame, tie rows share the frame") {
    import s.implicits._
    val ev = Seq(
      ("a", 0L, 1L), ("a", 1000L, 2L), ("a", 3600000L, 3L),
      ("a", 3600500L, 4L), ("a", 7300000L, 5L),
      ("b", 100L, 10L), ("b", 100L, 20L))
      .toDF("k", "ts", "v")
    val out = rollingAgg(ev, "k", "ts", "v", windowMs = 3600000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(out(("a", 0L, 1L)) == ((1L, 1L)))
    assert(out(("a", 1000L, 2L)) == ((2L, 3L)))
    assert(out(("a", 3600000L, 3L)) == ((3L, 6L)))   // 0 is in-range
    assert(out(("a", 3600500L, 4L)) == ((3L, 9L)))   // 0 aged out
    assert(out(("a", 7300000L, 5L)) == ((1L, 5L)))
    assert(out(("b", 100L, 10L)) == ((2L, 30L)))     // RANGE: ties share
    assert(out(("b", 100L, 20L)) == ((2L, 30L)))
  }

  test("cohort retention: first-week cohorts, distinct weekly activity") {
    import s.implicits._
    val W = 604800000L
    val ev = Seq((1L, 0L * W + 5), (1L, 1L * W + 9), (1L, 3L * W + 1),
      (2L, 1L * W + 2), (2L, 1L * W + 7), (2L, 2L * W + 3),
      (3L, 0L * W + 8)).toDF("user_id", "ts_ms")
    val out = cohortRetention(ev, "user_id", "ts_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  test("transition matrix: id tie-break order, row-normalized ppm") {
    import s.implicits._
    val ev = Seq(
      ("u", 1L, 1L, "v"), ("u", 2L, 2L, "c"), ("u", 2L, 3L, "p"),
      ("u", 5L, 4L, "v"),   // ties at ts=2 order by id: c then p
      ("w", 1L, 5L, "v"), ("w", 2L, 6L, "p"))
      .toDF("k", "ts", "id", "et")
    val out = transitionMatrix(ev, "k", "ts", "id", "et")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("v", "c") -> ((1L, 500000L)), ("v", "p") -> ((1L, 500000L)),
      ("c", "p") -> ((1L, 1000000L)), ("p", "v") -> ((1L, 1000000L))))
  }

  test("decayed counts: shift-exact halving, future clamp, max half-lives") {
    import s.implicits._
    val ev = Seq(("u", 100L), ("u", 90L), ("u", 85L), ("u", 0L),
      ("u", 150L)).toDF("k", "ts")
    val out = decayedCounts(ev, "k", "ts", nowMs = 100L, halfLifeMs = 10L)
      .collect().head
    // 2^20 + 2^19 + 2^19 + (2^20 >> 10) + 2^20 (future age clamps to 0)
    assert((out.getLong(1), out.getLong(2)) == ((5L, 3146752L)))
    val capped = decayedCounts(ev.filter(col("ts") === 0L), "k", "ts",
      nowMs = 100L, halfLifeMs = 10L, maxHalfLives = 3)
      .collect().head
    assert(capped.getLong(2) == 131072L)  // min(10, 3) shifts
  }

  test("funnelWindowed: the gap bound drops late conversions") {
    import s.implicits._
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"),      // in-window chain
      (2L, 10L, "view"), (2L, 5000L, "click"),    // click too late
      (3L, 10L, "view"))
      .toDF("user_id", "ts", "event_type")
    val out = EventTimeOps.funnelWindowed(ev, "user_id", "ts",
      "event_type", Seq("view", "click"), maxGapMs = 100L)
      .collect().map(r => (r.getInt(0), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1, 3L), (2, 1L))) // plain funnel would say 2
  }

  test("rateChangeReport: day-over-day ratios with gap carry") {
    val schema2 = StructType(Seq(
      StructField("k", StringType), StructField("ts_ms", LongType)))
    val l = new java.util.ArrayList[Row]()
    val day = 86400000L
    // day 1: 2 events, day 2: 4, day 4: 2 (day 3 silent)
    Seq(day + 1, day + 2, 2 * day + 1, 2 * day + 2, 2 * day + 3,
      2 * day + 4, 4 * day + 1, 4 * day + 2)
      .foreach(t => l.add(Row("u", t)))
    val out = EventTimeOps.rateChangeReport(
      s.createDataFrame(l, schema2), "k", "ts_ms")
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (2L, 0L, 0L))       // first observation
    assert(out(2L) == (4L, 2L, 2000L))    // doubled
    assert(out(4L) == (2L, 4L, 500L))     // vs previous ACTIVE day
  }

  test("churnLabels: horizon cutoff from the corpus max") {
    val schema2 = StructType(Seq(
      StructField("k", StringType), StructField("ts", LongType)))
    val l = new java.util.ArrayList[Row]()
    Seq(("a", 10L), ("a", 60L), ("b", 80L), ("b", 100L))
      .foreach { case (k, t) => l.add(Row(k, t)) }
    val out = EventTimeOps.churnLabels(
      s.createDataFrame(l, schema2), "k", "ts", horizonMs = 30L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // cutoff = 100 − 30 = 70: a's last activity 60 < 70 → churned
    assert(out("a") == (2L, 60L, true))
    assert(out("b") == (2L, 100L, false))
  }

  test("attribution: last-touch asof + first-touch-in-window, nulls kept") {
    val schema2 = StructType(Seq(
      StructField("k", StringType), StructField("ts", LongType),
      StructField("id", LongType)))
    def f(rows: (String, Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, t, i) => l.add(Row(k, t, i)) }
      s.createDataFrame(l, schema2)
    }
    val convs = f(("u", 50L, 1L), ("u", 9L, 2L))
    val touches = f(("u", 10L, 100L), ("u", 50L, 101L))
    val out = EventTimeOps.attribution(convs, touches, "k", "ts", "id",
      windowMs = 30L)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // conv 1 @50: last = touch 101 (tie at 50 inclusive); window [20, 50]
    // holds only ts 50 → first = 101. conv 2 @9: nothing at or before.
    assert(out(1L) == (101L, 101L))
    assert(out(2L) == (-1L, -1L))
  }

  test("sessionStats: per-key session shape over the gap sessionizer") {
    val df = events(
      ("a", 0L, "u1", 1000L), ("a", 1L, "u1", 2000L),   // session 1 (1s span)
      ("a", 2L, "u1", 4000000L),                         // session 2 (0 span)
      ("a", 3L, "u2", 500L))
    val out = EventTimeOps.sessionStats(df, 1800000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("u1") == (2L, 3L, 2L, 500L)) // (1000+0) DIV 2 sessions
    assert(out("u2") == (1L, 1L, 1L, 0L))
  }

  test("behaviorEntropy: qlog2-exact transition entropy; constant key = 0") {
    val schema2 = StructType(Seq(
      StructField("k", StringType), StructField("ts", LongType),
      StructField("id", LongType), StructField("t", StringType)))
    val l = new java.util.ArrayList[Row]()
    // u1: a b a b → transitions ab, ba, ab (c={ab:2, ba:1}, n=3)
    Seq(("u1", 1L, 1L, "a"), ("u1", 2L, 2L, "b"),
      ("u1", 3L, 3L, "a"), ("u1", 4L, 4L, "b"),
      // u2: a a a → one transition kind, entropy 0
      ("u2", 1L, 5L, "a"), ("u2", 2L, 6L, "a"), ("u2", 3L, 7L, "a"))
      .foreach { case (k, t, i, e) => l.add(Row(k, t, i, e)) }
    val out = EventTimeOps.behaviorEntropy(s.createDataFrame(l, schema2),
      "k", "ts", "id", "t")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // qlog2(3)=1536, qlog2(2)=1024, qlog2(1)=0 →
    // (2·512 + 1·1536) DIV 3 = 853
    assert(out("u1") == (3L, 2L, 853L))
    assert(out("u2") == (2L, 1L, 0L))
  }

  test("temporalProfile: integer epoch dow/hour and class shares") {
    val schema = StructType(Seq(
      StructField("cls", StringType), StructField("ts_ms", LongType)))
    val l = new java.util.ArrayList[Row]()
    // epoch 0 = Thursday 00:00 UTC → dow 4, hour 0
    Seq(("a", 0L), ("a", 3600000L), ("a", 3600000L + 1L),
      ("b", 86400000L * 3L)) // +3 days → Sunday → dow 0
      .foreach { case (c, t) => l.add(Row(c, t)) }
    val out = EventTimeOps.temporalProfile(
      s.createDataFrame(l, schema), "ts_ms", "cls")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(out(("a", 4L, 0L)) == (1L, 333333L))
    assert(out(("a", 4L, 1L)) == (2L, 666666L))
    assert(out(("b", 0L, 0L)) == (1L, 1000000L))
  }

  test("cusumReport: excursion peak, its timestamp, and the zero return") {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ts", LongType),
      StructField("id", LongType), StructField("v", LongType)))
    val l = new java.util.ArrayList[Row]()
    // global mean = 2; k1 front-loads (+2 +2 −2 −2), k2 mirrors
    Seq(("k1", 10L, 1L, 4L), ("k1", 20L, 2L, 4L),
      ("k1", 30L, 3L, 0L), ("k1", 40L, 4L, 0L),
      ("k2", 10L, 5L, 0L), ("k2", 20L, 6L, 0L),
      ("k2", 30L, 7L, 4L), ("k2", 40L, 8L, 4L))
      .foreach { case (k, t, i, v) => l.add(Row(k, t, i, v)) }
    val out = EventTimeOps.cusumReport(s.createDataFrame(l, schema),
      "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // peak |cusum| = 4 at the SECOND event (earliest ts achieving it),
    // and the walk returns to 0 by the end
    assert(out("k1") == (4L, 4L, 20L, 0L))
    assert(out("k2") == (4L, 4L, 20L, 0L))
  }

  test("partitionCompleteness: zero-filled hole flags, intact days pass, " +
      "first day has no trailing history") {
    val l = new java.util.ArrayList[Row]()
    val day0 = 19000L * 86400000L
    // days 0..9, 100 events each — except day 5 absent and day 7 partial
    (0 to 9).foreach { d =>
      val per = d match { case 5 => 0; case 7 => 10; case _ => 100 }
      (0 until per).foreach(i =>
        l.add(Row(day0 + d * 86400000L + i)))
    }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("ms", LongType))))
    val out = partitionCompleteness(df, "ms", lookbackDays = 3,
      minRatioPpm = 500000L)
      .collect().map(r => (r.getLong(0) - 19000L).toInt ->
        ((r.getLong(1), r.isNullAt(2), r.getBoolean(4)))).toMap
    assert(out(0) == ((100L, true, true)))  // no history → passes
    assert(out(5) == ((0L, false, false)))  // the hole flags
    assert(out(7) == ((10L, false, false))) // partial day flags
    assert(out(9) == ((100L, false, true))) // recovered day passes
    // day 8's trailing window is [0, 10, 100] → median 10; 100 ≥ 50% of 10
    assert(out(8)._3)
  }
}

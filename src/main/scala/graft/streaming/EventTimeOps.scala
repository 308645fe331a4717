package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Event-time operators over the record stream: tumbling and sliding
 * counts, gap-based sessionization, funnels, status histories and the
 * audits that size a streaming pipeline's watermark and quotas. All are
 * batch operators (exact, DuckDB-oracle-checkable): integer epoch-bucket
 * arithmetic and gaps-and-islands window functions over keyed windows.
 *
 * The reference has no event-time operators (SURVEY §2.10) — these are
 * north-star extensions for the training-data pipeline, built Spark-first.
 */
object EventTimeOps {

  /** Batch tumbling counts: bucket = floor(epochMs / widthMs) — pure integer
    * arithmetic, one partial-aggregated shuffle on (bucket, topic). */
  def tumblingCounts(records: DataFrame, widthMs: Long): DataFrame =
    records
      // integer DIV: double division truncation can misbucket boundary values
      .withColumn("bucket_start_ms",
        expr(s"(unix_millis(timestamp) DIV $widthMs) * $widthMs"))
      .groupBy(col("bucket_start_ms"), col("topic"))
      .agg(count(lit(1)).as("n_events"))

  /**
   * Batch sliding-window counts: width must be a multiple of slide, so each
   * event lands in exactly `width/slide` windows — a bounded integer
   * `sequence` explode off the event's base bucket, then the same one
   * partial-aggregated shuffle as [[tumblingCounts]]. Fan-out is the fixed
   * window ratio (no per-key state, no range join), so the plan scales
   * linearly with event volume at any slide ratio.
   */
  def slidingCounts(records: DataFrame, widthMs: Long, slideMs: Long)
      : DataFrame = {
    require(widthMs > 0 && slideMs > 0 && widthMs % slideMs == 0,
      s"width ($widthMs) must be a positive multiple of slide ($slideMs)")
    val k = widthMs / slideMs
    records
      .withColumn("__base",
        expr(s"(unix_millis(timestamp) DIV $slideMs) * $slideMs"))
      .withColumn("window_start_ms",
        explode(sequence(col("__base") - (k - 1) * slideMs, col("__base"),
          lit(slideMs))))
      .groupBy(col("window_start_ms"), col("topic"))
      .agg(count(lit(1)).as("n_events"))
  }

  /**
   * Batch sessionization (gaps-and-islands): a new session starts when the
   * gap to the previous event of the same key exceeds `gapMs`. Session id is
   * the running count of session starts per key — deterministic given the
   * (ms, offset) sort. One shuffle on the key; both window functions share it.
   */
  def sessionize(records: DataFrame, gapMs: Long): DataFrame =
    assignSessions(
      records.select(col("key"), col("offset"),
        unix_millis(col("timestamp")).as("ms")), gapMs)
      .groupBy(col("key"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))

  /**
   * Merge overlapping/touching intervals per key (interval coalescing —
   * the validity-window union of an SCD feed, coverage islands of a sensor
   * log): a new island starts when an interval's start exceeds the running
   * max end of everything before it. Output: (key, island, start_ms,
   * end_ms, n_intervals). Two keyed window passes sharing one shuffle; the
   * island id is deterministic given the (start, end) sort.
   */
  def coalesceIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    df.select(col(keyCol).as("key"), col(startCol).cast(LongType).as("s"),
        col(endCol).cast(LongType).as("e"))
      .withColumn("prev_max", max(col("e")).over(
        Window.partitionBy(col("key")).orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        Window.partitionBy(col("key")).orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("key"), col("island"))
      .agg(min(col("s")).as("start_ms"), max(col("e")).as("end_ms"),
        count(lit(1)).as("n_intervals"))
      .orderBy("key", "island")
  }

  /** The single definition of the session-boundary rule: append
    * `session_id` (running count of gap-starts per key, (ms, offset)
    * sort) to a frame that carries `key`, `offset`, `ms` plus any
    * payload columns — shared by [[sessionize]] and
    * [[sessionConversion]] so the two can never disagree on where a
    * session starts. */
  private def assignSessions(rows: DataFrame, gapMs: Long): DataFrame = {
    val byKey = Window.partitionBy(col("key"))
      .orderBy(col("ms"), col("offset"))
    val cum = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .withColumn("prev_ms", lag(col("ms"), 1).over(byKey))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(cum))
      .drop("prev_ms", "new_session")
  }

  /**
   * Session-level conversion report: sessionize the record stream
   * ([[sessionize]]'s gaps-and-islands, same key/offset/timestamp
   * contract) and report how many sessions contain at least one
   * `target`-topic event — the "did the visit convert" read, which the
   * event-level rate (conversions / events) systematically understates
   * for long sessions. One keyed window pass + two partial-agg groupBys.
   *
   * Output (1 row): (n_sessions, n_converted, events_in_converted,
   * events_in_other, conversion_ppm).
   */
  def sessionConversion(records: DataFrame, gapMs: Long,
      target: String): DataFrame = {
    val sessions = assignSessions(
      records.select(col("key"), col("offset"),
        unix_millis(col("timestamp")).as("ms"),
        (col("topic") === target).cast(LongType).as("hit")), gapMs)
      .groupBy(col("key"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), max(col("hit")).as("converted"))
    sessions
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"),
        sum(when(col("converted") === 1L, col("n_events")).otherwise(0L))
          .as("events_in_converted"),
        sum(when(col("converted") === 0L, col("n_events")).otherwise(0L))
          .as("events_in_other"))
      .withColumn("conversion_ppm",
        graft.operators.IntMath.idiv(col("n_converted") * lit(1000000L),
          greatest(col("n_sessions"), lit(1L))))
  }

  /**
   * Funnel analysis over an event log: how many keys (users) reach step 1,
   * then step 2 strictly after their earliest step-1 time, and so on — the
   * standard conversion funnel. Semantics are pure min-aggregations ("the
   * earliest occurrence of step i+1 strictly after the chosen step-i
   * time"), so the result is deterministic even under timestamp ties — no
   * per-key event ordering or array collection is ever needed. Each step is
   * one key-partial-agg groupBy + one co-keyed join: k steps = k bounded
   * shuffles on the key; the result is a lazy union of k one-row
   * aggregates, nothing driver-side.
   *
   * Output: (step, step_name, n_keys) — n_keys is monotone non-increasing.
   */
  /**
   * Per-key session statistics over [[sessionize]] output: session count,
   * total events, the deepest session, and truncating mean session
   * duration — the engagement-shape report (and, on a record stream, the
   * bot heuristic: thousands of 1-event sessions). One extra partial-agg
   * groupBy over the already-keyed session rows.
   *
   * Output: (key, n_sessions, n_events, max_session_events,
   * avg_session_ms).
   */
  def sessionStats(records: DataFrame, gapMs: Long): DataFrame =
    sessionize(records, gapMs)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"),
        graft.operators.IntMath.idiv(
          sum(col("end_ms") - col("start_ms")), count(lit(1)))
          .as("avg_session_ms"))

  /**
   * Seasonal-naive forecast error per group: predict each day's event
   * count with the count `period` days earlier, and report the per-group
   * error mass — the drift alarm every ingestion pipeline runs on its
   * arrival-rate telemetry (a cheap forecast whose failure IS the signal:
   * the day a source doubles or dies, sMAPE jumps). Only days whose
   * day−period partner EXISTS are scored (a join, not a lag — sparse
   * day grids must not misalign), and the symmetric error term
   * 2·10⁶·|a−f| DIV (a+f) is integer-exact (both sides are counts ≥ 1).
   *
   * Scale shape: rows partial-agg to (group, day) cells first; the
   * forecast is a self-join of that daily frame shifted by `period` —
   * everything after the first groupBy is cell-sized, not row-sized.
   *
   * Output: (grp, n_days, n_scored, sum_abs_err, sum_actual,
   * smape2_ppm — the truncating mean of the per-day symmetric term).
   */
  def seasonalNaiveError(df: DataFrame, groupCol: String, dayCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val daily = df.groupBy(col(groupCol).as("grp"),
        col(dayCol).cast(LongType).as("day"))
      .agg(count(lit(1)).as("actual"))
    val fc = daily.select(col("grp"), (col("day") + period).as("day"),
      col("actual").as("forecast"))
    val nDays = daily.groupBy("grp").agg(count(lit(1)).as("n_days"))
    val scored = daily.join(fc, Seq("grp", "day"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("actual") - col("forecast"))).as("sum_abs_err"),
        sum(col("actual")).as("sum_actual"),
        sum(graft.operators.IntMath.idiv(
          abs(col("actual") - col("forecast")) * lit(2000000L),
          col("actual") + col("forecast"))).as("t"))
    nDays.join(scored, Seq("grp"), "left")
      .select(col("grp"), col("n_days"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("sum_abs_err"), lit(0L)).as("sum_abs_err"),
        coalesce(col("sum_actual"), lit(0L)).as("sum_actual"),
        when(coalesce(col("n_scored"), lit(0L)) === 0L, lit(0L))
          .otherwise(graft.operators.IntMath.idiv(col("t"),
            col("n_scored"))).as("smape2_ppm"))
  }

  /**
   * Top-k user-journey paths: the most common length-`len` runs of
   * consecutive event types, ordered per key by (ts, order-column) — the
   * sankey/flow report behind "what do users actually do after signup".
   * The per-key sequence is a bounded collect (events per user, the same
   * envelope [[sessionize]]'s windows assume); path extraction is an
   * in-array sliding window (map-only), and the ranking is a partial-agg
   * count + TakeOrdered — no global sort.
   *
   * `orderCol` breaks timestamp ties totally (an event id), so the
   * sequence — and therefore every path — is deterministic on any
   * partitioning.
   *
   * Output: (path, n), top `topK` by (n DESC, path ASC).
   */
  def journeyPaths(events: DataFrame, keyCol: String, tsCol: String,
      orderCol: String, typeCol: String, len: Int = 3,
      topK: Int = 20): DataFrame = {
    require(len >= 2, s"len must be >= 2, got $len")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val seqs = events.groupBy(col(keyCol).as("k"))
      .agg(array_sort(collect_list(struct(col(tsCol).as("t"),
        col(orderCol).as("o"), col(typeCol).as("e")))).as("seq"))
      .select(col("k"), expr("transform(seq, s -> s.e)").as("types"))
      .filter(size(col("types")) >= len)
    seqs
      .select(explode(transform(
        sequence(lit(0), size(col("types")) - len),
        i => concat_ws(">", slice(col("types"), i + lit(1), lit(len)))))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(topK)
  }

  def funnel(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.size <= 16, "1..16 funnel steps")
    val base = events.select(col(keyCol).as("k"), col(tsCol).as("ts"),
      col(typeCol).as("et"))
    def stepRow(i: Int, name: String, reached: DataFrame): DataFrame =
      reached.agg(count(lit(1)).as("n_keys"))
        .select(lit(i).as("step"), lit(name).as("step_name"), col("n_keys"))
    var reached = base.filter(col("et") === steps.head)
      .groupBy("k").agg(min(col("ts")).as("t"))
    var out = stepRow(1, steps.head, reached)
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      reached = base.filter(col("et") === s)
        .join(reached.select(col("k"), col("t").as("t_prev")), "k")
        .filter(col("ts") > col("t_prev"))
        .groupBy("k").agg(min(col("ts")).as("t"))
      out = out.unionByName(stepRow(i + 1, s, reached))
    }
    out
  }

  /**
   * Time-bounded funnel: like [[funnel]], but each step must land within
   * `maxGapMs` of the PREVIOUS step's earliest completion — the
   * conversion-within-SLA form ("click within an hour of the view"),
   * which plain step ordering overstates on long-lived keys. Same
   * greedy-earliest semantics, same per-step semi-join shape.
   *
   * Output: (step, step_name, n_keys) per step, counts monotone
   * non-increasing.
   */
  def funnelWindowed(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], maxGapMs: Long): DataFrame = {
    require(steps.nonEmpty && steps.size <= 16, "1..16 funnel steps")
    require(maxGapMs > 0L, "maxGapMs must be positive")
    val base = events.select(col(keyCol).as("k"), col(tsCol).as("ts"),
      col(typeCol).as("et"))
    def stepRow(i: Int, name: String, reached: DataFrame): DataFrame =
      reached.agg(count(lit(1)).as("n_keys"))
        .select(lit(i).as("step"), lit(name).as("step_name"), col("n_keys"))
    var reached = base.filter(col("et") === steps.head)
      .groupBy("k").agg(min(col("ts")).as("t"))
    var out = stepRow(1, steps.head, reached)
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      reached = base.filter(col("et") === s)
        .join(reached.select(col("k"), col("t").as("t_prev")), "k")
        .filter(col("ts") > col("t_prev") &&
          col("ts") <= col("t_prev") + maxGapMs)
        .groupBy("k").agg(min(col("ts")).as("t"))
      out = out.unionByName(stepRow(i + 1, s, reached))
    }
    out
  }

  /**
   * Rolling event-time aggregates per key — the feature every time-series
   * pipeline wants ("events and volume in the trailing hour"): a key-KEYED
   * window with a RANGE frame of `windowMs` preceding milliseconds. RANGE
   * (not ROWS) makes timestamp ties frame-identical in every engine, so
   * the result is deterministic under any partitioning. One shuffle on the
   * key; value stays integer (pre-scaled by the caller).
   *
   * Output: the input columns plus `n_win` and `sum_win`.
   */
  def rollingAgg(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowMs: Long): DataFrame = {
    require(windowMs > 0, "windowMs must be positive")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
      .rangeBetween(-windowMs, 0)
    events.withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum_win", sum(col(valueCol)).over(w))
  }

  /**
   * Cohort retention matrix over an event log: users cohort by their
   * first-activity week (epoch-week = ts_ms DIV 604,800,000), and cell
   * (cohort_week, week_offset) counts users of that cohort active
   * `week_offset` weeks later — the standard retention triangle. Offset 0
   * is the cohort size. Three key-partial aggregations (first-seen per
   * user, distinct user-weeks, matrix roll-up) — all integer, no windows.
   *
   * Output: (cohort_week, week_offset, n_users).
   */
  def cohortRetention(events: DataFrame, keyCol: String, tsCol: String)
      : DataFrame = {
    val weeks = events.select(col(keyCol).as("k"),
      graft.operators.IntMath.idiv(col(tsCol), lit(604800000L)).as("wk"))
    val cohort = weeks.groupBy("k").agg(min(col("wk")).as("cohort_week"))
    weeks.distinct()
      .join(cohort, "k")
      .groupBy(col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * First-order Markov transition matrix over per-key event sequences:
   * consecutive (from → to) event-type pairs under a key-keyed window
   * ordered by (ts, id) — the id tie-break pins sequence order under
   * equal timestamps — with transition probabilities in ppm (integer,
   * floor). The session-behavior fingerprint; rows with no predecessor
   * (each key's first event) contribute nothing.
   *
   * Output: (from_type, to_type, n, p_ppm) — p is row-normalized by
   * from_type's outgoing total.
   */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .withColumn("from_type", lag(col(typeCol), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("tot"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        graft.operators.IntMath.idiv(col("n") * 1000000L, col("tot"))
          .as("p_ppm"))
  }

  /**
   * Recency-weighted activity score with EXACT exponential decay: each
   * event contributes 2²⁰ >> (age DIV halfLife) — halving per half-life
   * via a bit shift, so the "exponential" stays pure integer and
   * bit-identical in every engine (the usual e^(−λt) float decay cannot
   * hash-match). Ages clamp at `maxHalfLives` shifts (weight 1 forever —
   * monotone, never negative). One key-partial aggregation; `nowMs` is an
   * explicit parameter so replays are deterministic.
   *
   * Output: (key, n_events, decayed_x2p20) — a fresh event is worth
   * 1,048,576; a one-half-life-old one 524,288.
   */
  def decayedCounts(events: DataFrame, keyCol: String, tsCol: String,
      nowMs: Long, halfLifeMs: Long, maxHalfLives: Int = 20): DataFrame = {
    require(halfLifeMs > 0, "halfLifeMs must be positive")
    require(maxHalfLives >= 1 && maxHalfLives <= 62, "maxHalfLives in [1,62]")
    val age = greatest(lit(nowMs) - col(tsCol), lit(0L))
    val shifts = least(graft.operators.IntMath.idiv(age, lit(halfLifeMs)),
      lit(maxHalfLives.toLong))
    events.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.operators.IntMath.shr(lit(1048576L), shifts))
          .as("decayed_x2p20"))
  }

  /**
   * SCD2-style status history: per key, collapse the event stream into
   * maximal runs of equal `statusCol` and emit one validity interval per
   * run — the slowly-changing-dimension build every warehouse needs when
   * ingesting a mutable attribute from an append-only log.
   *
   * Gaps-and-islands with KEYED windows only: a lag() marks run starts, a
   * running sum numbers runs, one partial-agg groupBy collapses each run,
   * and a lead() closes each interval with the next run's start
   * (`valid_to_ms` NULL + `is_current` on the last run). Ties on `tsCol`
   * break on `idCol`, so runs are deterministic under concurrent events.
   * Everything partitions by key — no global sort at any width.
   */
  def statusIntervals(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, statusCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val runs = events
      .withColumn("__chg",
        when(lag(col(statusCol), 1).over(w).isNull ||
          lag(col(statusCol), 1).over(w) =!= col(statusCol), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("__chg")).over(w))
    val collapsed = runs
      .groupBy(col(keyCol).as("key"), col("run_id"), col(statusCol).as("status"))
      .agg(min(col(tsCol)).as("valid_from_ms"), count(lit(1)).as("n_events"))
    val wk = Window.partitionBy(col("key")).orderBy(col("run_id"))
    collapsed
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(wk))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select("key", "run_id", "status", "valid_from_ms", "valid_to_ms",
        "n_events", "is_current")
  }

  /**
   * Per-group inter-arrival statistics: lag() deltas within each key's
   * ordered stream, then one partial aggregation per `groupCol` — the
   * ingest-health report (event spacing per type/source/shard). All
   * integer: avg is a truncating DIV. Keyed windows only.
   */
  def interarrivalStats(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, groupCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("__gap", col(tsCol) - col("__prev"))
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("__gap")).as("min_gap_ms"),
        max(col("__gap")).as("max_gap_ms"),
        graft.operators.IntMath.idiv(sum(col("__gap")), count(lit(1)))
          .as("avg_gap_ms"))
  }

  /**
   * Day-over-day rate-change report: per (key, day) event counts with the
   * previous active day's count and the change ratio ×1000 — the sudden
   * spike/collapse detector over any keyed stream (a crawler waking up, a
   * source going dark). Ratio compares against the previous ACTIVE day
   * (gaps carry the last observation, like a trading calendar); the first
   * observation reports ratio 0. One groupBy + one keyed lag window.
   *
   * Output: (key, day, n, prev_n, change_x1000).
   */
  def rateChangeReport(events: DataFrame, keyCol: String,
      tsMsCol: String): DataFrame = {
    val daily = events.select(col(keyCol).as("key"),
        graft.operators.IntMath.idiv(col(tsMsCol), lit(86400000L))
          .as("day"))
      .groupBy("key", "day").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("key")).orderBy(col("day"))
    daily.withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("key"), col("day"), col("n"),
        coalesce(col("prev_n"), lit(0L)).as("prev_n"),
        when(col("prev_n").isNull, 0L)
          .otherwise(graft.operators.IntMath.idiv(col("n") * lit(1000L),
            col("prev_n"))).as("change_x1000"))
  }

  /**
   * Churn labeling: a key is churned when its LAST activity predates the
   * observation horizon (corpus max ts − `horizonMs`) — the standard
   * supervised-churn label derivation, deterministic from the data alone.
   * One 1-row aggregate for the cutoff + one partial-agg groupBy.
   *
   * Output: (key, n_events, last_ts, churned).
   */
  def churnLabels(events: DataFrame, keyCol: String, tsCol: String,
      horizonMs: Long): DataFrame = {
    require(horizonMs > 0L, "horizonMs must be positive")
    val mm = events.agg(max(col(tsCol))).head()
    require(!mm.isNullAt(0), "churnLabels of an empty frame")
    val cutoff = mm.getLong(0) - horizonMs
    events.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_events"), max(col(tsCol)).as("last_ts"))
      .withColumn("churned", col("last_ts") < cutoff)
  }

  /**
   * Conversion attribution: for every conversion, the LAST touch at or
   * before it (unwindowed — the classic last-touch model) and the FIRST
   * touch inside the trailing `windowMs` (first-touch-in-window). Built
   * from the two skew-safe join primitives: last = [[AsofJoin.asofJoin]]
   * (touches compacted per (key, ts) by max id, q74's convention), first =
   * [[graft.operators.RangeJoin.bucketed]] over the conversion's trailing
   * interval + one lexicographic min — no per-key cross product anywhere.
   *
   * Output: (conv_id, key, ts, last_touch_id, first_touch_id); either
   * side null when no qualifying touch exists.
   */
  def attribution(conversions: DataFrame, touches: DataFrame,
      keyCol: String, tsCol: String, idCol: String,
      windowMs: Long): DataFrame = {
    require(windowMs > 0L, "windowMs must be positive")
    val convs = conversions.select(col(keyCol).as("key"),
      col(tsCol).as("ts"), col(idCol).as("conv_id"))
    val tpts = touches.select(col(keyCol).as("key"), col(tsCol).as("ts"),
      col(idCol).as("touch_id"))
    val tcomp = tpts.groupBy("key", "ts")
      .agg(max("touch_id").as("touch_id"))
    val last = graft.operators.AsofJoin.asofJoin(convs, tcomp, "key", "ts",
      Seq("touch_id"))
    val iv = convs.select(col("key"), col("conv_id"),
      (col("ts") - windowMs).as("__s"), (col("ts") + 1L).as("__e"))
    val first = graft.operators.RangeJoin.bucketed(tpts, iv, "key", "ts",
        "__s", "__e", bucketWidth = windowMs)
      .groupBy("conv_id")
      .agg(min(struct(col("ts"), col("touch_id"))).as("__f"))
      .select(col("conv_id"), col("__f.touch_id").as("first_touch_id"))
    last.join(first, Seq("conv_id"), "left")
      .select(col("conv_id"), col("key"), col("ts"),
        col("asof_touch_id").as("last_touch_id"), col("first_touch_id"))
  }

  /**
   * Per-key behavioral entropy: Shannon entropy of each key's observed
   * event-type TRANSITIONS (bigrams of the ordered stream), in the fixed-
   * point 1024-units-per-bit scale of `Retrieval.qlog2` — the bot/script
   * detector's core signal (a scripted key cycles one transition, entropy
   * ≈ 0; organic activity spreads). With transition counts c_i and total
   * n: H_q = Σ c_i·(qlog2(n) − qlog2(c_i)) DIV n. All keyed windows and
   * partial aggs; integer-exact.
   *
   * Output: (key, n_transitions, n_distinct_transitions, entropy_q).
   */
  def behaviorEntropy(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("__ts"), col("__id"))
    val tr = events.select(col(keyCol).as("key"), col(tsCol).as("__ts"),
        col(idCol).as("__id"), col(typeCol).as("__t"))
      .withColumn("__prev", lag(col("__t"), 1).over(w))
      .filter(col("__prev").isNotNull)
    val counts = tr.groupBy(col("key"), col("__prev"), col("__t"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("key").agg(sum("c").as("n"),
      count(lit(1)).as("n_distinct"))
    import graft.operators.{IntMath, Retrieval}
    counts.join(totals, "key")
      .groupBy(col("key"), col("n"), col("n_distinct"))
      .agg(sum(col("c") * (Retrieval.qlog2(col("n"))
        - Retrieval.qlog2(col("c")))).as("__hsum"))
      .select(col("key"), col("n").as("n_transitions"),
        col("n_distinct").as("n_distinct_transitions"),
        IntMath.idiv(col("__hsum"), col("n")).as("entropy_q"))
  }

  /**
   * Temporal activity profile: per (class, day-of-week, hour-of-day)
   * counts with the class-relative share in ppm — the data-card view that
   * catches a corpus whose "user activity" all fires at batch-job midnight.
   * Pure integer epoch arithmetic (hour = ms DIV 3600000 mod 24, dow =
   * (epoch-day + 4) mod 7 with 0 = Sunday — epoch day 0 was a Thursday),
   * no timezone/calendar dependency, so any engine reproduces it exactly.
   * One partial-agg groupBy plus a per-class totals join.
   *
   * Output: (cls, dow, hour, n, share_ppm).
   */
  def temporalProfile(events: DataFrame, tsMsCol: String, classCol: String)
      : DataFrame = {
    val base = events.select(col(classCol).as("cls"),
      pmod(graft.operators.IntMath.idiv(col(tsMsCol), lit(86400000L)) + 4L,
        lit(7L)).as("dow"),
      pmod(graft.operators.IntMath.idiv(col(tsMsCol), lit(3600000L)),
        lit(24L)).as("hour"))
    val counts = base.groupBy("cls", "dow", "hour")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("cls").agg(sum("n").as("__nc"))
    counts.join(totals, "cls")
      .select(col("cls"), col("dow"), col("hour"), col("n"),
        graft.operators.IntMath.idiv(col("n") * lit(1000000L), col("__nc"))
          .as("share_ppm"))
  }

  /**
   * Per-key CUSUM change-point report: cumulative sum of deviations from
   * the GLOBAL mean along each key's ordered stream, reporting where the
   * excursion peaks — the classic Page-style drift detector, integer-exact
   * (mean is one truncating DIV of a 1-row aggregate; deviations and their
   * running sums are pure int64). A key whose values match the global rate
   * random-walks near zero; a key whose behavior shifts shows a max
   * |CUSUM| excursion at the change point.
   *
   * Scale shape: one 1-row aggregate (broadcast as a literal), one KEYED
   * window for the running sum, one partial-agg groupBy for the per-key
   * report, and a semi-join-shaped self-join to recover the earliest
   * peak timestamp — no global sort, no driver loop.
   *
   * Output: (key, n, max_abs_cusum, ts_at_max, final_cusum).
   */
  def cusumReport(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val mm = events.agg(sum(col(valueCol).cast(LongType)),
      count(lit(1))).head()
    require(mm.getLong(1) > 0L, "cusumReport of an empty frame")
    val mu = mm.getLong(0) / mm.getLong(1)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("__ts"), col("__id"))
    val c = events.select(col(keyCol).as("key"), col(tsCol).as("__ts"),
        col(idCol).as("__id"),
        (col(valueCol).cast(LongType) - lit(mu)).as("__dev"))
      .withColumn("__cusum", sum(col("__dev")).over(w))
    val per = c.groupBy("key")
      .agg(count(lit(1)).as("n"),
        max(abs(col("__cusum"))).as("max_abs_cusum"),
        sum(col("__dev")).as("final_cusum"))
    c.join(per, "key")
      .filter(abs(col("__cusum")) === col("max_abs_cusum"))
      .groupBy(col("key"), col("n"), col("max_abs_cusum"),
        col("final_cusum"))
      .agg(min(col("__ts")).as("ts_at_max"))
      .select("key", "n", "max_abs_cusum", "ts_at_max", "final_cusum")
  }

  /**
   * Regular-grid resample with forward fill: bucket each key's events to
   * `stepMs` buckets, keep the LAST observation per bucket (deterministic:
   * max (ts, id)), expand each key's [first, last] bucket range to a dense
   * grid, and carry the last observed value across empty buckets — the
   * standard time-series densification before windowed feature extraction.
   *
   * Scale shape: the per-bucket pick and the fill are KEYED windows; the
   * grid explode is bounded per key by span/stepMs — size `stepMs` against
   * the retention window (a year of 1-second buckets per key is 31M rows:
   * choose a coarser step or pre-split the key range). First bucket of
   * every key is observed by construction, so `filled` is never null.
   *
   * Output: (key, bucket_start_ms, filled, is_observed).
   */
  def gapfillForwardFill(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, stepMs: Long): DataFrame = {
    require(stepMs > 0, "stepMs must be positive")
    val bucketed = events.select(col(keyCol).as("key"),
      graft.operators.IntMath.idiv(col(tsCol), lit(stepMs)).as("bucket"),
      col(tsCol).as("__ts"), col(idCol).as("__id"), col(valueCol).as("__v"))
    val wLast = Window.partitionBy(col("key"), col("bucket"))
      .orderBy(col("__ts").desc, col("__id").desc)
    val perBucket = bucketed
      .withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1)
      .select(col("key"), col("bucket"), col("__v").as("observed"))
    val grid = bucketed.groupBy("key")
      .agg(min("bucket").as("__b0"), max("bucket").as("__b1"))
      .select(col("key"),
        explode(sequence(col("__b0"), col("__b1"))).as("bucket"))
    val wFill = Window.partitionBy(col("key")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perBucket, Seq("key", "bucket"), "left")
      .withColumn("filled", last(col("observed"), ignoreNulls = true).over(wFill))
      .select(col("key"), (col("bucket") * stepMs).as("bucket_start_ms"),
        col("filled"), col("observed").isNotNull.as("is_observed"))
  }

  /**
   * Per-key activity feature extraction — the feature-store build from an
   * event log: total count, one count per named event type, value sum,
   * first/last timestamps, and exact active-day count. One grouped
   * aggregation; every per-type count is a map-side conditional sum
   * (NOT a pivot shuffle per type), and the distinct-day count rides the
   * same shuffle. Unlisted event types count toward `n_events` only.
   */
  def userActivityFeatures(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, valueCol: String, types: Seq[String]): DataFrame = {
    require(types.nonEmpty, "pass at least one event type to count")
    val perType = types.map(t =>
      sum(when(col(typeCol) === t, 1L).otherwise(0L)).as(s"n_$t"))
    val aggs = Seq(count(lit(1)).as("n_events")) ++ perType ++ Seq(
      sum(col(valueCol)).as("sum_value"),
      min(col(tsCol)).as("first_ts_ms"),
      max(col(tsCol)).as("last_ts_ms"),
      countDistinct(graft.operators.IntMath.idiv(col(tsCol),
        lit(86400000L))).as("n_active_days"))
    events.groupBy(col(keyCol).as("key")).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Partition-completeness / backfill audit: per-day row counts
   * zero-filled over the calendar span, each day compared against the
   * exact median of its trailing `lookbackDays` days' counts — a day
   * whose volume falls below `minRatioPpm` of that trailing median is a
   * missing/partial partition → the backfill list an ingestion pipeline
   * acts on.
   *
   * Shape at 100 TB: the only row-volume stage is the per-day partial
   * agg; everything after runs on the CALENDAR-sized series (≤ ~4k rows
   * a decade), where the single-partition trailing window is a constant,
   * not a scale term (the [[graft.operators.Stats.lagAutocorr]]
   * argument). Days with no trailing history (the first day) pass.
   *
   * Output per day (ordered): (day, n, trailing_median, ratio_ppm, ok).
   */
  def partitionCompleteness(events: DataFrame, tsMsCol: String,
      lookbackDays: Int = 7, minRatioPpm: Long = 500000L): DataFrame = {
    require(lookbackDays >= 1, "lookbackDays must be >= 1")
    val spark = events.sparkSession
    val byDay = events.select(graft.operators.IntMath.idiv(
        col(tsMsCol).cast(LongType), lit(86400000L)).as("day"))
      .groupBy("day").agg(count(lit(1)).as("c"))
    val mm = byDay.agg(min("day"), max("day"), count(lit(1))).head()
    if (mm.isNullAt(0)) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Boolean)]
        .toDF("day", "n", "trailing_median", "ratio_ppm", "ok")
    }
    import spark.implicits._
    val days = spark.range(mm.getLong(0), mm.getLong(1) + 1).toDF("day")
    val series = days.join(byDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("c"), lit(0L)).as("n"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(-lookbackDays, -1)
    // exact trailing percentile_disc(50): value at rank ⌈k/2⌉ of the
    // sorted trailing window (k = trailing days available)
    val trail = sort_array(collect_list(col("n")).over(w))
    series
      .withColumn("__trail", trail)
      .withColumn("trailing_median",
        when(size(col("__trail")) === 0, lit(null).cast(LongType))
          .otherwise(expr(
            "element_at(__trail, CAST((size(__trail) + 1) / 2 AS INT))")))
      .withColumn("ratio_ppm",
        when(col("trailing_median").isNull ||
            col("trailing_median") === 0L, lit(1000000L))
          .otherwise(graft.operators.IntMath.idiv(col("n") * lit(1000000L),
            col("trailing_median"))))
      .withColumn("ok", col("ratio_ppm") >= minRatioPpm)
      .select("day", "n", "trailing_median", "ratio_ppm", "ok")
      .orderBy("day")
  }

  /**
   * Rate-limit replay audit: replay the log against a per-key quota of
   * `limit` events per `windowMs` tumbling window and report what a
   * throttling ingest would have admitted vs rejected — the capacity
   * pre-check before enforcing quotas in the live pipeline. Admission is
   * deterministic: within a (key, window) the first `limit` events by
   * (timestamp, tiebreaker) pass.
   *
   * Shape at 100 TB: windows are integer buckets (map-side), ranking is
   * ONE (key, bucket)-keyed window, and the report is a 1-row aggregate.
   *
   * Output (1 row): (n_events, admitted, rejected, rejected_ppm,
   * keys_throttled, max_window_count).
   */
  def rateLimitAudit(events: DataFrame, keyCol: String, tsMsCol: String,
      orderCol: String, limit: Int, windowMs: Long): DataFrame = {
    require(limit >= 1 && windowMs >= 1, "limit and windowMs must be >= 1")
    val b = events.select(col(keyCol).as("__k"),
        col(tsMsCol).cast(LongType).as("__ts"), col(orderCol).as("__o"))
      .withColumn("__w", graft.operators.IntMath.idiv(col("__ts"),
        lit(windowMs)))
    val w = Window.partitionBy(col("__k"), col("__w"))
      .orderBy(col("__ts"), col("__o"))
    val ranked = b.withColumn("__rn", row_number().over(w).cast(LongType))
    val perKey = ranked.groupBy("__k")
      .agg(count(lit(1)).as("kn"),
        sum(when(col("__rn") > limit, 1L).otherwise(0L)).as("krej"),
        max("__rn").as("kmaxw"))
    perKey.agg(sum("kn").as("n_events"),
        (sum("kn") - sum("krej")).as("admitted"),
        sum("krej").as("rejected"),
        sum(when(col("krej") > 0L, 1L).otherwise(0L)).as("keys_throttled"),
        max("kmaxw").as("max_window_count"))
      .select(col("n_events"), col("admitted"), col("rejected"),
        graft.operators.IntMath.idiv(col("rejected") * lit(1000000L),
          greatest(col("n_events"), lit(1L))).as("rejected_ppm"),
        col("keys_throttled"), col("max_window_count"))
  }

  /**
   * Watermark-lateness audit — the batch measurement that PICKS a
   * streaming watermark delay instead of guessing one. Per key, events
   * replay in ARRIVAL order (the log offset); an event's lateness is how
   * far event time runs behind the key's running event-time maximum
   * (`running_max(ts) − ts`, 0 for in-order arrivals). For each candidate
   * delay the report counts the rows a `withWatermark(delay)` pipeline
   * would drop — choosing the delay becomes reading the row where
   * `dropped_ppm` crosses the loss budget.
   *
   * Shape at 100 TB: ONE key-partitioned window (the same (key, arrival)
   * sort every per-key replay shares) feeds a partial-agg groupBy against
   * the ≤ |delays| exploded candidate list; no global ordering anywhere.
   * Lateness against the GLOBAL max would need a single-partition scan —
   * per-key is also the semantics Spark's watermark approximates per
   * partition, and the honest per-key upper bound on drops.
   *
   * Output per delay (ordered): (delay_ms, n_events, n_late, dropped,
   * dropped_ppm, max_lateness_ms).
   */
  def latenessAudit(events: DataFrame, keyCol: String, arrivalCol: String,
      tsMsCol: String, delaysMs: Seq[Long]): DataFrame = {
    require(delaysMs.nonEmpty, "need at least one candidate delay")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = events.select(col(keyCol), col(arrivalCol),
        col(tsMsCol).cast(LongType).as("__ts"))
      .withColumn("__late", max(col("__ts")).over(w) - col("__ts"))
    late.select(col("__late"), explode(lit(delaysMs.toArray)).as("delay_ms"))
      .groupBy("delay_ms")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("__late") > 0L, 1L).otherwise(0L)).as("n_late"),
        sum(when(col("__late") > col("delay_ms"), 1L).otherwise(0L))
          .as("dropped"),
        max(col("__late")).as("max_lateness_ms"))
      .select(col("delay_ms"), col("n_events"), col("n_late"), col("dropped"),
        graft.operators.IntMath.idiv(col("dropped") * lit(1000000L),
          greatest(col("n_events"), lit(1L))).as("dropped_ppm"),
        col("max_lateness_ms"))
      .orderBy("delay_ms")
  }
}

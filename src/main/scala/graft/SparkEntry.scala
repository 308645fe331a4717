package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{BigEndian, Codecs, TimeUuid}
import graft.mapping.SinkConfig
import graft.multimodal.{MediaDedup, Multimodal}
import graft.operators._
import graft.sink.SinkTable
import graft.sources.{KafkaLike, Scan}

/**
 * Driver contract: `entry` (flagship pipeline), `queries` (one per operator
 * from SURVEY.md §2 + the training-data-pipeline extensions), `oracleSql`
 * (DuckDB-equivalent SQL per query, for the hash-match correctness gate).
 *
 * Determinism rules shared by every (query, oracle) pair:
 *  - outputs are sorted on a unique key (row order matches either way);
 *  - all arithmetic that must hash-match is integer/decimal (never
 *    FP-associativity-dependent);
 *  - aggregates are cast explicitly (DuckDB SUM(BIGINT)→HUGEINT etc.);
 *  - string hashes use an explicit fold (acc·31+codepoint mod 2³¹−1) that
 *    both engines reproduce bit-for-bit.
 */
object SparkEntry {

  /** Session settings queries rely on; safe to set repeatedly. */
  private def tune(spark: SparkSession): SparkSession = {
    // Testdata generations differ: events.ts has been TIMESTAMP(NANOS)
    // (which Spark's reader rejects without this legacy conf — it then
    // reads as a nanos BIGINT) and TIMESTAMP(MICROS); KafkaLike.events
    // normalizes either to the canonical nanos-BIGINT contract.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Let AQE re-optimize output partitioning INSIDE cached plans (default
    // false): staged/persisted frames (Staging.stage, the sink's per-batch
    // persist) otherwise materialize their final shuffle at the full
    // spark.sql.shuffle.partitions fan-out and every cache consumer
    // inherits those degenerate-small partitions — the r12 sink-batch job
    // census measured 7 of 23 per-batch jobs carrying 32-task stages over
    // ~KB cached frames (275 → ~60 scheduled tasks per batch with the
    // flag). Scale-adaptive by construction: AQE coalesces toward
    // advisoryPartitionSizeInBytes, so a large cached frame keeps its
    // parallelism (guide §2.2).
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    spark
  }

  // Plain reads, deliberately: an r11 A/B measured a READER-LEVEL
  // scale-adaptive repartition (parallelize every single-file scan) as a
  // net loss — the ~150 cheap-aggregation queries each paid an extra
  // exchange + 32-task stages (1.5-4× per row) while only the map-heavy
  // rows won. The rescue lives INSIDE the operators whose scan-stage map
  // work dominates instead (Scan.rescue: media encode/decode lambdas,
  // bruteForceTopK's probe side, proximityJoin) — see OPTIMIZATION_r11.md.
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")

  // ------------------------------------------------------------ sink model

  private val pkValue = SinkTable("ks1", "pk_value",
    StructType(Seq(
      StructField("my_pk", LongType), StructField("my_value", LongType))),
    partitionKey = Seq("my_pk"))

  private val pkValue3 = SinkTable("ks1", "pk_value3",
    StructType(Seq(
      StructField("my_pk", LongType), StructField("my_value", LongType),
      StructField("my_text", StringType))),
    partitionKey = Seq("my_pk"))

  private val counterTable = SinkTable("ks1", "mycounter",
    StructType(Seq(StructField("c1", LongType), StructField("c3", LongType))),
    partitionKey = Seq("c1"), counterCols = Seq("c3"))

  /** UDT + tuple columns (C1): `udt` is a named UDT, `tup` a positional
    * tuple — both modeled as StructType (reference tuple DDL:
    * EndToEndCCMITBase.java:77). */
  private val udtTable = SinkTable("ks1", "udt_t",
    StructType(Seq(
      StructField("my_pk", LongType),
      StructField("udt", StructType(Seq(
        StructField("a", LongType), StructField("b", StringType)))),
      StructField("tup", StructType(Seq(
        StructField("t1", LongType), StructField("t2", LongType)))))),
    partitionKey = Seq("my_pk"))

  private val tsTable = SinkTable("ks1", "ts_t",
    StructType(Seq(
      StructField("my_pk", LongType), StructField("ts_col", TimestampType))),
    partitionKey = Seq("my_pk"))

  private val decTable = SinkTable("ks1", "dec_t",
    StructType(Seq(
      StructField("my_pk", LongType), StructField("dec_col", DecimalType(18, 4)))),
    partitionKey = Seq("my_pk"))

  private def binding(props: (String, String)*): SinkConfig.TableBinding =
    SinkConfig.parse(props.toMap).bindings.head

  // ------------------------------------------------------- oracle helpers

  /** DuckDB mirror of TextAnalysis.stringHash (fold (acc·31+code) mod p). */
  private def dFold(sExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(split($sExpr,''), c -> CAST(ascii(c) AS BIGINT))), (acc, x) -> (acc*31 + x) % 2147483647)"

  /** DuckDB mirror of TextAnalysis.tokens. */
  private val dToks = """list_filter(string_split_regex(trim(text), '\s+'), t -> len(t) > 0)"""

  /** DuckDB: distinct 3-shingle HASHES over documents → shex(doc_id, h).
    * Mirrors TextAnalysis.shingleHashSet: token hashes once per doc, then a
    * positional fold (acc·131 + tokenHash mod p) per 3-token window. */
  private val dShingles =
    s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents),
       |th AS (SELECT doc_id, list_transform(tk, t -> ${dFold("t")}) AS th FROM toks),
       |shex AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(th) < 3 THEN [] ELSE list_transform(range(len(th)-2), i -> ((((th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647)*131 + th[CAST(i+3 AS INT)]) % 2147483647)) END)) AS h FROM th)""".stripMargin

  /** DuckDB: minhash signature CTE chain (16 seeds), ending in `sig`. */
  private val dMinhashSig =
    s"""$dShingles,
       |seeds AS (SELECT CAST(j AS INT) AS seed_id, CAST(1000003 + 2*j*4391 AS BIGINT) AS a, CAST((7919*(j+1)) % 2147483647 AS BIGINT) AS b FROM range(16) t(j)),
       |sig AS (SELECT doc_id, seed_id, CAST(MIN((a*h + b) % 2147483647) AS BIGINT) AS minhash FROM shex CROSS JOIN seeds GROUP BY doc_id, seed_id)""".stripMargin

  /** DuckDB mirror of Retrieval.qlog2 (fixed-point piecewise-linear log2,
    * 1024 units/bit; `bin` is minimal-width in both engines). `x` is
    * inlined three times — pass a column reference, not a heavy expr. */
  private def dQlog2(x: String): String =
    s"(1024*(length(bin($x))-1) + ((($x)*1024) >> (length(bin($x))-1)) - 1024)"

  /** DuckDB: quantized embedding vectors CTE (exact long milli-units). */
  private val dQuant =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  /** DuckDB mirror of Similarity.lshBuckets (8 tables × 12 planes, Weyl
    * ±1 signs): CTE chain ending in `bk(item_id, table_id, bucket)`. */
  private val dLshBk =
    s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings),
       |pb AS (SELECT item_id, CAST(p // 12 AS INT) AS table_id, CASE WHEN list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)] * (CASE WHEN (((2654435761 + 2027808446*p) % 4294967296) * (i+1)) % 4294967296 >= 2147483648 THEN 1 ELSE -1 END))) > 0 THEN (CAST(1 AS BIGINT) << CAST(p % 12 AS INT)) ELSE CAST(0 AS BIGINT) END AS bit FROM v CROSS JOIN range(96) t(p)),
       |bk AS (SELECT item_id, table_id, CAST(SUM(bit) AS BIGINT) AS bucket FROM pb GROUP BY item_id, table_id)""".stripMargin

  // ---------------------------------------------------------------- entry

  /** Flagship: the full mapped-ingest pipeline (decode → mapping → routing →
    * LWW/null-handling merge) on sf0.001, returning the merged table state. */
  def entry(spark: SparkSession): DataFrame = {
    tune(spark)
    val dir = "/root/testdata/sf0.001"
    val frame = KafkaLike.frameWithTombstones(spark, dir)
    val b = binding(
      "topic.purchase.ks1.pk_value.mapping" -> "my_pk=key, my_value=value.k")
    val mapped = RecordMapper.compile(b, pkValue,
      frame.filter(col("topic") === "purchase"))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      pkValue.schema.add(RecordMapper.WritetimeCol, LongType))
    Upserts.mergeInto(empty, mapped.drop(RecordMapper.TtlCol), pkValue)
  }

  // -------------------------------------------------------------- queries

  private case class Q(name: String,
      oracle: Option[String],
      fn: (SparkSession, String) => DataFrame)

  private lazy val defs: Seq[Q] = Seq(

    // S1/S2 — Kafka source envelope projection
    Q("q01_ingest_project", Some(
      """SELECT event_id AS kafka_offset, event_type AS topic, CAST(user_id % 8 AS INT) AS partition, CAST(user_id AS VARCHAR) AS key, props AS value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events ORDER BY kafka_offset"""),
      (s, dir) => KafkaLike.frame(tune(s), dir)
        .select(col("offset").as("kafka_offset"), col("topic"), col("partition"), col("key"),
          col("value"), unix_millis(col("timestamp")).as("ts_ms"))
        .orderBy("kafka_offset")),

    // P2 + C5 — JSON field extraction and typed cast
    Q("q02_map_json_fields", Some(
      """SELECT event_id AS kafka_offset, CAST(user_id AS BIGINT) AS my_pk, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val, json_extract_string(props, '$.k') AS k_str FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        f.select(col("offset").as("kafka_offset"),
          col("key").cast(LongType).as("my_pk"),
          get_json_object(col("value"), "$.k").cast(LongType).as("k_val"),
          get_json_object(col("value"), "$.k").as("k_str"))
          .orderBy("kafka_offset")
      }),

    // P3 — whole-object (raw) access
    Q("q03_raw_whole_value", Some(
      """SELECT event_id AS kafka_offset, props AS value, CAST(length(props) AS BIGINT) AS vlen, md5(props) AS vhash FROM events ORDER BY kafka_offset"""),
      (s, dir) => KafkaLike.frame(tune(s), dir)
        .select(col("offset").as("kafka_offset"), col("value"),
          length(col("value")).cast(LongType).as("vlen"),
          md5(col("value")).as("vhash"))
        .orderBy("kafka_offset")),

    // P7 — missing field → null
    Q("q04_missing_field_null", Some(
      """SELECT event_id AS kafka_offset, CAST(NULL AS VARCHAR) AS missing_field, TRUE AS is_null FROM events ORDER BY kafka_offset"""),
      (s, dir) => KafkaLike.frame(tune(s), dir)
        .select(col("offset").as("kafka_offset"),
          get_json_object(col("value"), "$.missing").as("missing_field"),
          get_json_object(col("value"), "$.missing").isNull.as("is_null"))
        .orderBy("kafka_offset")),

    // G4 — header access
    Q("q05_header_access", Some(
      """SELECT event_id AS kafka_offset, CAST(user_id AS BIGINT) AS uid_from_header, event_type AS etype_from_header FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val hmap = map_from_entries(col("headers"))
        f.select(col("offset").as("kafka_offset"),
          element_at(hmap, "h_uid").cast(LongType).as("uid_from_header"),
          element_at(hmap, "h_etype").as("etype_from_header"))
          .orderBy("kafka_offset")
      }),

    // F1 — delete inference from tombstones (+ G3 default writetime)
    Q("q06_delete_route", Some(
      """SELECT event_id AS kafka_offset, CAST(user_id AS BIGINT) AS my_pk, CASE WHEN event_type='error' THEN NULL ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS my_value, CAST(epoch_ms(ts) AS BIGINT)*1000 AS __writetime, CASE WHEN event_type='error' THEN 'DELETE' ELSE 'UPSERT' END AS __mode FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frameWithTombstones(tune(s), dir)
        val b = binding(
          "topic.mytopic.ks1.pk_value.mapping" -> "my_pk=key, my_value=value.k")
        RecordMapper.compile(b, pkValue, f, keepCols = Seq("offset"))
          .withColumnRenamed("offset", "kafka_offset")
          .drop(RecordMapper.TtlCol)
          .orderBy("kafka_offset")
      }),

    // G2 — per-row TTL (field-driven + static), negative-clamped
    Q("q07_ttl_codec", Some(
      """SELECT 'field_ttl' AS variant, event_id AS kafka_offset, GREATEST(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS __ttl_seconds FROM events UNION ALL SELECT 'static_ttl', event_id, CAST(120 AS BIGINT) FROM events ORDER BY variant, kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val bField = binding(
          "topic.t.ks1.pk_value.mapping" -> "my_pk=key, my_value=value.k, __ttl=value.k",
          "topic.t.ks1.pk_value.ttlTimeUnit" -> "SECONDS")
        val bStatic = binding(
          "topic.t.ks1.pk_value.mapping" -> "my_pk=key, my_value=value.k",
          "topic.t.ks1.pk_value.ttl" -> "120")
        val a = RecordMapper.compile(bField, pkValue, f, keepCols = Seq("offset"))
          .select(lit("field_ttl").as("variant"), col("offset").as("kafka_offset"), col(RecordMapper.TtlCol))
        val b = RecordMapper.compile(bStatic, pkValue, f, keepCols = Seq("offset"))
          .select(lit("static_ttl").as("variant"), col("offset").as("kafka_offset"), col(RecordMapper.TtlCol))
        a.unionByName(b).orderBy("variant", "kafka_offset")
      }),

    // G3 — writetime from field with unit conversion, record-time fallback
    Q("q08_writetime_codec", Some(
      """SELECT event_id AS kafka_offset, CASE WHEN event_type='error' THEN CAST(epoch_ms(ts) AS BIGINT)*1000 ELSE CAST(json_extract_string(props, '$.k') AS BIGINT)*1000000 END AS __writetime FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frameWithTombstones(tune(s), dir)
        val b = binding(
          "topic.t.ks1.pk_value.mapping" ->
            "my_pk=key, my_value=value.k, __timestamp=value.k",
          "topic.t.ks1.pk_value.timestampTimeUnit" -> "SECONDS")
        RecordMapper.compile(b, pkValue, f, keepCols = Seq("offset"))
          .select(col("offset").as("kafka_offset"), col(RecordMapper.WritetimeCol))
          .orderBy("kafka_offset")
      }),

    // G1 — now(): fresh v1 TIMEUUID per column per row. The UUIDs themselves
    // are nondeterministic by design, so the query emits their VERIFIABLE
    // properties (distinctness per row, version nibble, RFC-4122 shape) —
    // which the oracle pins as constants. Global uniqueness/time-ordering is
    // asserted in RecordMapperSpec.
    Q("q09_now_timeuuid", Some(
      """SELECT event_id AS kafka_offset, TRUE AS distinct_ok, TRUE AS version_ok, TRUE AS shape_ok FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val uuidRe = "^[0-9a-f]{8}-[0-9a-f]{4}-1[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
        f.select(col("offset").as("kafka_offset"),
          TimeUuid.now_timeuuid().as("u1"),
          TimeUuid.now_timeuuid().as("u2"))
          .select(col("kafka_offset"),
            (col("u1") =!= col("u2")).as("distinct_ok"),
            (substring(col("u1"), 15, 1) === "1" &&
              substring(col("u2"), 15, 1) === "1").as("version_ok"),
            (col("u1").rlike(uuidRe) && col("u2").rlike(uuidRe)).as("shape_ok"))
          .orderBy("kafka_offset")
      }),

    // A1/S5 — counter accumulation
    Q("q10_counter_combine", Some(
      """SELECT CAST(user_id AS BIGINT) AS c1, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS c3 FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val b = binding("topic.t.ks1.mycounter.mapping" -> "c1=key, c3=value.k")
        val mapped = RecordMapper.compile(b, counterTable, f)
        Upserts.counterCombine(mapped, counterTable).orderBy("c1")
      }),

    // A2 — partition-key batch grouping, cap flowing from the parsed
    // global `maxNumberOfRecordsInBatch` (KAF-95) rather than a code
    // constant — a ported reference properties file keeps its knob
    Q("q11_batch_groups", Some(
      """SELECT CAST(user_id AS BIGINT) AS my_pk, CAST(COUNT(*) AS BIGINT) AS rows_in_partition, CAST(CEIL(COUNT(*)/32.0) AS BIGINT) AS num_batches FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val cfg = SinkConfig.parse(Map(
          "topic.t.ks1.pk_value.mapping" -> "my_pk=key, my_value=value.k",
          "maxNumberOfRecordsInBatch" -> "32"))
        val mapped = RecordMapper.compile(cfg.bindings.head, pkValue, f)
        Upserts.batchGroups(mapped, Seq("my_pk"),
          cap = cfg.maxNumberOfRecordsInBatch).orderBy("my_pk")
      }),

    // O1/G3 — replayed delivery collapses via LWW (idempotent at-least-once)
    Q("q12_lww_replay", Some(
      """SELECT CAST(user_id AS BIGINT) AS my_pk, event_id AS last_offset, CAST(json_extract_string(props, '$.k') AS BIGINT) AS last_k FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 ORDER BY my_pk"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
          .withColumn("wt", unix_millis(col("timestamp")))
        val replayed = f.unionByName(f) // simulate redelivery of the batch
        Upserts.lwwCompact(replayed, Seq("key"), Seq(col("wt"), col("offset")))
          .select(col("key").cast(LongType).as("my_pk"),
            col("offset").as("last_offset"),
            get_json_object(col("value"), "$.k").cast(LongType).as("last_k"))
          .orderBy("my_pk")
      }),

    // S7 — one topic fanned out to multiple tables
    Q("q13_multi_table_fanout", Some(
      """SELECT 'ks1.t1' AS target_table, event_id AS kafka_offset, CAST(user_id AS VARCHAR) AS pk, json_extract_string(props, '$.k') AS payload FROM events WHERE event_type='purchase' UNION ALL SELECT 'ks1.t2', event_id, CAST(user_id AS VARCHAR), event_type FROM events WHERE event_type='purchase' ORDER BY target_table, kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val config = SinkConfig.parse(Map(
          "topic.purchase.ks1.t1.mapping" -> "user_id=key, k=value.k",
          "topic.purchase.ks1.t2.mapping" -> "user_id=key, etype=header.h_etype"))
        val t1 = SinkTable("ks1", "t1", StructType(Seq(
          StructField("user_id", LongType), StructField("k", StringType))),
          Seq("user_id"))
        val t2 = SinkTable("ks1", "t2", StructType(Seq(
          StructField("user_id", LongType), StructField("etype", StringType))),
          Seq("user_id"))
        val tables = Map("ks1.t1" -> t1, "ks1.t2" -> t2)
        val parts = config.forTopic("purchase").map { b =>
          val tbl = tables(b.qualifiedTable)
          val payloadCol = tbl.regularCols.head
          RecordMapper.compile(b, tbl, f.filter(col("topic") === b.topic),
            keepCols = Seq("offset"))
            .select(lit(b.qualifiedTable).as("target_table"), col("offset").as("kafka_offset"),
              col("user_id").cast(StringType).as("pk"),
              col(payloadCol).cast(StringType).as("payload"))
        }
        parts.reduce(_ unionByName _).orderBy("target_table", "kafka_offset")
      }),

    // S8 — unknown-topic routing (counted failures, not silent drops)
    Q("q14_unknown_topic", Some(
      """SELECT event_type AS topic, CAST(COUNT(*) AS BIGINT) AS n_failed FROM events WHERE event_type NOT IN ('purchase','signup','click') GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val known = Seq("purchase", "signup", "click")
        f.filter(!col("topic").isInCollection(known))
          .groupBy(col("topic"))
          .agg(count(lit(1)).as("n_failed"))
          .orderBy("topic")
      }),

    // F3/C5 — parse-failure capture (error side-output, not silent null)
    Q("q15_error_capture", Some(
      """SELECT event_id AS kafka_offset, CASE WHEN event_type='error' THEN props ELSE CAST(user_id AS VARCHAR) END AS raw, CASE WHEN event_type='error' THEN NULL ELSE CAST(user_id AS BIGINT) END AS parsed, CASE WHEN event_type='error' THEN 'Could not parse ''' || props || '''' ELSE NULL END AS parse_error FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
          .select(col("offset"), col("topic"), col("key"), col("value"))
          .withColumn("raw",
            when(col("topic") === "error", col("value")).otherwise(col("key")))
        val (parsed, err) = Codecs.tryCast(col("raw"), LongType)
        f.select(col("offset").as("kafka_offset"), col("raw"), parsed.as("parsed"),
          err.as("parse_error")).orderBy("kafka_offset")
      }),

    // O1 — lowest failed offset per partition (the preCommit rewind point)
    Q("q16_offset_rewind", Some(
      """SELECT CAST(user_id % 8 AS INT) AS partition, CAST(MIN(event_id) AS BIGINT) AS rewind_offset, CAST(COUNT(*) AS BIGINT) AS n_failed FROM events WHERE event_type='error' GROUP BY 1 ORDER BY 1"""),
      (s, dir) => KafkaLike.frame(tune(s), dir)
        .filter(col("topic") === "error")
        .groupBy(col("partition"))
        .agg(min(col("offset")).as("rewind_offset"),
          count(lit(1)).as("n_failed"))
        .orderBy("partition")),

    // F2 — null-to-unset merge with cell-level LWW
    Q("q17_merge_null_unset", Some(
      """WITH f AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT)*1000 AS wt, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, event_type FROM events), s0 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY wt DESC, event_id DESC) AS rn FROM f WHERE event_id % 2 = 0), s AS (SELECT user_id, k AS s_value, event_type AS s_text, wt AS s_wt FROM s0 WHERE rn = 1), b0 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY wt DESC, event_id DESC) AS rn FROM f WHERE event_id % 2 = 1), b AS (SELECT user_id, k AS b_value, wt AS b_wt FROM b0 WHERE rn = 1) SELECT COALESCE(b.user_id, s.user_id) AS my_pk, CASE WHEN b.user_id IS NOT NULL AND (s.user_id IS NULL OR b.b_wt >= s.s_wt) AND b.b_value IS NOT NULL THEN b.b_value ELSE s.s_value END AS my_value, s.s_text AS my_text, GREATEST(COALESCE(b.b_wt, -9223372036854775807 - 1), COALESCE(s.s_wt, -9223372036854775807 - 1)) AS __writetime FROM s FULL OUTER JOIN b ON s.user_id = b.user_id ORDER BY my_pk"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val bState = binding(
          "topic.t.ks1.pk_value3.mapping" ->
            "my_pk=key, my_value=value.k, my_text=header.h_etype",
          "topic.t.ks1.pk_value3.deletesEnabled" -> "false")
        val bBatch = binding(
          "topic.t.ks1.pk_value3.mapping" ->
            "my_pk=key, my_value=value.k, my_text=value.missing",
          "topic.t.ks1.pk_value3.deletesEnabled" -> "false")
        val wtc = col(RecordMapper.WritetimeCol)
        val state = Upserts.lwwCompact(
          RecordMapper.compile(bState, pkValue3,
            f.filter(col("offset") % 2 === 0), keepCols = Seq("offset")),
          Seq("my_pk"), Seq(wtc, col("offset")))
          .select(col("my_pk"), col("my_value"), col("my_text"), wtc)
        val batch = Upserts.lwwCompact(
          RecordMapper.compile(bBatch, pkValue3,
            f.filter(col("offset") % 2 === 1), keepCols = Seq("offset")),
          Seq("my_pk"), Seq(wtc, col("offset")))
          .drop("offset", RecordMapper.TtlCol)
        Upserts.mergeInto(state, batch, pkValue3, nullToUnset = true)
          .orderBy("my_pk")
      }),

    // S6 — user-provided query over the mapped batch
    Q("q18_provided_query", Some(
      """SELECT CAST(user_id AS BIGINT) AS my_pk, CAST(json_extract_string(props, '$.k') AS BIGINT)*2 AS doubled FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0 ORDER BY my_pk, doubled"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val b = binding("topic.t.ks1.pk_value.mapping" -> "my_pk=key, my_value=value.k")
        val mapped = RecordMapper.compile(b, pkValue, f)
        ProvidedQuery.run(mapped,
          "SELECT my_pk, my_value * 2 AS doubled FROM mapped " +
            "WHERE my_value % 10 = 0 ORDER BY my_pk, doubled")
      }),

    // A3 — per-(topic, table) record counters
    Q("q19_metrics_counts", Some(
      """SELECT 'click' AS topic, 'ks1.t3' AS table_name, CAST((SELECT COUNT(*) FROM events WHERE event_type='click') AS BIGINT) AS recordCount UNION ALL SELECT 'purchase', 'ks1.t1', CAST((SELECT COUNT(*) FROM events WHERE event_type='purchase') AS BIGINT) UNION ALL SELECT 'purchase', 'ks1.t2', CAST((SELECT COUNT(*) FROM events WHERE event_type='purchase') AS BIGINT) ORDER BY topic, table_name"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val config = SinkConfig.parse(Map(
          "topic.purchase.ks1.t1.mapping" -> "user_id=key, k=value.k",
          "topic.purchase.ks1.t2.mapping" -> "user_id=key, etype=header.h_etype",
          "topic.click.ks1.t3.mapping" -> "user_id=key, k=value.k"))
        config.bindings.map { b =>
          f.filter(col("topic") === b.topic)
            .agg(count(lit(1)).as("recordCount"))
            .select(lit(b.topic).as("topic"),
              lit(b.qualifiedTable).as("table_name"), col("recordCount"))
        }.reduce(_ unionByName _).orderBy("topic", "table_name")
      }),

    // ---- classic analytics (bench headliners; exact decimal arithmetic) ----

    Q("q20_tpch_q1", Some(
      """SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => lineitem(tune(s), dir)
        .filter(expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    Q("q21_join_enrich", Some(
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1"""),
      (s, dir) => orders(tune(s), dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
        .orderBy("c_mktsegment")),

    Q("q22_window_topk", Some(
      """SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        orders(tune(s), dir)
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(w).as("rn"))
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      }),

    // C4 — numeric widening/narrowing matrix: Java/reference semantics
    // truncate toward zero; DuckDB CAST rounds, so the oracle mirrors with
    // trunc() explicitly
    Q("q45_numeric_widths", Some(
      """SELECT event_id AS kafka_offset, CAST(value AS DOUBLE) AS as_double, CAST(trunc(value) AS BIGINT) AS as_long, CAST(CAST(trunc(value) AS BIGINT) % 32768 AS SMALLINT) AS as_short, CAST(CAST(trunc(value) AS BIGINT) AS FLOAT) AS as_float FROM events ORDER BY kafka_offset"""),
      (s, dir) => KafkaLike.events(tune(s), dir)
        .select(col("event_id").as("kafka_offset"),
          col("value").cast(DoubleType).as("as_double"),
          col("value").cast(LongType).as("as_long"),
          (col("value").cast(LongType) % 32768).cast(ShortType).as("as_short"),
          col("value").cast(LongType).cast(FloatType).as("as_float"))
        .orderBy("kafka_offset")),

    // C8 — decimal parse: string → DECIMAL(18,4), exact in both engines.
    // Hash-stability: raw DECIMAL columns hash differently across engines
    // (Spark fixed-len-byte-array vs DuckDB native), so the output carries the
    // decimal as its scaled unscaled-integer (value * 10^scale), which is
    // bit-identical in both — values were already exact (VERDICT r1 §wrong 1).
    Q("q46_decimal_parse", Some(
      """SELECT event_id AS kafka_offset, CAST(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS dec_scaled, CAST(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents_x100 FROM events ORDER BY kafka_offset"""),
      (s, dir) => KafkaLike.events(tune(s), dir)
        .select(col("event_id").as("kafka_offset"),
          (col("value").cast(StringType).cast(DecimalType(18, 4)) * 10000)
            .cast(LongType).as("dec_scaled"),
          (col("value").cast(StringType).cast(DecimalType(18, 4)) * 100)
            .cast(LongType).as("cents_x100"))
        .orderBy("kafka_offset")),

    // C1 — map→UDT and array→tuple codecs through the full mapping pipeline:
    // the value JSON decodes to map<string,string> / array<string> fields,
    // which land in struct-typed sink columns (Spark Cast can't express
    // either — field-wise builders in Codecs.castToStruct). Oracle is the
    // identity through encode→decode→struct-build, projected to scalars for
    // hash stability.
    Q("q48_udt_tuple_codec", Some(
      """SELECT event_id AS my_pk, user_id AS udt_a, event_type AS udt_b, CAST(event_id % 97 AS BIGINT) AS t1, CAST(user_id % 89 AS BIGINT) AS t2 FROM events ORDER BY my_pk"""),
      (s, dir) => {
        val sp = tune(s)
        val ev = graft.sources.Scan.rescue(KafkaLike.events(sp, dir)) // r12: parallelize fixture encode + decode (single-split scan)
        val frame = ev.select(
          lit("t").as("topic"), lit(0).as("partition"),
          col("event_id").as("offset"),
          col("event_id").cast(StringType).as("key"),
          to_json(struct(
            struct(col("user_id").cast(StringType).as("a"),
              col("event_type").as("b")).as("obj"),
            array((col("event_id") % 97).cast(StringType),
              (col("user_id") % 89).cast(StringType)).as("arr"))).as("value"),
          array(struct(lit("h").as("key"), lit("x").as("value"))).as("headers"),
          expr("timestamp_micros(ts DIV 1000)").as("timestamp"))
        val b = binding("topic.t.ks1.udt_t.mapping" ->
          "my_pk=key, udt=value.obj, tup=value.arr")
        val valueSchema = StructType(Seq(
          StructField("obj", MapType(StringType, StringType)),
          StructField("arr", ArrayType(StringType))))
        RecordMapper.compile(b, udtTable, frame,
            valueFormat = RecordMapper.Format.JsonWithSchema(valueSchema))
          .select(col("my_pk"), col("udt.a").as("udt_a"), col("udt.b").as("udt_b"),
            col("tup.t1").as("t1"), col("tup.t2").as("t2"))
          .orderBy("my_pk")
      }),

    // C3 — codec.timeZone: a zone-less wall-clock string parsed with an
    // explicit pattern in +05:30 → UTC instant = wall − 19800s. Oracle does
    // the fixed-offset arithmetic in integer ms (no ICU dependency).
    Q("q49_codec_timezone", Some(
      """SELECT event_id AS my_pk, CAST(epoch_ms(date_trunc('second', ts)) - 19800000 AS BIGINT) AS utc_ms FROM events ORDER BY my_pk"""),
      (s, dir) => {
        val sp = tune(s)
        val ev = graft.sources.Scan.rescue(KafkaLike.events(sp, dir)) // r12: parallelize fixture encode + decode (single-split scan)
        val frame = ev.select(
          lit("t").as("topic"), lit(0).as("partition"),
          col("event_id").as("offset"),
          col("event_id").cast(StringType).as("key"),
          to_json(struct(date_format(expr("timestamp_micros(ts DIV 1000)"),
            "yyyy-MM-dd HH:mm:ss").as("wall"))).as("value"),
          array(struct(lit("h").as("key"), lit("x").as("value"))).as("headers"),
          expr("timestamp_micros(ts DIV 1000)").as("timestamp"))
        val b = binding(
          "topic.t.ks1.ts_t.mapping" -> "my_pk=key, ts_col=value.wall",
          "topic.t.codec.timestamp" -> "yyyy-MM-dd HH:mm:ss",
          "topic.t.codec.timeZone" -> "+05:30")
        RecordMapper.compile(b, tsTable, frame)
          .select(col("my_pk"), unix_millis(col("ts_col")).as("utc_ms"))
          .orderBy("my_pk")
      }),

    // C3 — codec.time: a patterned time-of-day string → CQL time
    // (nanos-of-day)
    Q("q50_codec_time", Some(
      """SELECT event_id AS kafka_offset, CAST(CAST(hour(ts)*3600 + minute(ts)*60 + CAST(floor(second(ts)) AS INT) AS BIGINT) * 1000000000 AS BIGINT) AS nanos_of_day FROM events ORDER BY kafka_offset"""),
      (s, dir) => KafkaLike.events(tune(s), dir).select(
        col("event_id").as("kafka_offset"),
        Codecs.parseTimeNanos(
          date_format(expr("timestamp_micros(ts DIV 1000)"), "HH.mm.ss"),
          SinkConfig.CodecSettings(time = "HH.mm.ss")).as("nanos_of_day"))
        .orderBy("kafka_offset")),

    // C8 — BASE64 decimal format through the mapping pipeline: a decimal
    // arrives as base64 of its unscaled big-endian bytes (3-byte values
    // here), decodes against the DECIMAL(18,4) target. Oracle is the
    // identity on the scaled integer.
    Q("q51_decimal_base64", Some(
      """SELECT event_id AS my_pk, CAST(event_id % 100000 AS BIGINT) AS unscaled FROM events ORDER BY my_pk"""),
      (s, dir) => {
        val sp = tune(s)
        val ev = graft.sources.Scan.rescue(KafkaLike.events(sp, dir)) // r12: parallelize fixture encode + decode (single-split scan)
        val frame = ev.select(
          lit("t").as("topic"), lit(0).as("partition"),
          col("event_id").as("offset"),
          col("event_id").cast(StringType).as("key"),
          to_json(struct(base64(
            BigEndian.long_to_bytes(col("event_id") % 100000L, 3)).as("d")))
            .as("value"),
          array(struct(lit("h").as("key"), lit("x").as("value"))).as("headers"),
          expr("timestamp_micros(ts DIV 1000)").as("timestamp"))
        val b = binding(
          "topic.t.ks1.dec_t.mapping" -> "my_pk=key, dec_col=value.d",
          "topic.t.codec.decimal" -> "BASE64")
        RecordMapper.compile(b, decTable, frame)
          .select(col("my_pk"),
            (col("dec_col") * 10000).cast(LongType).as("unscaled"))
          .orderBy("my_pk")
      }),

    // typed headers: binary header values decode big-endian for data columns
    // (4-byte int here) and for __ttl (8-byte long), reference:
    // HeadersCCMIT.java:330-518
    Q("q52_header_typed", Some(
      """SELECT event_id AS my_pk, user_id AS my_value, CAST(user_id % 1000 + 1 AS BIGINT) AS ttl_s FROM events ORDER BY my_pk"""),
      (s, dir) => {
        val sp = tune(s)
        val ev = KafkaLike.events(sp, dir)
        val frame = ev.select(
          lit("t").as("topic"), lit(0).as("partition"),
          col("event_id").as("offset"),
          col("event_id").cast(StringType).as("key"),
          col("props").as("value"),
          array(
            struct(lit("h_ttl").as("key"),
              BigEndian.long_to_bytes(col("user_id") % 1000L + 1L, 8).as("value")),
            struct(lit("h_n").as("key"),
              BigEndian.long_to_bytes(col("user_id"), 4).as("value"))).as("headers"),
          expr("timestamp_micros(ts DIV 1000)").as("timestamp"))
        val b = binding("topic.t.ks1.pk_value.mapping" ->
          "my_pk=key, my_value=header.h_n, __ttl=header.h_ttl")
        RecordMapper.compile(b, pkValue, frame)
          .select(col("my_pk"), col("my_value"),
            col(RecordMapper.TtlCol).as("ttl_s"))
          .orderBy("my_pk")
      }),

    // Avro ingestion mode (reference's perf-rig wire format,
    // perf/dse-sink-avro.json:5-11): events re-encoded as Avro-binary value
    // bytes, decoded ONCE per record by the AvroCodec expression, mapped into
    // UDT + tuple targets through the Struct path. Oracle is the identity
    // through encode→decode→struct-build, projected to scalars.
    Q("q57_avro_ingest", Some(
      """SELECT event_id AS my_pk, user_id AS udt_a, event_type AS udt_b, CAST(event_id % 97 AS BIGINT) AS t1, CAST(user_id % 89 AS BIGINT) AS t2 FROM events ORDER BY my_pk"""),
      (s, dir) => {
        val sp = tune(s)
        val ev = graft.sources.Scan.rescue(KafkaLike.events(sp, dir)) // r12: parallelize fixture encode + decode (single-split scan)
        val avroSchema =
          """{"type":"record","name":"Payload","fields":[
            |{"name":"udt","type":{"type":"record","name":"U","fields":[
            |  {"name":"a","type":"long"},{"name":"b","type":"string"}]}},
            |{"name":"arr","type":{"type":"array","items":"long"}}
            |]}""".stripMargin
        val frame = ev.select(
          lit("t").as("topic"), lit(0).as("partition"),
          col("event_id").as("offset"),
          col("event_id").cast(StringType).as("key"),
          graft.functions.AvroCodec.to_avro_binary(struct(
            struct(col("user_id").as("a"), col("event_type").as("b")).as("udt"),
            array(col("event_id") % 97, col("user_id") % 89).as("arr")),
            avroSchema).as("value"),
          array(struct(lit("h").as("key"), lit("x").as("value"))).as("headers"),
          expr("timestamp_micros(ts DIV 1000)").as("timestamp"))
        val b = binding("topic.t.ks1.udt_t.mapping" ->
          "my_pk=key, udt=value.udt, tup=value.arr")
        RecordMapper.compile(b, udtTable, frame,
            valueFormat = RecordMapper.Format.Avro(avroSchema))
          .select(col("my_pk"), col("udt.a").as("udt_a"), col("udt.b").as("udt_b"),
            col("tup.t1").as("t1"), col("tup.t2").as("t2"))
          .orderBy("my_pk")
      }),

    // C3 — locale-sensitive timestamp pattern (French month names) parsed in
    // a zone-less pattern with codec.timeZone=+02:00: the custom
    // LocaleTimestampParse expression handles what to_timestamp cannot
    // (session-locale only). Oracle is fixed-offset integer arithmetic.
    Q("q58_codec_locale_ts", Some(
      """SELECT event_id AS kafka_offset, CAST(epoch_ms(date_trunc('second', ts)) - 7200000 AS BIGINT) AS utc_ms FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
        val t = expr("timestamp_micros(ts DIV 1000)")
        val frMonths = map(Seq(
          1 -> "janvier", 2 -> "février", 3 -> "mars", 4 -> "avril",
          5 -> "mai", 6 -> "juin", 7 -> "juillet", 8 -> "août",
          9 -> "septembre", 10 -> "octobre", 11 -> "novembre",
          12 -> "décembre").flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
        val wall = concat(dayofmonth(t).cast(StringType), lit(" "),
          element_at(frMonths, month(t)), lit(" "),
          year(t).cast(StringType), lit(" "), date_format(t, "HH:mm:ss"))
        val codec = SinkConfig.CodecSettings(
          timestamp = "d MMMM uuuu HH:mm:ss", locale = "fr_FR",
          timeZone = "+02:00")
        ev.select(col("event_id").as("kafka_offset"),
          unix_millis(Codecs.parseTimestamp(wall, codec)).as("utc_ms"))
          .orderBy("kafka_offset")
      }),

    Q("q43_rollup", Some(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus, CAST(GROUPING(l_returnflag) AS INT) AS g_rflag, CAST(GROUPING(l_linestatus) AS INT) AS g_lstatus, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY g_rflag, g_lstatus, rflag, lstatus"""),
      (s, dir) => lineitem(tune(s), dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          grouping(col("l_returnflag")).cast(IntegerType).as("g_rflag"),
          grouping(col("l_linestatus")).cast(IntegerType).as("g_lstatus"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("g_rflag"), col("g_lstatus"), col("n"), col("sum_qty"))
        .orderBy("g_rflag", "g_lstatus", "rflag", "lstatus")),

    Q("q44_set_ops", Some(
      """SELECT 'only_buyers' AS side, CAST(user_id AS BIGINT) AS user_id FROM (SELECT DISTINCT user_id FROM events WHERE event_type='purchase' EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type='error') UNION ALL SELECT 'both', CAST(user_id AS BIGINT) FROM (SELECT DISTINCT user_id FROM events WHERE event_type='purchase' INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type='error') ORDER BY side, user_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
        val buyers = ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct()
        val errored = ev.filter(col("event_type") === "error")
          .select(col("user_id")).distinct()
        buyers.except(errored).select(lit("only_buyers").as("side"), col("user_id"))
          .unionByName(buyers.intersect(errored)
            .select(lit("both").as("side"), col("user_id")))
          .orderBy("side", "user_id")
      }),

    // ---------------- training-data pipeline: dedup suite ----------------

    Q("q23_dedup_exact", Some(
      """SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY 1 ORDER BY 1"""),
      (s, dir) => Dedup.exact(docs(tune(s), dir), "text", "doc_id")
        .orderBy("content_hash")),

    Q("q24_minhash_signatures", Some(
      s"""$dMinhashSig SELECT doc_id, seed_id, minhash FROM sig ORDER BY doc_id, seed_id"""),
      (s, dir) => Dedup.minhashSignatures(docs(tune(s), dir), "text", "doc_id")
        .orderBy("doc_id", "seed_id")),

    Q("q25_minhash_bands", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)) SELECT doc_id, band_id, band_hash FROM bands ORDER BY doc_id, band_id"""),
      (s, dir) => Dedup.minhashBands(
        Dedup.minhashSignatures(docs(tune(s), dir), "text", "doc_id"))
        .orderBy("doc_id", "band_id")),

    Q("q26_minhash_candidates", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)) SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.minhashCandidates(Dedup.minhashBands(
        Dedup.minhashSignatures(docs(tune(s), dir), "text", "doc_id")))
        .orderBy("doc_a", "doc_b")),

    // MinHash similarity estimation: agreeing-seed fraction per candidate
    // pair (how near-dup scoring works without ever re-reading text)
    Q("q47_minhash_estimate", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id) SELECT doc_a, doc_b, CAST(SUM(CASE WHEN ls.minhash = rs.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_match, CAST(floor(SUM(CASE WHEN ls.minhash = rs.minhash THEN 1 ELSE 0 END) * 100 / 16) AS BIGINT) AS est_jaccard_pct FROM cand JOIN sig ls ON doc_a = ls.doc_id JOIN sig rs ON doc_b = rs.doc_id AND ls.seed_id = rs.seed_id GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        val sig = Dedup.minhashSignatures(docs(tune(s), dir), "text", "doc_id")
          .localCheckpoint()
        val cand = Dedup.minhashCandidates(Dedup.minhashBands(sig))
        Dedup.minhashJaccardEstimate(sig, cand).orderBy("doc_a", "doc_b")
      }),

    Q("q27_simhash", Some(
      s"""WITH toks AS (SELECT doc_id, unnest($dToks) AS tok FROM documents), h AS (SELECT doc_id, ${dFold("tok")} AS h FROM toks), bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS bal FROM h CROSS JOIN range(32) t(j) GROUP BY doc_id, j) SELECT doc_id, CAST(SUM(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash FROM bits GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => Dedup.simhash(docs(tune(s), dir), "text", "doc_id")
        .orderBy("doc_id")),

    // LSH-gated exact Jaccard: candidates from the q26 band gate (identical
    // CTE chain), exact DF-capped set-Jaccard verified only on candidates —
    // the oracle applies the SAME gate, so the hash compare stays exact.
    Q("q32_jaccard_pairs", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), rare AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM shex GROUP BY h) WHERE df <= 100), shc AS (SELECT shex.doc_id, shex.h FROM shex JOIN rare USING (h)), sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1), inter AS (SELECT cand.doc_a, cand.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter FROM cand JOIN shc l ON l.doc_id = cand.doc_a JOIN shc r ON r.doc_id = cand.doc_b AND r.h = l.h GROUP BY 1, 2) SELECT doc_a, doc_b, n_inter, CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 50 ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.ngramJaccardPairs(docs(tune(s), dir), "text", "doc_id",
        shingleN = 3, minJaccardPct = 50, maxShingleDF = 100)
        .orderBy("doc_a", "doc_b")),

    // ---------------- text analysis ----------------

    Q("q28_token_stats", Some(
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len($dToks) AS BIGINT) AS n_tokens, CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)) + len(regexp_extract_all(lower(text), '[a-z][0-9]')) + len(regexp_extract_all(lower(text), '[0-9][a-z]')) AS BIGINT) AS n_bpeish FROM documents ORDER BY doc_id"""),
      (s, dir) => docs(tune(s), dir).select(col("doc_id"),
        TextAnalysis.charCount(col("text")).as("n_chars"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id")),

    Q("q29_quality", Some(
      s"""WITH t AS (SELECT doc_id, text, $dToks AS tk FROM documents) SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(length(text) - length(translate(text, '.,;:!?', '')) AS BIGINT) AS n_punct, CAST(len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS BIGINT) AS n_stop, CAST(floor(CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) * 100 / len(tk)) AS BIGINT) AS mean_tok_x100, (length(text) >= 100 AND (length(text) - length(translate(text, '.,;:!?', ''))) * 10 <= length(text) AND len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) >= 1) AS quality_ok FROM t ORDER BY doc_id"""),
      (s, dir) => docs(tune(s), dir).select(col("doc_id"),
        TextAnalysis.charCount(col("text")).as("n_chars"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.stopwordCount(col("text")).as("n_stop"),
        TextAnalysis.meanTokenLenX100(col("text")).as("mean_tok_x100"),
        TextAnalysis.qualityOk(col("text")).as("quality_ok"))
        .orderBy("doc_id")),

    Q("q30_langid", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), sc AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM t) SELECT doc_id, CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM (SELECT doc_id, s_de, s_en, s_es, s_fr, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc) ORDER BY doc_id"""),
      (s, dir) => docs(tune(s), dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    Q("q31_fingerprint", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents) SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(tk, tok -> ${dFold("tok")})), (acc, h) -> (acc*131 + h) % 2147483647) AS fingerprint FROM t ORDER BY doc_id"""),
      (s, dir) => docs(tune(s), dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // ---------------- similarity search ----------------

    Q("q33_ann_topk", Some(
      s"""WITH q AS (SELECT vec_id AS query_id, $dQuant AS qq FROM embeddings WHERE vec_id < 10), c AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings), sc AS (SELECT query_id, item_id, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)] * qq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM c CROSS JOIN q WHERE item_id <> query_id), r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM sc) SELECT query_id, item_id, dot, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
          .orderBy("query_id", "rank")
      }),

    Q("q34_ann_lsh_buckets", Some(
      s"""$dLshBk SELECT item_id, table_id, bucket FROM bk ORDER BY item_id, table_id"""),
      (s, dir) => Similarity.lshBuckets(embeddings(tune(s), dir),
        "vec_id", "embedding", numTables = 8, planesPerTable = 12)
        .orderBy("item_id", "table_id")),

    // event-time tumbling window (1h buckets, integer epoch arithmetic)
    Q("q38_tumbling_window", Some(
      """SELECT (CAST(epoch_ms(ts) AS BIGINT) // 3600000) * 3600000 AS bucket_start_ms, event_type AS topic, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => graft.streaming.EventTimeOps.tumblingCounts(
        KafkaLike.frame(tune(s), dir), 3600000L)
        .orderBy("bucket_start_ms", "topic")),

    // gap-based sessionization (30-minute gap, gaps-and-islands)
    Q("q39_sessionize", Some(
      """WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events), g AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e), s AS (SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g) SELECT CAST(user_id AS BIGINT) AS user_id, CAST(session_id AS BIGINT) AS session_id, CAST(COUNT(*) AS BIGINT) AS n_events, MIN(ms) AS start_ms, MAX(ms) AS end_ms FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => graft.streaming.EventTimeOps.sessionize(
        KafkaLike.frame(tune(s), dir), 1800000L)
        .select(col("key").cast(LongType).as("user_id"), col("session_id"),
          col("n_events"), col("start_ms"), col("end_ms"))
        .orderBy("user_id", "session_id")),

    // embedding-cosine near-dup: multi-table LSH candidates (bucket-capped)
    // + exact integer cosine threshold (cos ≥ 2/5 ⟺ 25·dot² ≥ 4·‖a‖²·‖b‖²,
    // dot>0)
    Q("q37_embedding_neardup", Some(
      s"""$dLshBk, sz AS (SELECT table_id, bucket, COUNT(*) AS bn FROM bk GROUP BY 1, 2), okb AS (SELECT bk.item_id, bk.table_id, bk.bucket FROM bk JOIN sz USING (table_id, bucket) WHERE bn <= 1000), cand AS (SELECT DISTINCT l.item_id AS item_a, r.item_id AS item_b FROM okb l JOIN okb r ON l.table_id = r.table_id AND l.bucket = r.bucket AND l.item_id < r.item_id), dd AS (SELECT item_a, item_b, CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[CAST(i+1 AS INT)]*bb.qv[CAST(i+1 AS INT)])) AS BIGINT) AS dot, CAST(list_sum(list_transform(a.qv, x -> x*x)) AS BIGINT) AS na, CAST(list_sum(list_transform(bb.qv, x -> x*x)) AS BIGINT) AS nb FROM cand JOIN v a ON item_a = a.item_id JOIN v bb ON item_b = bb.item_id) SELECT item_a, item_b, dot FROM dd WHERE dot > 0 AND 25*dot*dot >= 4*na*nb ORDER BY item_a, item_b"""),
      (s, dir) => Dedup.embeddingNearDupPairs(embeddings(tune(s), dir),
        "vec_id", "embedding", numTables = 8, planesPerTable = 12,
        maxBucketSize = 1000, cosNum = 2L, cosDen = 5L)
        .orderBy("item_a", "item_b")),

    // characteristic terms: top-3 tokens per doc by (tf desc, token asc)
    Q("q40_char_terms", Some(
      s"""WITH t AS (SELECT doc_id, unnest($dToks) AS token FROM documents), tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, token ASC) AS rank FROM tf) SELECT doc_id, token, tf, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tf = docs(tune(s), dir)
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("token").asc)
        tf.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .orderBy("doc_id", "rank")
      }),

    // composite training-corpus pipeline: quality filter ∧ language filter ∧
    // near-dup removal (minhash-LSH candidates, drop the higher id) — the
    // end-to-end LLM-data curation flow in one plan
    Q("q41_corpus_pipeline", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), q AS (SELECT doc_id, text, $dToks AS tk FROM documents), sc AS (SELECT doc_id, text, tk, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM q), lg AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc) SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM lg WHERE length(text) >= 100 AND (length(text) - length(translate(text, '.,;:!?', ''))) * 10 <= length(text) AND len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) >= 1 AND (CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END) = 'en' AND doc_id NOT IN (SELECT doc_b FROM cand) ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val filtered = d.filter(TextAnalysis.qualityOk(col("text")) &&
          TextAnalysis.langId(col("text")) === "en")
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Dedup.applyNearDedup(filtered, cands, "doc_id")
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .orderBy("doc_id")
      }),

    // IVF-style ANN: fixed coarse centroids (first 8 vectors), exact integer
    // squared-L2 assignment
    Q("q42_ann_ivf_cells", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, CAST(list_sum(list_transform($dQuant, x -> x*x)) AS BIGINT) AS n2 FROM embeddings), c AS (SELECT item_id AS cell_id, qv AS cv, n2 AS cn2 FROM v WHERE item_id < 8), d AS (SELECT item_id, cell_id, n2 + cn2 - 2*CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*cv[CAST(i+1 AS INT)])) AS BIGINT) AS dist2 FROM v CROSS JOIN c), r AS (SELECT *, row_number() OVER (PARTITION BY item_id ORDER BY dist2, cell_id) AS rn FROM d) SELECT item_id, cell_id, dist2 FROM r WHERE rn = 1 ORDER BY item_id"""),
      (s, dir) => Similarity.ivfCells(embeddings(tune(s), dir),
        "vec_id", "embedding", nCells = 8)
        .orderBy("item_id")),

    // IVF with TRAINED centroids (deterministic integer k-means) — the scale
    // path past the fixed-centroid stub of q42. 3 Lloyd iterations in SQL are
    // impractical, but the ASSIGNMENT is exactly checkable: Verify runs the
    // deterministic k-means once, templates the collected centroid literals
    // (k=8 × dims longs) into this SQL via [[resolveOracleSql]], and DuckDB
    // verifies the integer L2 assignment bit-for-bit — same shape as q42's
    // fixed-centroid oracle.
    Q("q53_ann_ivf_trained", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, CAST(list_sum(list_transform($dQuant, x -> x*x)) AS BIGINT) AS n2 FROM embeddings), c AS (SELECT CAST(cell_id AS INT) AS cell_id, list_transform(cv, x -> CAST(x AS BIGINT)) AS cv, CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS cn2 FROM (VALUES $IvfCentroidsPlaceholder) t(cell_id, cv)), d AS (SELECT item_id, cell_id, n2 + cn2 - 2*CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*cv[CAST(i+1 AS INT)])) AS BIGINT) AS dist2 FROM v CROSS JOIN c), r AS (SELECT *, row_number() OVER (PARTITION BY item_id ORDER BY dist2, cell_id) AS rn FROM d) SELECT item_id, cell_id, dist2 FROM r WHERE rn = 1 ORDER BY item_id"""),
      (s, dir) => Similarity.ivfCellsTrained(embeddings(tune(s), dir),
        "vec_id", "embedding", nCells = 8, iters = 3)
        .orderBy("item_id")),

    // full trained-IVF ANN retrieval: multi-probe (2 nearest cells) + exact
    // integer top-k within probed cells — the complete trained path
    // hash-gated, not just the assignment (q53). Centroids templated into
    // the oracle like q53.
    Q("q59_ann_ivf_topk_trained", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, CAST(list_sum(list_transform($dQuant, x -> x*x)) AS BIGINT) AS n2 FROM embeddings), c AS (SELECT CAST(cell_id AS INT) AS cell_id, list_transform(cv, x -> CAST(x AS BIGINT)) AS cv, CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS cn2 FROM (VALUES $IvfCentroidsPlaceholder) t(cell_id, cv)), d AS (SELECT item_id, cell_id, n2 + cn2 - 2*CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*cv[CAST(i+1 AS INT)])) AS BIGINT) AS dist2 FROM v CROSS JOIN c), a AS (SELECT item_id, cell_id FROM (SELECT *, row_number() OVER (PARTITION BY item_id ORDER BY dist2, cell_id) AS rn FROM d) WHERE rn = 1), q AS (SELECT item_id AS query_id FROM v WHERE item_id < 10), p AS (SELECT query_id, cell_id FROM (SELECT q.query_id, d.cell_id, row_number() OVER (PARTITION BY q.query_id ORDER BY d.dist2, d.cell_id) AS pr FROM q JOIN d ON q.query_id = d.item_id) WHERE pr <= 2), cand AS (SELECT DISTINCT p.query_id, a.item_id FROM p JOIN a USING (cell_id) WHERE a.item_id <> p.query_id), sc AS (SELECT cand.query_id, cand.item_id, CAST(list_sum(list_transform(range(len(cv2.qv)), i -> cv2.qv[CAST(i+1 AS INT)]*qv2.qv[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM cand JOIN v cv2 ON cand.item_id = cv2.item_id JOIN v qv2 ON cand.query_id = qv2.item_id), rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM sc) SELECT query_id, item_id, dot, CAST(rank AS INT) AS rank FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.ivfTopKTrained(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2, iters = 3)
          .orderBy("query_id", "rank")
      }),

    // near-dup CLUSTER assignment: connected components over the minhash-LSH
    // candidate graph (min reachable doc id), vs q41's pair-drop policy.
    // Oracle computes true reachability with a recursive CTE; the Spark side
    // runs large-star/small-star rounds (Graph.connectedComponentsStar) —
    // both are exact components, so they agree.
    Q("q54_dedup_clusters", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM e UNION SELECT reach.s, e2.t FROM reach JOIN e e2 ON reach.t = e2.s) SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS cluster_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id ORDER BY d.doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Dedup.nearDupClusters(d, cands, "doc_id").orderBy("doc_id")
      }),

    // corpus vocabulary: global token tf/df, top 100 — the tokenizer-training
    // precursor; one explode + map-side-combined groupBy + TakeOrdered
    Q("q55_vocab_topk", Some(
      s"""WITH t AS (SELECT doc_id, unnest($dToks) AS token FROM documents) SELECT token, CAST(COUNT(*) AS BIGINT) AS tf, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY token ORDER BY tf DESC, token LIMIT 100"""),
      (s, dir) => TextAnalysis.vocabulary(docs(tune(s), dir), "text", "doc_id", 100)),

    // C4-style SPAN dedup: 8-token tiles whose exact text repeats anywhere
    // in the corpus are dropped; the doc is rebuilt from surviving tiles
    Q("q79_span_dedup", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), pos AS (SELECT doc_id, tk, unnest(generate_series(0, CAST((len(tk) + 7) // 8 AS BIGINT) - 1)) AS pos FROM toks WHERE len(tk) > 0), spans AS (SELECT doc_id, pos, array_to_string(tk[CAST(pos*8+1 AS BIGINT):CAST(pos*8+8 AS BIGINT)], ' ') AS span FROM pos), cnt AS (SELECT span, COUNT(*) AS c FROM spans GROUP BY 1), kept AS (SELECT s.doc_id, s.pos, s.span FROM spans s JOIN cnt USING (span) WHERE c < 2), tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM spans GROUP BY 1), reb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, string_agg(span, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY 1) SELECT d.doc_id AS doc_id, COALESCE(t.n_spans, 0) AS n_spans, COALESCE(r.n_kept, 0) AS n_kept, COALESCE(r.clean_text, '') AS clean_text FROM (SELECT doc_id FROM documents) d LEFT JOIN tot t USING (doc_id) LEFT JOIN reb r USING (doc_id) ORDER BY doc_id"""),
      (s, dir) => Dedup.spanDedup(docs(tune(s), dir), "text", "doc_id",
        spanTokens = 8, minCount = 2).orderBy("doc_id")),

    // boilerplate mining: the top repeated exact 8-token spans with
    // occurrence/document counts and an example doc — the report a curation
    // team reads BEFORE deciding what q79's span dedup should strip
    Q("q86_common_spans", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), pos AS (SELECT doc_id, tk, unnest(generate_series(0, CAST((len(tk) + 7) // 8 AS BIGINT) - 1)) AS pos FROM toks WHERE len(tk) > 0), spans AS (SELECT doc_id, pos, array_to_string(tk[CAST(pos*8+1 AS BIGINT):CAST(pos*8+8 AS BIGINT)], ' ') AS span FROM pos) SELECT span, CAST(COUNT(*) AS BIGINT) AS n_occurrences, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS example_doc_id FROM spans GROUP BY span HAVING COUNT(*) >= 2 ORDER BY n_occurrences DESC, span LIMIT 100"""),
      (s, dir) => Dedup.commonSpans(docs(tune(s), dir), "text", "doc_id",
        spanTokens = 8, minCount = 2, topK = 100)),

    // BM25 top-k retrieval (integer-exact: rational tf saturation at ×1e6
    // fixed-point, Lucene odds idf through the piecewise-linear qlog2 —
    // see Retrieval.scala). Three fixed bag-of-words queries over the
    // corpus vocabulary; k=10 per query.
    Q("q87_bm25_topk", Some(
      s"""WITH t AS (SELECT doc_id, unnest($dToks) AS token FROM documents), tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tt FROM dl), am AS (SELECT (1000*tt)//n AS a, n FROM st), q(query_id, token) AS (VALUES (0, 'spark'), (0, 'hash'), (0, 'merge'), (1, 'window'), (1, 'sort'), (1, 'batch'), (2, 'table'), (2, 'scan'), (2, 'value')), dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf WHERE token IN (SELECT token FROM q) GROUP BY 1), idf AS (SELECT token, (1024*(length(bin(x))-1) + ((x*1024) >> (length(bin(x))-1)) - 1024) - 20480 AS idf_q FROM (SELECT token, ((2*(SELECT n FROM am)+2) << 20) // (2*df+1) AS x FROM dfx)), sc AS (SELECT q.query_id, tf.doc_id, (((22*tf.tf*am.a*1000000) // (20*tf.tf*am.a + 6*am.a + 18*dl.dl*1000)) * idf.idf_q) // 1024 AS term_score FROM tf JOIN q ON tf.token = q.token JOIN idf ON tf.token = idf.token JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN am), s2 AS (SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_q FROM sc GROUP BY 1, 2), r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id ASC) AS INT) AS rank FROM s2) SELECT CAST(query_id AS INT) AS query_id, doc_id, score_q, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),
      (s, dir) => Retrieval.bm25TopK(docs(tune(s), dir), "text", "doc_id",
        Seq(0 -> Seq("spark", "hash", "merge"),
          1 -> Seq("window", "sort", "batch"),
          2 -> Seq("table", "scan", "value")), k = 10)
        .orderBy("query_id", "rank")),

    // SemDeDup: k-means clusters (the same deterministic integer k-means as
    // q53, centroids templated into the oracle) + exhaustive within-cluster
    // quantized-cosine scan at cos >= 0.9; min-id-wins keep policy
    Q("q88_semantic_dedup", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, CAST(list_sum(list_transform($dQuant, x -> x*x)) AS BIGINT) AS n2 FROM embeddings), c AS (SELECT CAST(cell_id AS INT) AS cell_id, list_transform(cv, x -> CAST(x AS BIGINT)) AS cv, CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS cn2 FROM (VALUES $IvfCentroidsPlaceholder) t(cell_id, cv)), d AS (SELECT item_id, cell_id, n2 + cn2 - 2*CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*cv[CAST(i+1 AS INT)])) AS BIGINT) AS dist2 FROM v CROSS JOIN c), asg AS (SELECT item_id, cell_id FROM (SELECT *, row_number() OVER (PARTITION BY item_id ORDER BY dist2, cell_id) AS rn FROM d) WHERE rn = 1), pr AS (SELECT a.item_id AS ia, b.item_id AS ib, CAST(list_sum(list_transform(range(len(va.qv)), i -> va.qv[CAST(i+1 AS INT)]*vb.qv[CAST(i+1 AS INT)])) AS BIGINT) AS dot, va.n2 AS na, vb.n2 AS nb FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.item_id < b.item_id JOIN v va ON va.item_id = a.item_id JOIN v vb ON vb.item_id = b.item_id), dup AS (SELECT ib AS item_id, CAST(COUNT(*) AS BIGINT) AS n_earlier_dups FROM pr WHERE dot > 0 AND 100*dot*dot >= 81*na*nb GROUP BY 1) SELECT asg.item_id, asg.cell_id, COALESCE(dup.n_earlier_dups, 0) AS n_earlier_dups, COALESCE(dup.n_earlier_dups, 0) = 0 AS kept FROM asg LEFT JOIN dup ON asg.item_id = dup.item_id ORDER BY asg.item_id"""),
      (s, dir) => Dedup.semanticDedup(embeddings(tune(s), dir),
        "vec_id", "embedding", nCells = 8, iters = 3,
        cosNum = 9L, cosDen = 10L).orderBy("item_id")),

    // PMI collocations: adjacent-bigram phrase mining ranked by the exact
    // integer lift ratio ×1000 (log omitted — monotone), min count 5
    Q("q89_collocations", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), un AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT unnest(tk) AS token FROM toks) GROUP BY 1), st AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM un), bt AS (SELECT CAST(SUM(GREATEST(len(tk) - 1, 0)) AS BIGINT) AS b FROM toks), pos AS (SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 2), bg AS (SELECT token_a, token_b, CAST(COUNT(*) AS BIGINT) AS n_ab FROM (SELECT tk[CAST(i+1 AS INT)] AS token_a, tk[CAST(i+2 AS INT)] AS token_b FROM pos) GROUP BY 1, 2), j AS (SELECT bg.token_a, bg.token_b, bg.n_ab, ua.n AS n_a, ub.n AS n_b FROM bg JOIN un ua ON bg.token_a = ua.token JOIN un ub ON bg.token_b = ub.token WHERE bg.n_ab >= 5), sc AS (SELECT token_a, token_b, n_ab, n_a, n_b, (((n_ab * t * 1000) // (n_a * n_b)) * t) // b AS pmi_x1000 FROM j CROSS JOIN st CROSS JOIN bt) SELECT token_a, token_b, n_ab, n_a, n_b, pmi_x1000 FROM sc ORDER BY pmi_x1000 DESC, token_a, token_b LIMIT 100"""),
      (s, dir) => TextAnalysis.collocations(docs(tune(s), dir), "text",
        "doc_id", minCount = 5L, topK = 100)),

    // k-NN majority-vote classification: vec_id < 50 are the "unlabeled"
    // queries, the rest the labeled corpus; k=5 by exact quantized dot
    // (the pluggable-ANN operator's brute-force baseline path)
    Q("q90_knn_classify", Some(
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv, label FROM embeddings), q AS (SELECT vec_id AS query_id, qv AS qq FROM v WHERE vec_id < 50), c AS (SELECT vec_id AS item_id, qv, label FROM v WHERE vec_id >= 50), sc AS (SELECT query_id, item_id, label, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*qq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM c CROSS JOIN q), r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM sc), nn AS (SELECT query_id, item_id, label, rank FROM r WHERE rank <= 5), vt AS (SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes, MIN(rank) AS best_rank FROM nn GROUP BY 1, 2), w AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, best_rank ASC, label ASC) AS rn FROM vt) SELECT query_id, CAST(label AS INT) AS pred_label, votes FROM w WHERE rn = 1 ORDER BY query_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.knnClassify(e.filter(col("vec_id") >= 50),
          e.filter(col("vec_id") < 50), "vec_id", "embedding", "label", k = 5)
          .orderBy("query_id")
      }),

    // multinomial Naive Bayes with add-1 smoothing, trained on the even
    // doc_ids' lang labels, classifying the odd — all log-probs through the
    // integer qlog2 at 2^30 fixed point (see TextAnalysis.naiveBayesClassify)
    Q("q91_naive_bayes", Some(
      s"""WITH tr AS (SELECT doc_id, lang AS label, $dToks AS tk FROM documents WHERE doc_id % 2 = 0), te AS (SELECT doc_id, $dToks AS tk FROM documents WHERE doc_id % 2 = 1), cnt AS (SELECT label, token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (SELECT label, unnest(tk) AS token FROM tr) GROUP BY 1, 2), tot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt GROUP BY 1), vs AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM cnt), pri AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_docs FROM tr GROUP BY 1), ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr), cls AS (SELECT tot.label, tot.tot, ${dQlog2("px")} - 30720 AS prior_q FROM (SELECT tot.label, tot.tot, (pri.n_docs << 30) // ntr.n AS px FROM tot JOIN pri USING (label) CROSS JOIN ntr) tot), tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT doc_id, unnest(tk) AS token FROM te) GROUP BY 1, 2), ct AS (SELECT doc_id, label, prior_q, tf * (${dQlog2("cx")} - 30720) AS c FROM (SELECT tf.doc_id, cls.label, cls.prior_q, tf.tf, ((COALESCE(cnt.cnt, 0) + 1) << 30) // (cls.tot + vs.v) AS cx FROM tf CROSS JOIN cls CROSS JOIN vs LEFT JOIN cnt ON cnt.token = tf.token AND cnt.label = cls.label)), sc AS (SELECT doc_id, label, prior_q + CAST(SUM(c) AS BIGINT) AS score_q FROM ct GROUP BY 1, 2, prior_q), r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, label ASC) AS rn FROM sc) SELECT doc_id, label AS pred_label, score_q FROM r WHERE rn = 1 ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        TextAnalysis.naiveBayesClassify(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", "lang").orderBy("doc_id")
      }),

    // nearest-prototype (Rocchio) classification: per-label integer-mean
    // embedding prototypes from vec_id >= 50, queries assigned by exact
    // integer squared-L2 — the parametric counterpart of q90's kNN
    Q("q92_prototype_classify", Some(
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv, label FROM embeddings), tr AS (SELECT * FROM v WHERE vec_id >= 50), pe AS (SELECT label, unnest(range(len(qv))) AS dim, qv FROM tr), pm AS (SELECT label, dim, CAST(SUM(qv[CAST(dim+1 AS INT)]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cx FROM pe GROUP BY 1, 2), pv AS (SELECT label, list(cx ORDER BY dim) AS cv FROM pm GROUP BY 1), pn AS (SELECT CAST(label AS INT) AS label, cv, CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2 FROM pv), q AS (SELECT vec_id AS query_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS n2 FROM v WHERE vec_id < 50), d AS (SELECT query_id, label, n2 + cn2 - 2*CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*cv[CAST(i+1 AS INT)])) AS BIGINT) AS dist2 FROM q CROSS JOIN pn), r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, label) AS rn FROM d) SELECT query_id, label AS pred_label, dist2 FROM r WHERE rn = 1 ORDER BY query_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.prototypeClassify(e.filter(col("vec_id") >= 50),
          e.filter(col("vec_id") < 50), "vec_id", "embedding", "label")
          .orderBy("query_id")
      }),

    // product quantization ENCODE: 8 subspaces × 16 cells trained by the
    // deterministic integer k-means (codebooks templated into the oracle
    // like q53's centroids); each 64-dim vector compresses to 8 codes —
    // emitted one row per (item, sub) for exact comparison
    Q("q93_pq_encode", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings), cb AS (SELECT CAST(sub_id AS INT) AS sub_id, CAST(cell_id AS INT) AS cell_id, list_transform(cv, x -> CAST(x AS BIGINT)) AS cv FROM (VALUES $PqCodebooksPlaceholder) t(sub_id, cell_id, cv)), d AS (SELECT item_id, sub_id, cell_id, CAST(list_sum(list_transform(range(8), i -> (qv[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]) * (qv[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]))) AS BIGINT) AS dist2 FROM v CROSS JOIN cb), a AS (SELECT item_id, sub_id, cell_id AS code FROM (SELECT *, row_number() OVER (PARTITION BY item_id, sub_id ORDER BY dist2, cell_id) AS rn FROM d) WHERE rn = 1) SELECT item_id, sub_id, code FROM a ORDER BY item_id, sub_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Pq.encode(e, "vec_id", "embedding",
          Pq.trainCodebooks(e, "vec_id", "embedding", 8, 16, 3), 8)
          .orderBy("item_id", "sub_id")
      }),

    // product quantization ADC top-k: per-query distance TABLE against the
    // sub-codebooks, summed over each corpus vector's codes — the
    // compressed-domain scan (corpus vectors never decompress)
    Q("q94_pq_adc_topk", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings), cb AS (SELECT CAST(sub_id AS INT) AS sub_id, CAST(cell_id AS INT) AS cell_id, list_transform(cv, x -> CAST(x AS BIGINT)) AS cv FROM (VALUES $PqCodebooksPlaceholder) t(sub_id, cell_id, cv)), d AS (SELECT item_id, sub_id, cell_id, CAST(list_sum(list_transform(range(8), i -> (qv[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]) * (qv[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]))) AS BIGINT) AS dist2 FROM v CROSS JOIN cb), a AS (SELECT item_id, sub_id, cell_id AS code FROM (SELECT *, row_number() OVER (PARTITION BY item_id, sub_id ORDER BY dist2, cell_id) AS rn FROM d) WHERE rn = 1), q AS (SELECT vec_id AS query_id, $dQuant AS qq FROM embeddings WHERE vec_id < 10), dt AS (SELECT query_id, sub_id, cell_id, CAST(list_sum(list_transform(range(8), i -> (qq[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]) * (qq[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]))) AS BIGINT) AS dt FROM q CROSS JOIN cb), sc AS (SELECT dt.query_id, a.item_id, CAST(SUM(dt.dt) AS BIGINT) AS adist2 FROM a JOIN dt ON a.sub_id = dt.sub_id AND a.code = dt.cell_id WHERE a.item_id <> dt.query_id GROUP BY 1, 2), r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist2 ASC, item_id ASC) AS INT) AS rank FROM sc) SELECT query_id, item_id, adist2, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        val cb = Pq.trainCodebooks(e, "vec_id", "embedding", 8, 16, 3)
        Pq.adcTopK(Pq.encode(e, "vec_id", "embedding", cb, 8),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", cb, k = 5, 8)
          .orderBy("query_id", "rank")
      }),

    // corpus drift report: odd doc_ids are the NEW ingest batch, even the
    // curated reference; per-token integer KL contribution with add-1
    // smoothing over the joint vocabulary, top 50 over-represented terms
    Q("q95_vocab_drift", Some(
      s"""WITH nd AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_new FROM (SELECT unnest($dToks) AS token FROM documents WHERE doc_id % 2 = 1) GROUP BY 1), rd AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_ref FROM (SELECT unnest($dToks) AS token FROM documents WHERE doc_id % 2 = 0) GROUP BY 1), j AS (SELECT token, COALESCE(n_new, 0) AS n_new, COALESCE(n_ref, 0) AS n_ref FROM nd FULL OUTER JOIN rd USING (token)), st AS (SELECT CAST(SUM(n_new) AS BIGINT) AS tn, CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(COUNT(*) AS BIGINT) AS v FROM j), x AS (SELECT token, n_new, n_ref, (((n_new+1)*(tr+v)) << 20) // ((n_ref+1)*(tn+v)) AS r FROM j CROSS JOIN st), d AS (SELECT token, n_new, n_ref, (n_new+1)*(${dQlog2("r")} - 20480) AS drift_q FROM x) SELECT token, n_new, n_ref, drift_q FROM d ORDER BY drift_q DESC, token LIMIT 50"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        TextAnalysis.vocabDrift(d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0), "text", topK = 50)
      }),

    // classifier evaluation: confusion matrix of the q91 Naive Bayes sweep
    // against the true lang labels — train on even doc_ids, classify odd,
    // count (true, predicted) pairs
    Q("q97_confusion_matrix", Some(
      s"""WITH tr AS (SELECT doc_id, lang AS label, $dToks AS tk FROM documents WHERE doc_id % 2 = 0), te AS (SELECT doc_id, $dToks AS tk FROM documents WHERE doc_id % 2 = 1), cnt AS (SELECT label, token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (SELECT label, unnest(tk) AS token FROM tr) GROUP BY 1, 2), tot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt GROUP BY 1), vs AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM cnt), pri AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_docs FROM tr GROUP BY 1), ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr), cls AS (SELECT tot.label, tot.tot, ${dQlog2("px")} - 30720 AS prior_q FROM (SELECT tot.label, tot.tot, (pri.n_docs << 30) // ntr.n AS px FROM tot JOIN pri USING (label) CROSS JOIN ntr) tot), tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT doc_id, unnest(tk) AS token FROM te) GROUP BY 1, 2), ct AS (SELECT doc_id, label, prior_q, tf * (${dQlog2("cx")} - 30720) AS c FROM (SELECT tf.doc_id, cls.label, cls.prior_q, tf.tf, ((COALESCE(cnt.cnt, 0) + 1) << 30) // (cls.tot + vs.v) AS cx FROM tf CROSS JOIN cls CROSS JOIN vs LEFT JOIN cnt ON cnt.token = tf.token AND cnt.label = cls.label)), sc AS (SELECT doc_id, label, prior_q + CAST(SUM(c) AS BIGINT) AS score_q FROM ct GROUP BY 1, 2, prior_q), r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, label ASC) AS rn FROM sc), cm AS (SELECT d.lang AS true_label, r.label AS pred_label FROM r JOIN documents d ON r.doc_id = d.doc_id WHERE r.rn = 1) SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n FROM cm GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val test = d.filter(col("doc_id") % 2 === 1)
        val pred = TextAnalysis.naiveBayesClassify(
          d.filter(col("doc_id") % 2 === 0), test, "text", "doc_id", "lang")
        TextAnalysis.confusionMatrix(pred, test, "doc_id",
          "pred_label", "lang").orderBy("true_label", "pred_label")
      }),

    // ANN quality as a first-class operator: recall@5 of the trained
    // multi-probe IVF (q59's exact configuration) against brute-force
    // ground truth (q33's), per query — integer recall_pct
    Q("q98_ann_recall", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, CAST(list_sum(list_transform($dQuant, x -> x*x)) AS BIGINT) AS n2 FROM embeddings), c AS (SELECT CAST(cell_id AS INT) AS cell_id, list_transform(cv, x -> CAST(x AS BIGINT)) AS cv, CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS cn2 FROM (VALUES $IvfCentroidsPlaceholder) t(cell_id, cv)), d AS (SELECT item_id, cell_id, n2 + cn2 - 2*CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*cv[CAST(i+1 AS INT)])) AS BIGINT) AS dist2 FROM v CROSS JOIN c), a AS (SELECT item_id, cell_id FROM (SELECT *, row_number() OVER (PARTITION BY item_id ORDER BY dist2, cell_id) AS rn FROM d) WHERE rn = 1), q AS (SELECT item_id AS query_id FROM v WHERE item_id < 10), p AS (SELECT query_id, cell_id FROM (SELECT q.query_id, d.cell_id, row_number() OVER (PARTITION BY q.query_id ORDER BY d.dist2, d.cell_id) AS pr FROM q JOIN d ON q.query_id = d.item_id) WHERE pr <= 2), cand AS (SELECT DISTINCT p.query_id, a.item_id FROM p JOIN a USING (cell_id) WHERE a.item_id <> p.query_id), asc0 AS (SELECT cand.query_id, cand.item_id, CAST(list_sum(list_transform(range(len(cv2.qv)), i -> cv2.qv[CAST(i+1 AS INT)]*qv2.qv[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM cand JOIN v cv2 ON cand.item_id = cv2.item_id JOIN v qv2 ON cand.query_id = qv2.item_id), ap AS (SELECT query_id, item_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM asc0) WHERE rank <= 5), exsc AS (SELECT q.query_id, v.item_id, CAST(list_sum(list_transform(range(len(v.qv)), i -> v.qv[CAST(i+1 AS INT)]*qv3.qv[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM v CROSS JOIN q JOIN v qv3 ON q.query_id = qv3.item_id WHERE v.item_id <> q.query_id), ex AS (SELECT query_id, item_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM exsc) WHERE rank <= 5), hits AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM ex JOIN ap USING (query_id, item_id) GROUP BY 1), qs AS (SELECT DISTINCT query_id FROM ex) SELECT qs.query_id, COALESCE(h.n_hits, 0) AS n_hits, (COALESCE(h.n_hits, 0) * 100) // 5 AS recall_pct FROM qs LEFT JOIN hits h ON qs.query_id = h.query_id ORDER BY qs.query_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        val qs = e.filter(col("vec_id") < 10)
        Similarity.recallAtK(
          Similarity.ivfTopKTrained(e, qs, "vec_id", "embedding",
            k = 5, nCells = 8, nProbe = 2, iters = 3),
          Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5), 5)
          .orderBy("query_id")
      }),

    // BPE merge candidates: the first byte-pair-encoding training
    // iteration — within-token adjacent character pairs weighted by token
    // frequency, over the (token, tf) vocabulary (not the raw corpus)
    Q("q96_bpe_merges", Some(
      s"""WITH vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT unnest($dToks) AS token FROM documents) GROUP BY 1), ch AS (SELECT tf, string_split(token, '') AS cs FROM vocab WHERE len(token) >= 2), pos AS (SELECT tf, cs, unnest(range(len(cs) - 1)) AS i FROM ch), pr AS (SELECT cs[CAST(i+1 AS INT)] AS sym_a, cs[CAST(i+2 AS INT)] AS sym_b, tf FROM pos) SELECT sym_a, sym_b, CAST(SUM(tf) AS BIGINT) AS n FROM pr GROUP BY 1, 2 ORDER BY n DESC, sym_a, sym_b LIMIT 100"""),
      (s, dir) => TextAnalysis.bpeMergeCandidates(docs(tune(s), dir),
        "text", topK = 100)),

    // bigram-LM perplexity scorer (CCNet recipe): train an add-1-smoothed
    // bigram model on the trusted half (even doc_ids), score the other
    // half's docs with total + per-bigram-average negative
    // log2-likelihood, integer qlog2 fixed point
    Q("q99_bigram_lm", Some(
      s"""WITH tr AS (SELECT doc_id, $dToks AS tk FROM documents WHERE doc_id % 2 = 0), te AS (SELECT doc_id, $dToks AS tk FROM documents WHERE doc_id % 2 = 1), trb AS (SELECT unnest(list_transform(range(len(tk)-1), i -> [tk[CAST(i+1 AS INT)], tk[CAST(i+2 AS INT)]])) AS bg FROM tr WHERE len(tk) >= 2), c2 AS (SELECT bg[1] AS a, bg[2] AS b, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM trb GROUP BY 1, 2), cx AS (SELECT a, CAST(SUM(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY 1), vs AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM (SELECT unnest(tk) AS token FROM tr)), teb AS (SELECT doc_id, unnest(list_transform(range(len(tk)-1), i -> [tk[CAST(i+1 AS INT)], tk[CAST(i+2 AS INT)]])) AS bg FROM te WHERE len(tk) >= 2), tb AS (SELECT doc_id, bg[1] AS a, bg[2] AS b, CAST(COUNT(*) AS BIGINT) AS n FROM teb GROUP BY 1, 2, 3), x AS (SELECT doc_id, n, ((COALESCE(cnt2, 0)+1) << 30) // (COALESCE(cnt1, 0) + vs.v) AS px FROM tb LEFT JOIN c2 USING (a, b) LEFT JOIN cx USING (a) CROSS JOIN vs), sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, CAST(-SUM(n*(${dQlog2("px")} - 30720)) AS BIGINT) AS nll_q FROM x GROUP BY 1) SELECT te.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams, COALESCE(sc.nll_q, 0) AS nll_q, COALESCE(sc.nll_q // sc.n_bigrams, 0) AS nll_q_avg FROM te LEFT JOIN sc ON te.doc_id = sc.doc_id ORDER BY te.doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        TextAnalysis.bigramLmScore(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "text", "doc_id").orderBy("doc_id")
      }),

    // BPE tokenizer APPLICATION: the top-24 first-iteration merges (q96's
    // candidates, collected bounded like the q53 centroids) applied as an
    // ordered replace chain over the (token, tf) vocabulary; per-doc
    // token/piece counts via one vocabulary-keyed join. The oracle folds
    // the SAME data-dependent merge list with list_reduce — no templating.
    Q("q100_bpe_encode", Some(
      s"""WITH vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT unnest($dToks) AS token FROM documents) GROUP BY 1), ch AS (SELECT tf, string_split(token, '') AS cs FROM vocab WHERE len(token) >= 2), pos AS (SELECT tf, cs, unnest(range(len(cs) - 1)) AS i FROM ch), pr AS (SELECT cs[CAST(i+1 AS INT)] AS sym_a, cs[CAST(i+2 AS INT)] AS sym_b, tf FROM pos), mc AS (SELECT sym_a, sym_b, CAST(SUM(tf) AS BIGINT) AS n FROM pr GROUP BY 1, 2 ORDER BY n DESC, sym_a, sym_b LIMIT 24), ml AS (SELECT COALESCE(list(sym_a || chr(31) || sym_b ORDER BY n DESC, sym_a, sym_b), []) AS ms FROM mc), enc AS (SELECT token, CAST(len(list_filter(string_split(trim(list_reduce(list_prepend(' ' || array_to_string(string_split(token, ''), ' ') || ' ', (SELECT ms FROM ml)), (acc, m) -> replace(acc, ' ' || replace(m, chr(31), ' ') || ' ', ' ' || replace(m, chr(31), '') || ' '))), ' '), p -> len(p) > 0)) AS BIGINT) AS n_pieces FROM vocab), pd AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT doc_id, unnest($dToks) AS token FROM documents) GROUP BY 1, 2), ag AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens, CAST(SUM(n * n_pieces) AS BIGINT) AS n_pieces FROM pd JOIN enc USING (token) GROUP BY 1) SELECT d.doc_id, COALESCE(ag.n_tokens, 0) AS n_tokens, COALESCE(ag.n_pieces, 0) AS n_pieces FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY d.doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        // bounded driver collect: exactly topK=24 (merge-list size) rows
        val merges = TextAnalysis.bpeMergeCandidates(d, "text", topK = 24)
          .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
        TextAnalysis.bpeEncode(d, "text", "doc_id", merges).orderBy("doc_id")
      }),

    // hot-key skew report over the event stream's user key — the
    // pre-shuffle diagnostic for salting / skew-join decisions
    Q("q101_key_skew", Some(
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys FROM c) SELECT key, n, (n * 1000000) // total AS share_ppm, (((n * 1000000) // total) * n_keys) // 1000 AS vs_mean_x1000 FROM c CROSS JOIN t ORDER BY n DESC, key LIMIT 20"""),
      (s, dir) => Stats.keySkew(
        KafkaLike.events(tune(s), dir), "user_id", topK = 20)),

    // snapshot diff: old = docs without the 5-residue-4 slice, new = docs
    // without the 7-residue-6 slice with every 3-residue-0 text mutated —
    // added/removed/changed/unchanged per id from (id, md5) pairs only
    Q("q102_snapshot_diff", Some(
      """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents WHERE doc_id % 5 <> 4), b AS (SELECT doc_id, md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS hb FROM documents WHERE doc_id % 7 <> 6) SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, CASE WHEN a.doc_id IS NULL THEN 'added' WHEN b.doc_id IS NULL THEN 'removed' WHEN ha = hb THEN 'unchanged' ELSE 'changed' END AS status FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id ORDER BY 1"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val old = d.filter(col("doc_id") % 5 =!= 4)
        val neu = d.filter(col("doc_id") % 7 =!= 6)
          .withColumn("text", when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Snapshot.diff(old, neu, "doc_id", "text").orderBy("doc_id")
      }),

    // Gopher/RefinedWeb-style rule report: named per-rule booleans (word
    // count, mean word length, alpha fraction, distinct stopwords) so the
    // pipeline can report per-rule rejection rates, not just one keep bit
    Q("q103_gopher_rules", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), f AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words, CASE WHEN len(tk) = 0 THEN 0 ELSE (CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) * 100) // len(tk) END AS mean_word_len_x100, CASE WHEN len(tk) = 0 THEN 0 ELSE (CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) * 100) // len(tk) END AS alpha_word_pct, CAST(len(list_filter(list_distinct(tk), x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS BIGINT) AS n_distinct_stop FROM t) SELECT doc_id, n_words, mean_word_len_x100, alpha_word_pct, n_distinct_stop, (n_words >= 20 AND n_words <= 100000) AS r_wordcount, (mean_word_len_x100 >= 300 AND mean_word_len_x100 <= 1000) AS r_wordlen, (alpha_word_pct >= 80) AS r_alpha, (n_distinct_stop >= 2) AS r_stop, (n_words >= 20 AND n_words <= 100000 AND mean_word_len_x100 >= 300 AND mean_word_len_x100 <= 1000 AND alpha_word_pct >= 80 AND n_distinct_stop >= 2) AS keep FROM f ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.gopherRules(docs(tune(s), dir), "text",
        "doc_id").orderBy("doc_id")),

    // hard-negative mining (the DPR BM25-negatives recipe): queries derive
    // from three seed docs (tokens at positions 1/3/5), gold = the seed doc
    // itself, excluded BEFORE the top-k cut so negative ranks are dense
    Q("q104_hard_negatives", Some(
      s"""WITH tt AS (SELECT doc_id, $dToks AS tk FROM documents), q AS (SELECT DISTINCT CAST(doc_id AS INT) AS query_id, t AS token FROM (SELECT doc_id, tk[1] AS t FROM tt WHERE doc_id < 3 AND len(tk) >= 1 UNION ALL SELECT doc_id, tk[3] FROM tt WHERE doc_id < 3 AND len(tk) >= 3 UNION ALL SELECT doc_id, tk[5] FROM tt WHERE doc_id < 3 AND len(tk) >= 5)), t AS (SELECT doc_id, unnest(tk) AS token FROM tt), tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tt2 FROM dl), am AS (SELECT (1000*tt2)//n AS a, n FROM st), dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf WHERE token IN (SELECT token FROM q) GROUP BY 1), idf AS (SELECT token, (1024*(length(bin(x))-1) + ((x*1024) >> (length(bin(x))-1)) - 1024) - 20480 AS idf_q FROM (SELECT token, ((2*(SELECT n FROM am)+2) << 20) // (2*df+1) AS x FROM dfx)), sc AS (SELECT q.query_id, tf.doc_id, (((22*tf.tf*am.a*1000000) // (20*tf.tf*am.a + 6*am.a + 18*dl.dl*1000)) * idf.idf_q) // 1024 AS term_score FROM tf JOIN q ON tf.token = q.token JOIN idf ON tf.token = idf.token JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN am), s2 AS (SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_q FROM sc GROUP BY 1, 2), g(query_id, doc_id) AS (VALUES (0, 0), (1, 1), (2, 2)), s3 AS (SELECT s2.* FROM s2 LEFT JOIN g ON s2.query_id = g.query_id AND s2.doc_id = g.doc_id WHERE g.query_id IS NULL), r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id ASC) AS INT) AS rank FROM s3) SELECT CAST(query_id AS INT) AS query_id, doc_id, score_q, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        // bounded collect: the three seed docs' token arrays
        val seeds = d.filter(col("doc_id") < 3)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
          .collect().toSeq.map { r =>
            val tk = r.getSeq[String](1)
            (r.getLong(0).toInt,
              Seq(0, 2, 4).filter(_ < tk.size).map(tk).distinct)
          }
        val gRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        seeds.foreach { case (qid, _) =>
          gRows.add(org.apache.spark.sql.Row(qid, qid.toLong)) }
        val gold = s.createDataFrame(gRows, StructType(Seq(
          StructField("query_id", IntegerType),
          StructField("doc_id", LongType))))
        Retrieval.hardNegatives(d, "text", "doc_id", seeds, gold, k = 10)
          .orderBy("query_id", "rank")
      }),

    // RAG chunking: 64-token chunks overlapping by 16 (stride 48); chunk i
    // covers [i*48, min(i*48+64, n)) — full coverage, last chunk may be short
    Q("q105_chunk_docs", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), f AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n, CASE WHEN len(tk) <= 0 THEN 0 ELSE 1 + greatest(0, (CAST(len(tk) AS BIGINT) - 64 + 47) // 48) END AS nc FROM t), x AS (SELECT doc_id, tk, n, unnest(range(nc)) AS i FROM f) SELECT doc_id, CAST(i AS INT) AS chunk_id, CAST(i*48 AS BIGINT) AS start_tok, CAST(least(64, n - i*48) AS BIGINT) AS n_tok, array_to_string(list_slice(tk, CAST(i*48 + 1 AS INT), CAST(i*48 + least(64, n - i*48) AS INT)), ' ') AS chunk_text FROM x ORDER BY doc_id, chunk_id"""),
      (s, dir) => TextAnalysis.chunkDocs(docs(tune(s), dir), "text", "doc_id",
        chunkTokens = 64, overlapTokens = 16).orderBy("doc_id", "chunk_id")),

    // deterministic stratified 80/10/10 split by language: within each
    // stratum rows order by the id hash; exact floor proportions per stratum
    Q("q107_stratified_split", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), sc AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM t), lg AS (SELECT doc_id, CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END AS lang FROM (SELECT doc_id, s_de, s_en, s_es, s_fr, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc)), r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS BIGINT) AS r, CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n FROM lg) SELECT doc_id, lang, CASE WHEN r*100 <= n*80 THEN 'train' WHEN r*100 <= n*90 THEN 'val' ELSE 'test' END AS split FROM r ORDER BY doc_id"""),
      (s, dir) => Sampling.stratifiedSplit(
        docs(tune(s), dir).select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang")),
        "lang", "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("lang"), col("split")).orderBy("doc_id")),

    // reciprocal-rank fusion of BM25 lexical top-10 (q87's fixed queries)
    // with embedding brute-force-cosine top-10 (query vectors = vec_id<3):
    // score = sum of floor(1e6/(60+rank)) over the lists ranking the doc
    Q("q106_rrf_fusion", Some(
      s"""WITH t AS (SELECT doc_id, unnest($dToks) AS token FROM documents), tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tt FROM dl), am AS (SELECT (1000*tt)//n AS a, n FROM st), q(query_id, token) AS (VALUES (0, 'spark'), (0, 'hash'), (0, 'merge'), (1, 'window'), (1, 'sort'), (1, 'batch'), (2, 'table'), (2, 'scan'), (2, 'value')), dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf WHERE token IN (SELECT token FROM q) GROUP BY 1), idf AS (SELECT token, (1024*(length(bin(x))-1) + ((x*1024) >> (length(bin(x))-1)) - 1024) - 20480 AS idf_q FROM (SELECT token, ((2*(SELECT n FROM am)+2) << 20) // (2*df+1) AS x FROM dfx)), sc AS (SELECT q.query_id, tf.doc_id, (((22*tf.tf*am.a*1000000) // (20*tf.tf*am.a + 6*am.a + 18*dl.dl*1000)) * idf.idf_q) // 1024 AS term_score FROM tf JOIN q ON tf.token = q.token JOIN idf ON tf.token = idf.token JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN am), s2 AS (SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_q FROM sc GROUP BY 1, 2), r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id ASC) AS INT) AS rank FROM s2), bm AS (SELECT CAST(query_id AS INT) AS query_id, doc_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10), q2 AS (SELECT vec_id AS query_id, $dQuant AS qq FROM embeddings WHERE vec_id < 3), c2 AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings), sc2 AS (SELECT query_id, item_id, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)] * qq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM c2 CROSS JOIN q2 WHERE item_id <> query_id), r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM sc2), ann AS (SELECT CAST(query_id AS INT) AS query_id, item_id AS doc_id, CAST(rank AS BIGINT) AS rank FROM r2 WHERE rank <= 10), u AS (SELECT * FROM bm UNION ALL SELECT * FROM ann), f AS (SELECT query_id, doc_id, CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_score, CAST(COUNT(*) AS BIGINT) AS n_lists FROM u GROUP BY 1, 2), fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank FROM f) SELECT query_id, doc_id, rrf_score, n_lists, rank FROM fr WHERE rank <= 10 ORDER BY query_id, rank"""),
      (s, dir) => {
        val bm = Retrieval.bm25TopK(docs(tune(s), dir), "text", "doc_id",
          Seq(0 -> Seq("spark", "hash", "merge"),
            1 -> Seq("window", "sort", "batch"),
            2 -> Seq("table", "scan", "value")), k = 10)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val e = embeddings(tune(s), dir)
        val ann = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("item_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(bm, ann), k = 10).orderBy("query_id", "rank")
      }),

    // ROUGE-2-style n-gram overlap eval: even docs as candidates scored
    // against doc_id+1 as reference; ppm precision/recall/F1, zero-overlap
    // and sub-n-token pairs kept as zeros
    Q("q108_ngram_overlap", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), th AS (SELECT doc_id, list_transform(tk, t -> ${dFold("t")}) AS th FROM toks), gx AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(th) < 2 THEN [] ELSE list_transform(range(len(th)-1), i -> ((th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647)) END)) AS h FROM th), sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM gx GROUP BY 1), p AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 2 = 0), ov AS (SELECT p.cand_id, p.ref_id, CAST(COUNT(*) AS BIGINT) AS n_overlap FROM p JOIN gx c ON c.doc_id = p.cand_id JOIN gx r ON r.doc_id = p.ref_id AND r.h = c.h GROUP BY 1, 2), f AS (SELECT p.cand_id, p.ref_id, COALESCE(sc.n, 0) AS n_cand, COALESCE(sr.n, 0) AS n_ref, COALESCE(ov.n_overlap, 0) AS n_overlap FROM p LEFT JOIN sz sc ON sc.doc_id = p.cand_id LEFT JOIN sz sr ON sr.doc_id = p.ref_id LEFT JOIN ov ON ov.cand_id = p.cand_id AND ov.ref_id = p.ref_id), g AS (SELECT *, CASE WHEN n_cand > 0 THEN (n_overlap*1000000) // n_cand ELSE 0 END AS precision_ppm, CASE WHEN n_ref > 0 THEN (n_overlap*1000000) // n_ref ELSE 0 END AS recall_ppm FROM f) SELECT cand_id, ref_id, n_cand, n_ref, n_overlap, precision_ppm, recall_ppm, CASE WHEN precision_ppm + recall_ppm > 0 THEN (2*precision_ppm*recall_ppm) // (precision_ppm + recall_ppm) ELSE 0 END AS f1_ppm FROM g ORDER BY cand_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val ids = d.select(col("doc_id"))
        val p = ids.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("cand_id"))
          .join(ids.select(col("doc_id").as("ref_id")),
            col("ref_id") === col("cand_id") + 1)
        TextAnalysis.ngramOverlapScore(d, "text", "doc_id", p, n = 2)
          .orderBy("cand_id")
      }),

    // contrastive (anchor, positive) pairs from the q54 near-dup clusters:
    // anchor = min-id cluster label, up to 4 positives per anchor
    Q("q110_contrastive_pairs", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM e UNION SELECT reach.s, e2.t FROM reach JOIN e e2 ON reach.t = e2.s), cl AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS cluster_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id), pr AS (SELECT cluster_id AS anchor_id, doc_id AS positive_id, CAST(row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS INT) AS pair_rank FROM cl WHERE doc_id <> cluster_id) SELECT anchor_id, positive_id, pair_rank FROM pr WHERE pair_rank <= 4 ORDER BY anchor_id, pair_rank"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Dedup.contrastivePairs(
          Dedup.nearDupClusters(d, cands, "doc_id"), maxPositives = 4)
          .orderBy("anchor_id", "pair_rank")
      }),

    // per-source length deciles (NTILE with a deterministic id tie-break):
    // the length-balanced sampling / curriculum binning assignment
    Q("q111_length_deciles", Some(
      """SELECT doc_id, source, n_chars, CAST(NTILE(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS INT) AS bucket FROM documents ORDER BY doc_id"""),
      (s, dir) => Stats.ntileBuckets(
        docs(tune(s), dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "n_chars", "doc_id", nBuckets = 10).orderBy("doc_id")),

    // exact GLOBAL quantiles of doc length via the two-stage bucketed scan
    // (no global sort/window); value at rank ceil(n*q/100)
    Q("q112_global_quantiles", Some(
      """WITH v AS (SELECT n_chars AS v FROM documents), o AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM v), c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v), qs(q_pct) AS (VALUES (1), (25), (50), (75), (90), (99)) SELECT CAST(qs.q_pct AS INT) AS q_pct, CAST((c.n*qs.q_pct+99)//100 AS BIGINT) AS rank, o.v AS value FROM qs CROSS JOIN c JOIN o ON o.r = (c.n*qs.q_pct+99)//100 ORDER BY q_pct"""),
      (s, dir) => Stats.globalQuantiles(docs(tune(s), dir), "n_chars",
        Seq(1, 25, 50, 75, 90, 99)).orderBy("q_pct")),

    // per-source corpus diversity: distinct-bigram ratio (template-spam
    // detector) and tokenizer fertility (tokens per kilochar), all integer
    Q("q113_diversity_report", Some(
      s"""WITH toks AS (SELECT doc_id, source, $dToks AS tk, CAST(length(text) AS BIGINT) AS nc FROM documents), b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(tk)) AS BIGINT) AS n_tokens, CAST(SUM(GREATEST(len(tk)-1, 0)) AS BIGINT) AS n_bigrams, CAST(SUM(nc) AS BIGINT) AS n_chars FROM toks GROUP BY source), th AS (SELECT doc_id, source, list_transform(tk, t -> ${dFold("t")}) AS th FROM toks), bg AS (SELECT DISTINCT source, h FROM (SELECT source, unnest(CASE WHEN len(th) < 2 THEN [] ELSE list_transform(range(len(th)-1), i -> (th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647) END) AS h FROM th)), d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS distinct_bigrams FROM bg GROUP BY source) SELECT b.source, n_docs, n_tokens, n_bigrams, CAST(COALESCE(d.distinct_bigrams, 0) AS BIGINT) AS distinct_bigrams, CAST(CASE WHEN n_bigrams = 0 THEN 0 ELSE COALESCE(d.distinct_bigrams, 0) * 1000000 // n_bigrams END AS BIGINT) AS distinct_ppm, CAST(CASE WHEN n_chars = 0 THEN 0 ELSE n_tokens * 1000 // n_chars END AS BIGINT) AS fertility_tpk FROM b LEFT JOIN d USING (source) ORDER BY source"""),
      (s, dir) => TextAnalysis.diversityReport(docs(tune(s), dir), "text",
        "doc_id", "source").orderBy("source")),

    // per-doc character entropy (qlog2 fixed point, 1024 units/bit): the
    // repeated-dump / encoded-noise quality signal
    Q("q114_char_entropy", Some(
      s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents), c AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt FROM ch WHERE ch <> '' GROUP BY doc_id, ch), a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(cnt * ${dQlog2("cnt")}) AS BIGINT) AS s FROM c GROUP BY doc_id) SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_chars_counted, CAST(COALESCE((a.n * ${dQlog2("a.n")} - a.s) // a.n, 0) AS BIGINT) AS entropy_q FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id"""),
      (s, dir) => TextAnalysis.charEntropy(docs(tune(s), dir), "text",
        "doc_id").orderBy("doc_id")),

    // domain-mix balancing: per-source token budget, best-score-first (the
    // keyed-window counterpart of the global q67 budget select)
    Q("q115_source_budget_select", Some(
      s"""WITH t AS (SELECT doc_id, source, $dToks AS tk FROM documents), b AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens, CAST(len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS BIGINT) AS sw FROM t), sc AS (SELECT doc_id, source, n_tokens, CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE sw * 100 // n_tokens END AS BIGINT) AS score FROM b), c AS (SELECT doc_id, source, score, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off FROM sc) SELECT source, doc_id, score, n_tokens, start_off FROM c WHERE start_off < 5000 ORDER BY doc_id"""),
      (s, dir) => {
        val base = docs(tune(s), dir).select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.stopwordCount(col("text")).as("sw"))
          .withColumn("score", when(col("n_tokens") === 0, 0L)
            .otherwise(expr("sw * 100 DIV n_tokens")))
          .drop("sw")
        Packing.groupBudgetSelect(base, "source", "score", "doc_id",
          "n_tokens", 5000L)
          .select(col("source"), col("doc_id"), col("score"),
            col("n_tokens"), col("start_off"))
          .orderBy("doc_id")
      }),

    // fixed-point PageRank (3 iterations, ppm) over the symmetric MinHash
    // candidate graph: dup-cluster hubs rank up, isolated docs at 150000
    Q("q116_pagerank", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY s), r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents), m1 AS (SELECT e.t AS doc_id, CAST(SUM(r0.r // deg.d) AS BIGINT) AS m FROM e JOIN deg USING (s) JOIN r0 ON r0.doc_id = e.s GROUP BY e.t), r1 AS (SELECT d0.doc_id, CAST(150000 + (850000 * COALESCE(m1.m, 0)) // 1000000 AS BIGINT) AS r FROM documents d0 LEFT JOIN m1 USING (doc_id)), m2 AS (SELECT e.t AS doc_id, CAST(SUM(r1.r // deg.d) AS BIGINT) AS m FROM e JOIN deg USING (s) JOIN r1 ON r1.doc_id = e.s GROUP BY e.t), r2 AS (SELECT d0.doc_id, CAST(150000 + (850000 * COALESCE(m2.m, 0)) // 1000000 AS BIGINT) AS r FROM documents d0 LEFT JOIN m2 USING (doc_id)), m3 AS (SELECT e.t AS doc_id, CAST(SUM(r2.r // deg.d) AS BIGINT) AS m FROM e JOIN deg USING (s) JOIN r2 ON r2.doc_id = e.s GROUP BY e.t), r3 AS (SELECT d0.doc_id, CAST(150000 + (850000 * COALESCE(m3.m, 0)) // 1000000 AS BIGINT) AS r FROM documents d0 LEFT JOIN m3 USING (doc_id)) SELECT doc_id AS node_id, r AS rank_ppm FROM r3 ORDER BY node_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val edges = cands
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(cands
            .select(col("doc_b").as("src"), col("doc_a").as("dst")))
        Graph.pageRankLite(d, "doc_id", edges, "src", "dst", iterations = 3)
          .orderBy("node_id")
      }),

    // HLL cardinality sketch per source (m=256, integer raw estimator),
    // with the exact distinct joined alongside for self-evaluation
    Q("q117_hll_distinct", Some(
      s"""WITH toks AS (SELECT source, unnest($dToks) AS tok FROM documents), hh AS (SELECT source, ${dFold("tok")} AS h FROM toks), mx1 AS (SELECT source, h, (xor(h >> 16, h) * 73244475) & 2147483647 AS h1 FROM hh), mx2 AS (SELECT source, h, (xor(h1 >> 16, h1) * 73244475) & 2147483647 AS h2 FROM mx1), mx AS (SELECT source, h, xor(h2 >> 16, h2) AS hm FROM mx2), b AS (SELECT source, hm >> 23 AS bucket, CASE WHEN (hm & 8388607) = 0 THEN 24 ELSE 24 - length(bin(hm & 8388607)) END AS rho FROM mx), mj AS (SELECT source, bucket, CAST(MAX(rho) AS BIGINT) AS m_j FROM b GROUP BY source, bucket), a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS occupied_buckets, CAST(SUM(1073741824 >> CAST(m_j AS INT)) AS BIGINT) AS s_occ FROM mj GROUP BY source), x AS (SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_distinct FROM hh GROUP BY source) SELECT a.source, occupied_buckets, CAST(s_occ + (256 - occupied_buckets) * 1073741824 AS BIGINT) AS sketch_sum, CAST(718273 * (70368744177664 // (s_occ + (256 - occupied_buckets) * 1073741824)) // 1000000 AS BIGINT) AS est_distinct, x.exact_distinct FROM a JOIN x USING (source) ORDER BY source"""),
      (s, dir) => {
        val h = docs(tune(s), dir).select(col("source"),
          explode(TextAnalysis.tokenHashes(col("text"))).as("h"))
        val exact = h.select("source", "h").distinct()
          .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
        Stats.hllDistinct(h, "source", "h")
          .join(exact, Seq("source"))
          .orderBy("source")
      }),

    // count-min sketch (4x1024) over all token occurrences; estimates for
    // the exact top-20 tokens ride alongside their true counts
    Q("q118_cms_topk", Some(
      s"""WITH toks AS (SELECT doc_id, unnest($dToks) AS tok FROM documents), hh AS (SELECT tok, ${dFold("tok")} AS h FROM toks), sk AS (SELECT i AS row_id, ((h*(1000003 + 2*i*4391) + ((7919*(i+1)) % 2147483647)) % 2147483647) % 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM hh CROSS JOIN range(4) t(i) GROUP BY 1, 2), top AS (SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS exact_n FROM toks GROUP BY tok ORDER BY exact_n DESC, token ASC LIMIT 20), pc AS (SELECT token, exact_n, i AS row_id, ((${dFold("token")}*(1000003 + 2*i*4391) + ((7919*(i+1)) % 2147483647)) % 2147483647) % 1024 AS bucket FROM top CROSS JOIN range(4) t(i)), est AS (SELECT token, exact_n, CAST(MIN(COALESCE(sk.n, 0)) AS BIGINT) AS cms_est FROM pc LEFT JOIN sk USING (row_id, bucket) GROUP BY token, exact_n) SELECT token, exact_n, cms_est FROM est ORDER BY token"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val h = d.select(explode(
          TextAnalysis.tokenHashes(col("text"))).as("h"))
        val probes = TextAnalysis.vocabulary(d, "text", "doc_id", 20)
          .select(col("token"), col("tf").as("exact_n"),
            TextAnalysis.stringHash(col("token")).as("h"))
        Stats.cmsEstimate(Stats.countMinSketch(h, "h"), probes, "h")
          .select(col("token"), col("exact_n"), col("cms_est"))
          .orderBy("token")
      }),

    // signed random projection to 16 integer dims — the JL reduction
    // before clustering; oracle-exact because signs/sums are all int64
    Q("q119_random_project", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings), pb AS (SELECT item_id, CAST(p AS BIGINT) AS proj_dim, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)] * (CASE WHEN (((2654435761 + 2027808446*p) % 4294967296) * (i+1)) % 4294967296 >= 2147483648 THEN 1 ELSE -1 END))) AS BIGINT) AS value FROM v CROSS JOIN range(16) t(p)) SELECT item_id, proj_dim, value FROM pb ORDER BY item_id, proj_dim"""),
      (s, dir) => Similarity.randomProject(
        embeddings(tune(s), dir), "vec_id", "embedding", k = 16)
        .orderBy("item_id", "proj_dim")),

    // ASCII-alnum normalization: the canonical hash + changed flag per doc
    // (the normalize-then-exact-dedup key)
    Q("q120_normalize", Some(
      s"""WITH n AS (SELECT doc_id, text, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents) SELECT doc_id, ${dFold("norm")} AS norm_hash, CAST(CASE WHEN norm = text THEN 0 ELSE 1 END AS BIGINT) AS changed, CAST(length(norm) AS BIGINT) AS n_norm_chars FROM n ORDER BY doc_id"""),
      (s, dir) => {
        val norm = TextAnalysis.normalizeText(col("text"))
        docs(tune(s), dir).select(col("doc_id"),
          TextAnalysis.stringHash(norm).as("norm_hash"),
          when(norm === col("text"), 0L).otherwise(1L).as("changed"),
          length(norm).cast(LongType).as("n_norm_chars"))
          .orderBy("doc_id")
      }),

    // Zipf rank-frequency fit over the top-1000 vocabulary: slope ~ -1 on
    // natural language, all qlog2 fixed point (slope negated so every
    // division is positive/positive)
    Q("q121_zipf_fit", Some(
      s"""WITH toks AS (SELECT doc_id, unnest($dToks) AS tok FROM documents), tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY tok ORDER BY tf DESC, tok LIMIT 1000), rk AS (SELECT tf, row_number() OVER (ORDER BY tf DESC) AS r FROM tf), xy AS (SELECT ${dQlog2("r")} AS x, ${dQlog2("tf")} AS y FROM rk), s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx FROM xy) SELECT n AS n_terms, CAST((sx*sy - n*sxy) * 1000 // (n*sxx - sx*sx) AS BIGINT) AS slope_neg_x1000, CAST((sy*1000 + ((sx*sy - n*sxy) * 1000 // (n*sxx - sx*sx))*sx) // (1000*n) AS BIGINT) AS intercept_q FROM s"""),
      (s, dir) => Stats.zipfFit(
        TextAnalysis.vocabulary(docs(tune(s), dir), "text", "doc_id", 1000),
        "tf")),

    // Cohen's kappa between the script-aware language detector and the
    // ground-truth lang column — chance-corrected accuracy, integer ppm
    Q("q122_kappa", Some(
      s"""WITH t AS (SELECT doc_id, lang AS true_lang, text, $dToks AS tk FROM documents), sc AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM t), lg AS (SELECT doc_id, CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END AS marker_lang FROM (SELECT doc_id, s_de, s_en, s_es, s_fr, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc)), pr AS (SELECT CASE WHEN (CASE WHEN strlen(t.text) = len(t.text) THEN 0 ELSE len(regexp_extract_all(t.text, '[\\x{4e00}-\\x{9fff}]')) END) * 10 >= len(t.text) THEN 'zh' ELSE lg.marker_lang END AS a, t.true_lang AS b FROM t JOIN lg ON t.doc_id = lg.doc_id), ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree FROM pr), ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS na FROM pr GROUP BY a), mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM pr GROUP BY b), pe AS (SELECT CAST(COALESCE(SUM(na*nb), 0) AS BIGINT) AS pe_num FROM ma JOIN mb ON ma.a = mb.b), k AS (SELECT n, CAST(agree*1000000//n AS BIGINT) AS po_ppm, CAST(pe_num*1000000//(n*n) AS BIGINT) AS pe_ppm FROM ag CROSS JOIN pe) SELECT n, po_ppm, pe_ppm, CAST(GREATEST(po_ppm - pe_ppm, 0)*1000000 // (1000000 - pe_ppm) AS BIGINT) AS kappa_ppm FROM k"""),
      (s, dir) => Stats.cohenKappa(
        docs(tune(s), dir).select(
          TextAnalysis.scriptLangId(col("text")).as("pred"), col("lang")),
        "pred", "lang")),

    // calibration of stopword-rate-as-English-confidence: per score decile,
    // how often is the doc actually English — map-only value binning
    Q("q123_calibration", Some(
      s"""WITH t AS (SELECT lang, $dToks AS tk FROM documents), b AS (SELECT CAST(len(tk) AS BIGINT) AS nt, CAST(len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS BIGINT) AS sw, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM t), sc AS (SELECT CAST(CASE WHEN nt = 0 THEN 0 ELSE sw*1000000//nt END AS BIGINT) AS s, y FROM b), bn AS (SELECT CAST(s*10//1000001 AS BIGINT) AS bin, s, y FROM sc) SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s)//COUNT(*) AS BIGINT) AS mean_score_ppm, CAST(SUM(y)*1000000//COUNT(*) AS BIGINT) AS pos_rate_ppm FROM bn GROUP BY bin ORDER BY bin"""),
      (s, dir) => {
        val base = docs(tune(s), dir).select(
          TextAnalysis.tokenCount(col("text")).as("nt"),
          TextAnalysis.stopwordCount(col("text")).as("sw"),
          (col("lang") === "en").as("is_en"))
          .withColumn("score_ppm", when(col("nt") === 0, 0L)
            .otherwise(expr("sw * 1000000 DIV nt")))
        Stats.calibrationBins(base, "score_ppm", "is_en", nBins = 10)
          .orderBy("bin")
      }),

    // Bloom-filter decontamination screen: bloom of the eval slice's token
    // hashes, probed by every corpus token — no false negatives by
    // construction, and the exact membership rides alongside
    Q("q124_bloom_screen", Some(
      s"""WITH ev AS (SELECT DISTINCT ${dFold("tok")} AS h FROM (SELECT unnest($dToks) AS tok FROM documents WHERE doc_id % 7 = 0)), bp AS (SELECT h, j, ((h*(1000003 + 2*j*4391) + ((7919*(j+1)) % 2147483647)) % 2147483647) % 65536 AS bit FROM ev CROSS JOIN range(4) t(j)), bl AS (SELECT bit // 32 AS block_id, CAST(bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS BIGINT) AS bits FROM bp GROUP BY 1), pr AS (SELECT DISTINCT tok AS token FROM (SELECT unnest($dToks) AS tok FROM documents WHERE doc_id % 7 <> 0)), prh AS (SELECT token, ${dFold("token")} AS h FROM pr), pc AS (SELECT token, h, ((h*(1000003 + 2*j*4391) + ((7919*(j+1)) % 2147483647)) % 2147483647) % 65536 AS bit FROM prh CROSS JOIN range(4) t(j)), hit AS (SELECT token, h, MIN(COALESCE((bl.bits >> CAST(pc.bit % 32 AS INT)) & 1, 0)) AS mn FROM pc LEFT JOIN bl ON bl.block_id = pc.bit // 32 GROUP BY token, h) SELECT token, mn = 1 AS might_contain, (h IN (SELECT h FROM ev)) AS actually_in FROM hit ORDER BY token"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val evalH = d.filter(col("doc_id") % 7 === 0)
          .select(explode(TextAnalysis.tokenHashes(col("text"))).as("h"))
          .distinct()
        val rest = d.filter(col("doc_id") % 7 =!= 0)
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
          .distinct()
          .withColumn("h", TextAnalysis.stringHash(col("token")))
        Stats.bloomContains(Stats.bloomBuild(evalH, "h"), rest, "h")
          .join(evalH.withColumn("actually_in", lit(true)), Seq("h"), "left")
          .select(col("token"), col("might_contain"),
            coalesce(col("actually_in"), lit(false)).as("actually_in"))
          .orderBy("token")
      }),

    // conversion funnel view -> click -> purchase per user: each step is
    // the earliest occurrence strictly after the previous step's time
    Q("q125_funnel", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS ts, event_type AS et FROM events), r1 AS (SELECT k, MIN(ts) AS t FROM e WHERE et = 'view' GROUP BY k), r2 AS (SELECT e.k, MIN(e.ts) AS t FROM e JOIN r1 ON e.k = r1.k WHERE e.et = 'click' AND e.ts > r1.t GROUP BY e.k), r3 AS (SELECT e.k, MIN(e.ts) AS t FROM e JOIN r2 ON e.k = r2.k WHERE e.et = 'purchase' AND e.ts > r2.t GROUP BY e.k) SELECT CAST(1 AS INT) AS step, 'view' AS step_name, CAST((SELECT COUNT(*) FROM r1) AS BIGINT) AS n_keys UNION ALL SELECT CAST(2 AS INT), 'click', CAST((SELECT COUNT(*) FROM r2) AS BIGINT) UNION ALL SELECT CAST(3 AS INT), 'purchase', CAST((SELECT COUNT(*) FROM r3) AS BIGINT) ORDER BY step"""),
      (s, dir) => graft.streaming.EventTimeOps.funnel(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_type")),
        "user_id", "ts_ms", "event_type", Seq("view", "click", "purchase"))
        .orderBy("step")),

    // trailing-hour rolling count/volume per user: key-keyed RANGE window,
    // tie-safe in both engines by frame semantics
    Q("q126_rolling", Some(
      """WITH e AS (SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, CAST(floor(value*100) AS BIGINT) AS cents FROM events) SELECT event_id, user_id, ts_ms, cents, CAST(COUNT(*) OVER w AS BIGINT) AS n_win, CAST(SUM(cents) OVER w AS BIGINT) AS sum_win FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) ORDER BY event_id"""),
      (s, dir) => graft.streaming.EventTimeOps.rollingAgg(
        KafkaLike.events(tune(s), dir)
          .select(col("event_id"), col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "user_id", "ts_ms", "cents", windowMs = 3600000L)
        .orderBy("event_id")),

    // per-node triangle counts over the MinHash candidate graph: tight
    // dup cliques vs incidental band collisions
    Q("q127_triangles", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c FROM cand e1 JOIN cand e2 ON e1.doc_b = e2.doc_a JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b), pn AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS c FROM (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY n) SELECT d.doc_id AS node_id, CAST(COALESCE(pn.c, 0) AS BIGINT) AS n_triangles FROM documents d LEFT JOIN pn ON d.doc_id = pn.n ORDER BY node_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Graph.triangleCounts(d, "doc_id", cands, "doc_a", "doc_b")
          .orderBy("node_id")
      }),

    // class-discriminative vocabulary: frequency-weighted PMI of (token,
    // source) over document occurrence, top-5 per source
    Q("q128_mi_terms", Some(
      s"""WITH dt AS (SELECT DISTINCT doc_id, cls, tok AS token FROM (SELECT doc_id, source AS cls, unnest($dToks) AS tok FROM documents)), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), tc AS (SELECT cls, token, CAST(COUNT(*) AS BIGINT) AS df_tc FROM dt GROUP BY cls, token), tt AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_t FROM dt GROUP BY token), cc AS (SELECT source AS cls, CAST(COUNT(*) AS BIGINT) AS df_c FROM documents GROUP BY source), pr AS (SELECT tc.cls, tc.token, tc.df_tc, CAST(nn.n*tc.df_tc AS BIGINT) AS p1, CAST(tt.df_t*cc.df_c AS BIGINT) AS p2 FROM tc JOIN tt USING (token) JOIN cc USING (cls) CROSS JOIN nn), sc AS (SELECT cls, token, df_tc, CAST(df_tc * (${dQlog2("p1")} - ${dQlog2("p2")}) AS BIGINT) AS score_q FROM pr), rk AS (SELECT cls, token, df_tc, score_q, CAST(row_number() OVER (PARTITION BY cls ORDER BY score_q DESC, token ASC) AS INT) AS rank FROM sc) SELECT cls, token, df_tc, score_q, rank FROM rk WHERE rank <= 5 ORDER BY cls, rank"""),
      (s, dir) => TextAnalysis.miTerms(docs(tune(s), dir), "text", "doc_id",
        "source", k = 5).orderBy("cls", "rank")),

    // cohort retention triangle over the event log: first-activity-week
    // cohorts x distinct active week offsets
    Q("q129_cohort", Some(
      """WITH w AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) // 604800000 AS wk FROM events), c AS (SELECT k, CAST(MIN(wk) AS BIGINT) AS cohort_week FROM w GROUP BY k), dw AS (SELECT DISTINCT k, wk FROM w) SELECT c.cohort_week, CAST(dw.wk - c.cohort_week AS BIGINT) AS week_offset, CAST(COUNT(*) AS BIGINT) AS n_users FROM dw JOIN c ON dw.k = c.k GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => graft.streaming.EventTimeOps.cohortRetention(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms")),
        "user_id", "ts_ms")
        .orderBy("cohort_week", "week_offset")),

    // semi-supervised label propagation over the candidate graph: every
    // fifth doc seeds its source label; two synchronous hops
    Q("q130_label_propagate", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), l0 AS (SELECT doc_id AS node_id, source AS label FROM documents WHERE doc_id % 5 = 0), v1 AS (SELECT e.t AS node_id, l0.label, CAST(COUNT(*) AS BIGINT) AS cnt FROM e JOIN l0 ON e.s = l0.node_id GROUP BY e.t, l0.label), p1 AS (SELECT node_id, label FROM (SELECT node_id, label, row_number() OVER (PARTITION BY node_id ORDER BY cnt DESC, label ASC) AS rn FROM v1) WHERE rn = 1), l1 AS (SELECT * FROM l0 UNION ALL SELECT p1.node_id, p1.label FROM p1 WHERE p1.node_id NOT IN (SELECT node_id FROM l0)), v2 AS (SELECT e.t AS node_id, l1.label, CAST(COUNT(*) AS BIGINT) AS cnt FROM e JOIN l1 ON e.s = l1.node_id GROUP BY e.t, l1.label), p2 AS (SELECT node_id, label FROM (SELECT node_id, label, row_number() OVER (PARTITION BY node_id ORDER BY cnt DESC, label ASC) AS rn FROM v2) WHERE rn = 1), l2 AS (SELECT * FROM l0 UNION ALL SELECT p2.node_id, p2.label FROM p2 WHERE p2.node_id NOT IN (SELECT node_id FROM l0)) SELECT d.doc_id AS node_id, l2.label FROM documents d LEFT JOIN l2 ON d.doc_id = l2.node_id ORDER BY node_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val edges = cands
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(cands
            .select(col("doc_b").as("src"), col("doc_a").as("dst")))
        Graph.labelPropagate(d, "doc_id", edges, "src", "dst",
          d.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id"), col("source").as("label")),
          "doc_id", "label", iterations = 2)
          .orderBy("node_id")
      }),

    // first-order event-type transition matrix per user, ppm-normalized
    Q("q131_transitions", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, event_type AS et FROM events), p AS (SELECT lag(et, 1) OVER (PARTITION BY k ORDER BY ts_ms, event_id) AS from_type, et AS to_type FROM e), c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2), t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1) SELECT c.from_type, c.to_type, c.n, CAST(c.n*1000000 // t.tot AS BIGINT) AS p_ppm FROM c JOIN t USING (from_type) ORDER BY from_type, to_type"""),
      (s, dir) => graft.streaming.EventTimeOps.transitionMatrix(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_id"), col("event_type")),
        "user_id", "ts_ms", "event_id", "event_type")
        .orderBy("from_type", "to_type")),

    // per-source near-dup rate: the curation dashboard row per source
    Q("q132_dedup_rate", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM e UNION SELECT reach.s, e2.t FROM reach JOIN e e2 ON reach.t = e2.s), cl AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS cluster_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id), sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csz FROM cl GROUP BY cluster_id), j AS (SELECT cl.doc_id, CASE WHEN sz.csz > 1 THEN 1 ELSE 0 END AS is_dup FROM cl JOIN sz USING (cluster_id)), r AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(j.is_dup) AS BIGINT) AS dup_docs FROM j JOIN documents d ON j.doc_id = d.doc_id GROUP BY d.source) SELECT source, n_docs, dup_docs, CAST(dup_docs*1000000 // n_docs AS BIGINT) AS dup_ppm FROM r ORDER BY source"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Dedup.dedupRateReport(Dedup.nearDupClusters(d, cands, "doc_id"),
          d, "doc_id", "source")
          .orderBy("source")
      }),

    // recency-weighted activity per user: shift-exact exponential decay
    // (halving per week), anchored at the corpus max timestamp
    Q("q133_decayed_counts", Some(
      """WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), mx AS (SELECT CAST(MAX(ts_ms) AS BIGINT) AS now FROM e) SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(1048576 >> CAST(LEAST((mx.now - e.ts_ms) // 604800000, 20) AS INT)) AS BIGINT) AS decayed_x2p20 FROM e CROSS JOIN mx GROUP BY user_id ORDER BY key"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"))
        val now = ev.agg(max("ts_ms")).head().getLong(0)
        graft.streaming.EventTimeOps.decayedCounts(ev, "user_id", "ts_ms",
          nowMs = now, halfLifeMs = 604800000L)
          .orderBy("key")
      }),

    // asymmetric containment on candidate pairs: the quote/subset detector
    // symmetric Jaccard misses
    Q("q134_containment", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), rare AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM shex GROUP BY h) WHERE df <= 100), shc AS (SELECT shex.doc_id, shex.h FROM shex JOIN rare USING (h)), sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1), inter AS (SELECT cand.doc_a, cand.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter FROM cand JOIN shc l ON l.doc_id = cand.doc_a JOIN shc r ON r.doc_id = cand.doc_b AND r.h = l.h GROUP BY 1, 2) SELECT doc_a, doc_b, n_inter, CAST(sa.n AS BIGINT) AS size_a, CAST(sb.n AS BIGINT) AS size_b, CAST(n_inter*1000000 // sa.n AS BIGINT) AS contain_a_ppm, CAST(n_inter*1000000 // sb.n AS BIGINT) AS contain_b_ppm FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id WHERE GREATEST(n_inter*1000000 // sa.n, n_inter*1000000 // sb.n) >= 500000 ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.containmentPairs(docs(tune(s), dir), "text",
        "doc_id", shingleN = 3, minContainPct = 50, maxShingleDF = 100)
        .orderBy("doc_a", "doc_b")),

    // chi-square independence of event mix vs A/B user split, integer
    Q("q135_chi2", Some(
      """WITH b AS (SELECT event_type AS r, user_id % 2 AS c FROM events), cells AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY r, c), rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rn FROM cells GROUP BY r), ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS cn FROM cells GROUP BY c), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells), grid AS (SELECT rt.r, ct.c, rt.rn, ct.cn, COALESCE(cells.o, 0) AS o FROM rt CROSS JOIN ct LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c), s AS (SELECT CAST(SUM(((o*tot.n - rn*cn)*(o*tot.n - rn*cn)) // (rn*cn)) AS BIGINT) AS s, CAST(MAX(tot.n) AS BIGINT) AS n FROM grid CROSS JOIN tot) SELECT s.n, CAST(((SELECT COUNT(*) FROM rt) - 1) * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof, CAST(s.s*1000 // s.n AS BIGINT) AS chi2_x1000 FROM s"""),
      (s, dir) => Stats.chiSquare(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type").as("et"),
            pmod(col("user_id"), lit(2L)).as("grp")),
        "et", "grp")),

    // sliding event-time windows (1h wide, 30min slide): every event lands
    // in exactly width/slide = 2 windows — bounded explode, one shuffle
    Q("q109_sliding_window", Some(
      """WITH e AS (SELECT (CAST(epoch_ms(ts) AS BIGINT) // 1800000) * 1800000 AS base, event_type AS topic FROM events), w AS (SELECT base - CAST(j AS BIGINT) * 1800000 AS window_start_ms, topic FROM e CROSS JOIN range(2) t(j)) SELECT window_start_ms, topic, CAST(COUNT(*) AS BIGINT) AS n_events FROM w GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => graft.streaming.EventTimeOps.slidingCounts(
        KafkaLike.frame(tune(s), dir), widthMs = 3600000L, slideMs = 1800000L)
        .orderBy("window_start_ms", "topic")),

    // cross-corpus near-dup screen: odd doc_ids are the incoming batch,
    // even doc_ids the curated reference; an incoming doc sharing any
    // MinHash band with the reference is flagged (kept = no collision)
    Q("q81_cross_corpus_neardup", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), nb AS (SELECT * FROM bands WHERE doc_id % 2 = 1), rb AS (SELECT doc_id AS ref_id, band_id, band_hash FROM bands WHERE doc_id % 2 = 0), hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ref_matches FROM (SELECT DISTINCT nb.doc_id, rb.ref_id FROM nb JOIN rb USING (band_id, band_hash)) GROUP BY 1) SELECT d.doc_id AS doc_id, COALESCE(h.n_ref_matches, 0) AS n_ref_matches, COALESCE(h.n_ref_matches, 0) = 0 AS kept FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d LEFT JOIN hits h USING (doc_id) ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        Dedup.crossCorpusNearDup(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          "text", "doc_id").orderBy("doc_id")
      }),

    // the ingest-shaped form of q81: the reference corpus is banded ONCE
    // (refCorpusBands — at scale written to parquet after curation) and the
    // screen joins the precomputed (ref_id, band_id, band_hash) triples, so
    // per-batch cost is banding the batch + one bucket join. Same oracle as
    // q81 — reuse must equal recompute bit-for-bit.
    Q("q83_cross_corpus_prebanded", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), nb AS (SELECT * FROM bands WHERE doc_id % 2 = 1), rb AS (SELECT doc_id AS ref_id, band_id, band_hash FROM bands WHERE doc_id % 2 = 0), hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ref_matches FROM (SELECT DISTINCT nb.doc_id, rb.ref_id FROM nb JOIN rb USING (band_id, band_hash)) GROUP BY 1) SELECT d.doc_id AS doc_id, COALESCE(h.n_ref_matches, 0) AS n_ref_matches, COALESCE(h.n_ref_matches, 0) = 0 AS kept FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d LEFT JOIN hits h USING (doc_id) ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val refBands = Dedup.refCorpusBands(
          d.filter(col("doc_id") % 2 === 0), "text", "doc_id")
        Dedup.crossCorpusNearDupPrebanded(
          d.filter(col("doc_id") % 2 === 1), refBands,
          "text", "doc_id").orderBy("doc_id")
      }),

    // capped band candidates (the dup-dense hardening of q26): buckets over
    // the cap emit only the (bucket-min, other) star — n−1 pairs instead of
    // n²/2 — which preserves the applyNearDedup survivor set and the
    // nearDupClusters components (PipelineOpsSpec pins the survivor set on
    // the sf0.001 corpus with this cap). Cap forced to 2 here so
    // real sf buckets exercise BOTH the all-pairs and the star paths; the
    // oracle applies the identical size gate.
    Q("q82_capped_candidates", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), stats AS (SELECT band_id, band_hash, COUNT(*) AS bsz, MIN(doc_id) AS bmin FROM bands GROUP BY 1, 2), wb AS (SELECT bands.doc_id, bands.band_id, bands.band_hash, stats.bsz, stats.bmin FROM bands JOIN stats USING (band_id, band_hash)), small AS (SELECT doc_id, band_id, band_hash FROM wb WHERE bsz <= 2), sp AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b FROM small l JOIN small r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), st AS (SELECT bmin AS doc_a, doc_id AS doc_b FROM wb WHERE bsz > 2 AND doc_id <> bmin) SELECT DISTINCT doc_a, doc_b FROM (SELECT * FROM sp UNION ALL SELECT * FROM st) ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.minhashCandidates(Dedup.minhashBands(
        Dedup.minhashSignatures(docs(tune(s), dir), "text", "doc_id")),
        maxBucketSize = 2)
        .orderBy("doc_a", "doc_b")),

    // winnowed fingerprints (MOSS scheme, SIGMOD 2003): min shingle hash per
    // sliding 4-window over POSITIONAL 3-shingle hashes, distinct per doc —
    // local overlap detection at ~2/(w+1) density (q31's whole-doc rolling
    // hash changes entirely on any edit; this localizes shared runs). Docs
    // with fewer than 4 shingles emit their global min; shingle-less docs
    // emit nothing.
    Q("q84_winnowed_fingerprints", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), th AS (SELECT doc_id, list_transform(tk, t -> ${dFold("t")}) AS th FROM toks), shl AS (SELECT doc_id, CASE WHEN len(th) < 3 THEN [] ELSE list_transform(range(len(th)-2), i -> ((((th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647)*131 + th[CAST(i+3 AS INT)]) % 2147483647)) END AS sh FROM th), fps AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(sh) = 0 THEN [] WHEN len(sh) < 4 THEN [list_min(sh)] ELSE list_transform(range(len(sh)-3), i -> list_min(sh[CAST(i+1 AS BIGINT):CAST(i+4 AS BIGINT)])) END)) AS fp FROM shl) SELECT doc_id, fp FROM fps ORDER BY doc_id, fp"""),
      (s, dir) => TextAnalysis.winnowedFingerprints(docs(tune(s), dir),
        "text", "doc_id", shingleN = 3, window = 4)
        .orderBy("doc_id", "fp")),

    // the MOSS matching step over q84: doc pairs sharing >= 2 winnowed
    // fingerprints (partial-copy detection — a shared run registers wherever
    // it sits in either doc, where doc-level Jaccard barely moves). The
    // fingerprint self-join carries the q32-style DF cap against
    // corpus-wide boilerplate.
    Q("q85_winnowed_overlap", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), th AS (SELECT doc_id, list_transform(tk, t -> ${dFold("t")}) AS th FROM toks), shl AS (SELECT doc_id, CASE WHEN len(th) < 3 THEN [] ELSE list_transform(range(len(th)-2), i -> ((((th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647)*131 + th[CAST(i+3 AS INT)]) % 2147483647)) END AS sh FROM th), fps AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(sh) = 0 THEN [] WHEN len(sh) < 4 THEN [list_min(sh)] ELSE list_transform(range(len(sh)-3), i -> list_min(sh[CAST(i+1 AS BIGINT):CAST(i+4 AS BIGINT)])) END)) AS fp FROM shl), rare AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM fps GROUP BY 1) WHERE df <= 100), kf AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp)) SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared FROM kf l JOIN kf r ON l.fp = r.fp AND l.doc_id < r.doc_id GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b"""),
      (s, dir) => TextAnalysis.winnowedOverlapPairs(docs(tune(s), dir),
        "text", "doc_id", shingleN = 3, window = 4,
        minShared = 2, maxFpDF = 100)
        .orderBy("doc_a", "doc_b")),

    // tf-idf as a pure-integer lexicographic rank: top-3 per doc by
    // (tf DESC, df ASC, token) — rare-but-frequent-here topical keywords
    Q("q80_distinctive_terms", Some(
      s"""WITH t AS (SELECT doc_id, unnest($dToks) AS token FROM documents), tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), r AS (SELECT tf.doc_id, tf.token, tf.tf, df.df, CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS INT) AS rank FROM tf JOIN df USING (token)) SELECT doc_id, rank, token, tf, df FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""),
      (s, dir) => TextAnalysis.distinctiveTerms(docs(tune(s), dir), "text",
        "doc_id", 3).orderBy("doc_id", "rank")),

    // deterministic per-language quota sample (balanced-class downsampling):
    // up to 100 docs per predicted language, picked by an integer id hash —
    // same sample on any cluster/partitioning, no RNG state
    Q("q56_stratified_sample", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), sc AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM t), lg AS (SELECT doc_id, CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END AS lang FROM (SELECT doc_id, s_de, s_en, s_es, s_fr, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc)), r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS INT) AS sample_rank FROM lg) SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 100 ORDER BY lang, sample_rank"""),
      (s, dir) => Sampling.quotaByClass(
        docs(tune(s), dir).select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang")),
        "lang", "doc_id", quota = 100)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
        .orderBy("lang", "sample_rank")),

    // F2 at CELL granularity: two bindings write DISJOINT columns of the
    // same table with interleaved timestamps — per-cell writetimes
    // (Cassandra cell reconciliation) land both writes, where row-level LWW
    // would refuse the older write to the untouched column. State is built
    // by chaining mergeIntoCellWise from an empty table; the oracle mirrors
    // cell-presence (a cell exists iff its value is non-null) and takes the
    // row writetime as the greatest live-cell writetime.
    Q("q60_cellwise_merge", Some(
      """WITH f AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT)*1000 AS wt, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, event_type FROM events), s0 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY wt DESC, event_id DESC) AS rn FROM f WHERE event_id % 2 = 0), s AS (SELECT user_id, k AS s_value, wt AS s_wt FROM s0 WHERE rn = 1), b0 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY wt DESC, event_id DESC) AS rn FROM f WHERE event_id % 2 = 1), b AS (SELECT user_id, event_type AS b_text, wt AS b_wt FROM b0 WHERE rn = 1) SELECT COALESCE(b.user_id, s.user_id) AS my_pk, s.s_value AS my_value, CASE WHEN s.s_value IS NOT NULL THEN s.s_wt END AS wt_value, b.b_text AS my_text, CASE WHEN b.b_text IS NOT NULL THEN b.b_wt END AS wt_text, GREATEST(COALESCE(CASE WHEN s.s_value IS NOT NULL THEN s.s_wt END, -9223372036854775807 - 1), COALESCE(CASE WHEN b.b_text IS NOT NULL THEN b.b_wt END, -9223372036854775807 - 1)) AS __writetime FROM s FULL OUTER JOIN b ON s.user_id = b.user_id WHERE s.s_value IS NOT NULL OR b.b_text IS NOT NULL ORDER BY my_pk"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val bVal = binding(
          "topic.t.ks1.pk_value3.mapping" -> "my_pk=key, my_value=value.k",
          "topic.t.ks1.pk_value3.deletesEnabled" -> "false")
        val bText = binding(
          "topic.t.ks1.pk_value3.mapping" -> "my_pk=key, my_text=header.h_etype",
          "topic.t.ks1.pk_value3.deletesEnabled" -> "false")
        val wtc = col(RecordMapper.WritetimeCol)
        val even = Upserts.lwwCompact(
          RecordMapper.compile(bVal, pkValue3,
            f.filter(col("offset") % 2 === 0), keepCols = Seq("offset")),
          Seq("my_pk"), Seq(wtc, col("offset")))
          .drop("offset", RecordMapper.TtlCol)
        val odd = Upserts.lwwCompact(
          RecordMapper.compile(bText, pkValue3,
            f.filter(col("offset") % 2 === 1), keepCols = Seq("offset")),
          Seq("my_pk"), Seq(wtc, col("offset")))
          .drop("offset", RecordMapper.TtlCol)
        val empty = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("my_pk", LongType))))
        val st1 = Upserts.mergeIntoCellWise(empty, even, pkValue3)
        Upserts.mergeIntoCellWise(st1, odd, pkValue3)
          .select(col("my_pk"), col("my_value"),
            col("__wt_my_value").as("wt_value"), col("my_text"),
            col("__wt_my_text").as("wt_text"), col("__writetime"))
          .orderBy("my_pk")
      }),

    // PII scrub — the first pass of every pre-training pipeline: class
    // counts (before redaction) + ordered scrub chain of codegen'd
    // regexp_replace. PII is synthesized deterministically per doc (the
    // corpus itself is synthetic), identically in both engines; the regexes
    // stay in the Java∩RE2 dialect so Spark and DuckDB match bit-for-bit.
    Q("q61_pii_redact", Some(
      """WITH s AS (SELECT doc_id, text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com tel 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1 ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text FROM documents) SELECT doc_id, CAST(len(regexp_extract_all(full_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, CAST(len(regexp_extract_all(full_text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone, CAST(len(regexp_extract_all(full_text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip, CAST(len(regexp_extract_all(full_text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn, regexp_replace(regexp_replace(regexp_replace(regexp_replace(full_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'), '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted FROM s ORDER BY doc_id"""),
      (s, dir) => {
        val synth = concat(col("text"),
          lit(" Contact user"), col("doc_id").cast(StringType),
          lit("@example.com tel 555-123-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
          lit(" ip 10."), (col("doc_id") % 200).cast(StringType),
          lit(".0.1 ssn 987-65-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0"))
        docs(tune(s), dir)
          .select(col("doc_id"), synth.as("full_text"))
          .select(col("doc_id"),
            TextAnalysis.piiCount(col("full_text"), "email").as("n_email"),
            TextAnalysis.piiCount(col("full_text"), "phone").as("n_phone"),
            TextAnalysis.piiCount(col("full_text"), "ip").as("n_ip"),
            TextAnalysis.piiCount(col("full_text"), "ssn").as("n_ssn"),
            TextAnalysis.piiRedact(col("full_text")).as("redacted"))
          .orderBy("doc_id")
      }),

    // repetition / boilerplate quality signals (Gopher-style): duplicate-
    // token fraction + most-frequent-bigram fraction, integer percentages
    Q("q62_repetition", Some(
      s"""WITH t AS (SELECT doc_id, list_transform($dToks, tok -> ${dFold("tok")}) AS th FROM documents), base AS (SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens, CAST(len(list_distinct(th)) AS BIGINT) AS n_distinct FROM t), bg AS (SELECT doc_id, unnest(CASE WHEN len(th) < 2 THEN [] ELSE list_transform(range(len(th)-1), i -> (th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647) END) AS h FROM t), c AS (SELECT doc_id, h, COUNT(*) AS c FROM bg GROUP BY 1, 2), top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bigrams FROM c GROUP BY 1), j AS (SELECT base.doc_id AS doc_id, n_tokens, CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE (n_tokens - n_distinct) * 100 // n_tokens END AS BIGINT) AS dup_token_pct, CAST(CASE WHEN n_bigrams IS NULL OR n_bigrams = 0 THEN 0 ELSE top_c * 100 // n_bigrams END AS BIGINT) AS top_bigram_pct FROM base LEFT JOIN top ON base.doc_id = top.doc_id) SELECT doc_id, n_tokens, dup_token_pct, top_bigram_pct, (dup_token_pct >= 40 OR top_bigram_pct >= 20) AS repetitive FROM j ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.repetitionStats(docs(tune(s), dir), "text", "doc_id")
        .orderBy("doc_id")),

    // benchmark decontamination: corpus docs sharing >= 1 trigram shingle
    // with the eval slice (doc_id % 7 == 0) — broadcast eval shingle set,
    // map-only corpus join
    Q("q63_decontaminate", Some(
      s"""$dShingles, ev AS (SELECT DISTINCT h FROM shex WHERE doc_id % 7 = 0), cs AS (SELECT doc_id, h FROM shex WHERE doc_id % 7 <> 0) SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared FROM cs JOIN ev USING (h) GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        Dedup.contamination(
          d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0),
          "text", "doc_id", shingleN = 3, minShared = 1)
          .orderBy("doc_id")
      }),

    // sequence packing (GPT-style concat-and-chunk plan): global token
    // offsets via a two-stage distributed prefix scan (per-bucket sums
    // broadcast as offsets + keyed within-bucket windows — never a global
    // single-partition window); the oracle's plain running-window cumsum
    // checks the scan exactly
    Q("q64_pack_plan", Some(
      s"""WITH t AS (SELECT doc_id, CAST(len($dToks) AS BIGINT) AS n_tokens FROM documents), c AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off FROM t) SELECT doc_id, n_tokens, start_off, CAST(start_off // 512 AS BIGINT) AS pack_first, CAST(CASE WHEN n_tokens > 0 THEN (start_off + n_tokens - 1) // 512 END AS BIGINT) AS pack_last, CAST(CASE WHEN n_tokens > 0 THEN (start_off + n_tokens - 1) // 512 - start_off // 512 + 1 ELSE 0 END AS BIGINT) AS n_packs FROM c ORDER BY doc_id"""),
      (s, dir) => Packing.packPlan(docs(tune(s), dir), "text", "doc_id",
        seqLen = 512, nBuckets = 64).orderBy("doc_id")),

    // sequence-slot occupancy from the packing plan: docs per output
    // sequence + filled token slots (bounded explode + one partial-agg
    // groupBy)
    Q("q65_pack_occupancy", Some(
      s"""WITH t AS (SELECT doc_id, CAST(len($dToks) AS BIGINT) AS n_tokens FROM documents), c AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off FROM t), p AS (SELECT doc_id, n_tokens, start_off, start_off // 512 AS pf, (start_off + n_tokens - 1) // 512 AS pl FROM c WHERE n_tokens > 0), e AS (SELECT doc_id, start_off, n_tokens, CAST(unnest(range(pf, pl + 1)) AS BIGINT) AS pack_id FROM p) SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(LEAST(start_off + n_tokens, (pack_id + 1) * 512) - GREATEST(start_off, pack_id * 512)) AS BIGINT) AS n_filled FROM e GROUP BY pack_id ORDER BY pack_id"""),
      (s, dir) => Packing.packOccupancy(
        Packing.packPlan(docs(tune(s), dir), "text", "doc_id",
          seqLen = 512, nBuckets = 64), seqLen = 512).orderBy("pack_id")),

    // domain-mixture resampling: epoch mixing by deterministic replication —
    // downsample predicted-English to 0.3×, upsample German 2.5×, keep the
    // rest; map-only integer hash + bounded explode
    Q("q66_mixture_sample", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), sc AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM t), lg AS (SELECT doc_id, CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END AS lang FROM (SELECT doc_id, s_de, s_en, s_es, s_fr, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc)), w AS (SELECT doc_id, lang, CASE WHEN lang = 'en' THEN 30 WHEN lang = 'de' THEN 250 ELSE 100 END AS w FROM lg), c AS (SELECT doc_id, lang, w // 100 + CASE WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647 % 100 < w % 100 THEN 1 ELSE 0 END AS n FROM w) SELECT doc_id, lang, CAST(unnest(range(n)) AS BIGINT) AS copy_idx FROM c WHERE n > 0 ORDER BY doc_id, copy_idx"""),
      (s, dir) => Sampling.mixtureSample(
        docs(tune(s), dir).select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang")),
        "lang", "doc_id", Map("en" -> 30, "de" -> 250))
        .select(col("doc_id"), col("lang"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx")),

    // token-budget selection: keep the best-scoring docs (stopword-ratio
    // pct as the integer quality score) until a 15k-token global budget —
    // the same two-stage scan as q64 with the SCORE as the bucket, so the
    // per-score offsets collected to the driver are bounded by the score
    // domain (101 values), not the corpus
    Q("q67_budget_select", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), b AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, CAST(len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS BIGINT) AS sw FROM t), sc AS (SELECT doc_id, n_tokens, CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE sw * 100 // n_tokens END AS BIGINT) AS score FROM b), c AS (SELECT doc_id, score, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off FROM sc) SELECT doc_id, score, n_tokens, start_off FROM c WHERE start_off < 15000 ORDER BY score DESC, doc_id"""),
      (s, dir) => {
        val base = docs(tune(s), dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.stopwordCount(col("text")).as("sw"))
          .withColumn("score", when(col("n_tokens") === 0, 0L)
            .otherwise(expr("sw * 100 DIV n_tokens")))
          .drop("sw")
        Packing.budgetSelect(base, "score", "doc_id", "n_tokens", 15000L)
          .select(col("doc_id"), col("score"), col("n_tokens"),
            col("start_off"))
          .orderBy(col("score").desc, col("doc_id"))
      }),

    // cross-source canonical pick: one kept doc per near-dup cluster,
    // preferring the most-trusted source (numeric suffix as the priority),
    // then lowest id — a single partial-agg min_by over the cluster table
    Q("q68_canonical_pick", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM e UNION SELECT reach.s, e2.t FROM reach JOIN e e2 ON reach.t = e2.s), cl AS (SELECT d.doc_id AS doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS cluster_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id), pr AS (SELECT cl.doc_id, cl.cluster_id, CAST(substring(d2.source, 4) AS BIGINT) AS prio FROM cl JOIN documents d2 ON cl.doc_id = d2.doc_id) SELECT cluster_id, doc_id AS canonical_id, cluster_size FROM (SELECT cluster_id, doc_id, prio, row_number() OVER (PARTITION BY cluster_id ORDER BY prio, doc_id) AS rn, CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size FROM pr) WHERE rn = 1 ORDER BY cluster_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val clusters = Dedup.nearDupClusters(d, cands, "doc_id")
        val ranked = clusters.join(
          d.select(col("doc_id"),
            expr("CAST(substring(source, 4) AS BIGINT)").as("prio")),
          "doc_id")
        Dedup.canonicalPick(ranked, "cluster_id", "doc_id", col("prio"))
          .orderBy("cluster_id")
      }),

    // the deduplicated corpus itself: every cluster collapses to its
    // canonical doc (source-priority, then lowest id); singletons are their
    // own canonicals — the semi-join is the apply step of q68's pick
    Q("q73_canonical_corpus", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM e UNION SELECT reach.s, e2.t FROM reach JOIN e e2 ON reach.t = e2.s), cl AS (SELECT d.doc_id AS doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS cluster_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id), pr AS (SELECT cl.doc_id, cl.cluster_id, CAST(substring(d2.source, 4) AS BIGINT) AS prio FROM cl JOIN documents d2 ON cl.doc_id = d2.doc_id), keep AS (SELECT cluster_id, doc_id FROM (SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id ORDER BY prio, doc_id) AS rn FROM pr) WHERE rn = 1) SELECT d.doc_id, d.source, d.lang FROM documents d JOIN keep ON d.doc_id = keep.doc_id ORDER BY d.doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val clusters = Dedup.nearDupClusters(d, cands, "doc_id")
        val ranked = clusters.join(
          d.select(col("doc_id"),
            expr("CAST(substring(source, 4) AS BIGINT)").as("prio")),
          "doc_id")
        val keep = Dedup.canonicalPick(ranked, "cluster_id", "doc_id",
          col("prio")).select(col("canonical_id").as("doc_id"))
        d.join(keep, "doc_id")
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy("doc_id")
      }),

    // script-aware language ID: CJK-script detection first (marker voting
    // is blind to unsegmented text), then the marker argmax; scored against
    // the table's ground-truth lang column
    Q("q69_langid_script", Some(
      s"""WITH t AS (SELECT doc_id, lang AS true_lang, text, $dToks AS tk FROM documents), sc AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM t), lg AS (SELECT doc_id, CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END AS marker_lang FROM (SELECT doc_id, s_de, s_en, s_es, s_fr, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc)) SELECT t.doc_id AS doc_id, CASE WHEN (CASE WHEN strlen(t.text) = len(t.text) THEN 0 ELSE len(regexp_extract_all(t.text, '[\\x{4e00}-\\x{9fff}]')) END) * 10 >= len(t.text) THEN 'zh' ELSE lg.marker_lang END AS detected, t.true_lang AS true_lang FROM t JOIN lg ON t.doc_id = lg.doc_id ORDER BY doc_id"""),
      (s, dir) => docs(tune(s), dir).select(col("doc_id"),
        TextAnalysis.scriptLangId(col("text")).as("detected"),
        col("lang").as("true_lang"))
        .orderBy("doc_id")),

    // deterministic epoch shuffle: reproducible pseudo-random training
    // order (epoch-salted hash) with an explicit global rank from the
    // fixed-width bucketed scan — a different epoch permutes differently,
    // the same epoch replays identically on any cluster
    Q("q70_epoch_shuffle", Some(
      """SELECT doc_id, CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_rank FROM (SELECT doc_id, ((doc_id % 2147483647) * 2654435761 + 3 * 2654435789) % 2147483647 AS h FROM documents) ORDER BY shuffle_rank"""),
      (s, dir) => Sampling.epochShuffle(
        docs(tune(s), dir).select(col("doc_id")), "doc_id", epoch = 3)
        .select(col("doc_id"), col("shuffle_rank"))
        .orderBy("shuffle_rank")),

    // C7 oracled: WKT / DateRange carrier validation — deterministic
    // synthesized literals (every 5th point / 7th range malformed), same
    // Java∩RE2 validation regex embedded verbatim in the DuckDB oracle;
    // invalid literals produce the capturable error string, not a pass
    Q("q71_wkt_validate", Some({
      val ptRe = Codecs.wktPattern("POINT")
      val drRe = Codecs.wktPattern("DATERANGE")
      s"""WITH s AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'POINT (' || CAST(doc_id % 100 AS VARCHAR) || ')' ELSE 'POINT (' || CAST(doc_id % 100 AS VARCHAR) || '.5 -' || CAST(doc_id % 50 AS VARCHAR) || '.25)' END AS pt, CASE WHEN doc_id % 7 = 0 THEN '[2010 TO]' ELSE '[' || CAST(2000 + doc_id % 20 AS VARCHAR) || ' TO *]' END AS dr FROM documents) SELECT doc_id, CASE WHEN regexp_matches(upper(pt), '$ptRe') THEN pt END AS pt_valid, CASE WHEN NOT regexp_matches(upper(pt), '$ptRe') THEN 'Could not parse ''' || pt || ''' as POINT' END AS pt_err, CASE WHEN regexp_matches(upper(dr), '$drRe') THEN dr END AS dr_valid, CASE WHEN NOT regexp_matches(upper(dr), '$drRe') THEN 'Could not parse ''' || dr || ''' as DATERANGE' END AS dr_err FROM s ORDER BY doc_id"""
    }),
      (s, dir) => {
        val base = docs(tune(s), dir).select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("POINT ("), (col("doc_id") % 100).cast(StringType),
              lit(")")))
            .otherwise(concat(lit("POINT ("),
              (col("doc_id") % 100).cast(StringType), lit(".5 -"),
              (col("doc_id") % 50).cast(StringType), lit(".25)"))).as("pt"),
          when(col("doc_id") % 7 === 0, lit("[2010 TO]"))
            .otherwise(concat(lit("["),
              (lit(2000) + col("doc_id") % 20).cast(StringType),
              lit(" TO *]"))).as("dr"))
        val (ptV, ptE) = Codecs.validateWkt(col("pt"), "POINT")
        val (drV, drE) = Codecs.validateWkt(col("dr"), "DATERANGE")
        base.select(col("doc_id"), ptV.as("pt_valid"), ptE.as("pt_err"),
          drV.as("dr_valid"), drE.as("dr_err"))
          .orderBy("doc_id")
      }),

    // P8 oracled: schema defaults — the declared value schema carries
    // defaults for BOTH fields; `k` is present in every record (default must
    // NOT override it, my_value varies), `d` is absent in every record
    // (default fills it, my_text = '42' after the string target cast)
    Q("q72_schema_defaults", Some(
      """SELECT event_id AS kafka_offset, CAST(user_id AS BIGINT) AS my_pk, CAST(json_extract_string(props, '$.k') AS BIGINT) AS my_value, '42' AS my_text FROM events ORDER BY kafka_offset"""),
      (s, dir) => {
        val f = KafkaLike.frame(tune(s), dir)
        val sch = StructType(Seq(
          StructField("k", LongType, nullable = true,
            new MetadataBuilder().putString("default", "7").build()),
          StructField("d", LongType, nullable = true,
            new MetadataBuilder().putString("default", "42").build())))
        val b = binding(
          "topic.t.ks1.pk_value3.mapping" ->
            "my_pk=key, my_value=value.k, my_text=value.d",
          "topic.t.ks1.pk_value3.deletesEnabled" -> "false")
        RecordMapper.compile(b, pkValue3, f, keepCols = Seq("offset"),
          valueFormat = RecordMapper.Format.JsonWithSchema(sch))
          .select(col("offset").as("kafka_offset"), col("my_pk"),
            col("my_value"), col("my_text"))
          .orderBy("kafka_offset")
      }),

    // as-of join (custom operator — Spark has none): each purchase picks up
    // the latest view event at-or-before it per user, via a TIME-SLICED
    // keyed window over the unioned sides (O(|L|+|R|) shuffle, no range-join
    // fan-out, and a hot user's history spreads across slices instead of
    // one task's sort); DuckDB's native ASOF JOIN is the exact oracle
    Q("q74_asof_join", Some(
      """WITH l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events WHERE event_type = 'purchase'), r AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, MAX(event_id) AS view_event FROM events WHERE event_type = 'view' GROUP BY user_id, CAST(epoch_us(ts) AS BIGINT)) SELECT l.event_id AS event_id, l.user_id AS user_id, l.ts_us AS ts_us, r.view_event AS asof_view_event FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us ORDER BY event_id"""),
      (s, dir) => {
        // both engines compare at µs: the parquet carries nanos (Spark reads
        // them as int64), DuckDB reads the column at µs precision
        val ev = KafkaLike.events(tune(s), dir)
          .withColumn("ts_us", expr("ts DIV 1000"))
        val l = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val r = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("event_id")).as("view_event"))
        // the time domain is known (30 days of epoch-µs events), so pass
        // the slice width — 12h ≈ 60 slices — and skip the derivation scan
        AsofJoin.asofJoin(l, r, "user_id", "ts_us", Seq("view_event"),
          sliceWidth = Some(12.0 * 3600 * 1e6))
          .orderBy("event_id")
      }),

    // range join (custom operator): purchases falling inside the 1-hour
    // window opened by each view, per user — interval-bucketed equi-join
    // (bounded fan-out, no per-key cross product); plain range-predicate
    // SQL is the oracle
    Q("q75_range_join", Some(
      """WITH l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events WHERE event_type = 'purchase'), r AS (SELECT event_id AS view_event, user_id, CAST(epoch_us(ts) AS BIGINT) AS s_us, CAST(epoch_us(ts) AS BIGINT) + 3600000000 AS e_us FROM events WHERE event_type = 'view') SELECT l.event_id AS event_id, r.view_event AS view_event, l.user_id AS user_id FROM l JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.s_us AND l.ts_us < r.e_us ORDER BY event_id, view_event"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .withColumn("ts_us", expr("ts DIV 1000"))
        val l = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val r = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_event"), col("user_id"),
            col("ts_us").as("s_us"),
            (col("ts_us") + 3600000000L).as("e_us"))
        RangeJoin.bucketed(l, r, "user_id", "ts_us", "s_us", "e_us",
          bucketWidth = 3600000000L)
          .select(col("event_id"), col("view_event"), col("user_id"))
          .orderBy("event_id", "view_event")
      }),

    // exact per-group quantiles: value at rank ceil(n*q/100) via a KEYED
    // window + partial-agg pick — deterministic on any partitioning, unlike
    // percentile_approx; values quantized to integer cents so both engines
    // compare integers
    Q("q76_group_quantiles", Some(
      """WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents FROM events), r AS (SELECT event_type, cents, row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn, COUNT(*) OVER (PARTITION BY event_type) AS n FROM v) SELECT event_type, MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END) AS p50, MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN cents END) AS p90, MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END) AS p99 FROM r GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => Stats.groupQuantiles(
        KafkaLike.events(tune(s), dir).select(col("event_type"),
          floor(col("value") * 100).cast(LongType).as("cents")),
        "event_type", "cents", Seq(50, 90, 99))
        .orderBy("event_type")),

    // per-source data card: the summary table a corpus release ships —
    // doc count, token volume, quality-pass pct, dominant predicted
    // language (alphabetical tiebreak); two source-keyed aggregations
    Q("q77_data_card", Some(
      s"""WITH t AS (SELECT doc_id, source, text, $dToks AS tk FROM documents), sc AS (SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM t), lg AS (SELECT doc_id, CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END AS lang FROM (SELECT doc_id, s_de, s_en, s_es, s_fr, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc)), b AS (SELECT t.doc_id, t.source, CAST(len(tk) AS BIGINT) AS n_tokens, (length(text) >= 100 AND (length(text) - length(translate(text, '.,;:!?', ''))) * 10 <= length(text) AND len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) >= 1) AS q_ok, lg.lang AS lang FROM t JOIN lg ON t.doc_id = lg.doc_id), agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS quality_docs FROM b GROUP BY source), tl AS (SELECT source, lang AS top_lang FROM (SELECT source, lang, row_number() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang ASC) AS r FROM b GROUP BY source, lang) WHERE r = 1) SELECT agg.source AS source, n_docs, total_tokens, quality_docs, top_lang, quality_docs * 100 // n_docs AS quality_pct FROM agg JOIN tl ON agg.source = tl.source ORDER BY source"""),
      (s, dir) => TextAnalysis.corpusDataCard(docs(tune(s), dir), "text",
        "doc_id", "source")
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("quality_docs"), col("top_lang"), col("quality_pct"))
        .orderBy("source")),

    // the STREAMING-compatible map-only banding: the same LSH bands as q25
    // from one native per-row expression (no window, no groupBy — the sink's
    // `dedup=near` stage runs the same `StreamingDedup.bandRows` per
    // micro-batch); q25's oracle pins it bit-for-bit to the batch band shape
    Q("q78_stream_banding", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)) SELECT doc_id, band_id, band_hash FROM bands ORDER BY doc_id, band_id"""),
      (s, dir) => graft.streaming.StreamingDedup.bandedStream(
        docs(tune(s), dir), "text", "doc_id")
        .orderBy("doc_id", "band_id")),

    // ---------------- multimodal ----------------

    Q("q35_mm_metadata", Some(
      """SELECT doc_id AS media_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, CAST(length(text) AS BIGINT) AS byte_len, sha256(text) AS sha FROM documents ORDER BY media_id"""),
      (s, dir) => Multimodal.toMediaTable(docs(tune(s), dir), "doc_id", "text")
        .drop("payload")
        .orderBy("media_id")),

    Q("q36_mm_frame_plan", Some(
      """SELECT doc_id AS media_id, CAST(1 + length(text) % 16 AS INT) AS n_frames, CAST((length(text) % 16) // 4 + 1 AS BIGINT) AS n_sampled FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id"""),
      (s, dir) => {
        implicit val sp: SparkSession = tune(s)
        import sp.implicits._
        val media = Multimodal.toMediaTable(docs(s, dir), "doc_id", "text")
          .as[Multimodal.MediaRecord]
        val decoded = Multimodal.decode(media)
        Multimodal.frameSamplePlan(decoded.toDF(), everyNth = 4)
          .select(col("media_id"), col("n_frames"), col("n_sampled"))
          .orderBy("media_id")
      }),

    // mergeable log2-histogram quantile sketch: ≤64 bucket rows regardless
    // of input size, shard-merge by summing counts — the 100 TB tier of
    // q112's exact global quantiles (value within 2x of truth)
    Q("q136_log_hist_quantiles", Some(
      """WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) AS cents FROM events), b AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1), cum AS (SELECT bucket, c, CAST(SUM(c) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM b), n AS (SELECT CAST(MAX(cum) AS BIGINT) AS n FROM cum), p AS (SELECT unnest([50, 90, 99]) AS q_pct), sel AS (SELECT p.q_pct, MIN(cum.bucket) AS bucket FROM cum CROSS JOIN n JOIN p ON cum.cum*100 >= p.q_pct*n.n GROUP BY p.q_pct) SELECT CAST(sel.q_pct AS INT) AS q_pct, sel.bucket, CAST((CAST(1 AS BIGINT) << CAST(sel.bucket AS INT)) - 1 AS BIGINT) AS upper_bound, cum.cum AS n_le FROM sel JOIN cum USING (bucket) ORDER BY q_pct"""),
      (s, dir) => Stats.logHistQuantiles(
        KafkaLike.events(tune(s), dir)
          .select(floor(col("value") * 100).cast(LongType).as("cents")),
        "cents", Seq(50, 90, 99))
        .orderBy("q_pct")),

    // blocked fuzzy self-join (record linkage): equality join on the block
    // key + length band + Levenshtein verify, never a cross product
    Q("q137_fuzzy_pairs", Some(
      """WITH p AS (SELECT p_partkey AS id, p_name AS name, split_part(p_name, ' ', 1) AS blk, length(p_name) AS len FROM part) SELECT l.id AS id_a, r.id AS id_b, l.name AS name_a, r.name AS name_b, CAST(levenshtein(l.name, r.name) AS INT) AS dist FROM p l JOIN p r ON l.blk = r.blk AND l.id < r.id AND abs(l.len - r.len) <= 3 AND levenshtein(l.name, r.name) <= 3 ORDER BY id_a, id_b"""),
      (s, dir) => Linkage.blockedFuzzyPairs(
        tune(s).read.parquet(s"$dir/part.parquet"),
        "p_partkey", "p_name", substring_index(col("p_name"), " ", 1),
        maxDist = 3)
        .orderBy("id_a", "id_b")),

    // SCD2 status history from the append-only event log: gaps-and-islands
    // runs of equal event_type per user, one validity interval per run
    Q("q138_status_intervals", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, event_type AS st FROM events), m AS (SELECT k, ts_ms, event_id, st, CASE WHEN lag(st) OVER w IS NULL OR lag(st) OVER w <> st THEN 1 ELSE 0 END AS chg FROM e WINDOW w AS (PARTITION BY k ORDER BY ts_ms, event_id)), r AS (SELECT k, ts_ms, st, CAST(SUM(chg) OVER (PARTITION BY k ORDER BY ts_ms, event_id) AS BIGINT) AS run_id FROM m), c AS (SELECT k AS key, run_id, st AS status, CAST(MIN(ts_ms) AS BIGINT) AS valid_from_ms, CAST(COUNT(*) AS BIGINT) AS n_events FROM r GROUP BY 1, 2, 3) SELECT key, run_id, status, valid_from_ms, CAST(lead(valid_from_ms) OVER wk AS BIGINT) AS valid_to_ms, n_events, lead(valid_from_ms) OVER wk IS NULL AS is_current FROM c WINDOW wk AS (PARTITION BY key ORDER BY run_id) ORDER BY key, run_id"""),
      (s, dir) => graft.streaming.EventTimeOps.statusIntervals(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_id"), col("event_type")),
        "user_id", "ts_ms", "event_id", "event_type")
        .orderBy("key", "run_id")),

    // candidate-graph degree histogram incl. the zero row: the shape check
    // before any quadratic downstream op
    Q("q139_degree_hist", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), deg AS (SELECT node_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (SELECT doc_a AS node_id FROM cand UNION ALL SELECT doc_b FROM cand) GROUP BY 1), alln AS (SELECT d.doc_id, CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree FROM documents d LEFT JOIN deg ON d.doc_id = deg.node_id) SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM alln GROUP BY 1 ORDER BY degree"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Graph.degreeHistogram(d, "doc_id", cands, "doc_a", "doc_b")
          .orderBy("degree")
      }),

    // SimHash Hamming pairs (Manku WWW'07 pigeonhole bands): EXACT
    // hamming<=2 pair recall from 3 chunk-equality joins + popcount verify
    Q("q140_simhash_pairs", Some(
      s"""WITH toks AS (SELECT doc_id, unnest($dToks) AS tok FROM documents), h AS (SELECT doc_id, ${dFold("tok")} AS h FROM toks), bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS bal FROM h CROSS JOIN range(32) t(j) GROUP BY doc_id, j), sh AS (SELECT doc_id, CAST(SUM(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash FROM bits GROUP BY doc_id), bands AS (SELECT doc_id, simhash, j AS band_id, CASE WHEN j = 0 THEN simhash & 1023 WHEN j = 1 THEN (simhash >> 10) & 1023 ELSE (simhash >> 20) & 4095 END AS band_val FROM sh CROSS JOIN range(3) t(j)) SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_val = r.band_val AND l.doc_id < r.doc_id WHERE bit_count(xor(l.simhash, r.simhash)) <= 2 ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.simhashPairs(docs(tune(s), dir), "text", "doc_id",
        maxHamming = 2)
        .orderBy("doc_a", "doc_b")),

    // approximate k-core of the candidate graph via 2 synchronous peels:
    // rounds_survived separates core dup cliques from stragglers
    Q("q141_kcore", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS a, doc_b AS b FROM cand), d1 AS (SELECT node_id, COUNT(*) AS deg FROM (SELECT a AS node_id FROM e UNION ALL SELECT b FROM e) GROUP BY 1), k1 AS (SELECT node_id FROM d1 WHERE deg >= 2), e2 AS (SELECT e.a, e.b FROM e JOIN k1 ka ON e.a = ka.node_id JOIN k1 kb ON e.b = kb.node_id), d2 AS (SELECT node_id, COUNT(*) AS deg FROM (SELECT a AS node_id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1), k2 AS (SELECT node_id FROM d2 WHERE deg >= 2) SELECT d.doc_id AS node_id, CAST((CASE WHEN k1.node_id IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN k2.node_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS rounds_survived FROM documents d LEFT JOIN k1 ON d.doc_id = k1.node_id LEFT JOIN k2 ON d.doc_id = k2.node_id ORDER BY node_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Graph.kcoreSurvivors(d, "doc_id", cands, "doc_a", "doc_b",
          k = 2, rounds = 2)
          .orderBy("node_id")
      }),

    // per-event-type inter-arrival spacing: keyed lag deltas, one partial
    // agg — the ingest-health dashboard row
    Q("q142_interarrival", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, event_type AS g FROM events), p AS (SELECT g, ts_ms - lag(ts_ms) OVER (PARTITION BY k ORDER BY ts_ms, event_id) AS gap FROM e) SELECT g AS grp, CAST(COUNT(*) AS BIGINT) AS n_gaps, CAST(MIN(gap) AS BIGINT) AS min_gap_ms, CAST(MAX(gap) AS BIGINT) AS max_gap_ms, CAST(SUM(gap) // COUNT(*) AS BIGINT) AS avg_gap_ms FROM p WHERE gap IS NOT NULL GROUP BY 1 ORDER BY grp"""),
      (s, dir) => graft.streaming.EventTimeOps.interarrivalStats(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_id"), col("event_type")),
        "user_id", "ts_ms", "event_id", "event_type")
        .orderBy("grp")),

    // hourly forward-filled per-user value series: dense grid resample,
    // last observation carried across empty buckets
    Q("q143_gapfill", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, CAST(floor(value*100) AS BIGINT) AS cents FROM events), b AS (SELECT k, ts_ms // 3600000 AS bucket, ts_ms, event_id, cents FROM e), pb AS (SELECT k, bucket, cents FROM (SELECT k, bucket, cents, row_number() OVER (PARTITION BY k, bucket ORDER BY ts_ms DESC, event_id DESC) AS rn FROM b) WHERE rn = 1), sp AS (SELECT k, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b GROUP BY k), grid AS (SELECT k, unnest(range(b0, b1 + 1)) AS bucket FROM sp), j AS (SELECT grid.k, grid.bucket, pb.cents AS observed FROM grid LEFT JOIN pb ON grid.k = pb.k AND grid.bucket = pb.bucket) SELECT k AS key, CAST(bucket * 3600000 AS BIGINT) AS bucket_start_ms, CAST(last_value(observed IGNORE NULLS) OVER (PARTITION BY k ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS filled, observed IS NOT NULL AS is_observed FROM j ORDER BY key, bucket_start_ms"""),
      (s, dir) => graft.streaming.EventTimeOps.gapfillForwardFill(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "user_id", "ts_ms", "event_id", "cents", stepMs = 3600000L)
        .orderBy("key", "bucket_start_ms")),

    // deterministic weight-proportional sampling: keep probability tracks
    // n_chars (map-only importance sampling, no RNG)
    Q("q144_weighted_sample", Some(
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, LEAST(1000000, n_chars * 300) AS threshold_ppm FROM documents) SELECT doc_id, n_chars, CAST(threshold_ppm AS BIGINT) AS threshold_ppm FROM d WHERE ((doc_id % 2147483647) * 2654435761) % 2147483647 % 1000000 < threshold_ppm ORDER BY doc_id"""),
      (s, dir) => Sampling.weightedKeep(
        docs(tune(s), dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", perUnitPpm = 300L)
        .orderBy("doc_id")),

    // MMR diversity re-rank of the top-16 cosine slice for query vec 0:
    // greedy integer lambda*rel - (1-lambda)*maxSim, unrolled in the oracle
    Q("q145_mmr_rerank", Some(
      s"""WITH q AS (SELECT $dQuant AS qq FROM embeddings WHERE vec_id = 0), c AS (SELECT vec_id, $dQuant AS qv FROM embeddings WHERE vec_id <> 0), sc AS (SELECT vec_id, qv, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)] * qq[CAST(i+1 AS INT)])) AS BIGINT) AS rel FROM c CROSS JOIN q), cand AS (SELECT vec_id, qv, rel FROM (SELECT *, row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS rnk FROM sc) WHERE rnk <= 16), sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib, CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[CAST(i+1 AS INT)] * b.qv[CAST(i+1 AS INT)])) AS BIGINT) AS s FROM cand a JOIN cand b ON a.vec_id <> b.vec_id), s1 AS (SELECT vec_id, rel, CAST(7*rel AS BIGINT) AS score FROM cand ORDER BY rel DESC, vec_id LIMIT 1), p1 AS (SELECT vec_id FROM s1), c2 AS (SELECT c.vec_id, c.rel, 7*c.rel - 3*(SELECT MAX(s.s) FROM sims s WHERE s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM p1)) AS score FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)), s2 AS (SELECT * FROM c2 ORDER BY score DESC, vec_id LIMIT 1), p2 AS (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM s2), c3 AS (SELECT c.vec_id, c.rel, 7*c.rel - 3*(SELECT MAX(s.s) FROM sims s WHERE s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM p2)) AS score FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM p2)), s3 AS (SELECT * FROM c3 ORDER BY score DESC, vec_id LIMIT 1), p3 AS (SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM s3), c4 AS (SELECT c.vec_id, c.rel, 7*c.rel - 3*(SELECT MAX(s.s) FROM sims s WHERE s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM p3)) AS score FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM p3)), s4 AS (SELECT * FROM c4 ORDER BY score DESC, vec_id LIMIT 1) SELECT CAST(1 AS INT) AS mmr_rank, vec_id AS id, rel, score AS score_q FROM s1 UNION ALL SELECT CAST(2 AS INT), vec_id, rel, score FROM s2 UNION ALL SELECT CAST(3 AS INT), vec_id, rel, score FROM s3 UNION ALL SELECT CAST(4 AS INT), vec_id, rel, score FROM s4 ORDER BY mmr_rank"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        val cand = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 16)
        val withVec = cand.join(
          e.select(col("vec_id").as("item_id"),
            Similarity.quantize(col("embedding")).as("qv")), "item_id")
        Retrieval.mmrRerank(withVec, "item_id", "dot", "qv", k = 4)
          .orderBy("mmr_rank")
      }),

    // within-source percentile rank (ppm): the cross-corpus score
    // normalizer — raw scores aren't comparable, percentiles are
    Q("q146_score_percentile", Some(
      """WITH r AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r, CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM documents) SELECT doc_id, source, n_chars, CAST((r-1)*1000000 // GREATEST(n-1, 1) AS BIGINT) AS pctile_ppm FROM r ORDER BY doc_id"""),
      (s, dir) => Stats.percentileRank(
        docs(tune(s), dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id")
        .orderBy("doc_id")),

    // train/val/test leakage audit: candidate pairs straddling splits —
    // the evidence for cluster-aware splitting
    Q("q147_split_leakage", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS BIGINT) AS r, CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM documents), sp AS (SELECT doc_id, CASE WHEN r*100 <= n*80 THEN 'train' WHEN r*100 <= n*90 THEN 'val' ELSE 'test' END AS split FROM r) SELECT cand.doc_a, cand.doc_b, sa.split AS split_a, sb.split AS split_b FROM cand JOIN sp sa ON cand.doc_a = sa.doc_id JOIN sp sb ON cand.doc_b = sb.doc_id WHERE sa.split <> sb.split ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val assign = Sampling.stratifiedSplit(
          d.select(col("doc_id"), col("source")), "source", "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .select(col("doc_id"), col("split"))
        Dedup.splitLeakagePairs(cands, assign, "doc_id", "split")
          .orderBy("doc_a", "doc_b")
      }),

    // per-user feature-store build: conditional per-type counts, value
    // sum, first/last activity, exact active days — one grouped agg
    Q("q148_user_features", Some(
      """SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view, CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase, CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error, CAST(SUM(cents) AS BIGINT) AS sum_value, CAST(MIN(ts_ms) AS BIGINT) AS first_ts_ms, CAST(MAX(ts_ms) AS BIGINT) AS last_ts_ms, CAST(COUNT(DISTINCT ts_ms // 86400000) AS BIGINT) AS n_active_days FROM (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type, CAST(floor(value*100) AS BIGINT) AS cents FROM events) GROUP BY user_id ORDER BY key"""),
      (s, dir) => graft.streaming.EventTimeOps.userActivityFeatures(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "user_id", "ts_ms", "event_type", "cents",
        Seq("view", "click", "purchase", "signup", "error"))
        .orderBy("key")),

    // pairwise class-centroid distances: the label-separation report read
    // before trusting any classifier on the embedding space
    Q("q149_class_separation", Some(
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv, label FROM embeddings), pe AS (SELECT label, unnest(range(len(qv))) AS dim, qv FROM v), pm AS (SELECT label, dim, CAST(SUM(qv[CAST(dim+1 AS INT)]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cx FROM pe GROUP BY 1, 2), pv AS (SELECT label, list(cx ORDER BY dim) AS cv FROM pm GROUP BY 1), pn AS (SELECT CAST(label AS INT) AS label, cv, CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2 FROM pv) SELECT a.label AS label_a, b.label AS label_b, CAST(a.cn2 + b.cn2 - 2*list_sum(list_transform(range(len(a.cv)), i -> a.cv[CAST(i+1 AS INT)]*b.cv[CAST(i+1 AS INT)])) AS BIGINT) AS dist2 FROM pn a JOIN pn b ON a.label < b.label ORDER BY label_a, label_b"""),
      (s, dir) => Similarity.classCentroidDistances(
        embeddings(tune(s), dir), "vec_id", "embedding", "label")
        .orderBy("label_a", "label_b")),

    // robust outlier report: per-type median + MAD + count beyond 5*MAD —
    // skew-proof and integer-exact where stddev is neither
    Q("q150_mad_outliers", Some(
      """WITH v AS (SELECT event_type, CAST(floor(value*100) AS BIGINT) AS cents FROM events), r1 AS (SELECT event_type, cents, row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn, COUNT(*) OVER (PARTITION BY event_type) AS n FROM v), med AS (SELECT event_type, MAX(CASE WHEN rn = (n*50+99)//100 THEN cents END) AS med FROM r1 GROUP BY event_type), d AS (SELECT v.event_type, v.cents, abs(v.cents - med.med) AS dev FROM v JOIN med USING (event_type)), r2 AS (SELECT event_type, dev, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn, COUNT(*) OVER (PARTITION BY event_type) AS n FROM d), mad AS (SELECT event_type, MAX(CASE WHEN rn = (n*50+99)//100 THEN dev END) AS mad FROM r2 GROUP BY event_type) SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(med.med) AS BIGINT) AS median, CAST(MAX(mad.mad) AS BIGINT) AS mad, CAST(SUM(CASE WHEN d.dev > 5*mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers FROM d JOIN med USING (event_type) JOIN mad USING (event_type) GROUP BY d.event_type ORDER BY event_type"""),
      (s, dir) => Stats.madOutlierReport(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "event_type", "cents", k = 5)
        .orderBy("event_type")),

    // score a stream against the <=64-row reference sketch: broadcast the
    // sketch, never the reference corpus — map-only at any target volume
    Q("q151_sketch_percentile", Some(
      """WITH v AS (SELECT event_id, CAST(floor(value*100) AS BIGINT) AS cents FROM events), b AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS rb, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1), cum AS (SELECT rb, CAST(SUM(c) OVER (ORDER BY rb) AS BIGINT) AS cum FROM b), n AS (SELECT CAST(MAX(cum) AS BIGINT) AS n FROM cum), dense AS (SELECT g.bucket, CAST(COALESCE(MAX(cum.cum), 0) AS BIGINT) AS n_le FROM (SELECT unnest(range(1, 65)) AS bucket) g LEFT JOIN cum ON cum.rb <= g.bucket GROUP BY g.bucket) SELECT CAST(length(bin(v.cents)) AS BIGINT) AS bucket, v.event_id, v.cents, CAST(n_le*1000000 // n.n AS BIGINT) AS est_pctile_ppm FROM v JOIN dense ON dense.bucket = length(bin(v.cents)) CROSS JOIN n ORDER BY event_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents"))
        Stats.logHistPercentileScore(ev, "cents", ev, "cents")
          .orderBy("event_id")
      }),

    // enrich events with their status AT EVENT TIME: SCD2 intervals +
    // the bucketed interval join (each event meets one interval)
    Q("q152_status_enrich", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, event_type AS st FROM events), m AS (SELECT k, ts_ms, event_id, st, CASE WHEN lag(st) OVER w IS NULL OR lag(st) OVER w <> st THEN 1 ELSE 0 END AS chg FROM e WINDOW w AS (PARTITION BY k ORDER BY ts_ms, event_id)), r AS (SELECT k, ts_ms, st, CAST(SUM(chg) OVER (PARTITION BY k ORDER BY ts_ms, event_id) AS BIGINT) AS run_id FROM m), c AS (SELECT k AS key, run_id, st AS status, CAST(MIN(ts_ms) AS BIGINT) AS valid_from_ms, CAST(COUNT(*) AS BIGINT) AS n_events FROM r GROUP BY 1, 2, 3), iv AS (SELECT key, run_id, status, valid_from_ms, lead(valid_from_ms) OVER (PARTITION BY key ORDER BY run_id) AS valid_to_ms FROM c), mx AS (SELECT CAST(MAX(ts_ms) + 1 AS BIGINT) AS now FROM e) SELECT e.event_id, e.k AS user_id, e.ts_ms, iv.run_id, iv.status FROM e JOIN iv ON e.k = iv.key AND e.ts_ms >= iv.valid_from_ms AND e.ts_ms < COALESCE(iv.valid_to_ms, (SELECT now FROM mx)) ORDER BY event_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_id"), col("event_type"))
        val iv = graft.streaming.EventTimeOps.statusIntervals(
          ev, "user_id", "ts_ms", "event_id", "event_type")
        val nowMs = ev.agg(max("ts_ms")).head().getLong(0) + 1L
        val ivc = iv.select(col("key").as("user_id"), col("run_id"),
          col("status"), col("valid_from_ms"),
          coalesce(col("valid_to_ms"), lit(nowMs)).as("valid_to_ms"))
        RangeJoin.bucketed(
          ev.select(col("user_id"), col("ts_ms"), col("event_id")), ivc,
          "user_id", "ts_ms", "valid_from_ms", "valid_to_ms",
          bucketWidth = 86400000L)
          .select("event_id", "user_id", "ts_ms", "run_id", "status")
          .orderBy("event_id")
      }),

    // k review examples per non-trivial dup cluster: the human-audit
    // sample, deterministic via the quota hash
    Q("q153_cluster_examples", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), eg AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM eg UNION SELECT reach.s, e2.t FROM reach JOIN eg e2 ON reach.t = e2.s), cl AS (SELECT d.doc_id AS doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS cluster_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id), sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csz FROM cl GROUP BY 1), mult AS (SELECT cl.cluster_id, cl.doc_id, sz.csz FROM cl JOIN sz USING (cluster_id) WHERE sz.csz > 1) SELECT cluster_id, doc_id, csz, CAST(rn AS INT) AS sample_rank FROM (SELECT cluster_id, doc_id, csz, row_number() OVER (PARTITION BY cluster_id ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS rn FROM mult) WHERE rn <= 2 ORDER BY cluster_id, doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val clusters = Dedup.nearDupClusters(d, cands, "doc_id")
        val sizes = clusters.groupBy("cluster_id")
          .agg(count(lit(1)).as("csz"))
        val multi = clusters.join(sizes.filter(col("csz") > 1L), "cluster_id")
        Sampling.quotaByClass(multi.select("cluster_id", "doc_id", "csz"),
          "cluster_id", "doc_id", quota = 2)
          .orderBy("cluster_id", "doc_id")
      }),

    // the shard-merge proof as an oracled query: sketch(odd) + sketch(even)
    // merged by count sum finalizes to the same quantiles as one pass
    Q("q154_sketch_merge", Some(
      """WITH v AS (SELECT event_id, CAST(floor(value*100) AS BIGINT) AS cents FROM events), sa AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM v WHERE event_id % 2 = 0 GROUP BY 1), sb AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM v WHERE event_id % 2 = 1 GROUP BY 1), m AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS c FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb) GROUP BY 1), cum AS (SELECT bucket, CAST(SUM(c) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM m), n AS (SELECT CAST(MAX(cum) AS BIGINT) AS n FROM cum), p AS (SELECT unnest([50, 90, 99]) AS q_pct), sel AS (SELECT p.q_pct, MIN(cum.bucket) AS bucket FROM cum CROSS JOIN n JOIN p ON cum.cum*100 >= p.q_pct*n.n GROUP BY p.q_pct) SELECT CAST(sel.q_pct AS INT) AS q_pct, sel.bucket, CAST((CAST(1 AS BIGINT) << CAST(sel.bucket AS INT)) - 1 AS BIGINT) AS upper_bound, cum.cum AS n_le FROM sel JOIN cum USING (bucket) ORDER BY q_pct"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents"))
        val sa = Stats.logHistSketch(
          ev.filter(col("event_id") % 2 === 0), "cents")
        val sb = Stats.logHistSketch(
          ev.filter(col("event_id") % 2 === 1), "cents")
        Stats.logHistQuantilesFromSketch(Stats.logHistMerge(sa, sb),
          Seq(50, 90, 99))
          .orderBy("q_pct")
      }),

    // per-class sketch quantiles: the grouped rollup, everything keyed —
    // nothing single-partition even on a billion classes
    Q("q155_group_sketch_quantiles", Some(
      """WITH v AS (SELECT event_type AS cls, CAST(floor(value*100) AS BIGINT) AS cents FROM events), b AS (SELECT cls, CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2), cum AS (SELECT cls, bucket, CAST(SUM(c) OVER (PARTITION BY cls ORDER BY bucket) AS BIGINT) AS cum, CAST(SUM(c) OVER (PARTITION BY cls) AS BIGINT) AS n FROM b), p AS (SELECT unnest([50, 90, 99]) AS q_pct), sel AS (SELECT cum.cls, p.q_pct, MIN(cum.bucket) AS bucket FROM cum JOIN p ON cum.cum*100 >= p.q_pct*cum.n GROUP BY cum.cls, p.q_pct) SELECT sel.cls, CAST(sel.q_pct AS INT) AS q_pct, sel.bucket, CAST((CAST(1 AS BIGINT) << CAST(sel.bucket AS INT)) - 1 AS BIGINT) AS upper_bound, cum.cum AS n_le FROM sel JOIN cum ON sel.cls = cum.cls AND sel.bucket = cum.bucket ORDER BY 1, 2"""),
      (s, dir) => Stats.groupLogHistQuantiles(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "event_type", "cents", Seq(50, 90, 99))
        .orderBy("cls", "q_pct")
  ),

    // exact one-vs-rest ROC-AUC per event type over the cents score —
    // rank-sum form, all-integer, no global sort (two-stage bucketed scan)
    Q("q156_auc", Some(
      """WITH v AS (SELECT event_type AS label, CAST(floor(value*100) AS BIGINT) AS s FROM events), g AS (SELECT s, label, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2), t0 AS (SELECT s, CAST(SUM(c) AS BIGINT) AS ctot FROM g GROUP BY 1), t AS (SELECT s, ctot, CAST(SUM(ctot) OVER (ORDER BY s) - ctot AS BIGINT) AS cumt FROM t0), l AS (SELECT s, label, c, CAST(SUM(c) OVER (PARTITION BY label ORDER BY s) - c AS BIGINT) AS cuml FROM g), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v), w AS (SELECT l.label, l.c, t.ctot, t.cumt - l.cuml AS neg_below, t.ctot - l.c AS neg_at FROM l JOIN t USING (s)), a AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n_pos, CAST(SUM(c*(2*neg_below + neg_at)) AS BIGINT) AS wins2 FROM w GROUP BY 1) SELECT label, n_pos, CAST(n.n - n_pos AS BIGINT) AS n_neg, CAST(wins2*1000000 // (2*n_pos*(n.n - n_pos)) AS BIGINT) AS auc_ppm FROM a CROSS JOIN n WHERE n_pos > 0 AND n_pos < n.n ORDER BY label"""),
      (s, dir) => Stats.rocAucReport(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "event_type", "cents")
        .orderBy("label")),

    // exact two-sample KS statistic between purchase and view spend
    // distributions — the integer distribution-shift test
    Q("q157_ks_stat", Some(
      """WITH v AS (SELECT event_type AS label, CAST(floor(value*100) AS BIGINT) AS s FROM events WHERE event_type IN ('purchase', 'view')), g AS (SELECT s, CAST(SUM(CASE WHEN label = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca, CAST(SUM(CASE WHEN label = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb FROM v GROUP BY 1), c AS (SELECT s, CAST(SUM(ca) OVER (ORDER BY s) AS BIGINT) AS cuma, CAST(SUM(cb) OVER (ORDER BY s) AS BIGINT) AS cumb FROM g), n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM g), d AS (SELECT s, abs(cuma*n.nb - cumb*n.na) AS diff FROM c CROSS JOIN n) SELECT n.na AS n_a, n.nb AS n_b, CAST(d.diff*1000000 // (n.na*n.nb) AS BIGINT) AS ks_ppm, d.s AS at_value FROM d CROSS JOIN n ORDER BY d.diff DESC, d.s ASC LIMIT 1"""),
      (s, dir) => Stats.ksStatistic(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "event_type", "cents", "purchase", "view")),

    // distribution-drift report between the stream's first and second time
    // halves over the ≤64-row mergeable log₂ histogram — per-bucket counts,
    // fraction deltas, and 2×TVD, all integer
    Q("q158_drift_report", Some(
      """WITH v AS (SELECT CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, CAST(floor(value*100) AS BIGINT) AS cents FROM events), m AS (SELECT CAST((MIN(ts_ms) + MAX(ts_ms)) // 2 AS BIGINT) AS mid FROM v), sa AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c_a FROM v CROSS JOIN m WHERE ts_ms < mid GROUP BY 1), sb AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c_b FROM v CROSS JOIN m WHERE ts_ms >= mid GROUP BY 1), j AS (SELECT COALESCE(sa.bucket, sb.bucket) AS bucket, COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b FROM sa FULL OUTER JOIN sb ON sa.bucket = sb.bucket), n AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na, CAST(SUM(c_b) AS BIGINT) AS nb FROM j), f AS (SELECT bucket, c_a, c_b, CAST(c_a*1000000 // n.na AS BIGINT) AS frac_a_ppm, CAST(c_b*1000000 // n.nb AS BIGINT) AS frac_b_ppm, CAST(c_a*1000000 // n.na - c_b*1000000 // n.nb AS BIGINT) AS delta_ppm FROM j CROSS JOIN n), t AS (SELECT CAST(SUM(abs(delta_ppm)) AS BIGINT) AS tvd2_ppm FROM f) SELECT f.bucket, f.c_a, f.c_b, f.frac_a_ppm, f.frac_b_ppm, f.delta_ppm, t.tvd2_ppm FROM f CROSS JOIN t ORDER BY bucket"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            floor(col("value") * 100).cast(LongType).as("cents"))
        val mm = ev.agg(min("ts_ms"), max("ts_ms")).head()
        val mid = (mm.getLong(0) + mm.getLong(1)) / 2
        Stats.histDriftReport(ev.filter(col("ts_ms") < mid),
          ev.filter(col("ts_ms") >= mid), "cents")
          .orderBy("bucket")
      }),

    // per-user CUSUM change-point report against the global mean spend —
    // the integer Page-style drift detector, keyed windows only
    Q("q159_cusum", Some(
      """WITH v AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, CAST(floor(value*100) AS BIGINT) AS cents FROM events), m AS (SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu FROM v), c AS (SELECT user_id, ts_ms, cents - m.mu AS dev, CAST(SUM(cents - m.mu) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS BIGINT) AS cusum FROM v CROSS JOIN m), p AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(abs(cusum)) AS BIGINT) AS max_abs_cusum, CAST(SUM(dev) AS BIGINT) AS final_cusum FROM c GROUP BY 1) SELECT p.user_id AS key, p.n, p.max_abs_cusum, CAST(MIN(c.ts_ms) AS BIGINT) AS ts_at_max, p.final_cusum FROM p JOIN c ON p.user_id = c.user_id AND abs(c.cusum) = p.max_abs_cusum GROUP BY 1, 2, 3, 5 ORDER BY key"""),
      (s, dir) => graft.streaming.EventTimeOps.cusumReport(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "user_id", "ts_ms", "event_id", "cents")
        .orderBy("key")),

    // matryoshka ablation: recall@5 of 32-of-64-dim retrieval against the
    // full-dimension exact truth — the half-the-bytes first-tier question
    Q("q160_dim_ablation", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings), q AS (SELECT item_id AS query_id, qv AS qq FROM v WHERE item_id < 10), ex0 AS (SELECT query_id, item_id, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*qq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM v CROSS JOIN q WHERE item_id <> query_id), ex AS (SELECT query_id, item_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM ex0) WHERE rank <= 5), tr0 AS (SELECT query_id, item_id, CAST(list_sum(list_transform(range(32), i -> qv[CAST(i+1 AS INT)]*qq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM v CROSS JOIN q WHERE item_id <> query_id), tr AS (SELECT query_id, item_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM tr0) WHERE rank <= 5), h AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM ex JOIN tr USING (query_id, item_id) GROUP BY 1), qs AS (SELECT DISTINCT query_id FROM ex) SELECT qs.query_id, COALESCE(h.n_hits, 0) AS n_hits, (COALESCE(h.n_hits, 0)*100)//5 AS recall_pct FROM qs LEFT JOIN h USING (query_id) ORDER BY query_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.dimAblationRecall(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, keepDims = 32)
          .orderBy("query_id")
      }),

    // join pre-flight audit: exact output size, per-side NDV/skew, and a
    // plan recommendation — computed on per-key counts, never raw×raw
    Q("q161_join_audit", Some(
      """WITH lc AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cl FROM lineitem GROUP BY 1), rc AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cr FROM orders GROUP BY 1), j AS (SELECT COALESCE(cl, 0) AS cl, COALESCE(cr, 0) AS cr FROM lc FULL OUTER JOIN rc USING (k)), a AS (SELECT CAST(SUM(cl) AS BIGINT) AS n_left, CAST(SUM(cr) AS BIGINT) AS n_right, CAST(SUM(CASE WHEN cl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ndv_left, CAST(SUM(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ndv_right, CAST(SUM(CASE WHEN cl > 0 AND cr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched_keys, CAST(SUM(cl*cr) AS BIGINT) AS est_output_rows, CAST(MAX(cl) AS BIGINT) AS max_key_left, CAST(MAX(cr) AS BIGINT) AS max_key_right, CAST(MAX(cl*cr) AS BIGINT) AS max_key_output FROM j) SELECT a.*, CASE WHEN n_right <= 10000000 THEN 'broadcast_right' WHEN n_left <= 10000000 THEN 'broadcast_left' WHEN est_output_rows > 0 AND max_key_output*20 > est_output_rows THEN 'salt_skewed_keys' ELSE 'shuffle_hash' END AS recommendation FROM a"""),
      (s, dir) => Stats.joinAudit(
        lineitem(tune(s), dir).select(col("l_orderkey").as("k")),
        orders(tune(s), dir).select(col("o_orderkey").as("k")), "k")),

    // time-based split with an embargo horizon: train / embargo / test
    // audit — the anti-leakage split for anything with a time axis
    Q("q162_temporal_split", Some(
      """WITH v AS (SELECT CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), m AS (SELECT CAST((MIN(ts_ms) + MAX(ts_ms)) // 2 AS BIGINT) AS mid FROM v), s AS (SELECT ts_ms, CASE WHEN ts_ms < mid THEN 'train' WHEN ts_ms < mid + 86400000 THEN 'embargo' ELSE 'test' END AS split FROM v CROSS JOIN m) SELECT split, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(ts_ms) AS BIGINT) AS min_ts, CAST(MAX(ts_ms) AS BIGINT) AS max_ts FROM s GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"))
        val mm = ev.agg(min("ts_ms"), max("ts_ms")).head()
        val mid = (mm.getLong(0) + mm.getLong(1)) / 2
        Sampling.temporalSplit(ev, "ts_ms", mid, embargoMs = 86400000L)
          .groupBy("split").agg(count(lit(1)).as("n"),
            min("ts_ms").as("min_ts"), max("ts_ms").as("max_ts"))
          .orderBy("split")
      }),

    // group-aware k-fold: every row of a user lands in one fold (no
    // per-group leakage across folds); per-fold row/group audit
    Q("q163_group_kfold", Some(
      """WITH v AS (SELECT user_id, ((user_id % 2147483647) * 2654435761) % 2147483647 % 5 AS fold FROM events) SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM v GROUP BY 1 ORDER BY 1"""),
      (s, dir) => Sampling.groupKFold(
        KafkaLike.events(tune(s), dir).select(col("user_id")),
        "user_id", k = 5)
        .groupBy("fold").agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("n_users"))
        .orderBy("fold")),

    // Benford first-digit conformance over spend cents — the
    // fabricated-numbers smell test, exact decimal-head digits
    Q("q164_benford", Some(
      """WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) AS cents FROM events WHERE floor(value*100) > 0), c AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1), e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)) t(digit, benford_ppm)), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c), f AS (SELECT e.digit, COALESCE(c.c, 0) AS n_d, CAST(COALESCE(c.c, 0)*1000000 // n.n AS BIGINT) AS obs_ppm, CAST(e.benford_ppm AS BIGINT) AS benford_ppm FROM e LEFT JOIN c ON e.digit = c.digit CROSS JOIN n), g AS (SELECT digit, n_d AS n, obs_ppm, benford_ppm, obs_ppm - benford_ppm AS delta_ppm FROM f), t2 AS (SELECT CAST(SUM(abs(delta_ppm)) AS BIGINT) AS tvd2_ppm FROM g) SELECT CAST(g.digit AS BIGINT) AS digit, g.n, g.obs_ppm, g.benford_ppm, g.delta_ppm, t2.tvd2_ppm FROM g CROSS JOIN t2 ORDER BY digit"""),
      (s, dir) => Stats.benfordReport(
        KafkaLike.events(tune(s), dir)
          .select(floor(col("value") * 100).cast(LongType).as("cents")),
        "cents")
        .orderBy("digit")),

    // HLL shard-merge proof: register max is associative, so per-half
    // sketches merged then finalized equal the one-pass estimate exactly
    Q("q165_hll_merge", Some(
      s"""WITH toks AS (SELECT source, unnest($dToks) AS tok FROM documents), hh AS (SELECT source, ${dFold("tok")} AS h FROM toks), mx1 AS (SELECT source, h, (xor(h >> 16, h) * 73244475) & 2147483647 AS h1 FROM hh), mx2 AS (SELECT source, h, (xor(h1 >> 16, h1) * 73244475) & 2147483647 AS h2 FROM mx1), mx AS (SELECT source, h, xor(h2 >> 16, h2) AS hm FROM mx2), b AS (SELECT source, hm >> 23 AS bucket, CASE WHEN (hm & 8388607) = 0 THEN 24 ELSE 24 - length(bin(hm & 8388607)) END AS rho FROM mx), mj AS (SELECT source, bucket, CAST(MAX(rho) AS BIGINT) AS m_j FROM b GROUP BY source, bucket), a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS occupied_buckets, CAST(SUM(1073741824 >> CAST(m_j AS INT)) AS BIGINT) AS s_occ FROM mj GROUP BY source) SELECT a.source, occupied_buckets, CAST(s_occ + (256 - occupied_buckets) * 1073741824 AS BIGINT) AS sketch_sum, CAST(718273 * (70368744177664 // (s_occ + (256 - occupied_buckets) * 1073741824)) // 1000000 AS BIGINT) AS est_distinct FROM a ORDER BY source"""),
      (s, dir) => {
        val h = docs(tune(s), dir).select(col("doc_id"), col("source"),
          explode(TextAnalysis.tokenHashes(col("text"))).as("h"))
        val sa = Stats.hllSketch(h.filter(col("doc_id") % 2 === 0),
          "source", "h")
        val sb = Stats.hllSketch(h.filter(col("doc_id") % 2 === 1),
          "source", "h")
        Stats.hllFinalize(Stats.hllMerge(sa, sb), "source")
          .orderBy("source")
      }),

    // market-basket co-occurrence: part pairs ordered together, group-size
    // capped so pair volume stays linear in orders at any corpus size
    Q("q166_basket_pairs", Some(
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS it FROM lineitem), gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sz FROM gi GROUP BY 1), ok AS (SELECT gi.g, gi.it FROM gi JOIN gs USING (g) WHERE sz <= 64), p AS (SELECT a.it AS item_a, b.it AS item_b FROM ok a JOIN ok b ON a.g = b.g AND a.it < b.it) SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS support FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY support DESC, item_a, item_b LIMIT 100"""),
      (s, dir) => Graph.cooccurrencePairs(lineitem(tune(s), dir),
        "l_orderkey", "l_partkey")
        .orderBy(desc("support"), col("item_a"), col("item_b"))
        .limit(100)),

    // association rules over the capped basket universe: confidence ppm +
    // lift ×1000, both directions, top 50 by lift
    Q("q167_assoc_rules", Some(
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS it FROM lineitem), gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sz FROM gi GROUP BY 1), okg AS (SELECT g FROM gs WHERE sz <= 64), ok AS (SELECT gi.g, gi.it FROM gi JOIN okg USING (g)), ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM okg), ic AS (SELECT it AS item, CAST(COUNT(*) AS BIGINT) AS cnt FROM ok GROUP BY 1), p AS (SELECT a.it AS item_a, b.it AS item_b, CAST(COUNT(*) AS BIGINT) AS support FROM ok a JOIN ok b ON a.g = b.g AND a.it < b.it GROUP BY 1, 2 HAVING COUNT(*) >= 2), dr AS (SELECT item_a AS antecedent, item_b AS consequent, support FROM p UNION ALL SELECT item_b, item_a, support FROM p), r AS (SELECT dr.antecedent, dr.consequent, dr.support, CAST(dr.support*1000000 // ia.cnt AS BIGINT) AS confidence_ppm, CAST(dr.support*ng.n*1000 // (ia.cnt*ic2.cnt) AS BIGINT) AS lift_x1000 FROM dr JOIN ic ia ON dr.antecedent = ia.item JOIN ic ic2 ON dr.consequent = ic2.item CROSS JOIN ng) SELECT * FROM r ORDER BY lift_x1000 DESC, antecedent, consequent LIMIT 50"""),
      (s, dir) => {
        // staged: consumed by the nGroups count action AND the final
        // items-join execution — unstaged, the distinct's shuffle re-ran
        // once per consumer (cooccurrencePairs stages its own copy)
        val gi = Staging.stage(lineitem(tune(s), dir)
          .select(col("l_orderkey").as("g"), col("l_partkey").as("it"))
          .distinct())
        val okg = gi.groupBy("g").agg(count(lit(1)).as("__sz"))
          .filter(col("__sz") <= 64).select("g")
        val ok = gi.join(okg, "g")
        val items = ok.groupBy(col("it").as("item"))
          .agg(count(lit(1)).as("cnt"))
        val nGroups = okg.count()
        Graph.assocRules(
          Graph.cooccurrencePairs(lineitem(tune(s), dir),
            "l_orderkey", "l_partkey"),
          items, nGroups)
          .orderBy(desc("lift_x1000"), col("antecedent"), col("consequent"))
          .limit(50)
      }),

    // temporal activity profile: per (type, dow, hour) counts + class
    // share ppm — integer epoch arithmetic, no calendar dependency
    Q("q168_temporal_profile", Some(
      """WITH v AS (SELECT event_type AS cls, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), b AS (SELECT cls, (ts_ms // 86400000 + 4) % 7 AS dow, (ts_ms // 3600000) % 24 AS hour FROM v), c AS (SELECT cls, dow, hour, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2, 3), t AS (SELECT cls, CAST(SUM(n) AS BIGINT) AS nc FROM c GROUP BY 1) SELECT c.cls, CAST(c.dow AS BIGINT) AS dow, CAST(c.hour AS BIGINT) AS hour, c.n, CAST(c.n*1000000 // t.nc AS BIGINT) AS share_ppm FROM c JOIN t USING (cls) ORDER BY cls, dow, hour"""),
      (s, dir) => graft.streaming.EventTimeOps.temporalProfile(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms")),
        "ts_ms", "event_type")
        .orderBy("cls", "dow", "hour")),

    // PQ reconstruction-error audit: per-vector squared error to the
    // nearest sub-centroids — the compression-quality distribution
    Q("q169_pq_error", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv FROM embeddings), cb AS (SELECT CAST(sub_id AS INT) AS sub_id, CAST(cell_id AS INT) AS cell_id, list_transform(cv, x -> CAST(x AS BIGINT)) AS cv FROM (VALUES $PqCodebooksPlaceholder) t(sub_id, cell_id, cv)), d AS (SELECT item_id, sub_id, cell_id, CAST(list_sum(list_transform(range(8), i -> (qv[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]) * (qv[CAST(sub_id*8 + i + 1 AS INT)] - cv[CAST(i+1 AS INT)]))) AS BIGINT) AS dist2 FROM v CROSS JOIN cb), a AS (SELECT item_id, sub_id, CAST(MIN(dist2) AS BIGINT) AS best FROM d GROUP BY 1, 2) SELECT item_id, CAST(SUM(best) AS BIGINT) AS err2 FROM a GROUP BY 1 ORDER BY item_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Pq.reconstructionError(e, "vec_id", "embedding",
          Pq.trainCodebooks(e, "vec_id", "embedding", 8, 16, 3), 8)
          .orderBy("item_id")
      }),

    // label-match MRR: rank of the first same-label neighbor in the exact
    // top-20 — retrieval eval with labels as relevance judgments
    Q("q170_label_mrr", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, label FROM embeddings), q AS (SELECT item_id AS query_id, qv AS qq, label AS ql FROM v WHERE item_id < 50), sc AS (SELECT query_id, item_id, ql, v.label AS il, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*qq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM v CROSS JOIN q WHERE item_id <> query_id), r AS (SELECT query_id, item_id, ql, il, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM sc), h AS (SELECT query_id, CAST(MIN(rank) AS BIGINT) AS first_rel_rank FROM r WHERE rank <= 20 AND il = ql GROUP BY 1) SELECT q.query_id, CAST(COALESCE(h.first_rel_rank, 0) AS BIGINT) AS first_rel_rank, CAST(CASE WHEN h.first_rel_rank IS NULL THEN 0 ELSE 1000000 // h.first_rel_rank END AS BIGINT) AS rr_ppm FROM q LEFT JOIN h USING (query_id) ORDER BY query_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.labelMrr(e, e.filter(col("vec_id") < 50),
          "vec_id", "embedding", "label", k = 20)
          .orderBy("query_id")
      }),

    // dedup savings: how much of each source's token mass is exact-dup
    // inflation — duplication is global, copies attribute to their source
    Q("q171_dedup_savings", Some(
      s"""WITH t AS (SELECT source AS cls, doc_id, md5(text) AS h, CAST(len($dToks) AS BIGINT) AS ntok FROM documents), f AS (SELECT h, MIN(doc_id) AS first FROM t GROUP BY 1), j AS (SELECT t.cls, t.ntok, CASE WHEN t.doc_id <> f.first THEN 1 ELSE 0 END AS dup FROM t JOIN f USING (h)) SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens, CAST(SUM(dup) AS BIGINT) AS dup_docs, CAST(SUM(dup*ntok) AS BIGINT) AS dup_tokens, CAST(CASE WHEN SUM(ntok) = 0 THEN 0 ELSE SUM(dup*ntok)*1000000 // SUM(ntok) END AS BIGINT) AS savings_ppm FROM j GROUP BY 1 ORDER BY cls"""),
      (s, dir) => Dedup.savingsReport(docs(tune(s), dir), "text", "doc_id",
        "source").orderBy("cls")),

    // per-user behavioral entropy over event-type transitions — the
    // bot/script detector signal, qlog2 fixed point
    Q("q172_behavior_entropy", Some(
      s"""WITH v AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, event_type AS t FROM events), m AS (SELECT user_id, t, lag(t) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev FROM v), tr AS (SELECT user_id, prev, t FROM m WHERE prev IS NOT NULL), c AS (SELECT user_id, prev, t, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2, 3), tt AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nd FROM c GROUP BY 1) SELECT c.user_id AS key, tt.n AS n_transitions, tt.nd AS n_distinct_transitions, CAST(SUM(c.c*(${dQlog2("tt.n")} - ${dQlog2("c.c")})) // tt.n AS BIGINT) AS entropy_q FROM c JOIN tt USING (user_id) GROUP BY 1, 2, 3 ORDER BY key"""),
      (s, dir) => graft.streaming.EventTimeOps.behaviorEntropy(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_id"), col("event_type")),
        "user_id", "ts_ms", "event_id", "event_type")
        .orderBy("key")),

    // FORWARD as-of join: the next view at-or-after each purchase — same
    // time-sliced skew-safe plan as q74, via time negation
    Q("q173_asof_forward", Some(
      """WITH l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events WHERE event_type = 'purchase'), r AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, MAX(event_id) AS view_event FROM events WHERE event_type = 'view' GROUP BY 1, 2) SELECT l.event_id AS event_id, l.user_id AS user_id, l.ts_us AS ts_us, r.view_event AS asof_view_event FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us <= r.ts_us ORDER BY event_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .withColumn("ts_us", expr("ts DIV 1000"))
        val l = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val r = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("event_id")).as("view_event"))
        AsofJoin.asofJoinForward(l, r, "user_id", "ts_us",
          Seq("view_event"), sliceWidth = Some(12.0 * 3600 * 1e6))
          .orderBy("event_id")
      }),

    // equi-depth target-rate bins: spend deciles × purchase rate — the
    // score-column monotonicity read; map-only binning off broadcast
    // quantile boundaries
    Q("q174_target_rate_bins", Some(
      """WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) AS cents, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events), r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn, COUNT(*) OVER () AS n FROM v), p AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS q), bd AS (SELECT p.q, MAX(CASE WHEN r.rn = (r.n*p.q + 99)//100 THEN r.cents END) AS b FROM r CROSS JOIN p GROUP BY p.q), bl AS (SELECT list(b ORDER BY q) AS bs FROM bd), bins AS (SELECT v.cents, v.pos, CAST(len(list_filter(bl.bs, x -> v.cents > x)) AS BIGINT) AS bin FROM v CROSS JOIN bl) SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(pos)*1000000 // COUNT(*) AS BIGINT) AS rate_ppm, CAST(MIN(cents) AS BIGINT) AS min_v, CAST(MAX(cents) AS BIGINT) AS max_v FROM bins GROUP BY 1 ORDER BY bin"""),
      (s, dir) => Stats.binTargetRates(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "cents", "event_type", "purchase", nBins = 10)
        .orderBy("bin")),

    // per-day distinct users: HLL estimate beside the exact count — the
    // windowed rollup form (streaming variant spec-pinned, same registers)
    Q("q175_window_distinct", Some(
      """WITH v AS (SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day, user_id AS h FROM events), mx1 AS (SELECT day, h, (xor(h >> 16, h) * 73244475) & 2147483647 AS h1 FROM v), mx2 AS (SELECT day, h, (xor(h1 >> 16, h1) * 73244475) & 2147483647 AS h2 FROM mx1), mx AS (SELECT day, h, xor(h2 >> 16, h2) AS hm FROM mx2), b AS (SELECT day, hm >> 23 AS bucket, CASE WHEN (hm & 8388607) = 0 THEN 24 ELSE 24 - length(bin(hm & 8388607)) END AS rho FROM mx), mj AS (SELECT day, bucket, CAST(MAX(rho) AS BIGINT) AS m_j FROM b GROUP BY 1, 2), a AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS occupied_buckets, CAST(SUM(1073741824 >> CAST(m_j AS INT)) AS BIGINT) AS s_occ FROM mj GROUP BY 1), x AS (SELECT day, CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_distinct FROM v GROUP BY 1) SELECT a.day, occupied_buckets, CAST(s_occ + (256 - occupied_buckets) * 1073741824 AS BIGINT) AS sketch_sum, CAST(718273 * (70368744177664 // (s_occ + (256 - occupied_buckets) * 1073741824)) // 1000000 AS BIGINT) AS est_distinct, x.exact_distinct FROM a JOIN x USING (day) ORDER BY a.day"""),
      (s, dir) => {
        val h = KafkaLike.events(tune(s), dir)
          .select(IntMath.idiv(col("ts"), lit(86400000L) * 1000000L)
            .as("day"), col("user_id").as("h"))
        val est = Stats.hllDistinct(h, "day", "h")
        val exact = h.distinct().groupBy("day")
          .agg(count(lit(1)).as("exact_distinct"))
        est.join(exact, "day").orderBy("day")
      }),

    // per-user session-shape report over the gap sessionizer: counts,
    // deepest session, mean duration — the engagement/bot heuristic
    Q("q176_session_stats", Some(
      """WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events), g AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e), s AS (SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g), sess AS (SELECT CAST(user_id AS BIGINT) AS key, CAST(session_id AS BIGINT) AS sid, CAST(COUNT(*) AS BIGINT) AS n_events, MIN(ms) AS start_ms, MAX(ms) AS end_ms FROM s GROUP BY 1, 2) SELECT key, CAST(COUNT(*) AS BIGINT) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS n_events, CAST(MAX(n_events) AS BIGINT) AS max_session_events, CAST(SUM(end_ms - start_ms) // COUNT(*) AS BIGINT) AS avg_session_ms FROM sess GROUP BY 1 ORDER BY key"""),
      (s, dir) => graft.streaming.EventTimeOps.sessionStats(
        KafkaLike.frame(tune(s), dir), 1800000L)
        .select(col("key").cast(LongType).as("key"), col("n_sessions"),
          col("n_events"), col("max_session_events"), col("avg_session_ms"))
        .orderBy("key")),

    // feature-store numeric profile: exact integer mean/variance per
    // column via one unpivot + one partial-agg groupBy
    Q("q177_feature_stats", Some(
      """WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(floor(l_extendedprice) AS BIGINT) AS price_usd, CAST(floor(l_discount*1000) AS BIGINT) AS disc_pmil FROM lineitem), u AS (SELECT 'qty' AS feature, qty AS v FROM f UNION ALL SELECT 'price_usd', price_usd FROM f UNION ALL SELECT 'disc_pmil', disc_pmil FROM f), m AS (SELECT feature, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(v) AS BIGINT) AS min_v, CAST(MAX(v) AS BIGINT) AS max_v, CAST(SUM(v) AS BIGINT) AS sum_v, CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean FROM u GROUP BY 1), d AS (SELECT u.feature, u.v - m.mean AS d FROM u JOIN m USING (feature)), s2 AS (SELECT feature, CAST(SUM(d) AS BIGINT) AS b, CAST(SUM(d*d) AS BIGINT) AS a FROM d GROUP BY 1) SELECT m.feature, m.n, m.min_v, m.max_v, m.sum_v, m.mean, CAST((s2.a - (s2.b*s2.b) // m.n) // m.n AS BIGINT) AS variance FROM m JOIN s2 USING (feature) ORDER BY feature"""),
      (s, dir) => Stats.featureStats(
        lineitem(tune(s), dir).select(
          col("l_quantity").cast(LongType).as("qty"),
          floor(col("l_extendedprice")).cast(LongType).as("price_usd"),
          floor(col("l_discount") * 1000).cast(LongType).as("disc_pmil")),
        Seq("qty", "price_usd", "disc_pmil"))
        .orderBy("feature")),

    // label-noise audit: per item, how many of its 5 nearest neighbors
    // disagree with its label — the mislabel review queue
    Q("q178_label_noise", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, label FROM embeddings), sc AS (SELECT q.item_id AS query_id, c.item_id, q.label AS ql, c.label AS il, CAST(list_sum(list_transform(range(len(c.qv)), i -> c.qv[CAST(i+1 AS INT)]*q.qv[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM v q JOIN v c ON q.item_id <> c.item_id), r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM sc), nn AS (SELECT * FROM r WHERE rank <= 5) SELECT query_id AS item_id, ql AS label, CAST(COUNT(*) AS BIGINT) AS n_neighbors, CAST(SUM(CASE WHEN il <> ql THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree, CAST(SUM(CASE WHEN il <> ql THEN 1 ELSE 0 END)*1000000 // COUNT(*) AS BIGINT) AS disagree_ppm FROM nn GROUP BY 1, 2 ORDER BY item_id"""),
      (s, dir) => Similarity.labelNoiseReport(embeddings(tune(s), dir),
        "vec_id", "embedding", "label", k = 5)
        .orderBy("item_id")),

    // class balance + effective number of classes (inverse Simpson ×1000)
    // — the imbalance line of the data card
    Q("q179_class_balance", Some(
      """WITH c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS c FROM embeddings GROUP BY 1), t AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(c*c) AS BIGINT) AS ss FROM c) SELECT c.label, c.c, CAST(c.c*1000000 // t.n AS BIGINT) AS share_ppm, CAST(t.n*t.n*1000 // t.ss AS BIGINT) AS effective_classes_x1000 FROM c CROSS JOIN t ORDER BY label"""),
      (s, dir) => Stats.classBalanceReport(embeddings(tune(s), dir), "label")
        .orderBy("label")),

    // trailing 7-day distinct users: daily HLL sketches merged per target
    // day (sketch rows only — the mergeability payoff) beside the exact
    Q("q180_trailing_distinct", Some(
      """WITH v AS (SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day, user_id AS h FROM events), days AS (SELECT DISTINCT day FROM v), mx1 AS (SELECT day, h, (xor(h >> 16, h) * 73244475) & 2147483647 AS h1 FROM v), mx2 AS (SELECT day, h, (xor(h1 >> 16, h1) * 73244475) & 2147483647 AS h2 FROM mx1), mx AS (SELECT day, h, xor(h2 >> 16, h2) AS hm FROM mx2), b AS (SELECT day, hm >> 23 AS bucket, CASE WHEN (hm & 8388607) = 0 THEN 24 ELSE 24 - length(bin(hm & 8388607)) END AS rho FROM mx), mj AS (SELECT day, bucket, CAST(MAX(rho) AS BIGINT) AS m_j FROM b GROUP BY 1, 2), tm AS (SELECT d.day, mj.bucket, CAST(MAX(mj.m_j) AS BIGINT) AS m_j FROM days d JOIN mj ON mj.day <= d.day AND mj.day > d.day - 7 GROUP BY 1, 2), a AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS occupied_buckets, CAST(SUM(1073741824 >> CAST(m_j AS INT)) AS BIGINT) AS s_occ FROM tm GROUP BY 1), p AS (SELECT DISTINCT day, h FROM v), x AS (SELECT d.day, CAST(COUNT(DISTINCT p.h) AS BIGINT) AS exact_distinct FROM days d JOIN p ON p.day <= d.day AND p.day > d.day - 7 GROUP BY 1) SELECT a.day, a.occupied_buckets, CAST(s_occ + (256 - occupied_buckets) * 1073741824 AS BIGINT) AS sketch_sum, CAST(718273 * (70368744177664 // (s_occ + (256 - occupied_buckets) * 1073741824)) // 1000000 AS BIGINT) AS est_distinct, x.exact_distinct FROM a JOIN x USING (day) ORDER BY a.day"""),
      (s, dir) => {
        val h = KafkaLike.events(tune(s), dir)
          .select(IntMath.idiv(col("ts"), lit(86400000L) * 1000000L)
            .as("day"), col("user_id").as("h"))
        val est = Stats.hllTrailingDistinct(h, "day", "h", windowDays = 7)
        val pairs = h.distinct()
        val days = pairs.select("day").distinct()
        val exact = days.join(pairs.withColumnRenamed("day", "d2"),
            col("d2") <= col("day") && col("d2") > col("day") - 7L)
          .groupBy("day").agg(countDistinct("h").as("exact_distinct"))
        est.join(exact, "day").orderBy("day")
      }),

    // conversion attribution: last view at-or-before each purchase plus
    // the first view inside the trailing 7 days — asof + range-join core
    Q("q181_attribution", Some(
      """WITH c AS (SELECT event_id AS conv_id, user_id AS key, CAST(epoch_ms(ts) AS BIGINT) AS ts FROM events WHERE event_type = 'purchase'), t AS (SELECT user_id AS key, CAST(epoch_ms(ts) AS BIGINT) AS ts, MAX(event_id) AS touch_id FROM events WHERE event_type = 'view' GROUP BY 1, 2), lt AS (SELECT c.conv_id, c.key, c.ts, t.touch_id AS last_touch_id FROM c ASOF LEFT JOIN t ON c.key = t.key AND c.ts >= t.ts), tp AS (SELECT user_id AS key, CAST(epoch_ms(ts) AS BIGINT) AS ts, event_id AS touch_id FROM events WHERE event_type = 'view'), fw0 AS (SELECT c.conv_id, MIN(tp.ts) AS fts FROM c JOIN tp ON c.key = tp.key AND tp.ts >= c.ts - 604800000 AND tp.ts <= c.ts GROUP BY 1), fw AS (SELECT fw0.conv_id, CAST(MIN(tp.touch_id) AS BIGINT) AS first_touch_id FROM fw0 JOIN c ON fw0.conv_id = c.conv_id JOIN tp ON c.key = tp.key AND tp.ts = fw0.fts GROUP BY 1) SELECT lt.conv_id, lt.key, lt.ts, lt.last_touch_id, fw.first_touch_id FROM lt LEFT JOIN fw USING (conv_id) ORDER BY conv_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"))
        graft.streaming.EventTimeOps.attribution(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"),
          "user_id", "ts_ms", "event_id", windowMs = 604800000L)
          .orderBy("conv_id")
      }),

    // order-independent dataset fingerprint: count + XOR/SUM of a portable
    // row hash — the no-sort "are these copies identical" check
    Q("q182_fingerprint", Some(
      s"""WITH h AS (SELECT ${dFold("concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))")} AS h FROM lineitem) SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS xor_hash, CAST(SUM(h) AS BIGINT) AS sum_hash FROM h"""),
      (s, dir) => Stats.datasetFingerprint(lineitem(tune(s), dir),
        Seq("l_orderkey", "l_partkey", "l_linenumber"))),

    // vocabulary head coverage: token-mass share of the top-{10,100,1000}
    // terms — the vocab-sizing / OOV-rate curve
    Q("q183_vocab_coverage", Some(
      s"""WITH tk AS (SELECT unnest($dToks) AS token FROM documents), tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1), tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS vocab FROM tf), top AS (SELECT token, tf, row_number() OVER (ORDER BY tf DESC, token ASC) AS rn FROM tf QUALIFY rn <= 1000), p AS (SELECT unnest([10, 100, 1000]) AS k) SELECT CAST(p.k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS terms_used, CAST(SUM(top.tf) AS BIGINT) AS covered_tokens, CAST(SUM(top.tf)*1000000 // tot.total AS BIGINT) AS coverage_ppm, tot.vocab AS vocab_size FROM p JOIN top ON top.rn <= p.k CROSS JOIN tot GROUP BY 1, tot.total, tot.vocab ORDER BY k"""),
      (s, dir) => TextAnalysis.vocabCoverage(docs(tune(s), dir), "text",
        Seq(10, 100, 1000)).orderBy("k")),

    // missingness / cardinality profile: the schema-health data-card half
    Q("q184_missingness", Some(
      """WITH u AS (SELECT 'c_custkey' AS feature, CAST(c_custkey AS VARCHAR) AS v FROM customer UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer) SELECT feature, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)*1000000 // COUNT(*) AS BIGINT) AS null_ppm, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct FROM u GROUP BY 1 ORDER BY feature"""),
      (s, dir) => Stats.missingnessReport(customer(tune(s), dir),
        Seq("c_custkey", "c_mktsegment", "c_nationkey"))
        .orderBy("feature")),

    // contiguous global rank without a global sort: two-stage bucketed
    // scan + bucket-keyed windows — exactly row_number() over (v, id)
    Q("q185_global_rank", Some(
      """WITH v AS (SELECT event_id, CAST(floor(value*100) AS BIGINT) AS cents FROM events) SELECT event_id, cents, CAST(row_number() OVER (ORDER BY cents, event_id) AS BIGINT) AS rank FROM v ORDER BY event_id"""),
      (s, dir) => Stats.globalRank(
        KafkaLike.events(tune(s), dir)
          .select(col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "cents", "event_id")
        .orderBy("event_id")),

    // bloom-pruned equi-join: broadcast runtime filter drops unmatchable
    // left rows pre-shuffle; result hash-equals the plain inner join
    Q("q186_bloom_join", Some(
      """SELECT o.o_custkey AS custkey, o.o_orderkey, c.c_nationkey FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = 'BUILDING' ORDER BY o_orderkey"""),
      (s, dir) => Stats.bloomPrunedJoin(
        orders(tune(s), dir).select(col("o_orderkey"),
          col("o_custkey").as("custkey")),
        customer(tune(s), dir).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey"), col("c_nationkey")),
        "custkey")
        .select("custkey", "o_orderkey", "c_nationkey")
        .orderBy("o_orderkey")),

    // temperature-scaled mixture weights (n^0.5 via the qlog2/qexp2 pair)
    // — the mT5 small-source upsampling rule, bit-deterministic
    Q("q187_temperature_mix", Some(
      s"""WITH c AS (SELECT source AS cls, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1), sx AS (SELECT cls, n, (${dQlog2("n")}) * 500 // 1000 AS s FROM c), wq AS (SELECT cls, n, ((1024 + (s % 1024)) << CAST(s // 1024 AS INT)) // 1024 AS w FROM sx), t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wq) SELECT cls, n, CAST(w*1000000 // t.tw AS BIGINT) AS weight_ppm FROM wq CROSS JOIN t ORDER BY cls"""),
      (s, dir) => Sampling.temperatureWeights(docs(tune(s), dir), "source",
        alphaPermille = 500).orderBy("cls")),

    // churn labels: last activity before the trailing-horizon cutoff —
    // deterministic supervised-label derivation
    Q("q188_churn_labels", Some(
      """WITH v AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), m AS (SELECT CAST(MAX(ts_ms) AS BIGINT) - 604800000 AS cutoff FROM v) SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(MAX(ts_ms) AS BIGINT) AS last_ts, MAX(ts_ms) < m.cutoff AS churned FROM v CROSS JOIN m GROUP BY 1, m.cutoff ORDER BY key"""),
      (s, dir) => graft.streaming.EventTimeOps.churnLabels(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms")),
        "user_id", "ts_ms", horizonMs = 604800000L)
        .orderBy("key")),

    // blocklist screen: per-doc phrase bitmask + hit count — the map-only
    // safety/keyword filter with a broadcast literal phrase chain
    Q("q189_blocklist", Some(
      """WITH m AS (SELECT doc_id AS id, CAST((CASE WHEN contains(text, 'window') THEN 1 ELSE 0 END) + (CASE WHEN contains(text, 'customer') THEN 2 ELSE 0 END) + (CASE WHEN contains(text, 'hash') THEN 4 ELSE 0 END) AS BIGINT) AS hit_mask FROM documents) SELECT id, hit_mask, CAST(bit_count(hit_mask) AS BIGINT) AS n_hits FROM m ORDER BY id"""),
      (s, dir) => TextAnalysis.blocklistScreen(docs(tune(s), dir), "text",
        "doc_id", Seq("window", "customer", "hash"))
        .orderBy("id")),

    // deterministic bootstrap stability: 16 hash-selected replicates of
    // the spend metric — spread with zero randomness
    Q("q190_bootstrap", Some(
      """WITH v AS (SELECT event_id, CAST(floor(value*100) AS BIGINT) AS cents FROM events), r AS (SELECT unnest(range(16)) AS replicate), j AS (SELECT r.replicate, v.cents FROM v CROSS JOIN r WHERE ((((v.event_id*1009 + r.replicate) % 2147483647) * 2654435761) % 2147483647) % 100 < 63) SELECT CAST(replicate AS BIGINT) AS replicate, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sum_v FROM j GROUP BY 1 ORDER BY replicate"""),
      (s, dir) => Sampling.bootstrapStability(
        KafkaLike.events(tune(s), dir)
          .select(col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "event_id", "cents", nReplicates = 16, ratePct = 63)
        .orderBy("replicate")),

    // split-parity audit: does the stratified split preserve the size
    // metric across train/val/test — the bias check after any split
    Q("q191_split_parity", Some(
      """WITH r AS (SELECT doc_id, source, n_chars, CAST(row_number() OVER (PARTITION BY source ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS BIGINT) AS r, CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM documents), sp AS (SELECT doc_id, n_chars, CASE WHEN r*100 <= n*80 THEN 'train' WHEN r*100 <= n*90 THEN 'val' ELSE 'test' END AS split FROM r) SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars, CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars FROM sp GROUP BY 1 ORDER BY split"""),
      (s, dir) => Sampling.stratifiedSplit(
        docs(tune(s), dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
          IntMath.idiv(sum("n_chars"), count(lit(1))).as("mean_chars"))
        .orderBy("split")),

    // dup-cluster size histogram: the one-page duplication-shape summary
    Q("q192_cluster_hist", Some(
      """WITH e AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY 1) SELECT n_copies AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters, CAST(n_copies*COUNT(*) AS BIGINT) AS n_docs FROM e GROUP BY 1 ORDER BY cluster_size"""),
      (s, dir) => Dedup.clusterSizeHistogram(docs(tune(s), dir), "text",
        "doc_id").orderBy("cluster_size")),

    // QQ comparison of purchase vs view spend distributions — the
    // value-scaled calibration read beside q157's rank-scaled KS
    Q("q193_qq_compare", Some(
      """WITH a AS (SELECT CAST(floor(value*100) AS BIGINT) AS v FROM events WHERE event_type = 'purchase'), b AS (SELECT CAST(floor(value*100) AS BIGINT) AS v FROM events WHERE event_type = 'view'), p AS (SELECT unnest([10, 25, 50, 75, 90]) AS q_pct), ra AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, COUNT(*) OVER () AS n FROM a), qa AS (SELECT p.q_pct, MAX(CASE WHEN ra.rn = (ra.n*p.q_pct + 99)//100 THEN ra.v END) AS value_a FROM ra CROSS JOIN p GROUP BY 1), rb AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, COUNT(*) OVER () AS n FROM b), qb AS (SELECT p.q_pct, MAX(CASE WHEN rb.rn = (rb.n*p.q_pct + 99)//100 THEN rb.v END) AS value_b FROM rb CROSS JOIN p GROUP BY 1) SELECT CAST(qa.q_pct AS INT) AS q_pct, qa.value_a, qb.value_b, CAST(CASE WHEN qb.value_b = 0 THEN 0 ELSE qa.value_a*1000 // qb.value_b END AS BIGINT) AS ratio_x1000 FROM qa JOIN qb USING (q_pct) ORDER BY q_pct"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents"))
        Stats.qqCompare(ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"), "cents",
          Seq(10, 25, 50, 75, 90))
          .orderBy("q_pct")
      }),

    // range-partition write plan: proposed equi-depth ranges + the exact
    // balance audit before a repartitionByRange commit
    Q("q194_range_plan", Some(
      """WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) AS v FROM events), r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, COUNT(*) OVER () AS n FROM v), p AS (SELECT unnest([12, 25, 37, 50, 62, 75, 87]) AS q), bd AS (SELECT p.q, MAX(CASE WHEN r.rn = (r.n*p.q + 99)//100 THEN r.v END) AS b FROM r CROSS JOIN p GROUP BY 1), bl AS (SELECT list(b ORDER BY q) AS bs FROM bd), pt AS (SELECT v.v, CAST(len(list_filter(bl.bs, x -> v.v > x)) AS BIGINT) AS partition FROM v CROSS JOIN bl), c AS (SELECT partition, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(v) AS BIGINT) AS min_v, CAST(MAX(v) AS BIGINT) AS max_v FROM pt GROUP BY 1), t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c) SELECT c.partition, c.n, c.min_v, c.max_v, CAST(c.n*8*1000 // t.t AS BIGINT) AS vs_even_x1000 FROM c CROSS JOIN t ORDER BY partition"""),
      (s, dir) => Stats.rangePartitionPlan(
        KafkaLike.events(tune(s), dir)
          .select(floor(col("value") * 100).cast(LongType).as("cents")),
        "cents", nPartitions = 8)
        .orderBy("partition")),

    // functional-dependency audit: does l_orderkey determine l_suppkey?
    // (it should NOT — the violation mass is the evidence)
    Q("q195_fd_audit", Some(
      """WITH p AS (SELECT l_orderkey AS a, l_suppkey AS b, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), g AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ndv, CAST(SUM(c) AS BIGINT) AS rws FROM p GROUP BY 1) SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, CAST(SUM(CASE WHEN ndv > 1 THEN rws ELSE 0 END) AS BIGINT) AS violating_rows, CAST(SUM(CASE WHEN ndv > 1 THEN rws ELSE 0 END)*1000000 // SUM(rws) AS BIGINT) AS violate_ppm FROM g"""),
      (s, dir) => Stats.fdAudit(lineitem(tune(s), dir),
        "l_orderkey", "l_suppkey")),

    // day-over-day rate change per user: the spike/collapse detector
    Q("q196_rate_change", Some(
      """WITH d AS (SELECT user_id AS key, CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), w AS (SELECT key, day, n, lag(n) OVER (PARTITION BY key ORDER BY day) AS prev_n FROM d) SELECT key, day, n, CAST(COALESCE(prev_n, 0) AS BIGINT) AS prev_n, CAST(CASE WHEN prev_n IS NULL THEN 0 ELSE n*1000 // prev_n END AS BIGINT) AS change_x1000 FROM w ORDER BY key, day"""),
      (s, dir) => graft.streaming.EventTimeOps.rateChangeReport(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms")),
        "user_id", "ts_ms")
        .orderBy("key", "day")),

    // time-bounded funnel: each step within 1h of the previous step's
    // earliest completion — conversion-within-SLA, not just ordering
    Q("q197_windowed_funnel", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS ts, event_type AS et FROM events), s1 AS (SELECT k, MIN(ts) AS t FROM e WHERE et = 'view' GROUP BY 1), s2 AS (SELECT e.k, MIN(e.ts) AS t FROM e JOIN s1 ON e.k = s1.k WHERE e.et = 'click' AND e.ts > s1.t AND e.ts <= s1.t + 3600000 GROUP BY 1), s3 AS (SELECT e.k, MIN(e.ts) AS t FROM e JOIN s2 ON e.k = s2.k WHERE e.et = 'purchase' AND e.ts > s2.t AND e.ts <= s2.t + 3600000 GROUP BY 1) SELECT CAST(1 AS INT) AS step, 'view' AS step_name, (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_keys UNION ALL SELECT 2, 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) UNION ALL SELECT 3, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) ORDER BY step"""),
      (s, dir) => graft.streaming.EventTimeOps.funnelWindowed(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
            col("event_type")),
        "user_id", "ts_ms", "event_type",
        Seq("view", "click", "purchase"), maxGapMs = 3600000L)
        .orderBy("step")),

    // A/B lift readout: per-variant conversion in ppm + lift vs control
    Q("q198_ab_lift", Some(
      """WITH v AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant, event_type = 'purchase' AS conv FROM events), p AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_conv FROM v GROUP BY 1), r AS (SELECT *, CAST(n_conv*1000000 // n AS BIGINT) AS rate_ppm FROM p), c AS (SELECT rate_ppm AS ctl FROM r WHERE variant = 'a') SELECT r.variant, r.n, r.n_conv, r.rate_ppm, CAST(CASE WHEN c.ctl = 0 THEN 0 ELSE r.rate_ppm*1000 // c.ctl END AS BIGINT) AS lift_x1000 FROM r CROSS JOIN c ORDER BY variant"""),
      (s, dir) => Stats.abLift(
        KafkaLike.events(tune(s), dir)
          .select(when(col("user_id") % 2 === 0, "a").otherwise("b")
            .as("variant"),
            (col("event_type") === "purchase").as("conv")),
        "variant", "conv", control = "a")
        .orderBy("variant")),

    // cumulative gain table: positives captured by score decile vs the
    // random baseline — ranking via the no-global-sort globalRank
    Q("q199_gain_table", Some(
      """WITH v AS (SELECT event_id, CAST(floor(value*100) AS BIGINT) AS cents, event_type = 'purchase' AS conv FROM events), r AS (SELECT *, CAST(row_number() OVER (ORDER BY -cents, event_id) AS BIGINT) AS rank, CAST(COUNT(*) OVER () AS BIGINT) AS n FROM v), b AS (SELECT LEAST((rank - 1)*10 // n + 1, 10) AS bin, conv FROM r), p AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_pos FROM b GROUP BY 1), t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp, CAST(SUM(n) AS BIGINT) AS tn FROM p), c AS (SELECT bin, n, n_pos, CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cum_pos, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum_n FROM p) SELECT CAST(c.bin AS BIGINT) AS bin, c.n, c.n_pos, c.cum_pos, CAST(CASE WHEN t.tp = 0 THEN 0 ELSE c.cum_pos*1000000 // t.tp END AS BIGINT) AS cum_pos_ppm_of_all, CAST(CASE WHEN t.tp = 0 OR c.cum_n = 0 THEN 0 ELSE (c.cum_pos*1000000 // t.tp) * t.tn // (c.cum_n*1000) END AS BIGINT) AS gain_x1000 FROM c CROSS JOIN t ORDER BY bin"""),
      (s, dir) => Stats.gainTable(
        KafkaLike.events(tune(s), dir)
          .select(col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents"),
            (col("event_type") === "purchase").as("conv")),
        "cents", "event_id", "conv", nBins = 10)
        .orderBy("bin")),

    // q200 — the end-to-end curation manifest: quality ∧ language ∧
    // near-dup removal (q41's survivor set) ranked by stopword density
    // and budget-selected to a 10k-token corpus with exact offsets —
    // every stage an already-oracled operator, composed in ONE plan
    Q("q200_curation_manifest", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), q AS (SELECT doc_id, text, $dToks AS tk FROM documents), sc0 AS (SELECT doc_id, text, tk, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS s_de, CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','is','that'))) AS BIGINT) AS s_en, CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','los','es'))) AS BIGINT) AS s_es, CAST(len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS BIGINT) AS s_fr FROM q), lg AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr) AS m FROM sc0), surv AS (SELECT doc_id, tk FROM lg WHERE length(text) >= 100 AND (length(text) - length(translate(text, '.,;:!?', ''))) * 10 <= length(text) AND len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) >= 1 AND (CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' ELSE 'und' END) = 'en' AND doc_id NOT IN (SELECT doc_b FROM cand)), b AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, CAST(len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS BIGINT) AS sw FROM surv), sc AS (SELECT doc_id, n_tokens, CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE sw * 100 // n_tokens END AS BIGINT) AS score FROM b), c AS (SELECT doc_id, score, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off FROM sc) SELECT doc_id, score, n_tokens, start_off FROM c WHERE start_off < 10000 ORDER BY score DESC, doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val filtered = d.filter(TextAnalysis.qualityOk(col("text")) &&
          TextAnalysis.langId(col("text")) === "en")
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val surv = Dedup.applyNearDedup(filtered, cands, "doc_id")
        val base = surv.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.stopwordCount(col("text")).as("sw"))
          .withColumn("score", when(col("n_tokens") === 0, 0L)
            .otherwise(expr("sw * 100 DIV n_tokens")))
          .drop("sw")
        Packing.budgetSelect(base, "score", "doc_id", "n_tokens", 10000L)
          .select(col("doc_id"), col("score"), col("n_tokens"),
            col("start_off"))
          .orderBy(col("score").desc, col("doc_id"))
      }),

    // EXACT all-pairs token-set cosine (APSS, Bayardo WWW'07 prefix
    // filter): the prefix filter is lossless, so the oracle is plain
    // brute force over the DF-capped sets — identical output by theorem
    Q("q201_all_pairs_cosine", Some(
      s"""$dShingles, dfc AS (SELECT h FROM shex GROUP BY h HAVING COUNT(*) <= 100), caps AS (SELECT s.doc_id, s.h FROM shex s JOIN dfc USING (h)), sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM caps GROUP BY 1), ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS overlap FROM caps a JOIN caps b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, overlap, sa.n AS n_a, sb.n AS n_b FROM ov JOIN sz sa ON ov.doc_a = sa.doc_id JOIN sz sb ON ov.doc_b = sb.doc_id WHERE overlap*overlap*1000000 >= 490000*sa.n*sb.n ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.allPairsCosine(docs(tune(s), dir), "text", "doc_id",
        minCosinePermille = 700, maxShingleDF = 100)
        .orderBy("doc_a", "doc_b")),

    // leakage-safe target encoding: every cell's mean target EXCLUDES its
    // own fold; empty out-of-fold cells fall back to the global OOF prior
    Q("q202_target_encode_oof", Some(
      """WITH r AS (SELECT o_orderpriority AS category, CAST(o_orderkey % 5 AS BIGINT) AS fold, CAST(floor(o_totalprice) AS BIGINT) AS t FROM orders), cf AS (SELECT category, fold, CAST(SUM(t) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n_in FROM r GROUP BY 1, 2), ct AS (SELECT category, CAST(SUM(s) AS BIGINT) AS st, CAST(SUM(n_in) AS BIGINT) AS ctot FROM cf GROUP BY 1), fd AS (SELECT fold, CAST(SUM(s) AS BIGINT) AS gs, CAST(SUM(n_in) AS BIGINT) AS gc FROM cf GROUP BY 1), g AS (SELECT CAST(SUM(s) AS BIGINT) AS ts, CAST(SUM(n_in) AS BIGINT) AS tc FROM cf) SELECT category, fold, n_in, ctot - n_in AS n_out, CAST(CASE WHEN ctot > n_in THEN (st - s)*10000 // (ctot - n_in) ELSE CASE WHEN tc > gc THEN (ts - gs)*10000 // (tc - gc) ELSE 0 END END AS BIGINT) AS enc_scaled FROM cf JOIN ct USING (category) JOIN fd USING (fold) CROSS JOIN g ORDER BY category, fold"""),
      (s, dir) => Stats.targetEncodeOof(
        orders(tune(s), dir).select(col("o_orderpriority").as("category"),
          pmod(col("o_orderkey"), lit(5L)).as("fold"),
          floor(col("o_totalprice")).cast(LongType).as("t")),
        "category", "t", "fold")
        .orderBy("category", "fold")),

    // tie-aware Wilcoxon rank-sum per event type over pooled value cents
    // (doubled midranks keep the statistic integer-exact)
    Q("q203_rank_sum_test", Some(
      """WITH v AS (SELECT event_type AS grp, CAST(floor(value*100) AS BIGINT) AS x FROM events), m AS (SELECT grp, CAST(2*rank() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS mr2 FROM v) SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(mr2) AS BIGINT) AS rank_sum_x2, CAST(SUM(mr2) - COUNT(*)*(COUNT(*)+1) AS BIGINT) AS u_x2 FROM m GROUP BY grp ORDER BY grp"""),
      (s, dir) => Stats.rankSumTest(
        KafkaLike.events(tune(s), dir).select(col("event_type"),
          floor(col("value") * 100).cast(LongType).as("x")),
        "event_type", "x")
        .orderBy("grp")),

    // exact per-class Gini concentration of order value (integer fraction
    // gini_num/gini_den; row-rank formula in the oracle, cell formula in
    // the operator — tie blocks make them provably equal)
    Q("q204_gini_concentration", Some(
      """WITH v AS (SELECT o_orderpriority AS cls, CAST(floor(o_totalprice) AS BIGINT) AS x FROM orders), r AS (SELECT cls, x, CAST(row_number() OVER (PARTITION BY cls ORDER BY x) AS BIGINT) AS rn, CAST(COUNT(*) OVER (PARTITION BY cls) AS BIGINT) AS n FROM v) SELECT cls, CAST(MAX(n) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sum_value, CAST(SUM((2*rn - n - 1)*x) AS BIGINT) AS gini_num, CAST(MAX(n)*SUM(x) AS BIGINT) AS gini_den FROM r GROUP BY cls ORDER BY cls"""),
      (s, dir) => Stats.giniReport(
        orders(tune(s), dir).select(col("o_orderpriority").as("cls"),
          floor(col("o_totalprice")).cast(LongType).as("x")),
        "cls", "x")
        .orderBy("cls")),

    // nDCG@10 of label-relevance retrieval: exact top-k list (q33/q170
    // machinery), qlog2 fixed-point discounts, ideal = same list re-ranked
    Q("q205_ndcg", Some(
      s"""WITH v AS (SELECT vec_id AS item_id, $dQuant AS qv, label FROM embeddings), q AS (SELECT item_id AS query_id, qv AS qq, label AS ql FROM v WHERE item_id < 50), sc AS (SELECT query_id, item_id, CASE WHEN v.label = ql THEN 1 ELSE 0 END AS rel, CAST(list_sum(list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)]*qq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM v CROSS JOIN q WHERE item_id <> query_id), r0 AS (SELECT query_id, rel, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, item_id ASC) AS rank FROM sc), r AS (SELECT query_id, CAST(rel AS BIGINT) AS rel, CAST(rank AS BIGINT) AS rank FROM r0 WHERE rank <= 10), d AS (SELECT query_id, CAST(SUM(rel*1048576 // ${dQlog2("rank+1")}) AS BIGINT) AS dcg_q FROM r GROUP BY 1), ir AS (SELECT query_id, rel, CAST(row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rank ASC) AS BIGINT) AS irank FROM r), i AS (SELECT query_id, CAST(SUM(rel*1048576 // ${dQlog2("irank+1")}) AS BIGINT) AS idcg_q FROM ir WHERE irank <= 10 GROUP BY 1) SELECT q.query_id, CAST(COALESCE(d.dcg_q, 0) AS BIGINT) AS dcg_q, CAST(COALESCE(i.idcg_q, 0) AS BIGINT) AS idcg_q, CAST(CASE WHEN COALESCE(i.idcg_q, 0) = 0 THEN 0 ELSE COALESCE(d.dcg_q, 0)*1000000 // i.idcg_q END AS BIGINT) AS ndcg_ppm FROM q LEFT JOIN d USING (query_id) LEFT JOIN i USING (query_id) ORDER BY query_id"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        val ranked = Similarity.bruteForceTopK(e,
            e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
          .join(e.select(col("vec_id").as("item_id"),
            col("label").as("__il")), "item_id")
          .join(e.select(col("vec_id").as("query_id"),
            col("label").as("__ql")), "query_id")
          .select(col("query_id"), col("rank"),
            when(col("__il") === col("__ql"), 1L).otherwise(0L).as("rel"))
        Stats.ndcgReport(ranked, "query_id", "rank", "rel", k = 10)
          .orderBy("query_id")
      }),

    // seasonal-naive arrival-rate drift: predict each day's count with
    // day−7's, score only days whose partner exists (join, not lag)
    Q("q206_seasonal_error", Some(
      """WITH e AS (SELECT event_type AS grp, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day FROM events), daily AS (SELECT grp, day, CAST(COUNT(*) AS BIGINT) AS actual FROM e GROUP BY 1, 2), nd AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1), sc AS (SELECT d.grp, CAST(COUNT(*) AS BIGINT) AS n_scored, CAST(SUM(abs(d.actual - f.actual)) AS BIGINT) AS sum_abs_err, CAST(SUM(d.actual) AS BIGINT) AS sum_actual, CAST(SUM(abs(d.actual - f.actual)*2000000 // (d.actual + f.actual)) AS BIGINT) AS t FROM daily d JOIN daily f ON d.grp = f.grp AND d.day = f.day + 7 GROUP BY 1) SELECT nd.grp, nd.n_days, CAST(COALESCE(sc.n_scored, 0) AS BIGINT) AS n_scored, CAST(COALESCE(sc.sum_abs_err, 0) AS BIGINT) AS sum_abs_err, CAST(COALESCE(sc.sum_actual, 0) AS BIGINT) AS sum_actual, CAST(CASE WHEN COALESCE(sc.n_scored, 0) = 0 THEN 0 ELSE sc.t // sc.n_scored END AS BIGINT) AS smape2_ppm FROM nd LEFT JOIN sc USING (grp) ORDER BY grp"""),
      (s, dir) => graft.streaming.EventTimeOps.seasonalNaiveError(
        KafkaLike.events(tune(s), dir).select(col("event_type"),
          IntMath.idiv(col("ts"), lit(86400000000000L)).as("day")),
        "event_type", "day", period = 7)
        .orderBy("grp")),

    // corpus novelty: per odd-id doc, the fraction of its shingles never
    // seen in the even-id reference half — the new-information-rate rank
    Q("q207_novelty_score", Some(
      s"""$dShingles, newsh AS (SELECT doc_id, h FROM shex WHERE doc_id % 2 = 1), refsh AS (SELECT DISTINCT h FROM shex WHERE doc_id % 2 = 0) SELECT n.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, CAST(SUM(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, CAST(SUM(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END)*1000000 // COUNT(*) AS BIGINT) AS novelty_ppm FROM newsh n LEFT JOIN refsh r ON n.h = r.h GROUP BY 1 ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        Dedup.noveltyScore(
          d.filter(pmod(col("doc_id"), lit(2L)) === 1L),
          d.filter(pmod(col("doc_id"), lit(2L)) === 0L),
          "text", "doc_id")
          .orderBy("doc_id")
      }),

    // token-mass-weighted length quantiles: the doc length below which
    // q% of the TOKEN MASS sits (two-stage, no global sort)
    Q("q208_weighted_quantiles", Some(
      s"""WITH d AS (SELECT CAST(n_chars AS BIGINT) AS v, CAST(len($dToks) AS BIGINT) AS w FROM documents WHERE len($dToks) > 0), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d), c AS (SELECT v, CAST(SUM(w) AS BIGINT) AS vw FROM d GROUP BY v), cum AS (SELECT v, CAST(SUM(vw) OVER (ORDER BY v) AS BIGINT) AS cw FROM c), p AS (SELECT unnest([50, 90, 99]) AS q_pct) SELECT CAST(p.q_pct AS INT) AS q_pct, CAST((tot.tw*p.q_pct + 99) // 100 AS BIGINT) AS rank, CAST(MIN(cum.v) AS BIGINT) AS value FROM cum CROSS JOIN tot JOIN p ON cum.cw >= (tot.tw*p.q_pct + 99) // 100 GROUP BY 1, 2 ORDER BY q_pct"""),
      (s, dir) => Stats.weightedGlobalQuantiles(
        docs(tune(s), dir).select(col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("w"))
          .filter(col("w") > 0),
        "n_chars", "w", Seq(50, 90, 99))
        .orderBy("q_pct")),

    // exact MI between event type and user bucket, per-cell q-units
    Q("q209_categorical_mi", Some(
      s"""WITH e AS (SELECT event_type AS a, CAST(user_id % 8 AS BIGINT) AS b FROM events), cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab FROM e GROUP BY 1, 2), ma AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM cells GROUP BY 1), mb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM cells GROUP BY 1), t AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM cells), r AS (SELECT a, b, n_ab, n_a, n_b, GREATEST(1, (n_ab*n << 20) // (n_a*n_b)) AS ratio FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t) SELECT a, b, n_ab, n_a, n_b, CAST(n_ab*(${dQlog2("ratio")} - 20480) AS BIGINT) AS mi_q FROM r ORDER BY a, b"""),
      (s, dir) => Stats.categoricalMI(
        KafkaLike.events(tune(s), dir).select(
          col("event_type").as("a"),
          pmod(col("user_id"), lit(8L)).as("b")),
        "a", "b")
        .orderBy("a", "b")),

    // PSI drift between user-parity halves over log₂ value buckets,
    // add-1 smoothed, qlog2 fixed-point log-ratios
    Q("q210_psi", Some(
      s"""WITH v AS (SELECT CAST(user_id % 2 AS BIGINT) AS side, CAST(floor(value*100) AS BIGINT) AS cents FROM events), sa AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c_a FROM v WHERE side = 0 GROUP BY 1), sb AS (SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS c_b FROM v WHERE side = 1 GROUP BY 1), j AS (SELECT COALESCE(sa.bucket, sb.bucket) AS bucket, CAST(COALESCE(c_a, 0) AS BIGINT) AS c_a, CAST(COALESCE(c_b, 0) AS BIGINT) AS c_b FROM sa FULL OUTER JOIN sb ON sa.bucket = sb.bucket), n AS (SELECT CAST(SUM(c_a + 1) AS BIGINT) AS na1, CAST(SUM(c_b + 1) AS BIGINT) AS nb1 FROM j), f AS (SELECT bucket, c_a, c_b, CAST((c_a + 1)*1000000 // n.na1 AS BIGINT) AS pa_ppm, CAST((c_b + 1)*1000000 // n.nb1 AS BIGINT) AS pb_ppm, GREATEST(1, ((c_a + 1)*n.nb1 << 20) // ((c_b + 1)*n.na1)) AS ratio FROM j CROSS JOIN n), g AS (SELECT bucket, c_a, c_b, pa_ppm, pb_ppm, CAST((pa_ppm - pb_ppm)*(${dQlog2("ratio")} - 20480) AS BIGINT) AS psi_q FROM f), t AS (SELECT CAST(SUM(psi_q) AS BIGINT) AS psi_total_q FROM g) SELECT g.bucket, g.c_a, g.c_b, g.pa_ppm, g.pb_ppm, g.psi_q, t.psi_total_q FROM g CROSS JOIN t ORDER BY bucket"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir).select(
          pmod(col("user_id"), lit(2L)).as("side"),
          floor(col("value") * 100).cast(LongType).as("cents"))
        Stats.psiReport(ev.filter(col("side") === 0L),
          ev.filter(col("side") === 1L), "cents")
          .orderBy("bucket")
      }),

    // average precision (step-interpolated PR area) per label — the
    // imbalance-honest companion to q156's AUC, same two-stage engine
    Q("q211_avg_precision", Some(
      """WITH v AS (SELECT event_type AS label, CAST(floor(value*100) AS BIGINT) AS s FROM events), g AS (SELECT s, label, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2), t0 AS (SELECT s, CAST(SUM(c) AS BIGINT) AS ctot FROM g GROUP BY 1), t AS (SELECT s, ctot, CAST(SUM(ctot) OVER (ORDER BY s) - ctot AS BIGINT) AS cumt FROM t0), l AS (SELECT s, label, c, CAST(SUM(c) OVER (PARTITION BY label ORDER BY s) - c AS BIGINT) AS cuml FROM g), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v), np AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n_pos FROM g GROUP BY 1), w AS (SELECT l.label, l.c, np.n_pos, np.n_pos - l.cuml AS tp_ge, n.n - t.cumt AS tot_ge FROM l JOIN t USING (s) JOIN np USING (label) CROSS JOIN n), a AS (SELECT label, CAST(MAX(n_pos) AS BIGINT) AS n_pos, CAST(SUM(c*tp_ge*1000000 // (n_pos*tot_ge)) AS BIGINT) AS ap_ppm FROM w GROUP BY 1) SELECT label, n_pos, CAST(n.n - n_pos AS BIGINT) AS n_neg, ap_ppm FROM a CROSS JOIN n WHERE n_pos > 0 AND n_pos < n.n ORDER BY label"""),
      (s, dir) => Stats.averagePrecisionReport(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "event_type", "cents")
        .orderBy("label")),

    // Spearman rank correlation (value vs time) as exact centered midrank
    // moments — ρ = num/√(den_x·den_y) is the caller's last step
    Q("q212_spearman", Some(
      """WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) AS x, CAST(epoch_ms(ts) AS BIGINT) AS y FROM events), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v), m AS (SELECT 2*rank() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS mrx, 2*rank() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS mry FROM v), c AS (SELECT CAST(mrx - (n.n + 1) AS BIGINT) AS cx, CAST(mry - (n.n + 1) AS BIGINT) AS cy FROM m CROSS JOIN n) SELECT n.n, CAST(SUM(cx*cy) AS BIGINT) AS num, CAST(SUM(cx*cx) AS BIGINT) AS den_x, CAST(SUM(cy*cy) AS BIGINT) AS den_y FROM c CROSS JOIN n GROUP BY n.n"""),
      (s, dir) => Stats.spearmanReport(
        KafkaLike.events(tune(s), dir).select(
          floor(col("value") * 100).cast(LongType).as("x"),
          IntMath.idiv(col("ts"), lit(1000000L)).as("y")),
        "x", "y")),

    // native rollup surface: CUBE over (event type, user bucket) with
    // sentinel-coalesced subtotal rows — Catalyst's Expand operator
    Q("q213_cube_counts", Some(
      """SELECT COALESCE(event_type, 'ALL') AS etype, CAST(COALESCE(ub, -1) AS BIGINT) AS ub, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT event_type, CAST(user_id % 4 AS BIGINT) AS ub FROM events) GROUP BY CUBE(event_type, ub) ORDER BY etype, ub"""),
      (s, dir) => KafkaLike.events(tune(s), dir)
        .select(col("event_type"), pmod(col("user_id"), lit(4L)).as("ub"))
        .cube(col("event_type"), col("ub"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("ub"), lit(-1L)).as("ub"), col("n"))
        .orderBy("etype", "ub")),

    // column-level snapshot drill-down: WHICH columns changed between two
    // corpus snapshots (null-safe compare, ids in both sides only)
    Q("q214_column_drift", Some(
      """WITH a AS (SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st, o_orderpriority AS pr FROM orders), b AS (SELECT o_orderkey AS k, CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS p, CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS st, o_orderpriority AS pr FROM orders WHERE o_orderkey % 7 <> 6), j AS (SELECT a.p AS ap, b.p AS bp, a.st AS ast, b.st AS bst, a.pr AS apr, b.pr AS bpr FROM a JOIN b USING (k)), agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common, CAST(SUM(CASE WHEN ap IS DISTINCT FROM bp THEN 1 ELSE 0 END) AS BIGINT) AS sp, CAST(SUM(CASE WHEN ast IS DISTINCT FROM bst THEN 1 ELSE 0 END) AS BIGINT) AS sst, CAST(SUM(CASE WHEN apr IS DISTINCT FROM bpr THEN 1 ELSE 0 END) AS BIGINT) AS spr FROM j), u AS (SELECT 'p' AS col_name, sp AS n_changed, n_common FROM agg UNION ALL SELECT 'st', sst, n_common FROM agg UNION ALL SELECT 'pr', spr, n_common FROM agg) SELECT col_name, n_changed, n_common, CAST(CASE WHEN n_common = 0 THEN 0 ELSE n_changed*1000000 // n_common END AS BIGINT) AS changed_ppm FROM u ORDER BY col_name"""),
      (s, dir) => {
        val o = orders(tune(s), dir)
        val a = o.select(col("o_orderkey").as("k"),
          col("o_totalprice").as("p"), col("o_orderstatus").as("st"),
          col("o_orderpriority").as("pr"))
        val b = o.filter(pmod(col("o_orderkey"), lit(7L)) =!= 6L)
          .select(col("o_orderkey").as("k"),
            when(pmod(col("o_orderkey"), lit(3L)) === 0L,
              col("o_totalprice") + 1d).otherwise(col("o_totalprice"))
              .as("p"),
            when(pmod(col("o_orderkey"), lit(5L)) === 0L, lit("X"))
              .otherwise(col("o_orderstatus")).as("st"),
            col("o_orderpriority").as("pr"))
        Snapshot.columnDiff(a, b, "k", Seq("p", "st", "pr"))
          .orderBy("col_name")
      }),

    // top user-journey paths: most common 3-step event-type runs per
    // user, (ts, event_id)-ordered — in-array windows, TakeOrdered top-k
    Q("q215_journey_paths", Some(
      """WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS t, event_id AS o, event_type AS et FROM events), s AS (SELECT k, list(et ORDER BY t, o) AS types FROM e GROUP BY k), p AS (SELECT unnest(list_transform(range(len(types) - 2), i -> types[CAST(i+1 AS INT)] || '>' || types[CAST(i+2 AS INT)] || '>' || types[CAST(i+3 AS INT)])) AS path FROM s WHERE len(types) >= 3), c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1) SELECT path, n FROM c ORDER BY n DESC, path ASC LIMIT 20"""),
      (s, dir) => graft.streaming.EventTimeOps.journeyPaths(
        KafkaLike.events(tune(s), dir),
        "user_id", "ts", "event_id", "event_type", len = 3, topK = 20)),

    // referential-integrity audit: orphan lineitems against a parent
    // snapshot with a hole punched in it (keys ≡ 3 mod 10 removed)
    Q("q216_ri_audit", Some(
      """WITH ck AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS nc FROM lineitem GROUP BY 1), pk AS (SELECT DISTINCT o_orderkey AS k, 1 AS p FROM orders WHERE o_orderkey % 10 <> 3), j AS (SELECT COALESCE(ck.k, pk.k) AS k, nc, p FROM ck FULL OUTER JOIN pk ON ck.k = pk.k) SELECT CAST(SUM(COALESCE(nc, 0)) AS BIGINT) AS n_child_rows, CAST(SUM(CASE WHEN nc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_child_keys, CAST(SUM(CASE WHEN p IS NULL THEN COALESCE(nc, 0) ELSE 0 END) AS BIGINT) AS orphan_rows, CAST(SUM(CASE WHEN p IS NULL AND nc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_keys, CAST(SUM(CASE WHEN k IS NULL THEN COALESCE(nc, 0) ELSE 0 END) AS BIGINT) AS null_key_rows, CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_parent_keys, CAST(SUM(CASE WHEN nc IS NULL AND p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS childless_parent_keys, CAST(SUM(CASE WHEN p IS NULL THEN COALESCE(nc, 0) ELSE 0 END)*1000000 // GREATEST(SUM(COALESCE(nc, 0)), 1) AS BIGINT) AS orphan_ppm FROM j"""),
      (s, dir) => Stats.refIntegrityAudit(
        lineitem(tune(s), dir),
        orders(tune(s), dir).filter(pmod(col("o_orderkey"), lit(10L)) =!= 3L),
        "l_orderkey", "o_orderkey")),

    // session-level conversion: gaps-and-islands sessions (q39's islands),
    // a session converts iff it contains a purchase event
    Q("q217_session_conversion", Some(
      """WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit FROM events), g AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e), s AS (SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g), ses AS (SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(MAX(hit) AS BIGINT) AS converted FROM s GROUP BY 1, 2) SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions, CAST(SUM(converted) AS BIGINT) AS n_converted, CAST(SUM(CASE WHEN converted = 1 THEN n_events ELSE 0 END) AS BIGINT) AS events_in_converted, CAST(SUM(CASE WHEN converted = 0 THEN n_events ELSE 0 END) AS BIGINT) AS events_in_other, CAST(SUM(converted)*1000000 // GREATEST(COUNT(*), 1) AS BIGINT) AS conversion_ppm FROM ses"""),
      (s, dir) => graft.streaming.EventTimeOps.sessionConversion(
        KafkaLike.frame(tune(s), dir), 1800000L, "purchase"))
  ) ++ r7LayoutAndStats ++ r7MediaDedupAndScd ++ r7LinalgSpatial ++
    r7CurationAndSeries ++ r8Parity

  /** DuckDB mirror of [[Layout.mortonValue]] over `bits`-bit operands:
    * the same Σ shift/mask terms, generated once so both engines share
    * the formula. */
  private def dMorton(xs: String, ys: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($xs >> $i) & 1) * ${1L << (2 * i)} + (($ys >> $i) & 1) * ${2L << (2 * i)})"
    }.mkString(" + ")

  /** Truncating (toward-zero) integer division for DuckDB, whose `//` is
    * FLOOR division — Spark's IntegralDivide truncates, so any
    * possibly-negative quotient must go through this. */
  private def dTruncDiv(num: String, den: String): String =
    s"(CASE WHEN ($num) < 0 THEN -1 ELSE 1 END) * ((abs($num)) // ($den))"

  private lazy val r7LayoutAndStats: Seq[Q] = Seq(

    // k-anonymity / l-diversity audit: nation × market-segment as the
    // quasi-identifier, account balance (cents) as the sensitive value
    Q("q218_k_anonymity", Some(
      """WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS gsz, CAST(COUNT(DISTINCT CAST(floor(c_acctbal*100) AS BIGINT)) AS BIGINT) AS ldiv FROM customer GROUP BY 1, 2) SELECT k, CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(SUM(gsz) AS BIGINT) AS n_rows, CAST(SUM(CASE WHEN gsz < k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below, CAST(SUM(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT) AS rows_below, CAST(SUM(CASE WHEN gsz < k THEN gsz ELSE 0 END)*1000000 // GREATEST(SUM(gsz), 1) AS BIGINT) AS suppress_ppm, CAST(MIN(gsz) AS BIGINT) AS min_group, CAST(MIN(ldiv) AS BIGINT) AS min_l, CAST(SUM(CASE WHEN ldiv < k THEN gsz ELSE 0 END) AS BIGINT) AS rows_low_diversity FROM g CROSS JOIN (VALUES (2), (5), (10), (25)) t(k) GROUP BY k ORDER BY k"""),
      (s, dir) => Stats.kAnonymityAudit(
        customer(tune(s), dir)
          .withColumn("acct_c", floor(col("c_acctbal") * 100).cast(LongType)),
        Seq("c_nationkey", "c_mktsegment"), "acct_c", Seq(2, 5, 10, 25))),

    // WOE / information value of spend deciles against the purchase
    // label — q174's equi-depth bins, add-1-smoothed log-odds on top
    Q("q219_woe_iv", Some(
      s"""WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) AS cents, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events), r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn, COUNT(*) OVER () AS n FROM v), p AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS q), bd AS (SELECT p.q, MAX(CASE WHEN r.rn = (r.n*p.q + 99)//100 THEN r.cents END) AS b FROM r CROSS JOIN p GROUP BY p.q), bl AS (SELECT list(b ORDER BY q) AS bs FROM bd), bins AS (SELECT v.cents, v.pos, CAST(len(list_filter(bl.bs, x -> v.cents > x)) AS BIGINT) AS bin FROM v CROSS JOIN bl), cells AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg FROM bins GROUP BY 1), tot AS (SELECT CAST(SUM(n_pos + 1) AS BIGINT) AS tp1, CAST(SUM(n_neg + 1) AS BIGINT) AS tn1 FROM cells), ww AS (SELECT bin, n, n_pos, n_neg, CAST((n_pos + 1)*1000000 // tp1 AS BIGINT) AS pos_ppm, CAST((n_neg + 1)*1000000 // tn1 AS BIGINT) AS neg_ppm, CAST(GREATEST(1, ((n_pos + 1)*tn1*1048576) // ((n_neg + 1)*tp1)) AS BIGINT) AS ratio FROM cells, tot), w2 AS (SELECT bin, n, n_pos, n_neg, pos_ppm, neg_ppm, CAST(${dQlog2("ratio")} - 20480 AS BIGINT) AS woe_q FROM ww), w3 AS (SELECT bin, n, n_pos, n_neg, pos_ppm, neg_ppm, woe_q, CAST((pos_ppm - neg_ppm)*woe_q AS BIGINT) AS iv_q FROM w2) SELECT bin, n, n_pos, n_neg, pos_ppm, neg_ppm, woe_q, iv_q, CAST(SUM(iv_q) OVER () AS BIGINT) AS iv_total_q FROM w3 ORDER BY bin"""),
      (s, dir) => Stats.woeIvReport(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "cents", "event_type", "purchase", nBins = 10)),

    // per-supplier OLS shipment-volume trend: exact integer moments,
    // slope in ppm-quantity-per-day
    Q("q220_group_trend", Some(
      s"""WITH v AS (SELECT l_suppkey AS grp, CAST(epoch_ms(l_shipdate) AS BIGINT) // 86400000 AS x, CAST(l_quantity AS BIGINT) AS y FROM lineitem), m AS (SELECT grp, MIN(x) AS x0 FROM v GROUP BY 1), c AS (SELECT v.grp, v.x - m.x0 AS xc, v.y FROM v JOIN m ON v.grp = m.grp), a AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xc) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(xc*xc) AS BIGINT) AS sxx, CAST(SUM(xc*y) AS BIGINT) AS sxy FROM c GROUP BY 1) SELECT grp, n, sx, sy, CAST(n*sxy - sx*sy AS BIGINT) AS num, CAST(n*sxx - sx*sx AS BIGINT) AS den, CAST(CASE WHEN n*sxx - sx*sx = 0 THEN 0 ELSE ${dTruncDiv("(n*sxy - sx*sy)*1000000", "n*sxx - sx*sx")} END AS BIGINT) AS slope_ppm FROM a ORDER BY grp"""),
      (s, dir) => Stats.groupedTrend(
        lineitem(tune(s), dir).select(col("l_suppkey"),
          IntMath.idiv(unix_millis(col("l_shipdate").cast(TimestampType)),
            lit(86400000L)).as("day"),
          col("l_quantity")),
        "l_suppkey", "day", "l_quantity")),

    // weekly-seasonality scan: lag-1..7 autocorrelation of the
    // zero-filled daily arrival series
    Q("q221_autocorr", Some(
      s"""WITH e AS (SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day FROM events), bd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1), mm AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM bd), days AS (SELECT CAST(unnest(range(mm.lo, mm.hi + 1)) AS BIGINT) AS day FROM mm), s AS (SELECT d.day, COALESCE(bd.c, 0) AS y FROM days d LEFT JOIN bd ON d.day = bd.day), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS sm FROM s), cent AS (SELECT s.day, CAST(tot.nd*s.y - tot.sm AS BIGINT) AS cy FROM s CROSS JOIN tot), dn AS (SELECT CAST(SUM(cy*cy) AS BIGINT) AS den, (SELECT nd FROM tot) AS n_days FROM cent), lagt AS (SELECT CAST(t.i + 1 AS BIGINT) AS lag FROM range(7) t(i)), nm AS (SELECT lagt.lag, CAST(SUM(a.cy*b.cy) AS BIGINT) AS num FROM cent a CROSS JOIN lagt JOIN cent b ON b.day = a.day + lagt.lag GROUP BY 1) SELECT nm.lag, dn.n_days, nm.num, dn.den, CAST(CASE WHEN dn.den = 0 THEN 0 ELSE ${dTruncDiv("nm.num*1000000", "dn.den")} END AS BIGINT) AS r_ppm FROM nm CROSS JOIN dn ORDER BY nm.lag"""),
      (s, dir) => Stats.lagAutocorr(
        KafkaLike.events(tune(s), dir)
          .select(IntMath.idiv(col("ts"), lit(1000000L)).as("ms")),
        "ms", maxLag = 7)),

    // activity/spend Pareto frontier over users: the non-dominated
    // (event-count, total-spend-cents) set with multiplicities
    Q("q222_pareto_front", Some(
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x, CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1), gx AS (SELECT x, MAX(y) AS my FROM u GROUP BY x), sfx AS (SELECT x, my, MAX(my) OVER (ORDER BY x DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smax FROM gx), f AS (SELECT x, my FROM sfx WHERE smax IS NULL OR my > smax) SELECT u.x, u.y, CAST(COUNT(*) AS BIGINT) AS n_points FROM u JOIN f ON u.x = f.x AND u.y = f.my GROUP BY 1, 2 ORDER BY u.x"""),
      (s, dir) => Stats.paretoFrontier(
        KafkaLike.events(tune(s), dir)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_ev"),
            sum(floor(col("value") * 100).cast(LongType)).as("spend_c")),
        "n_ev", "spend_c")),

    // Z-order layout plan for (partkey, suppkey): 16 would-be files with
    // per-dimension min/max — the two-predicate scan-pruning readout
    Q("q223_zorder_layout", Some({
      val scaleX = "CAST((x - mm.lox)*255 // GREATEST(mm.hix - mm.lox, 1) AS BIGINT)"
      val scaleY = "CAST((y - mm.loy)*255 // GREATEST(mm.hiy - mm.loy, 1) AS BIGINT)"
      s"""WITH v AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem), mm AS (SELECT MIN(x) AS lox, MAX(x) AS hix, MIN(y) AS loy, MAX(y) AS hiy FROM v), sc AS (SELECT v.x, v.y, $scaleX AS xs, $scaleY AS ys FROM v CROSS JOIN mm), z AS (SELECT x, y, CAST(${dMorton("xs", "ys", 8)} AS BIGINT) AS zval FROM sc) SELECT CAST(zval >> 12 AS BIGINT) AS zfile, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x, CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y FROM z GROUP BY 1 ORDER BY zfile"""}),
      (s, dir) => Layout.zOrderLayout(
        lineitem(tune(s), dir), "l_partkey", "l_suppkey",
        bits = 8, nFiles = 16)),

    // watermark-delay audit under a deterministic delivery-jitter replay
    // (the natural log is fully ordered, so the query simulates skewed
    // arrival with a unique jittered arrival key)
    Q("q224_lateness_audit", Some(
      """WITH e AS (SELECT user_id, (event_id + (event_id % 10)*5)*100000 + event_id AS arrival, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events), l AS (SELECT MAX(ms) OVER (PARTITION BY user_id ORDER BY arrival ROWS UNBOUNDED PRECEDING) - ms AS late FROM e) SELECT delay_ms, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late, CAST(SUM(CASE WHEN late > delay_ms THEN 1 ELSE 0 END) AS BIGINT) AS dropped, CAST(SUM(CASE WHEN late > delay_ms THEN 1 ELSE 0 END)*1000000 // GREATEST(COUNT(*), 1) AS BIGINT) AS dropped_ppm, CAST(MAX(late) AS BIGINT) AS max_lateness_ms FROM l CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (60000), (3600000), (86400000)) t(delay_ms) GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.streaming.EventTimeOps.latenessAudit(
        KafkaLike.events(tune(s), dir)
          .select(col("user_id"),
            ((col("event_id") + (col("event_id") % 10L) * 5L) * 100000L +
              col("event_id")).as("arrival"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ms")),
        "user_id", "arrival", "ms",
        Seq(0L, 60000L, 3600000L, 86400000L))),

    // quantile-normalize account balances onto the order-price
    // distribution: the distinct-value mapping table
    Q("q225_quantile_normalize", Some(
      """WITH t AS (SELECT CAST(floor(c_acctbal*100) AS BIGINT) AS x FROM customer), r AS (SELECT CAST(floor(o_totalprice*100) AS BIGINT) AS x FROM orders), tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t), rn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r), tc AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1), tcc AS (SELECT x, c, CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM tc), tq AS (SELECT x, c, CAST(cum*1000000 // tn.n AS BIGINT) AS p_ppm FROM tcc CROSS JOIN tn), tq2 AS (SELECT x, c, p_ppm, GREATEST(1, (rn.n*p_ppm + 999999) // 1000000) AS rank_needed FROM tq CROSS JOIN rn), rc AS (SELECT x AS xr, CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY 1), rcc AS (SELECT xr, CAST(SUM(c) OVER (ORDER BY xr ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM rc) SELECT t2.x, t2.c, t2.p_ppm, CAST(MIN(rcc.xr) AS BIGINT) AS x_norm FROM tq2 t2 JOIN rcc ON rcc.cum >= t2.rank_needed GROUP BY 1, 2, 3 ORDER BY t2.x"""),
      (s, dir) => Stats.quantileNormalize(
        customer(tune(s), dir)
          .select(floor(col("c_acctbal") * 100).cast(LongType).as("v")),
        orders(tune(s), dir)
          .select(floor(col("o_totalprice") * 100).cast(LongType).as("v")),
        "v")),

    // pairwise Pearson moments over quantized lineitem measures — the
    // feature-redundancy screen as exact integer moments
    Q("q226_pearson_moments", Some({
      val cols = Seq("qty", "disc", "tax", "price_k") // the QUERY's order
      val rows = (for { i <- cols.indices; j <- (i + 1) until cols.size }
        yield {
          val (cx, cy) = (cols(i), cols(j))
          s"SELECT '$cx' AS col_x, '$cy' AS col_y, n, CAST(n*ss_${cx}_${cy} - s_${cx}*s_${cy} AS BIGINT) AS num, CAST(n*ss_${cx}_${cx} - s_${cx}*s_${cx} AS BIGINT) AS den_x, CAST(n*ss_${cy}_${cy} - s_${cy}*s_${cy} AS BIGINT) AS den_y FROM a"
        }).mkString(" UNION ALL ")
      val ss = (for { i <- cols.indices; j <- i until cols.size }
        yield s"CAST(SUM(${cols(i)}*${cols(j)}) AS BIGINT) AS ss_${cols(i)}_${cols(j)}")
        .mkString(", ")
      s"""WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(floor(l_discount*100) AS BIGINT) AS disc, CAST(floor(l_tax*100) AS BIGINT) AS tax, CAST(floor(l_extendedprice/1000) AS BIGINT) AS price_k FROM lineitem), a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qty) AS BIGINT) AS s_qty, CAST(SUM(disc) AS BIGINT) AS s_disc, CAST(SUM(tax) AS BIGINT) AS s_tax, CAST(SUM(price_k) AS BIGINT) AS s_price_k, $ss FROM v) $rows ORDER BY col_x, col_y"""}),
      (s, dir) => Stats.pearsonMatrix(
        lineitem(tune(s), dir).select(
          col("l_quantity").cast(LongType).as("qty"),
          floor(col("l_discount") * 100).cast(LongType).as("disc"),
          floor(col("l_tax") * 100).cast(LongType).as("tax"),
          floor(col("l_extendedprice") / 1000).cast(LongType).as("price_k")),
        Seq("qty", "disc", "tax", "price_k"))),

    // Deequ-style declarative rule audit in one aggregate pass; two rules
    // are deliberately tight so the violation path is exercised
    Q("q227_rule_audit", Some({
      val rules = Seq(
        "disc_le_5pct" -> "l_discount <= 0.05",
        "price_pos" -> "l_extendedprice > 0",
        "qty_le_25" -> "l_quantity <= 25",
        "qty_range" -> "l_quantity BETWEEN 1 AND 50",
        "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
        "shipdate_no_null" -> "l_shipdate IS NOT NULL")
      val rows = rules.map { case (name, pred) =>
        s"SELECT '$name' AS rule, n AS n_rows, n - v_$name AS violations, CAST((n - v_$name)*1000000 // GREATEST(n, 1) AS BIGINT) AS violation_ppm FROM a"
      }.mkString(" UNION ALL ")
      val sums = rules.map { case (name, pred) =>
        s"CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT) AS v_$name"
      }.mkString(", ")
      s"WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, $sums FROM lineitem) $rows ORDER BY rule"}),
      (s, dir) => Quality.ruleAudit(lineitem(tune(s), dir), Seq(
        "disc_le_5pct" -> (col("l_discount") <= 0.05),
        "price_pos" -> (col("l_extendedprice") > 0),
        "qty_le_25" -> (col("l_quantity") <= 25),
        "qty_range" -> (col("l_quantity").between(1, 50)),
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "shipdate_no_null" -> col("l_shipdate").isNotNull))),

    // rate-limit replay: 10 events per type per day — what a quota-
    // enforcing ingest would have admitted
    Q("q228_rate_limit", Some(
      """WITH e AS (SELECT event_type AS k, CAST(epoch_ms(ts) AS BIGINT) AS ms, event_id FROM events), b AS (SELECT k, ms, event_id, ms // 86400000 AS w FROM e), r AS (SELECT k, w, row_number() OVER (PARTITION BY k, w ORDER BY ms, event_id) AS rn FROM b), pk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS kn, CAST(SUM(CASE WHEN rn > 10 THEN 1 ELSE 0 END) AS BIGINT) AS krej, CAST(MAX(rn) AS BIGINT) AS kmaxw FROM r GROUP BY 1) SELECT CAST(SUM(kn) AS BIGINT) AS n_events, CAST(SUM(kn) - SUM(krej) AS BIGINT) AS admitted, CAST(SUM(krej) AS BIGINT) AS rejected, CAST(SUM(krej)*1000000 // GREATEST(SUM(kn), 1) AS BIGINT) AS rejected_ppm, CAST(SUM(CASE WHEN krej > 0 THEN 1 ELSE 0 END) AS BIGINT) AS keys_throttled, CAST(MAX(kmaxw) AS BIGINT) AS max_window_count FROM pk"""),
      (s, dir) => graft.streaming.EventTimeOps.rateLimitAudit(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"), col("event_id"),
            IntMath.idiv(col("ts"), lit(1000000L)).as("ms")),
        "event_type", "ms", "event_id", limit = 10,
        windowMs = 86400000L)),

    // mergeable aggregate state: build per day-parity half, merge,
    // finalize — must equal the direct aggregation exactly
    Q("q229_agg_state", Some(
      s"""WITH e AS (SELECT user_id % 100 AS key, CAST(floor(value*100) AS BIGINT) AS v FROM events) SELECT key, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sum_v, CAST(MIN(v) AS BIGINT) AS min_v, CAST(MAX(v) AS BIGINT) AS max_v, CAST(${dTruncDiv("SUM(v)", "GREATEST(COUNT(*), 1)")} AS BIGINT) AS mean_v FROM e GROUP BY key ORDER BY key"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir).select(
          (col("user_id") % 100L).as("g"),
          floor(col("value") * 100).cast(LongType).as("cents"),
          IntMath.idiv(IntMath.idiv(col("ts"), lit(1000000L)),
            lit(86400000L)).as("day"))
        val even = Quality.aggStateBuild(
          ev.filter(pmod(col("day"), lit(2L)) === 0L), "g", "cents")
        val odd = Quality.aggStateBuild(
          ev.filter(pmod(col("day"), lit(2L)) === 1L), "g", "cents")
        Quality.aggStateFinalize(Quality.aggStateMerge(even, odd))
      }),

    // multi-rater reconciliation: line numbers "rate" their order's
    // return flag; consensus by majority (ties → smallest label)
    Q("q230_consensus", Some(
      """WITH votes AS (SELECT DISTINCT l_orderkey AS item, l_linenumber AS rater, l_returnflag AS label FROM lineitem WHERE l_returnflag IS NOT NULL), cells AS (SELECT item, label, CAST(COUNT(*) AS BIGINT) AS c FROM votes GROUP BY 1, 2), cons AS (SELECT item, label AS consensus FROM (SELECT item, label, row_number() OVER (PARTITION BY item ORDER BY c DESC, label) AS rk FROM cells) WHERE rk = 1) SELECT v.rater, CAST(COUNT(*) AS BIGINT) AS n_items, CAST(SUM(CASE WHEN v.label = c.consensus THEN 1 ELSE 0 END) AS BIGINT) AS agree, CAST(SUM(CASE WHEN v.label = c.consensus THEN 1 ELSE 0 END)*1000000 // GREATEST(COUNT(*), 1) AS BIGINT) AS agree_ppm FROM votes v JOIN cons c USING (item) GROUP BY 1 ORDER BY rater"""),
      (s, dir) => Quality.consensusReport(lineitem(tune(s), dir),
        "l_orderkey", "l_linenumber", "l_returnflag")),

    // bitmap-index conjunction counts: type × spend-bucket cardinality via
    // word-aligned AND+popcount; the oracle states the SEMANTICS (a plain
    // GROUP BY), so the bitmap machinery must reproduce it exactly
    Q("q231_bitmap_and", Some(
      """WITH e AS (SELECT event_type AS value_a, CAST(floor(value*100) AS BIGINT) // 10000 AS value_b FROM events) SELECT value_a, value_b, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir).select(col("event_id"),
          col("event_type"),
          IntMath.idiv(floor(col("value") * 100).cast(LongType),
            lit(10000L)).as("vb"))
        Layout.bitmapAndCounts(
          Layout.bitmapIndex(ev, "event_id", "event_type"),
          Layout.bitmapIndex(ev, "event_id", "vb"))
      }),

    // sort-key advisor: lexicographic partkey vs suppkey vs their Z-code
    // against suppkey-range pruning — the data-layout decision, measured
    Q("q232_sort_key_advisor", Some({
      def candSql(name: String, base: String) =
        s"SELECT '$name' AS candidate, CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(fhi - flo)*1000000 // GREATEST((MAX(fhi) - MIN(flo)) * COUNT(*), 1) AS BIGINT) AS span_ppm FROM (SELECT file, MIN(tv) AS flo, MAX(tv) AS fhi FROM (SELECT b.tv, fm.file FROM $base b JOIN (SELECT cv, CAST(sb*16 // (SELECT COUNT(*) FROM $base) AS BIGINT) AS file FROM (SELECT cv, CAST(SUM(c) OVER (ORDER BY cv ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS sb FROM (SELECT cv, COUNT(*) AS c FROM $base GROUP BY 1))) fm ON b.cv = fm.cv) GROUP BY file)"
      val scaleX = "CAST((x - mm.lox)*255 // GREATEST(mm.hix - mm.lox, 1) AS BIGINT)"
      val scaleY = "CAST((y - mm.loy)*255 // GREATEST(mm.hiy - mm.loy, 1) AS BIGINT)"
      s"""WITH v AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem), mm AS (SELECT MIN(x) AS lox, MAX(x) AS hix, MIN(y) AS loy, MAX(y) AS hiy FROM v), sc AS (SELECT v.x, v.y, $scaleX AS xs, $scaleY AS ys FROM v CROSS JOIN mm), base_pk AS (SELECT x AS cv, y AS tv FROM v), base_sk AS (SELECT y AS cv, y AS tv FROM v), base_z AS (SELECT CAST(${dMorton("xs", "ys", 8)} AS BIGINT) AS cv, y AS tv FROM sc) ${candSql("l_partkey", "base_pk")} UNION ALL ${candSql("l_suppkey", "base_sk")} UNION ALL ${candSql("z", "base_z")} ORDER BY candidate"""}),
      (s, dir) => {
        val li = lineitem(tune(s), dir)
          .select(col("l_partkey"), col("l_suppkey"))
        val mm = li.agg(min("l_partkey"), max("l_partkey"),
          min("l_suppkey"), max("l_suppkey")).head()
        def scale(c: Column, lo: Long, hi: Long): Column =
          if (hi == lo) lit(0L)
          else IntMath.idiv((c - lit(lo)) * lit(255L), lit(hi - lo))
        val withZ = li.withColumn("z", Layout.mortonValue(
          scale(col("l_partkey"), mm.getLong(0), mm.getLong(1)),
          scale(col("l_suppkey"), mm.getLong(2), mm.getLong(3)), 8))
        Layout.sortKeyAdvisor(withZ, Seq("l_partkey", "l_suppkey", "z"),
          "l_suppkey", nFiles = 16)
      }),

    // TPC-H Q3 shape (shipping priority): 3-way join, small side
    // broadcast, revenue exact in cent·pct units, top-10 stable-tied
    Q("q233_tpch_q3", Some(
      """SELECT o.o_orderkey, CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_u, CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS odate_ms, o.o_orderpriority FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-01-01' AND l.l_shipdate > TIMESTAMP '1998-01-01' GROUP BY 1, 3, 4 ORDER BY revenue_u DESC, o.o_orderkey LIMIT 10"""),
      (s, dir) => {
        val cut = to_timestamp(lit("1998-01-01 00:00:00"))
        val c = customer(tune(s), dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = orders(tune(s), dir)
          .filter(col("o_orderdate").cast(TimestampType) < cut)
        val l = lineitem(tune(s), dir)
          .filter(col("l_shipdate").cast(TimestampType) > cut)
          .select(col("l_orderkey"),
            (floor(col("l_extendedprice") * 100).cast(LongType) *
              (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
              .as("rev_u"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority"))
          .agg(sum("rev_u").as("revenue_u"))
          .select(col("o_orderkey"), col("revenue_u"),
            unix_millis(col("o_orderdate").cast(TimestampType))
              .as("odate_ms"), col("o_orderpriority"))
          .orderBy(col("revenue_u").desc, col("o_orderkey"))
          .limit(10)
      }),

    // TPC-H Q5 shape (local supplier volume): 6-way star join, every dim
    // broadcast, the local-supplier co-nation predicate
    Q("q234_tpch_q5", Some(
      """SELECT n.n_name, CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_u, CAST(COUNT(*) AS BIGINT) AS n_rows FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey JOIN supplier s2 ON l.l_suppkey = s2.s_suppkey JOIN nation n ON s2.s_nationkey = n.n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'ASIA' AND c.c_nationkey = s2.s_nationkey GROUP BY 1 ORDER BY n.n_name"""),
      (s, dir) => {
        val sp = tune(s)
        val sup = sp.read.parquet(s"$dir/supplier.parquet")
          .select(col("s_suppkey"), col("s_nationkey"))
        val nat = sp.read.parquet(s"$dir/nation.parquet")
        val reg = sp.read.parquet(s"$dir/region.parquet")
          .filter(col("r_name") === "ASIA")
        val c = customer(sp, dir).select("c_custkey", "c_nationkey")
        val l = lineitem(sp, dir).select(col("l_orderkey"), col("l_suppkey"),
          (floor(col("l_extendedprice") * 100).cast(LongType) *
            (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
            .as("rev_u"))
        l.join(orders(sp, dir).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum("rev_u").as("revenue_u"), count(lit(1)).as("n_rows"))
          .orderBy("n_name")
      }),

    // CM-sketch join-size estimate beside the exact size: the inner
    // product never underestimates; calibration in one row
    Q("q235_cms_join_size", Some(
      """WITH ea AS (SELECT user_id AS h FROM events), ob AS (SELECT o_custkey AS h FROM orders), sa AS (SELECT i AS row_id, ((h*(1000003 + 2*i*4391) + ((7919*(i+1)) % 2147483647)) % 2147483647) % 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS na FROM ea CROSS JOIN range(4) t(i) GROUP BY 1, 2), sb AS (SELECT i AS row_id, ((h*(1000003 + 2*i*4391) + ((7919*(i+1)) % 2147483647)) % 2147483647) % 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS nb FROM ob CROSS JOIN range(4) t(i) GROUP BY 1, 2), ip AS (SELECT sa.row_id, CAST(SUM(na*nb) AS BIGINT) AS ip FROM sa JOIN sb USING (row_id, bucket) GROUP BY 1), es AS (SELECT CAST(MIN(ip) AS BIGINT) AS est FROM ip), ca AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS ca FROM ea GROUP BY 1), cb AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cb FROM ob GROUP BY 1), ex AS (SELECT CAST(COALESCE(SUM(ca*cb), 0) AS BIGINT) AS exact FROM ca JOIN cb USING (h)) SELECT COALESCE(es.est, 0) AS est, ex.exact, CAST((COALESCE(es.est, 0) - ex.exact)*1000000 // GREATEST(ex.exact, 1) AS BIGINT) AS over_ppm FROM es CROSS JOIN ex"""),
      (s, dir) => Stats.cmsJoinSizeEstimate(
        KafkaLike.events(tune(s), dir).select(col("user_id").as("h")),
        orders(tune(s), dir).select(col("o_custkey").as("h")), "h")),

    // seeded geometric-noise counts: the integer DP mechanism plumbing,
    // deterministic draw per key so the release is replay-testable
    Q("q236_noisy_counts", Some(
      s"""WITH g AS (SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1), z AS (SELECT key, n, ${dFold("key")} AS hv FROM g) SELECT key, CAST(n + (CASE WHEN ((hv >> 15) & 1) = 1 THEN 1 ELSE -1 END) * (bit_count(xor(hv, hv + 1)) - 1) AS BIGINT) AS noisy_n FROM z ORDER BY key"""),
      (s, dir) => Quality.noisyCounts(
        KafkaLike.events(tune(s), dir), "event_type")),

    // KMV bottom-k sketch overlap: viewer vs purchaser user sets —
    // distinct + UNION + INTERSECTION estimates from two 128-hash sketches
    Q("q237_kmv_overlap", Some({
      def mixed(t: String) =
        s"(SELECT DISTINCT xor(h3 >> 16, h3) AS h FROM (SELECT (xor(h2 >> 16, h2) * 73244475) & 2147483647 AS h3 FROM (SELECT (xor(h1 >> 16, h1) * 73244475) & 2147483647 AS h2 FROM (SELECT (xor(user_id >> 16, user_id) * 73244475) & 2147483647 AS h1 FROM events WHERE event_type = '$t'))))"
      s"""WITH va AS ${mixed("view")}, pa AS ${mixed("purchase")}, ka AS (SELECT h FROM va ORDER BY h LIMIT 128), kb AS (SELECT h FROM pa ORDER BY h LIMIT 128), ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 128), ea AS (SELECT CAST(CASE WHEN COUNT(*) < 128 THEN COUNT(*) ELSE (CAST(127 AS BIGINT)*2147483647) // GREATEST(MAX(h), 1) END AS BIGINT) AS est_a FROM ka), eb AS (SELECT CAST(CASE WHEN COUNT(*) < 128 THEN COUNT(*) ELSE (CAST(127 AS BIGINT)*2147483647) // GREATEST(MAX(h), 1) END AS BIGINT) AS est_b FROM kb), eu AS (SELECT CAST(CASE WHEN COUNT(*) < 128 THEN COUNT(*) ELSE (CAST(127 AS BIGINT)*2147483647) // GREATEST(MAX(h), 1) END AS BIGINT) AS est_union FROM ku), cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS common_in_k FROM ku WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)), uk AS (SELECT CAST(COUNT(*) AS BIGINT) AS union_k FROM ku) SELECT ea.est_a, eb.est_b, eu.est_union, cm.common_in_k, uk.union_k, CAST(cm.common_in_k*1000000 // GREATEST(uk.union_k, 1) AS BIGINT) AS jaccard_ppm, CAST(cm.common_in_k*eu.est_union // GREATEST(uk.union_k, 1) AS BIGINT) AS est_intersection FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN cm CROSS JOIN uk"""}),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
        def side(t: String) = Stats.kmvSketch(
          ev.filter(col("event_type") === t)
            .select(Stats.mix31r(col("user_id"), rounds = 3).as("h")),
          "h", k = 128)
        Stats.kmvOverlapReport(side("view"), side("purchase"), k = 128)
      }),

    // percolation: stored conjunctive term queries matched against every
    // document — reverse search for alerting/routing
    Q("q238_percolate", Some(
      s"""WITH dt AS (SELECT doc_id, list_distinct($dToks) AS tks FROM documents), q AS (SELECT * FROM (VALUES (1, ['join', 'hash']), (2, ['vector', 'scan', 'table']), (3, ['zzz_nomatch']), (4, ['merge'])) t(query_id, terms)) SELECT q.query_id, d.doc_id FROM dt d CROSS JOIN q WHERE list_has_all(d.tks, q.terms) ORDER BY query_id, doc_id"""),
      (s, dir) => Retrieval.percolate(docs(tune(s), dir), "text", "doc_id",
        Seq(1 -> Seq("join", "hash"), 2 -> Seq("vector", "scan", "table"),
          3 -> Seq("zzz_nomatch"), 4 -> Seq("merge")))),

    // encoding advisor: measured plain-vs-dictionary sizes per column —
    // the parquet layout decision from data, not defaults
    Q("q239_encoding_advisor", Some(
      """WITH p AS (SELECT 'doc_id' AS c, CAST(doc_id AS VARCHAR) AS v, CAST(8 AS BIGINT) AS len FROM documents WHERE doc_id IS NOT NULL UNION ALL SELECT 'lang', lang, CAST(length(lang) AS BIGINT) FROM documents WHERE lang IS NOT NULL UNION ALL SELECT 'source', source, CAST(length(source) AS BIGINT) FROM documents WHERE source IS NOT NULL UNION ALL SELECT 'text', text, CAST(length(text) AS BIGINT) FROM documents WHERE text IS NOT NULL), bv AS (SELECT c, v, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(MIN(len) AS BIGINT) AS len FROM p GROUP BY 1, 2), r AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS ndv, CAST(SUM(cnt*len) AS BIGINT) AS plain_units, CAST(SUM(len) AS BIGINT) AS payload FROM bv GROUP BY 1), r2 AS (SELECT c AS "column", n, ndv, plain_units, CAST(payload + (n*(CASE WHEN ndv <= 1 THEN 1 ELSE length(bin(ndv - 1)) END) + 7) // 8 AS BIGINT) AS dict_units FROM r) SELECT "column", n, ndv, plain_units, dict_units, CASE WHEN dict_units < plain_units THEN 'dict' ELSE 'plain' END AS recommend FROM r2 ORDER BY "column""""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        Layout.encodingAdvisor(
          d.select(col("doc_id"), col("lang"), col("source"), col("text")),
          Seq("doc_id", "lang", "source", "text"))
      }),

    // near-dup method agreement: minhash band candidates vs simhash
    // hamming≤2 pairs over the same corpus — the detector-choice readout
    Q("q240_dedup_agreement", Some(
      s"""$dMinhashSig, mbands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), mh AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM mbands l JOIN mbands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), th2 AS (SELECT doc_id, unnest(list_transform(tk, t -> ${dFold("t")})) AS h FROM toks), bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS bal FROM th2 CROSS JOIN range(32) t(j) GROUP BY doc_id, j), sh AS (SELECT doc_id, CAST(SUM(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash FROM bits GROUP BY doc_id), sbands AS (SELECT doc_id, simhash, j AS band_id, CASE WHEN j = 0 THEN simhash & 1023 WHEN j = 1 THEN (simhash >> 10) & 1023 ELSE (simhash >> 20) & 4095 END AS band_val FROM sh CROSS JOIN range(3) t(j)), sp AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM sbands l JOIN sbands r ON l.band_id = r.band_id AND l.band_val = r.band_val AND l.doc_id < r.doc_id WHERE bit_count(xor(l.simhash, r.simhash)) <= 2), j AS (SELECT (mh.a IS NOT NULL) AS ina, (sp.a IS NOT NULL) AS inb FROM mh FULL OUTER JOIN sp ON mh.a = sp.a AND mh.b = sp.b) SELECT CAST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS n_b, CAST(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT) AS n_both, CAST(SUM(CASE WHEN ina AND NOT inb THEN 1 ELSE 0 END) AS BIGINT) AS only_a, CAST(SUM(CASE WHEN inb AND NOT ina THEN 1 ELSE 0 END) AS BIGINT) AS only_b, CAST(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END)*1000000 // GREATEST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) + SUM(CASE WHEN inb THEN 1 ELSE 0 END) - SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 1) AS BIGINT) AS jaccard_ppm FROM j"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        Dedup.pairSetAgreement(
          Dedup.minhashCandidates(Dedup.minhashBands(
            Dedup.minhashSignatures(d, "text", "doc_id"))),
          Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 2))
      }),

    // ensemble dedup: cluster only where minhash AND simhash agree — the
    // high-precision near-dup partition from two independent detectors
    Q("q241_ensemble_clusters", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, mbands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), mh AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM mbands l JOIN mbands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), th2 AS (SELECT doc_id, unnest(list_transform(tk, t -> ${dFold("t")})) AS h FROM toks), bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS bal FROM th2 CROSS JOIN range(32) t(j) GROUP BY doc_id, j), sh AS (SELECT doc_id, CAST(SUM(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash FROM bits GROUP BY doc_id), sbands AS (SELECT doc_id, simhash, j AS band_id, CASE WHEN j = 0 THEN simhash & 1023 WHEN j = 1 THEN (simhash >> 10) & 1023 ELSE (simhash >> 20) & 4095 END AS band_val FROM sh CROSS JOIN range(3) t(j)), sp AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM sbands l JOIN sbands r ON l.band_id = r.band_id AND l.band_val = r.band_val AND l.doc_id < r.doc_id WHERE bit_count(xor(l.simhash, r.simhash)) <= 2), bo AS (SELECT mh.a AS doc_a, mh.b AS doc_b FROM mh JOIN sp ON mh.a = sp.a AND mh.b = sp.b), e AS (SELECT doc_a AS s, doc_b AS t FROM bo UNION ALL SELECT doc_b AS s, doc_a AS t FROM bo), reach(s, t) AS (SELECT s, t FROM e UNION SELECT reach.s, e2.t FROM reach JOIN e e2 ON reach.t = e2.s) SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS cluster_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id ORDER BY d.doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val mh = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val sp = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 2)
          .select("doc_a", "doc_b")
        val both = mh.join(sp, Seq("doc_a", "doc_b"), "left_semi")
        Dedup.nearDupClusters(d, both, "doc_id").orderBy("doc_id")
      }),

    // feature-hashing collision report: what squeezing the categorical
    // feature space into 1024 buckets costs, measured
    Q("q242_feature_hash", Some({
      def f(c: String, expr: String) =
        s"SELECT DISTINCT '$c=' || $expr AS f FROM lineitem WHERE $expr IS NOT NULL"
      s"""WITH f AS (${f("l_returnflag", "l_returnflag")} UNION ${f("l_linestatus", "l_linestatus")} UNION ${f("l_suppkey", "CAST(l_suppkey AS VARCHAR)")} UNION ${f("l_partkey", "CAST(l_partkey AS VARCHAR)")}), b AS (SELECT ${dFold("f")} % 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS load FROM f GROUP BY 1) SELECT CAST(SUM(load) AS BIGINT) AS n_features, CAST(1024 AS BIGINT) AS n_buckets, CAST(COUNT(*) AS BIGINT) AS buckets_used, CAST(MAX(load) AS BIGINT) AS max_load, CAST(SUM(CASE WHEN load > 1 THEN load ELSE 0 END) AS BIGINT) AS collided_features, CAST(SUM(CASE WHEN load > 1 THEN load ELSE 0 END)*1000000 // GREATEST(SUM(load), 1) AS BIGINT) AS collision_ppm FROM b"""}),
      (s, dir) => Stats.featureHashReport(lineitem(tune(s), dir),
        Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_partkey"))),

    // Theil–Sen robust arrival trend per event type: median pairwise
    // slope over the daily series — one outlier day can't drag it
    Q("q243_theil_sen", Some(
      s"""WITH sd AS (SELECT event_type AS grp, CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS x, CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2), sz AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM sd GROUP BY 1), sm AS (SELECT sd.grp, sd.x, sd.y FROM sd JOIN sz ON sd.grp = sz.grp AND sz.n <= 1000), p AS (SELECT a.grp, CAST(${dTruncDiv("(b.y - a.y)*1000000", "b.x - a.x")} AS BIGINT) AS slope FROM sm a JOIN sm b ON a.grp = b.grp AND a.x < b.x), np AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1), md AS (SELECT grp, CAST(slope AS BIGINT) AS slope_ppm FROM (SELECT grp, slope, row_number() OVER (PARTITION BY grp ORDER BY slope) AS rn, COUNT(*) OVER (PARTITION BY grp) AS n FROM p) r WHERE r.rn = (r.n*50 + 99)//100) SELECT sz.grp, sz.n, COALESCE(np.n_pairs, 0) AS n_pairs, COALESCE(md.slope_ppm, 0) AS slope_ppm, CAST(CASE WHEN sz.n <= 1000 AND np.n_pairs IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS computed FROM sz LEFT JOIN np USING (grp) LEFT JOIN md USING (grp) ORDER BY sz.grp"""),
      (s, dir) => Stats.theilSenTrend(
        KafkaLike.events(tune(s), dir)
          .groupBy(col("event_type").as("grp"),
            IntMath.idiv(IntMath.idiv(col("ts"), lit(1000000L)),
              lit(86400000L)).as("day"))
          .agg(count(lit(1)).as("y")),
        "grp", "day", "y")),

    // trimmed + winsorized spend means per event type — the robust
    // central-tendency card next to the raw mean
    Q("q244_trimmed_mean", Some(
      """WITH v AS (SELECT event_type AS cls, CAST(floor(value*100) AS BIGINT) AS x FROM events), r AS (SELECT cls, x, row_number() OVER (PARTITION BY cls ORDER BY x) AS rn, COUNT(*) OVER (PARTITION BY cls) AS n FROM v), bo AS (SELECT cls, MAX(CASE WHEN rn = (n*10 + 99)//100 THEN x END) AS lo, MAX(CASE WHEN rn = (n*90 + 99)//100 THEN x END) AS hi FROM r GROUP BY 1) SELECT v.cls, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) // GREATEST(COUNT(*), 1) AS BIGINT) AS mean_v, CAST(MIN(bo.lo) AS BIGINT) AS lo_bound, CAST(MAX(bo.hi) AS BIGINT) AS hi_bound, CAST(SUM(CASE WHEN x BETWEEN bo.lo AND bo.hi THEN 0 ELSE 1 END) AS BIGINT) AS n_trimmed, CAST(SUM(CASE WHEN x BETWEEN bo.lo AND bo.hi THEN x ELSE 0 END) // GREATEST(SUM(CASE WHEN x BETWEEN bo.lo AND bo.hi THEN 1 ELSE 0 END), 1) AS BIGINT) AS trimmed_mean, CAST(SUM(GREATEST(bo.lo, LEAST(bo.hi, x))) // GREATEST(COUNT(*), 1) AS BIGINT) AS winsorized_mean FROM v JOIN bo ON v.cls = bo.cls GROUP BY v.cls ORDER BY v.cls"""),
      (s, dir) => Stats.trimmedMeanReport(
        KafkaLike.events(tune(s), dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents")),
        "event_type", "cents", trimPct = 10)),

    // rsync-style range-checksum diff: 32 key ranges LOCALIZE a snapshot
    // mutation confined to four contiguous 1000-key blocks ((k DIV 1000)
    // ≡ 5 mod 16: edits, plus deletions of ≡3-mod-10 keys inside them) —
    // most ranges must verify clean, only the touched ones flag
    Q("q245_range_diff", Some(
      s"""WITH oa AS (SELECT o_orderkey AS k, o_orderstatus || ',' || CAST(CAST(floor(o_totalprice*100) AS BIGINT) AS VARCHAR) AS content FROM orders), ob AS (SELECT k, CASE WHEN (k // 1000) % 16 = 5 THEN content || '*' ELSE content END AS content FROM oa WHERE NOT ((k // 1000) % 16 = 5 AND k % 10 = 3)), mm AS (SELECT MIN(k) AS lo, MAX(k) AS hi FROM (SELECT k FROM oa UNION ALL SELECT k FROM ob)), w AS (SELECT lo, (hi - lo) // 32 + 1 AS width FROM mm), ca AS (SELECT (k - w.lo) // w.width AS range_id, CAST(COUNT(*) AS BIGINT) AS n_a, CAST(bit_xor(${dFold("CAST(k AS VARCHAR) || '|' || content")}) AS BIGINT) AS checksum_a FROM oa CROSS JOIN w GROUP BY 1), cb AS (SELECT (k - w.lo) // w.width AS range_id, CAST(COUNT(*) AS BIGINT) AS n_b, CAST(bit_xor(${dFold("CAST(k AS VARCHAR) || '|' || content")}) AS BIGINT) AS checksum_b FROM ob CROSS JOIN w GROUP BY 1) SELECT CAST(COALESCE(ca.range_id, cb.range_id) AS BIGINT) AS range_id, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b, COALESCE(checksum_a, 0) AS checksum_a, COALESCE(checksum_b, 0) AS checksum_b, (COALESCE(n_a, 0) <> COALESCE(n_b, 0) OR COALESCE(checksum_a, 0) <> COALESCE(checksum_b, 0)) AS differs FROM ca FULL OUTER JOIN cb ON ca.range_id = cb.range_id ORDER BY range_id"""),
      (s, dir) => {
        val oa = orders(tune(s), dir).select(col("o_orderkey"),
          concat_ws(",", col("o_orderstatus"),
            floor(col("o_totalprice") * 100).cast(LongType)
              .cast(StringType)).as("content"))
        val inBand = IntMath.idiv(col("o_orderkey"), lit(1000L)) % 16L === 5L
        val ob = oa.filter(!(inBand && col("o_orderkey") % 10L === 3L))
          .select(col("o_orderkey"),
            when(inBand, concat(col("content"), lit("*")))
              .otherwise(col("content")).as("content"))
        Snapshot.rangeChecksums(oa, ob, "o_orderkey", "content",
          nRanges = 32)
      }),

    // TPC-H Q13 shape: order-count distribution per customer INCLUDING
    // zero-order customers — the left-outer-join aggregation the planner
    // must not turn inner
    Q("q246_tpch_q13", Some(
      """WITH co AS (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY 1) SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers FROM co GROUP BY 1 ORDER BY n_orders"""),
      (s, dir) => customer(tune(s), dir).select("c_custkey")
        .join(orders(tune(s), dir).select("o_custkey", "o_orderkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders")),

    // TPC-H Q18 shape: large-volume orders via a HAVING'd aggregate
    // feeding a join chain; top-20 stable-tied
    Q("q247_tpch_q18", Some(
      """WITH oq AS (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) SELECT c.c_custkey, c.c_name, o.o_orderkey, CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS odate_ms, oq.sum_qty FROM oq JOIN orders o ON oq.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY oq.sum_qty DESC, o.o_orderkey LIMIT 20"""),
      (s, dir) => {
        val oq = lineitem(tune(s), dir)
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .filter(col("sum_qty") > 300L)
        oq.join(orders(tune(s), dir), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(tune(s), dir)
            .select("c_custkey", "c_name")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            unix_millis(col("o_orderdate").cast(TimestampType))
              .as("odate_ms"), col("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey"))
          .limit(20)
      }),

    // TPC-H Q22 shape: above-average-balance customers with NO orders —
    // integer-exact average, anti-join, per-segment rollup (the order
    // snapshot has custkeys ≡7 mod 10 punched out so the anti-join side
    // is non-empty, the q216 fixture convention)
    Q("q248_tpch_q22", Some(
      """WITH bal AS (SELECT c_custkey, c_mktsegment, CAST(floor(c_acctbal*100) AS BIGINT) AS bal_c FROM customer), ab AS (SELECT CAST(SUM(bal_c) // COUNT(*) AS BIGINT) AS avg_c FROM bal WHERE bal_c > 0), el AS (SELECT b.* FROM bal b CROSS JOIN ab WHERE b.bal_c > ab.avg_c), no_ord AS (SELECT el.* FROM el WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = el.c_custkey AND o.o_custkey % 10 <> 7)) SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_custs, CAST(SUM(bal_c) AS BIGINT) AS total_bal_c FROM no_ord GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val bal = customer(tune(s), dir).select(col("c_custkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal") * 100).cast(LongType).as("bal_c"))
        val ab = bal.filter(col("bal_c") > 0L)
          .agg(IntMath.idiv(sum("bal_c"), count(lit(1))).as("avg_c"))
        bal.crossJoin(broadcast(ab))
          .filter(col("bal_c") > col("avg_c"))
          .join(orders(tune(s), dir).select("o_custkey")
            .filter(col("o_custkey") % 10L =!= 7L),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_custs"), sum("bal_c").as("total_bal_c"))
          .orderBy("c_mktsegment")
      }),

    // native pivot: daily arrivals × event type — the Catalyst Expand
    // surface with explicit value list (no dictionary scan)
    Q("q249_pivot_daily", Some(
      """WITH e AS (SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day, event_type FROM events) SELECT day, CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view FROM e GROUP BY day ORDER BY day"""),
      (s, dir) => KafkaLike.events(tune(s), dir)
        .select(IntMath.idiv(IntMath.idiv(col("ts"), lit(1000000L)),
          lit(86400000L)).as("day"), col("event_type"))
        .groupBy("day")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("day")),

    // partition-completeness audit: per-day volume vs trailing-7-day
    // median — the backfill list; a synthetic hole (2 dropped days) must
    // flag while intact days pass
    Q("q250_partition_completeness", Some(
      """WITH e AS (SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day FROM events WHERE CAST(epoch_ms(ts) AS BIGINT) // 86400000 % 13 <> 4), bd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1), mm AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM bd), days AS (SELECT CAST(unnest(range(mm.lo, mm.hi + 1)) AS BIGINT) AS day FROM mm), s AS (SELECT d.day, COALESCE(bd.c, 0) AS n FROM days d LEFT JOIN bd ON d.day = bd.day), t AS (SELECT day, n, list_sort(list(n) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS tr FROM s), m AS (SELECT day, n, CASE WHEN len(tr) = 0 THEN NULL ELSE CAST(tr[CAST((len(tr) + 1) // 2 AS INT)] AS BIGINT) END AS trailing_median FROM t) SELECT day, n, trailing_median, CAST(CASE WHEN trailing_median IS NULL OR trailing_median = 0 THEN 1000000 ELSE n*1000000 // trailing_median END AS BIGINT) AS ratio_ppm, (CASE WHEN trailing_median IS NULL OR trailing_median = 0 THEN 1000000 ELSE n*1000000 // trailing_median END) >= 500000 AS ok FROM m ORDER BY day"""),
      (s, dir) => graft.streaming.EventTimeOps.partitionCompleteness(
        KafkaLike.events(tune(s), dir)
          .select(IntMath.idiv(col("ts"), lit(1000000L)).as("ms"))
          .filter(IntMath.idiv(col("ms"), lit(86400000L)) % 13L =!= 4L),
        "ms", lookbackDays = 7, minRatioPpm = 500000L)),

    // workload pruning report: files touched per predicate under sort-x /
    // sort-y / z-order layouts with zone-map pruning — the measured
    // storage-scan payoff of the layout decision
    Q("q251_pruning_report", Some({
      val OPEN_LO = "-9223372036854775807"
      val OPEN_HI = "9223372036854775807"
      def sortLayout(tag: String, o: String) =
        s"g_$tag AS (SELECT $o AS cv, COUNT(*) AS c FROM v GROUP BY 1), f_$tag AS (SELECT cv, CAST((SUM(c) OVER (ORDER BY cv ROWS UNBOUNDED PRECEDING) - c) * 16 // (SELECT COUNT(*) FROM v) AS BIGINT) AS file FROM g_$tag), a_$tag AS (SELECT v.x, v.y, f_$tag.file FROM v JOIN f_$tag ON v.$o = f_$tag.cv), s_$tag AS (SELECT file, MIN(x) AS fxl, MAX(x) AS fxh, MIN(y) AS fyl, MAX(y) AS fyh FROM a_$tag GROUP BY 1), r_$tag AS (SELECT 'sort_$o' AS layout, p.predicate, CAST(COUNT(*) AS BIGINT) AS files_total, CAST(SUM(CASE WHEN fxh >= p.xlo AND fxl <= p.xhi AND fyh >= p.ylo AND fyl <= p.yhi THEN 1 ELSE 0 END) AS BIGINT) AS files_touched FROM s_$tag CROSS JOIN preds p GROUP BY 1, 2)"
      val scaleX = "CAST((x - mm.lox)*255 // GREATEST(mm.hix - mm.lox, 1) AS BIGINT)"
      val scaleY = "CAST((y - mm.loy)*255 // GREATEST(mm.hiy - mm.loy, 1) AS BIGINT)"
      s"""WITH v AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem), preds AS (SELECT * FROM (VALUES ('p_part_band', 500, 1000, $OPEN_LO, $OPEN_HI), ('p_point_both', 500, 1000, 10, 30), ('p_supp_band', $OPEN_LO, $OPEN_HI, 10, 30)) t(predicate, xlo, xhi, ylo, yhi)), ${sortLayout("x", "x")}, ${sortLayout("y", "y")}, mm AS (SELECT MIN(x) AS lox, MAX(x) AS hix, MIN(y) AS loy, MAX(y) AS hiy FROM v), az AS (SELECT v.x, v.y, CAST((${dMorton("xs", "ys", 8)}) >> 12 AS BIGINT) AS file FROM (SELECT v.x, v.y, $scaleX AS xs, $scaleY AS ys FROM v CROSS JOIN mm) v), s_z AS (SELECT file, MIN(x) AS fxl, MAX(x) AS fxh, MIN(y) AS fyl, MAX(y) AS fyh FROM az GROUP BY 1), r_z AS (SELECT 'zorder' AS layout, p.predicate, CAST(COUNT(*) AS BIGINT) AS files_total, CAST(SUM(CASE WHEN fxh >= p.xlo AND fxl <= p.xhi AND fyh >= p.ylo AND fyl <= p.yhi THEN 1 ELSE 0 END) AS BIGINT) AS files_touched FROM s_z CROSS JOIN preds p GROUP BY 1, 2), u AS (SELECT * FROM r_x UNION ALL SELECT * FROM r_y UNION ALL SELECT * FROM r_z) SELECT layout, predicate, files_total, files_touched, CAST(files_touched*1000000 // GREATEST(files_total, 1) AS BIGINT) AS touched_ppm FROM u ORDER BY layout, predicate"""}),
      (s, dir) => Layout.pruningReport(
        lineitem(tune(s), dir), "l_partkey", "l_suppkey",
        Seq(
          Layout.ScanPredicate("p_part_band", 500L, 1000L,
            -9223372036854775807L, 9223372036854775807L),
          Layout.ScanPredicate("p_point_both", 500L, 1000L, 10L, 30L),
          Layout.ScanPredicate("p_supp_band",
            -9223372036854775807L, 9223372036854775807L, 10L, 30L)),
        nFiles = 16, bits = 8)),

    // share-of-total OLAP: each nation's revenue share within its region
    // (keyed window over a broadcast-joined star)
    Q("q252_share_of_total", Some(
      """WITH rev AS (SELECT n.n_regionkey, n.n_name, CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))) AS BIGINT) AS rev_u FROM lineitem l JOIN supplier s2 ON l.l_suppkey = s2.s_suppkey JOIN nation n ON s2.s_nationkey = n.n_nationkey GROUP BY 1, 2) SELECT r.r_name, rev.n_name, rev.rev_u, CAST(CAST(rev.rev_u AS HUGEINT)*1000000 // SUM(CAST(rev.rev_u AS HUGEINT)) OVER (PARTITION BY rev.n_regionkey) AS BIGINT) AS share_ppm FROM rev JOIN region r ON rev.n_regionkey = r.r_regionkey ORDER BY r.r_name, rev.n_name"""),
      (s, dir) => {
        val sp = tune(s)
        val l = lineitem(sp, dir).select(col("l_suppkey"),
          (floor(col("l_extendedprice") * 100).cast(LongType) *
            (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
            .as("rev_u"))
        val rev = l
          .join(broadcast(sp.read.parquet(s"$dir/supplier.parquet")
            .select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sp.read.parquet(s"$dir/nation.parquet")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_regionkey", "n_name")
          .agg(sum("rev_u").as("rev_u"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("n_regionkey"))
        rev
          .join(broadcast(sp.read.parquet(s"$dir/region.parquet")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"), col("rev_u"),
            // rev_u*1e6 overflows int64 from sf0.1 up (per-nation sums reach
            // ~2.4e13) — widen the ppm ratio to DECIMAL(38,0); div on
            // decimals returns the truncated quotient as BIGINT, matching
            // the oracle's HUGEINT floor-div on non-negative operands
            IntMath.idiv(
              col("rev_u").cast(DecimalType(38, 0)) * lit(1000000L),
              sum(col("rev_u")).over(w).cast(DecimalType(38, 0)))
              .cast(LongType).as("share_ppm"))
          .orderBy("r_name", "n_name")
      }),

    // TPC-H Q4 shape: EXISTS with a cross-table predicate — the semi-join
    // the planner must keep a semi-join (no row multiplication from
    // multi-line orders); "late line" = shipped ≥90 days after orderdate
    Q("q253_tpch_q4", Some(
      """SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders o WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01' AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND CAST(epoch_ms(l.l_shipdate) AS BIGINT) >= CAST(epoch_ms(o.o_orderdate) AS BIGINT) + 7776000000) GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val sp = tune(s)
        val o = orders(sp, dir)
          .filter(col("o_orderdate").cast(TimestampType) >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
            col("o_orderdate").cast(TimestampType) <
              to_timestamp(lit("1998-01-01 00:00:00")))
          .withColumn("o_ms", unix_millis(col("o_orderdate").cast(TimestampType)))
        val l = lineitem(sp, dir).select(col("l_orderkey"),
          unix_millis(col("l_shipdate").cast(TimestampType)).as("ship_ms"))
        o.join(l, o("o_orderkey") === l("l_orderkey") &&
            l("ship_ms") >= o("o_ms") + lit(7776000000L), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      }),

    // TPC-H Q6 shape: scan-only filtered aggregate — every predicate must
    // reach the parquet scan (PushedFilters), no join, no shuffle beyond
    // the final 1-row partial-agg combine
    Q("q254_tpch_q6", Some(
      """SELECT CAST(SUM(CAST(floor(l_extendedprice*100) AS BIGINT)*CAST(floor(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_u, CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' AND CAST(floor(l_discount*100) AS BIGINT) BETWEEN 5 AND 7 AND CAST(l_quantity AS BIGINT) < 24"""),
      (s, dir) => {
        val disc = floor(col("l_discount") * 100).cast(LongType)
        lineitem(tune(s), dir)
          .filter(col("l_shipdate").cast(TimestampType) >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
            col("l_shipdate").cast(TimestampType) <
              to_timestamp(lit("1998-01-01 00:00:00")) &&
            disc.between(5L, 7L) &&
            col("l_quantity").cast(LongType) < 24L)
          .agg((sum(floor(col("l_extendedprice") * 100).cast(LongType) * disc))
            .cast(LongType).as("revenue_u"),
            count(lit(1)).as("n_rows"))
      }),

    // TPC-H Q7 shape: volume shipping between two nations, both directions
    // by ship year — two broadcast nation lookups under distinct aliases
    Q("q255_tpch_q7", Some(
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation, CAST(year(l.l_shipdate) AS BIGINT) AS l_year, CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_u FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey JOIN supplier s ON l.l_suppkey = s.s_suppkey JOIN nation ns ON s.s_nationkey = ns.n_nationkey JOIN nation nc ON c.c_nationkey = nc.n_nationkey WHERE (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7') OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3') GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      (s, dir) => {
        val sp = tune(s)
        val nat = sp.read.parquet(s"$dir/nation.parquet")
          .filter(col("n_name").isin("NATION_3", "NATION_7"))
        val sup = sp.read.parquet(s"$dir/supplier.parquet")
          .select("s_suppkey", "s_nationkey")
          .join(broadcast(nat.select(col("n_nationkey"),
            col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        val cust = customer(sp, dir).select("c_custkey", "c_nationkey")
          .join(broadcast(nat.select(col("n_nationkey").as("nk2"),
            col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("nk2"))
          .select("c_custkey", "cust_nation")
        lineitem(sp, dir)
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate").cast(TimestampType)).cast(LongType)
              .as("l_year"),
            (floor(col("l_extendedprice") * 100).cast(LongType) *
              (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
              .as("rev_u"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(orders(sp, dir).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .filter((col("supp_nation") === "NATION_3" &&
            col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" &&
              col("cust_nation") === "NATION_3"))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(sum("rev_u").as("revenue_u"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      }),

    // TPC-H Q8 shape: market share — one supplier nation's ppm of the
    // region's customer-market revenue per order year (conditional agg
    // over the full star, no second pass)
    Q("q256_tpch_q8", Some(
      """WITH allrev AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT)) AS rev_u, ns.n_name AS supp_nation FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation nc ON c.c_nationkey = nc.n_nationkey JOIN region r ON nc.n_regionkey = r.r_regionkey JOIN supplier s ON l.l_suppkey = s.s_suppkey JOIN nation ns ON s.s_nationkey = ns.n_nationkey WHERE r.r_name = 'ASIA') SELECT o_year, CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_u ELSE 0 END) AS BIGINT) AS nation_rev_u, CAST(SUM(rev_u) AS BIGINT) AS total_rev_u, CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_u ELSE 0 END)*1000000 // GREATEST(SUM(rev_u), 1) AS BIGINT) AS share_ppm FROM allrev GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val sp = tune(s)
        val asiaCust = customer(sp, dir).select("c_custkey", "c_nationkey")
          .join(broadcast(sp.read.parquet(s"$dir/nation.parquet")
            .join(broadcast(sp.read.parquet(s"$dir/region.parquet")
              .filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey")),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey")
        val sup = sp.read.parquet(s"$dir/supplier.parquet")
          .select("s_suppkey", "s_nationkey")
          .join(broadcast(sp.read.parquet(s"$dir/nation.parquet")
            .select(col("n_nationkey").as("snk"),
              col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("snk"))
          .select("s_suppkey", "supp_nation")
        lineitem(sp, dir)
          .select(col("l_orderkey"), col("l_suppkey"),
            (floor(col("l_extendedprice") * 100).cast(LongType) *
              (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
              .as("rev_u"))
          .join(orders(sp, dir).select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate").cast(TimestampType)).cast(LongType)
              .as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"),
            "left_semi")
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy("o_year")
          .agg(sum(when(col("supp_nation") === "NATION_3", col("rev_u"))
            .otherwise(0L)).as("nation_rev_u"),
            sum("rev_u").as("total_rev_u"))
          .select(col("o_year"), col("nation_rev_u"), col("total_rev_u"),
            IntMath.idiv(col("nation_rev_u") * lit(1000000L),
              greatest(col("total_rev_u"), lit(1L))).as("share_ppm"))
          .orderBy("o_year")
      }),

    // TPC-H Q9 shape: profit by supplier nation × order year — profit
    // proxy = revenue − qty·retail (no partsupp supplycost in this
    // schema); part dim broadcast, one wide-fact aggregation
    Q("q257_tpch_q9", Some(
      """SELECT ns.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year, CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT)) - CAST(l.l_quantity AS BIGINT)*CAST(floor(p.p_retailprice*100) AS BIGINT)*100) AS BIGINT) AS profit_u FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN part p ON l.l_partkey = p.p_partkey JOIN supplier s ON l.l_suppkey = s.s_suppkey JOIN nation ns ON s.s_nationkey = ns.n_nationkey WHERE p.p_type = 'PROMO' GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val sp = tune(s)
        val promo = sp.read.parquet(s"$dir/part.parquet")
          .filter(col("p_type") === "PROMO")
          .select(col("p_partkey"),
            floor(col("p_retailprice") * 100).cast(LongType).as("retail_c"))
        val sup = sp.read.parquet(s"$dir/supplier.parquet")
          .select("s_suppkey", "s_nationkey")
          .join(broadcast(sp.read.parquet(s"$dir/nation.parquet")
            .select(col("n_nationkey"), col("n_name").as("nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "nation")
        lineitem(sp, dir)
          .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (floor(col("l_extendedprice") * 100).cast(LongType) *
              (lit(100L) - floor(col("l_discount") * 100).cast(LongType)) -
              col("l_quantity").cast(LongType) * col("retail_c") * lit(100L))
              .as("profit_u"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(orders(sp, dir).select(col("o_orderkey"),
            year(col("o_orderdate").cast(TimestampType)).cast(LongType)
              .as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("nation", "o_year")
          .agg(sum("profit_u").as("profit_u"))
          .orderBy("nation", "o_year")
      }),

    // TPC-H Q10 shape: returned-item revenue per customer over a
    // half-year — big fact join, top-20 by revenue with key tiebreak
    Q("q258_tpch_q10", Some(
      """SELECT c.c_custkey, c.c_name, n.n_name, CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_u FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-07-01' AND l.l_returnflag = 'R' GROUP BY 1, 2, 3 ORDER BY revenue_u DESC, c.c_custkey LIMIT 20"""),
      (s, dir) => {
        val sp = tune(s)
        val o = orders(sp, dir)
          .filter(col("o_orderdate").cast(TimestampType) >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
            col("o_orderdate").cast(TimestampType) <
              to_timestamp(lit("1997-07-01 00:00:00")))
          .select("o_orderkey", "o_custkey")
        val cust = customer(sp, dir)
          .join(broadcast(sp.read.parquet(s"$dir/nation.parquet")),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_name", "n_name")
        lineitem(sp, dir).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (floor(col("l_extendedprice") * 100).cast(LongType) *
              (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
              .as("rev_u"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum("rev_u").as("revenue_u"))
          .orderBy(col("revenue_u").desc, col("c_custkey"))
          .limit(20)
      }),

    // TPC-H Q12 shape: priority-class conditional aggregation over a
    // date-windowed fact join (this schema has no shipmode; the class
    // dimension is the return flag)
    Q("q259_tpch_q12", Some(
      """SELECT l.l_returnflag, CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val sp = tune(s)
        val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        lineitem(sp, dir)
          .filter(col("l_shipdate").cast(TimestampType) >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
            col("l_shipdate").cast(TimestampType) <
              to_timestamp(lit("1998-01-01 00:00:00")))
          .select("l_orderkey", "l_returnflag")
          .join(orders(sp, dir).select("o_orderkey", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("l_returnflag")
      }),

    // TPC-H Q14 shape: promo revenue share over one month — broadcast
    // part dim, single conditional aggregate, ppm-exact share
    Q("q260_tpch_q14", Some(
      """SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS promo_rev_u, CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))) AS BIGINT) AS total_rev_u, CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT)) ELSE 0 END)*1000000 // GREATEST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))), 1) AS BIGINT) AS promo_ppm FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey WHERE l.l_shipdate >= TIMESTAMP '1997-03-01' AND l.l_shipdate < TIMESTAMP '1997-04-01'"""),
      (s, dir) => {
        val sp = tune(s)
        val revU = (floor(col("l_extendedprice") * 100).cast(LongType) *
          (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
        lineitem(sp, dir)
          .filter(col("l_shipdate").cast(TimestampType) >=
            to_timestamp(lit("1997-03-01 00:00:00")) &&
            col("l_shipdate").cast(TimestampType) <
              to_timestamp(lit("1997-04-01 00:00:00")))
          .select(col("l_partkey"), revU.as("rev_u"))
          .join(broadcast(sp.read.parquet(s"$dir/part.parquet")
            .select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg(sum(when(col("p_type") === "PROMO", col("rev_u"))
            .otherwise(0L)).as("promo_rev_u"),
            sum("rev_u").as("total_rev_u"))
          .select(col("promo_rev_u"), col("total_rev_u"),
            IntMath.idiv(col("promo_rev_u") * lit(1000000L),
              greatest(col("total_rev_u"), lit(1L))).as("promo_ppm"))
      }),

    // TPC-H Q15 shape: top supplier by half-year revenue — the scalar-max
    // subquery as a 1-row broadcast equi-filter (handles ties correctly,
    // unlike a LIMIT 1)
    Q("q261_tpch_q15", Some(
      """WITH sr AS (SELECT l_suppkey, CAST(SUM(CAST(floor(l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l_discount*100) AS BIGINT))) AS BIGINT) AS total_rev_u FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01' GROUP BY 1), mx AS (SELECT CAST(MAX(total_rev_u) AS BIGINT) AS m FROM sr) SELECT s.s_suppkey, s.s_name, sr.total_rev_u FROM sr JOIN mx ON sr.total_rev_u = mx.m JOIN supplier s ON sr.l_suppkey = s.s_suppkey ORDER BY s.s_suppkey"""),
      (s, dir) => {
        val sp = tune(s)
        val sr = lineitem(sp, dir)
          .filter(col("l_shipdate").cast(TimestampType) >=
            to_timestamp(lit("1997-01-01 00:00:00")) &&
            col("l_shipdate").cast(TimestampType) <
              to_timestamp(lit("1997-07-01 00:00:00")))
          .groupBy("l_suppkey")
          .agg(sum(floor(col("l_extendedprice") * 100).cast(LongType) *
            (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
            .cast(LongType).as("total_rev_u"))
        val mx = sr.agg(max("total_rev_u").as("m"))
        sr.join(broadcast(mx), col("total_rev_u") === col("m"))
          .join(broadcast(sp.read.parquet(s"$dir/supplier.parquet")
            .select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select("s_suppkey", "s_name", "total_rev_u")
          .orderBy("s_suppkey")
      }),

    // TPC-H Q17 shape: small-quantity lines vs the per-part average —
    // integer-exact threshold 5·qty·cnt < sum_qty (≡ qty < avg/5), the
    // agg-then-rejoin the planner must NOT collapse into a window over
    // the unfiltered fact
    Q("q262_tpch_q17", Some(
      """WITH pa AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty FROM lineitem GROUP BY 1) SELECT CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS total_eprice_u, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_brand = 'Brand#1' AND 5*CAST(l.l_quantity AS BIGINT)*pa.cnt < pa.sum_qty"""),
      (s, dir) => {
        val sp = tune(s)
        // brand filter first: per-part stats only over the brand's parts
        // (identical values — the stats are keyed by part either way)
        val lb = lineitem(sp, dir)
          .join(broadcast(sp.read.parquet(s"$dir/part.parquet")
            .filter(col("p_brand") === "Brand#1").select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"),
            col("l_quantity").cast(LongType).as("qty"),
            floor(col("l_extendedprice") * 100).cast(LongType).as("ep_c"))
        val pa = lb.groupBy(col("l_partkey").as("pk"))
          .agg(count(lit(1)).as("cnt"), sum("qty").as("sum_qty"))
        lb.join(pa, col("l_partkey") === col("pk"))
          .filter(lit(5L) * col("qty") * col("cnt") < col("sum_qty"))
          .agg(sum("ep_c").as("total_eprice_u"),
            count(lit(1)).as("n_lines"))
      }),

    // TPC-H Q19 shape: OR-of-ANDs across fact and dim columns — the
    // disjunction must still prune (each disjunct narrows brand+size,
    // the join stays one broadcast hash join, no cartesian)
    Q("q263_tpch_q19", Some(
      """SELECT CAST(SUM(CAST(floor(l.l_extendedprice*100) AS BIGINT)*(100 - CAST(floor(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_u, CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5 AND CAST(l.l_quantity AS BIGINT) BETWEEN 1 AND 11) OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10 AND CAST(l.l_quantity AS BIGINT) BETWEEN 10 AND 20) OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 30 AND CAST(l.l_quantity AS BIGINT) BETWEEN 20 AND 30)"""),
      (s, dir) => {
        val sp = tune(s)
        val qty = col("l_quantity").cast(LongType)
        val cond =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            qty.between(1L, 11L)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            qty.between(10L, 20L)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 30) &&
            qty.between(20L, 30L))
        lineitem(sp, dir)
          .join(broadcast(sp.read.parquet(s"$dir/part.parquet")
            .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
            .select("p_partkey", "p_brand", "p_size")),
            col("l_partkey") === col("p_partkey"))
          .filter(cond)
          .agg(sum(floor(col("l_extendedprice") * 100).cast(LongType) *
            (lit(100L) - floor(col("l_discount") * 100).cast(LongType)))
            .cast(LongType).as("revenue_u"),
            count(lit(1)).as("n_rows"))
      }),

    // TPC-H Q21 shape: sole-blame supplier — on finished multi-supplier
    // orders, the unique last shipper (the exists/not-exists pair
    // expressed as one keyed aggregate + semi filter, no self-join per
    // predicate)
    Q("q264_tpch_q21", Some(
      """WITH fo AS (SELECT l.l_orderkey, l.l_suppkey, CAST(epoch_ms(l.l_shipdate) AS BIGINT) AS ship_ms FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderstatus = 'F'), om AS (SELECT l_orderkey, CAST(MAX(ship_ms) AS BIGINT) AS max_ms, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp FROM fo GROUP BY 1), lastw AS (SELECT DISTINCT fo.l_orderkey, fo.l_suppkey FROM fo JOIN om ON fo.l_orderkey = om.l_orderkey AND fo.ship_ms = om.max_ms WHERE om.n_supp >= 2), sole AS (SELECT l_orderkey FROM lastw GROUP BY 1 HAVING COUNT(*) = 1) SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait FROM lastw JOIN sole ON lastw.l_orderkey = sole.l_orderkey JOIN supplier s ON lastw.l_suppkey = s.s_suppkey GROUP BY 1 ORDER BY numwait DESC, s.s_name LIMIT 20"""),
      (s, dir) => {
        val sp = tune(s)
        val fo = lineitem(sp, dir)
          .join(orders(sp, dir).filter(col("o_orderstatus") === "F")
            .select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_semi")
          .select(col("l_orderkey"), col("l_suppkey"),
            unix_millis(col("l_shipdate").cast(TimestampType)).as("ship_ms"))
        val om = fo.groupBy(col("l_orderkey").as("ok"))
          .agg(max("ship_ms").as("max_ms"),
            countDistinct("l_suppkey").as("n_supp"))
          .filter(col("n_supp") >= 2L)
        val lastw = fo.join(om, col("l_orderkey") === col("ok") &&
            col("ship_ms") === col("max_ms"))
          .select("l_orderkey", "l_suppkey").distinct()
        val sole = lastw.groupBy(col("l_orderkey").as("sk"))
          .agg(count(lit(1)).as("nw")).filter(col("nw") === 1L)
          .select("sk")
        lastw.join(sole, col("l_orderkey") === col("sk"), "left_semi")
          .join(broadcast(sp.read.parquet(s"$dir/supplier.parquet")
            .select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      }),

    // salted skew join: the hot-key fact–dim join through SkewJoin
    // (dim replicated ×8, fact scattered) must be row-identical to the
    // plain join — the oracle IS the plain join
    Q("q265_salted_join", Some(
      """SELECT CAST(s.s_nationkey AS BIGINT) AS s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_lines, CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val sp = tune(s)
        SkewJoin.saltedJoin(
            lineitem(sp, dir).select(col("l_suppkey"),
              col("l_quantity").cast(LongType).as("qty")),
            sp.read.parquet(s"$dir/supplier.parquet")
              .select(col("s_suppkey"),
                col("s_nationkey").cast(LongType).as("s_nationkey")),
            "l_suppkey", "s_suppkey", salts = 8)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_lines"), sum("qty").as("sum_qty"))
          .orderBy("s_nationkey")
      }),

    // small-file compaction plan: per-partition file inventory → planned
    // post-compaction file counts and the rewrite bill (inventory is
    // metadata-sized; the monthly file fan-out alternates 40 tiny / 2
    // healthy so both branches of the decision appear)
    Q("q266_compaction_plan", Some(
      """WITH inv AS (SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS part_id, o_orderkey % (CASE WHEN month(o_orderdate) % 2 = 0 THEN 40 ELSE 2 END) AS file, CAST(COUNT(*)*100 AS BIGINT) AS bytes FROM orders GROUP BY 1, 2), a AS (SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(CASE WHEN bytes < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS small_files, CAST(SUM(bytes) AS BIGINT) AS total_bytes FROM inv GROUP BY 1), p AS (SELECT *, CAST(LEAST(n_files, (total_bytes + 19999) // 20000) AS BIGINT) AS planned_files FROM a) SELECT part_id AS "partition", n_files, small_files, total_bytes, planned_files, CAST(n_files - planned_files AS BIGINT) AS files_saved, (n_files - planned_files >= 1 AND small_files >= 2) AS compact, CAST(CASE WHEN n_files - planned_files >= 1 AND small_files >= 2 THEN total_bytes ELSE 0 END AS BIGINT) AS rewrite_bytes FROM p ORDER BY 1"""),
      (s, dir) => {
        val sp = tune(s)
        val od = col("o_orderdate").cast(TimestampType)
        val inv = orders(sp, dir)
          .groupBy((year(od) * 100 + month(od)).cast(LongType).as("part_id"),
            (col("o_orderkey") %
              when(month(od) % 2 === 0, 40L).otherwise(2L)).as("file"))
          .agg((count(lit(1)) * 100L).as("bytes"))
        Layout.compactionReport(inv, "part_id", "bytes",
          smallBytes = 1000L, targetBytes = 20000L)
      }),

    // join-strategy advisor: measured dim size + fact hot-key share →
    // broadcast / salted / shuffle, thresholds explicit
    Q("q267_join_advisor", Some(
      """WITH ks AS (SELECT CAST(COUNT(*) AS BIGINT) AS fact_keys, CAST(MAX(n)*1000000 // GREATEST(SUM(n), 1) AS BIGINT) AS top_key_share_ppm FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1)), ds AS (SELECT 'customer' AS dim_name, CAST(COUNT(*) AS BIGINT) AS dim_rows, CAST(SUM(8 + COALESCE(length(c_name), 0) + 8 + 8 + COALESCE(length(c_mktsegment), 0)) AS BIGINT) AS dim_bytes_est FROM customer UNION ALL SELECT 'orders', CAST(COUNT(*) AS BIGINT), CAST(SUM(8 + 8 + COALESCE(length(o_orderstatus), 0) + 8 + 8 + COALESCE(length(o_orderpriority), 0)) AS BIGINT) FROM orders UNION ALL SELECT 'supplier', CAST(COUNT(*) AS BIGINT), CAST(SUM(8 + COALESCE(length(s_name), 0) + 8 + 8) AS BIGINT) FROM supplier) SELECT ds.dim_name, ds.dim_rows, ds.dim_bytes_est, ks.fact_keys, ks.top_key_share_ppm, CASE WHEN ds.dim_bytes_est <= 10000 THEN 'broadcast' WHEN ks.top_key_share_ppm >= 2000 THEN 'salted' ELSE 'shuffle' END AS recommend FROM ds CROSS JOIN ks ORDER BY 1"""),
      (s, dir) => {
        val sp = tune(s)
        Layout.joinPlanAdvisor(
          KafkaLike.events(sp, dir), "user_id",
          Seq(
            "customer" -> customer(sp, dir),
            "orders" -> orders(sp, dir),
            "supplier" -> sp.read.parquet(s"$dir/supplier.parquet")),
          broadcastBytes = 10000L, skewSharePpm = 2000L)
      }),

    // margin-based cross-corpus pair mining (bitext-mining scoring): the
    // hubness-normalized top-1 over even/odd embedding halves; exact
    // brute-force neighborhoods here (the oracle baseline), IVF-pluggable
    // at scale
    Q("q268_margin_mine", Some({
      val tdivScore = "(CASE WHEN (fa.dot*1000000*8) < 0 THEN -1 ELSE 1 END) * ((abs(fa.dot*1000000*8)) // (fa.sum_k_a + COALESCE(ba.sum_k_b, 0)))"
      s"""WITH av AS (SELECT vec_id AS a_id, $dQuant AS aq FROM embeddings WHERE vec_id % 2 = 0), bv AS (SELECT vec_id AS b_id, $dQuant AS bq FROM embeddings WHERE vec_id % 2 = 1), fd AS (SELECT a_id, b_id, CAST(list_sum(list_transform(range(len(aq)), i -> aq[CAST(i+1 AS INT)]*bq[CAST(i+1 AS INT)])) AS BIGINT) AS dot FROM av CROSS JOIN bv), fr AS (SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id ASC) AS rk FROM fd), fa AS (SELECT a_id, CAST(MIN(CASE WHEN rk = 1 THEN b_id END) AS BIGINT) AS b_id, CAST(MAX(CASE WHEN rk = 1 THEN dot END) AS BIGINT) AS dot, CAST(SUM(dot) AS BIGINT) AS sum_k_a FROM fr WHERE rk <= 4 GROUP BY 1), br AS (SELECT b_id, a_id, dot, row_number() OVER (PARTITION BY b_id ORDER BY dot DESC, a_id ASC) AS rk FROM fd), ba AS (SELECT b_id AS bb, CAST(MIN(CASE WHEN rk = 1 THEN a_id END) AS BIGINT) AS b_top1_a, CAST(SUM(dot) AS BIGINT) AS sum_k_b FROM br WHERE rk <= 4 GROUP BY 1) SELECT fa.a_id, fa.b_id, fa.dot, CAST(CASE WHEN fa.sum_k_a + COALESCE(ba.sum_k_b, 0) <= 0 THEN 0 ELSE $tdivScore END AS BIGINT) AS score_ppm, COALESCE(ba.b_top1_a = fa.a_id, false) AS mutual FROM fa LEFT JOIN ba ON fa.b_id = ba.bb ORDER BY fa.a_id"""}),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.marginMine(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4)
      }),

    // REAL audio round trip: per-event synthetic int16 tones → RIFF/WAVE
    // PCM16 bytes (codegen'd encode) → validated decode + exact integer
    // stats. The oracle computes the same stats from the sample formula
    // alone — hash equality proves the byte layout round-trips exactly
    Q("q269_wav_roundtrip", Some(
      """WITH e AS (SELECT event_id FROM events), p AS (SELECT event_id, 50 + event_id % 50 AS n, 8000 + (event_id % 3)*4000 AS rate FROM e), sm AS (SELECT event_id, n, rate, list_transform(range(n), i -> (event_id*7 + i*31) % 2001 - 1000) AS s FROM p) SELECT event_id, CAST(44 + 2*n AS BIGINT) AS byte_len, CAST(rate AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples, CAST(n*1000 // rate AS BIGINT) AS duration_ms, CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak, CAST(list_sum(list_transform(s, x -> abs(x))) AS BIGINT) AS sum_abs, CAST(list_sum(list_transform(s, x -> x*x)) AS BIGINT) AS sum_sq, CAST(list_sum(list_transform(s, x -> abs(x))) // n AS BIGINT) AS mean_abs FROM sm ORDER BY event_id"""),
      (s, dir) => {
        val n = lit(50L) + col("event_id") % 50L
        val rate = lit(8000L) + (col("event_id") % 3L) * 4000L
        // native ramp-WAV fixture (spec-pinned to the composed
        // wavEncode(transform…) form — see MultimodalSpec)
        val withWav = KafkaLike.events(tune(s), dir).select(col("event_id"))
          .withColumn("payload",
            Multimodal.synthWav(rate, n, col("event_id")))
          .withColumn("meta", Multimodal.wavMeta(col("payload")))
        withWav.select(col("event_id"),
            length(col("payload")).cast(LongType).as("byte_len"),
            col("meta.sample_rate").cast(LongType).as("sample_rate"),
            col("meta.n_samples").as("n_samples"),
            col("meta.duration_ms").as("duration_ms"),
            col("meta.peak").as("peak"),
            col("meta.sum_abs").as("sum_abs"),
            col("meta.sum_sq").as("sum_sq"),
            IntMath.idiv(col("meta.sum_abs"), col("meta.n_samples"))
              .as("mean_abs"))
          .orderBy("event_id")
      }),

    // REAL image round trip: per-event synthetic 0xRRGGBB pixels → 24bpp
    // BMP bytes (bottom-up rows, BGR, 4-byte padding — codegen'd) →
    // validated decode. `pos_checksum` is order-sensitive over top-left
    // row-major pixels, so any layout mistake hash-mismatches
    Q("q270_bmp_roundtrip", Some(
      """WITH e AS (SELECT event_id FROM events), p AS (SELECT event_id, 4 + event_id % 5 AS w, 3 + event_id % 4 AS h FROM e), px AS (SELECT event_id, w, h, list_transform(range(w*h), i -> (event_id*13 + i*17) % 16777216) AS ps FROM p) SELECT event_id, CAST(54 + ((w*3 + 3) // 4 * 4) * h AS BIGINT) AS byte_len, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, CAST(w*h AS BIGINT) AS n_pixels, CAST(list_sum(list_transform(ps, x -> (x >> 16) & 255)) AS BIGINT) AS sum_r, CAST(list_sum(list_transform(ps, x -> (x >> 8) & 255)) AS BIGINT) AS sum_g, CAST(list_sum(list_transform(ps, x -> x & 255)) AS BIGINT) AS sum_b, CAST(ps[1] AS BIGINT) AS first_pixel, CAST(list_sum(list_transform(range(len(ps)), i -> (i+1) * ps[CAST(i+1 AS INT)])) AS BIGINT) AS pos_checksum FROM px ORDER BY event_id"""),
      (s, dir) => {
        val w = lit(4L) + col("event_id") % 5L
        val h = lit(3L) + col("event_id") % 4L
        val pixels = transform(sequence(lit(0L), w * h - 1L),
          i => (col("event_id") * 13L + i * 17L) % 16777216L)
        Scan.rescue(KafkaLike.events(tune(s), dir).select(col("event_id")))
          .withColumn("payload", Multimodal.bmpEncode(w, pixels))
          .withColumn("meta", Multimodal.bmpMeta(col("payload")))
          .select(col("event_id"),
            length(col("payload")).cast(LongType).as("byte_len"),
            col("meta.width").cast(LongType).as("width"),
            col("meta.height").cast(LongType).as("height"),
            col("meta.n_pixels").as("n_pixels"),
            col("meta.sum_r").as("sum_r"),
            col("meta.sum_g").as("sum_g"),
            col("meta.sum_b").as("sum_b"),
            col("meta.first_pixel").as("first_pixel"),
            col("meta.pos_checksum").as("pos_checksum"))
          .orderBy("event_id")
      }),

    // REAL image resize: encode → 2× box-downsample (truncating integer
    // block means over the REAL byte layout) → decode; the oracle computes
    // the same block means from the pixel formula — hash equality proves
    // block addressing through bottom-up rows and padding
    Q("q271_bmp_resize", Some({
      def blk(shift: Int) = {
        val idx = "CAST((2*(o // ow) + d // 2)*w + 2*(o % ow) + (d % 2) + 1 AS INT)"
        val inner = if (shift > 0) s"(ps[$idx] >> $shift)" else s"ps[$idx]"
        s"(list_sum(list_transform(range(4), d -> $inner & 255)) // 4)"
      }
      s"""WITH e AS (SELECT event_id FROM events), p AS (SELECT event_id, 8 + event_id % 5 AS w, 6 + event_id % 4 AS h FROM e), px AS (SELECT event_id, w, h, w//2 AS ow, h//2 AS oh, list_transform(range(w*h), i -> (event_id*13 + i*17) % 16777216) AS ps FROM p), op AS (SELECT event_id, ow, oh, list_transform(range(ow*oh), o -> ${blk(16)}*65536 + ${blk(8)}*256 + ${blk(0)}) AS rp FROM px) SELECT event_id, CAST(ow AS BIGINT) AS width, CAST(oh AS BIGINT) AS height, CAST(ow*oh AS BIGINT) AS n_pixels, CAST(list_sum(list_transform(rp, x -> (x >> 16) & 255)) AS BIGINT) AS sum_r, CAST(list_sum(list_transform(rp, x -> (x >> 8) & 255)) AS BIGINT) AS sum_g, CAST(list_sum(list_transform(rp, x -> x & 255)) AS BIGINT) AS sum_b, CAST(rp[1] AS BIGINT) AS first_pixel, CAST(list_sum(list_transform(range(len(rp)), i -> (i+1)*rp[CAST(i+1 AS INT)])) AS BIGINT) AS pos_checksum FROM op ORDER BY event_id"""}),
      (s, dir) => {
        val w = lit(8L) + col("event_id") % 5L
        val h = lit(6L) + col("event_id") % 4L
        val pixels = transform(sequence(lit(0L), w * h - 1L),
          i => (col("event_id") * 13L + i * 17L) % 16777216L)
        Scan.rescue(KafkaLike.events(tune(s), dir).select(col("event_id")))
          .withColumn("payload", Multimodal.bmpEncode(w, pixels))
          .withColumn("small", Multimodal.bmpResize(col("payload"), lit(2)))
          .withColumn("meta", Multimodal.bmpMeta(col("small")))
          .select(col("event_id"),
            col("meta.width").cast(LongType).as("width"),
            col("meta.height").cast(LongType).as("height"),
            col("meta.n_pixels").as("n_pixels"),
            col("meta.sum_r").as("sum_r"),
            col("meta.sum_g").as("sum_g"),
            col("meta.sum_b").as("sum_b"),
            col("meta.first_pixel").as("first_pixel"),
            col("meta.pos_checksum").as("pos_checksum"))
          .orderBy("event_id")
      }),

    // REAL audio feature extraction: per-frame Σs² over 16-sample windows
    // of the encoded WAV bytes (the VAD/loudness segmentation primitive),
    // exploded to rows; oracle recomputes frames from the sample formula
    Q("q272_wav_frames", Some(
      """WITH e AS (SELECT event_id FROM events), p AS (SELECT event_id, 50 + event_id % 50 AS n FROM e), sm AS (SELECT event_id, n, list_transform(range(n), i -> (event_id*7 + i*31) % 2001 - 1000) AS s FROM p), fr AS (SELECT event_id, n, s, unnest(range((n + 15) // 16)) AS frame_id FROM sm) SELECT event_id, CAST(frame_id AS BIGINT) AS frame_id, CAST(list_sum(list_transform(range(frame_id*16, LEAST(frame_id*16 + 16, n)), i -> s[CAST(i+1 AS INT)]*s[CAST(i+1 AS INT)])) AS BIGINT) AS energy FROM fr ORDER BY event_id, frame_id"""),
      (s, dir) => {
        val n = lit(50L) + col("event_id") % 50L
        KafkaLike.events(tune(s), dir).select(col("event_id"))
          .withColumn("payload",
            Multimodal.synthWav(lit(8000L), n, col("event_id")))
          .select(col("event_id"),
            posexplode(Multimodal.wavFrameEnergy(col("payload"), lit(16)))
              .as(Seq("frame_id", "energy")))
          .select(col("event_id"), col("frame_id").cast(LongType)
            .as("frame_id"), col("energy"))
          .orderBy("event_id", "frame_id")
      }),

    // GROUPING SETS with grouping flags — the multi-granularity rollup
    // surface beside cube (q213) and rollup (q43), per-column grouping
    // markers so both engines agree without grouping_id bit-order pitfalls
    Q("q273_grouping_sets", Some(
      """WITH e AS (SELECT event_type, CAST(epoch_ms(ts) AS BIGINT) // 86400000 % 7 AS dow FROM events) SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(GROUPING(event_type) AS BIGINT) AS g_type, CAST(GROUPING(dow) AS BIGINT) AS g_dow, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY GROUPING SETS ((event_type), (dow), (event_type, dow), ()) ORDER BY g_type, g_dow, event_type, dow"""),
      (s, dir) => {
        val sp = tune(s)
        KafkaLike.events(sp, dir)
          .select(col("event_type"),
            (IntMath.idiv(IntMath.idiv(col("ts"), lit(1000000L)),
              lit(86400000L)) % 7L).as("dow"))
          .createOrReplaceTempView("ge_events")
        sp.sql("""SELECT event_type, CAST(dow AS BIGINT) AS dow,
          CAST(grouping(event_type) AS BIGINT) AS g_type,
          CAST(grouping(dow) AS BIGINT) AS g_dow,
          CAST(COUNT(*) AS BIGINT) AS n
          FROM ge_events
          GROUP BY GROUPING SETS ((event_type), (dow), (event_type, dow), ())
          ORDER BY g_type, g_dow, event_type, dow""")
      }),

    // REAL video round trip: per-event BMP frames → RIFF/AVI mux →
    // container metadata + demux of frame (event_id % n_frames) → BMP
    // decode; oracle recomputes everything from the frame-pixel formula —
    // hash equality proves the mux→demux→decode chain byte-exactly
    Q("q274_avi_roundtrip", Some(
      """WITH e AS (SELECT event_id FROM events), p AS (SELECT event_id, 4 + event_id % 4 AS w, 3 + event_id % 3 AS h, 2 + event_id % 3 AS nf FROM e), sel AS (SELECT event_id, w, h, nf, event_id % nf AS fs FROM p), px AS (SELECT event_id, w, h, nf, fs, list_transform(range(w*h), i -> (event_id*13 + fs*29 + i*17) % 16777216) AS ps FROM sel) SELECT event_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, CAST(nf AS BIGINT) AS n_frames, CAST(nf*40 AS BIGINT) AS duration_ms, CAST(nf*(8 + ((w*3 + 3) // 4 * 4)*h) AS BIGINT) AS movi_bytes, CAST(fs AS BIGINT) AS frame_idx, CAST(list_sum(list_transform(ps, x -> (x >> 16) & 255)) AS BIGINT) AS sum_r, CAST(list_sum(list_transform(ps, x -> x & 255)) AS BIGINT) AS sum_b, CAST(ps[1] AS BIGINT) AS first_pixel, CAST(list_sum(list_transform(range(len(ps)), i -> (i+1)*ps[CAST(i+1 AS INT)])) AS BIGINT) AS pos_checksum FROM px ORDER BY event_id"""),
      (s, dir) => {
        val w = lit(4L) + col("event_id") % 4L
        val h = lit(3L) + col("event_id") % 3L
        val nf = lit(2L) + col("event_id") % 3L
        val frames = transform(sequence(lit(0L), nf - 1L), f =>
          Multimodal.bmpEncode(w,
            transform(sequence(lit(0L), w * h - 1L),
              i => (col("event_id") * 13L + f * 29L + i * 17L)
                % 16777216L)))
        Scan.rescue(KafkaLike.events(tune(s), dir).select(col("event_id")))
          .withColumn("avi", Multimodal.aviEncode(lit(40000L), frames))
          .withColumn("vmeta", Multimodal.aviMeta(col("avi")))
          .withColumn("fs", (col("event_id") % (lit(2L) +
            col("event_id") % 3L)))
          .withColumn("fmeta",
            Multimodal.bmpMeta(Multimodal.aviFrame(col("avi"), col("fs"))))
          .select(col("event_id"),
            col("vmeta.width").cast(LongType).as("width"),
            col("vmeta.height").cast(LongType).as("height"),
            col("vmeta.n_frames").as("n_frames"),
            col("vmeta.duration_ms").as("duration_ms"),
            col("vmeta.movi_bytes").as("movi_bytes"),
            col("fs").as("frame_idx"),
            col("fmeta.sum_r").as("sum_r"),
            col("fmeta.sum_b").as("sum_b"),
            col("fmeta.first_pixel").as("first_pixel"),
            col("fmeta.pos_checksum").as("pos_checksum"))
          .orderBy("event_id")
      }),

    // mixed-modality curation report: build a 3-modality binary corpus
    // (WAV/BMP/AVI by event), corrupt a deterministic slice by truncation,
    // and report per-kind valid/corrupt/byte totals — validity is judged
    // by the REAL decoders' null-routing, byte math by the oracle formula
    Q("q275_media_curation", Some(
      """WITH e AS (SELECT event_id, event_id % 3 AS m, event_id % 17 = 3 AS corrupt, 20 + event_id % 10 AS n FROM events) SELECT CASE m WHEN 0 THEN 'audio' WHEN 1 THEN 'image' ELSE 'video' END AS kind, CAST(COUNT(*) AS BIGINT) AS n_media, CAST(SUM(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_valid, CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt, CAST(SUM((CASE m WHEN 0 THEN 44 + 2*n WHEN 1 THEN 90 ELSE 312 END) - CASE WHEN corrupt THEN 5 ELSE 0 END) AS BIGINT) AS total_bytes FROM e GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val id = col("event_id")
        val m = id % 3L
        val n = lit(20L) + id % 10L
        val wavSamples = transform(sequence(lit(0L), n - 1L),
          i => (id * 7L + i * 31L) % 2001L - 1000L)
        val bmpPixels = transform(sequence(lit(0L), lit(11L)),
          i => (id * 13L + i * 17L) % 16777216L)
        val aviFrames = transform(sequence(lit(0L), lit(1L)), f =>
          Multimodal.bmpEncode(lit(4L),
            transform(sequence(lit(0L), lit(11L)),
              i => (id * 13L + f * 29L + i * 17L) % 16777216L)))
        val intact = when(m === 0L, Multimodal.wavEncode(lit(8000L), wavSamples))
          .when(m === 1L, Multimodal.bmpEncode(lit(4L), bmpPixels))
          .otherwise(Multimodal.aviEncode(lit(40000L), aviFrames))
        KafkaLike.events(tune(s), dir).select(id)
          .withColumn("kind", when(m === 0L, "audio")
            .when(m === 1L, "image").otherwise("video"))
          .withColumn("payload0", intact)
          .withColumn("payload", when(id % 17L === 3L,
            expr("substring(payload0, 1, length(payload0) - 5)"))
            .otherwise(col("payload0")))
          .withColumn("valid", when(col("kind") === "audio",
              Multimodal.wavMeta(col("payload")).isNotNull)
            .when(col("kind") === "image",
              Multimodal.bmpMeta(col("payload")).isNotNull)
            .otherwise(Multimodal.aviMeta(col("payload")).isNotNull))
          .groupBy("kind")
          .agg(count(lit(1)).as("n_media"),
            sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
            sum(when(col("valid"), 0L).otherwise(1L)).as("n_corrupt"),
            sum(length(col("payload")).cast(LongType)).as("total_bytes"))
          .orderBy("kind")
      })
  )

  /** DuckDB mirror of the aHash pipeline over the q276/q277 synthetic
    * 16×16 grayscale corpus (base = event_id % 97 picks the underlying
    * image, a ±1 jitter varies each copy): source pixels → 2× box
    * downsample (the q271 block formula) → grid mean → threshold bits
    * packed into two 32-bit halves. Shared by both phash oracles so the
    * clustering and banding queries check the IDENTICAL hash. */
  private def dPhashCtes(where: String): String = {
    val blk = (d1: String, d2: String, d3: String, d4: String) =>
      s"(v[CAST($d1 AS INT)] + v[CAST($d2 AS INT)] + v[CAST($d3 AS INT)] + v[CAST($d4 AS INT)]) // 4"
    val b = blk("(2*(o//8))*16 + 2*(o%8) + 1", "(2*(o//8))*16 + 2*(o%8) + 2",
      "(2*(o//8)+1)*16 + 2*(o%8) + 1", "(2*(o//8)+1)*16 + 2*(o%8) + 2")
    s"""e AS (SELECT event_id, event_id % 97 AS base FROM events $where), px AS (SELECT event_id, base, list_transform(range(256), i -> 8 + (base*37 + i*11) % 240 + (event_id*3 + i) % 2) AS v FROM e), bm AS (SELECT event_id, base, list_transform(range(64), o -> $b) AS b FROM px), hm AS (SELECT event_id, base, b, list_sum(b) // 64 AS m FROM bm), ph AS (SELECT event_id, base, CAST(list_sum(list_transform(range(32,64), o -> CASE WHEN b[CAST(o+1 AS INT)] > m THEN (1::BIGINT << CAST(o-32 AS INT)) ELSE 0 END)) AS BIGINT) AS phash_hi, CAST(list_sum(list_transform(range(32), o -> CASE WHEN b[CAST(o+1 AS INT)] > m THEN (1::BIGINT << CAST(o AS INT)) ELSE 0 END)) AS BIGINT) AS phash_lo FROM hm)"""
  }

  /** Spark side of the same synthetic image: 16×16 grayscale pixels
    * (r=g=b=v ⇒ packed = v·65793) through the REAL BMP encoder. */
  private def phashTestImages(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val base = id % 97L
    // native fixture generator — MultimodalSpec pins bit-equality to the
    // composed bmpEncode(transform(sequence…, pixel formula)) constructor,
    // so the phash bench rows measure the hash, not 256 interpreted
    // closure evaluations per row
    // NOT rescued: synthFrame/aHash are native codegen expressions cheap
    // enough per row that the r11 A/B showed the added exchange costing
    // the phash family more than the parallelism won (q277 especially —
    // its band self-join prefers the compact single-split build side)
    KafkaLike.events(tune(s), dir).select(id)
      .withColumn("payload", Multimodal.synthFrame(lit(16L), base, id))
  }

  private lazy val r7MediaDedupAndScd: Seq[Q] = Seq(

    // image NEAR-DUP clustering on content, not bytes: synthetic 16×16
    // grayscale images where base = event_id % 97 picks the picture and a
    // ±1 jitter varies each copy (so byte hashes differ per copy) →
    // REAL encode → REAL 2× box resize → aHash64 → cluster. The hash
    // rides the full codec chain; the oracle recomputes it from the
    // pixel formula alone — equality proves resize+grayscale+threshold
    Q("q276_image_phash", Some(
      s"""WITH ${dPhashCtes("WHERE event_id % 2 = 0")} SELECT phash_hi, phash_lo, CAST(COUNT(*) AS BIGINT) AS n_images, CAST(COUNT(DISTINCT base) AS BIGINT) AS n_bases, CAST(MIN(event_id) AS BIGINT) AS canonical FROM ph GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        phashTestImages(s, dir)
          .filter(col("event_id") % 2L === 0L)
          .withColumn("h", MediaDedup.aHash64(col("payload"), lit(2)))
          .select(col("h.phash_hi").as("phash_hi"),
            col("h.phash_lo").as("phash_lo"), col("event_id"),
            (col("event_id") % 97L).as("base"))
          .groupBy("phash_hi", "phash_lo")
          .agg(count(lit(1)).as("n_images"),
            countDistinct("base").as("n_bases"),
            min("event_id").as("canonical"))
          .orderBy("phash_hi", "phash_lo")
      }),

    // image near-dup CANDIDATE pairs by 4×16-bit hamming bands (the LSH
    // gate: hamming ≤3 ⇒ some band matches exactly) over a 1/53 slice,
    // reported as a hamming histogram with same-base purity — the
    // banding recall surface for perceptual hashes
    Q("q277_phash_band_pairs", Some(
      s"""WITH ${dPhashCtes("WHERE event_id % 53 = 0")}, bands AS (SELECT event_id, base, phash_hi AS hi, phash_lo AS lo, bid, CASE bid WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536 WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS bv FROM ph, (SELECT unnest(range(4)) AS bid)), cand AS (SELECT DISTINCT a.event_id AS aid, b.event_id AS bid2, a.hi AS ah, a.lo AS al, b.hi AS bh, b.lo AS bl FROM bands a JOIN bands b ON a.bid = b.bid AND a.bv = b.bv AND a.event_id < b.event_id) SELECT CAST(bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) AS BIGINT) AS hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(CASE WHEN aid % 97 = bid2 % 97 THEN 1 ELSE 0 END) AS BIGINT) AS n_same_base FROM cand GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val images = phashTestImages(s, dir)
          .filter(col("event_id") % 53L === 0L)
        MediaDedup.phashCandidatePairs(images, "event_id", "payload",
            lit(2))
          .groupBy(col("hamming"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("a_id") % 97L === col("b_id") % 97L, 1L)
              .otherwise(0L)).as("n_same_base"))
          .orderBy("hamming")
      }),

    // audio near-dup on content: 64-sample clips where base =
    // event_id % 61 picks the tone pattern and a ±1 amplitude jitter
    // varies each copy → REAL WAV encode → frame energies (frameLen 4 →
    // 16 frames) → 15-bit energy-descent fingerprint → cluster; zero
    // cross-base collisions at this corpus (n_bases pins it)
    Q("q278_audio_fingerprint", Some(
      """WITH e AS (SELECT event_id, event_id % 61 AS base FROM events), sm AS (SELECT event_id, base, list_transform(range(64), i -> ((base*97 + (i+3)*(base+7)*11 + i*i*29) % 2001 - 1000) + (event_id + i) % 3 - 1) AS s FROM e), fe AS (SELECT event_id, base, list_transform(range(16), f -> s[CAST(4*f+1 AS INT)]*s[CAST(4*f+1 AS INT)] + s[CAST(4*f+2 AS INT)]*s[CAST(4*f+2 AS INT)] + s[CAST(4*f+3 AS INT)]*s[CAST(4*f+3 AS INT)] + s[CAST(4*f+4 AS INT)]*s[CAST(4*f+4 AS INT)]) AS en FROM sm), fp AS (SELECT event_id, base, CAST(list_sum(list_transform(range(15), f -> CASE WHEN en[CAST(f+1 AS INT)] > en[CAST(f+2 AS INT)] THEN (1::BIGINT << CAST(f AS INT)) ELSE 0 END)) AS BIGINT) AS fingerprint FROM fe) SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_clips, CAST(COUNT(DISTINCT base) AS BIGINT) AS n_bases, CAST(MIN(event_id) AS BIGINT) AS canonical FROM fp GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val id = col("event_id")
        val base = id % 61L
        // native audio-clip fixture (spec-pinned to the composed
        // wavEncode(transform…) form — see MultimodalSpec)
        Scan.rescue(KafkaLike.events(tune(s), dir).select(id))
          .withColumn("payload",
            Multimodal.synthAudio(lit(8000L), lit(64L), base, id))
          .select(
            MediaDedup.audioFingerprint(col("payload"), lit(4))
              .as("fingerprint"),
            id, base.as("base"))
          .groupBy("fingerprint")
          .agg(count(lit(1)).as("n_clips"),
            countDistinct("base").as("n_bases"),
            min("event_id").as("canonical"))
          .orderBy("fingerprint")
      }),

    // SCD2 dimension build from the event log: collapse each user's
    // event-type stream into validity intervals (consecutive same-state
    // events extend the run; a change opens a new version); the
    // warehouse-side complement of the LWW merge — two keyed windows +
    // one partial agg, one shuffle by user
    Q("q279_scd2_dimension", Some(
      """WITH e AS (SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id FROM events), o AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev FROM e), c AS (SELECT *, SUM(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS version FROM o), g AS (SELECT user_id, version, MIN(event_type) AS status, MIN(ts_ms) AS valid_from_ms, CAST(COUNT(*) AS BIGINT) AS n_events FROM c GROUP BY 1, 2), f AS (SELECT *, lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY version) AS valid_to_ms FROM g) SELECT user_id, CAST(version AS BIGINT) AS version, status, valid_from_ms, valid_to_ms, valid_to_ms IS NULL AS is_current, n_events FROM f ORDER BY user_id, version"""),
      (s, dir) => {
        val e = KafkaLike.events(tune(s), dir).select(col("user_id"),
          col("event_type"),
          IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
          col("event_id"))
        Snapshot.scd2(e, "user_id", "event_type", "ts_ms", "event_id")
          .withColumnRenamed("valid_from", "valid_from_ms")
          .withColumnRenamed("valid_to", "valid_to_ms")
          .orderBy("user_id", "version")
      }),

    // VIDEO-level near-dup: 3-frame 16×16 AVIs where base = event_id % 41
    // picks the clip and per-frame pixel jitter varies each copy → mux →
    // per-frame demux → aHash64 → order-sensitive fold into a 31-bit
    // signature → cluster. The signature rides the full
    // mux→demux→resize→hash chain; the oracle refolds it from the pixel
    // formula alone
    Q("q280_video_signature", Some({
      val blk = "(v[CAST((2*(o//8))*16 + 2*(o%8) + 1 AS INT)] + v[CAST((2*(o//8))*16 + 2*(o%8) + 2 AS INT)] + v[CAST((2*(o//8)+1)*16 + 2*(o%8) + 1 AS INT)] + v[CAST((2*(o//8)+1)*16 + 2*(o%8) + 2 AS INT)]) // 4"
      s"""WITH e AS (SELECT event_id, event_id % 41 AS base FROM events WHERE event_id % 3 = 0), fr AS (SELECT event_id, base, unnest(range(3)) AS f FROM e), px AS (SELECT event_id, base, f, list_transform(range(256), i -> 8 + (base*37 + f*53 + i*11) % 240 + (event_id*3 + f*7 + i) % 2) AS v FROM fr), bm AS (SELECT event_id, base, f, list_transform(range(64), o -> $blk) AS b FROM px), hm AS (SELECT event_id, base, f, b, list_sum(b) // 64 AS m FROM bm), ph AS (SELECT event_id, base, f, CAST(list_sum(list_transform(range(32,64), o -> CASE WHEN b[CAST(o+1 AS INT)] > m THEN (1::BIGINT << CAST(o-32 AS INT)) ELSE 0 END)) AS BIGINT) AS hi, CAST(list_sum(list_transform(range(32), o -> CASE WHEN b[CAST(o+1 AS INT)] > m THEN (1::BIGINT << CAST(o AS INT)) ELSE 0 END)) AS BIGINT) AS lo FROM hm), sg AS (SELECT event_id, base, MAX(CASE WHEN f=0 THEN hi END) AS h0, MAX(CASE WHEN f=0 THEN lo END) AS l0, MAX(CASE WHEN f=1 THEN hi END) AS h1, MAX(CASE WHEN f=1 THEN lo END) AS l1, MAX(CASE WHEN f=2 THEN hi END) AS h2, MAX(CASE WHEN f=2 THEN lo END) AS l2 FROM ph GROUP BY 1, 2), sq AS (SELECT event_id, base, ((((((h0*31 + l0) % 2147483647) * 131 + h1*31 + l1) % 2147483647) * 131 + h2*31 + l2) % 2147483647) AS sig FROM sg) SELECT sig, CAST(COUNT(*) AS BIGINT) AS n_videos, CAST(COUNT(DISTINCT base) AS BIGINT) AS n_bases, CAST(MIN(event_id) AS BIGINT) AS canonical FROM sq GROUP BY 1 ORDER BY 1"""}),
      (s, dir) => {
        val id = col("event_id")
        val base = id % 41L
        // clip construction is the native SynthMedia generator — the
        // composed transform(sequence…, bmpEncode) constructor is
        // spec-pinned bit-equal (MediaDedupSpec) but costs 768 interpreted
        // closure evaluations per row, burying the signature operator this
        // row exists to measure
        KafkaLike.events(tune(s), dir).select(id)
          .filter(id % 3L === 0L)
          .withColumn("avi",
            Multimodal.synthClip(lit(16L), lit(3L), base, id))
          .select(MediaDedup.videoSignature(col("avi"), lit(2)).as("sig"),
            id, base.as("base"))
          .groupBy("sig")
          .agg(count(lit(1)).as("n_videos"),
            countDistinct("base").as("n_bases"),
            min("event_id").as("canonical"))
          .orderBy("sig")
      }),

    // rare-bigram quality filter (CCNet-style count screen beside q99's
    // LM perplexity): per-doc share of bigram occurrences whose corpus
    // frequency is under 1100 ppm, keep at ≤500‰ — frequency-relative so
    // the cut survives corpus growth
    Q("q281_rare_bigram_filter", Some(
      s"""WITH tk AS (SELECT doc_id, $dToks AS tk FROM documents), pb AS (SELECT doc_id, unnest(list_transform(range(len(tk)-1), i -> tk[CAST(i+1 AS INT)] || chr(31) || tk[CAST(i+2 AS INT)])) AS bg FROM tk WHERE len(tk) >= 2), pd AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS n FROM pb GROUP BY 1, 2), cc AS (SELECT bg, CAST(SUM(n) AS BIGINT) AS cnt FROM pd GROUP BY 1), tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cc), ag AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, CAST(SUM(CASE WHEN cnt*1000000 < total*1100 THEN n ELSE 0 END) AS BIGINT) AS n_rare FROM pd JOIN cc USING (bg) CROSS JOIN tt GROUP BY 1) SELECT d.doc_id, COALESCE(ag.n_bigrams, 0) AS n_bigrams, COALESCE(ag.n_rare, 0) AS n_rare, CASE WHEN COALESCE(ag.n_bigrams, 0) > 0 THEN (ag.n_rare*1000) // ag.n_bigrams ELSE 0 END AS rare_pml, CASE WHEN COALESCE(ag.n_bigrams, 0) > 0 THEN (ag.n_rare*1000) // ag.n_bigrams ELSE 0 END <= 500 AS keep FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY d.doc_id"""),
      (s, dir) => TextAnalysis
        .rareBigramRate(docs(tune(s), dir), "text", "doc_id")
        .orderBy("doc_id")),

    // NEAREST as-of join (third direction beside q74 backward and q173
    // forward): closest reading to each event, ties to the earlier side;
    // composed from both directional passes, stitched on the unique left
    // id — the quadratic per-key oracle pins the minimizer exactly
    Q("q282_asof_nearest", Some(
      """WITH l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events WHERE event_id % 2 = 1), r AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS r_ts, MAX(event_id) AS r_id FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2), j AS (SELECT l.event_id, l.user_id, l.ts_us, r.r_id, r.r_ts, row_number() OVER (PARTITION BY l.event_id ORDER BY abs(r.r_ts - l.ts_us), r.r_ts) AS rn FROM l JOIN r ON l.user_id = r.user_id) SELECT l.event_id, l.user_id, l.ts_us, j.r_id AS asof_r_id, j.r_ts AS asof_ts_us, j.r_ts - l.ts_us AS asof_dt FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON l.event_id = j.event_id ORDER BY l.event_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir)
          .withColumn("ts_us", expr("ts DIV 1000"))
        val l = ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val r = ev.filter(col("event_id") % 2 === 0)
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("event_id")).as("r_id"))
        AsofJoin.asofJoinNearest(l, r, "user_id", "ts_us", "event_id",
            Seq("r_id"), sliceWidth = Some(12.0 * 3600 * 1e6))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("asof_r_id"), col("asof_ts_us"), col("asof_dt"))
          .orderBy("event_id")
      }),

    // INCREMENTAL SCD2: build the dimension from the first half-month,
    // fold the second half in with scd2Merge (affected keys' open
    // intervals only; closed history passes through untouched) — the
    // oracle is the FULL rebuild, so hash equality proves the
    // incremental path bit-identical to recomputing from scratch
    Q("q283_scd2_incremental", Some(
      """WITH e AS (SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id FROM events), o AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev FROM e), c AS (SELECT *, SUM(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS version FROM o), g AS (SELECT user_id, version, MIN(event_type) AS status, MIN(ts_ms) AS valid_from_ms, CAST(COUNT(*) AS BIGINT) AS n_events FROM c GROUP BY 1, 2), f AS (SELECT *, lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY version) AS valid_to_ms FROM g) SELECT user_id, CAST(version AS BIGINT) AS version, status, valid_from_ms, valid_to_ms, valid_to_ms IS NULL AS is_current, n_events FROM f ORDER BY user_id, version"""),
      (s, dir) => {
        val e = KafkaLike.events(tune(s), dir).select(col("user_id"),
          col("event_type"),
          IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
          col("event_id"))
        val t0 = lit(1705363200000L) // 2024-01-16T00:00Z, mid-window
        val dim = Snapshot.scd2(e.filter(col("ts_ms") < t0),
          "user_id", "event_type", "ts_ms", "event_id")
        Snapshot.scd2Merge(dim, e.filter(col("ts_ms") >= t0),
            "user_id", "event_type", "ts_ms", "event_id")
          .withColumnRenamed("valid_from", "valid_from_ms")
          .withColumnRenamed("valid_to", "valid_to_ms")
          .orderBy("user_id", "version")
      }),

    // image-corpus curation END TO END: phash band candidates at hamming
    // ≤3 → connected components (the same min-label fixpoint as the text
    // q54) → per-cluster manifest with bytes reclaimed by keeping one
    // canonical copy (each 16×16 24bpp BMP is 822 bytes). The oracle
    // recomputes true reachability with a recursive CTE over the SAME
    // gated pair graph
    Q("q284_image_dedup_manifest", Some(
      s"""WITH RECURSIVE ${dPhashCtes("WHERE event_id % 53 = 0")}, bands AS (SELECT event_id, base, phash_hi AS hi, phash_lo AS lo, bid, CASE bid WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536 WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS bv FROM ph, (SELECT unnest(range(4)) AS bid)), cand AS (SELECT DISTINCT a.event_id AS doc_a, b.event_id AS doc_b FROM bands a JOIN bands b ON a.bid = b.bid AND a.bv = b.bv AND a.event_id < b.event_id AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3), ed AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM ed UNION SELECT reach.s, e2.t FROM reach JOIN ed e2 ON reach.t = e2.s), cl AS (SELECT p.event_id, p.base, LEAST(p.event_id, COALESCE(MIN(reach.t), p.event_id)) AS cluster_id FROM ph p LEFT JOIN reach ON p.event_id = reach.s GROUP BY p.event_id, p.base) SELECT CAST(cluster_id AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_images, CAST(COUNT(DISTINCT base) AS BIGINT) AS n_bases, CAST(822*(COUNT(*) - 1) AS BIGINT) AS bytes_saved FROM cl GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val images = phashTestImages(s, dir)
          .filter(col("event_id") % 53L === 0L)
        val pairs = MediaDedup.phashCandidatePairs(images, "event_id",
            "payload", lit(2))
          .filter(col("hamming") <= 3L)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
        Dedup.nearDupClusters(images, pairs, "event_id")
          .withColumn("base", col("doc_id") % 97L)
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_images"),
            countDistinct("base").as("n_bases"),
            (lit(822L) * (count(lit(1)) - 1L)).as("bytes_saved"))
          .orderBy("cluster_id")
      }),

    // cross-source duplication matrix: which sources copy from which —
    // the governance view over the SAME minhash-LSH candidate graph the
    // dedup pipeline uses (q41/q54); pairs attribute to an unordered
    // source pair, so licensing/contamination review reads one triangle
    Q("q285_cross_source_dups", Some(
      s"""$dMinhashSig, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id) SELECT LEAST(da.source, db.source) AS source_a, GREATEST(da.source, db.source) AS source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(MIN(c.doc_a) AS BIGINT) AS example_doc FROM cand c JOIN documents da ON c.doc_a = da.doc_id JOIN documents db ON c.doc_b = db.doc_id GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        val src = d.select(col("doc_id"), col("source"))
        cands
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("sa")), Seq("doc_a"))
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("sb")), Seq("doc_b"))
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("doc_a")).as("example_doc"))
          .orderBy("source_a", "source_b")
      }),

    // deterministic proportional mixture schedule: the loader's read
    // order at fixed source weights (Bresenham interleave, no RNG) —
    // the ordering complement of q66's mixture sampling; weight = source
    // suffix % 4 + 1 so the oracle derives the same weights
    Q("q286_mixture_schedule", Some(
      """WITH d AS (SELECT doc_id, source, CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS w FROM documents), k AS (SELECT doc_id, source, w, row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS k FROM d) SELECT doc_id, source, CAST(k AS BIGINT) AS k, CAST(((2*k+1) * 1000000) // w AS BIGINT) AS slot FROM k ORDER BY slot, source, doc_id"""),
      (s, dir) => Packing.mixtureSchedule(docs(tune(s), dir), "doc_id",
          "source",
          substring(col("source"), 4, 10).cast(LongType) % 4L + 1L)
        .orderBy("slot", "source", "doc_id")),

    // retract-stream aggregation (Flink changelog semantics in batch):
    // a synthetic CDC log over events — inserts, deletes, and updates
    // split into pre/post rows — folds to net per-user aggregates by
    // signed weights; corrections commute, so late deletes/updates are
    // just more rows under the same partial-agg shuffle
    Q("q287_retract_agg", Some(
      """WITH base AS (SELECT event_id, user_id, CAST(floor(value*100) AS BIGINT) AS cents FROM events), log AS (SELECT user_id, 'insert' AS op, cents, 1 AS w FROM base WHERE event_id % 5 <> 4 AND event_id % 7 <> 6 UNION ALL SELECT user_id, 'delete', cents, -1 FROM base WHERE event_id % 7 = 6 AND event_id % 5 <> 4 UNION ALL SELECT user_id, 'update_pre', cents, -1 FROM base WHERE event_id % 5 = 4 UNION ALL SELECT user_id, 'update_post', cents + 1000, 1 FROM base WHERE event_id % 5 = 4) SELECT user_id, CAST(SUM(w) AS BIGINT) AS net_count, CAST(SUM(w*cents) AS BIGINT) AS net_sum, SUM(w) >= 0 AS consistent FROM log GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val base = KafkaLike.events(tune(s), dir).select(col("event_id"),
          col("user_id"),
          floor(col("value") * 100).cast(LongType).as("cents"))
        val ins = base
          .filter(col("event_id") % 5 =!= 4 && col("event_id") % 7 =!= 6)
          .select(col("user_id"), lit("insert").as("op"), col("cents"))
        val del = base
          .filter(col("event_id") % 7 === 6 && col("event_id") % 5 =!= 4)
          .select(col("user_id"), lit("delete").as("op"), col("cents"))
        val pre = base.filter(col("event_id") % 5 === 4)
          .select(col("user_id"), lit("update_pre").as("op"), col("cents"))
        val post = base.filter(col("event_id") % 5 === 4)
          .select(col("user_id"), lit("update_post").as("op"),
            (col("cents") + 1000L).as("cents"))
        Upserts.retractAggregate(
            ins.unionByName(del).unionByName(pre).unionByName(post),
            "user_id", "cents", "op")
          .orderBy("user_id")
      }),

    // SCD2 interval enrichment — the standard CONSUMPTION of q279's
    // dimension: each odd event joins the version active at its
    // timestamp (containment in [valid_from, valid_to)), via the
    // interval-bucketed range join (no per-key cross product); the open
    // interval caps at a horizon past the data window
    Q("q288_scd2_enrich", Some(
      """WITH e AS (SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id FROM events WHERE event_id % 2 = 0), o AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev FROM e), c AS (SELECT *, SUM(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS version FROM o), g AS (SELECT user_id, version, MIN(event_type) AS status, MIN(ts_ms) AS valid_from FROM c GROUP BY 1, 2), f AS (SELECT *, COALESCE(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version), 1706745600000) AS valid_to FROM g), l AS (SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events WHERE event_id % 2 = 1) SELECT l.event_id, l.user_id, l.ts_ms, f.status, CAST(f.version AS BIGINT) AS version FROM l JOIN f ON l.user_id = f.user_id AND l.ts_ms >= f.valid_from AND l.ts_ms < f.valid_to ORDER BY l.event_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir).select(col("user_id"),
          col("event_type"),
          IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
          col("event_id"))
        val dim = Snapshot.scd2(ev.filter(col("event_id") % 2 === 0),
            "user_id", "event_type", "ts_ms", "event_id")
          // cap the open interval just past the data window so the
          // bucketed explode stays bounded (~31 day-buckets max)
          .withColumn("valid_to",
            coalesce(col("valid_to"), lit(1706745600000L)))
        val l = ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("ts_ms"))
        RangeJoin.bucketed(l, dim, "user_id", "ts_ms",
            "valid_from", "valid_to", bucketWidth = 86400000L)
          .select(col("event_id"), col("user_id"), col("ts_ms"),
            col("status"), col("version"))
          .orderBy("event_id")
      })
  )

  /** DuckDB mirror of the integer power iteration (q290): the co-moment
    * CTE chain plus `iters` unrolled multiply-and-rescale steps in HUGEINT
    * with truncating division. */
  private def dPowerIterSql(iters: Int): String = {
    def trunc(num: String, den: String) =
      s"(CASE WHEN ($num) < 0 THEN -1 ELSE 1 END) * ((abs($num)) // ($den))"
    val base =
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv FROM embeddings),
         |u AS (SELECT vec_id, CAST(i AS INT) AS i, qv[CAST(i AS INT)] AS x FROM v, UNNEST(range(1,65)) t(i)),
         |n AS (SELECT count(*) AS n FROM v),
         |s AS (SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM u GROUP BY i),
         |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x*b.x) AS BIGINT) AS sxy FROM u a JOIN u b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
         |cm AS (SELECT p.i, p.j, CAST(n.n*p.sxy - sa.sx*sb.sx AS HUGEINT) AS c FROM p, n JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j),
         |v0 AS (SELECT CAST(i AS INT) AS i, CAST(1000000 AS HUGEINT) AS x FROM UNNEST(range(1,65)) t(i))""".stripMargin
    val steps = (1 to iters).map { t =>
      val prev = if (t == 1) "v0" else s"v${t - 1}"
      s""",
         |w$t AS (SELECT cm.i, CAST(sum(cm.c * $prev.x) AS HUGEINT) AS w FROM cm JOIN $prev ON $prev.i = cm.j GROUP BY cm.i),
         |m$t AS (SELECT max(abs(w)) AS m FROM w$t),
         |v$t AS (SELECT w$t.i, CAST(${trunc(s"w$t.w*1000000", s"m$t.m")} AS HUGEINT) AS x FROM w$t, m$t)""".stripMargin
    }.mkString
    (base + steps +
      s"\nSELECT i, CAST(x AS BIGINT) AS comp FROM v$iters ORDER BY i")
      .replace("\n", " ")
  }

  private lazy val r7LinalgSpatial: Seq[Q] = Seq(

    // co-moment (scaled covariance) matrix — the Gramian shape: map-side
    // outer products, partial hash agg, a ≤dim²-row shuffle, no join of
    // vectors against vectors
    Q("q289_comoment_matrix", Some(
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv FROM embeddings), u AS (SELECT vec_id, CAST(i AS INT) AS i, qv[CAST(i AS INT)] AS x FROM v, UNNEST(range(1,65)) t(i)), n AS (SELECT count(*) AS n FROM v), s AS (SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM u GROUP BY i), p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x*b.x) AS BIGINT) AS sxy FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY a.i, b.i) SELECT p.i, p.j, CAST(n.n*p.sxy - sa.sx*sb.sx AS BIGINT) AS comoment FROM p, n JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j ORDER BY p.i, p.j"""),
      (s, dir) => Linalg.comomentMatrix(embeddings(tune(s), dir),
        "embedding", dim = 64).orderBy("i", "j")),

    // top eigenvector by integer power iteration: distributed matrix
    // build, bounded (dim²) driver collect, exact BigInt steps
    Q("q290_power_iteration", Some(dPowerIterSql(iters = 4)),
      (s, dir) => Linalg.powerIterationTop(embeddings(tune(s), dir),
        "embedding", dim = 64, iters = 4).orderBy("i")),

    // JL ±1 projection 64→16 as literal-plane codegen'd dot products;
    // distortion audited over the bounded id<50 pair set
    Q("q291_jl_distortion", Some(
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv FROM embeddings WHERE vec_id < 50), sgn AS (SELECT CAST(a.a AS INT) AS a, CAST(j.j AS INT) AS j, CASE WHEN ((a.a*1000003 + j.j) * 2654435761) % 2147483647 % 2 = 0 THEN 1 ELSE -1 END AS sg FROM UNNEST(range(1,17)) a(a), UNNEST(range(1,65)) j(j)), u AS (SELECT vec_id, CAST(j AS INT) AS j, qv[CAST(j AS INT)] AS x FROM v, UNNEST(range(1,65)) t(j)), proj AS (SELECT u.vec_id, sgn.a, CAST(sum(sgn.sg * u.x) AS BIGINT) AS y FROM u JOIN sgn ON sgn.j = u.j GROUP BY u.vec_id, sgn.a), pairs AS (SELECT a.vec_id AS u_id, b.vec_id AS v_id FROM v a JOIN v b ON a.vec_id < b.vec_id), d_orig AS (SELECT p.u_id, p.v_id, CAST(sum((ua.x - ub.x)*(ua.x - ub.x)) AS BIGINT) AS d2_orig FROM pairs p JOIN u ua ON ua.vec_id = p.u_id JOIN u ub ON ub.vec_id = p.v_id AND ub.j = ua.j GROUP BY 1,2), d_proj AS (SELECT p.u_id, p.v_id, CAST(sum((pa.y - pb.y)*(pa.y - pb.y)) AS BIGINT) AS d2_proj FROM pairs p JOIN proj pa ON pa.vec_id = p.u_id JOIN proj pb ON pb.vec_id = p.v_id AND pb.a = pa.a GROUP BY 1,2) SELECT o.u_id, o.v_id, o.d2_orig, pr.d2_proj, CAST(CASE WHEN o.d2_orig = 0 THEN 0 ELSE ${dTruncDiv("pr.d2_proj*1000000", "o.d2_orig*16")} END AS BIGINT) AS ratio_ppm FROM d_orig o JOIN d_proj pr ON pr.u_id = o.u_id AND pr.v_id = o.v_id ORDER BY o.u_id, o.v_id"""),
      (s, dir) => Linalg.jlDistortion(embeddings(tune(s), dir), "vec_id",
        "embedding", dim = 64, k = 16, sampleIds = 50L)
        .orderBy("u_id", "v_id")),

    // ColBERT-style late interaction: 8 token slices × 8 dims, query-token
    // broadcast, per-(q,doc,token) MAX partial-aggregates pre-shuffle
    Q("q292_late_interaction", Some(
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv FROM embeddings), tok AS (SELECT vec_id, CAST(t AS INT) AS t, CAST(j AS INT) AS j, qv[CAST(t*8 + j + 1 AS INT)] AS x FROM v, UNNEST(range(0,8)) tt(t), UNNEST(range(0,8)) jj(j)), q AS (SELECT vec_id AS query_id, t, j, x FROM tok WHERE vec_id < 8), d AS (SELECT vec_id AS item_id, t AS s, j, x FROM tok), dots AS (SELECT q.query_id, d.item_id, q.t, d.s, CAST(sum(q.x*d.x) AS BIGINT) AS dot FROM q JOIN d ON d.j = q.j WHERE q.query_id <> d.item_id GROUP BY 1,2,3,4), mx AS (SELECT query_id, item_id, t, max(dot) AS mdot FROM dots GROUP BY 1,2,3), sc AS (SELECT query_id, item_id, CAST(sum(mdot) AS BIGINT) AS score FROM mx GROUP BY 1,2), r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS rank FROM sc) SELECT query_id, item_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),
      (s, dir) => {
        val e = embeddings(tune(s), dir)
        Similarity.lateInteractionTopK(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", tokens = 8, subDim = 8, k = 5,
          excludeSelf = true)
      }),

    // grid-cell-gated proximity self-join; the oracle is the QUADRATIC
    // all-pairs semantics — the cell gate is provably lossless (δ = r)
    Q("q293_spatial_join", Some(
      """WITH p AS (SELECT event_id, (user_id * 37) % 1000 AS x, (event_id * 53) % 1000 AS y FROM events) SELECT a.event_id AS id_a, b.event_id AS id_b, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb, CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2 FROM p a JOIN p b ON a.event_id < b.event_id WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25 ORDER BY id_a, id_b"""),
      (s, dir) => {
        val pts = KafkaLike.events(tune(s), dir).select(col("event_id"),
          ((col("user_id") * 37L) % 1000L).as("x"),
          ((col("event_id") * 53L) % 1000L).as("y"))
        Spatial.proximityJoin(pts, "event_id", "x", "y", radius = 5L)
          .orderBy("id_a", "id_b")
      }),

    // LTOB downsampling: per-type series, 50-point buckets, exact int64
    // doubled-triangle area, endpoints kept
    Q("q294_ltob_downsample", Some(
      """WITH s AS (SELECT event_type AS grp, CAST(epoch_ms(ts) AS BIGINT) AS x, CAST(floor(value*1000) AS BIGINT) AS y, event_id, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM events), a AS (SELECT *, lag(x) OVER w AS px, lag(y) OVER w AS py, lead(x) OVER w AS nx, lead(y) OVER w AS ny FROM s WINDOW w AS (PARTITION BY grp ORDER BY rn)), ar AS (SELECT grp, x, y, event_id, rn, n, (rn - 1) // 50 AS bucket, CASE WHEN px IS NULL OR nx IS NULL THEN -1 ELSE abs((px - x)*(ny - y) - (nx - x)*(py - y)) END AS area2 FROM a), pick AS (SELECT *, row_number() OVER (PARTITION BY grp, bucket ORDER BY area2 DESC, event_id ASC) AS pr FROM ar) SELECT grp, CAST(bucket AS BIGINT) AS bucket, event_id, x AS ts_ms, y AS v_milli, CAST(area2 AS BIGINT) AS area2 FROM pick WHERE pr = 1 OR rn = 1 OR rn = n ORDER BY grp, bucket, event_id"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir).select(
          col("event_type"), IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
          floor(col("value") * 1000d).cast(LongType).as("v"), col("event_id"))
        Downsample.ltob(ev, "event_type", "ts_ms", "v", "event_id", bucket = 50)
          .withColumnRenamed("rid", "event_id")
      }),

    // rendezvous-hash rebalance 8→9 nodes: the report shows the HRW
    // property (all movement lands on the added node)
    Q("q295_rendezvous_rebalance", Some(
      """WITH k AS (SELECT DISTINCT event_id AS id FROM events), n9 AS (SELECT CAST(n.n AS INT) AS node, ((n.n + 7) * 2654435761) % 1000000007 AS c FROM UNNEST(range(0,9)) n(n)), h AS (SELECT k.id, n9.node, ((k.id + 1) * n9.c) % 1000000007 AS h FROM k, n9), a8 AS (SELECT id, node FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY h DESC, node ASC) AS rn FROM h WHERE node < 8) WHERE rn = 1), a9 AS (SELECT id, node FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY h DESC, node ASC) AS rn FROM h) WHERE rn = 1) SELECT CAST(a8.node AS INT) AS node_from, CAST(a9.node AS INT) AS node_to, CAST(count(*) AS BIGINT) AS cnt FROM a8 JOIN a9 USING (id) GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => Sharding.rebalanceReport(KafkaLike.events(tune(s), dir),
        "event_id", nFrom = 8, nTo = 9)),

    // per-vector SQ8 quantization summary (codes, polynomial fold,
    // reconstruction error) — map-only int8 compression audit
    Q("q296_sq8_quantize", Some(
      s"""WITH v AS (SELECT vec_id, $dQuant AS qv FROM embeddings), u AS (SELECT vec_id, CAST(j AS INT) AS j, qv[CAST(j AS INT)] AS x FROM v, UNNEST(range(1,65)) t(j)), mm AS (SELECT vec_id, min(x) AS mn, max(x) AS mx FROM u GROUP BY 1), c AS (SELECT u.vec_id, u.j, u.x, mm.mn, mm.mx, CASE WHEN mm.mx = mm.mn THEN 0 ELSE ((u.x - mm.mn)*255) // (mm.mx - mm.mn) END AS code FROM u JOIN mm USING (vec_id)), rec AS (SELECT *, mn + (code*(mx - mn)) // 255 AS recon FROM c) SELECT vec_id, CAST(min(mn) AS BIGINT) AS mn, CAST(max(mx) AS BIGINT) AS mx, CAST(sum(code) AS BIGINT) AS code_sum, CAST(sum(code*j) AS BIGINT) AS code_poly, CAST(sum(abs(x - recon)) AS BIGINT) AS abs_err FROM rec GROUP BY vec_id ORDER BY vec_id"""),
      (s, dir) => Linalg.sq8Quantize(embeddings(tune(s), dir), "vec_id",
        "embedding", dim = 64).orderBy("vec_id"))
  )

  private lazy val r7CurationAndSeries: Seq[Q] = Seq(

    // edit-distance near-pairs: first-token + length-band blocking, exact
    // bounded levenshtein verify on 32-char prefixes. The oracle mirrors
    // the operator's maxBlockSize=10000 drop (blocks above the cap leave
    // the pairing) so the contract is VERIFIED, not just documented — a
    // corpus with a >10k first-token block would otherwise pass or fail
    // on data, invisibly.
    Q("q297_edit_distance_pairs", Some(
      s"""WITH d0 AS (SELECT doc_id, left(text, 32) AS pfx, ($dToks)[1] AS tok0, length(text) AS n FROM documents), bs AS (SELECT tok0, count(*) AS bsz FROM d0 GROUP BY 1), d AS (SELECT d0.* FROM d0 JOIN bs USING (tok0) WHERE bs.bsz <= 10000) SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist FROM d a JOIN d b ON a.tok0 = b.tok0 AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= 8 WHERE levenshtein(a.pfx, b.pfx) <= 10 ORDER BY id_a, id_b"""),
      (s, dir) => Linkage.editDistancePairs(docs(tune(s), dir),
        "doc_id", "text", prefixLen = 32, maxDist = 10, lenBand = 8)
        .orderBy("id_a", "id_b")),

    // interval coalescing (gaps-and-islands over [ts, ts+10min) windows):
    // merged coverage islands per user
    Q("q298_interval_coalesce", Some(
      """WITH iv AS (SELECT user_id AS key, CAST(epoch_ms(ts) AS BIGINT) AS s, CAST(epoch_ms(ts) AS BIGINT) + 600000 AS e FROM events), o AS (SELECT *, max(e) OVER (PARTITION BY key ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv), f AS (SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS brk FROM o), g AS (SELECT *, SUM(brk) OVER (PARTITION BY key ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island FROM f) SELECT key, CAST(island AS BIGINT) AS island, CAST(min(s) AS BIGINT) AS start_ms, CAST(max(e) AS BIGINT) AS end_ms, CAST(count(*) AS BIGINT) AS n_intervals FROM g GROUP BY key, island ORDER BY key, island"""),
      (s, dir) => {
        val ms = IntMath.idiv(col("ts"), lit(1000000L))
        val iv = KafkaLike.events(tune(s), dir).select(
          col("user_id"), ms.as("s"), (ms + 600000L).as("e"))
        graft.streaming.EventTimeOps.coalesceIntervals(iv, "user_id", "s", "e")
      }),

    // RAG chunking: 32-token chunks, stride 24, md5 chunk payload hash
    Q("q299_rag_chunks", Some(
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents), n AS (SELECT doc_id, tk, len(tk) AS n FROM t), c AS (SELECT doc_id, tk, n, CAST(unnest(range(CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END)) AS BIGINT) AS chunk_id FROM n), s AS (SELECT doc_id, chunk_id, tk[CAST(chunk_id*24 + 1 AS INT):CAST(LEAST(chunk_id*24 + 32, n) AS INT)] AS ck FROM c) SELECT doc_id, chunk_id, CAST(len(ck) AS BIGINT) AS n_tokens, md5(array_to_string(ck, ' ')) AS chunk_hash FROM s ORDER BY doc_id, chunk_id"""),
      (s, dir) => TextAnalysis.ragChunks(docs(tune(s), dir),
        "text", "doc_id", chunkTokens = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")),

    // l-diversity privacy audit: (day, event_type) quasi-groups, distinct
    // user-bucket sensitive values, threshold flag
    Q("q300_l_diversity", Some(
      """WITH g AS (SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day, event_type, CAST(count(DISTINCT user_id % 50) AS BIGINT) AS l_div, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2) SELECT day, event_type, l_div, n, CAST(CASE WHEN l_div < 35 THEN 1 ELSE 0 END AS BIGINT) AS below_l FROM g ORDER BY day, event_type"""),
      (s, dir) => {
        val ev = KafkaLike.events(tune(s), dir).select(
          IntMath.idiv(IntMath.idiv(col("ts"), lit(1000000L)),
            lit(86400000L)).as("day"),
          col("event_type"), (col("user_id") % 50L).as("ub"))
        Quality.lDiversity(ev, Seq("day", "event_type"), col("ub"),
          lThreshold = 35)
      }),

    // lag/rolling feature matrix over per-type daily counts
    Q("q301_lag_features", Some(
      """WITH d AS (SELECT event_type AS grp, CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS x, CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2), w AS (SELECT *, lag(y, 1) OVER (PARTITION BY grp ORDER BY x) AS lag1, lag(y, 7) OVER (PARTITION BY grp ORDER BY x) AS lag7, CAST(sum(y) OVER (PARTITION BY grp ORDER BY x ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_sum, CAST(count(*) OVER (PARTITION BY grp ORDER BY x ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_n FROM d) SELECT grp, x, y, lag1, lag7, roll_sum, roll_n, CAST(roll_sum // roll_n AS BIGINT) AS roll_mean FROM w ORDER BY grp, x"""),
      (s, dir) => {
        val daily = KafkaLike.events(tune(s), dir)
          .groupBy(col("event_type"),
            IntMath.idiv(IntMath.idiv(col("ts"), lit(1000000L)),
              lit(86400000L)).as("day"))
          .agg(count(lit(1)).as("y"))
        Stats.lagFeatures(daily, "event_type", "day", "y",
          longLag = 7, window = 7)
      }),

    // per-source corpus datasheet: totals, language spread, prefix-
    // fingerprint near-dup incidence, mean length
    Q("q302_corpus_datasheet", Some(
      s"""WITH b AS (SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars, $dToks AS tk FROM documents), h AS (SELECT doc_id, source, lang, n_chars, CAST(len(tk) AS BIGINT) AS n_tok, array_to_string(tk[1:16], ' ') AS pfx FROM b), g AS (SELECT pfx, CAST(count(*) AS BIGINT) AS gsz FROM h GROUP BY 1), j AS (SELECT h.*, g.gsz FROM h JOIN g USING (pfx)) SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, CAST(sum(n_tok) AS BIGINT) AS total_tokens, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, CAST(sum(CASE WHEN gsz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_docs, CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars FROM j GROUP BY source ORDER BY source"""),
      (s, dir) => TextAnalysis.corpusDatasheet(docs(tune(s), dir),
        "text", "doc_id", "source", "lang", "n_chars", prefixTokens = 16)
        .orderBy("source")),

    // cross-split contamination: stratified 80/10/10 by source, leakage on
    // the 16-token prefix fingerprint; zero rows = clean split
    Q("q303_split_leakage", Some(
      s"""WITH t AS (SELECT doc_id, source, array_to_string(($dToks)[1:16], ' ') AS p FROM documents), r AS (SELECT doc_id, source, p, CAST(row_number() OVER (PARTITION BY source ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647, doc_id) AS BIGINT) AS r, CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM t), s AS (SELECT doc_id, p, CASE WHEN r*100 <= n*80 THEN 'train' WHEN r*100 <= n*90 THEN 'val' ELSE 'test' END AS split FROM r) SELECT a.doc_id AS train_id, b.doc_id AS leak_id, b.split AS leak_split, a.p AS fingerprint FROM s a JOIN s b ON a.p = b.p AND a.split = 'train' AND b.split <> 'train' ORDER BY train_id, leak_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        Sampling.splitLeakage(d, "source", "doc_id",
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 16), " "),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
      }),

    // trailing-boilerplate audit: last-2-token suffix shared by >=5% of a
    // source flags the doc for the strip stage
    Q("q304_boilerplate_suffix", Some(
      s"""WITH t AS (SELECT doc_id, source, $dToks AS tk FROM documents), sfx AS (SELECT doc_id, source, array_to_string(tk[CAST(GREATEST(len(tk)-1, 1) AS INT):CAST(len(tk) AS INT)], ' ') AS suffix FROM t), f AS (SELECT source, suffix, CAST(count(*) AS BIGINT) AS suffix_freq FROM sfx GROUP BY 1, 2), n AS (SELECT source, CAST(count(*) AS BIGINT) AS source_docs FROM sfx GROUP BY 1) SELECT sfx.doc_id, sfx.source, f.suffix_freq, n.source_docs, CAST(CASE WHEN f.suffix_freq * 100 >= n.source_docs * 5 AND f.suffix_freq >= 2 THEN 1 ELSE 0 END AS BIGINT) AS boilerplate FROM sfx JOIN f ON f.source = sfx.source AND f.suffix = sfx.suffix JOIN n ON n.source = sfx.source ORDER BY sfx.doc_id"""),
      (s, dir) => TextAnalysis.boilerplateSuffix(docs(tune(s), dir),
        "text", "doc_id", "source", suffixTokens = 2, minPct = 5)
        .orderBy("doc_id"))
  )

  private lazy val r8Parity: Seq[Q] = Seq(

    // KAF-98 map-ENTRY-level merge (reference changelog/README.md:10;
    // behavior pinned by ProvidedQueryCCMIT.java:514-545): per-entry LWW —
    // batch1 inserts entries under nullToUnset=true, batch2 updates/REMOVES
    // (null value) under nullToUnset=false; output exploded to entries so
    // the oracle compares per-entry values and writetimes exactly
    Q("q305_map_entry_merge", Some(
      """WITH f AS (SELECT user_id % 50 AS pk, event_type AS k, CAST(floor(value*1000) AS BIGINT) AS v0, CAST(epoch_ms(ts) AS BIGINT)*1000 AS wt, event_id FROM events), s0 AS (SELECT *, row_number() OVER (PARTITION BY pk, k ORDER BY wt DESC, event_id DESC) AS rn FROM f WHERE event_id % 3 = 0 AND v0 IS NOT NULL), s AS (SELECT pk, k, v0 AS v, wt FROM s0 WHERE rn = 1), b0 AS (SELECT pk, k, CASE WHEN event_id % 7 = 0 THEN NULL ELSE v0 END AS bv, wt, event_id, row_number() OVER (PARTITION BY pk, k ORDER BY wt DESC, event_id DESC) AS rn FROM f WHERE event_id % 3 = 1), b AS (SELECT pk, k, bv, wt FROM b0 WHERE rn = 1), m AS (SELECT COALESCE(s.pk, b.pk) AS pk, COALESCE(s.k, b.k) AS k, CASE WHEN b.pk IS NOT NULL AND (s.pk IS NULL OR b.wt >= s.wt) THEN b.bv ELSE s.v END AS v, CASE WHEN b.pk IS NOT NULL AND (s.pk IS NULL OR b.wt >= s.wt) THEN b.wt ELSE s.wt END AS wt FROM s FULL OUTER JOIN b ON s.pk = b.pk AND s.k = b.k) SELECT pk, k, CAST(v AS BIGINT) AS v, CAST(wt AS BIGINT) AS entry_wt FROM m WHERE v IS NOT NULL ORDER BY pk, k"""),
      (s, dir) => {
        val wtc = RecordMapper.WritetimeCol
        val f = KafkaLike.events(tune(s), dir).select(
          (col("user_id") % 50L).as("my_pk"), col("event_type").as("k"),
          floor(col("value") * 1000d).cast(LongType).as("v"),
          (IntMath.idiv(col("ts"), lit(1000000L)) * 1000L).as(wtc),
          col("event_id"))
        val b1 = f.filter(col("event_id") % 3 === 0)
        val b2 = f.filter(col("event_id") % 3 === 1)
          .withColumn("v", when(col("event_id") % 7 === 0,
            lit(null).cast(LongType)).otherwise(col("v")))
        val empty = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("my_pk", LongType))))
        val order = Seq(col(wtc), col("event_id"))
        val st1 = Upserts.mergeMapEntries(empty, b1, Seq("my_pk"),
          "attrs", "k", "v", order, nullToUnset = true)
        val st2 = Upserts.mergeMapEntries(st1, b2, Seq("my_pk"),
          "attrs", "k", "v", order, nullToUnset = false)
        st2.select(col("my_pk").as("pk"),
            explode(map_zip_with(col("attrs"), col("__wtmap_attrs"),
              (_, v, t) => struct(v.as("v"), t.as("t")))).as(Seq("k", "e")))
          .select(col("pk"), col("k"), col("e.v").as("v"),
            col("e.t").as("entry_wt"))
          .orderBy("pk", "k")
      }),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // multinomials over 1024 buckets; target = doc_id ≡ 0 (mod 4), raw =
    // the rest; each raw doc scored by its add-1-smoothed qlog2 likelihood
    // ratio. The selection key behind importance resampling — compose with
    // weightedKeep/quotaByClass for the resample step.
    Q("q306_dsir_weights", Some(
      s"""WITH dd AS (SELECT doc_id, list_transform($dToks, t -> ${dFold("t")}) AS th FROM documents), fb AS (SELECT doc_id, doc_id % 4 = 0 AS is_t, unnest(list_concat(list_transform(th, h -> h % 1024), CASE WHEN len(th) < 2 THEN [] ELSE list_transform(range(len(th)-1), i -> ((th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647) % 1024) END)) AS bucket FROM dd), ct AS (SELECT bucket, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t, CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cnt_r FROM fb GROUP BY 1), tot AS (SELECT CAST(SUM(cnt_t) AS BIGINT) AS ttl, CAST(SUM(cnt_r) AS BIGINT) AS trl FROM ct), l0 AS (SELECT bucket, cnt_t + 1 AS pt, cnt_r + 1 AS pr, ttl + 1024 AS dt, trl + 1024 AS dr FROM ct CROSS JOIN tot), lr AS (SELECT bucket, (${dQlog2("pt")}) - (${dQlog2("dt")}) - (${dQlog2("pr")}) + (${dQlog2("dr")}) AS lr_q FROM l0), db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM fb WHERE NOT is_t GROUP BY 1, 2), sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats, CAST(SUM(n*lr_q) AS BIGINT) AS w_q FROM db JOIN lr USING (bucket) GROUP BY 1) SELECT d.doc_id, COALESCE(sc.n_feats, 0) AS n_feats, COALESCE(sc.w_q, 0) AS w_q, COALESCE(sc.w_q // sc.n_feats, 0) AS w_q_avg FROM (SELECT doc_id FROM documents WHERE doc_id % 4 <> 0) d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        Sampling.dsirWeights(
          d.filter(col("doc_id") % 4 === 0), d.filter(col("doc_id") % 4 =!= 0),
          "text", "doc_id").orderBy("doc_id")
      }),

    // Luhn-validated card-number audit (DLP beyond q61's regex counting):
    // synthesized 16-digit runs whose mod-10 check digit is correct iff
    // doc_id ≡ 0 (mod 3); docs ≡ 4 (mod 5) carry no candidate at all. The
    // operator must count candidates AND validate the checksum — a regex
    // alone would flag every doc.
    Q("q307_luhn_card_audit", Some({
      def luhn(sVar: String, n: Int): String = {
        val d = s"(ascii(substring($sVar, CAST(i+1 AS INT), 1)) - 48)"
        s"list_sum(list_transform(range($n), i -> CASE WHEN i % 2 = 0 THEN CASE WHEN $d*2 > 9 THEN $d*2 - 9 ELSE $d*2 END ELSE $d END)) % 10"
      }
      s"""WITH b AS (SELECT doc_id, text, lpad(CAST(doc_id*7919 % 1000000000000000 AS VARCHAR), 15, '0') AS body FROM documents), sm AS (SELECT doc_id, text, body, ${luhn("body", 15)} AS bsum FROM b), t AS (SELECT doc_id, CASE WHEN doc_id % 5 = 4 THEN text ELSE text || ' card ' || body || CAST(CASE WHEN doc_id % 3 = 0 THEN (10 - bsum) % 10 ELSE ((10 - bsum) % 10 + 1) % 10 END AS VARCHAR) END AS full_text FROM sm), x AS (SELECT doc_id, regexp_extract_all(full_text, '\\b[0-9]{16}\\b') AS cands FROM t), v AS (SELECT doc_id, cands, list_filter(cands, cd -> ${luhn("cd", 16)} = 0) AS valids FROM x) SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates, CAST(len(valids) AS BIGINT) AS n_valid, len(valids) > 0 AS has_valid_card FROM v ORDER BY doc_id"""}),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val body = lpad((col("doc_id") * 7919L % 1000000000000000L)
          .cast(StringType), 15, "0")
        // the check digit that makes the 16-digit number Luhn-valid: the
        // body's sum inside a 16-length context (appending '0' lands each
        // body digit at its final index, contributing nothing itself)
        val bsum = Quality.luhnSum(concat(body, lit("0")), 16)
        val good = pmod(lit(10L) - bsum, lit(10L))
        val digit = when(col("doc_id") % 3 === 0, good)
          .otherwise((good + 1L) % 10L)
        val full = when(col("doc_id") % 5 === 4, col("text"))
          .otherwise(concat(col("text"), lit(" card "), body,
            digit.cast(StringType)))
        Quality.luhnCardAudit(
          d.select(col("doc_id"), full.as("text")), "text", "doc_id")
          .orderBy("doc_id")
      }),

    // radius-parameterized phash banding (q277 at radius 6): 7 contiguous
    // chunks of the 64-bit aHash (6×9-bit + 1×10-bit; chunk 3 spans the
    // hi/lo boundary) — pigeonhole-exact candidate gate at hamming ≤6.
    // The oracle re-derives every chunk from the hi/lo halves with plain
    // integer division, so a single mis-stitched boundary bit flips bv
    // and breaks the hash match.
    Q("q308_phash_radius6", Some(
      s"""WITH ${dPhashCtes("WHERE event_id % 53 = 0")}, bands AS (SELECT event_id, base, phash_hi AS hi, phash_lo AS lo, bid, CASE bid WHEN 0 THEN phash_lo % 512 WHEN 1 THEN (phash_lo // 512) % 512 WHEN 2 THEN (phash_lo // 262144) % 512 WHEN 3 THEN (phash_lo // 134217728) + (phash_hi % 16) * 32 WHEN 4 THEN (phash_hi // 16) % 512 WHEN 5 THEN (phash_hi // 8192) % 512 ELSE phash_hi // 4194304 END AS bv FROM ph, (SELECT unnest(range(7)) AS bid)), cand AS (SELECT DISTINCT a.event_id AS aid, b.event_id AS bid2, a.hi AS ah, a.lo AS al, b.hi AS bh, b.lo AS bl FROM bands a JOIN bands b ON a.bid = b.bid AND a.bv = b.bv AND a.event_id < b.event_id) SELECT CAST(bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) AS BIGINT) AS hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(CASE WHEN aid % 97 = bid2 % 97 THEN 1 ELSE 0 END) AS BIGINT) AS n_same_base FROM cand GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val images = phashTestImages(s, dir)
          .filter(col("event_id") % 53L === 0L)
        MediaDedup.phashCandidatePairs(images, "event_id", "payload",
            lit(2), maxHamming = 6)
          .groupBy(col("hamming"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("a_id") % 97L === col("b_id") % 97L, 1L)
              .otherwise(0L)).as("n_same_base"))
          .orderBy("hamming")
      }),

    // dedup-aware resampling weights: keep every exact-dup copy but weight
    // it by 1/cluster_size (ppm) — the soft alternative to dropping
    // duplicates when provenance must survive the pass
    Q("q309_dedup_weights", Some(
      """WITH c AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM documents GROUP BY 1) SELECT d.doc_id, c.cluster_size, CAST(1000000 // c.cluster_size AS BIGINT) AS w_ppm FROM documents d JOIN c ON md5(d.text) IS NOT DISTINCT FROM c.h ORDER BY d.doc_id"""),
      (s, dir) => Sampling.dedupAwareWeights(docs(tune(s), dir),
        "text", "doc_id").orderBy("doc_id")),

    // memorization-span audit: per doc, the longest token run whose every
    // 3-shingle appears in >= 2 docs (islands over shared shingle
    // positions) — the pre-training "how much of this text exists
    // verbatim elsewhere" readout
    Q("q310_dup_span_runs", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), th AS (SELECT doc_id, list_transform(tk, t -> ${dFold("t")}) AS th FROM toks), shp0 AS (SELECT doc_id, unnest(CASE WHEN len(th) < 3 THEN [] ELSE list_transform(range(len(th)-2), i -> {'pos': i, 'h': ((((th[CAST(i+1 AS INT)]*131 + th[CAST(i+2 AS INT)]) % 2147483647)*131 + th[CAST(i+3 AS INT)]) % 2147483647)}) END) AS u FROM th), shp AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, CAST(u.h AS BIGINT) AS h FROM shp0), dfq AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM shp GROUP BY h) WHERE df >= 2), hits AS (SELECT shp.doc_id, shp.pos FROM shp JOIN dfq USING (h)), isl AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM hits), runs AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run FROM isl GROUP BY 1, 2), ag AS (SELECT doc_id, SUM(run) AS n_shared, MAX(run) AS max_run FROM runs GROUP BY 1), tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM shp GROUP BY 1) SELECT d.doc_id, CAST(COALESCE(t.n_shingles, 0) AS BIGINT) AS n_shingles, CAST(COALESCE(ag.n_shared, 0) AS BIGINT) AS n_shared, CAST(COALESCE(ag.max_run + 2, 0) AS BIGINT) AS max_dup_span_tokens FROM documents d LEFT JOIN tot t USING (doc_id) LEFT JOIN ag USING (doc_id) ORDER BY d.doc_id"""),
      (s, dir) => TextAnalysis.duplicatedSpanRuns(docs(tune(s), dir),
        "text", "doc_id", shingleN = 3, minDF = 2).orderBy("doc_id")),

    // vocabulary richness: bias-corrected Chao1 + Good-Turing unseen mass
    // — the "is more crawl worth it" one-row readout (hapax/dis widened
    // through HUGEINT/DECIMAL(38,0) so the f1^2 product can't overflow)
    Q("q311_vocab_richness", Some(
      s"""WITH tk AS (SELECT unnest($dToks) AS token FROM documents), tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1), a AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS vocab_size, CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax, CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis FROM tf) SELECT n_tokens, vocab_size, hapax, dis, CAST(vocab_size*1000 + (CAST(hapax AS HUGEINT)*1000*(hapax - 1)) // ((dis + 1)*2) AS BIGINT) AS chao1_x1000, CAST(hapax*1000000 // GREATEST(n_tokens, 1) AS BIGINT) AS unseen_mass_ppm FROM a"""),
      (s, dir) => TextAnalysis.vocabRichness(docs(tune(s), dir), "text")),

    // EXACT cross-doc substring dedup (Lee et al. 2022): maximal token
    // spans covered by an 8-token run appearing verbatim in >= 2 docs —
    // hash pre-filter + content verify, the exactness-contract complement
    // of q310's hash-only approximation (as q201 is to q32)
    Q("q312_exact_dup_spans", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), kg0 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN [] ELSE list_transform(range(len(tk)-7), i -> {'pos': i, 'g': array_to_string(list_slice(tk, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')}) END) AS u FROM toks), kg AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.g AS g FROM kg0), shared AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM kg GROUP BY g) WHERE df >= 2), hits AS (SELECT kg.doc_id, kg.pos FROM kg JOIN shared USING (g)), m AS (SELECT doc_id, pos, CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8 THEN 1 ELSE 0 END AS brk FROM hits), g2 AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM m) SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start, CAST(MAX(pos) + 7 AS BIGINT) AS span_end, CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens FROM g2 GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),
      (s, dir) => Dedup.exactDupSpans(docs(tune(s), dir), "text", "doc_id",
        minTokens = 8).orderBy("doc_id", "span_start")),

    // the scrub step of the same audit: remove every token covered by a
    // cross-doc duplicated span, re-join the survivors with single spaces
    Q("q313_scrub_dup_spans", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), kg0 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN [] ELSE list_transform(range(len(tk)-7), i -> {'pos': i, 'g': array_to_string(list_slice(tk, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')}) END) AS u FROM toks), kg AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.g AS g FROM kg0), shared AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM kg GROUP BY g) WHERE df >= 2), hits AS (SELECT kg.doc_id, kg.pos FROM kg JOIN shared USING (g)), cov AS (SELECT DISTINCT doc_id, pos + j AS cpos FROM hits, range(8) t(j)), tk1 AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok AS tok FROM (SELECT doc_id, unnest(list_transform(range(len(tk)), i -> {'pos': i, 'tok': tk[CAST(i+1 AS INT)]})) AS u FROM toks)), scrub AS (SELECT t.doc_id, t.pos, t.tok FROM tk1 t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos WHERE c.doc_id IS NULL), re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text, CAST(COUNT(*) AS BIGINT) AS kept_tokens FROM scrub GROUP BY doc_id), tot AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n FROM toks) SELECT d.doc_id, COALESCE(re.scrubbed_text, '') AS scrubbed_text, COALESCE(re.kept_tokens, 0) AS kept_tokens, tot.n - COALESCE(re.kept_tokens, 0) AS dropped_tokens FROM documents d JOIN tot USING (doc_id) LEFT JOIN re USING (doc_id) ORDER BY d.doc_id"""),
      (s, dir) => Dedup.scrubDupSpans(docs(tune(s), dir), "text", "doc_id",
        minTokens = 8).orderBy("doc_id")),

    // LSH band-plan advisor: the exact fixed-point S-curve
    // P(candidate|s) = 1 − (1 − s^r)^b per (r, b) split of a 16-hash
    // budget — the tuning table behind dedup=near and minhashCandidates
    Q("q314_lsh_band_plan", Some(
      """WITH rb AS (SELECT CAST(r AS BIGINT) AS rows_per_band, CAST(16 // r AS BIGINT) AS n_bands FROM (SELECT unnest(range(1, 17)) AS r) WHERE 16 % r = 0), sp AS (SELECT CAST(sx AS BIGINT)*50 AS s_permille FROM (SELECT unnest(range(1, 20)) AS sx)), g AS (SELECT rows_per_band, n_bands, s_permille, s_permille*1000 AS s_ppm FROM rb CROSS JOIN sp), p1 AS (SELECT rows_per_band, n_bands, s_permille, list_reduce(list_prepend(CAST(1000000 AS BIGINT), list_transform(range(CAST(rows_per_band AS INT)), i -> s_ppm)), (acc, x) -> (acc*x)//1000000) AS sr_ppm FROM g), p2 AS (SELECT rows_per_band, n_bands, s_permille, list_reduce(list_prepend(CAST(1000000 AS BIGINT), list_transform(range(CAST(n_bands AS INT)), i -> 1000000 - sr_ppm)), (acc, x) -> (acc*x)//1000000) AS miss_ppm FROM p1) SELECT rows_per_band, n_bands, s_permille, CAST(1000000 - miss_ppm AS BIGINT) AS p_candidate_ppm FROM p2 ORDER BY rows_per_band, s_permille"""),
      (s, dir) => Dedup.lshBandPlan(tune(s), numHashes = 16,
        stepPermille = 50).orderBy("rows_per_band", "s_permille")),

    // pair-level provenance of the exact memorization audit: which doc
    // pairs share verbatim >=8-token runs, and the longest such run per
    // pair (diagonal islands over verified matches; grams in >100 docs
    // are boilerplate and capped out, same contract as q201's DF cap)
    Q("q315_dup_span_partners", Some(
      s"""WITH toks AS (SELECT doc_id, $dToks AS tk FROM documents), kg0 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN [] ELSE list_transform(range(len(tk)-7), i -> {'pos': i, 'g': array_to_string(list_slice(tk, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')}) END) AS u FROM toks), kg AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.g AS g FROM kg0), shared AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM kg GROUP BY g) WHERE df >= 2 AND df <= 100), hits AS (SELECT kg.doc_id, kg.pos, kg.g FROM kg JOIN shared USING (g)), pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b FROM hits a JOIN hits b ON a.g = b.g AND a.doc_id < b.doc_id), m AS (SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a, CASE WHEN LAG(pos_a) OVER w IS NULL OR pos_a - LAG(pos_a) OVER w > 1 THEN 1 ELSE 0 END AS brk FROM pairs WINDOW w AS (PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a)), i AS (SELECT doc_a, doc_b, diag, pos_a, SUM(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a ROWS UNBOUNDED PRECEDING) AS grp FROM m), runs AS (SELECT doc_a, doc_b, diag, grp, CAST(COUNT(*) AS BIGINT) AS run FROM i GROUP BY 1, 2, 3, 4) SELECT doc_a, doc_b, CAST(SUM(run) AS BIGINT) AS n_matched_positions, CAST(MAX(run) + 7 AS BIGINT) AS max_shared_run_tokens FROM runs GROUP BY 1, 2 ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.dupSpanPartners(docs(tune(s), dir), "text",
        "doc_id", minTokens = 8, maxDocsPerGram = 100)
        .orderBy("doc_a", "doc_b")),

    // EXACT connected components by alternating large-star/small-star
    // (Kiveris et al. 2014) over the MinHash candidate graph — O(log² n)
    // rounds for arbitrary component shapes; q54 runs the same operator
    // through nearDupClusters' column names, against the same ground truth
    Q("q316_cc_large_small_star", Some(
      s"""${dMinhashSig.replaceFirst("^WITH ", "WITH RECURSIVE ")}, bands AS (SELECT doc_id, CAST(seed_id // 4 AS INT) AS band_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list(minhash ORDER BY seed_id)), (acc, x) -> (acc*131 + x) % 2147483647) AS band_hash FROM sig GROUP BY doc_id, CAST(seed_id // 4 AS INT)), cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), e AS (SELECT doc_a AS s, doc_b AS t FROM cand UNION ALL SELECT doc_b AS s, doc_a AS t FROM cand), reach(s, t) AS (SELECT s, t FROM e UNION SELECT reach.s, e2.t FROM reach JOIN e e2 ON reach.t = e2.s) SELECT d.doc_id AS node_id, CAST(LEAST(d.doc_id, COALESCE(MIN(reach.t), d.doc_id)) AS BIGINT) AS component_id FROM documents d LEFT JOIN reach ON d.doc_id = reach.s GROUP BY d.doc_id ORDER BY node_id"""),
      (s, dir) => {
        val d = docs(tune(s), dir)
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(d, "text", "doc_id")))
        Graph.connectedComponentsStar(d, "doc_id", cands, "doc_a", "doc_b")
          .orderBy("node_id")
      }),

    // rule-to-classifier distillation: integer batch perceptron trained
    // on a rule-labeled seed (doc_id % 5, y = qualityOk ? 1 : -1), then
    // the learned linear score over the whole corpus — 3 epochs unrolled
    // as CTEs in the oracle; deterministic on any partitioning (batch
    // updates, no learning rate, no shuffling)
    Q("q317_distill_linear_gate", Some({
      val stops = "('the','a','an','and','or','of','to','in','is','it','on','for')"
      val x2e = "length(text) - length(translate(text, '.,;:!?', ''))"
      val x3e = s"len(list_filter($dToks, x -> x IN $stops))"
      val wdot = (w: String) =>
        s"$w.w0*x0 + $w.w1*x1 + $w.w2*x2 + $w.w3*x3"
      val step = (prev: String, next: String) =>
        s"$next AS (SELECT $prev.w0 + COALESCE(SUM(CASE WHEN y*(${wdot(prev)}) <= 0 THEN y*x0 END), 0) AS w0, $prev.w1 + COALESCE(SUM(CASE WHEN y*(${wdot(prev)}) <= 0 THEN y*x1 END), 0) AS w1, $prev.w2 + COALESCE(SUM(CASE WHEN y*(${wdot(prev)}) <= 0 THEN y*x2 END), 0) AS w2, $prev.w3 + COALESCE(SUM(CASE WHEN y*(${wdot(prev)}) <= 0 THEN y*x3 END), 0) AS w3 FROM sd CROSS JOIN $prev GROUP BY $prev.w0, $prev.w1, $prev.w2, $prev.w3)"
      s"""WITH f AS (SELECT doc_id, CAST(1 AS BIGINT) AS x0, CAST(length(text) AS BIGINT) AS x1, CAST($x2e AS BIGINT) AS x2, CAST($x3e AS BIGINT) AS x3, CASE WHEN length(text) >= 100 AND ($x2e)*10 <= length(text) AND $x3e >= 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y FROM documents), sd0 AS (SELECT * FROM f WHERE doc_id % 5 = 0), mn AS (SELECT GREATEST(COUNT(*), 1) AS n, COALESCE(SUM(x1), 0) AS s1, COALESCE(SUM(x2), 0) AS s2, COALESCE(SUM(x3), 0) AS s3 FROM sd0), fc AS (SELECT doc_id, x0, x1 - s1//n AS x1, x2 - s2//n AS x2, x3 - s3//n AS x3, y FROM f CROSS JOIN mn), sd AS (SELECT * FROM fc WHERE doc_id % 5 = 0), wa AS (SELECT COALESCE(SUM(y*x0), 0) AS w0, COALESCE(SUM(y*x1), 0) AS w1, COALESCE(SUM(y*x2), 0) AS w2, COALESCE(SUM(y*x3), 0) AS w3 FROM sd), ${step("wa", "wb")}, ${step("wb", "wc")}, sc AS (SELECT fc.doc_id, ${wdot("wc")} AS score, y FROM fc CROSS JOIN wc) SELECT doc_id, CAST(score AS BIGINT) AS score, CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred, CAST(CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE -1 END) = y THEN 1 ELSE 0 END AS BIGINT) AS agrees_rule FROM sc ORDER BY doc_id"""
    }),
      (s, dir) => Quality.distillLinearGate(docs(tune(s), dir), "text",
        "doc_id", seedMod = 5, epochs = 3).orderBy("doc_id"))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Placeholder in oracle SQL for values only a Spark-side computation can
    * supply (the trained k-means centroids for q53). */
  val IvfCentroidsPlaceholder = "__IVF_CENTROIDS__"

  /** Same mechanism for the PQ sub-codebooks (q93/q94): rows of
    * `(sub_id, cell_id, [cv...])`. */
  val PqCodebooksPlaceholder = "__PQ_CODEBOOKS__"

  /**
   * Resolve oracle-SQL placeholders against a concrete sf directory: runs the
   * deterministic integer k-means once and splices the collected centroids in
   * as `(cell_id, [v, ...])` VALUES rows. The training is all-integer
   * (truncating DIV means, exact L2 assignment), so the centroids Verify
   * collects here are bit-identical to the ones the q53 query trains
   * internally — DuckDB then checks the assignment exactly.
   */
  def resolveOracleSql(spark: SparkSession, sfDir: String): Map[String, String] = {
    lazy val centroidValues: String = {
      val rows = Similarity.kmeansCentroids(
          embeddings(tune(spark), sfDir), "vec_id", "embedding", k = 8, iters = 3)
        .orderBy("cell_id").collect()
      rows.map { r =>
        s"(${r.getInt(0)}, ${r.getSeq[Long](1).mkString("[", ", ", "]")})"
      }.mkString(", ")
    }
    lazy val pqValues: String = {
      val rows = Pq.trainCodebooks(
          embeddings(tune(spark), sfDir), "vec_id", "embedding", 8, 16, 3)
        .orderBy("sub_id", "cell_id").collect()
      rows.map { r =>
        s"(${r.getInt(0)}, ${r.getInt(1)}, ${r.getSeq[Long](2).mkString("[", ", ", "]")})"
      }.mkString(", ")
    }
    oracleSql.map { case (name, sql) =>
      var out = sql
      if (out.contains(IvfCentroidsPlaceholder))
        out = out.replace(IvfCentroidsPlaceholder, centroidValues)
      if (out.contains(PqCodebooksPlaceholder))
        out = out.replace(PqCodebooksPlaceholder, pqValues)
      name -> out
    }
  }
}

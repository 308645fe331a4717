package graft.mapping

import java.util.concurrent.TimeUnit

/**
 * Connector configuration model: per-(topic, keyspace, table) bindings plus
 * per-topic codec settings.
 *
 * Key surface re-derived from the reference's shipped sample config
 * (reference: dist/conf/cassandra-sink-standalone.properties.sample:129-225)
 * and config-parsing tests (reference: sink/src/test/.../CassandraSinkTaskTest.java:262-272):
 *
 *   topic.<topic>.<keyspace>.<table>.mapping            (required)
 *   topic.<topic>.<keyspace>.<table>.ttl                (default -1 = none)
 *   topic.<topic>.<keyspace>.<table>.ttlTimeUnit        (default SECONDS)
 *   topic.<topic>.<keyspace>.<table>.timestampTimeUnit  (default MICROSECONDS)
 *   topic.<topic>.<keyspace>.<table>.consistencyLevel   (default LOCAL_ONE)
 *   topic.<topic>.<keyspace>.<table>.nullToUnset        (default true)
 *   topic.<topic>.<keyspace>.<table>.deletesEnabled     (default true)
 *   topic.<topic>.<keyspace>.<table>.query              (optional CQL override)
 *   topic.<topic>.<keyspace>.<table>.mergeMode          (row | cell | entry, default row)
 *   topic.<topic>.<keyspace>.<table>.dedup              (none | exact | exactTtl:<ms> | phash[:<factor>[:<ttlMs>]] | near[:<k>x<r>|:strict95|:broad40[:<ttlMs>]], default none)
 *   topic.<topic>.<keyspace>.<table>.quality            (none | dsir:<minWqAvgQ>:<histDir>, default none)
 *   topic.<topic>.codec.{timestamp,date,time,unit,timeZone,locale}
 *   dedupVacuumEvery                                    (batches between automatic dedup-state sweeps, default 100, 0 = off)
 *
 * global execution settings (reference:
 * dist/conf/cassandra-sink-standalone.properties.sample:34-48; KAF-49
 * added queryExecutionTimeout, KAF-60/95 the request/batch caps,
 * changelog/README.md):
 *
 *   maxConcurrentRequests                               (default 500)
 *   maxNumberOfRecordsInBatch                           (default 32 — the per-partition-key batch cap, see Upserts.batchGroups)
 *   connectionPoolLocalSize                             (default 4)
 *   queryExecutionTimeout                               (seconds, default 30)
 *   jmx                                                 (default true — stats reporting on/off)
 *
 * plus the global endpoint/security surface (X4, validated at parse time —
 * reference: dist/conf/cassandra-sink-standalone.properties.sample:8-110):
 *
 *   contactPoints, loadBalancing.localDc, port
 *   auth.{provider,username,password,gssapi.{keyTab,principal,service}}
 *   ssl.{provider,cipherSuites,hostnameValidation,keystore.*,truststore.*,openssl.*}
 *   cloud.secureConnectBundle
 *
 * Topic names may themselves contain dots; the keyspace/table pair is the
 * two segments immediately before a recognized setting name.
 */
object SinkConfig {

  /** X4 (§2.8) — authentication settings, parse-and-validate level (this
    * library has no Cassandra wire to authenticate against; what IS testable
    * and what a production user hits on day one is the config contract:
    * enums, provider inference, required-together keys, fail-fast conflicts).
    * Surface and rules re-derived from the reference's shipped sample
    * (reference: dist/conf/cassandra-sink-standalone.properties.sample:63-82)
    * and auth ITs (reference:
    * sink/src/it/.../auth/PlaintextAuthCCMIT.java:64-121 — a username with
    * provider None/unset infers PLAIN, "auth.provider was coerced"). */
  case class AuthSettings(
      provider: String = "None",
      username: Option[String] = None,
      password: Option[String] = None,
      gssapiKeyTab: Option[String] = None,
      gssapiPrincipal: Option[String] = None,
      gssapiService: String = "dse")

  /** X4 (§2.8) — SSL settings (reference:
    * dist/conf/cassandra-sink-standalone.properties.sample:84-110; usage
    * reference: sink/src/it/.../auth/SslEndToEndCCMIT.java:47-110). */
  case class SslSettings(
      provider: String = "None",
      cipherSuites: Seq[String] = Nil,
      hostnameValidation: Boolean = true,
      keystorePath: Option[String] = None,
      keystorePassword: Option[String] = None,
      truststorePath: Option[String] = None,
      truststorePassword: Option[String] = None,
      opensslKeyCertChain: Option[String] = None,
      opensslPrivateKey: Option[String] = None)

  case class CodecSettings(
      timestamp: String = "CQL_TIMESTAMP",
      date: String = "ISO_LOCAL_DATE",
      time: String = "ISO_LOCAL_TIME",
      unit: String = "MILLISECONDS",
      timeZone: String = "UTC",
      locale: String = "en_US",
      /** NUMERIC (decimal strings/numbers) or BASE64 (unscaled
        * big-endian bytes, Avro logical-decimal wire form) — reference C8. */
      decimal: String = "NUMERIC")

  case class TableBinding(
      topic: String,
      keyspace: String,
      table: String,
      mapping: Seq[MappingSpec.Entry],
      ttl: Long = -1L,
      ttlTimeUnit: TimeUnit = TimeUnit.SECONDS,
      timestampTimeUnit: TimeUnit = TimeUnit.MICROSECONDS,
      consistencyLevel: String = "LOCAL_ONE",
      nullToUnset: Boolean = true,
      deletesEnabled: Boolean = true,
      query: Option[String] = None,
      codec: CodecSettings = CodecSettings(),
      /** `row` (default): one writetime per row ([[graft.operators.Upserts.mergeInto]]).
        * `cell`: per-column writetimes, Cassandra's actual reconciliation
        * granularity ([[graft.operators.Upserts.mergeIntoCellWise]]) — needed
        * when several bindings write DISJOINT columns of one table out of
        * timestamp order.
        * `entry`: cell-wise plus per-MAP-ENTRY writetimes for every MapType
        * column ([[graft.operators.Upserts.mergeIntoCellWise]] with
        * `entryCols` — reference KAF-98, changelog/README.md:10): a record's
        * map value upserts or removes individual entries (null value removes
        * under `nullToUnset=false`) instead of replacing the whole cell. */
      mergeMode: String = "row",
      /** Content-level dedup stage between decode and merge, keeping its
        * seen set in a keyed store beside the table:
        * `none` (default) | `exact` (first copy of each record value ever
        * reaches the table) | `exactTtl:<ms>` (seen-hash forgotten after a
        * quiet horizon — sightings re-arm it, bounding state to content
        * active within the window). Tombstones (null values) never dedup:
        * every delete reaches the table. Extends the reference's
        * offset-level idempotent replay (reference:
        * sink/src/it/.../SimpleEndToEndSimulacronIT.java:407-473) to
        * content level.
        *
        * `near` | `near:<numHashes>x<rowsPerBand>[:<ttlMs>]` (default 16x4,
        * no horizon): NEAR-dup dedup — a record sharing any MinHash LSH
        * band with earlier content is dropped (the online, config-reachable
        * form of [[graft.operators.Dedup.applyNearDedup]] over
        * [[graft.streaming.StreamingDedup.bandRows]]; state = seen band
        * hashes, keyed by (band_id, band_hash)). The optional third segment
        * is the same sliding horizon as `exactTtl`: band sightings re-arm
        * it, bands quiet for a full horizon expire physically (merge-time
        * prune + vacuum sweep), bounding state to recently-active content. */
      dedup: String = "none",
      /** Ingest-time DSIR quality gate ([[graft.operators.Sampling.dsirScore]]
        * reachable from config): `none` (default) |
        * `dsir:<minWqAvgQ>:<histDir>` — score each record's text value
        * against the trained histogram persisted at `histDir` (the parquet
        * layout [[graft.operators.Sampling.dsirHistogram]] writes, loaded
        * once per pipeline and required to be dense: 1024 rows, buckets
        * 0..1023, no null `lr_q`) and drop records whose per-feature qlog2
        * importance ratio (`w_q_avg`, 1024ths of a bit, signed) is below
        * the threshold: "only ingest what looks like the target corpus".
        * The gate is a per-row filter in the batch's map stage. Tombstones
        * always pass — a quality gate must never block a delete. */
      quality: String = "none") {
    require(Set("row", "cell", "entry").contains(mergeMode),
      s"mergeMode must be row, cell or entry (got '$mergeMode')")
    require(dedup == "none" || dedup == "exact" ||
      (dedup.startsWith("phash") &&
        SinkConfig.phashParams(dedup).isDefined) ||
      (dedup.startsWith("exactTtl:") &&
        scala.util.Try(dedup.stripPrefix("exactTtl:").toLong).toOption
          .exists(_ > 0)) ||
      (dedup.startsWith("near") && SinkConfig.nearParams(dedup).isDefined),
      s"dedup must be none, exact, exactTtl:<positive ms>, " +
        s"phash[:<factor>[:<positive ttl ms>]], or " +
        s"near[:<numHashes>x<rowsPerBand>[:<positive ttl ms>]] (with " +
        s"rowsPerBand dividing numHashes) or " +
        s"near:strict95|broad40[:<positive ttl ms>] (got '$dedup')")
    require(quality == "none" ||
      SinkConfig.dsirQualityParams(quality).isDefined,
      s"quality must be none or dsir:<minWqAvgQ>:<histDir> (got '$quality')")
    def qualifiedTable: String = s"$keyspace.$table"
    def qualityEnabled: Boolean = quality != "none"
    /** (minWqAvgQ, histogram dir) for `quality = dsir:…`; None otherwise. */
    def qualityDsirParams: Option[(Long, String)] =
      SinkConfig.dsirQualityParams(quality)
    def dedupEnabled: Boolean = dedup != "none"
    /** The sliding horizon for `exactTtl:<ms>`, `near:<k>x<r>:<ms>`, and
      * `phash:<k>:<ms>`; None for the unbounded modes. */
    def dedupTtlMs: Option[Long] =
      if (dedup.startsWith("exactTtl:"))
        Some(dedup.stripPrefix("exactTtl:").toLong)
      else SinkConfig.nearParams(dedup).flatMap(_._3)
        .orElse(SinkConfig.phashParams(dedup).flatMap(_._2))
    /** (numHashes, rowsPerBand) for the `near` modes; None otherwise. */
    def dedupNearParams: Option[(Int, Int)] =
      SinkConfig.nearParams(dedup).map(p => (p._1, p._2))
    /** Downsample factor for the `phash` modes (binary image payloads
      * dedup on perceptual content, not bytes); None otherwise. */
    def dedupPhashFactor: Option[Int] =
      SinkConfig.phashParams(dedup).map(_._1)
  }

  /** Named band geometries for `dedup=near:<preset>`: `strict95` = 8 bands
    * × 12 rows (96x12 — long bands, only high-Jaccard near-dups collide),
    * `broad40` = 16 bands × 4 rows (64x4 — short bands, loose-duplicate
    * sweep). The names mirror [[graft.operators.Dedup.NearDupPreset]]'s
    * strict/broad REGIMES, but the recall law here is MinHash banding over
    * JACCARD — a pair at Jaccard j gates through with probability
    * 1 − (1 − j^r)^b (strict95: r=12, b=8 → ~97% at j=0.9, ~3% at j=0.5;
    * broad40: r=4, b=16 → ~98% at j=0.5) — NOT the cosine floors the
    * embedding presets carry, which were measured for a different hash
    * family (random hyperplanes over cosine). */
  private[graft] val NearPresets: Map[String, (Int, Int)] =
    Map("strict95" -> (96, 12), "broad40" -> (64, 4))

  /** `near` → the 16x4 default; `near:<k>x<r>[:<ttlMs>]` → (k, r, ttl?)
    * when r divides k and the ttl (if given) is positive;
    * `near:strict95|broad40[:<ttlMs>]` → the named preset geometry. */
  private[graft] def nearParams(dedup: String)
      : Option[(Int, Int, Option[Long])] =
    if (dedup == "near") Some((16, 4, None))
    else if (dedup.startsWith("near:")) {
      // limit -1 keeps trailing empties: "near:16x4:" must reject, not
      // silently parse as the no-ttl form
      val segs = dedup.stripPrefix("near:").split(":", -1)
      val ttl = segs match {
        case Array(_) => Some(None)
        case Array(_, t) => t.toLongOption.filter(_ > 0).map(Some(_))
        case _ => None
      }
      val geometry = NearPresets.get(segs(0)).orElse {
        segs(0).split('x') match {
          case Array(k, r) =>
            for {
              nh <- k.toIntOption if nh > 0
              rb <- r.toIntOption if rb > 0 && nh % rb == 0
            } yield (nh, rb)
          case _ => None
        }
      }
      for { g <- geometry; t <- ttl } yield (g._1, g._2, t)
    } else None

  /** `dsir:<minWqAvgQ>:<histDir>` → (threshold, dir). The threshold is the
    * SIGNED per-feature qlog2 ratio floor (most off-domain docs score
    * negative); the dir splits on the FIRST colon after the prefix, so a
    * histogram path may itself contain colons. */
  private[graft] def dsirQualityParams(quality: String)
      : Option[(Long, String)] =
    if (!quality.startsWith("dsir:")) None
    else quality.stripPrefix("dsir:").split(":", 2) match {
      case Array(thr, dir) if dir.nonEmpty =>
        thr.toLongOption.map(t => (t, dir))
      case _ => None
    }

  /** `phash` → (2, None); `phash:<factor>[:<ttlMs>]` → validated pair.
    * The record's binary `value` must be a 24bpp BMP whose grid
    * downsamples to 64 cells under `factor`; undecodable payloads pass
    * the dedup stage unfiltered (content that can't be perceptually
    * compared is routed, not dropped). */
  private[graft] def phashParams(dedup: String): Option[(Int, Option[Long])] =
    if (dedup == "phash") Some((2, None))
    else if (dedup.startsWith("phash:")) {
      dedup.stripPrefix("phash:").split(":", -1) match {
        case Array(f) => f.toIntOption.filter(_ >= 1).map(k => (k, None))
        case Array(f, t) => for {
          k <- f.toIntOption if k >= 1
          ms <- t.toLongOption if ms > 0
        } yield (k, Some(ms))
        case _ => None
      }
    } else None

  case class Config(bindings: Seq[TableBinding],
      /** `None` (default): a failed record fails the batch — the stream
        * retries it (the analogue of the reference holding offsets back).
        * `All`/`Driver`: failed records go to the dead letter and the batch
        * commits (reference: dist/conf/...properties.sample:52-57; KAF-200). */
      ignoreErrors: String = "None",
      /** X2: `None` | `Snappy` | `LZ4` (reference:
        * dist/conf/...properties.sample:59-61). The reference compresses the
        * wire protocol; here the analogous byte-saving knob is the sink
        * state's parquet codec. */
      compression: String = "None",
      /** X3 analogue: the reference forwards unrecognized
        * `datastax-java-driver.*` keys to the driver session (reference:
        * dist/conf/...properties.sample:227-247). Here `spark.*` keys pass
        * through to the Spark session when the pipeline starts. */
      sparkPassthrough: Map[String, String] = Map.empty,
      /** X4: cluster endpoint + security settings, validated at parse time
        * exactly as reference startup does (the live wire is out of scope —
        * documented in the SURVEY). */
      contactPoints: Seq[String] = Nil,
      localDc: Option[String] = None,
      port: Int = 9042,
      auth: AuthSettings = AuthSettings(),
      ssl: SslSettings = SslSettings(),
      secureConnectBundle: Option[String] = None,
      /** Startup warnings the reference logs rather than rejects (e.g. the
        * cloud consistency-level coercion) — surfaced so a caller can log
        * them the same way. */
      warnings: Seq[String] = Nil,
      /** Run [[graft.streaming.SinkPipeline.vacuumDedupState]] automatically
        * every N processed batches (default 100). A TTL'd binding's sightings
        * batch already drops expired rows from its whole store, so the sweep
        * only shrinks the store of a TTL'd binding that no recent batch has
        * written, without an operator call. 0 disables the cadence (sweep
        * only on explicit invocation). */
      dedupVacuumEvery: Int = 100,
      /** Global execution settings (reference:
        * dist/conf/...properties.sample:34-48; KAF-49/60/95). In the
        * reference these throttle the live CQL session; here the write
        * path is Spark jobs, and each knob maps onto its Spark analogue
        * (VERDICT r10 — parsed-but-inert settings are silent lies):
        *
        *  - [[maxNumberOfRecordsInBatch]] → the per-partition-key batch
        *    cap [[graft.operators.Upserts.batchGroups]] accounts with
        *    ([[graft.streaming.SinkPipeline.batchGroups]] reads it);
        *  - [[maxConcurrentRequests]] → the cap on concurrent write tasks
        *    per state-store merge job (the engine's in-flight write unit),
        *    wired through [[graft.streaming.SinkPipeline.store]] into
        *    [[graft.sink.KeyedParquetTable]]'s write coalesce;
        *  - [[queryExecutionTimeout]] → a per-micro-batch job-group
        *    timeout + cancel in `processBatch`, armed only when the
        *    property is EXPLICITLY configured ([[queryExecutionTimeoutSet]])
        *    — the reference's per-CQL-statement 30 s default has no
        *    faithful per-batch translation, and silently cancelling
        *    arbitrary-size batches at an implied default would turn a
        *    config no-op into data-path behavior;
        *  - [[jmx]] → whether [[graft.streaming.SinkPipeline.start]]
        *    attaches its [[graft.streaming.GraftQueryListener]] stats
        *    bridge to the session (stats reporting on/off);
        *  - [[connectionPoolLocalSize]] stays parse-and-validate only:
        *    connection pooling has no Spark-side analogue (documented in
        *    COVERAGE). */
      maxConcurrentRequests: Int = 500,
      maxNumberOfRecordsInBatch: Int = 32,
      connectionPoolLocalSize: Int = 4,
      /** CQL statement execution timeout, in seconds (KAF-49). */
      queryExecutionTimeout: Int = 30,
      /** True iff `queryExecutionTimeout` was explicitly present in the
        * parsed properties — the per-batch watchdog arms only then. */
      queryExecutionTimeoutSet: Boolean = false,
      /** Whether to enable stats reporting (reference: JMX on/off). */
      jmx: Boolean = true) {
    require(Set("None", "Snappy", "LZ4").contains(compression),
      s"compression must be None, Snappy, or LZ4 (got '$compression')")
    require(dedupVacuumEvery >= 0,
      s"dedupVacuumEvery must be >= 0 (0 disables; got $dedupVacuumEvery)")
    require(maxConcurrentRequests > 0,
      s"maxConcurrentRequests must be positive (got $maxConcurrentRequests)")
    require(maxNumberOfRecordsInBatch > 0,
      s"maxNumberOfRecordsInBatch must be positive " +
        s"(got $maxNumberOfRecordsInBatch)")
    require(connectionPoolLocalSize > 0,
      s"connectionPoolLocalSize must be positive " +
        s"(got $connectionPoolLocalSize)")
    require(queryExecutionTimeout > 0,
      s"queryExecutionTimeout must be positive seconds " +
        s"(got $queryExecutionTimeout)")
    // one table = one state store = one merge granularity: bindings that
    // fan into the same table (the very case cell mode exists for) must agree
    bindings.groupBy(_.qualifiedTable).foreach { case (tbl, bs) =>
      require(bs.map(_.mergeMode).distinct.size == 1,
        s"bindings for $tbl disagree on mergeMode: " +
          bs.map(b => s"${b.topic}=${b.mergeMode}").mkString(", "))
    }
    /** Parquet codec for the reference's compression name (LZ4 → the
      * pure-JVM lz4_raw codec). */
    def parquetCodec: String = compression match {
      case "None"   => "uncompressed"
      case "Snappy" => "snappy"
      case "LZ4"    => "lz4_raw"
    }
    /** Fan-out: all bindings for one topic (SURVEY §2 S7). */
    def forTopic(topic: String): Seq[TableBinding] = bindings.filter(_.topic == topic)
    def topics: Seq[String] = bindings.map(_.topic).distinct
  }

  private val TableSettings = Set(
    "mapping", "ttl", "ttlTimeUnit", "timestampTimeUnit", "consistencyLevel",
    "nullToUnset", "deletesEnabled", "query", "mergeMode", "dedup", "quality")

  private def boolProp(props: Map[String, String], key: String,
      default: Boolean): Boolean =
    props.get(key).map { v =>
      require(v == "true" || v == "false",
        s"$key must be true or false (got '$v')")
      v.toBoolean
    }.getOrElse(default)

  private def nonEmpty(props: Map[String, String], key: String): Option[String] =
    props.get(key).map(_.trim).filter(_.nonEmpty)

  /** X4: parse + fail-fast validation of endpoint/auth/SSL/cloud settings,
    * mirroring reference startup (reference:
    * dist/conf/cassandra-sink-standalone.properties.sample:8-34,63-110 — the
    * sample documents the exact conflict rule: "The loadBalancing.localDc,
    * contactPoints or any config under ssl prefix cannot be set together
    * with cloud.secureConnectBundle. In such a case a ConfigException will
    * be thrown"). Returns everything but the warnings (cloud CL coercion is
    * applied to the bindings by [[parse]]). */
  private def parseSecurity(props: Map[String, String])
      : (Seq[String], Option[String], Int, AuthSettings, SslSettings, Option[String]) = {
    val contactPoints = nonEmpty(props, "contactPoints").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val localDc = nonEmpty(props, "loadBalancing.localDc")
    val port = props.getOrElse("port", "9042")
    require(scala.util.Try(port.toInt).toOption.exists(p => p >= 1 && p <= 65535),
      s"port must be an integer in [1, 65535] (got '$port')")
    // "Data center name ... Required if contactPoints is specified."
    // (properties.sample:21-22)
    require(contactPoints.isEmpty || localDc.isDefined,
      "loadBalancing.localDc is required when contactPoints is specified")

    val rawProvider = props.getOrElse("auth.provider", "None")
    require(Set("None", "PLAIN", "GSSAPI").contains(rawProvider),
      s"auth.provider must be None, PLAIN, or GSSAPI (got '$rawProvider')")
    val username = nonEmpty(props, "auth.username")
    val password = nonEmpty(props, "auth.password")
    // provider inference: credentials with provider None/unset coerce to
    // PLAIN (reference: PlaintextAuthCCMIT.java:64-66,94-99 "should infer
    // auth.provider to PLAIN")
    val provider =
      if (rawProvider == "None" && (username.isDefined || password.isDefined))
        "PLAIN"
      else rawProvider
    if (provider == "PLAIN")
      require(username.isDefined && password.isDefined,
        "auth.provider=PLAIN (given or inferred from credentials) requires " +
          "both auth.username and auth.password")
    val auth = AuthSettings(provider, username, password,
      gssapiKeyTab = nonEmpty(props, "auth.gssapi.keyTab"),
      gssapiPrincipal = nonEmpty(props, "auth.gssapi.principal"),
      gssapiService = props.getOrElse("auth.gssapi.service", "dse"))

    val sslProvider = props.getOrElse("ssl.provider", "None")
    require(Set("None", "JDK", "OpenSSL").contains(sslProvider),
      s"ssl.provider must be None, JDK, or OpenSSL (got '$sslProvider')")
    val ksPath = nonEmpty(props, "ssl.keystore.path")
    val ksPass = nonEmpty(props, "ssl.keystore.password")
    require(ksPath.isDefined == ksPass.isDefined,
      "ssl.keystore.path and ssl.keystore.password must be provided together")
    val tsPath = nonEmpty(props, "ssl.truststore.path")
    val tsPass = nonEmpty(props, "ssl.truststore.password")
    require(tsPath.isDefined == tsPass.isDefined,
      "ssl.truststore.path and ssl.truststore.password must be provided together")
    val certChain = nonEmpty(props, "ssl.openssl.keyCertChain")
    val privateKey = nonEmpty(props, "ssl.openssl.privateKey")
    require(certChain.isDefined == privateKey.isDefined,
      "ssl.openssl.keyCertChain and ssl.openssl.privateKey must be provided together")
    val ssl = SslSettings(sslProvider,
      cipherSuites = nonEmpty(props, "ssl.cipherSuites").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      hostnameValidation = boolProp(props, "ssl.hostnameValidation", default = true),
      keystorePath = ksPath, keystorePassword = ksPass,
      truststorePath = tsPath, truststorePassword = tsPass,
      opensslKeyCertChain = certChain, opensslPrivateKey = privateKey)

    val bundle = nonEmpty(props, "cloud.secureConnectBundle")
    if (bundle.isDefined) {
      val sslKeys = props.keys.filter(_.startsWith("ssl.")).toSeq.sorted
      require(sslKeys.isEmpty && contactPoints.isEmpty && localDc.isEmpty,
        "cloud.secureConnectBundle cannot be set together with " +
          "contactPoints, loadBalancing.localDc, or any ssl.* setting " +
          "(that information is part of the bundle's data); conflicting: " +
          (sslKeys ++ (if (contactPoints.nonEmpty) Seq("contactPoints") else Nil) ++
            localDc.map(_ => "loadBalancing.localDc")).mkString(", "))
    }
    (contactPoints, localDc, port.toInt, auth, ssl, bundle)
  }
  private val CodecSettingNames =
    Set("timestamp", "date", "time", "unit", "timeZone", "locale", "decimal")

  def parse(props: Map[String, String]): Config = {
    // topic.<t>.codec.<setting>
    val codecByTopic = scala.collection.mutable.Map[String, CodecSettings]()
    // (topic, ks, table) -> settings
    val tableProps = scala.collection.mutable.Map[(String, String, String), Map[String, String]]()

    props.foreach { case (key, v) =>
      if (key.startsWith("topic.")) {
        val rest = key.stripPrefix("topic.")
        val segs = rest.split('.')
        if (segs.length >= 3 && segs(segs.length - 2) == "codec" &&
            CodecSettingNames.contains(segs.last)) {
          val topic = segs.dropRight(2).mkString(".")
          val c = codecByTopic.getOrElse(topic, CodecSettings())
          codecByTopic(topic) = segs.last match {
            case "timestamp" => c.copy(timestamp = v)
            case "date"      => c.copy(date = v)
            case "time"      => c.copy(time = v)
            case "unit"      => c.copy(unit = v)
            case "timeZone"  => c.copy(timeZone = v)
            case "locale"    => c.copy(locale = v)
            case "decimal"   => c.copy(decimal = v)
          }
        } else if (segs.length >= 4 && TableSettings.contains(segs.last)) {
          val topic = segs.dropRight(3).mkString(".")
          val ks = segs(segs.length - 3)
          val tbl = segs(segs.length - 2)
          val k = (topic, ks, tbl)
          tableProps(k) = tableProps.getOrElse(k, Map.empty) + (segs.last -> v)
        }
        // unrecognized topic.* keys ignored, matching reference leniency
      }
    }

    val bindings = tableProps.toSeq.sortBy(_._1).map { case ((topic, ks, tbl), m) =>
      val mappingStr = m.getOrElse("mapping",
        throw MappingSpec.ParseException(s"missing mapping for topic.$topic.$ks.$tbl"))
      // a provided query replaces the generated statement — delete inference
      // cannot coexist with it; the reference rejects the combination unless
      // deletes are explicitly disabled (reference:
      // sink/src/it/.../ProvidedQueryCCMIT.java:131-163)
      if (m.contains("query") && m.get("deletesEnabled").forall(_.toBoolean))
        throw MappingSpec.ParseException(
          s"topic.$topic.$ks.$tbl: 'query' requires deletesEnabled=false")
      TableBinding(
        topic = topic, keyspace = ks, table = tbl,
        mapping = MappingSpec.parse(mappingStr),
        ttl = m.get("ttl").map(_.toLong).getOrElse(-1L),
        ttlTimeUnit = m.get("ttlTimeUnit").map(TimeUnit.valueOf).getOrElse(TimeUnit.SECONDS),
        timestampTimeUnit =
          m.get("timestampTimeUnit").map(TimeUnit.valueOf).getOrElse(TimeUnit.MICROSECONDS),
        consistencyLevel = m.getOrElse("consistencyLevel", "LOCAL_ONE"),
        nullToUnset = m.get("nullToUnset").forall(_.toBoolean),
        deletesEnabled = m.get("deletesEnabled").forall(_.toBoolean),
        query = m.get("query"),
        codec = codecByTopic.getOrElse(topic, CodecSettings()),
        mergeMode = m.getOrElse("mergeMode", "row"),
        dedup = m.getOrElse("dedup", "none"),
        quality = m.getOrElse("quality", "none"))
    }
    val (contactPoints, localDc, port, auth, ssl, bundle) = parseSecurity(props)
    // cloud forces LOCAL_QUORUM: Astra rejects other write CLs — the
    // reference coerces and logs rather than failing (reference:
    // sink/src/it/.../cloud/CloudSniEndToEndIT.java:96-120, "Cloud
    // deployments reject consistency level %s when writing; forcing
    // LOCAL_QUORUM")
    val (coerced, warnings) =
      if (bundle.isEmpty) (bindings, Nil)
      else {
        val warns = bindings.filter(_.consistencyLevel != "LOCAL_QUORUM").map(b =>
          s"Cloud deployments reject consistency level ${b.consistencyLevel} " +
            "when writing; forcing LOCAL_QUORUM " +
            s"(topic.${b.topic}.${b.keyspace}.${b.table})")
        (bindings.map(b => if (b.consistencyLevel == "LOCAL_QUORUM") b
          else b.copy(consistencyLevel = "LOCAL_QUORUM")), warns)
      }
    Config(coerced, props.getOrElse("ignoreErrors", "None"),
      props.getOrElse("compression", "None"),
      props.view.filterKeys(_.startsWith("spark.")).toMap,
      contactPoints = contactPoints, localDc = localDc, port = port,
      auth = auth, ssl = ssl, secureConnectBundle = bundle,
      warnings = warnings,
      dedupVacuumEvery = props.get("dedupVacuumEvery").map { v =>
        require(v.toIntOption.exists(_ >= 0),
          s"dedupVacuumEvery must be a non-negative integer (got '$v')")
        v.toInt
      }.getOrElse(100),
      maxConcurrentRequests =
        posIntProp(props, "maxConcurrentRequests", 500),
      maxNumberOfRecordsInBatch =
        posIntProp(props, "maxNumberOfRecordsInBatch", 32),
      connectionPoolLocalSize =
        posIntProp(props, "connectionPoolLocalSize", 4),
      queryExecutionTimeout =
        posIntProp(props, "queryExecutionTimeout", 30),
      queryExecutionTimeoutSet = props.contains("queryExecutionTimeout"),
      jmx = boolProp(props, "jmx", default = true))
  }

  /** Positive-integer global setting, fail-fast on malformation the way
    * reference startup rejects a bad properties value. */
  private def posIntProp(props: Map[String, String], key: String,
      default: Int): Int =
    props.get(key).map { v =>
      require(v.toIntOption.exists(_ > 0),
        s"$key must be a positive integer (got '$v')")
      v.toInt
    }.getOrElse(default)
}

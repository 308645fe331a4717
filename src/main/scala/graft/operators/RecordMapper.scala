package graft.operators

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{BigEndian, Codecs, TimeUuid}
import graft.mapping.MappingSpec._
import graft.mapping.SinkConfig.TableBinding
import graft.sink.SinkTable

/**
 * Compiles one (topic, table) mapping into a Catalyst projection over a
 * Kafka-shaped DataFrame, and routes each row to a write mode.
 *
 * Input contract (the columns Spark's Kafka source yields, reference
 * behavior: sink/src/main/java/.../KafkaSinkRecordAdapter.java:38-75 exposes
 * exactly key/value/headers/timestamp/topic):
 *
 *   key       string|binary|struct   record key
 *   value     string|binary|struct   record value
 *   headers   array<struct<key:string,value:string>>   (nullable)
 *   timestamp timestamp              broker/record time
 *   topic     string
 *   partition int, offset long       (used by failure accounting)
 *
 * The whole mapping becomes ONE `select` — the analogue of the reference's
 * prepare-once/bind-per-record split (statement prepared at startup,
 * reference: SimpleEndToEndSimulacronIT.java:285-316): Catalyst compiles the
 * projection to bytecode once per batch, rows stream through codegen.
 */
object RecordMapper {

  /** Output metadata columns added next to the mapped table columns. */
  val ModeCol = "__mode"
  val WritetimeCol = "__writetime"
  val TtlCol = "__ttl_seconds"
  val ErrorCol = "__error"
  /** Row expiry instant (epoch seconds), derived from writetime + TTL. */
  val ExpiresCol = "__expires_s"

  val ModeUpsert = "UPSERT"
  val ModeDelete = "DELETE"
  val ModeCounter = "COUNTER"

  /** How record key/value bytes decode to fields. The reference discovers
    * this per record (reference: sink/src/test/.../MetadataCreatorTest.java:44-152):
    * Struct records carry schema, strings parse as JSON with literal-string
    * fallback, anything else is the raw `__self` value. */
  sealed trait Format
  object Format {
    /** Column already a struct (pre-decoded upstream). */
    case object Struct extends Format
    /** Avro-binary bytes with a declared writer schema: ONE decode per
      * record via [[graft.functions.AvroCodec]], then Struct semantics —
      * the reference's Struct-record ingestion mode (its perf rig drains
      * Avro, reference: perf/dse-sink-avro.json:5-11,
      * StructEndToEndCCMIT.java:64-281). */
    case class Avro(schemaJson: String) extends Format
    /** JSON text, schema unknown: fields via get_json_object per field —
      * the honest equivalent of the reference's per-record inference
      * (parses the document once PER MAPPED FIELD; fine for narrow
      * mappings, prefer [[JsonWithSchema]] for wide ones). */
    case object Json extends Format
    /** JSON text with a declared schema: ONE from_json parse per record,
      * fields via struct access — the scale path for wide mappings. */
    case class JsonWithSchema(schema: StructType) extends Format
    /** Opaque scalar: only whole-object access is meaningful. */
    case object Raw extends Format
  }

  /** Resolve one mapping source to an (untyped) column over possibly
    * pre-decoded key/value base columns. */
  private def sourceColumn(
      src: Source,
      keyBase: Column, keyFormat: Format,
      valueBase: Column, valueFormat: Format): Column = src match {
    case WholeObject(Prefix.Key)   => keyBase
    case WholeObject(Prefix.Value) => valueBase
    case WholeObject(Prefix.Header) =>
      throw ParseException(LegalSurfaceMsg) // unreachable: parser rejects
    case FieldRef(Prefix.Header, name) =>
      // headers: last occurrence wins, like Kafka's Headers.lastWithName
      element_at(map_from_entries(col("headers")), name)
    case FieldRef(p, name) =>
      val (c, fmt) = p match {
        case Prefix.Key   => (keyBase, keyFormat)
        case Prefix.Value => (valueBase, valueFormat)
        case Prefix.Header => throw ParseException(LegalSurfaceMsg)
      }
      fmt match {
        case Format.Struct | _: Format.JsonWithSchema | _: Format.Avro =>
          c.getField(name)
        case Format.Json =>
          val path =
            if (name.forall(ch => ch.isLetterOrDigit || ch == '_')) "$." + name
            else "$['" + name + "']"
          get_json_object(c.cast(StringType), path)
        case Format.Raw    => lit(null) // field access into a scalar → missing → null (P7)
      }
    case FunctionCall("now", _) => TimeUuid.now_timeuuid()
    case FunctionCall(n, _)     => throw ParseException(s"unknown function $n()")
  }

  /** Cast a resolved source column to the sink column's type using the
    * codec rules (SURVEY §2.4). `srcType` (when statically known) routes
    * structural sources — struct/map/array/JSON-text into UDT/tuple targets
    * (reference C1) — through the field-wise builders Spark's `Cast` cannot
    * express. */
  private def applyCodec(c: Column, srcType: Option[DataType], target: DataType,
      b: TableBinding): Column = target match {
    case TimestampType  => Codecs.parseTimestamp(c, b.codec)
    case DateType       => Codecs.parseDate(c, b.codec)
    case dt: DecimalType => Codecs.parseDecimal(c, dt, b.codec)
    case st: StructType =>
      Codecs.castToStruct(c, srcType.getOrElse(StringType), st)
    case mt: MapType =>
      Codecs.castToMap(c, srcType.getOrElse(StringType), mt)
    case other          => Codecs.tryCastCol(c, other)
  }

  /** Typed header decode (reference: HeadersCCMIT.java:60-145 header-typed
    * columns; header serialization shapes in the connect-api contract): when
    * the frame's header values are binary, the bytes decode per target —
    * big-endian numbers for integral/floating targets, a single 0x00/0x01
    * byte for booleans, UTF-8 text for strings, UTF-8 JSON for UDT targets,
    * string-parse for the rest. */
  private def decodeHeaderBinary(c: Column, target: DataType, b: TableBinding): Column =
    target match {
      case LongType | IntegerType | ShortType | ByteType =>
        Codecs.tryCastCol(BigEndian.bytes_to_long(c), target)
      case DoubleType | FloatType =>
        Codecs.tryCastCol(BigEndian.bytes_to_double(c), target)
      case BooleanType    => BigEndian.bytes_to_long(c) =!= 0L
      case StringType     => c.cast(StringType)
      case st: StructType => Codecs.castToStruct(c.cast(StringType), StringType, st)
      case other          => applyCodec(c.cast(StringType), Some(StringType), other, b)
    }

  /**
   * Compile the binding into the mapped projection.
   *
   * Adds `__writetime` (µs, LWW ordering key — reference G3), `__ttl_seconds`
   * (reference G2), and `__mode` (UPSERT / DELETE / COUNTER — reference F1,
   * S5). Unmapped table columns are absent from the output — the sink merge
   * treats them as "unset" (never overwritten), which is exactly the
   * reference's unset-bound-variable behavior.
   */
  def compile(
      binding: TableBinding,
      table: SinkTable,
      records: DataFrame,
      keyFormat: Format = Format.Json,
      valueFormat: Format = Format.Json,
      keepCols: Seq[String] = Seq.empty,
      captureErrors: Boolean = false): DataFrame = {

    val entries = binding.mapping
    val byTarget: Map[String, Source] =
      entries.map(e => e.target.name -> e.source).toMap

    // pre-decode declared-schema JSON ONCE per record (scale path: a wide
    // mapping costs one parse, not one per field)
    def predecode(df: DataFrame, src: String, fmt: Format): (DataFrame, Column) =
      fmt match {
        case Format.JsonWithSchema(schema) =>
          val decoded = s"__${src}_decoded"
          (df.withColumn(decoded, from_json(col(src).cast(StringType), schema)),
            col(decoded))
        case Format.Avro(schemaJson) =>
          val decoded = s"__${src}_decoded"
          (df.withColumn(decoded,
            graft.functions.AvroCodec.from_avro_binary(col(src), schemaJson)),
            col(decoded))
        case _ => (df, col(src))
      }
    val (rec1, keyBase) = predecode(records, "key", keyFormat)
    val (rec2, valueBase) = predecode(rec1, "value", valueFormat)

    // Format.Json with ≥2 mapped fields: parse the document ONCE per record
    // with json_tuple (one generator) instead of one get_json_object per
    // field — the wide-mapping hot path without needing a declared schema
    // (field semantics identical: missing → null, objects → JSON text)
    def jsonFieldNames(p: Prefix, fmt: Format): Seq[String] = fmt match {
      case Format.Json =>
        entries.map(_.source).collect {
          case FieldRef(`p`, name) => name
        }.distinct
      case _ => Seq.empty
    }
    def addJsonTuple(df: DataFrame, src: String,
        fields: Seq[String]): (DataFrame, Map[String, Column]) =
      if (fields.size < 2) (df, Map.empty)
      else {
        val aliases = fields.indices.map(i => s"__${src}_jt$i")
        val out = df.select(col("*"),
          json_tuple(col(src).cast(StringType), fields: _*).as(aliases))
        (out, fields.zip(aliases.map(col)).toMap)
      }
    val (rec3, keyJsonCols) =
      addJsonTuple(rec2, "key", jsonFieldNames(Prefix.Key, keyFormat))
    val (rec4, valueJsonCols) =
      addJsonTuple(rec3, "value", jsonFieldNames(Prefix.Value, valueFormat))

    def srcCol(src: Source): Column = src match {
      case FieldRef(Prefix.Key, name) if keyJsonCols.contains(name) =>
        keyJsonCols(name)
      case FieldRef(Prefix.Value, name) if valueJsonCols.contains(name) =>
        valueJsonCols(name)
      case _ => sourceColumn(src, keyBase, keyFormat, valueBase, valueFormat)
    }

    // P8 — schema default values: a null/absent optional field whose declared
    // schema carries a default gets the default written (reference:
    // sink/src/it/.../StructEndToEndCCMIT.java:441-462). Defaults ride in the
    // struct field metadata under key "default" (string form; from_avro-style
    // decoders populate the same way).
    def baseStruct(p: Prefix): Option[StructType] = {
      val (fmt, name) = p match {
        case Prefix.Key   => (keyFormat, "key")
        case Prefix.Value => (valueFormat, "value")
        case Prefix.Header => return None
      }
      fmt match {
        case Format.JsonWithSchema(sch) => Some(sch)
        case Format.Avro(schemaJson) =>
          graft.functions.AvroCodec.toSparkType(
            new org.apache.avro.Schema.Parser().parse(schemaJson)) match {
            case st: StructType => Some(st)
            case _ => None
          }
        case Format.Struct =>
          records.schema.fields.find(_.name == name).map(_.dataType).collect {
            case st: StructType => st
          }
        case _ => None
      }
    }
    def schemaDefault(src: Source): Option[Column] = src match {
      case FieldRef(p, name) =>
        baseStruct(p).flatMap(_.fields.find(_.name == name)).collect {
          case f if f.metadata.contains("default") =>
            lit(f.metadata.getString("default")).cast(f.dataType)
        }
      case _ => None
    }

    // headers may carry string values (the classic contract) or binary
    // values (typed headers, reference: HeadersCCMIT.java:120-226)
    val headerValueType: Option[DataType] =
      records.schema.fields.find(_.name == "headers").map(_.dataType).collect {
        case ArrayType(st: StructType, _) =>
          st.fields.find(_.name == "value").map(_.dataType)
      }.flatten
    val headersBinary = headerValueType.contains(BinaryType)

    /** Statically-known type of a mapping source, for type-directed codecs
      * (struct/UDT targets need to know whether the input is a struct, map,
      * array, or JSON text). */
    def sourceType(src: Source): Option[DataType] = src match {
      case WholeObject(p) =>
        val (fmt, name) = p match {
          case Prefix.Key    => (keyFormat, "key")
          case Prefix.Value  => (valueFormat, "value")
          case Prefix.Header => return None
        }
        fmt match {
          case Format.JsonWithSchema(sch) => Some(sch)
          case Format.Avro(schemaJson) =>
            Some(graft.functions.AvroCodec.toSparkType(
              new org.apache.avro.Schema.Parser().parse(schemaJson)))
          case _ => records.schema.fields.find(_.name == name).map(_.dataType)
        }
      case FieldRef(Prefix.Header, _) => headerValueType
      case FieldRef(p, name) =>
        val fmt = if (p == Prefix.Key) keyFormat else valueFormat
        fmt match {
          case Format.Struct | _: Format.JsonWithSchema | _: Format.Avro =>
            baseStruct(p).flatMap(_.fields.find(_.name == name)).map(_.dataType)
          case Format.Json => Some(StringType)
          case Format.Raw  => None
        }
      case _ => None
    }

    /** Header-sourced numeric pseudo-columns (__ttl/__timestamp) from binary
      * headers decode as big-endian longs. */
    def numericSource(s: Source): Column = {
      val c = srcCol(s)
      s match {
        case FieldRef(Prefix.Header, _) if headersBinary => BigEndian.bytes_to_long(c)
        case _ => c
      }
    }

    // --- mapped data columns, typed per sink schema -----------------------
    // (also collect a per-column parse-error expression — a cast that nulls a
    // non-null input is a capturable failure, reference C5/F3:
    // SimpleEndToEndSimulacronIT.java:464-465 "Could not parse 'bad key'")
    val errorExprs = Seq.newBuilder[Column]
    val dataCols: Seq[(String, Column)] = entries.collect {
      case Entry(ColumnTarget(name), src) =>
        val field = table.schema.fields.find(_.name == name).getOrElse(
          throw ParseException(
            s"mapping target $name is not a column of ${table.qualified}"))
        val c0 = srcCol(src)
        val c = schemaDefault(src) match {
          case Some(d) => coalesce(c0, d)
          case None    => c0
        }
        val typed = src match {
          case FunctionCall("now", _) => c // timeuuid stays a string
          case _ =>
            val casted = src match {
              case FieldRef(Prefix.Header, _) if headersBinary =>
                decodeHeaderBinary(c, field.dataType, binding)
              case _ => applyCodec(c, sourceType(src), field.dataType, binding)
            }
            if (captureErrors) errorExprs += when(
              c.isNotNull && casted.isNull,
              concat(lit(s"$name: Could not parse '"), c.cast(StringType), lit("'")))
            casted
        }
        name -> typed.as(name)
    }

    // --- pseudo-columns ---------------------------------------------------
    val writetime: Column = {
      val fieldCol = byTarget.get(TimestampTarget.name).map(numericSource)
      Codecs.writetimeMicros(fieldCol, binding.timestampTimeUnit,
        unix_millis(col("timestamp")))
    }
    val ttl: Column = byTarget.get(TtlTarget.name) match {
      case Some(s) =>
        Codecs.ttlSeconds(numericSource(s), binding.ttlTimeUnit)
      case None =>
        if (binding.ttl >= 0) lit(binding.ttl).cast(LongType) else lit(null).cast(LongType)
    }

    // --- routing (F1): DELETE iff deletes enabled, the mapping covers every
    // table column, all PK columns present, and every mapped non-PK column is
    // null (reference: sink/src/it/.../DeleteCCMIT.java:39-146).
    val mappedNames = dataCols.map(_._1)
    val coversAll = table.schema.fieldNames.forall(mappedNames.contains)
    val pkCols = table.primaryKey.map(col)
    val nonPk = mappedNames.filterNot(table.primaryKey.contains)
    // now() targets don't block deletes (reference: NowFunctionCCMIT.java:467-491)
    val deletableNonPk = nonPk.filterNot { n =>
      byTarget.get(n).exists(_.isInstanceOf[FunctionCall])
    }

    val errCol: Seq[Column] =
      if (!captureErrors) Seq.empty
      else {
        // a record that leaves a primary-key column null can never be written
        // (reference: PK bind failure → failed record, offset held back)
        val pkErrs = table.primaryKey.flatMap(pk => dataCols.find(_._1 == pk))
          .map { case (n, c) =>
            when(c.isNull, lit(s"$n: primary key column is null")) }
        val errs = pkErrs ++ errorExprs.result()
        if (errs.isEmpty) Seq(lit(null).cast(StringType).as(ErrorCol))
        // first failing column's message (array_compact drops the nulls;
        // try_element_at: empty array → null, never an ANSI index error)
        else Seq(try_element_at(array_compact(array(errs: _*)), lit(1)).as(ErrorCol))
      }

    val projected = rec4.select(
      (keepCols.map(col) ++ dataCols.map(_._2) ++ errCol :+
        writetime.as(WritetimeCol) :+ ttl.as(TtlCol)): _*)

    val pkPresent = pkCols.map(_.isNotNull).reduceOption(_ && _).getOrElse(lit(true))
    val allNonPkNull =
      deletableNonPk.map(col(_).isNull).reduceOption(_ && _).getOrElse(lit(false))

    val isCounter = table.counterCols.nonEmpty
    val mode =
      if (isCounter) lit(ModeCounter)
      else if (binding.deletesEnabled && coversAll)
        when(pkPresent && allNonPkNull, ModeDelete).otherwise(ModeUpsert)
      else lit(ModeUpsert)

    projected.withColumn(ModeCol, mode)
  }
}

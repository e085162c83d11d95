package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config._
import graft.functions.Conversions

/** S3–S7: the Kafka envelope projection + value deserializers, as one
  * declarative `select` over a raw message frame.
  *
  * Input contract (the canonical Kafka source relation shape — what
  * `spark.read.format("kafka")` yields, and what [[graft.sources]] adapters
  * produce from files for tests):
  * {{{
  *   key       BINARY      nullable
  *   value     BINARY      nullable
  *   topic     STRING
  *   partition INT
  *   offset    LONG
  *   timestamp LONG        epoch millis
  * }}}
  *
  * Output: the reference's fixed envelope (`/root/reference/src/kafka_source.py:197-205`,
  * DDL `/root/reference/README.md:174-184`) plus a typed `payload` struct:
  * `kafka_key, kafka_timestamp, kafka_offset, kafka_partition, kafka_topic,
  * kafka_hash, kafka_message[, kafka_schema_id], payload`.
  *
  * Everything here is a single projection — no shuffle, fully codegen'd; the
  * whole deserialize→drop→flag→predicate chain fuses into one stage exactly
  * like the reference's hand-fused per-message loop (§4 of SURVEY.md).
  */
object Envelope {

  /** S3: key deserializer (`/root/reference/src/kafka_source.py:74-82`). */
  def decodeKey(key: Column, decoder: KeyDecoder): Column = decoder match {
    case KeyDecoder.Utf8 => key.cast(StringType)
    case KeyDecoder.Int64 => Conversions.bigEndianLongKey(key)
  }

  /** Build the envelope for JSON schema-mode (S4).
    *
    * Reference parity points (`/root/reference/src/kafka_source.py:102-119`):
    *  - hash is sha256 over the *raw* value bytes, before any field ops;
    *  - F1 drops and F2 flags apply to the payload *before* `kafka_message`
    *    is re-serialized, so the persisted JSON reflects the filtered view;
    *  - a NULL message value yields NULL hash/message/payload;
    *  - F3 `message-filters` nullify `kafka_message` only — the envelope row
    *    survives and payload columns remain available to transforms.
    */
  def json(raw: DataFrame, cfg: SourceConfig, payloadSchema: StructType): DataFrame = {
    // ST5 error channel: malformed JSON surfaces in a corrupt-record field
    // (PERMISSIVE), becomes `kafka_error = true` + NULL payload/message, and
    // is COUNTED, not fatal — the reference's count-and-continue semantics
    // (`/root/reference/src/kafka_source.py:309-323`) without failing tasks.
    val corruptField = "_graft_corrupt"
    val schemaWithCorrupt = payloadSchema.add(StructField(corruptField, StringType))
    val parsed = from_json(col("value").cast(StringType), schemaWithCorrupt,
      Map("columnNameOfCorruptRecord" -> corruptField))
    val isCorrupt = col("value").isNotNull && parsed.getField(corruptField).isNotNull
    val payloadClean = parsed.dropFields(corruptField)
    val resultSchema = PayloadOps.resultSchema(
      payloadSchema, cfg.messageFieldsFilter, cfg.flagFieldConfig, cfg.keypathSeparator)
    val payload = when(isCorrupt, lit(null).cast(resultSchema))
      .otherwise(PayloadOps(payloadClean, payloadSchema, cfg.messageFieldsFilter, cfg.flagFieldConfig, cfg.keypathSeparator))
    // `kafka_message` serialization: schema-ordered `to_json` by default;
    // with `canonicalMessage` the raw text is re-emitted byte-exactly as
    // Python `json.dumps(filtered, ensure_ascii=False)` (insertion order,
    // `", "` separators, float repr) with the same F1/F2 mutations applied
    // in-pass — the persisted view stays the filtered one either way.
    val serialized =
      if (cfg.canonicalMessage)
        Conversions.pyJsonCanonical(col("value").cast(StringType),
          cfg.messageFieldsFilter, cfg.flagFieldConfig, cfg.keypathSeparator)
      else to_json(payload)
    val message = when(col("value").isNull || isCorrupt, lit(null).cast(StringType))
      .otherwise(serialized)
    project(raw, cfg, payload, applyMessageFilters(message, payload, cfg.messageFilters),
      schemaId = None, error = Some(isCorrupt))
  }

  /** S6: string schema-mode — payload is the UTF-8 text itself; the persisted
    * `kafka_message` is the JSON-quoted string (`json.dumps(str)` parity,
    * `/root/reference/src/kafka_source.py:121-127`).
    */
  def string(raw: DataFrame, cfg: SourceConfig): DataFrame = {
    val text = col("value").cast(StringType)
    val message = Conversions.jsonQuote(text)
    // F3 on string mode compares the whole text (no fields to address).
    project(raw, cfg, text, applyMessageFilters(message, struct(text.as("value")), cfg.messageFilters), schemaId = None)
  }

  /** S5: Confluent-Avro schema-mode with per-message schema-id dispatch —
    * the production shape for any long-lived topic (schema evolution means
    * mixed ids within one bounded read). Each message decodes against its
    * own writer schema from `schemasById` (supplied at plan build, see
    * [[graft.sources.ConfluentAvro.decode]]; one schema is a one-entry map);
    * fields absent from an older writer schema surface as NULL.
    * `kafka_schema_id` is the big-endian uint32 at bytes 2–5 and the hash
    * covers the datum after the 5-byte header
    * (`/root/reference/src/kafka_source.py:129-151`). A bad magic byte, an id
    * missing from the map or a corrupt datum routes the row to the ST5 error
    * channel (`kafka_error = true`, NULL payload/message) — counted, not
    * fatal, like JSON mode.
    */
  def avro(raw: DataFrame, cfg: SourceConfig, schemasById: Map[Int, String], payloadSchema: StructType): DataFrame = {
    val datum = expr("substring(value, 6, 2147483647)") // payload after magic byte + schema id
    val payloadRaw = graft.sources.ConfluentAvro.decode(col("value"), schemasById, payloadSchema)
    val isError = col("value").isNotNull && payloadRaw.isNull
    val resultSchema = PayloadOps.resultSchema(
      payloadSchema, cfg.messageFieldsFilter, cfg.flagFieldConfig, cfg.keypathSeparator)
    val payload = when(isError, lit(null).cast(resultSchema))
      .otherwise(PayloadOps(payloadRaw, payloadSchema, cfg.messageFieldsFilter, cfg.flagFieldConfig, cfg.keypathSeparator))
    val message = when(col("value").isNull || isError, lit(null).cast(StringType))
      .otherwise(serializeStruct(payload, payloadSchema, cfg))
    project(raw, cfg, payload, applyMessageFilters(message, payload, cfg.messageFilters),
      schemaId = Some(Conversions.schemaId(col("value"))),
      // Reference hashes the Avro *payload* bytes (after the 5-byte header),
      // not the whole message (`src/kafka_source.py:150`).
      hashOver = Some(datum),
      error = Some(isError))
  }

  /** T14 for STRUCT-decoded payloads (Avro mode): `kafka_message`
    * serialization, schema-ordered `to_json` by default; with
    * `canonicalMessage`, byte-exact Python `json.dumps(decoded,
    * ensure_ascii=False)` — the reference serializes decoded Avro dicts
    * through the same `json.dumps` as JSON payloads
    * (`/root/reference/src/kafka_source.py:148`). For Avro the dict's
    * insertion order IS the writer-schema field order, which `to_json`
    * already emits, so canonicalization composes `to_json` (nulls KEPT —
    * Python dumps `None` as `null`, Spark's default drops the key) with the
    * [[graft.expressions.PyJsonDumps]] re-emitter fixing the remaining axes:
    * `", "`/`": "` separators, Python float `repr`, lowercase minimal
    * escapes. FloatType fields are widened to double FIRST — fastavro hands
    * Python a float widened from the 32-bit value (repr shows all 17 digits
    * of the widened double), while Jackson would print the short float form
    * and re-parse to a DIFFERENT double. Scope: the JSON-dumpable subset
    * (null/boolean/integral/float/string/array/struct) — the same subset the
    * reference supports, since `json.dumps` raises on fastavro's
    * datetime/Decimal/bytes logical-type values.
    */
  private def serializeStruct(payload: Column, payloadSchema: StructType, cfg: SourceConfig): Column =
    if (cfg.canonicalMessage) {
      val resultSchema = PayloadOps.resultSchema(
        payloadSchema, cfg.messageFieldsFilter, cfg.flagFieldConfig, cfg.keypathSeparator)
      val widened = widenFloats(resultSchema).asInstanceOf[StructType]
      Conversions.pyJsonCanonical(
        to_json(payload.cast(widened), Map("ignoreNullFields" -> "false")),
        Nil, Nil, cfg.keypathSeparator) // F1/F2 already applied to the struct
    } else to_json(payload)

  private def widenFloats(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.FloatType => org.apache.spark.sql.types.DoubleType
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = widenFloats(f.dataType))))
    case a: org.apache.spark.sql.types.ArrayType => a.copy(elementType = widenFloats(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = widenFloats(m.keyType), valueType = widenFloats(m.valueType))
    case other => other
  }

  /** F3 (`message-filters`): OR-list of top-level equality predicates; a
    * non-matching row keeps its envelope but gets a NULL `kafka_message`
    * (`/root/reference/src/kafka_source.py:207-218`) — a projection, never a
    * `filter()`.
    */
  def applyMessageFilters(message: Column, payload: Column, filters: Seq[MessageFilter]): Column =
    if (filters.isEmpty) message
    else {
      val hit = filters.map(f => payload.getField(f.key).cast(StringType) === lit(f.allowedValue)).reduce(_ || _)
      when(hit, message).otherwise(lit(null).cast(StringType))
    }

  /** S7: the envelope projection proper. */
  private def project(
      raw: DataFrame,
      cfg: SourceConfig,
      payload: Column,
      message: Column,
      schemaId: Option[Column],
      hashOver: Option[Column] = None,
      error: Option[Column] = None): DataFrame = {
    val hashSrc = hashOver.getOrElse(col("value"))
    val base = Seq(
      decodeKey(col("key"), cfg.keyDecoder).as("kafka_key"),
      col("timestamp").cast(LongType).as("kafka_timestamp"),
      col("offset").cast(LongType).as("kafka_offset"),
      col("partition").cast(IntegerType).as("kafka_partition"),
      col("topic").cast(StringType).as("kafka_topic"),
      Conversions.sha256Hex(hashSrc).as("kafka_hash"),
      message.as("kafka_message")) ++
      schemaId.map(_.as("kafka_schema_id")).toSeq ++
      Seq(error.getOrElse(lit(false)).as("kafka_error"), payload.as("payload"))
    raw.select(base: _*)
  }
}

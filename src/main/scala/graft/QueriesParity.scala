package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config._
import graft.functions.Conversions
import graft.operators.{Envelope, Joins, Transforms}
import graft.sources.{ConfluentAvro, MessageSource}

/** The reference-parity slice of the driver's correctness gate: one query per
  * operator of SURVEY.md §2 (S/F/T/J/A inventory), each paired with ANSI SQL
  * the DuckDB oracle replays on the same parquet tables.
  *
  * The `events` table stands in for the Kafka topic via
  * [[MessageSource.fromEvents]] (canonical key/value/topic/partition/offset/
  * timestamp frame); every query is a bounded run of the same declarative
  * plan the production Kafka source would feed.
  */
object QueriesParity {

  private val propsSchema = StructType(Seq(StructField("k", LongType)))

  /** Oslo wall-clock string at second precision — shared output convention so
    * timestamp comparisons are representation-independent.
    */
  private def fmtS(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
  private def fmtMs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSS")

  private def events(s: SparkSession, dir: String): DataFrame =
    sources.EventsTable.load(s, dir)

  /** type Q = name -> (query, oracleSql) */
  type Q = (String, ((SparkSession, String) => DataFrame, String))

  // ---------------------------------------------------------------- S3 / T15
  private val s3KeyInt64: Q = "s3_key_int64" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      // Round-trip: user_id -> 8-byte big-endian key bytes -> decoded decimal
      // string (T15); utf-8 path alongside (S3).
      val beKey = unhex(lpad(hex(col("user_id")), 16, "0"))
      ev.select(
        col("event_id").as("kafka_offset"),
        Envelope.decodeKey(beKey, KeyDecoder.Int64).as("key_int64"),
        Envelope.decodeKey(col("user_id").cast(StringType).cast(BinaryType), KeyDecoder.Utf8).as("key_utf8"))
    },
    """SELECT event_id AS kafka_offset,
      |  user_id::VARCHAR AS key_int64,
      |  user_id::VARCHAR AS key_utf8
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- S4+S7
  private val s4EnvJson: Q = "s4_env_json" -> ((
    (s: SparkSession, dir: String) => {
      val raw = MessageSource.fromEvents(s, dir)
      Envelope.json(raw, SourceConfig(topic = "events"), propsSchema)
        .select(col("kafka_key"), col("kafka_timestamp"), col("kafka_offset"),
          col("kafka_partition"), col("kafka_topic"), col("kafka_hash"),
          col("kafka_message"), col("payload.k").as("k"))
    },
    """SELECT user_id::VARCHAR AS kafka_key,
      |  epoch_ms(ts) AS kafka_timestamp,
      |  event_id AS kafka_offset,
      |  (user_id % 8)::INT AS kafka_partition,
      |  'events' AS kafka_topic,
      |  sha256(props) AS kafka_hash,
      |  '{"k":' || (props->>'k') || '}' AS kafka_message,
      |  (props->>'k')::BIGINT AS k
      |FROM events""".stripMargin))

  // ------------------------------------------------------- S4 canonical T14
  /** Byte-exact `kafka_message` for struct payloads (round-10 verdict item 4,
    * the last §2 behavioral divergence): JSON schema-mode with
    * `canonicalMessage` re-emits the raw text as Python
    * `json.dumps(filtered, ensure_ascii=False)` would —
    * per-row insertion order, `", "` separators, Python float `repr`
    * (`2.5e16` → `2.5e+16`, `1e-7` → `1e-07`), minimal `ensure_ascii=False`
    * escapes (the 6-char `u0041` input escape decodes to a bare `A`, `æ`
    * passes through raw) — with F1 drops and F2 flags applied
    * in-pass (`/root/reference/src/kafka_source.py:85-118`). The oracle
    * replays the EXACT byte layout by string concatenation, so any drift in
    * separators, ordering, number formatting, or escape policy
    * hash-mismatches.
    */
  private val s4EnvJsonCanonical: Q = {
    // Physical `A` escape in the raw message text (Scala would
    // pre-process a literal unicode escape, so splice the backslash in).
    val u = "\\" + "u"
    ("s4_env_json_canonical", (
      (s: SparkSession, dir: String) => {
        val ev = events(s, dir)
        val dyadic = (col("user_id") % 1000) / lit(16.0) // exact dyadic: short repr in Spark, DuckDB, and Python alike
        val rawJson = format_string(
          s"""{"meta":{"type":"%s","secret":"drop-me"},"k":%s,"vals":[{"f":%s,"flagged":"x"},{"f":2.5e16}],"pi":1e-7,"nil":null,"uni":"r${u}00e6v ${u}0041"}""",
          col("event_type"), get_json_object(col("props"), "$.k"), dyadic.cast(StringType))
        val payloadSchema = StructType(Seq(
          StructField("meta", StructType(Seq(
            StructField("type", StringType), StructField("secret", StringType)))),
          StructField("k", LongType),
          StructField("vals", ArrayType(StructType(Seq(
            StructField("f", DoubleType), StructField("flagged", StringType))))),
          StructField("pi", DoubleType), StructField("nil", StringType),
          StructField("uni", StringType)))
        val raw = ev.select(
          col("user_id").cast(StringType).cast(BinaryType).as("key"),
          rawJson.cast(BinaryType).as("value"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(8)).cast(IntegerType).as("partition"),
          col("event_id").as("offset"),
          Conversions.nanosToEpochMs(col("ts")).as("timestamp"))
        Envelope.json(raw, SourceConfig(topic = "events",
            messageFieldsFilter = Seq("meta.secret"),
            flagFieldConfig = Seq("vals.flagged", "nil"),
            canonicalMessage = true), payloadSchema)
          .select(col("kafka_offset"), col("kafka_message"),
            col("payload.meta.type").as("meta_type"), col("payload.k").as("k"))
      },
      """SELECT event_id AS kafka_offset,
        |  '{"meta": {"type": "' || event_type || '"}, "k": ' || (props->>'k')
        |    || ', "vals": [{"f": ' || ((user_id % 1000) / 16.0)::VARCHAR
        |    || ', "flagged": 1}, {"f": 2.5e+16}], "pi": 1e-07, "nil": 0, "uni": "ræv A"}'
        |    AS kafka_message,
        |  event_type AS meta_type,
        |  (props->>'k')::BIGINT AS k
        |FROM events""".stripMargin))
  }

  // ---------------------------------------------------------------- S6
  private val s6EnvString: Q = "s6_env_string" -> ((
    (s: SparkSession, dir: String) => {
      val raw = MessageSource.fromEvents(s, dir)
      Envelope.string(raw, SourceConfig(topic = "events"))
        .select(col("kafka_offset"), col("kafka_hash"), col("kafka_message"),
          col("payload").as("payload_text"))
    },
    """SELECT event_id AS kafka_offset,
      |  sha256(props) AS kafka_hash,
      |  to_json(props) AS kafka_message,
      |  props AS payload_text
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- S5 + T16
  private val avroSchemaJson =
    """{"type":"record","name":"ev","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin
  private val s5AvroRoundtrip: Q = "s5_avro_roundtrip" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      val payloadSchema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))
      val wire = ConfluentAvro.encode(
        struct(col("event_id").as("id"), col("event_type").as("name")),
        avroSchemaJson, schemaId = 1)
      val raw = ev.select(
        col("user_id").cast(StringType).cast(BinaryType).as("key"),
        wire.as("value"),
        lit("events").as("topic"),
        pmod(col("user_id"), lit(8)).cast(IntegerType).as("partition"),
        col("event_id").as("offset"),
        Conversions.nanosToEpochMs(col("ts")).as("timestamp"))
      Envelope.avro(raw, SourceConfig(topic = "events", schemaMode = SchemaMode.Avro),
          avroSchemaJson, payloadSchema)
        .select(col("kafka_offset"), col("kafka_schema_id"),
          col("payload.id").as("id"), col("payload.name").as("name"),
          col("kafka_message"))
    },
    """SELECT event_id AS kafka_offset,
      |  1 AS kafka_schema_id,
      |  event_id AS id,
      |  event_type AS name,
      |  '{"id":' || event_id || ',"name":"' || event_type || '"}' AS kafka_message
      |FROM events""".stripMargin))

  // ------------------------------------------------------- S5 canonical T14
  /** Byte-exact `kafka_message` for AVRO-decoded payloads (round-11 verdict
    * item 6): the reference `json.dumps`-serializes decoded Avro dicts
    * exactly like JSON ones (`kafka_source.py:148`). Exercises both float
    * routes — `w` decodes float→double at the DECODER (payload schema says
    * double, like fastavro widening 32-bit to Python float: repr shows all
    * 17 digits `0.10000000149011612`), `ratio` stays FloatType in the
    * payload schema and is widened by `serializeStruct`'s cast (exact for
    * the dyadic values used) — plus kept-null emission (`"note": null`,
    * where default `to_json` drops the key), raw non-ASCII, and an F1 drop
    * applied to the struct before serialization. The oracle replays the
    * exact byte layout; any separator/repr/null-handling drift
    * hash-mismatches.
    */
  private val s5AvroCanonical: Q = {
    val avroCanonSchema =
      """{"type":"record","name":"evc","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"},
        |{"name":"secret","type":"string"},
        |{"name":"ratio","type":"float"},{"name":"w","type":"float"},
        |{"name":"uni","type":"string"},
        |{"name":"note","type":["null","string"]}]}""".stripMargin
    ("s5_avro_canonical", (
      (s: SparkSession, dir: String) => {
        val ev = events(s, dir)
        val payloadSchema = StructType(Seq(
          StructField("id", LongType), StructField("name", StringType),
          StructField("secret", StringType),
          StructField("ratio", org.apache.spark.sql.types.FloatType),
          StructField("w", DoubleType),
          StructField("uni", StringType), StructField("note", StringType)))
        val wire = ConfluentAvro.encode(struct(
            col("event_id").as("id"), col("event_type").as("name"),
            lit("drop-me").as("secret"),
            ((col("user_id") % 1000) / lit(16.0)).cast("float").as("ratio"),
            lit(0.1f).cast("float").as("w"),
            lit("ræv").as("uni"),
            lit(null).cast(StringType).as("note")),
          avroCanonSchema, schemaId = 7)
        val raw = ev.select(
          col("user_id").cast(StringType).cast(BinaryType).as("key"),
          wire.as("value"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(8)).cast(IntegerType).as("partition"),
          col("event_id").as("offset"),
          Conversions.nanosToEpochMs(col("ts")).as("timestamp"))
        Envelope.avro(raw, SourceConfig(topic = "events", schemaMode = SchemaMode.Avro,
            messageFieldsFilter = Seq("secret"), canonicalMessage = true),
          avroCanonSchema, payloadSchema)
          .select(col("kafka_offset"), col("kafka_schema_id"), col("kafka_message"),
            col("payload.id").as("id"))
      },
      """SELECT event_id AS kafka_offset,
        |  7 AS kafka_schema_id,
        |  '{"id": ' || event_id || ', "name": "' || event_type
        |    || '", "ratio": ' || ((user_id % 1000) / 16.0)::VARCHAR
        |    || ', "w": 0.10000000149011612, "uni": "ræv", "note": null}'
        |    AS kafka_message,
        |  event_id AS id
        |FROM events""".stripMargin))
  }

  // ---------------------------------------------------------------- S2 + ST2
  /** Subscribe strategy end-to-end: the message frame is materialized as a
    * file topic, consumed with `Trigger.AvailableNow` through [[graft.streaming.StreamRunner]]
    * (checkpointed micro-batches, commit-after-write, J2 dedup inside each
    * batch), and the gate compares the SINK CONTENTS — the same oracle the
    * assign path answers, proving both strategies produce identical rows.
    */
  private val s2SubscribeSink: Q = "s2_subscribe_sink" -> ((
    (s: SparkSession, dir: String) => QueriesExt.withStatePartitions(s, 8) {
      QueriesExt.scratchTree("s2") { tmp =>
        MessageSource.fromEvents(s, dir).write.parquet(s"$tmp/topic")
        val cfg = PipelineConfig(
          source = SourceConfig(topic = "events"),
          target = TargetConfig(table = s"$tmp/sink",
            skipDuplicatesWith = Seq("kafka_partition", "kafka_offset", "kafka_topic")),
          transform = Seq(
            TransformRule("kafka_key", "kafka_key"),
            TransformRule("kafka_offset", "kafka_offset"),
            TransformRule("kafka_partition", "kafka_partition"),
            TransformRule("kafka_topic", "kafka_topic"),
            TransformRule("kafka_hash", "kafka_hash"),
            TransformRule("kafka_message", "kafka_message"),
            TransformRule("k", "k"))).validated
        val pipe = new Pipeline(cfg, propsSchema,
          batchTime = Timestamp.valueOf("2024-06-01 12:00:00"))
        val sink = new graft.sinks.ParquetSink(s"$tmp/sink")
        val runner = new graft.streaming.StreamRunner(pipe, sink, s"$tmp/ckpt")
        val stream = s.readStream.schema(MessageSource.schema).parquet(s"$tmp/topic")
        runner.runAvailableNow(s, stream)
        s.read.parquet(s"$tmp/sink")
          .select("kafka_key", "kafka_offset", "kafka_partition", "kafka_topic",
            "kafka_hash", "kafka_message", "k")
      }
    },
    """SELECT user_id::VARCHAR AS kafka_key,
      |  event_id AS kafka_offset,
      |  (user_id % 8)::INT AS kafka_partition,
      |  'events' AS kafka_topic,
      |  sha256(props) AS kafka_hash,
      |  '{"k":' || (props->>'k') || '}' AS kafka_message,
      |  (props->>'k')::BIGINT AS k
      |FROM events""".stripMargin))

  // ------------------------------------------------- S5 multi-schema dispatch
  /** Two writer schemas in ONE frame (schema evolution on a live topic):
    * id 1 = (id, name), id 2 = (id, name, extra). Even offsets encode with
    * schema 1, odd with schema 2; the reader view is the union shape, so
    * schema-1 rows surface `extra` as NULL — per-message dispatch, not a
    * plan-time single writer schema.
    */
  private val avroSchemaV2Json =
    """{"type":"record","name":"ev","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"},
      |{"name":"extra","type":"long"}]}""".stripMargin
  private val s5AvroMultischema: Q = "s5_avro_multischema" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      val payloadSchema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("extra", LongType)))
      val wireV1 = ConfluentAvro.encode(
        struct(col("event_id").as("id"), col("event_type").as("name")),
        avroSchemaJson, schemaId = 1)
      val wireV2 = ConfluentAvro.encode(
        struct(col("event_id").as("id"), col("event_type").as("name"), col("user_id").as("extra")),
        avroSchemaV2Json, schemaId = 2)
      // Every 97th message carries an UNREGISTERED schema id (valid wire
      // magic, id 99, one datum byte so the frame passes the length guard
      // and actually reaches the id-dispatch `schemasById.get => None`
      // branch): the error channel must fire in-gate — a constant false
      // kafka_error could not catch a decoder that never says no.
      val raw = ev.select(
        col("user_id").cast(StringType).cast(BinaryType).as("key"),
        when(col("event_id") % 97 === 0, lit(Array[Byte](0, 0, 0, 0, 99, 0)))
          .when(col("event_id") % 2 === 0, wireV1).otherwise(wireV2).as("value"),
        lit("events").as("topic"),
        pmod(col("user_id"), lit(8)).cast(IntegerType).as("partition"),
        col("event_id").as("offset"),
        Conversions.nanosToEpochMs(col("ts")).as("timestamp"))
      Envelope.avroMulti(raw, SourceConfig(topic = "events", schemaMode = SchemaMode.Avro),
          Map(1 -> avroSchemaJson, 2 -> avroSchemaV2Json), payloadSchema)
        .select(col("kafka_offset"), col("kafka_schema_id"), col("kafka_error"),
          col("payload.id").as("id"), col("payload.name").as("name"),
          col("payload.extra").as("extra"), col("kafka_message"))
    },
    """SELECT event_id AS kafka_offset,
      |  CASE WHEN event_id % 97 = 0 THEN 99
      |       WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS kafka_schema_id,
      |  event_id % 97 = 0 AS kafka_error,
      |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE event_id END AS id,
      |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE event_type END AS name,
      |  CASE WHEN event_id % 97 = 0 OR event_id % 2 = 0 THEN NULL ELSE user_id END AS extra,
      |  CASE WHEN event_id % 97 = 0 THEN NULL
      |    WHEN event_id % 2 = 0
      |    THEN '{"id":' || event_id || ',"name":"' || event_type || '"}'
      |    ELSE '{"id":' || event_id || ',"name":"' || event_type || '","extra":' || user_id || '}'
      |  END AS kafka_message
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- F1
  /** Nested payload used by the F1/F2 fixtures: k + user{id, secret}. */
  private def nestedRaw(s: SparkSession, dir: String, secretNullOnError: Boolean): DataFrame = {
    val ev = events(s, dir)
    val secret =
      if (secretNullOnError)
        when(col("event_type") === "error", lit(null).cast(StringType)).otherwise(col("event_type"))
      else col("event_type")
    val payload = struct(
      get_json_object(col("props"), "$.k").cast(LongType).as("k"),
      struct(col("user_id").as("id"), secret.as("secret")).as("user"))
    ev.select(
      col("user_id").cast(StringType).cast(BinaryType).as("key"),
      to_json(payload).cast(BinaryType).as("value"),
      lit("events").as("topic"),
      pmod(col("user_id"), lit(8)).cast(IntegerType).as("partition"),
      col("event_id").as("offset"),
      Conversions.nanosToEpochMs(col("ts")).as("timestamp"))
  }
  private val nestedSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("user", StructType(Seq(
      StructField("id", LongType), StructField("secret", StringType))))))

  private val f1FieldsFilter: Q = "f1_fields_filter" -> ((
    (s: SparkSession, dir: String) => {
      val raw = nestedRaw(s, dir, secretNullOnError = false)
      Envelope.json(raw,
          SourceConfig(topic = "events", messageFieldsFilter = Seq("user.secret")),
          nestedSchema)
        .select(col("kafka_offset"), col("kafka_message"),
          col("payload.k").as("k"), col("payload.user.id").as("user_id"))
    },
    """SELECT event_id AS kafka_offset,
      |  '{"k":' || (props->>'k') || ',"user":{"id":' || user_id || '}}' AS kafka_message,
      |  (props->>'k')::BIGINT AS k,
      |  user_id
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- F2
  private val f2FlagFields: Q = "f2_flag_fields" -> ((
    (s: SparkSession, dir: String) => {
      val raw = nestedRaw(s, dir, secretNullOnError = true)
      Envelope.json(raw,
          SourceConfig(topic = "events", flagFieldConfig = Seq("user.secret")),
          nestedSchema)
        .select(col("kafka_offset"), col("kafka_message"),
          col("payload.user.secret").as("secret_flag"))
    },
    """SELECT event_id AS kafka_offset,
      |  '{"k":' || (props->>'k') || ',"user":{"id":' || user_id || ',"secret":'
      |    || (CASE WHEN event_type = 'error' THEN 0 ELSE 1 END) || '}}' AS kafka_message,
      |  CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS secret_flag
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- F3
  private val f3MessageFilters: Q = "f3_message_filters" -> ((
    (s: SparkSession, dir: String) => {
      val raw = MessageSource.fromEvents(s, dir)
      Envelope.json(raw,
          SourceConfig(topic = "events",
            messageFilters = Seq(MessageFilter("k", "1"), MessageFilter("k", "2"), MessageFilter("k", "3"))),
          propsSchema)
        .select(col("kafka_offset"), col("kafka_message"), col("payload.k").as("k"))
    },
    """SELECT event_id AS kafka_offset,
      |  CASE WHEN (props->>'k') IN ('1','2','3')
      |       THEN '{"k":' || (props->>'k') || '}' ELSE NULL END AS kafka_message,
      |  (props->>'k')::BIGINT AS k
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- T1–T4, T9
  private val tTransformRules: Q = "t_transform_rules" -> ((
    (s: SparkSession, dir: String) => {
      val raw = MessageSource.fromEvents(s, dir)
      val env = Envelope.json(raw, SourceConfig(topic = "events"), propsSchema)
      val rules = Seq(
        TransformRule("kafka_key", "t_key"),
        TransformRule("kafka_offset", "t_offset"),
        TransformRule("kafka_timestamp", "t_ts_no", fun = Some("int-unix-ms -> datetime-no")),
        TransformRule("k", "t_k"),
        TransformRule("$GRAFT", "t_source"),
        TransformRule("$$BATCH_TIME", "t_batch"),
        TransformRule("missing.path", "t_missing", allowUndefined = true))
      Transforms(env, rules, Timestamp.valueOf("2024-06-01 12:00:00"))
        .select(col("t_key"), col("t_offset"), fmtMs(col("t_ts_no")).as("t_ts_no"),
          col("t_k"), col("t_source"), fmtMs(col("t_batch")).as("t_batch"),
          col("t_missing").cast(StringType).as("t_missing"))
    },
    """SELECT user_id::VARCHAR AS t_key,
      |  event_id AS t_offset,
      |  strftime(timezone('Europe/Oslo', timezone('UTC', epoch_ms(epoch_ms(ts)))),
      |           '%Y-%m-%d %H:%M:%S.%g') AS t_ts_no,
      |  (props->>'k')::BIGINT AS t_k,
      |  'GRAFT' AS t_source,
      |  '2024-06-01 12:00:00.000' AS t_batch,
      |  NULL::VARCHAR AS t_missing
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- T6
  private val t6StrCode: Q = "t6_str_code" -> ((
    (s: SparkSession, dir: String) => {
      val p = s.read.parquet(s"$dir/part.parquet")
      val inp = when(col("p_partkey") % 97 === 0, lit(null).cast(StringType))
        .when(col("p_partkey") % 101 === 0, lit("  "))
        // NBSP + narrow-NBSP: Python str.split() treats these as
        // whitespace (collapse to '_'), Java \s does not — the Unicode
        // class must agree on BOTH engines or A B reads AB vs A_B.
        .when(col("p_partkey") % 103 === 0,
          concat(col("p_name"), lit("\u00A0nb\u202Fsp æøå")))
        .otherwise(concat(col("p_name"), lit(" æøå-x")))
      p.select(col("p_partkey"), Conversions.strCode(inp).as("code"))
    }, {
    val ws = Conversions.pyWsSql
    s"""SELECT p_partkey,
      |  CASE WHEN p_partkey % 97 = 0 THEN 'UKJENT' ELSE
      |    coalesce(nullif(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              upper(regexp_replace(regexp_replace(
      |                CASE WHEN p_partkey % 101 = 0 THEN '  '
      |                     WHEN p_partkey % 103 = 0
      |                       THEN p_name || ' nb sp æøå'
      |                     ELSE p_name || ' æøå-x' END,
      |                '^$ws+|$ws+$$', '', 'g'), '$ws+', '_', 'g')),
      |              'Æ', 'A', 'g'),
      |            'Ø', 'O', 'g'),
      |          'Å', 'AA', 'g'),
      |        '[^0-9A-Z_]', '', 'g'),
      |      ''), 'UKJENT')
      |  END AS code
      |FROM part""".stripMargin }))

  // ---------------------------------------------------------------- T7
  private val t7DatetimeNo: Q = "t7_datetime_no" -> ((
    (s: SparkSession, dir: String) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val d = col("o_orderdate")
      val k = col("o_orderkey")
      val inp = when(k % 7 === 0, lit("absolutely not a date"))
        // dateparser relative forms, anchored to the frozen batch time
        .when(k % 13 === 1, lit("yesterday"))
        .when(k % 13 === 2, concat(((k % 30) + 1).cast("string"), lit(" days ago")))
        .when(k % 13 === 3, lit("in 3 hours"))
        .when(k % 13 === 4, lit("2 weeks ago"))
        // Norwegian month-name date ("2. januar 2024")
        .when(k % 13 === 5, concat(dayofmonth(d).cast("string"), lit(". "),
          element_at(array(Conversions.norwegianMonths.map(lit): _*), month(d)),
          lit(" "), year(d).cast("string")))
        // … led by the (true) Norwegian weekday token ("mandag 2. januar 2024")
        .when(k % 13 === 6, concat(
          element_at(array(Conversions.norwegianDays.map(lit): _*),
            ((dayofweek(d) + 5) % 7).cast("int") + 1),
          lit(" "), dayofmonth(d).cast("string"), lit(". "),
          element_at(array(Conversions.norwegianMonths.map(lit): _*), month(d)),
          lit(" "), year(d).cast("string")))
        // compound relative ("2 weeks ago tuesday") — weekday varies by key
        .when(k % 13 === 7, concat(((k % 4) + 1).cast("string"), lit(" weeks ago "),
          element_at(array(Conversions.englishDays.map(lit): _*), (k % 7).cast("int") + 1)))
        // Norwegian relative forms (dateparser nb locale)
        .when(k % 13 === 8, concat(lit("for "), ((k % 30) + 1).cast("string"),
          lit(" dager siden")))
        .when(k % 13 === 9, lit("om 3 timer"))
        .when(k % 13 === 10, lit("i går"))
        .when(k % 11 === 0, unix_timestamp(d).cast("string"))            // epoch seconds in string
        .when(k % 11 === 1, (unix_timestamp(d) * 1000).cast("string"))   // epoch millis in string
        .when(k % 8 === 0, date_format(d, "yyyy-MM-dd'T'HH:mm:ss"))
        .when(k % 8 === 1, date_format(d, "yyyy-MM-dd HH:mm:ss"))
        .when(k % 8 === 2, date_format(d, "yyyy-MM-dd"))
        .when(k % 8 === 3, date_format(d, "dd.MM.yyyy"))
        .when(k % 8 === 4, date_format(d, "dd-MM-yyyy HH:mm:ss"))
        .when(k % 8 === 5, date_format(d, "dd/MM/yyyy hh:mm a"))
        .when(k % 8 === 6, date_format(d, "MMM d, yyyy hh:mm a"))
        .otherwise(concat(date_format(d, "yyyy-MM-dd'T'HH:mm:ss"), lit("+02:00")))
      val anchor = Timestamp.valueOf("2024-06-01 12:00:00") // UTC batch time
      o.select(k.as("o_orderkey"),
        fmtS(Conversions.lenientDateOslo(inp, Some(lit(anchor)))).as("dt_no"))
    },
    """SELECT o_orderkey,
      |  CASE
      |    WHEN o_orderkey % 7 = 0 THEN NULL
      |    WHEN o_orderkey % 13 = 1 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      TIMESTAMP '2024-06-01 12:00:00' - INTERVAL 1 DAY)), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 2 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      TIMESTAMP '2024-06-01 12:00:00' - to_days(((o_orderkey % 30) + 1)::INT))), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 3 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      TIMESTAMP '2024-06-01 12:00:00' + INTERVAL 3 HOUR)), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 4 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      TIMESTAMP '2024-06-01 12:00:00' - INTERVAL 14 DAY)), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 6 THEN strftime(timezone('Europe/Oslo', timezone('UTC', o_orderdate)),
      |      '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 7 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      date_trunc('week', TIMESTAMP '2024-06-01 12:00:00'
      |                         - to_days((7 * ((o_orderkey % 4) + 1))::INT))
      |        + to_days((o_orderkey % 7)::INT))), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 8 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      TIMESTAMP '2024-06-01 12:00:00' - to_days(((o_orderkey % 30) + 1)::INT))), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 9 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      TIMESTAMP '2024-06-01 12:00:00' + INTERVAL 3 HOUR)), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 10 THEN strftime(timezone('Europe/Oslo', timezone('UTC',
      |      TIMESTAMP '2024-06-01 12:00:00' - INTERVAL 1 DAY)), '%Y-%m-%d %H:%M:%S')
      |    WHEN o_orderkey % 13 = 5 OR o_orderkey % 11 IN (0,1) OR o_orderkey % 8 IN (0,1,2,3,4,5,6)
      |      THEN strftime(timezone('Europe/Oslo', timezone('UTC', o_orderdate)),
      |                    '%Y-%m-%d %H:%M:%S')
      |    ELSE strftime(timezone('Europe/Oslo',
      |                    timezone('UTC', o_orderdate - INTERVAL 2 HOUR)),
      |                  '%Y-%m-%d %H:%M:%S')
      |  END AS dt_no
      |FROM orders""".stripMargin))

  // ---------------------------------------------------------------- T8–T13
  private val tScalarConvs: Q = "t_scalar_convs" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir) // ts arrives as Long nanos (nanosAsLong)
      val ns = col("ts")
      val ms = Conversions.nanosToEpochMs(ns)
      val secs = floor(ms.cast("decimal(20,0)") / 1000L).cast(LongType)
      ev.select(
        col("event_id"),
        fmtS(Conversions.unixSecondsOslo(secs)).as("unix_s_no"),
        fmtMs(Conversions.unixMillisOslo(ms)).as("unix_ms_no"),
        Conversions.boolToInt(col("value") > 100.0).as("bool_int"),
        date_format(Conversions.nanosToTimestamp(ns), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_micro"),
        ms.as("ts_ms"))
    },
    """SELECT event_id,
      |  strftime(timezone('Europe/Oslo', timezone('UTC', epoch_ms((epoch_ms(ts)//1000)*1000))),
      |           '%Y-%m-%d %H:%M:%S') AS unix_s_no,
      |  strftime(timezone('Europe/Oslo', timezone('UTC', epoch_ms(epoch_ms(ts)))),
      |           '%Y-%m-%d %H:%M:%S.%g') AS unix_ms_no,
      |  CAST(value > 100 AS INT) AS bool_int,
      |  strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') AS ts_micro,
      |  epoch_ms(ts) AS ts_ms
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- J1
  private val j1K6Mask: Q = "j1_k6_mask" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      val payload = struct(
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        struct(col("user_id").cast(StringType).as("ident")).as("person"))
      val raw = ev.select(
        col("user_id").cast(StringType).cast(BinaryType).as("key"),
        to_json(payload).cast(BinaryType).as("value"),
        lit("events").as("topic"),
        pmod(col("user_id"), lit(8)).cast(IntegerType).as("partition"),
        col("event_id").as("offset"),
        Conversions.nanosToEpochMs(col("ts")).as("timestamp"))
      val schema = StructType(Seq(
        StructField("k", LongType),
        StructField("person", StructType(Seq(StructField("ident", StringType))))))
      val env = Envelope.json(raw, SourceConfig(topic = "events"), schema)
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"),
          lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("gyldig_fra_dato"),
          lit(Timestamp.valueOf("2024-12-31 00:00:00")).as("gyldig_til_dato"))
      Joins.k6Mask(env, dim,
          K6FilterConfig(filterTable = "customer", filterCol = "c_custkey",
            col = "person.ident", timestamp = "kafka_timestamp"))
        .select(col("kafka_offset"), col("kafka_key"), col("kafka_message"))
    },
    """SELECT event_id AS kafka_offset,
      |  user_id::VARCHAR AS kafka_key,
      |  CASE WHEN user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |        AND date_trunc('day', epoch_ms(epoch_ms(ts)))
      |            BETWEEN TIMESTAMP '2024-01-01' AND TIMESTAMP '2024-12-31'
      |       THEN NULL
      |       ELSE '{"k":' || (props->>'k') || ',"person":{"ident":"' || user_id || '"}}'
      |  END AS kafka_message
      |FROM events""".stripMargin))

  // ---------------------------------------------------------------- J2
  private val j2DedupAnti: Q = "j2_dedup_anti" -> ((
    (s: SparkSession, dir: String) => {
      val env = Envelope.json(MessageSource.fromEvents(s, dir),
        SourceConfig(topic = "events"), propsSchema)
      val keys = Seq("kafka_partition", "kafka_offset", "kafka_topic")
      val existing = env.where(col("kafka_offset") < 2000)
      // Intra-batch duplicates: [1000, 2500) present twice. Replicate via a
      // posexplode over a per-row repeat count instead of a union of two
      // filters — a union re-runs the whole envelope decode per branch.
      val batch = env.where(col("kafka_offset") < 3000)
        .withColumn("_rep",
          explode(when(col("kafka_offset") >= 1000 && col("kafka_offset") < 2500,
            array(lit(0), lit(1))).otherwise(array(lit(0)))))
        .drop("_rep")
      Joins.dedupAgainst(batch, existing, keys)
        .select(col("kafka_partition"), col("kafka_offset"), col("kafka_topic"), col("kafka_key"))
    },
    """SELECT (user_id % 8)::INT AS kafka_partition,
      |  event_id AS kafka_offset,
      |  'events' AS kafka_topic,
      |  user_id::VARCHAR AS kafka_key
      |FROM events WHERE event_id >= 2000 AND event_id < 3000""".stripMargin))

  /** J2 via the Bloom pre-prune — IDENTICAL results to j2_dedup_anti by
    * construction (the filter only routes, the anti-join stays exact), gated
    * against the same oracle. Batch is checkpointed first: the two union
    * routes must not re-run the envelope decode.
    */
  private val j2DedupBloom: Q = "x_dedup_anti_bloom" -> ((
    (s: SparkSession, dir: String) => {
      val env = Envelope.json(MessageSource.fromEvents(s, dir),
        SourceConfig(topic = "events"), propsSchema)
      val keys = Seq("kafka_partition", "kafka_offset", "kafka_topic")
      val existing = env.where(col("kafka_offset") < 2000)
      val batch = env.where(col("kafka_offset") < 3000).localCheckpoint(true)
      Joins.dedupAgainstBloom(batch, existing, keys, expectedExisting = 2000)
        .select(col("kafka_partition"), col("kafka_offset"), col("kafka_topic"), col("kafka_key"))
    },
    """SELECT (user_id % 8)::INT AS kafka_partition,
      |  event_id AS kafka_offset,
      |  'events' AS kafka_topic,
      |  user_id::VARCHAR AS kafka_key
      |FROM events WHERE event_id >= 2000 AND event_id < 3000""".stripMargin))

  // ---------------------------------------------------------------- S11/A1
  private val a1DeltaWatermark: Q = "a1_delta_watermark" -> ((
    (s: SparkSession, dir: String) => {
      val env = Envelope.json(MessageSource.fromEvents(s, dir),
        SourceConfig(topic = "events"), propsSchema)
      env.agg(max(col("kafka_timestamp")).as("delta_watermark_ms"))
    },
    "SELECT max(epoch_ms(ts)) AS delta_watermark_ms FROM events"))

  // ---------------------------------------------------------------- A2
  private val a2Summary: Q = "a2_summary" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      val value = when(col("event_id") % 13 === 0, lit("{not json")).otherwise(col("props"))
      val raw = ev.select(
        col("user_id").cast(StringType).cast(BinaryType).as("key"),
        value.cast(BinaryType).as("value"),
        lit("events").as("topic"),
        pmod(col("user_id"), lit(8)).cast(IntegerType).as("partition"),
        col("event_id").as("offset"),
        Conversions.nanosToEpochMs(col("ts")).as("timestamp"))
      val env = Envelope.json(raw,
        SourceConfig(topic = "events",
          messageFilters = Seq(MessageFilter("k", "1"), MessageFilter("k", "2"), MessageFilter("k", "3"))),
        propsSchema)
      env.agg(
        count(lit(1)).as("event_count"),
        count(when(col("kafka_error"), 1)).as("error_count"),
        count(when(col("kafka_message").isNull, 1)).as("empty_count"),
        count(when(col("kafka_message").isNotNull, 1)).as("non_empty_count"))
    },
    """SELECT count(*) AS event_count,
      |  count(*) FILTER (WHERE event_id % 13 = 0) AS error_count,
      |  count(*) FILTER (WHERE event_id % 13 = 0 OR (props->>'k') NOT IN ('1','2','3')) AS empty_count,
      |  count(*) FILTER (WHERE event_id % 13 <> 0 AND (props->>'k') IN ('1','2','3')) AS non_empty_count
      |FROM events""".stripMargin))

  // ------------------------------------------------- core SQL (§2.9, Spark-native)
  private val q1PricingAgg: Q = "q1_pricing_agg" -> ((
    (s: SparkSession, dir: String) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val qty = col("l_quantity").cast("decimal(18,2)")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      l.where(col("l_shipdate") <= lit(Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(price * (lit(1).cast("decimal(18,2)") - disc)).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin))

  private val q3JoinTopk: Q = "q3_join_topk" -> ((
    (s: SparkSession, dir: String) => {
      val c = s.read.parquet(s"$dir/customer.parquet").where(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < lit(Timestamp.valueOf("1997-03-15 00:00:00")))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > lit(Timestamp.valueOf("1997-03-15 00:00:00")))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(price * (lit(1).cast("decimal(18,2)") - disc)).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("revenue"))
    },
    """SELECT l_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |  AND o_orderdate < TIMESTAMP '1997-03-15' AND l_shipdate > TIMESTAMP '1997-03-15'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin))

  private val qWindowRank: Q = "q_window_rank" -> ((
    (s: SparkSession, dir: String) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("o_totalprice"))
    },
    """SELECT o_custkey, o_orderkey, rn, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin))

  private val qSessionize: Q = "q_sessionize" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      val ms = Conversions.nanosToEpochMs(col("ts"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      ev.select(col("user_id"), col("event_id"), ms.as("ts_ms"))
        .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 21600000L, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
    },
    """SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events FROM (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 21600000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events) GROUP BY user_id""".stripMargin))

  /** ROLLUP (grouping sets): q1's aggregate with per-flag and grand totals in
    * one pass. Spark expands grouping sets BEFORE the shuffle (each input row
    * feeds every set it belongs to, partial-aggregated map-side), so the
    * subtotal rows cost no extra scan. NULL group keys from the rollup are
    * rendered as "(all)" on both sides — representation-independent compare.
    */
  private val qRollup: Q = "q_rollup" -> ((
    (s: SparkSession, dir: String) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val qty = col("l_quantity").cast("decimal(18,2)")
      l.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qty).cast("double").as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("sum_qty"), col("n_rows"))
    },
    """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
      |  coalesce(l_linestatus, '(all)') AS l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin))

  /** Distribution window functions — ntile bucketing (the curriculum-
    * ordering primitive: rank docs by a quality proxy, bucket into deciles)
    * plus percent_rank/cume_dist, all over ONE window spec so the plan is a
    * single exchange+sort. Doubles from the rank functions are exact
    * rationals (k/n) — engine-identical without rounding.
    */
  private val qNtile: Q = "q_ntile" -> ((
    (s: SparkSession, dir: String) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
      o.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("decile", ntile(10).over(w))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .where(col("o_orderkey") % 100 === 0)
    },
    """SELECT o_orderkey, o_orderpriority, o_totalprice, decile, pr, cd FROM (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |    ntile(10)        OVER w AS decile,
      |    round(percent_rank() OVER w, 6) AS pr,
      |    round(cume_dist()    OVER w, 6) AS cd
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
      |WHERE o_orderkey % 100 = 0""".stripMargin))

  /** Window FRAMES: running sum (rows unbounded-preceding..current) and a
    * centered moving average (rows 2-preceding..2-following), both over ONE
    * (user, time) window ordering — one exchange+sort, two frame
    * evaluators. The moving average divides by the actual frame size so
    * edges are exact rationals.
    */
  private val qFrames: Q = "q_frames" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      ev.select(col("user_id"), col("event_id"),
          Conversions.nanosToEpochMs(col("ts")).as("ts_ms"), col("value"))
        .withColumn("run_sum",
          round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
        .withColumn("mov_avg",
          round(avg(col("value")).over(w.rowsBetween(-2, 2)), 4))
        .where(col("event_id") % 50 === 0)
    },
    """SELECT user_id, event_id, ts_ms, value, run_sum, mov_avg FROM (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
      |    round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_sum,
      |    round(avg(value) OVER (w ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4) AS mov_avg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      |WHERE event_id % 50 = 0""".stripMargin))

  /** GROUP BY ALL + ORDER BY ALL (SQL:2023 shorthand both engines ship):
    * the grouping keys are inferred from the non-aggregate select items.
    * IDENTICAL SQL text on both engines — the Spark side runs the oracle
    * string verbatim against a same-named temp view.
    */
  private val qGroupByAll: Q = {
    val sql =
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price, count(*) AS n
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin
    ("q_group_by_all", (
      (s: SparkSession, dir: String) => {
        s.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem")
        s.sql(sql)
      },
      sql))
  }

  /** listagg WITHIN GROUP (SQL:2023, Spark 4.0+) — ordered string
    * aggregation. DuckDB spells it string_agg(expr, sep ORDER BY ...); the
    * explicit order makes the concatenation deterministic on both engines.
    */
  private val qListagg: Q = "q_listagg" -> ((
    (s: SparkSession, dir: String) => {
      s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders_la")
      s.sql(
        """SELECT o_orderpriority,
          |  listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
          |  count(*) AS n
          |FROM orders_la GROUP BY o_orderpriority""".stripMargin)
    },
    """SELECT o_orderpriority,
      |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderpriority""".stripMargin))

  /** RANGE frame over a numeric ORDER BY key (epoch-ms): a 10-minute
    * trailing window per user — RANGE is peer-inclusive, so the windowed
    * sum is deterministic under timestamp ties where a ROWS frame would
    * not be. The moving-sum-over-time shape every event pipeline runs.
    */
  private val qRangeFrame: Q = "q_range_frame" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      ev.select(col("user_id"), col("event_id"),
          Conversions.nanosToEpochMs(col("ts")).as("ts_ms"), col("value"))
        .withColumn("trail_10m", round(sum(col("value")).over(
          Window.partitionBy("user_id").orderBy(col("ts_ms"))
            .rangeBetween(-600000L, Window.currentRow)), 4))
        .where(col("event_id") % 50 === 0)
    },
    """SELECT user_id, event_id, ts_ms, value, trail_10m FROM (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
      |    round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |      RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW), 4) AS trail_10m
      |  FROM events)
      |WHERE event_id % 50 = 0""".stripMargin))

  /** GROUPING SETS with grouping_id — the third grouping shape next to
    * q_rollup's ROLLUP: explicit set list including the grand total, with
    * the grouping-id bitmask distinguishing which NULL means "aggregated
    * over". Spark plans one Expand, not one job per set.
    */
  private val qGroupingSets: Q = "q_grouping_sets" -> ((
    (s: SparkSession, dir: String) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      l.createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag, l_linestatus,
              |  grouping_id(l_returnflag, l_linestatus) AS gid,
              |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              |  count(*) AS n_rows
              |FROM lineitem_v
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
    """SELECT l_returnflag, l_linestatus,
      |  (grouping(l_returnflag) * 2 + grouping(l_linestatus)) AS gid,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin))

  /** PIVOT: per-customer-segment order counts and max totals spread over
    * the status domain. Spark's .pivot with an EXPLICIT value list compiles
    * to one aggregate with conditional expressions (no second distinct-scan
    * job, and plan-stable at 100 TB); the oracle is the equivalent FILTERed
    * aggregation.
    */
  private val qPivot: Q = "q_pivot" -> ((
    (s: SparkSession, dir: String) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val pivoted = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)).as("n"), round(max("o_totalprice"), 2).as("mx"))
      // Pivot emits NULL for a (segment, status) combo with no rows; the
      // FILTERed-count oracle emits 0. Align the count columns (max stays
      // NULL on both sides).
      pivoted.select(col("c_mktsegment") +: Seq("O", "F", "P").flatMap(st =>
        Seq(coalesce(col(s"${st}_n"), lit(0L)).as(s"${st}_n"), col(s"${st}_mx"))): _*)
    },
    """SELECT c_mktsegment,
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS O_n,
      |  round(max(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS O_mx,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS F_n,
      |  round(max(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS F_mx,
      |  count(*) FILTER (WHERE o_orderstatus = 'P') AS P_n,
      |  round(max(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS P_mx
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin))

  /** JSON path extraction over the events.props payload column —
    * `get_json_object` stays a codegen'd per-row expression (no UDF, no
    * schema inference scan). Oracle via DuckDB's JSON extension.
    */
  private val qJsonProps: Q = "q_json_props" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      ev.select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
    },
    """SELECT json_extract(props, '$.k')::INT AS k, count(*) AS n
      |FROM events GROUP BY 1""".stripMargin))

  /** VARIANT path (Spark 4's semi-structured type, the modern JSON-column
    * surface next to q_json_props' string-path get_json_object): props
    * parses into a BINARY variant once, typed extraction via variant_get —
    * the shape that lets Catalyst avoid re-parsing the JSON text per
    * accessed field. The oracle replays the same extraction over DuckDB's
    * JSON path; the gate pins that the variant encode/decode round-trip is
    * value-identical to direct string extraction.
    */
  private val qVariant: Q = "q_variant" -> ((
    (s: SparkSession, dir: String) =>
      events(s, dir)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k")),
    """SELECT event_type, count(*)::BIGINT AS n,
      |  sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
      |  min(json_extract(props, '$.k')::INT) AS min_k,
      |  max(json_extract(props, '$.k')::INT) AS max_k
      |FROM events GROUP BY event_type""".stripMargin))

  /** CUBE — completes the grouping-shape trio next to q_rollup (ROLLUP) and
    * q_grouping_sets (explicit sets): all four (flag, status) marginal
    * combinations from one Expand. */
  private val qCube: Q = "q_cube" -> ((
    (s: SparkSession, dir: String) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val qty = col("l_quantity").cast("decimal(18,2)")
      l.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qty).cast("double").as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("sum_qty"), col("n_rows"))
    },
    """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
      |  coalesce(l_linestatus, '(all)') AS l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin))

  /** UNPIVOT/melt: the four lineitem measures to long form, then a grouped
    * profile per (returnflag, measure) — the wide→long reshaping every
    * metrics pipeline needs; Spark's native unpivot against the UNION ALL
    * replay. Measures ride DECIMAL through the sum.
    */
  private val qUnpivot: Q = "q_unpivot" -> ((
    (s: SparkSession, dir: String) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      l.select(col("l_returnflag") +:
          measures.map(m => col(m).cast("decimal(18,2)").as(m)): _*)
        .unpivot(Array(col("l_returnflag")),
          measures.map(col).toArray, "measure", "v")
        .groupBy("l_returnflag", "measure")
        .agg(sum("v").cast("double").as("total"), count(lit(1)).as("n"))
    },
    """WITH long AS (
      |  SELECT l_returnflag, 'l_quantity' AS measure,
      |         CAST(l_quantity AS DECIMAL(18,2)) AS v FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_extendedprice',
      |         CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_discount',
      |         CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_tax',
      |         CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
      |SELECT l_returnflag, measure,
      |  CAST(sum(v) AS DOUBLE) AS total, count(*)::BIGINT AS n
      |FROM long GROUP BY 1, 2""".stripMargin))

  /** FULL OUTER join with both null sides populated (customer slice vs
    * order-aggregate slice on disjoint key predicates) — the join shape the
    * warehouse reconciliation reports use. Money sums ride DECIMAL and only
    * cast to double at the edge (the q1/rollup discipline: an unordered
    * double sum would be addition-order-dependent).
    */
  private val qOuterJoin: Q = "q_outer_join" -> ((
    (s: SparkSession, dir: String) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") % 2 === 0)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spend"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("c_mktsegment"), coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("total_spend"))
    },
    """SELECT coalesce(c.c_custkey, o.o_custkey) AS k, c.c_mktsegment,
      |  coalesce(o.n_orders, 0) AS n_orders, o.total_spend
      |FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0) c
      |FULL OUTER JOIN (
      |  SELECT o_custkey, count(*)::BIGINT AS n_orders,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |  FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey) o
      |ON c.c_custkey = o.o_custkey""".stripMargin))

  /** Calendar decomposition: extract-style parts + ISO-Monday week
    * truncation, aggregated to (year, month, dow) volumes. Day-of-week
    * conventions differ across engines (Spark 1=Sunday, DuckDB 0=Sunday) —
    * the gate pins the 1..7 Sunday-first convention explicitly on both
    * sides rather than trusting engine defaults.
    */
  private val qDateParts: Q = "q_date_parts" -> ((
    (s: SparkSession, dir: String) => {
      val ev = events(s, dir)
      val ts = Conversions.nanosToTimestamp(col("ts"))
      ev.select(year(ts).as("yr"), month(ts).as("mon"), dayofweek(ts).as("dow"),
          unix_millis(date_trunc("WEEK", ts)).as("wk_ms"))
        .groupBy("yr", "mon", "dow")
        .agg(count(lit(1)).as("n"), countDistinct(col("wk_ms")).as("n_weeks"))
    },
    """SELECT year(ts)::INT AS yr, month(ts)::INT AS mon,
      |  (dayofweek(ts) + 1)::INT AS dow,
      |  count(*)::BIGINT AS n,
      |  count(DISTINCT epoch_ms(date_trunc('week', ts)))::BIGINT AS n_weeks
      |FROM events GROUP BY 1, 2, 3""".stripMargin))

  /** Correlated EXISTS / NOT EXISTS — Catalyst decorrelates both into one
    * semi-join + one anti-join on the customer key (no per-row subquery
    * execution); the orders-side predicates are pushed below the joins into
    * the scan. The oracle runs the very same SQL text.
    */
  private val qExists: Q = {
    def sql(c: String, o: String) =
      s"""SELECT c_custkey, c_name FROM $c c
         |WHERE EXISTS (SELECT 1 FROM $o o
         |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
         |  AND NOT EXISTS (SELECT 1 FROM $o o
         |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""".stripMargin
    "q_exists" -> ((
      (s: SparkSession, dir: String) => {
        s.read.parquet(s"$dir/customer.parquet").createOrReplaceTempView("customer_v")
        s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders_v")
        s.sql(sql("customer_v", "orders_v"))
      },
      sql("customer", "orders")))
  }

  /** Set operations: INTERSECT / EXCEPT with SQL set (distinct) semantics.
    * Spark plans both as distinct-aggregated joins (left-semi / left-anti),
    * so the same bounded-shuffle story as any keyed join applies; the small
    * filtered sides are AQE-broadcastable at runtime.
    */
  private val qSetOps: Q = "q_setops" -> ((
    (s: SparkSession, dir: String) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val buyers = o.where(col("o_totalprice") > 100000.0)
        .select(col("o_custkey").as("custkey"))
      val building = c.where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val recent = o.where(col("o_orderdate") >= lit(Timestamp.valueOf("1998-01-01 00:00:00")))
        .select(col("o_custkey").as("custkey"))
      buyers.intersect(building).except(recent)
    },
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
      |INTERSECT
      |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'""".stripMargin))

  /** RECURSIVE CTE (Spark 4.x `WITH RECURSIVE`): walk each part up the
    * deterministic binary hierarchy `p → p div 2` to the root, reporting
    * depth and the ancestor-key sum — acyclic by construction so both
    * engines' UNION ALL recursion terminates in ⌈log₂ max_key⌉ steps.
    * Spark plans this as an iterative union-loop (the 4.x recursion
    * operator); the oracle runs the identical SQL text in DuckDB.
    */
  private val qRecursiveCte: Q = {
    // `idiv` = integer division, the one dialect split in otherwise
    // identical SQL text (Spark `div`, DuckDB `//` — Spark's `/` on
    // integers is DOUBLE division and DuckDB's double→int cast ROUNDS, so
    // neither a shared `/` nor a cast is portable).
    def sql(p: String, idiv: String) =
      s"""WITH RECURSIVE walk(part, node, depth) AS (
         |  SELECT p_partkey, p_partkey, 0 FROM $p WHERE p_partkey < 200
         |  UNION ALL
         |  SELECT part, node $idiv 2, depth + 1 FROM walk WHERE node > 0
         |)
         |SELECT part, max(depth) AS depth, CAST(sum(node) AS BIGINT) AS key_sum
         |FROM walk GROUP BY part""".stripMargin
    "q_recursive_cte" -> ((
      (s: SparkSession, dir: String) => {
        s.read.parquet(s"$dir/part.parquet").createOrReplaceTempView("part_v")
        s.sql(sql("part_v", "div"))
      },
      sql("part", "//")))
  }

  /** LATERAL correlated subquery (top-2 customers per nation by account
    * balance): Catalyst decorrelates the LATERAL ORDER BY/LIMIT into a
    * per-nation window top-k — no per-row subquery execution survives in
    * the plan. Deterministic via the custkey tie-break; identical SQL text
    * on both engines.
    */
  private val qLateral: Q = {
    def sql(n: String, c: String) =
      s"""SELECT n.n_name, t.c_custkey, t.c_acctbal
         |FROM $n n, LATERAL (
         |  SELECT c_custkey, c_acctbal FROM $c c
         |  WHERE c.c_nationkey = n.n_nationkey
         |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin
    "q_lateral" -> ((
      (s: SparkSession, dir: String) => {
        s.read.parquet(s"$dir/nation.parquet").createOrReplaceTempView("nation_v")
        s.read.parquet(s"$dir/customer.parquet").createOrReplaceTempView("customer_v")
        s.sql(sql("nation_v", "customer_v"))
      },
      sql("nation", "customer")))
  }

  val all: Seq[Q] = Seq(
    s2SubscribeSink, s3KeyInt64, s4EnvJson, s4EnvJsonCanonical, s6EnvString,
    s5AvroRoundtrip, s5AvroMultischema, s5AvroCanonical,
    f1FieldsFilter, f2FlagFields, f3MessageFilters,
    tTransformRules, t6StrCode, t7DatetimeNo, tScalarConvs,
    j1K6Mask, j2DedupAnti, j2DedupBloom, a1DeltaWatermark, a2Summary,
    q1PricingAgg, q3JoinTopk, qWindowRank, qSessionize, qRollup, qSetOps, qNtile, qExists,
    qFrames, qGroupingSets, qPivot, qJsonProps, qVariant, qOuterJoin, qDateParts, qCube, qUnpivot,
    qRecursiveCte, qLateral, qGroupByAll, qListagg, qRangeFrame)
}

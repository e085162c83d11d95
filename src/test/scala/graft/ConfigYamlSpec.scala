package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config._

class ConfigYamlSpec extends AnyFunSuite {

  private val referenceExample =
    """# Kildekonfigurasjon.
      |source:
      |  type: kafka
      |  batch-size: 5000
      |  topic: topic-navn
      |  group-id: gruppe-id
      |  schema: json
      |  poll-timeout: 10 # default 10
      |  strategy: assign
      |  keypath-seperator: /
      |  message-fields-filter:
      |    - key1
      |    - key2/key3
      |  flag-field-config:
      |    - key1
      |  message-filters:
      |  - key: status
      |    allowed_value: OPEN
      |  - key: status
      |    allowed_value: CLOSED
      |target:
      |  type: oracle
      |  custom-config:
      |  - method: oracledb.Cursor.setinputsizes
      |    name: kafka_timestamp
      |    value: oracledb.TIMESTAMP
      |  - method: oracledb.Cursor.setinputsizes
      |    name: kafka_message
      |    value: oracledb.DB_TYPE_CLOB
      |  delta:
      |    column: kafka_timestamp
      |    table: mytable
      |  table: mytable
      |  skip-duplicates-with:
      |    - kafka_partition
      |    - kafka_offset
      |    - kafka_topic
      |  k6-filter:
      |    filter-table: dt_person.ident_off_id_til_fk_person1
      |    filter-col: off_id
      |    timestamp: kafka_timestamp
      |    col-keypath-separator: /
      |    col: key1/fnr
      |transform:
      |  - src: kafka_key
      |    dst: kafka_key
      |  - src: kafka_timestamp
      |    dst: kafka_timestamp
      |    fun: int-unix-ms -> datetime-no
      |  - src: $PERMITTERING
      |    dst: KILDESYSTEM
      |  - src: $$BATCH_TIME
      |    dst: lastet_tid
      |""".stripMargin

  test("reference README example parses with aliases and defaults") {
    val cfg = ConfigYaml.fromYaml(referenceExample)
    assert(cfg.source.topic == "topic-navn")
    assert(cfg.source.batchSize == 5000)
    assert(cfg.source.schemaMode == SchemaMode.Json)
    assert(cfg.source.strategy == ConsumerStrategy.Assign)
    assert(cfg.source.keypathSeparator == "/")
    assert(cfg.source.messageFieldsFilter == Seq("key1", "key2/key3"))
    assert(cfg.source.flagFieldConfig == Seq("key1"))
    assert(cfg.source.messageFilters == Seq(
      MessageFilter("status", "OPEN"), MessageFilter("status", "CLOSED")))
    assert(cfg.target.table == "mytable")
    assert(cfg.target.skipDuplicatesWith == Seq("kafka_partition", "kafka_offset", "kafka_topic"))
    assert(cfg.target.delta.contains(DeltaConfig("mytable", "kafka_timestamp")))
    val k6 = cfg.target.k6Filter.get
    assert(k6.filterCol == "off_id" && k6.col == "key1/fnr" && k6.colKeypathSeparator == "/")
    assert(cfg.target.columnTypes == Seq(
      ColumnTypeOverride("kafka_timestamp", "TIMESTAMP"),
      ColumnTypeOverride("kafka_message", "CLOB")))
    assert(cfg.transform.length == 4)
    assert(cfg.transform(1).fun.contains("int-unix-ms -> datetime-no"))
    assert(cfg.transform(2).src == "$PERMITTERING")
  }

  test("unknown schema mode rejected (reference pydantic parity)") {
    val bad = referenceExample.replace("schema: json", "schema: protobuf")
    intercept[IllegalArgumentException](ConfigYaml.fromYaml(bad))
  }

  test("non-whitelisted custom-config method rejected instead of eval'd") {
    val bad = referenceExample.replace("oracledb.Cursor.setinputsizes", "os.system")
    intercept[ConfigYaml.ParseError](ConfigYaml.fromYaml(bad))
  }

  test("missing topic / empty transform rejected") {
    intercept[ConfigYaml.ParseError](
      ConfigYaml.fromYaml("source:\n  schema: json\ntarget:\n  table: t\ntransform:\n  - src: a\n    dst: b\n"))
    intercept[IllegalArgumentException](
      ConfigYaml.fromYaml("source:\n  topic: t\ntarget:\n  table: t\n"))
  }

  test("duplicate dst columns rejected") {
    val dup = "source:\n  topic: t\ntarget:\n  table: t\ntransform:\n  - src: a\n    dst: x\n  - src: b\n    dst: x\n"
    intercept[IllegalArgumentException](ConfigYaml.fromYaml(dup))
  }

  test("embedded curate subtree parses; input defaults to the sink table") {
    val yaml =
      """source:
        |  topic: events
        |  schema: json
        |target:
        |  table: /data/landed
        |transform:
        |  - src: kafka_message
        |    dst: kafka_message
        |curate:
        |  output: /data/curated
        |  id-column: kafka_offset
        |  text-column: kafka_message
        |  dedup:
        |    exact: true
        |  split:
        |    - train: 80
        |    - val: 10
        |    - test: 10
        |""".stripMargin
    val cfg = ConfigYaml.fromYaml(yaml)
    val c = cfg.curate.getOrElse(fail("curate subtree not parsed"))
    assert(c.input == "/data/landed") // defaulted from target.table
    assert(c.output == "/data/curated")
    assert(c.idColumn == "kafka_offset" && c.textColumn == "kafka_message")
    assert(c.dedupExact && c.splits == Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0))
    // an explicit input still wins over the default
    val c2 = ConfigYaml.fromYaml(yaml.replace("output: /data/curated",
      "input: /elsewhere\n  output: /data/curated")).curate.get
    assert(c2.input == "/elsewhere")
    // no curate key -> None, and a typo'd curate key still fails loudly
    assert(ConfigYaml.fromYaml(yaml.split("curate:")(0)).curate.isEmpty)
    intercept[IllegalArgumentException](
      ConfigYaml.fromYaml(yaml.replace("dedup:", "dedupe:")))
  }

  private val minimal =
    "source:\n  topic: t\ntarget:\n  table: t\ntransform:\n  - src: a\n    dst: b\n"

  test("flow lists parse as lists") {
    val cfg = ConfigYaml.fromYaml(minimal.replace("  table: t\n",
      "  table: t\n  skip-duplicates-with: [kafka_partition, kafka_offset]\n"))
    assert(cfg.target.skipDuplicatesWith == Seq("kafka_partition", "kafka_offset"))
  }

  test("quoted scalars unescape") {
    val cfg = ConfigYaml.fromYaml(minimal.replace("  topic: t\n",
      "  topic: t\n  message-filters:\n    - key: status\n      allowed_value: 'it''s'\n"))
    assert(cfg.source.messageFilters == Seq(MessageFilter("status", "it's")))
  }

  test("a collection where a scalar is expected raises ParseError") {
    intercept[ConfigYaml.ParseError](ConfigYaml.fromYaml(minimal.replace("topic: t", "topic: [a]")))
    intercept[ConfigYaml.ParseError](
      CurateConfig.fromYaml("input: a\noutput: b\ndq:\n  not-null: [a, b]\n"))
  }

  test("malformed YAML raises ParseError naming its position") {
    val e = intercept[ConfigYaml.ParseError](
      ConfigYaml.fromYaml(minimal.replace("topic: t", "topic: a: b")))
    assert(e.getMessage.contains("line 2"))
  }

  test("a collection alias raises ParseError") {
    intercept[ConfigYaml.ParseError](
      ConfigYaml.fromYaml(minimal + "columns: &cols [a, b]\nsame-columns: *cols\n"))
  }
}

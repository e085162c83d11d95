package graft

import org.apache.spark.sql.functions._

import graft.sinks.JdbcSink
import graft.sources.MessageSource

/** Production source/sink edges that need no broker/DB server:
  *  - the exact Kafka reader options built for a DATA_INTERVAL (the only
  *    untestable-at-runtime branch — asserted by construction instead);
  *  - the JDBC sink against embedded Derby (write, existing, and the
  *    missing-table vs real-failure distinction that guards J2).
  */
class SourcesSinksSpec extends SparkSpec {

  test("S1 kafka reader options: global timestamp bounds, no per-partition map") {
    val opts = MessageSource.kafkaOptions("b1:9092,b2:9092", "mytopic", 1700000000000L, 1700003600000L)
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "b1:9092,b2:9092",
      "subscribe" -> "mytopic",
      "startingTimestamp" -> "1700000000000",
      "endingTimestamp" -> "1700003600000",
      // empty-partition parity: offsets_for_times -> -1 is skip-with-warning
      // in the reference (kafka_source.py:236-244), not a job failure.
      "startingOffsetsByTimestampStrategy" -> "latest"))
    // The *OffsetsByTimestamp OPTIONS (which require explicit per-partition
    // maps and have no "-1" wildcard) must NOT appear in the subscribe form.
    // The ...ByTimestampStrategy key is NOT one of them — it's a scalar
    // policy knob, excluded from the property by exact name.
    val perPartitionMapKeys =
      opts.keys.filter(k => k.toLowerCase.contains("bytimestamp") &&
        k != "startingOffsetsByTimestampStrategy")
    assert(perPartitionMapKeys.isEmpty)
  }

  test("S1 kafka reader options, assign form: per-partition timestamp maps (kafka_source.py:183-190)") {
    val opts = MessageSource.kafkaOptionsAssign(
      "b1:9092", "t", Seq(2, 0, 1), 1700000000000L, 1700003600000L)
    // Partitions sorted regardless of input order; maps are literal JSON in
    // the shape Spark's Kafka source parses: {"topic":{"partition":ts}}.
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "b1:9092",
      "assign" -> """{"t":[0,1,2]}""",
      "startingOffsetsByTimestamp" -> """{"t":{"0":1700000000000,"1":1700000000000,"2":1700000000000}}""",
      "endingOffsetsByTimestamp" -> """{"t":{"0":1700003600000,"1":1700003600000,"2":1700003600000}}""",
      "startingOffsetsByTimestampStrategy" -> "latest"))
  }

  test("S1 msFromTimestamp: epoch-edge reconstruction incl. negative instants and sub-second carry") {
    import spark.implicits._
    // Instants built via timestamp_micros (session-TZ-independent by
    // construction — no shared-session TZ mutation, which would race other
    // suites under sbt's parallel execution) -> expected epoch-ms longs, the
    // reference's msg.timestamp()[1] (kafka_source.py:200). Negative instants
    // and sub-ms micros exercise the floorDiv path: -1 µs floors to -1 ms,
    // never rounds to 0.
    val cases = Seq(
      0L -> 0L,
      1000L -> 1L,
      999L -> 0L,            // sub-ms truncates toward -inf
      -1L -> -1L,            // ...so -1 µs is already the previous ms
      -999L -> -1L,
      -1000L -> -1L,
      -1001L -> -2L,
      999000L -> 999L,
      -999000L -> -999L,
      -1000000L -> -1000L,
      -172799500000L -> -172799500L,
      1700000000123456L -> 1700000000123L)
    val got = cases.map(_._1).toDF("us")
      .select(MessageSource.msFromTimestamp(timestamp_micros(col("us"))).as("ms"))
      .as[Long].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("ST1 end-exclusivity: Spark [start,end) vs the reference's inclusive boundary message (accepted mapping)") {
    import spark.implicits._
    // Messages at ts 100,200,300 in one partition; interval [100, 300).
    val rows = Seq(100L, 200L, 300L).zipWithIndex.map { case (ts, i) =>
      (Array[Byte](1), s"""{"v":$i}""".getBytes("UTF-8"), "t", 0, i.toLong, ts)
    }
    val df = MessageSource.fromRows(spark, rows)
    val batch = df.filter(col("timestamp") >= 100L && col("timestamp") < 300L)
    // Spark semantics (this engine): the ts=300 boundary message is NOT in
    // this batch — it lands in the next interval exactly once.
    assert(batch.select("offset").as[Long].collect().toSet == Set(0L, 1L))
    // The reference's loop (kafka_source.py:327-333) would ALSO append the
    // first message with ts >= end before retiring the partition, i.e.
    // {0,1,2}, and the NOT-EXISTS sink absorbs the duplicate on the next
    // run. Union of consecutive engine intervals equals the reference's
    // distinct sink contents — pin that equivalence:
    val next = df.filter(col("timestamp") >= 300L && col("timestamp") < 500L)
    assert(batch.union(next).select("offset").as[Long].collect().toSet == Set(0L, 1L, 2L))
  }

  private def derbyUrl(): String = {
    val dir = scratchDir("graft-derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  test("S8 JdbcSink round-trip on embedded Derby: write appends, existing projects") {
    val url = derbyUrl()
    val sink = new JdbcSink(url, "events_t", batchSize = 100)
    val df = spark.range(5).select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
    sink.write(df)
    sink.write(df.where(col("k") < 2)) // append semantics
    val ex = sink.existing(spark, Seq("k"))
    assert(ex.isDefined)
    assert(ex.get.count() == 7)
    assert(ex.get.columns.toSeq == Seq("k"))
  }

  test("S8 mergeSql golden: exact dup-check INSERT text per dialect (oracle_target.py:95-104)") {
    import org.apache.spark.sql.types._
    import graft.config.ColumnTypeOverride
    val schema = StructType(Seq(
      StructField("kafka_hash", StringType),
      StructField("kafka_message", StringType),
      StructField("lastet_dato", TimestampType)))
    val overrides = Seq(ColumnTypeOverride("kafka_message", "CLOB"))
    // Derby/embedded dialect: dual is SYSIBM.SYSDUMMY1.
    val derby = new JdbcSink("jdbc:derby:memory:x", "events_t", columnTypes = overrides)
    assert(derby.mergeSql(schema, Seq("kafka_hash")) ==
      """INSERT INTO events_t ("kafka_hash", "kafka_message", "lastet_dato")
        |SELECT CAST(? AS VARCHAR(4000)), CAST(? AS CLOB), CAST(? AS TIMESTAMP) FROM SYSIBM.SYSDUMMY1
        |WHERE NOT EXISTS (SELECT 1 FROM events_t x WHERE x."kafka_hash" = CAST(? AS VARCHAR(4000)))""".stripMargin)
    // Oracle dialect: dual relation; multi-key dup check ANDs each key.
    val ora = new JdbcSink("jdbc:oracle:thin:@db:1521/svc", "DVH.EVENTS", columnTypes = overrides)
    assert(ora.mergeSql(schema, Seq("kafka_hash", "lastet_dato")) ==
      """INSERT INTO DVH.EVENTS ("kafka_hash", "kafka_message", "lastet_dato")
        |SELECT CAST(? AS VARCHAR(4000)), CAST(? AS CLOB), CAST(? AS TIMESTAMP) FROM dual
        |WHERE NOT EXISTS (SELECT 1 FROM DVH.EVENTS x WHERE x."kafka_hash" = CAST(? AS VARCHAR(4000)) AND x."lastet_dato" = CAST(? AS TIMESTAMP))""".stripMargin)
  }

  test("S8 createTableColumnTypes golden: the declarative stand-in for setinputsizes (base.py:35-42)") {
    import graft.config.ColumnTypeOverride
    val sink = new JdbcSink("jdbc:derby:memory:x", "t",
      columnTypes = Seq(
        ColumnTypeOverride("kafka_message", "CLOB"),
        ColumnTypeOverride("big_note", "VARCHAR(32000)")))
    assert(sink.createTableTypesOption.contains("kafka_message CLOB, big_note VARCHAR(32000)"))
    assert(new JdbcSink("jdbc:derby:memory:x", "t").createTableTypesOption.isEmpty)
  }

  test("S8 JdbcSink.existing: missing table -> None (first run against fresh target)") {
    val sink = new JdbcSink(derbyUrl(), "never_created")
    assert(sink.existing(spark, Seq("k")).isEmpty)
  }

  test("S8/J2 writeSkipDuplicates: dup check inside each INSERT, idempotent re-write") {
    val url = derbyUrl()
    val sink = new JdbcSink(url, "dedup_t", batchSize = 3) // multiple flush/commit rounds
    val df = spark.range(10).select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
    assert(sink.writeSkipDuplicates(df, Seq("k")) == 10) // fresh target auto-created
    // overlapping re-write (task-retry / second run shape): only the 5 new land
    val df2 = spark.range(5, 15).select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
    assert(sink.writeSkipDuplicates(df2, Seq("k")) == 5)
    assert(sink.existing(spark, Seq("k")).get.count() == 15)
    // exact replay is a no-op
    assert(sink.writeSkipDuplicates(df, Seq("k")) == 0)
  }

  test("S8/J2 writeSkipDuplicates: concurrent overlapping writers converge, zero dupes") {
    val url = derbyUrl()
    val sink = new JdbcSink(url, "conc_t", batchSize = 5)
    // Create table + unique index serially; the race under test is row
    // writes, not first-run DDL.
    sink.writeSkipDuplicates(
      spark.range(0).select(col("id").as("k"), col("id").cast("string").as("s")), Seq("k"))
    val a = spark.range(0, 40).select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
    val b = spark.range(20, 60).select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(sink.writeSkipDuplicates(a, Seq("k"), numConnections = 2))
    val fb = Future(sink.writeSkipDuplicates(b, Seq("k"), numConnections = 2))
    val total = Await.result(fa, 3.minutes) + Await.result(fb, 3.minutes)
    assert(total == 60) // each row inserted exactly once across both writers
    assert(sink.existing(spark, Seq("k")).get.count() == 60)
  }

  test("S8 JdbcSink.existing: connectivity failure propagates (no silent dedup degrade)") {
    // No network Derby server is running and no client driver is present:
    // this must THROW, not return None — returning None would silently turn
    // sink-level dedup into intra-batch-only dedup and double-insert.
    val sink = new JdbcSink("jdbc:derby://localhost:52763/nope", "events_t")
    intercept[Exception] {
      sink.existing(spark, Seq("k"))
    }
  }

  test("S10 ConsoleSink renders rows to stdout; existing is None (no dedup source)") {
    import graft.sinks.ConsoleSink
    import spark.implicits._
    val sink = new ConsoleSink(numRows = 5)
    val df = Seq((1L, "alpha"), (2L, "bravo")).toDF("id", "name")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      sink.write(df)
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("alpha") && printed.contains("bravo") && printed.contains("id"))
    assert(sink.existing(spark, Seq("id")).isEmpty)
    // forTarget routing: the literal table name `console` selects this sink
    val routed = graft.sinks.Sinks.forTarget(graft.config.TargetConfig(table = "console"))
    assert(routed.isInstanceOf[ConsoleSink])
  }

  test("JsonlSource: good lines round-trip typed, corrupt lines carry their raw bytes, field-level nulls stay per-field") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = scratchDir("jsonl-spec").toString
    val lines = Seq(
      """{"id": 1, "name": "alpha", "n": 10}""",
      """not json at all""",
      """{"id": 3, "name": "gamma"}""",          // missing field -> null n, NOT corrupt
      """{"id": "NaN-ish", "name": "delta", "n": 4}""") // wrong-typed id -> null field
    spark.createDataset(lines).toDF("value").coalesce(1).write.text(s"$dir/in")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("n", IntegerType)))
    val out = graft.sources.JsonlSource.read(spark, s"$dir/in", schema)
      .orderBy(col("name").asc_nulls_last)
      .collect().map(r => (Option(r.get(0)), r.getAs[String]("name"),
        Option(r.get(2)), Option(r.getAs[String](graft.sources.JsonlSource.corruptField))))
      .toSeq
    assert(out(0) == ((Some(1L), "alpha", Some(10), None)))
    assert(out(1)._2 == "delta" && out(1)._1.isEmpty) // wrong-typed field nulled
    assert(out(2) == ((Some(3L), "gamma", None, None)))
    val corrupt = out(3)
    assert(corrupt._2 == null && corrupt._4.contains("not json at all"))
    graft.QueriesExt.rmTree(new java.io.File(dir))
  }
}

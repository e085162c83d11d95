package graft

import java.sql.Timestamp

import org.apache.spark.sql.types._

import graft.config._
import graft.sinks.ParquetSink
import graft.sources.MessageSource

/** End-to-end pipeline semantics, mirroring the reference's integration
  * contract (`/root/reference/src/development/test_integration.py:214-237`):
  * a second run over the same interval writes ZERO new rows (dedup), and the
  * ProcessSummary counters account for every message.
  */
class PipelineSpec extends SparkSpec {

  private def mkRaw(n: Int) = MessageSource.fromRows(spark,
    (0 until n).map { i =>
      val v = if (i % 5 == 0) "{malformed" else s"""{"k": ${i % 3}}"""
      (s"key$i".getBytes("UTF-8"), v.getBytes("UTF-8"), "t", i % 4, i.toLong, 1700000000000L + i)
    })

  private val cfg = PipelineConfig(
    source = SourceConfig(topic = "t"),
    target = TargetConfig(table = "unused",
      skipDuplicatesWith = Seq("kafka_partition", "kafka_offset", "kafka_topic")),
    transform = Seq(
      TransformRule("kafka_key", "kafka_key"),
      TransformRule("kafka_partition", "kafka_partition"),
      TransformRule("kafka_offset", "kafka_offset"),
      TransformRule("kafka_topic", "kafka_topic"),
      TransformRule("kafka_message", "kafka_message"),
      TransformRule("$$BATCH_TIME", "lastet_tid"))).validated

  test("run + rerun: incremental consumption writes no duplicates; summary accounts") {
    val out = scratchDir("graft-pipe").toString + "/sink"
    val pipe = new Pipeline(cfg, StructType(Seq(StructField("k", LongType))),
      batchTime = Timestamp.valueOf("2024-06-01 12:00:00"))
    val sink = new ParquetSink(out)

    val s1 = pipe.run(spark, mkRaw(20), sink)
    assert(s1.eventCount == 20)
    assert(s1.errorCount == 4)  // i % 5 == 0
    assert(s1.emptyCount == 4)  // malformed -> null message
    assert(s1.nonEmptyCount == 16)
    assert(s1.writtenToDbCount == 20)
    assert(spark.read.parquet(out).count() == 20)

    // Second run over the same interval: anti-join against the sink -> 0 new.
    val s2 = pipe.run(spark, mkRaw(20), sink)
    assert(s2.writtenToDbCount == 0)
    assert(spark.read.parquet(out).count() == 20)

    // A wider interval writes exactly the delta.
    val s3 = pipe.run(spark, mkRaw(30), sink)
    assert(s3.writtenToDbCount == 10)
    assert(spark.read.parquet(out).count() == 30)

    // xcom JSON shape
    assert(s1.xcomJson.contains("\"event_count\":20"))
  }

  test("a file:// sink is found on rerun: no duplicates, delta watermark read") {
    val out = "file://" + scratchDir("graft-uri").toString + "/sink"
    val pipe = new Pipeline(cfg.copy(transform = cfg.transform :+
      TransformRule("kafka_timestamp", "ts_no", fun = Some("int-unix-ms -> datetime-no"))),
      StructType(Seq(StructField("k", LongType))),
      batchTime = Timestamp.valueOf("2024-06-01 12:00:00"))
    val sink = new ParquetSink(out)
    assert(pipe.run(spark, mkRaw(20), sink).writtenToDbCount == 20)
    assert(pipe.run(spark, mkRaw(20), sink).writtenToDbCount == 0)
    assert(spark.read.parquet(out).count() == 20)
    // last message: 1700000000019 ms = 2023-11-14 22:13:20.019 UTC -> Oslo +1
    assert(sink.maxWatermark(spark, "ts_no").contains(Timestamp.valueOf("2023-11-14 23:13:20.019")))
  }

  test("A2 summary facets ride the write job: exactly ONE source scan/job") {
    val out = scratchDir("graft-onescan").toString + "/sink"
    // No dedup keys -> no sink read; the whole run must be the single write
    // job, with BOTH observe() metrics filled by it (with a real Kafka source
    // a second facet pass would re-read the topic).
    val pipe = new Pipeline(cfg.copy(target = cfg.target.copy(skipDuplicatesWith = Nil)),
      StructType(Seq(StructField("k", LongType))),
      batchTime = Timestamp.valueOf("2024-06-01 12:00:00"))
    val sc = spark.sparkContext
    sc.setJobGroup("one-scan", "single-pass summary assertion")
    val s = try pipe.run(spark, mkRaw(20), new ParquetSink(out)) finally sc.clearJobGroup()
    assert(s.eventCount == 20 && s.errorCount == 4 && s.emptyCount == 4
      && s.nonEmptyCount == 16 && s.writtenToDbCount == 20)
    assert(sc.statusTracker.getJobIdsForGroup("one-scan").length == 1)
  }

  test("delta watermark from the sink (S11/A1)") {
    val out = scratchDir("graft-wm").toString + "/sink"
    val pipe = new Pipeline(cfg.copy(transform = cfg.transform :+
      TransformRule("kafka_timestamp", "ts_no", fun = Some("int-unix-ms -> datetime-no"))),
      StructType(Seq(StructField("k", LongType))))
    val sink = new ParquetSink(out)
    pipe.run(spark, mkRaw(10), sink)
    val wm = sink.maxWatermark(spark, "ts_no")
    assert(wm.isDefined)
    // last message: 1700000000009 ms = 2023-11-14 22:13:20.009 UTC -> Oslo +1
    assert(wm.get == Timestamp.valueOf("2023-11-14 23:13:20.009"))
  }
}

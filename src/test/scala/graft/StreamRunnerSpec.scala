package graft

import java.sql.Timestamp

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.config._
import graft.sinks.ParquetSink
import graft.sources.MessageSource
import graft.streaming.StreamRunner

/** ST2 subscribe-strategy semantics via Structured Streaming AvailableNow:
  * run-to-end-then-stop, checkpointed offsets, idempotent sink writes.
  */
class StreamRunnerSpec extends SparkSpec {

  private val msgSchema = MessageSource.schema

  private def writeMessages(dir: String, from: Int, until: Int): Unit =
    MessageSource.fromRows(spark, (from until until).map { i =>
      (s"k$i".getBytes("UTF-8"), s"""{"k": $i}""".getBytes("UTF-8"),
        "t", i % 2, i.toLong, 1700000000000L + i)
    }).write.mode("append").parquet(dir)

  private val cfg = PipelineConfig(
    source = SourceConfig(topic = "t", strategy = ConsumerStrategy.Subscribe),
    target = TargetConfig(table = "unused",
      skipDuplicatesWith = Seq("kafka_partition", "kafka_offset", "kafka_topic")),
    transform = Seq(
      TransformRule("kafka_key", "kafka_key"),
      TransformRule("kafka_partition", "kafka_partition"),
      TransformRule("kafka_offset", "kafka_offset"),
      TransformRule("kafka_topic", "kafka_topic"),
      TransformRule("k", "k"))).validated

  test("AvailableNow drains the log, commits offsets, resumes with only new data") {
    val base = scratchDir("graft-stream").toString
    val srcDir = s"$base/topic"
    val sinkDir = s"$base/sink"
    val ckpt = s"$base/ckpt"
    writeMessages(srcDir, 0, 10)

    val pipe = new Pipeline(cfg, StructType(Seq(StructField("k", LongType))),
      batchTime = Timestamp.valueOf("2024-06-01 12:00:00"))
    val sink = new ParquetSink(sinkDir)

    def stream = spark.readStream.schema(msgSchema).parquet(srcDir)

    val r1 = new StreamRunner(pipe, sink, ckpt)
    r1.runAvailableNow(spark, stream)
    assert(r1.summary.eventCount == 10)
    assert(r1.summary.writtenToDbCount == 10)
    assert(spark.read.parquet(sinkDir).count() == 10)

    // New messages arrive; a fresh run consumes ONLY them (checkpoint holds
    // the committed offsets — the reference's consumer-group semantics).
    writeMessages(srcDir, 10, 15)
    val r2 = new StreamRunner(pipe, sink, ckpt)
    r2.runAvailableNow(spark, stream)
    assert(r2.summary.eventCount == 5)
    assert(r2.summary.writtenToDbCount == 5)
    assert(spark.read.parquet(sinkDir).count() == 15)

    // Replay protection: wiping the checkpoint replays the whole log, but the
    // J2 anti-join keeps the sink duplicate-free (effectively-once).
    val r3 = new StreamRunner(pipe, sink, s"$base/ckpt2")
    r3.runAvailableNow(spark, stream)
    assert(r3.summary.eventCount == 15)
    assert(r3.summary.writtenToDbCount == 0)
    assert(spark.read.parquet(sinkDir).count() == 15)
  }

  test("crash-resumed run reports the WHOLE logical run; next scheduled run only its own") {
    val base = scratchDir("graft-stream-crash").toString
    val srcDir = s"$base/topic"
    val sinkDir = s"$base/sink"
    val ckpt = s"$base/ckpt"
    // two source files -> two micro-batches under maxFilesPerTrigger=1
    MessageSource.fromRows(spark, (0 until 10).map { i =>
      (s"k$i".getBytes("UTF-8"), s"""{"k": $i}""".getBytes("UTF-8"), "t", i % 2, i.toLong, 1700000000000L + i)
    }).coalesce(1).write.mode("append").parquet(srcDir)
    MessageSource.fromRows(spark, (10 until 15).map { i =>
      (s"k$i".getBytes("UTF-8"), s"""{"k": $i}""".getBytes("UTF-8"), "t", i % 2, i.toLong, 1700000000000L + i)
    }).coalesce(1).write.mode("append").parquet(srcDir)

    val pipe = new Pipeline(cfg, StructType(Seq(StructField("k", LongType))),
      batchTime = Timestamp.valueOf("2024-06-01 12:00:00"))
    // Sink that dies on its second write — simulates a driver crash after
    // batch 0 committed (record written) but before the run finished.
    class TrippingSink(inner: ParquetSink) extends graft.sinks.GraftSink {
      @volatile var writes = 0
      @volatile var armed = true
      override def write(df: org.apache.spark.sql.DataFrame): Unit = {
        if (armed && writes >= 1) throw new RuntimeException("simulated crash")
        writes += 1; inner.write(df)
      }
      override def existing(s: org.apache.spark.sql.SparkSession, cols: Seq[String]) =
        inner.existing(s, cols)
    }
    val inner = new ParquetSink(sinkDir)
    val sink = new TrippingSink(inner)
    def stream = spark.readStream.option("maxFilesPerTrigger", 1).schema(msgSchema).parquet(srcDir)

    val attempt1 = new StreamRunner(pipe, sink, ckpt)
    intercept[Exception](attempt1.runAvailableNow(spark, stream))
    assert(spark.read.parquet(sinkDir).count() == 10) // batch 0 landed

    // Retry over the same checkpoint: processes only the failed batch, but
    // its summary covers the WHOLE logical run including the dead attempt's
    // committed batch 0.
    sink.armed = false
    val retry = new StreamRunner(pipe, sink, ckpt)
    retry.runAvailableNow(spark, stream)
    assert(retry.summary.eventCount == 15, "resumed run must report the whole logical run")
    assert(retry.summary.writtenToDbCount == 15)
    assert(spark.read.parquet(sinkDir).count() == 15)

    // A NEW scheduled run over the same checkpoint reports only ITS batches.
    MessageSource.fromRows(spark, (15 until 20).map { i =>
      (s"k$i".getBytes("UTF-8"), s"""{"k": $i}""".getBytes("UTF-8"), "t", i % 2, i.toLong, 1700000000000L + i)
    }).coalesce(1).write.mode("append").parquet(srcDir)
    val next = new StreamRunner(pipe, sink, ckpt)
    next.runAvailableNow(spark, stream)
    assert(next.summary.eventCount == 5, "scheduled run must not re-report prior runs")
    assert(spark.read.parquet(sinkDir).count() == 20)
  }

  test("a file:// checkpoint keeps its run records under <checkpoint>/graft-summary") {
    val base = scratchDir("graft-stream-uri")
    val srcDir = s"$base/topic"
    val ckpt = s"file://$base/ckpt"
    val pipe = new Pipeline(cfg, StructType(Seq(StructField("k", LongType))),
      batchTime = Timestamp.valueOf("2024-06-01 12:00:00"))
    val sink = new ParquetSink(s"$base/sink")
    def stream = spark.readStream.schema(msgSchema).parquet(srcDir)
    def records = Option(base.resolve("ckpt/graft-summary").toFile.list()).toSeq.flatten
      .filter(_.matches("batch-\\d+")).sorted

    writeMessages(srcDir, 0, 10)
    val r1 = new StreamRunner(pipe, sink, ckpt)
    r1.runAvailableNow(spark, stream)
    assert(records == Seq("batch-0"))
    assert(r1.summary.eventCount == 10)

    writeMessages(srcDir, 10, 15)
    val r2 = new StreamRunner(pipe, sink, ckpt)
    r2.runAvailableNow(spark, stream)
    assert(records == Seq("batch-0", "batch-1"))
    assert(r2.summary.eventCount == 5, "a scheduled run reports only its own batches")
    assert(r2.summary.writtenToDbCount == 5)
    assert(spark.read.parquet(s"$base/sink").count() == 15)
  }
}

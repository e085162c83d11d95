package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{SchemaMode, SourceConfig}
import graft.operators.Envelope
import graft.sinks.Sinks

/** S9: the producer frame round-trips through the consumer path — what the
  * reference's AvroSerializer writes, its deserializer (and ours) must read.
  */
class KafkaSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schemaJson =
    """{"type":"record","name":"out","fields":[
      |{"name":"id","type":"long"},{"name":"label","type":"string"}]}""".stripMargin

  test("kafkaAvroFrame produces wire-format values the Avro envelope decodes") {
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "label")
    val frame = Sinks.kafkaAvroFrame(src, struct(col("id"), col("label")), schemaJson, schemaId = 9)
    assert(frame.schema.map(f => (f.name, f.dataType)) ==
      Seq(("key", BinaryType), ("value", BinaryType)))

    // Feed the produced frame straight back through the consumer envelope.
    val raw = frame.select(col("key"), col("value"), lit("out").as("topic"),
      lit(0).as("partition"), monotonically_increasing_id().as("offset"),
      lit(1700000000000L).as("timestamp"))
    val payloadSchema = StructType(Seq(StructField("id", LongType), StructField("label", StringType)))
    val env = Envelope.avro(raw, SourceConfig(topic = "out", schemaMode = SchemaMode.Avro),
      Map(9 -> schemaJson), payloadSchema)
    val got = env.select(col("kafka_schema_id"), col("payload"))
      .collect().map(r => (r.getInt(0), r.getAs[Row](1).getLong(0), r.getAs[Row](1).getString(1)))
      .sortBy(_._2)
    assert(got.toSeq == Seq((9, 1L, "a"), (9, 2L, "b"), (9, 3L, "c")))
  }

  test("producer keys are deterministic (replay-stable) and spread") {
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "label")
    val k1 = Sinks.kafkaAvroFrame(src, struct(col("id"), col("label")), schemaJson, 9)
      .select("key").as[Array[Byte]].collect().map(_.toSeq)
    val k2 = Sinks.kafkaAvroFrame(src, struct(col("id"), col("label")), schemaJson, 9)
      .select("key").as[Array[Byte]].collect().map(_.toSeq)
    assert(k1.toSeq == k2.toSeq)
    assert(k1(0) != k1(1))
  }
}

package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._

/** S5: Confluent wire-format Avro decode built directly on avro-core (the
  * runtime ships no spark-avro connector jar), mirroring
  * `/root/reference/src/kafka_source.py:129-151`.
  *
  * The caller supplies the writer schemas by id when it builds the plan; they
  * ship to executors as JSON strings inside the closure — never a per-row or
  * per-partition registry fetch (SURVEY §7.4(6)). Decoding happens per-row
  * through a deserializer cached per-JVM per-schema. A message the decoder
  * cannot read (no wire magic, an id with no schema, a corrupt datum) decodes
  * to NULL, which the envelope counts as an error: one failure rule.
  *
  * This is the one non-codegen scalar in the engine (an honest trade: the
  * reference's DatumReader path is equally interpreted); everything around it
  * — header strip, hash, field ops — stays codegen'd.
  */
object ConfluentAvro {

  // Per-executor-JVM reader cache keyed by schema JSON (schemas are interned
  // strings from the broadcast closure, so this stays tiny).
  @transient private lazy val readers = TrieMap.empty[String, GenericDatumReader[GenericRecord]]

  private def reader(schemaJson: String): GenericDatumReader[GenericRecord] =
    readers.getOrElseUpdate(schemaJson, {
      val s = new Schema.Parser().parse(schemaJson)
      new GenericDatumReader[GenericRecord](s)
    })

  // Encoder twin of `readers`: parsed schema + DatumWriter cached per JVM.
  // GenericDatumWriter keeps no per-call state, so sharing across threads is
  // safe; without this the encode UDF re-parses the schema per row.
  @transient private lazy val writers =
    TrieMap.empty[String, (Schema, org.apache.avro.generic.GenericDatumWriter[GenericRecord])]

  private def writer(schemaJson: String): (Schema, org.apache.avro.generic.GenericDatumWriter[GenericRecord]) =
    writers.getOrElseUpdate(schemaJson, {
      val s = new Schema.Parser().parse(schemaJson)
      (s, new org.apache.avro.generic.GenericDatumWriter[GenericRecord](s))
    })

  private def convert(value: Any, dt: DataType): Any = (value, dt) match {
    case (null, _) => null
    case (r: GenericRecord, st: StructType) =>
      // Probe by name: a field absent from THIS writer schema (older schema
      // version under id dispatch) is NULL in the reader view;
      // Record.get(name) would throw on it.
      Row.fromSeq(st.fields.map { f =>
        val af = r.getSchema.getField(f.name)
        if (af == null) null else convert(r.get(af.pos()), f.dataType)
      }.toIndexedSeq)
    case (l: java.util.List[_], ArrayType(et, _)) =>
      l.asInstanceOf[java.util.List[Any]].toArray.map(convert(_, et)).toSeq
    case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
      import scala.jdk.CollectionConverters._
      m.asInstanceOf[java.util.Map[Any, Any]].asScala.map { case (k, v) => k.toString -> convert(v, vt) }.toMap
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case (i: java.lang.Integer, LongType) => i.longValue()
    case (i: java.lang.Long, LongType) => i
    case (f: java.lang.Float, DoubleType) => f.doubleValue()
    case (d: java.lang.Double, DoubleType) => d
    case (x, _) => x
  }

  /** Per-message schema-id dispatch over FULL wire-format bytes (magic byte +
    * big-endian int32 schema id + datum): each message is decoded against ITS
    * OWN writer schema, looked up in `schemasById` — the reference's
    * per-message `schema_cache` dispatch (`/root/reference/src/kafka_source.py:129-133,153-161`)
    * and the behavior a long-lived topic with schema evolution requires. A
    * single writer schema is a one-entry map.
    *
    * Records are projected onto `sparkSchema` BY FIELD NAME, so a writer
    * schema missing a newer field yields null there (Avro forward-compat
    * reads without needing per-pair schema resolution).
    *
    * A message without the wire magic, with an id absent from the map, or
    * with a datum that does not decode yields NULL — the caller routes it to
    * the count-and-continue error channel (ST5) instead of failing the job;
    * at 100 TB a task retry storm over one stray message is the wrong
    * failure mode.
    */
  def decode(value: Column, schemasById: Map[Int, String], sparkSchema: StructType): Column = {
    val fn = (bytes: Array[Byte]) =>
      // Wire-format check (magic byte 0x00) BEFORE the id read: a non-wire
      // payload's bytes 1-4 are arbitrary, and if they collide with a
      // registered id the datum could decode "successfully" into garbage —
      // route it to the error channel explicitly, like the reference's
      // magic-byte guard (`/root/reference/src/kafka_source.py:133-137`).
      if (bytes == null || bytes.length < 6 || bytes(0) != 0) null
      else {
        val id = ((bytes(1) & 0xFF) << 24) | ((bytes(2) & 0xFF) << 16) | ((bytes(3) & 0xFF) << 8) | (bytes(4) & 0xFF)
        schemasById.get(id) match {
          case None => null
          case Some(schemaJson) =>
            // A malformed/truncated datum under a KNOWN id must also take the
            // count-and-continue channel — an uncaught decode throw here would
            // be a task-retry storm over one stray message, the very failure
            // mode this path exists to avoid.
            try {
              val dec = DecoderFactory.get().binaryDecoder(bytes, 5, bytes.length - 5, null)
              val rec = reader(schemaJson).read(null, dec)
              convert(rec, sparkSchema).asInstanceOf[Row]
            } catch { case scala.util.control.NonFatal(_) => null }
        }
      }
    udf(fn, sparkSchema).apply(value)
  }

  /** Confluent wire-format ENCODER — the test/round-trip twin of [[decode]]
    * (and the S9 Kafka-producer path, `/root/reference/src/kafka_target.py:39-52`):
    * magic byte 0x00 + big-endian int32 schema id + binary-encoded datum.
    * Input is a struct column whose fields match the writer schema's record
    * fields positionally (long/string/double/boolean/bytes primitives).
    */
  def encode(datum: Column, writerSchemaJson: String, schemaId: Int): Column = {
    val fn = (row: Row) =>
      if (row == null) null
      else {
        val (schema, datumWriter) = writer(writerSchemaJson)
        val rec = new org.apache.avro.generic.GenericData.Record(schema)
        schema.getFields.forEach { f =>
          rec.put(f.name(), row.get(f.pos()) match {
            case s: String => new org.apache.avro.util.Utf8(s)
            case other => other
          })
        }
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(0)
        bos.write(java.nio.ByteBuffer.allocate(4).putInt(schemaId).array())
        val enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(bos, null)
        datumWriter.write(rec, enc)
        enc.flush()
        bos.toByteArray
      }
    udf(fn.asInstanceOf[AnyRef], BinaryType).apply(datum)
  }
}

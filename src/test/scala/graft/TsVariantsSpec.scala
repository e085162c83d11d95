package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timestamp-variant contract: the SAME events slice written with three
  * different physical `ts` types — Long epoch-nanos (what TIMESTAMP(NANOS)
  * parquet reads as under `nanosAsLong`), naive TimestampNTZ (the
  * pandas/pyarrow default), and instant TimestampType — must produce
  * IDENTICAL results through [[graft.sources.EventsTable]] /
  * [[graft.sources.MessageSource.fromEvents]].
  *
  * This is the regression guard for the round-7 board collapse: a testdata
  * regeneration flipped `ts` from ns-long to timestamp[us] and 30 queries
  * died at analysis time. Reference semantics are type-tolerant
  * (`/root/reference/src/transform.py:63-87`); so is graft, now provably.
  */
class TsVariantsSpec extends SparkSpec {

  // 2024-06-15T12:00:00Z and offsets; micros precision (what all three
  // physical types can represent exactly).
  private val baseMicros = 1718452800000000L
  private val rows = Seq(
    (1L, 101L, """{"k": 1}""", baseMicros),
    (2L, 102L, """{"k": 2}""", baseMicros + 1500000L),      // +1.5 s
    (3L, 103L, """{"k": 3}""", baseMicros + 86400000123L),  // +1 day +123 us
    (4L, 104L, """{"k": 4}""", 499999999999999L))           // pre-2000, odd micros

  private def writeVariant(dir: String, tsType: DataType): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("props", StringType), StructField("ts", tsType)))
    val data = rows.map { case (id, uid, props, us) =>
      val ts: Any = tsType match {
        case LongType => us * 1000L // epoch-nanos
        case TimestampType => java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
        case TimestampNTZType => java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L),
          java.time.ZoneOffset.UTC)
        case other => fail(s"unexpected variant type $other")
      }
      Row(id, uid, props, ts)
    }
    spark.createDataFrame(data.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def variants(): Seq[(String, String)] = {
    val root = scratchDir("ts-variants").toString
    Seq("nanos-long" -> LongType, "timestamp" -> TimestampType,
        "timestamp-ntz" -> TimestampNTZType).map { case (name, t) =>
      val dir = s"$root/$name"
      writeVariant(dir, t)
      name -> dir
    }
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.orderBy("event_id").collect().toSeq.map(_.toString)

  test("EventsTable.load normalizes all three physical ts types to identical Long nanos") {
    val out = variants().map { case (name, dir) =>
      val df = graft.sources.EventsTable.load(spark, dir)
      assert(df.schema("ts").dataType === LongType, s"variant $name not Long after load")
      name -> collectSorted(df.select(col("event_id"), col("ts")))
    }
    val (refName, ref) = out.head
    out.tail.foreach { case (name, got) =>
      assert(got === ref, s"variant $name differs from $refName")
    }
    // and the values are the exact expected nanos
    assert(out.head._2 === rows.sortBy(_._1).map { case (id, _, _, us) => s"[$id,${us * 1000L}]" })
  }

  test("fromEvents envelope (key/value/partition/offset/timestamp) identical across variants") {
    val out = variants().map { case (name, dir) =>
      name -> collectSorted(graft.sources.MessageSource.fromEvents(spark, dir)
        .select(col("offset"), col("timestamp"), col("partition"),
          col("key").cast("string"), col("value").cast("string")))
    }
    val ref = out.head._2
    out.tail.foreach { case (name, got) => assert(got === ref, s"variant $name diverges") }
    // broker timestamp is floor(ms) of the instant — check one computed value
    assert(ref.exists(_.contains((baseMicros / 1000L).toString)))
  }

  test("epoch conversions agree with the T8/T9 scalar paths on the normalized column") {
    val (_, dir) = variants().last // NTZ, the shape that broke round 7
    val df = graft.sources.EventsTable.load(spark, dir)
    val got = df.select(
        col("event_id"),
        graft.functions.Conversions.nanosToEpochMs(col("ts")).as("ms"),
        graft.functions.Conversions.unixMillisOslo(
          graft.functions.Conversions.nanosToEpochMs(col("ts"))).cast("string").as("oslo"))
      .orderBy("event_id").collect().toSeq
    rows.sortBy(_._1).zip(got).foreach { case ((_, _, _, us), r) =>
      assert(r.getLong(1) === Math.floorDiv(us, 1000L))
    }
  }
}

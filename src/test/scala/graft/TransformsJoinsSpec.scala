package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config._
import graft.operators.{Joins, Transforms}

class TransformsJoinsSpec extends SparkSpec {
  import spark.implicits._

  private val env = Seq(
    (1L, """x""", 1704067200000L, 7L),
    (2L, """y""", 1704070800000L, 8L))
    .toDF("kafka_offset", "kafka_message", "kafka_timestamp", "k")
    .select(col("kafka_offset"), col("kafka_message"), col("kafka_timestamp"),
      struct(col("k"), struct(lit("id1").as("ident")).as("person")).as("payload"))

  test("T1 $$BATCH_TIME is a frozen bound value; relative dates anchor to it") {
    val bt = Timestamp.valueOf("2024-06-01 12:00:00")
    val out = Transforms(env, Seq(
      TransformRule("$$BATCH_TIME", "lastet_tid"),
      TransformRule("kafka_offset", "off")), bt)
    assert(out.select("lastet_tid").distinct().as[Timestamp].collect().toSeq == Seq(bt))

    // `str -> datetime-no` relative forms take the same bound batch time as
    // their anchor: 2024-06-01 12:00:00 UTC is 14:00 Oslo wall clock (CEST)
    // (over a range, not a local relation, so the optimized plan below
    // keeps its projection instead of being evaluated into a LocalRelation)
    val rel = spark.range(5).select(element_at(
      typedLit(Seq("yesterday", "i går", "2 days ago", "now", "2024-01-15")),
      (col("id") + 1).cast("int")).as("rel"))
    val relOut = Transforms(rel, Seq(
      TransformRule("$$BATCH_TIME", "lastet_tid"),
      TransformRule("rel", "rel_no", fun = Some("str -> datetime-no"))), bt)
    assert(relOut.select(date_format(col("rel_no"), "yyyy-MM-dd HH:mm:ss")).as[String].collect().toSeq ==
      Seq("2024-05-31 14:00:00", "2024-05-31 14:00:00", "2024-05-30 14:00:00",
        "2024-06-01 14:00:00", "2024-01-15 01:00:00"))
    // a bound value, not a literal: the optimizer must not fold it back
    // into the plan (the generated code would then change with every run)
    val optimized = relOut.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[graft.expressions.BatchTime])))
    assert(!optimized.expressions.exists(_.exists {
      case l: org.apache.spark.sql.catalyst.expressions.Literal => l.dataType == TimestampType
      case _ => false
    }), optimized.toString)
  }

  test("T2 $literal and T3 nested payload path") {
    val out = Transforms(env, Seq(
      TransformRule("$KILDE", "kildesystem"),
      TransformRule("person.ident", "ident"),
      TransformRule("k", "saldo")), new Timestamp(0))
    val r = out.head()
    assert(r.getAs[String]("kildesystem") == "KILDE")
    assert(r.getAs[String]("ident") == "id1")
    assert(r.getAs[Long]("saldo") == 7L)
  }

  test("T3 missing path fails at plan build unless allowUndefined") {
    val bt = new Timestamp(0)
    intercept[Transforms.CompileError] {
      Transforms(env, Seq(TransformRule("missing.path", "x")), bt)
    }
    val out = Transforms(env, Seq(TransformRule("missing.path", "x", allowUndefined = true)), bt)
    assert(out.select(col("x").cast("string")).as[String].head() == null)
  }

  test("T4 output columns are exactly the rule list, in order") {
    val out = Transforms(env, Seq(
      TransformRule("kafka_offset", "a"),
      TransformRule("$L", "b"),
      TransformRule("k", "c")), new Timestamp(0))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
  }

  test("unknown transform fun fails at plan build (reference KeyError parity)") {
    intercept[IllegalArgumentException] {
      Transforms(env, Seq(TransformRule("k", "x", fun = Some("no-such-fun"))), new Timestamp(0))
    }
  }

  test("J1 k6 mask: interval-matched ids masked, others untouched, rows preserved") {
    val dim = Seq(
      ("id1", Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-12-31 00:00:00")))
      .toDF("fnr", "gyldig_fra_dato", "gyldig_til_dato")
    val cfg = K6FilterConfig(filterTable = "dim", filterCol = "fnr",
      col = "person.ident", timestamp = "kafka_timestamp")
    val masked = Joins.k6Mask(env, dim, cfg)
    val rows = masked.orderBy("kafka_offset").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("kafka_message") == null)) // both rows carry id1
    // A dim that matches nothing leaves messages intact
    val dim2 = Seq(("other", Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-12-31 00:00:00"))).toDF("fnr", "gyldig_fra_dato", "gyldig_til_dato")
    val untouched = Joins.k6Mask(env, dim2, cfg)
    assert(untouched.where(col("kafka_message").isNotNull).count() == 2)
    // An expired interval does not mask
    val dim3 = Seq(("id1", Timestamp.valueOf("2020-01-01 00:00:00"),
      Timestamp.valueOf("2020-12-31 00:00:00"))).toDF("fnr", "gyldig_fra_dato", "gyldig_til_dato")
    assert(Joins.k6Mask(env, dim3, cfg).where(col("kafka_message").isNotNull).count() == 2)
  }

  test("J1 k6 mask: overlapping validity rows never multiply batch rows; shuffle path agrees") {
    // One person with THREE overlapping intervals (and one covering the probe
    // day twice over): the per-pid interval-array shape must keep exactly one
    // output row per input row.
    val dim = Seq(
      ("id1", Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-12-31 00:00:00")),
      ("id1", Timestamp.valueOf("2024-06-01 00:00:00"), Timestamp.valueOf("2024-07-01 00:00:00")),
      ("id1", Timestamp.valueOf("2023-01-01 00:00:00"), Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("fnr", "gyldig_fra_dato", "gyldig_til_dato")
    val cfg = K6FilterConfig(filterTable = "dim", filterCol = "fnr",
      col = "person.ident", timestamp = "kafka_timestamp")
    val masked = Joins.k6Mask(env, dim, cfg)
    assert(masked.count() == env.count())
    assert(masked.where(col("kafka_message").isNotNull).count() == 0)
    // Large-dimension fallback: same result without the pinned broadcast.
    val shuffled = Joins.k6Mask(env, dim, cfg, broadcastDim = false)
    assert(shuffled.count() == env.count())
    assert(shuffled.where(col("kafka_message").isNotNull).count() == 0)
  }

  test("J2 dedupAgainst: drops sink matches and intra-batch duplicates") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val batch = Seq((2L, "b"), (3L, "c"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val out = Joins.dedupAgainst(batch, existing, Seq("id")).orderBy("id")
    assert(out.as[(Long, String)].collect().toSeq == Seq((3L, "c"), (4L, "d")))
  }

  test("J2 bloom pre-prune: identical rows AND column order to the plain anti-join") {
    val existing = spark.range(500).selectExpr("id", "concat('v', id) AS v")
    val batch = spark.range(400, 900).selectExpr("id", "concat('v', id) AS v")
    val plain = Joins.dedupAgainst(batch, existing, Seq("id"))
    val bloom = Joins.dedupAgainstBloom(batch, existing, Seq("id"), expectedExisting = 500)
    assert(bloom.columns.toSeq == plain.columns.toSeq)
    assert(bloom.orderBy("id").as[(Long, String)].collect().toSeq ==
      plain.orderBy("id").as[(Long, String)].collect().toSeq)
    // multi-key + a tiny filter (high fp pressure) still exact
    val e2 = Seq((1L, "x"), (2L, "y")).toDF("a", "b")
    val b2 = Seq((1L, "x"), (2L, "z"), (3L, "x")).toDF("a", "b")
    val out = Joins.dedupAgainstBloom(b2, e2, Seq("a", "b"), expectedExisting = 2, fpp = 0.5)
      .orderBy("a").as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "z"), (3L, "x")))
  }

  test("asOf: latest dim at-or-before fact time, per key; nulls before first dim") {
    val dim = Seq(
      (1L, 10L, "p10"), (1L, 20L, "p20"),
      (1L, 20L, "p20b"), // same (key, t): max(struct) tie-break keeps p20b
      (2L, 15L, "q15"))
      .toDF("k", "t", "v")
    val facts = Seq(
      (100L, 1L, 5L),   // before any dim -> null
      (101L, 1L, 10L),  // exactly at dim time -> p10 (at-or-before)
      (102L, 1L, 19L),  // between -> p10
      (103L, 1L, 25L),  // after both -> p20b
      (104L, 2L, 99L),  // other key -> q15
      (105L, 3L, 50L))  // key with no dim -> null
      .toDF("fid", "k", "ft")
    val out = Joins.asOf(facts, dim, keys = Seq("k"), factTime = "ft", dimTime = "t",
      dimCols = Seq("v"))
      .orderBy("fid").as[(Long, Long, Long, Option[String])].collect().toSeq
    assert(out == Seq(
      (100L, 1L, 5L, None),
      (101L, 1L, 10L, Some("p10")),
      (102L, 1L, 19L, Some("p10")),
      (103L, 1L, 25L, Some("p20b")),
      (104L, 2L, 99L, Some("q15")),
      (105L, 3L, 50L, None)))
    assert(Joins.asOf(facts, dim, Seq("k"), "ft", "t", Seq("v")).columns.toSeq ==
      Seq("fid", "k", "ft", "asof_v"))
  }

  test("rangeJoin: half-open containment, exactly-once pairs across bucket spans") {
    // bucketMs=10: interval [5,25) spans buckets 0-2, [20,30) is exactly
    // bucket 2, [30,40) starts on a boundary.
    val dim = Seq((1L, 5L, 25L), (2L, 20L, 30L), (3L, 30L, 40L)).toDF("did", "lo", "hi")
    val facts = Seq((10L, 4L), (11L, 5L), (12L, 24L), (13L, 25L), (14L, 29L), (15L, 30L), (16L, 39L), (17L, 40L))
      .toDF("fid", "t")
    val out = Joins.rangeJoin(facts, dim, "t", "lo", "hi", bucketMs = 10L)
      .select("fid", "did").as[(Long, Long)].collect().toSet
    assert(out == Set(
      (11L, 1L), (12L, 1L),            // [5,25): t=5 in, t=24 in, t=4/25 out
      (12L, 2L), (13L, 2L), (14L, 2L), // [20,30): 24,25,29 in, 30 out
      (15L, 3L), (16L, 3L)))           // [30,40): 30,39 in, 40 out
    // keyed variant: same times but keys must also match
    val dimK = Seq(("a", 1L, 0L, 100L), ("b", 2L, 0L, 100L)).toDF("k", "did", "lo", "hi")
    val factsK = Seq(("a", 10L, 50L), ("c", 11L, 50L)).toDF("k", "fid", "t")
    val outK = Joins.rangeJoin(factsK, dimK, "t", "lo", "hi", bucketMs = 10L, keys = Seq("k"))
      .select("fid", "did").as[(Long, Long)].collect().toSet
    assert(outK == Set((10L, 1L)))
    // pathological interval width fails loudly instead of exploding
    val wide = Seq((9L, 0L, 1000000L)).toDF("did", "lo", "hi")
    val ex = intercept[Exception] {
      Joins.rangeJoin(facts, wide, "t", "lo", "hi", bucketMs = 10L, maxBucketsPerInterval = 16).count()
    }
    assert(ex.getMessage.contains("rangeJoin"))
  }
}

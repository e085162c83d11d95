package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import graft.operators.Bucketing

/** Bucketed-layout contract ([[Bucketing]]): the co-located join moves
  * ZERO shuffle records (asserted on executed-plan metrics with broadcast
  * disabled — the claim is structural, not row-count luck), bucket
  * pruning reads 1/n of the files on a key-equality filter, results match
  * a plain join exactly, and every mis-use (unbucketed table, mismatched
  * counts, wrong keys) fails loudly instead of silently re-shuffling.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): java.nio.file.Path =
    scratchDir("graft-bkt-spec")

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  private def withTables[T](names: String*)(body: => T): T =
    try body finally names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  private def leftDf = (1L to 1000L).map(i => (i % 97, s"l$i", i * 2.0))
    .toDF("k", "tag", "v")
  private def rightDf = (0L until 97L).map(i => (i, s"r$i")).toDF("k", "name")

  test("colocatedJoin: zero shuffle records, result equals a plain join") {
    val tmp = scratch()
    withTables("bspec_l", "bspec_r") {
      try {
        Bucketing.writeBucketed(leftDf, "bspec_l", s"$tmp/l", Seq("k"), 4)
        Bucketing.writeBucketed(rightDf, "bspec_r", s"$tmp/r", Seq("k"), 4)
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          // Disable broadcast: the exchange-free claim must hold for the
          // sort-merge path (broadcast avoids shuffle trivially and would
          // mask a bucket-metadata regression).
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = Bucketing.colocatedJoin(spark, "bspec_l", "bspec_r", Seq("k"))
          assert(Shim.shuffleRecordsWritten(j) == 0L,
            "co-located bucketed join wrote shuffle records")
          val got = j.select("k", "tag", "name").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
          val want = leftDf.join(rightDf, Seq("k")).select("k", "tag", "name")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
          assert(got == want)
          assert(got.size == 1000)
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      } finally rm(tmp.toFile)
    }
  }

  test("bucketed aggregation on the bucket key is also exchange-free") {
    // The layout pays off beyond joins: a groupBy on the bucket key reads
    // each bucket as an already-hash-partitioned input, so the aggregate
    // plans with NO exchange — the recurring daily-rollup shape gets the
    // same pay-once treatment as the join.
    val tmp = scratch()
    withTables("bspec_g") {
      try {
        Bucketing.writeBucketed(leftDf, "bspec_g", s"$tmp/g", Seq("k"), 4)
        val agg = spark.table("bspec_g").groupBy("k")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
        assert(Shim.shuffleRecordsWritten(agg) == 0L,
          "groupBy on the bucket key wrote shuffle records")
        val viaPlain = leftDf.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
        val viaBucket = agg.collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
        assert(viaBucket == viaPlain)
      } finally rm(tmp.toFile)
    }
  }

  test("bucket pruning: key-equality filter scans 1 of n bucket files") {
    val tmp = scratch()
    withTables("bspec_p") {
      try {
        Bucketing.writeBucketed(leftDf, "bspec_p", s"$tmp/p", Seq("k"), 8)
        val full = Shim.scannedFileCounts(spark.table("bspec_p")).sum
        assert(full == 8L, s"expected 8 bucket files, scanned $full")
        // Spark's DisableUnnecessaryBucketedScan rule treats a filter-only
        // query as "not benefiting" from bucketing and reads the table as
        // plain files — so key-equality pruning needs autoBucketedScan OFF
        // (or a join/agg on the key in the same plan). NOTE the `numFiles`
        // metric counts partitions BEFORE the bucket filter; the executed
        // pruning fact is the scan's optionalBucketSet (Shim
        // .selectedBuckets), which must select exactly 1 of the 8.
        val prev = spark.conf.get(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled")
        try {
          spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
          val picked = Shim.selectedBuckets(
            spark.table("bspec_p").where(col("k") === 5L))
          assert(picked == Seq((1, 8)),
            s"bucket pruning selected $picked, wanted Seq((1, 8))")
        } finally spark.conf.set(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
      } finally rm(tmp.toFile)
    }
  }

  test("mis-use fails loudly: unbucketed table, count mismatch, wrong keys") {
    val tmp = scratch()
    withTables("bspec_a", "bspec_b", "bspec_plain") {
      try {
        Bucketing.writeBucketed(leftDf, "bspec_a", s"$tmp/a", Seq("k"), 4)
        Bucketing.writeBucketed(rightDf, "bspec_b", s"$tmp/b", Seq("k"), 8)
        leftDf.write.option("path", s"$tmp/plain").saveAsTable("bspec_plain")
        val cnt = intercept[IllegalArgumentException] {
          Bucketing.colocatedJoin(spark, "bspec_a", "bspec_b", Seq("k"))
        }
        assert(cnt.getMessage.contains("bucket counts differ"))
        val unb = intercept[IllegalArgumentException] {
          Bucketing.colocatedJoin(spark, "bspec_a", "bspec_plain", Seq("k"))
        }
        assert(unb.getMessage.contains("not bucketed"))
        val keys = intercept[IllegalArgumentException] {
          Bucketing.colocatedJoin(spark, "bspec_a", "bspec_a", Seq("tag"))
        }
        assert(keys.getMessage.contains("must equal the join keys"))
      } finally rm(tmp.toFile)
    }
  }
}

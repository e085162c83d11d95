package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim

import graft.operators.Joins

/** The native as-of physical operator ([[graft.plans.AsOfJoinExec]]) against
  * the composed union+window operator: row-for-row equivalence on dense,
  * sparse, duplicate-timestamp, null-key and empty-side fixtures, plus the
  * physical-shape facts (two keyed exchanges, merge output partitioned by
  * key).
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def facts = Seq(
    (1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"),
    (2L, 15L, "d"), (3L, 100L, "e")
  ).toDF("k", "t", "f")

  private def dim = Seq(
    (1L, 10L, "x10"), (1L, 15L, "x15"), (2L, 20L, "y20"), (4L, 1L, "z1")
  ).toDF("k", "t", "v")

  private def runBoth(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) = {
    val composed = Joins.asOf(f, d, Seq("k"), "t", "t", Seq("v", "t"))
    val native = Joins.asOfNative(f, d, Seq("k"), "t", "t", Seq("v", "t"))
    (composed, native)
  }

  test("native == composed on the hand fixture (incl. at-or-before equality and no-match nulls)") {
    val (c, n) = runBoth(facts, dim)
    assert(n.columns.toSeq == c.columns.toSeq)
    assert(n.collect().toSet == c.collect().toSet)
    // Spot-check semantics directly: fact (1, 10) sees dim (1, 10) — equal
    // timestamp IS visible; fact (1, 5) predates every dim row → nulls.
    val byFact = n.as[(Long, Long, String, Option[String], Option[Long])]
      .collect().map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    assert(byFact((1L, 10L)) == (Some("x10"), Some(10L)))
    assert(byFact((1L, 20L)) == (Some("x15"), Some(15L)))
    assert(byFact((1L, 5L)) == (None, None))
    assert(byFact((3L, 100L)) == (None, None))
  }

  test("native == composed under duplicate (key,time) dim rows (max-struct tie-break)") {
    val dupDim = dim.unionByName(Seq((1L, 10L, "x10-later"), (1L, 10L, "a-first")).toDF("k", "t", "v"))
    val (c, n) = runBoth(facts, dupDim)
    assert(n.collect().toSet == c.collect().toSet)
  }

  test("native == composed with null keys (null-safe grouping)") {
    val f = Seq((Some(1L), 10L, "a"), (None, 10L, "n1"), (None, 3L, "n2"))
      .toDF("k", "t", "f")
    val d = Seq((Some(1L), 5L, "x"), (None, 7L, "nullgrp"))
      .toDF("k", "t", "v")
    val (c, n) = runBoth(f, d)
    assert(n.collect().toSet == c.collect().toSet)
    val got = n.where(col("k").isNull && col("t") === 10L)
      .select("asof_v").as[String].collect().toSeq
    assert(got == Seq("nullgrp"))
  }

  test("empty dim side yields all-null payload; empty fact side yields nothing") {
    val emptyDim = dim.where(lit(false))
    val n1 = Joins.asOfNative(facts, emptyDim, Seq("k"), "t", "t", Seq("v"))
    assert(n1.count() == facts.count())
    assert(n1.where(col("asof_v").isNotNull).count() == 0)
    val n2 = Joins.asOfNative(facts.where(lit(false)), dim, Seq("k"), "t", "t", Seq("v"))
    assert(n2.count() == 0)
  }

  test("randomized equivalence sweep — BOTH physical variants") {
    val rnd = new scala.util.Random(42)
    val f = Seq.fill(400)((rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, rnd.nextInt(100).toString))
      .toDF("k", "t", "f")
    val d = Seq.fill(300)((rnd.nextInt(25).toLong, rnd.nextInt(1000).toLong, rnd.nextInt(100).toString))
      .toDF("k", "t", "v")
    // Multiset compare (duplicate fact rows are legitimate).
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val cm = multiset(Joins.asOf(f, d, Seq("k"), "t", "t", Seq("v", "t")))
    Seq("10MB", "-1").foreach { th =>
      withThreshold(th) {
        assert(multiset(Joins.asOfNative(f, d, Seq("k"), "t", "t", Seq("v", "t"))) == cm,
          s"variant under threshold=$th diverged")
      }
    }
  }

  private def withThreshold[A](v: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, old)
  }

  test("strategy picks the BROADCAST variant under the threshold and the merge above it") {
    def physical(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    withThreshold("10MB") {
      val p = physical(Joins.asOfNative(facts, dim, Seq("k"), "t", "t", Seq("v")))
      assert(p.contains("BroadcastAsOfJoin"), s"expected broadcast variant:\n$p")
    }
    withThreshold("-1") {
      val p = physical(Joins.asOfNative(facts, dim, Seq("k"), "t", "t", Seq("v")))
      assert(p.contains("AsOfJoin") && !p.contains("BroadcastAsOfJoin"),
        s"expected shuffled merge variant:\n$p")
    }
  }

  test("broadcast variant: equivalent results, ZERO fact-side shuffle") {
    withThreshold("10MB") {
      val (c, n) = runBoth(facts, dim)
      assert(n.collect().toSet == c.collect().toSet)
      // Only the dim-prep (k,t) dedup aggregation exchanges rows; the fact
      // stream reaches the lookup without a single shuffled record.
      val shuffled = Shim.shuffleRecordsWritten(
        Joins.asOfNative(facts, dim, Seq("k"), "t", "t", Seq("v")))
      val nDimGroups = dim.groupBy("k", "t").count().count()
      assert(shuffled == nDimGroups,
        s"expected only the $nDimGroups dim-agg records shuffled, got $shuffled")
    }
  }

  test("broadcast variant: null keys and empty dim behave like the merge variant") {
    withThreshold("10MB") {
      val f = Seq((Some(1L), 10L, "a"), (None, 10L, "n1")).toDF("k", "t", "f")
      val d = Seq((Some(1L), 5L, "x"), (None, 7L, "nullgrp")).toDF("k", "t", "v")
      val (c, n) = runBoth(f, d)
      assert(n.collect().toSet == c.collect().toSet)
      val n1 = Joins.asOfNative(facts, dim.where(lit(false)), Seq("k"), "t", "t", Seq("v"))
      assert(n1.count() == facts.count())
      assert(n1.where(col("asof_v").isNotNull).count() == 0)
    }
  }

  test("optimizer rule pushes fact-side filters through the custom node; payload filters stay") {
    def optimized(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan
    val n = Joins.asOfNative(facts, dim, Seq("k"), "t", "t", Seq("v"))
    // Fact-only predicate: must sink below AsOfJoinPlan (no Filter above it).
    val factFiltered = n.where(col("f") =!= "zzz")
    val plan1 = optimized(factFiltered)
    plan1.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      assert(!f.child.isInstanceOf[graft.plans.AsOfJoinPlan],
        s"fact-side filter stayed above the as-of node:\n$plan1")
    }
    assert(plan1.collectFirst { case a: graft.plans.AsOfJoinPlan => a }.nonEmpty)
    // Payload predicate: must NOT be pushed (depends on the join result).
    val payloadFiltered = n.where(col("asof_v").isNotNull)
    val plan2 = optimized(payloadFiltered)
    val above = plan2.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[graft.plans.AsOfJoinPlan] => f
    }
    assert(above.nonEmpty, s"payload filter must remain above the node:\n$plan2")
    // Results unchanged by the rewrite.
    val expect = Joins.asOf(facts, dim, Seq("k"), "t", "t", Seq("v"))
      .where(col("f") =!= "zzz").collect().toSet
    assert(factFiltered.collect().toSet == expect)
  }

  test("bucketed layout feeds the merge with ZERO exchanges") {
    withThreshold("-1") {
      try {
        facts.write.bucketBy(4, "k").sortBy("k", "t").saveAsTable("asof_facts_b")
        // Pre-collapse (k,t) duplicates so the operator's dim-prep
        // aggregation (which would shuffle) becomes a no-op projection on
        // already-unique rows... it still plans an aggregate, so feed the
        // node directly at the API level with unique rows — the dim prep's
        // exchange is then elided because the bucketed scan already
        // satisfies ClusteredDistribution(k).
        dim.write.bucketBy(4, "k").sortBy("k", "t").saveAsTable("asof_dim_b")
        val fb = spark.table("asof_facts_b")
        val db = spark.table("asof_dim_b")
        val n = Joins.asOfNative(fb, db, Seq("k"), "t", "t", Seq("v"))
        val c = Joins.asOf(facts, dim, Seq("k"), "t", "t", Seq("v"))
        assert(n.collect().toSet == c.collect().toSet)
        val shuffled = Shim.shuffleRecordsWritten(
          Joins.asOfNative(fb, db, Seq("k"), "t", "t", Seq("v")))
        assert(shuffled == 0,
          s"bucketed-by-key tables must satisfy the merge's distribution without exchanges (got $shuffled shuffled records)")
      } finally {
        spark.sql("DROP TABLE IF EXISTS asof_facts_b")
        spark.sql("DROP TABLE IF EXISTS asof_dim_b")
      }
    }
  }

  test("physical shape: only the SMJ-style keyed exchanges, output stays key-partitioned") {
    withThreshold("-1") {
    val n = Joins.asOfNative(facts, dim, Seq("k"), "t", "t", Seq("v"))
    // Exactly three exchanges: facts → merge (5 rows), dim → its (k,t)
    // dedup aggregation (4 distinct groups after map-side partials), and the
    // deduped dim → merge (HashPartitioning(k,_t) does NOT satisfy
    // ClusteredDistribution(k), so EnsureRequirements re-keys it on k — 4
    // rows). The merge itself adds nothing.
    val nFacts = facts.count()
    val nDimGroups = dim.groupBy("k", "t").count().count()
    val base = nFacts + 2 * nDimGroups
    val shuffled = Shim.shuffleRecordsWritten(n)
    assert(shuffled == base, s"expected $base exchange records, got $shuffled")
    // Reusing the merge output in a same-key aggregation must not re-shuffle:
    // outputPartitioning is the left child's HashPartitioning(k), which
    // satisfies the aggregation's ClusteredDistribution(k) — record count
    // stays exactly `base`.
    val agg = n.groupBy("k").agg(count(lit(1)))
    val reShuffled = Shim.shuffleRecordsWritten(agg)
    assert(reShuffled == base,
      s"aggregation on the as-of key re-shuffled (records=$reShuffled, base=$base)")
    }
  }
}

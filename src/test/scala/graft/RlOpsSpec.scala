package graft

import org.apache.spark.sql.functions._
import graft.operators.RlOps

/** Post-training RL data ops ([[RlOps]]) pinned against hand-computed
  * values and plain-Scala replays: GRPO group advantages (including the
  * zero-variance and single-sample degenerate contracts), the unbiased
  * pass@k estimator against a brute-force combinatorial count, the
  * k1/k2/k3 KL estimators against exact closed forms on a tiny sample,
  * and the DPO margin report's accuracy/quantile semantics. Also proves
  * the moment form's streaming invariant: moments summed over arbitrary
  * slices score identically to the one-shot window.
  */
class RlOpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------ group advantage
  test("groupAdvantage: normalized within group, mean 0 / unit sample std") {
    val df = Seq(("p1", 1.0), ("p1", 2.0), ("p1", 3.0), ("p1", 6.0))
      .toDF("prompt", "r")
    val out = RlOps.groupAdvantage(df, Seq("prompt"), "r")
      .select("r", "advantage", "group_mean", "group_std", "n_samples")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    val mean = 3.0
    val std = math.sqrt(Seq(1.0, 2.0, 3.0, 6.0).map(v => (v - mean) * (v - mean)).sum / 3)
    Seq(1.0, 2.0, 3.0, 6.0).foreach { v =>
      assert(math.abs(out(v) - (v - mean) / std) < 1e-12)
    }
  }

  test("groupAdvantage degenerate contracts: single sample and zero variance → 0") {
    val df = Seq(("solo", 5.0), ("flat", 2.0), ("flat", 2.0), ("flat", 2.0))
      .toDF("prompt", "r")
    val out = RlOps.groupAdvantage(df, Seq("prompt"), "r")
      .select("prompt", "advantage").collect()
    assert(out.forall(_.getDouble(1) == 0.0))
  }

  test("advantageFromMoments over summed slices == one-shot groupAdvantage") {
    val rows = (1 to 40).map(i => (s"p${i % 5}", (i * 7 % 23).toDouble))
    val df = rows.toDF("prompt", "r")
    // moments accumulated over 4 arbitrary disjoint slices, then summed
    val slices = rows.grouped(10).toSeq.map(sl =>
      RlOps.rewardMoments(sl.toDF("prompt", "r"), Seq("prompt"), "r"))
    val summed = slices.reduce(_ unionByName _)
      .groupBy("prompt").agg(sum("m_n").as("m_n"),
        sum("m_sum").as("m_sum"), sum("m_sumsq").as("m_sumsq"))
    val streamed = RlOps.advantageFromMoments(df, summed, Seq("prompt"), "r")
      .select("prompt", "r", "advantage")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val oneShot = RlOps.groupAdvantage(df, Seq("prompt"), "r")
      .select("prompt", "r", "advantage")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(streamed.keySet == oneShot.keySet)
    streamed.foreach { case (k, v) => assert(math.abs(v - oneShot(k)) < 1e-9) }
  }

  // -------------------------------------------------------------- pass@k
  /** Brute-force pass@k: enumerate all C(n,k) index subsets, count those
    * containing at least one passing sample.
    */
  private def bruteForcePassAtK(passes: Seq[Boolean], k: Int): Double = {
    val n = passes.size
    val subsets = passes.indices.combinations(k).toSeq
    subsets.count(_.exists(passes)).toDouble / subsets.size
  }

  test("passAtK matches brute-force subset enumeration") {
    val passes = Seq(true, false, false, true, false, false, false, false)
    val df = passes.zipWithIndex.map { case (p, i) => ("t", i, p) }
      .toDF("task", "i", "ok")
    val out = RlOps.passAtK(df, Seq("task"), col("ok"), Seq(1, 3, 5))
      .collect().head
    Seq(1 -> "pass_at_1", 3 -> "pass_at_3", 5 -> "pass_at_5").foreach { case (k, c) =>
      assert(math.abs(out.getAs[Double](c) - bruteForcePassAtK(passes, k)) < 1e-12,
        s"k=$k")
    }
  }

  test("passAtK contracts: n < k → null; n - c < k → 1.0; c = 0 → 0.0") {
    val df = Seq(
      ("small", 1, true), ("small", 2, false),             // n=2
      ("rich", 1, true), ("rich", 2, true), ("rich", 3, false), // n-c=1 < 2
      ("none", 1, false), ("none", 2, false), ("none", 3, false))
      .toDF("task", "i", "ok")
    val out = RlOps.passAtK(df, Seq("task"), col("ok"), Seq(2))
      .collect().map(r => r.getString(0) -> Option(r.getAs[java.lang.Double]("pass_at_2"))).toMap
    assert(out("small").contains(1.0))  // n=2, c=1: n-c=1 < 2 → 1.0
    assert(out("rich").contains(1.0))
    assert(out("none").contains(0.0))
    val tiny = RlOps.passAtK(Seq(("t", true)).toDF("task", "ok"),
      Seq("task"), col("ok"), Seq(2)).collect().head
    assert(tiny.isNullAt(tiny.fieldIndex("pass_at_2")))
  }

  // --------------------------------------------------- reward length bias
  test("rewardLengthBias recovers a noiseless planted slope exactly; r2 = 1") {
    val df = Seq((10.0, 2.0 + 0.5 * 10), (20.0, 2.0 + 0.5 * 20),
      (30.0, 2.0 + 0.5 * 30), (45.0, 2.0 + 0.5 * 45))
      .map { case (l, r) => ("g", l, r) }.toDF("grp", "len", "r")
    val out = RlOps.rewardLengthBias(df, Seq("grp"), "r", "len").collect().head
    assert(math.abs(out.getAs[Double]("slope") - 0.5) < 1e-12)
    assert(math.abs(out.getAs[Double]("intercept") - 2.0) < 1e-10)
    assert(math.abs(out.getAs[Double]("r2") - 1.0) < 1e-12)
  }

  test("rewardLengthBias: zero-variance length → NULL slope, not ±inf") {
    val df = Seq(("g", 10.0, 1.0), ("g", 10.0, 2.0), ("g", 10.0, 3.0))
      .toDF("grp", "len", "r")
    val out = RlOps.rewardLengthBias(df, Seq("grp"), "r", "len").collect().head
    assert(out.isNullAt(out.fieldIndex("slope")))
    assert(out.isNullAt(out.fieldIndex("intercept")))
  }

  // --------------------------------------------------- rollout diversity
  test("rolloutDiversity: collapse and full-diversity extremes") {
    val df = Seq(
      ("collapsed", "same"), ("collapsed", "same"), ("collapsed", "same"), ("collapsed", "same"),
      ("diverse", "a"), ("diverse", "b"), ("diverse", "c"), ("diverse", "d"),
      ("mixed", "a"), ("mixed", "a"), ("mixed", "a"), ("mixed", "b"))
      .toDF("prompt", "completion")
    val out = RlOps.rolloutDiversity(df, Seq("prompt"), "completion")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("distinct_frac"), r.getAs[Double]("top_share")))).toMap
    assert(out("collapsed") == ((4L, 1L, 0.25, 1.0)))
    assert(out("diverse") == ((4L, 4L, 1.0, 0.25)))
    assert(out("mixed") == ((4L, 2L, 0.5, 0.75)))
  }

  // ----------------------------------------------------- off-policy eval
  test("offPolicyValue: identical policies → IPS = SNIPS = mean reward, ESS = n") {
    val df = Seq(("g", -1.0, -1.0, 1.0), ("g", -2.0, -2.0, 0.0),
      ("g", -0.5, -0.5, 1.0), ("g", -3.0, -3.0, 0.0))
      .toDF("grp", "lp_t", "lp_b", "r")
    val out = RlOps.offPolicyValue(df, Seq("grp"), "r",
      col("lp_t"), col("lp_b"), clip = 2.0).collect().head
    assert(math.abs(out.getAs[Double]("ips") - 0.5) < 1e-12)
    assert(math.abs(out.getAs[Double]("snips") - 0.5) < 1e-12)
    assert(math.abs(out.getAs[Double]("ess") - 4.0) < 1e-12)
    assert(out.getAs[Double]("clip_frac") == 0.0)
  }

  test("offPolicyValue: clip engages and caps the weight; SNIPS self-normalizes") {
    // lp_t - lp_b = ln(4) → raw weight 4, clipped to 2 on every row
    val lnW = math.log(4.0)
    val df = Seq(("g", 0.0, -lnW, 1.0), ("g", 0.0, -lnW, 0.0))
      .toDF("grp", "lp_t", "lp_b", "r")
    val out = RlOps.offPolicyValue(df, Seq("grp"), "r",
      col("lp_t"), col("lp_b"), clip = 2.0).collect().head
    assert(out.getAs[Double]("clip_frac") == 1.0)
    assert(math.abs(out.getAs[Double]("ips") - 1.0) < 1e-12)   // (2*1 + 2*0)/2
    assert(math.abs(out.getAs[Double]("snips") - 0.5) < 1e-12) // 2/(2+2)
    // all weights equal → ESS = n despite clipping
    assert(math.abs(out.getAs[Double]("ess") - 2.0) < 1e-12)
  }

  // ------------------------------------------- randomized property sweep
  test("randomized: pass@k == brute-force enumeration across seeds and shapes") {
    val rng = new scala.util.Random(4242)
    for (trial <- 1 to 25) {
      val n = 2 + rng.nextInt(10)          // 2..11 samples
      val k = 1 + rng.nextInt(5)           // 1..5
      val passes = Seq.fill(n)(rng.nextBoolean())
      val df = passes.zipWithIndex.map { case (p, i) => ("t", i, p) }
        .toDF("task", "i", "ok")
      val got = RlOps.passAtK(df, Seq("task"), col("ok"), Seq(k)).collect().head
      val cell = Option(got.getAs[java.lang.Double](s"pass_at_$k")).map(_.toDouble)
      if (n < k) assert(cell.isEmpty, s"trial $trial: n=$n < k=$k must be NULL")
      else {
        val want = bruteForcePassAtK(passes, k)
        assert(cell.isDefined && math.abs(cell.get - want) < 1e-12,
          s"trial $trial: n=$n k=$k c=${passes.count(identity)} got=$cell want=$want")
      }
    }
  }

  test("randomized: moment-scored advantages == window advantages on every slicing") {
    val rng = new scala.util.Random(77)
    for (trial <- 1 to 5) {
      val rows = (1 to 60).map(i =>
        (s"p${rng.nextInt(6)}", rng.nextInt(40).toDouble, i))
      val df = rows.toDF("prompt", "r", "rid")
      val nSlices = 1 + rng.nextInt(5)
      val moments = rows.grouped(math.max(1, rows.size / nSlices)).toSeq
        .map(sl => RlOps.rewardMoments(sl.toDF("prompt", "r", "rid"), Seq("prompt"), "r"))
        .reduce(_ unionByName _)
        .groupBy("prompt").agg(sum("m_n").as("m_n"),
          sum("m_sum").as("m_sum"), sum("m_sumsq").as("m_sumsq"))
      val a = RlOps.advantageFromMoments(df, moments, Seq("prompt"), "r")
        .select("rid", "advantage").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val b = RlOps.groupAdvantage(df, Seq("prompt"), "r")
        .select("rid", "advantage").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(a.keySet == b.keySet)
      a.foreach { case (k, v) =>
        assert(math.abs(v - b(k)) < 1e-9, s"trial $trial rid=$k: $v vs ${b(k)}")
      }
    }
  }

  // ----------------------------------------- crash-replay idempotence
  test("per-batch moment partitions: a replayed batch OVERWRITES, never doubles") {
    // The st_rl_advantage / st_corpus_digest discipline: foreachBatch
    // writes mode=overwrite into state/batch_id=<bid>, so a crash between
    // sink-write and checkpoint-commit that replays the batch REPLACES its
    // own output. Simulate the replay directly: write four batch moment
    // partitions, re-write batch 2, and assert the accumulated normalizer
    // is byte-equal to the no-crash accumulation AND to the one-shot fit.
    val dir = scratchDir("graft-replay")
    try {
      val rows = (1 to 80).map(i => (s"p${i % 4}", (i * 13 % 29).toDouble, i % 4))
      val df = rows.toDF("prompt", "r", "bid")
      def writeBatch(bid: Int): Unit =
        RlOps.rewardMoments(df.where(col("bid") === bid), Seq("prompt"), "r")
          .write.mode("overwrite").parquet(s"$dir/state/batch_id=$bid")
      (0 to 3).foreach(writeBatch)
      writeBatch(2) // the crash replay
      val acc = spark.read.parquet(s"$dir/state").drop("batch_id")
        .groupBy("prompt").agg(sum("m_n").as("m_n"),
          sum("m_sum").as("m_sum"), sum("m_sumsq").as("m_sumsq"))
      val viaState = RlOps.advantageFromMoments(df, acc, Seq("prompt"), "r")
        .select("prompt", "r", "advantage").collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val oneShot = RlOps.groupAdvantage(df, Seq("prompt"), "r")
        .select("prompt", "r", "advantage").collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      assert(viaState.keySet == oneShot.keySet)
      viaState.foreach { case (k, v) => assert(math.abs(v - oneShot(k)) < 1e-9, k) }
      // And the count proves no doubling: total n across groups == rows.
      val totalN = acc.agg(sum("m_n")).collect().head.getLong(0)
      assert(totalN == 80L, s"replayed batch doubled the state: n=$totalN")
    } finally QueriesExt.rmTree(dir.toFile)
  }

  // ------------------------------------------------------- KL estimators
  test("klEstimators k1/k2/k3 match closed forms on a fixed sample") {
    val lrs = Seq(0.3, -0.1, 0.05, 0.2)
    // lp_pol arbitrary; lp_ref = lp_pol + lr
    val df = lrs.zipWithIndex.map { case (lr, i) => ("g", -1.0 - i, -1.0 - i + lr) }
      .toDF("grp", "lp_pol", "lp_ref")
    val out = RlOps.klEstimators(df, Seq("grp"), col("lp_pol"), col("lp_ref"))
      .collect().head
    val k1 = lrs.map(-_).sum / lrs.size
    val k2 = lrs.map(l => l * l / 2).sum / lrs.size
    val k3 = lrs.map(l => math.exp(l) - 1 - l).sum / lrs.size
    assert(math.abs(out.getAs[Double]("kl_k1") - k1) < 1e-12)
    assert(math.abs(out.getAs[Double]("kl_k2") - k2) < 1e-12)
    assert(math.abs(out.getAs[Double]("kl_k3") - k3) < 1e-12)
    assert(out.getAs[Long]("n") == 4L)
  }

  test("klEstimators: k3 is non-negative (convexity) even when k1 goes negative") {
    // All-POSITIVE logr sample drives k1 = mean(−lr) negative, while k3
    // stays non-negative by convexity (exp(x)−1−x ≥ 0 for every x).
    val lrs = Seq(0.5, 0.4, 0.3)
    val df = lrs.map(lr => ("g", 0.0, lr)).toDF("grp", "lp_pol", "lp_ref")
    val out = RlOps.klEstimators(df, Seq("grp"), col("lp_pol"), col("lp_ref"))
      .collect().head
    assert(out.getAs[Double]("kl_k1") < 0)   // mean(-lr) < 0 for positive lr
    assert(out.getAs[Double]("kl_k3") >= 0)  // exp(x)-1-x >= 0 always
  }

  // ---------------------------------------------------------- DPO margin
  test("dpoMarginStats: accuracy counts strictly-positive margins; quantiles exact") {
    // margins per row: beta * ((cp - cr) - (rp - rr))
    val rows = Seq(
      // (cp, cr, rp, rr) → margin 0.1*((cp-cr)-(rp-rr))
      ("g", -1.0, -1.2, -2.0, -2.1),  // 0.1*(0.2 - 0.1)  = 0.01  > 0
      ("g", -1.0, -1.0, -2.0, -2.5),  // 0.1*(0.0 - 0.5)  = -0.05 < 0
      ("g", -1.5, -1.5, -2.0, -2.0),  // exactly 0 → NOT counted correct
      ("g", -1.0, -1.4, -2.0, -2.1))  // 0.1*(0.4 - 0.1)  = 0.03  > 0
      .toDF("grp", "cp", "cr", "rp", "rr")
    val out = RlOps.dpoMarginStats(rows, Seq("grp"), 0.1,
      col("cp"), col("rp"), col("cr"), col("rr")).collect().head
    assert(out.getAs[Long]("n_pairs") == 4L)
    assert(math.abs(out.getAs[Double]("reward_acc") - 0.5) < 1e-12)
    // margins sorted: -0.05, 0.0, 0.01, 0.03 → p50 = interp(0.0, 0.01) = 0.005
    assert(math.abs(out.getAs[Double]("p50_margin") - 0.005) < 1e-9)
  }
}

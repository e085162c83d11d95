package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Manual scale probe (not part of the driver contract or the test suite):
  * replicates the sf0.1 documents table `xN` with disjoint id spaces and runs
  * the heavy dedup path — minhash-LSH pairs → connected components — to
  * check that the plans HOLD as the data (and worse, the pair volume) grows.
  *
  * `Test/runMain graft.ScaleProbe [factor]` — prints one timing line per stage.
  * This is a deliberately HOSTILE shape: the one-token suffix per replica
  * leaves cross-replica copies near-identical, so every document's N copies
  * form an N-clique and candidate pairs grow QUADRATICALLY with the factor
  * (measured: 250k pairs at 10×, 2.4M at 30×) while docs grow linearly. The
  * claim under test is that `maxBucket`/`maxDf` keep per-task state flat and
  * wall clock tracks the keyed-shuffle volume, not the clique blowup — see
  * BASELINE.md "Scale-growth probe" for the measured table.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    // Optional second arg: run only stages whose label contains it, then
    // exit (local iteration aid — one stage's scale row without the whole
    // battery; stages with cross-stage dataflow run under the full probe
    // only).
    val onlyStage = args.drop(1).headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = base.count()
    val big = (0 until factor).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 10 * n)).as("doc_id"),
        // One differing suffix token keeps cross-replica copies ABOVE the
        // near-dup thresholds: each doc's N copies form an N-clique and the
        // pair volume grows quadratically — the hostile shape (see header).
        concat(col("text"), lit(s" replica$i")).as("text"))
    }.reduce(_ union _)
    println(s"[probe] docs = ${n * factor} (factor $factor)")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    var stagesMatched = 0
    def stage(label: String)(f: => Unit): Unit =
      if (onlyStage.forall(label.contains(_))) { stagesMatched += 1; timed(label)(f) }
    def rmTreeLocal(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTreeLocal)); f.delete(): Unit
    }

    stage("exact dup spans") {
      // Replicas share their ENTIRE text modulo the one suffix token:
      // every base doc's C(factor, 2) replica pairs carry one full-length
      // verified span each, all anchors per pair collapsing onto a single
      // alignment diagonal — the shape the per-(pair, diagonal) grouping
      // in verifyExtendSpans exists for (text join rows track PAIRS, not
      // anchors). Claim: wall tracks pair volume, span output is exactly
      // one row per replica pair (+ natural corpus dups).
      val p = Dedup.exactDupSpans(big, "doc_id", "text", minLen = 40, w = 8)
      println(s"[probe] exact dup spans = ${p.count()}")
    }
    stage("winnowing pairs only") {
      val p = Dedup.winnowingPairs(big, "doc_id", "text", k = 12, w = 8, minShared = 40)
      println(s"[probe] winnowing pairs = ${p.count()}")
    }
    stage("topk agg vs window") {
      // Three plans for the same per-key top-3 answer: the bounded TopKAgg
      // (heap partials, no sort), Spark's WindowGroupLimit rewrite (same
      // shuffle bound, two full sorts), and the naive window (full-data
      // shuffle + sort — what every engine without the rewrite pays). Two
      // key shapes: low cardinality (event_type, ~5 keys — huge groups,
      // worst case for reduce-side sorting) and high cardinality (user_id).
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_type"), col("user_id"), col("value"), col("event_id"))
        .where(col("value").isNotNull)
      val nEv = ev.count()
      val bigEv = (0 until factor).map { i =>
        ev.select(col("event_type"), col("user_id"), col("value"),
          (col("event_id") + lit(i.toLong * 10 * nEv)).as("event_id"))
      }.reduce(_ union _).localCheckpoint(true)
      println(s"[probe] events = ${bigEv.count()}")
      def windowTopK(keys: Seq[String], k: Int) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col("value").desc, col("event_id").desc)
        bigEv.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      }
      val glKey = "spark.sql.optimizer.windowGroupLimitThreshold"
      val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
      for ((keys, label) <- Seq(Seq("event_type") -> "low-card key",
                                Seq("user_id") -> "high-card key")) {
        timed(s"topk agg ($label)") {
          println(s"[probe] rows = ${operators.TopK.topKPerKey(bigEv, keys,
            struct(col("value"), col("event_id"), col("user_id")), 3).count()}")
        }
        // Above the 128-distinct-key default, ObjectHashAggregate abandons
        // the hash map and SORTS the input by key — exactly the work the
        // bounded agg exists to avoid. Bounded k-item buffers make a high
        // threshold safe; measure the difference explicitly.
        spark.conf.set(fbKey, (1 << 22).toString)
        timed(s"topk agg, raised fallback ($label)") {
          println(s"[probe] rows = ${operators.TopK.topKPerKey(bigEv, keys,
            struct(col("value"), col("event_id"), col("user_id")), 3).count()}")
        }
        spark.conf.set(fbKey, "128")
        timed(s"window group-limit ($label)") {
          println(s"[probe] rows = ${windowTopK(keys, 3).count()}")
        }
        spark.conf.set(glKey, "-1")
        timed(s"window naive ($label)") {
          println(s"[probe] rows = ${windowTopK(keys, 3).count()}")
        }
        spark.conf.set(glKey, "1000")
      }
    }
    stage("weighted jaccard") {
      // Replicas are near-identical, so every occurrence-element's posting
      // list grows with the factor and the C(df,2) pair expansion per
      // element is the hostile axis; maxDf caps the lists and the claim is
      // wall ∝ kept-pair volume, per-task state flat.
      val p = Dedup.weightedJaccardPairs(big, "doc_id", "text",
        n = 3, cap = 5, threshold = 0.4, maxDf = 1000)
      println(s"[probe] weighted-jaccard pairs = ${p.count()}")
    }
    stage("triangles kcore") {
      // Each base doc's replicas form a factor-clique in the near-dup
      // graph: triangles grow C(factor,3) per base doc and wedge fan-out is
      // the quadratic axis the low-degree orientation bounds (out-degree ≤
      // clique size after orientation). k-core must converge in O(1) peel
      // rounds (cliques never peel; pendant noise goes in round one).
      val pairs = Dedup.minHashLshPairs(big, "doc_id", "text",
        n = 3, numHashes = 12, bands = 4).localCheckpoint(true)
      val tri = graft.operators.Graph.triangleStats(pairs, "id_a", "id_b")
      println(s"[probe] triangle rows = ${tri.count()}")
      val core = graft.operators.Graph.kCore(pairs, "id_a", "id_b", k = 2)
      println(s"[probe] 2-core nodes = ${core.count()}")
    }
    stage("peak concurrency") {
      // Events replicated with the SAME timestamps: every hour bucket gets
      // factor× hotter (the skew axis for the hour-keyed sweep windows)
      // while the day output stays constant — wall must track the keyed
      // sort volume, not blow up on one partition.
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      val ev = (0 until factor).map { i =>
        graft.sources.EventsTable.load(spark, sfDir)
          .select(graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"),
            col("value"))
      }.reduce(_ union _)
      val peaks = graft.operators.EventAnalytics.peakConcurrency(
        ev, "t", floor(col("value") * 1000).cast("long"))
      println(s"[probe] concurrency days = ${peaks.count()} (events = ${ev0.count() * factor})")
    }
    stage("bpe batch rounds") {
      // Driver-loop economics, not data scale: learnMerges at batchSize=1
      // is one Spark job group per merge; the batched rounds must learn
      // the IDENTICAL rule list (equivalence proved in Round10PropertySpec)
      // in far fewer rounds. Run on the base table — the bottleneck under
      // test is job-launch count, which replication would not change.
      // Warmup pass so the first measured config doesn't absorb codegen /
      // scan warmup (both orderings below must be comparable).
      graft.operators.BpeTrain.learnMerges(base, "text", 2, batchSize = 1).collect()
      for (bs <- Seq(64, 1, 16, 64)) {
        val t0 = System.nanoTime()
        val rules = graft.operators.BpeTrain
          .learnMerges(base, "text", 256, batchSize = bs).collect()
        println(f"[probe] bpe merges=256 bs=$bs%-3d rounds=${graft.operators.BpeTrain.lastRounds.get()}%-3d " +
          f"merges=${rules.length} wall=${(System.nanoTime() - t0) / 1e9}%.1f s " +
          s"rulesHash=${rules.map(_.toString).mkString("|").hashCode}")
      }
    }

    stage("attribution") {
      // Disjoint user spaces per replica: users grow linearly, per-user
      // work constant — the control row (linear scan shape, keyed aggs).
      val ev = (0 until factor).map { i =>
        graft.sources.EventsTable.load(spark, sfDir)
          .select((col("user_id") + lit(i * 1000000L)).as("user_id"),
            col("event_type"), col("event_id"),
            graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      }.reduce(_ union _)
      val att = graft.operators.EventAnalytics.attribution(
        ev, "user_id", "event_type", "t", "event_id", "purchase")
      println(s"[probe] attribution rows = ${att.count()}")
    }
    stage("streaming lsh increment") {
      // The st_lsh_dedup_increment composition under hostile growth: each
      // replica arrives as one micro-batch probing the accumulated band
      // index. Near-identical replicas make every bucket grow by one member
      // per batch, so batch k emits ~k× the cross pairs of batch 1 (total
      // pair volume quadratic — the clique shape) while the BATCH itself is
      // constant-size. Claims: per-batch wall tracks the emitted pair
      // volume plus one exchange-free pass over the index (the index side
      // of the bucket counts and the probe join never shuffles); per-task
      // state stays maxBucket-bounded no matter how large the index grows.
      var idx: org.apache.spark.sql.DataFrame = null
      (0 until factor).foreach { i =>
        val batch = base.select((col("doc_id") + lit(i.toLong * 10 * n)).as("doc_id"),
          concat(col("text"), lit(s" replica$i")).as("text"))
        val t0 = System.nanoTime()
        val nb = Dedup.minHashBands(batch, "doc_id", "text").localCheckpoint(true)
        val pairs = Dedup.lshPairsIncrementalBands(
          nb, if (idx == null) nb.limit(0) else idx, "doc_id").count()
        // localCheckpoint per round: the accumulated index is MATERIALIZED
        // state (as the parquet table is in the streaming gate), not a
        // union lineage that re-computes every prior batch's shingles.
        idx = (if (idx == null) nb else idx.unionByName(nb)).localCheckpoint(true)
        println(f"[probe] st-lsh batch $i: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
          s"pairs = $pairs, index rows = ${idx.count()}")
      }
    }
    stage("ann growth") {
      // Round-12 verdict item 5: give the ANN family the same MEASURED
      // growth table LSH dedup has (BASELINE.md). Two shapes per corpus
      // step, fixed 20-query batch, 64 coarse cells, nProbe=2:
      //  (a) SERVE (st_ann_serve shape) — a FROZEN partitionBy(cid) IVF
      //      layout over the grown corpus probed by the fixed batch.
      //      Claims: the static `cid IN (...)` filter prunes the scan to
      //      the probed cells' files at ANY corpus size; probe wall and
      //      shuffle track the probed-cell MEMBER volume (cells get
      //      linearly denser as the corpus replicates), never total corpus.
      //  (b) REBUILD (x_ann_ivfpq shape) — full coarse-Lloyd + PQ train +
      //      encode + ADC probe from scratch. Claims: wall tracks corpus
      //      volume ~linearly (every stage is a keyed agg or broadcast
      //      join), no quadratic axis, shuffle rows stay O(corpus × m).
      val snapA = TaskMetricsCollector.install(spark.sparkContext)
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val ne = e.count()
      val queries = e.where(col("vec_id") >= 100 && col("vec_id") < 120).localCheckpoint(true)
      val cents = e.where(col("vec_id") < 64).localCheckpoint(true)
      val scratch = java.nio.file.Files.createTempDirectory("annprobe").toString
      // Independent probe-cell ranking (the operator's own collect is
      // internal): top-nProbe cells per query by cosine, for the candidate
      // volume metric.
      def probedCells(): Array[Any] = {
        val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
          aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (s, x) => s + x)
        val nrm = (a: org.apache.spark.sql.Column) => sqrt(aggregate(
          transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), (s, x) => s + x))
        val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val c = cents.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy((dot(col("qv"), col("cv")) /
            (nrm(col("qv")) * nrm(col("cv")))).desc, col("cid"))
        q.crossJoin(broadcast(c)).withColumn("rn", row_number().over(w))
          .where(col("rn") <= 2).select("cid").distinct().collect().map(_.get(0))
      }
      val cellsProbed = probedCells()
      for (f <- Seq(1, math.max(2, factor / 3), factor).distinct) {
        val bigE = (0 until f).map { i =>
          e.select((col("vec_id") + lit(i.toLong * 10 * ne)).as("vec_id"), col("embedding"))
        }.reduce(_ union _).localCheckpoint(true)
        val dir = s"$scratch/idx_f$f"
        val tb = System.nanoTime()
        Similarity.assignCells(bigE, cents, "vec_id", "embedding")
          .write.partitionBy("cid").parquet(dir)
        val buildS = (System.nanoTime() - tb) / 1e9
        val assigned = spark.read.parquet(dir)
        val candRows = assigned.where(col("cid").isin(cellsProbed: _*)).count()
        val m0 = snapA(); val tp = System.nanoTime()
        val hits = Similarity.topKIvfPrebuilt(queries, assigned, cents,
          "vec_id", "embedding", k = 5, nProbe = 2).count()
        val probeS = (System.nanoTime() - tp) / 1e9
        val pm = snapA() - m0
        println(f"[probe] ann serve f=$f%-3d corpus=${ne * f}%-7d build=$buildS%.1f s " +
          f"probe=$probeS%.2f s hits=$hits cellsProbed=${cellsProbed.length}/64 " +
          s"candRows=$candRows probeMetrics=${pm.json}")
        val m1 = snapA(); val tr = System.nanoTime()
        val top = Similarity.topKIvfPq(queries, bigE, "vec_id", "embedding",
          k = 5, kCells = 4, lloydIters = 1, nProbe = 2,
          m = 4, subDim = 16, pqK = 4, pqIters = 1).count()
        val rebuildS = (System.nanoTime() - tr) / 1e9
        val rm = snapA() - m1
        println(f"[probe] ann rebuild f=$f%-3d corpus=${ne * f}%-7d wall=$rebuildS%.1f s " +
          s"rows=$top rebuildMetrics=${rm.json}")
      }
      rmTreeLocal(new java.io.File(scratch))
    }
    stage("suffix array") {
      // Exact-substring indexing (round-13 SuffixArray) under hostile
      // growth: replicas share their ENTIRE text modulo the one suffix
      // token, so seed-rank tie classes of size ~factor survive the
      // 32-char seed pass and must be separated by the blocked-comparison
      // refinement rounds — the worst case for bucket refinement. Claims:
      // build wall tracks chars × rounds with rounds ≈
      // ceil(repeat-depth / 512) INDEPENDENT of the factor (tie classes
      // widen, rounds don't multiply); the repeated-span report stays
      // LINEAR in suffix count (adjacent-pair only — never the
      // replica-clique expansion a pairwise comparison would pay).
      val snapS = TaskMetricsCollector.install(spark.sparkContext)
      for (f <- Seq(1, factor).distinct) {
        val bigD = (0 until f).map { i =>
          base.select((col("doc_id") + lit(i.toLong * 10 * n)).as("doc_id"),
            concat(col("text"), lit(s" replica$i")).as("text"))
        }.reduce(_ union _).localCheckpoint(true)
        val m0 = snapS(); val t0 = System.nanoTime()
        val nSuf = graft.operators.SuffixArray.build(bigD, "doc_id", "text").count()
        val buildS = (System.nanoTime() - t0) / 1e9
        val bm = snapS() - m0
        val t1 = System.nanoTime()
        val nSpans = graft.operators.SuffixArray
          .repeatedSpans(bigD, "doc_id", "text", minLen = 20).count()
        val spanS = (System.nanoTime() - t1) / 1e9
        println(f"[probe] suffix f=$f%-3d suffixes=$nSuf%-9d build=$buildS%.1f s " +
          f"spans(>=20)=$nSpans spansWall=$spanS%.1f s buildMetrics=${bm.json}")
      }
    }
    stage("suffix skew") {
      // The round-15 skew contract at probe scale: a 400-char boilerplate
      // header prepended to EVERY doc puts >50% of all suffixes inside one
      // shared 32-char seed window (the round-14 verdict's flagged hazard —
      // under the old construction that whole tie class landed in a single
      // task). Claims: every corpus-sized stage spreads its rows (per-task
      // max within ~4x the median — printed below from EXECUTED task
      // metrics, the same signal SuffixSkewSpec asserts), and build wall
      // stays within a small factor of the unskewed 'suffix array' stage
      // on the same corpus volume.
      val stageTasks = scala.collection.concurrent.TrieMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            val buf = stageTasks.getOrElseUpdate(te.stageId,
              scala.collection.mutable.ArrayBuffer.empty[Long])
            buf.synchronized { buf += m.shuffleReadMetrics.recordsRead }
          }
        }
      }
      val snapK = TaskMetricsCollector.install(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        for (f <- Seq(1, factor).distinct) {
          val bigD = (0 until f).map { i =>
            base.select((col("doc_id") + lit(i.toLong * 10 * n)).as("doc_id"),
              concat(lit("a" * 400), col("text"), lit(s" replica$i")).as("text"))
          }.reduce(_ union _).localCheckpoint(true)
          stageTasks.clear()
          org.apache.spark.sql.graft.Shim.drainListenerBus(spark.sparkContext)
          val m0 = snapK(); val t0 = System.nanoTime()
          val nSuf = graft.operators.SuffixArray.build(bigD, "doc_id", "text").count()
          val buildS = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.graft.Shim.drainListenerBus(spark.sparkContext)
          val bm = snapK() - m0
          println(f"[probe] sufskew f=$f%-3d suffixes=$nSuf%-9d build=$buildS%.1f s " +
            s"metrics=${bm.json}")
          stageTasks.toSeq
            .map { case (sid, recs) => (sid, recs.toVector.filter(_ > 0).sorted) }
            .filter { case (_, recs) => recs.sum >= nSuf / 2 }
            .sortBy(_._1)
            .foreach { case (sid, recs) =>
              val med = recs(recs.size / 2)
              println(f"[probe] sufskew f=$f%-3d stage=$sid%-5d tasks=${recs.size}%-4d " +
                f"taskRecords max=${recs.last} median=$med ratio=${recs.last.toDouble / math.max(1, med)}%.2f")
            }
        }
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    stage("gram cut") {
      // The ExactSubstr GRAM fast path under the same hostile replication:
      // replicas duplicate every window, so at f>1 essentially the ENTIRE
      // gram table survives both duplicate filters (the worst case — the
      // two-phase hash prune prunes nothing) and every document is cut and
      // rebuilt. Claims: wall tracks gram count LINEARLY (two keyed
      // aggregations + the interval-union rebuild, never pairwise, no
      // doubling rounds), and the cut cost stays far below the
      // suffix-array build on the identical corpus (the 'suffix array'
      // stage above — same fixture, same factor, directly comparable).
      val snapG = TaskMetricsCollector.install(spark.sparkContext)
      for (f <- Seq(1, factor).distinct) {
        val bigD = (0 until f).map { i =>
          base.select((col("doc_id") + lit(i.toLong * 10 * n)).as("doc_id"),
            concat(col("text"), lit(s" replica$i")).as("text"))
        }.reduce(_ union _).localCheckpoint(true)
        val m0 = snapG(); val t0 = System.nanoTime()
        val out = Dedup.exactSubstrCutByGrams(bigD, "doc_id", "text", minLen = 20)
        val nCut = out.where(col("n_removed_chars") > 0).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val gm = snapG() - m0
        println(f"[probe] gramcut f=$f%-3d docs=${n * f}%-8d cutDocs=$nCut%-8d " +
          f"wall=$wall%.1f s metrics=${gm.json}")
      }
    }
    stage("bradley terry") {
      // Preference-strength fitting under ITEM growth — the leaderboard
      // axis: each factor step replicates the item space (synthetic
      // arenas from the events table, disjoint per replica), with
      // judgment volume growing proportionally. Claims: the one-pass
      // count collapse absorbs the judgment volume (the loop never sees
      // raw judgments), per-iteration cost tracks the 2-rows-per-pair
      // opponent table — items × avg-degree, never items² and never
      // judgments — and the driver never collects anything.
      val snapB = TaskMetricsCollector.install(spark.sparkContext)
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      for (f <- Seq(1, factor).distinct) {
        val duels = (0 until f).map { i =>
          // replica i's arena: item = "type_i", duels from consecutive
          // event ids per user (cheap deterministic pairing)
          val e = ev.select(col("event_id"), col("user_id"),
            concat(col("event_type"), lit(s"_$i")).as("it"), col("value"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("event_id")
          e.withColumn("_nt", lead("it", 1).over(w))
            .withColumn("_nv", lead("value", 1).over(w))
            .where(col("_nt").isNotNull && col("_nt") =!= col("it") &&
              col("value") =!= col("_nv"))
            .select(
              when(col("value") > col("_nv"), col("it")).otherwise(col("_nt")).as("winner"),
              when(col("value") > col("_nv"), col("_nt")).otherwise(col("it")).as("loser"))
        }.reduce(_ unionAll _).localCheckpoint(true)
        val nd = duels.count()
        val m0 = snapB(); val t0 = System.nanoTime()
        val fit = graft.operators.Preference
          .bradleyTerry(duels, "winner", "loser", iters = 8)
        val items = fit.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val bm = snapB() - m0
        println(f"[probe] bt f=$f%-3d duels=$nd%-9d items=$items%-6d " +
          f"wall=$wall%.1f s metrics=${bm.json}")
      }
    }
    stage("rl advantage skew") {
      // GRPO advantage under GROUP SKEW — the window path's known hazard:
      // Window.partitionBy(prompt) buffers each group in one task, so a
      // single viral prompt that accumulates half the corpus's rollouts
      // serializes into one straggler. The probe replicates events f×,
      // collapsing HALF of every replica onto ONE hot prompt (f=30 at
      // sf0.1: 3M rollouts, 1.5M of them in a single group) and compares
      // the two paths the operator ships: the window form
      // ([[graft.operators.RlOps.groupAdvantage]] — per-group O(n) task
      // buffer, correct but skew-exposed) vs the moment form
      // ([[graft.operators.RlOps.rewardMoments]] +
      // [[graft.operators.RlOps.advantageFromMoments]] — map-side-combined
      // (n, Σr, Σr²) then a prompt-keyed join, no per-group buffering).
      // Claims: moments wall stays linear in rows with exchange O(groups);
      // the window path's extra wall is confined to the hot-group task
      // (it must not OOM — Spark's window spills — only straggle); both
      // paths agree on every advantage to 1e-9.
      val snapR = TaskMetricsCollector.install(spark.sparkContext)
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
        .where(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"))
      for (f <- Seq(1, factor).distinct) {
        val ev = (0 until f).map { i =>
          ev0.select(
            (col("event_id") + lit(i.toLong * 10000000L)).as("event_id"),
            when(pmod(col("user_id"), lit(2L)) === 0L, lit("hot"))
              .otherwise(concat(col("user_id"), lit(s"_$i"))).as("prompt"),
            col("value"))
        }.reduce(_ unionAll _).localCheckpoint(true)
        val rows = ev.count()
        val hot = ev.where(col("prompt") === "hot").count()
        def run(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
          val m0 = snapR(); val t0 = System.nanoTime()
          val s = df.agg(sum(col("advantage") * col("advantage")).as("ss"),
            count(lit(1)).as("n")).collect().head
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"[probe] rl f=$f%-3d $label rows=$rows%-9d hot=$hot%-9d " +
            f"ss=${s.getDouble(0)}%.3f wall=$wall%.1f s metrics=${(snapR() - m0).json}")
        }
        run("window ") {
          operators.RlOps.groupAdvantage(ev, Seq("prompt"), "value")
        }
        run("moments") {
          val m = operators.RlOps.rewardMoments(ev, Seq("prompt"), "value")
          operators.RlOps.advantageFromMoments(ev, m, Seq("prompt"), "value")
        }
      }
    }
    stage("bucketed join growth") {
      // The pay-the-shuffle-once claim under data growth: a recurring
      // fact⋈fact-sized join (lineitem⋈orders on orderkey, replicated f×
      // with disjoint key spaces) run (a) as a plain sort-merge join —
      // BOTH sides shuffle on every execution, volume linear in f — and
      // (b) through the bucketed layout — the write pays one partitioned
      // shuffle, then EVERY subsequent co-located join moves zero shuffle
      // records at any f. Broadcast is disabled so (a) is a genuine SMJ;
      // the bucketed join's zero is structural (validated bucket specs),
      // not a small-data accident.
      val snapJ = TaskMetricsCollector.install(spark.sparkContext)
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val or0 = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        for (f <- Seq(1, factor).distinct) {
          def rep(df: org.apache.spark.sql.DataFrame) = (0 until f).map { i =>
            df.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
          }.reduce(_ unionAll _).localCheckpoint(true)
          val (lf, of) = (rep(li0), rep(or0))
          // Bucket count sized to DATA, not to the session: ~100k fact rows
          // per bucket. Measured here at f=30 (18M rows): 32 buckets walls
          // the co-located join at 62s (560k-row per-task merges, GC-bound,
          // parallelism capped at numBuckets) vs 1.0s at 256 — the same
          // width-follows-data rule as the suffix-array exchange.
          val nb = math.max(32L, lf.count() / 100000L).toInt
          def timedJ(label: String)(body: => Long): Unit = {
            val m0 = snapJ(); val t0 = System.nanoTime()
            val n = body
            println(f"[probe] bktjoin f=$f%-3d $label nb=$nb%-4d rows=$n%-10d " +
              f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s metrics=${(snapJ() - m0).json}")
          }
          timedJ("plain SMJ    ") { lf.join(of, Seq("l_orderkey")).count() }
          val tmp = java.nio.file.Files.createTempDirectory("probe-bkt").toString
          try {
            timedJ("bucket write ") {
              operators.Bucketing.writeBucketed(lf, s"probe_bkt_l_$f", s"$tmp/l",
                Seq("l_orderkey"), numBuckets = nb)
              operators.Bucketing.writeBucketed(of, s"probe_bkt_o_$f", s"$tmp/o",
                Seq("l_orderkey"), numBuckets = nb)
              0L
            }
            timedJ("colocated SMJ") {
              operators.Bucketing.colocatedJoin(spark,
                s"probe_bkt_l_$f", s"probe_bkt_o_$f", Seq("l_orderkey")).count()
            }
          } finally {
            spark.sql(s"DROP TABLE IF EXISTS probe_bkt_l_$f")
            spark.sql(s"DROP TABLE IF EXISTS probe_bkt_o_$f")
            rmTreeLocal(new java.io.File(tmp))
          }
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
    if (onlyStage.isDefined) {
      // A filter matching nothing must be loud — a silent empty run is
      // indistinguishable from an instant stage.
      if (stagesMatched == 0)
        println(s"[probe] WARNING: no filterable stage label contains " +
          s"'${onlyStage.get}' (filterable: 'exact dup spans', 'winnowing pairs only', " +
          "'topk agg vs window', 'weighted jaccard', 'triangles kcore', " +
          "'peak concurrency', 'attribution', 'streaming lsh increment', " +
          "'ann growth', 'suffix array', 'suffix skew', 'gram cut', 'bradley terry', " +
          "'rl advantage skew', 'bucketed join growth')")
      spark.stop(); return
    }

    val pairs = timed("minhash pairs materialize") {
      val p = Dedup.minHashLshPairs(big, "doc_id", "text").localCheckpoint(true)
      println(s"[probe] pairs = ${p.count()}")
      p
    }
    timed("connected components") {
      val c = Dedup.connectedComponents(pairs)
      println(s"[probe] clustered ids = ${c.count()}, clusters = ${c.select("component").distinct().count()}")
    }
    timed("decontaminate") {
      val d = Dedup.decontaminate(big, "doc_id", "text",
        big.where(col("doc_id") % 97 === 0), "doc_id", "text")
      println(s"[probe] contaminated = ${d.where(col("contaminated") === 1).count()}")
    }
    timed("unigram LM score") {
      // Token volume grows ×factor but the vocab barely grows (replica
      // suffixes add `factor` new types): the claim under test is that the
      // shared token-keyed exchange and the per-doc sorted fold keep wall
      // clock tracking token volume, with no per-task state growth.
      val lm = graft.operators.UnigramLm.scoreDocs(big, "doc_id", "text")
      println(s"[probe] scored docs = ${lm.count()}")
    }
    timed("pq train+encode+adc") {
      // Identical vectors replicated: the quantizer's work (subrow explode,
      // argmin, mean update) must track ROW volume linearly — cells just get
      // `factor`× denser. The ADC probe's cost is bounded by the encoded
      // table scan + the broadcast distance table, never the raw vectors.
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val ne = e.count()
      val bigE = (0 until factor).map { i =>
        e.select((col("vec_id") + lit(i.toLong * 10 * ne)).as("vec_id"), col("embedding"))
      }.reduce(_ union _)
      val cb = Similarity.pqTrain(bigE, "vec_id", "embedding", m = 4, subDim = 16, k = 4, iters = 2)
      val enc = Similarity.pqEncode(bigE, cb, "vec_id", "embedding", m = 4, subDim = 16)
        .localCheckpoint(true)
      println(s"[probe] encoded code rows = ${enc.count()}")
      val top = Similarity.pqTopK(e.where(col("vec_id") < 10), enc, cb,
        "vec_id", "embedding", k = 5, m = 4, subDim = 16)
      println(s"[probe] adc result rows = ${top.count()}")
    }
    timed("incremental lsh probe") {
      // Index = the WHOLE replicated corpus; new batch = one un-replicated
      // slice. The claim: probe cost tracks the new batch and its matched
      // buckets — the index contributes one count-agg scan, never a
      // pair-generation side (old×old pairs are structurally absent).
      val idx = Dedup.minHashBands(big, "doc_id", "text").localCheckpoint(true)
      println(s"[probe] index band rows = ${idx.count()}")
      val nw = base.select((col("doc_id") + lit(factor.toLong * 10 * n)).as("doc_id"),
        concat(col("text"), lit(" replicanew")).as("text"))
      val p = Dedup.lshPairsIncremental(nw, idx, "doc_id", "text")
      println(s"[probe] incremental pairs = ${p.count()}")
    }
    timed("pmi collocations") {
      // Bigram volume grows ×factor while the pair vocabulary barely grows
      // (replica suffixes): the claim is that the count aggregates absorb
      // the growth map-side and the vocab joins stay vocab-sized.
      val top = graft.operators.Collocations.pmiBigrams(big, "text", minCount = 5L, topK = 30)
      println(s"[probe] collocation rows = ${top.count()}")
    }
    timed("ngram novelty") {
      // Every replica kills its copies' novelty (df grows with factor):
      // the df count and the doc-grouped ratio both ride the one shingle
      // expansion — no second shuffle of the expanded table.
      val ds = Dedup.shingleTable(big, "doc_id", "text", n = 3)
      val dfq = ds.groupBy("shingle").agg(count(lit(1)).as("df"))
      val nov = ds.join(dfq, "shingle").groupBy("doc_id")
        .agg(count(lit(1)).as("n"), count_if(col("df") === 1).as("novel"))
      println(s"[probe] novelty docs = ${nov.count()}")
    }
    timed("embedding near-dup (banded)") {
      // Replicated vectors: every replica of a vector collides in EVERY
      // sign band, so candidate volume grows quadratically per bucket —
      // the claim is that the (1, maxBucket] membership window and the
      // count-first aggregation keep state flat while the exact verify
      // touches only emitted candidates (never block²).
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"), col("label"))
      val ne = e.count()
      val bigE = (0 until factor).map { i =>
        e.select((col("vec_id") + lit(i.toLong * 10 * ne)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ union _)
      // Band bits sized to the replicated density (see the operator's
      // sizing rule): 8 bands × 8 bits keeps bucket occupancy in the tens
      // where the gate's 16×4 default — tuned for the sf corpus — would
      // pack ~400 vectors per bucket here and pay C(occupancy,2) in
      // candidates. Replica copies are IDENTICAL vectors, so recall on
      // true pairs is exact under any banding.
      val p = Dedup.embeddingNearDupPairsBanded(
        bigE, "vec_id", "embedding", "label", threshold = 0.95, dims = 64, bands = 8)
      println(s"[probe] banded near-dup pairs = ${p.count()}")
      // Exact variant under the SAME replication: the maxBlock guard must
      // fire loudly (blocks are factor× the base label size) rather than
      // silently running the quadratic join.
      val guard = scala.util.Try {
        Dedup.embeddingNearDupPairs(bigE, "vec_id", "embedding", "label",
          threshold = 0.95, maxBlock = (ne / 5).toInt).count()
      }
      println(s"[probe] exact-variant guard fired = ${guard.isFailure}")
    }
    timed("semantic dedup (SemDeDup)") {
      // Replicated vectors: each replica set is an N-clique INSIDE its
      // k-means cell (identical vectors share the assignment argmax), so
      // the composition inherits the banded path's capped candidate
      // economics while CC sees factor-sized cliques. The claim: wall
      // clock tracks the banded pair volume; Lloyd training and the one
      // corpus checkpoint are a fixed prefix that amortizes with factor.
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val ne = e.count()
      val bigE = (0 until factor).map { i =>
        e.select((col("vec_id") + lit(i.toLong * 10 * ne)).as("vec_id"), col("embedding"))
      }.reduce(_ union _)
      val out = Dedup.semanticDedup(bigE, "vec_id", "embedding",
        k = 4, iters = 1, threshold = 0.95, dims = 64, bands = 8)
        .localCheckpoint(true)
      val kept = out.where(col("kept")).count()
      println(s"[probe] semantic kept = $kept of ${out.count()} (dropped ${out.count() - kept})")
    }
    timed("mixture sample") {
      // Rows grow ×factor under a FIXED token budget: per-(source, bucket)
      // totals stay O(sources × buckets), the kept set shrinks toward the
      // earliest hash buckets, and only each source's boundary bucket pays
      // a row-level window — cost must track the corpus SCAN, never the
      // selection or a per-source global sort.
      val bigS = (0 until factor).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 10 * n)).as("doc_id"),
          col("source"), col("text"))
      }.reduce(_ union _)
      val m = graft.operators.Mixture.mixtureSample(
        bigS, "doc_id", "source", size(Dedup.tokens(col("text"))),
        Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0),
        totalTokens = 30000L, buckets = 256)
      println(s"[probe] mixture kept docs = ${m.count()}, tokens = " +
        m.agg(sum(col("n_tokens"))).head().getLong(0))
    }
    timed("winnowing pairs") {
      // Replicas share their ENTIRE character stream (modulo the one
      // suffix token): every base doc's N copies share nearly all
      // fingerprints, so shared-count pairs grow quadratically while the
      // singleton-df prune (most char-grams are corpus-unique) keeps the
      // inverted-index shuffle near-flat. Claim: wall tracks fingerprint
      // volume, never the clique blowup.
      val p = Dedup.winnowingPairs(big, "doc_id", "text",
        k = 12, w = 8, minShared = 40)
      println(s"[probe] winnowing pairs = ${p.count()}")
    }
    timed("bigram LM (stupid backoff)") {
      // Bigram volume grows ×factor while the TRAIN model (the even half
      // of the same replicated corpus) holds its type tables nearly flat:
      // the claim is scoring pays one (w1, w2)-keyed exchange of the doc
      // bigram stream plus the backoff-sliver join — never a model
      // broadcast, never a third corpus-wide re-partition.
      val sc = graft.operators.BigramLm.scoreDocs(big, "doc_id", "text",
        big.where(col("doc_id") % 2 === 0), "text")
      println(s"[probe] bigram-scored docs = ${sc.count()}")
    }
    timed("gopher filter") {
      // Pure per-row predicate: cost must track the scan exactly (no
      // shuffle, no state) — the shape every 100 TB quality filter needs.
      // (Stop-word tail appended: the corpus vocabulary holds at most one
      // gopherStops word, and an all-false filter would probe nothing.)
      val kept = big
        .withColumn("text", concat(col("text"), lit(" the and of to have")))
        .where(graft.operators.Repetition.gopherPass(col("text"))).count()
      println(s"[probe] gopher kept = $kept")
    }
    timed("drift report") {
      // Token volume grows ×factor, the vocabulary stays nearly flat
      // (replica suffixes add `factor` types): the claim is the one
      // (group, token)-keyed pass absorbs the growth map-side and every
      // downstream frame (corpus counts, totals, top-k window) is
      // vocab-sized, so wall tracks the token scan.
      val d = graft.operators.Quality.driftReport(
        big.withColumn("source", (col("doc_id") % 20).cast("string")),
        "text", "source", topK = 5)
      println(s"[probe] drift rows = ${d.count()}")
    }
    timed("hard negatives") {
      // Fixed anchor set against a factor× corpus: anchors broadcast, the
      // corpus is scanned once, and the per-anchor top-k window is
      // WindowGroupLimit-pruned map-side — cost must track the corpus scan
      // linearly, output stays k × anchors regardless of factor.
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val ne = e.count()
      val bigE = (0 until factor).map { i =>
        e.select((col("vec_id") + lit(i.toLong * 10 * ne)).as("vec_id"), col("embedding"))
      }.reduce(_ union _)
      val hn = Similarity.mineHardNegatives(e.where(col("vec_id") < 20), bigE,
        "vec_id", "embedding", k = 10, dupCeiling = 0.4)
      println(s"[probe] hard-negative rows = ${hn.count()}")
    }
    timed("audio metadata decode") {
      // Pure per-row chunk walk over factor× synthetic WAVs (no shuffle,
      // no state, blob dropped at the parse) — like the gopher filter,
      // cost must track the scan exactly; the media-metadata shape at
      // 100 TB.
      val a = graft.operators.Multimodal.decodeAudio(
        graft.operators.Multimodal.syntheticWavs(big, "doc_id"), "doc_id", "blob")
      println(s"[probe] decoded audio rows = ${a.where(col("decoded")).count()}")
    }
    timed("cdc dedup") {
      // Replicas differ only in their one-token suffix, so every NON-final
      // chunk of a replica exactly duplicates the original's: chunk
      // instances grow linearly, the first-occurrence window keeps ONE
      // counter per chunk-hash key, and kept-token volume stays ~flat
      // (replicas collapse to their resynchronized tail chunk). Wall must
      // track the three keyed shuffles — never the duplicate multiplicity.
      val d = graft.operators.Chunking.cdcDedup(big, "doc_id", "text", 8)
      val kept = d.agg(sum(col("n_kept")), sum(col("n_chunks"))).first()
      println(s"[probe] cdc kept/total chunks = ${kept.getLong(0)}/${kept.getLong(1)}")
    }
    timed("example slicing") {
      // NO per-token rows: each doc contributes ~n/L+1 array-slice fragments,
      // so the example-keyed shuffle carries O(docs + examples) rows at any
      // factor and wall must track the scan — the pretraining-stream cut.
      val ex = graft.operators.Packing.sliceExamples(big, "doc_id", "text", 512)
      println(s"[probe] examples = ${ex.count()}")
    }
    timed("sft render") {
      // Fixed 10-turn conversations over disjoint replica id spaces: conv
      // COUNT grows with the factor while per-conv window state (the turn
      // list) stays constant — wall tracks the single conv-keyed exchange.
      val turns = big.select((col("doc_id") / 10).cast("long").as("conv_id"),
        col("doc_id").as("turn_idx"),
        when(col("doc_id") % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
        substring(col("text"), 1, 60).as("content"))
      val sft = graft.operators.ChatTemplate.lossSpans(
        turns, "conv_id", "turn_idx", "role", "content")
      println(s"[probe] sft spans = ${sft.count()}")
    }
    timed("per-group cap") {
      // Replication multiplies GROUP sizes, not group counts: every replica
      // lands in the same synthetic group (doc_id % 20), so groups are
      // factor× hotter while output stays capped — the map-side
      // WindowGroupLimit must keep the shuffle O(k × tasks), not O(rows).
      val capped = Dedup.perGroupCap(
        big.withColumn("grp", (col("doc_id") % 20).cast("string")),
        "doc_id", "grp", maxPerGroup = 10)
      println(s"[probe] capped rows = ${capped.count()}")
    }
    spark.stop()
  }
}

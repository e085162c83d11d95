package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // Warm the executor/codegen paths AND the parquet scan machinery (footer
    // decode, page cache, vectorized reader codegen) so the alphabetically
    // first query's time is its own, not the JVM's.
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    Seq("events", "documents", "embeddings", "orders", "lineitem").foreach { t =>
      // Tolerant like the query loop below: a partial dataset dir should
      // degrade that table's queries, not abort the whole bench.
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // Streaming-machinery warmer (round 15, same rationale as the warmers
    // above): the FIRST streaming gate of a run was absorbing the one-time
    // init of the micro-batch engine — StreamingQueryManager, offset/commit
    // WAL classes, FileStreamSource listing, IncrementalExecution planning
    // (measured: the seed-order-first st gate ran 2-6x its quiet min on
    // otherwise comparable boards). One 1-row AvailableNow file-stream
    // round-trip pays that before any gate is timed. Methodology is
    // otherwise unchanged: same queries, same count() action, same order.
    try QueriesExt.streamedGate(spark, "benchwarm", spark.range(1).toDF())(mk => mk()).count()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] streaming warmer skipped: ${e.getMessage}") }
    // Optional positional args = run only these queries (local iteration aid;
    // the driver invokes with no args and gets the full suite).
    val only = args.toSet
    val selected = if (only.isEmpty) SparkEntry.queries else SparkEntry.queries.filter(q => only(q._1))
    // Execution order is SEEDED-RANDOM, not alphabetical: three consecutive
    // official runs showed the same alphabetically-contiguous ANN/st/t
    // stretch running 2-7x over quiet cost (adjudicated load artifacts —
    // BASELINE.md rounds 9-10). Randomizing the order decorrelates machine
    // load from gate identity, so a slow CLUSTER in one run can no longer
    // masquerade as a slow GATE FAMILY. The seed defaults to the round
    // number (deterministic within a round, varies across rounds) and is
    // logged in the artifact so any run is exactly reproducible.
    val round = inferRound()
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").flatMap(_.toLongOption)
      .getOrElse(round.toLong)
    val order = new scala.util.Random(seed).shuffle(selected.keys.toSeq.sorted)
    // Failure-honest accounting: a query that crashes records -1 (never its
    // crash latency) and lands in the `failed` list; the total covers ONLY
    // succeeding queries. A partial board can therefore never masquerade as
    // a full-run total — readers of the artifact alone see exactly which
    // queries contributed. Each gate additionally records the 1-minute
    // loadavg at start, the JVM GC-time delta, and — the load-invariant
    // signals — executor CPU ms, task ms, shuffle read/write bytes, spill
    // bytes and task count from a SparkListener, drained at both edges.
    // A gate whose wall spikes while cpuMs/shufB stay at-band is external
    // load BY CONSTRUCTION; one whose cpuMs or shuffle volume moved is a
    // plan change. This makes official-run outliers adjudicable from the
    // artifact alone, no same-JVM A/B session needed.
    val snap = TaskMetricsCollector.install(spark.sparkContext)
    val results = order.map { name =>
      val fn = selected(name)
      val la1 = loadAvg1()
      val gc0 = gcMillis()
      val m0 = snap()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      (name, sec, la1, gcMillis() - gc0, snap() - m0)
    }
    val qs = results.sortBy(_._1).map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val telemetry = results.sortBy(_._1)
      .map { case (k, _, la, gc, m) =>
        val mj = m.json.stripPrefix("{")
        s"\"" + k + s"""\":{"la1":$la,"gcMs":$gc,""" + mj }
      .mkString("{", ",", "}")
    val (passed, failed) = results.partition(_._2 >= 0.0)
    val summary = summaryLine(passed.map(_._2).sum, passed.size, failed.map(_._1), sfDir)
    println(summary)
    // Subset runs (positional args) are local iteration aids — they must
    // never overwrite the full-board artifact-of-record. Guard on the
    // registry size too, not just `only`: an env-override invocation that
    // somehow measured fewer queries than the registry holds is a partial
    // board and has no business becoming the record (this exact failure
    // shipped once: a 9-query subset landed as BENCH_local_r08.json).
    if (only.isEmpty && results.size == SparkEntry.queries.size)
      writeArtifact(summary, qs, round, seed, order, telemetry, spark.sparkContext.defaultParallelism)
    spark.stop()
  }

  /** Current round number. Priority: `SPARK_GRAFT_ROUND` env, then the
    * VERDICT.md header (`# VERDICT — round N` is always one round behind the
    * round being built/measured, so current = N + 1), then the old
    * CORRECTNESS-file inference as a last resort. VERDICT-based inference is
    * the fix for the round-10 off-by-one: the driver's bench runs AFTER it
    * writes CORRECTNESS_r{N}.json, so `max(CORRECTNESS)+1` labeled round
    * 10's official artifact `"round": 11`. The VERDICT header is stable
    * across the whole round (the judge rewrites it only after the bench), so
    * both mid-round builder runs and the driver's post-correctness run infer
    * the same, correct number.
    */
  private[graft] def inferRound(): Int =
    sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption).orElse {
      try {
        val verdict = java.nio.file.Paths.get("VERDICT.md")
        if (java.nio.file.Files.exists(verdict)) {
          val head = java.nio.file.Files.readString(verdict).linesIterator
            .take(3).mkString("\n")
          "round\\s+(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt + 1)
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse {
      val pat = "CORRECTNESS_r(\\d+)\\.json".r
      val rounds = Option(new java.io.File(".").list()).getOrElse(Array.empty[String])
        .collect { case pat(n) => n.toInt }
      (if (rounds.isEmpty) 0 else rounds.max) + 1
    }

  /** 1-minute loadavg from /proc/loadavg; -1 when unreadable (non-Linux). */
  private def loadAvg1(): Double = try {
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
  } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Cumulative JVM GC wall time (ms) across all collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** The last stdout line: the total over the passed gates, the passed
    * count and the failed gates. The per-gate times go to the artifact only,
    * so the line stays short enough for a reader that keeps only the tail of
    * stdout; a failed list longer than [[MaxListedFailures]] names is cut
    * there (`nFailed` still counts them all; the artifact's per-gate times
    * mark every failed gate with -1).
    */
  private[graft] def summaryLine(total: Double, passed: Int, failed: Seq[String], sf: String): String = {
    val failedArr = failed.take(MaxListedFailures).map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","passed":$passed,"nFailed":${failed.size},"failed":$failedArr,"sf":"$sf"}"""
  }

  private[graft] val MaxListedFailures = 40

  /** The artifact's file name, keyed on the round and on the cores the board
    * ran on, so an 8-core run does not overwrite the 32-core board.
    */
  private[graft] def artifactName(round: Int, cores: Int): String = f"BENCH_local_r$round%02d_c$cores.json"

  /** Artifact-of-record: persist the full per-query JSON in-repo so bench
    * totals never depend on a truncated stdout capture. `SPARK_GRAFT_BENCH_OUT`
    * overrides the path. The payload is the summary line plus the per-gate
    * times (-1 for a failed gate), stamped with the round (see
    * inferRound), the cores, git HEAD sha + working-tree-dirty flag, the
    * shuffle seed and realized execution order (reproducibility), and
    * per-gate {la1, gcMs} telemetry so outliers in official runs
    * self-diagnose without a manual same-JVM A/B session. Best-effort — a
    * read-only cwd or missing git must not fail the bench.
    */
  private def writeArtifact(summary: String, queries: String, round: Int, seed: Long,
      order: Seq[String], telemetry: String, cores: Int): Unit = try {
    import java.nio.file.{Files, Paths}
    val (sha, dirty) = gitStamp()
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT").map(Paths.get(_))
      .getOrElse(Paths.get(artifactName(round, cores)))
    val orderArr = order.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Splice provenance fields into the (known-object-shaped) JSON line.
    val stamped = s"""{"round":$round,"cores":$cores,"gitSha":"$sha","gitDirty":$dirty,"seed":$seed,"order":$orderArr,"telemetry":$telemetry,""" +
      summary.stripSuffix("}") + s""","queries":$queries}"""
    Files.writeString(out, stamped + "\n")
  } catch { case scala.util.control.NonFatal(e) =>
    System.err.println(s"[bench] artifact write skipped: ${e.getMessage}")
  }

  /** HEAD sha + dirty flag via git plumbing; ("unknown", false) when git is
    * unavailable. Kept out of the measured path — runs once post-bench.
    */
  private def gitStamp(): (String, Boolean) = try {
    def run(cmd: String*): String = {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0) out else ""
    }
    val sha = run("git", "rev-parse", "HEAD")
    val dirty = run("git", "status", "--porcelain").nonEmpty
    (if (sha.nonEmpty) sha else "unknown", dirty)
  } catch { case scala.util.control.NonFatal(_) => ("unknown", false) }
}

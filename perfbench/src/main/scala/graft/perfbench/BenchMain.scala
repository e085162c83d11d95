package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark process: set-up, a timed window of bounded runs, output checks
  * and one JSON line per metric, then one summary line.
  *
  * {{{
  *   BenchMain --workload assign_bulk|subscribe_ticks|curate_corpus
  *             --seed N --seconds S --trace 0|1 --cores N
  *             --root DIR --data DIR --work DIR [--scale F] [--gen-only 1]
  * }}}
  * `perfbench/run.py` builds the classpath and launches this.
  */
object BenchMain {

  val SetupReps = 2
  val TicksPerRun = 4

  /** Per-layer metrics of the traced run, with units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.busy_ms" -> "ms", "sources.shuffle_mb" -> "MB",
    "envelope.busy_ms" -> "ms", "envelope.cpu_ms" -> "ms",
    "envelope.rows_error" -> "count", "envelope.rows_empty" -> "count",
    "joins.k6_busy_ms" -> "ms", "joins.k6_masked_rows" -> "count", "joins.k6_dim_ms" -> "ms",
    "transforms.busy_ms" -> "ms", "transforms.cpu_ms" -> "ms",
    "joins.dedup_busy_ms" -> "ms", "joins.dedup_shuffle_mb" -> "MB", "joins.dedup_kept_ratio" -> "ratio",
    "sinks.existing_ms" -> "ms", "sinks.existing_rows" -> "count", "sinks.files" -> "count",
    "sinks.watermark_ms" -> "ms", "sinks.write_busy_ms" -> "ms", "sinks.write_mb" -> "MB",
    "streaming.addBatch_ms" -> "ms", "streaming.queryPlanning_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms", "streaming.commitOffsets_ms" -> "ms",
    "streaming.latestOffset_ms" -> "ms", "streaming.getBatch_ms" -> "ms",
    "streamrunner.outside_batch_ms" -> "ms", "streamrunner.summary_ms" -> "ms",
    "streamrunner.summary_files" -> "count", "graftmain.setup_ms" -> "ms",
    "pipeline.jobs" -> "count", "pipeline.tasks" -> "count", "pipeline.plan_ms" -> "ms") ++
    Seq("filters", "exact_dedup", "near_dedup", "decontaminate", "write").flatMap(s => Seq(
      s"curate.${s}_ms" -> "ms", s"curate.${s}_cpu_ms" -> "ms", s"curate.${s}_shuffle_mb" -> "MB")) ++
    Seq("after_filters", "after_exact_dedup", "after_near_dedup", "after_decontaminate", "written")
      .map(s => s"curate.rows_$s" -> "count") ++ Seq(
    "dedup.near_pairs" -> "count", "curate.cache_peak_mb" -> "MB", "curate.jobs" -> "count",
    "session.gc_ms" -> "ms", "trace.overhead_s" -> "s", "trace.coverage" -> "ratio")

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolation percentile (`q` in [0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val cores = a("cores").toInt
    val ctx = Ctx(seed, a.getOrElse("scale", "1").toDouble, Paths.get(a("root")), Paths.get(a("data")),
      Paths.get(a("work")))
    val wl: Workload = workloadName match {
      case "assign_bulk" => new AssignBulk(ctx)
      case "subscribe_ticks" => new SubscribeTicks(ctx, TicksPerRun)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val code = try { run(wl, seconds, trace, cores, a.get("gen-only").contains("1")); 0 }
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] fatal: $e"); e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def build(cores: Int): SparkSession = {
    GraftSession.builder(s"local[$cores]").getOrCreate()
    GraftSession.get()
  }

  private val t00 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.2f s: $what")

  private def run(wl: Workload, seconds: Double, trace: Boolean, cores: Int, genOnly: Boolean): Unit = {
    phase("start")
    // Set-up, repeated: session build + GraftSession configuration + one
    // warm-up operation. Generation and the base-state check are excluded.
    val setups = mutable.ArrayBuffer.empty[Double]
    var t0 = System.nanoTime()
    var spark = build(cores)
    val session0 = System.nanoTime() - t0
    phase("session built")
    wl.prepare(spark)
    phase("inputs ready")
    println(s"""{"inputs":{"workload":"${wl.name}","seed":${wl.ctx.seed},"scale":${num(wl.ctx.scale)},"digest":"${wl.digest}"}}""")
    if (genOnly) { spark.stop(); return }
    t0 = System.nanoTime()
    wl.warmup(spark, first = true)
    setups += (session0 + System.nanoTime() - t0) / 1e9
    // The first warm-up is an operation of the workload too: a mismatch in
    // the state it lands is a failed operation.
    val baseFailures = wl.keepBase(spark)
    baseFailures.foreach(f => System.err.println(s"[perfbench] ${wl.name}: base state FAILED: $f"))
    for (_ <- 2 to SetupReps) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      t0 = System.nanoTime()
      spark = build(cores)
      wl.warmup(spark, first = false)
      setups += (System.nanoTime() - t0) / 1e9
    }
    phase("set-up done")
    // Untimed runs past the steepest part of the JIT warm-up; their outputs
    // are checked like any other operation's.
    val warm = (1 to wl.warmRuns).flatMap(_ => wl.run(spark, None))
    phase("warm-up done")

    /** Bounded runs until `secs` have passed (at least one). */
    def window(secs: Double, tc: Option[TraceCtx]): Seq[Seq[Op]] = {
      val end = System.nanoTime() + (secs * 1e9).toLong
      val runs = mutable.ArrayBuffer.empty[Seq[Op]]
      do runs += wl.run(spark, tc) while (System.nanoTime() < end)
      runs.toSeq
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val runs = window(if (trace) seconds / 2 else seconds, None)
    val ops = runs.flatten
    var all = warm ++ ops ++ (if (baseFailures.isEmpty) Nil else Seq(Op(0, 0, 0, 0, baseFailures)))
    if (!trace) {
      // The summary line carries the BENCHMARK.json end-to-end metrics; the
      // workload's own names, percentiles and sample counts get lines too.
      val rate = median(runs.map(r => r.map(_.items).sum / (r.map(_.wallNs).sum / 1e9)))
      metrics("setup_s") = median(setups.toSeq) -> "s"
      metrics("cpu_s") = median(runs.map(_.map(_.cpuNs).sum / 1e9)) -> "s"
      val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
      // Printed, not in the summary: on a shared host the wall time of a run
      // follows the hypervisor's steal time, which CPU time excludes.
      extra("run_s") = median(runs.map(_.map(_.wallNs).sum / 1e9)) -> "s"
      extra(if (wl.itemUnit == "msg") "msgs_per_s" else "tokens_per_s") =
        rate -> (if (wl.itemUnit == "msg") "msg/s" else "tok/s")
      val pre = if (wl.isInstanceOf[SubscribeTicks]) "tick" else "op"
      extra(s"${pre}_ms_p50") = median(ops.map(_.ms)) -> "ms"
      extra(s"${pre}_ms_p75") = percentile(ops.map(_.ms), 0.75) -> "ms"
      extra("runs") = runs.size.toDouble -> "count"
      extra("ops") = ops.size.toDouble -> "count"
      extra("fail_share") = all.count(!_.ok).toDouble / all.size -> "ratio"
      (metrics ++ extra).foreach { case (k, (v, u)) => line(wl.name, k, v, u) }
    } else {
      val sc = spark.sparkContext
      val tc = TraceCtx(new Tracer(sc), new JobLog, new ProgressLog)
      sc.addSparkListener(tc.jobs)
      spark.streams.addListener(tc.progress)
      val traced = window(seconds / 2, Some(tc)).flatten
      tc.drain(spark)
      all = all ++ traced
      val finish = new LayerSample
      finish("trace.overhead_s") = (median(traced.map(_.ms)) - median(ops.map(_.ms))) / 1e3
      wl.finishTrace(spark, finish)
      val samples = wl.layerSamples.toSeq
      LayerMetrics.foreach { case (k, u) =>
        val v = finish.getOrElse(k, median(samples.flatMap(_.get(k))))
        metrics(k) = v -> u
        line(wl.name, k, v, u)
      }
      tc.tracer.write(wl.ctx.work.getParent.resolve(s"trace/spans-${wl.name}-${wl.ctx.seed}.jsonl"))
      line(wl.name, "traced_ops", traced.size, "count")
    }
    phase("window done")
    spark.stop()
    phase("stopped")
    val failed = all.count(!_.ok)
    val m = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${all.size},"failed":$failed,"metrics":{$m}}""")
  }

  private def line(w: String, k: String, v: Double, u: String): Unit =
    println(s"""{"workload":"$w","metric":"$k","value":${num(v)},"unit":"$u"}""")
}

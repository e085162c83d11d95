package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{CurateMain, GraftMain, GraftSession, Pipeline, ProcessSummary}
import graft.config.{ConfigYaml, CurateConfig}
import graft.operators.{Dedup, Joins}
import graft.sinks.Sinks
import graft.sources.MessageSource
import graft.streaming.StreamRunner

/** Where a workload keeps its inputs (cached per seed) and its run state. */
final case class Ctx(seed: Long, scale: Double, root: Path, data: Path, work: Path) {
  def n(base: Int): Int = math.max(1, math.round(base * scale).toInt)
}

/** One timed operation: a run, or one tick of a scheduled sequence. */
final case class Op(wallNs: Long, cpuNs: Long, gcMs: Long, items: Long, failures: Seq[String]) {
  def ok: Boolean = failures.isEmpty
  def ms: Double = wallNs / 1e6
}

/** Layer numbers of one traced operation. */
final class LayerSample extends mutable.LinkedHashMap[String, Double]

/** Tracing state shared by the traced operations of one run. */
final case class TraceCtx(tracer: Tracer, jobs: JobLog, progress: ProgressLog) {
  def drain(spark: SparkSession): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Time one public prefix of the plan with a `noop` write. */
  def prefix(name: String, df: => DataFrame): Unit =
    tracer.span(s"prefix.$name")(df.write.format("noop").mode("overwrite").save())

  def prefixMs(op: Int, name: String): Double =
    tracer.opSpans(op).filter(_.name == s"prefix.$name").map(_.ms).sum

  def stats(op: Int, span: String): Seq[StageStat] =
    jobs.stageStats(jobs.jobsOf(op).filter(_.span == span))
}

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** What `items_per_s` counts: messages or tokens. */
  def itemUnit: String
  /** Canonical digest of the generated inputs. */
  def digest: String
  /** Write the generated inputs, unless cached for this seed. */
  def prepare(spark: SparkSession): Unit
  /** One bounded run: its operations, each timed and checked. */
  def run(spark: SparkSession, trace: Option[TraceCtx]): Seq[Op]
  /** The warm-up pass of set-up: one operation. The first set-up's pass
    * also lands the state every run starts from (the sink's history), since
    * that is itself a run of the workload.
    */
  def warmup(spark: SparkSession, first: Boolean): Unit
  /** Untimed runs between set-up and the timed window. */
  def warmRuns: Int = 0
  /** After the first warm-up (untimed): check and keep the base state;
    * returns the failed checks.
    */
  def keepBase(spark: SparkSession): Seq[String] = Nil
  /** Layer numbers that need the whole traced run (computed once). */
  def finishTrace(spark: SparkSession, out: LayerSample): Unit = ()

  val layerSamples = mutable.ArrayBuffer.empty[LayerSample]

  // ---------------------------------------------------------- helpers
  protected def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  protected def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }

  protected def partFile(dir: Path): Path =
    Files.list(dir).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet file in $dir"))

  protected def cached: Boolean = {
    val marker = ctx.data.resolve(".done")
    Files.exists(marker) && Files.readString(marker).trim == digest
  }

  protected def markCached(): Unit = Files.writeString(ctx.data.resolve(".done"), digest)

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Time `body` (wall, process CPU, GC); a throw is a failed operation. */
  protected def timed(items: Long)(body: => Unit)(check: => Seq[String]): Op = {
    val (w0, c0, g0) = (System.nanoTime(), osBean.getProcessCpuTime, gcMs)
    val thrown = try { body; None } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val (w1, c1, g1) = (System.nanoTime(), osBean.getProcessCpuTime, gcMs)
    val failures = thrown.toSeq ++ (if (thrown.isEmpty)
      try check catch { case e: Throwable => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    else Nil)
    failures.foreach(f => System.err.println(s"[perfbench] $name: FAILED: $f"))
    System.err.println(f"[perfbench] op ${(w1 - w0) / 1e6}%.0f ms cpu ${(c1 - c0) / 1e6}%.0f ms gc ${g1 - g0} ms")
    Op(w1 - w0, c1 - c0, g1 - g0, items, failures)
  }

  protected def same(what: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$what = $got, expected $want")
}

/** Sink totals the checks compare: rows, NULL-message rows, masked rows. */
final case class SinkState(rows: Long, nullMessages: Long, masked: Long) {
  def +(e: Gen.Expect): SinkState =
    SinkState(rows + e.written, nullMessages + e.nullMessagesWritten, masked + e.maskedWritten)
}

/** The message workloads share the consumer config, inputs and checks. */
abstract class MessageWorkload(ctx: Ctx) extends Workload(ctx) {
  val itemUnit = "msg"
  protected val gen: Gen.MessageGen
  protected def screen: Gen.Screening = gen.screening
  protected def strategy: String

  protected def sinkDir: Path = ctx.work.resolve("sink")
  protected def dimDir: Path = ctx.data.resolve("dim")

  def yaml(sink: Path): String =
    s"""source:
       |  topic: events
       |  schema: json
       |  strategy: $strategy
       |  keypath-seperator: /
       |  message-fields-filter:
       |    - meta/secret
       |    - items/note
       |    - person/email
       |  flag-field-config:
       |    - person/name
       |    - tags
       |  message-filters:
       |    - key: status
       |      allowed_value: ACTIVE
       |    - key: status
       |      allowed_value: PENDING
       |target:
       |  table: $sink
       |  skip-duplicates-with:
       |    - kafka_hash
       |  delta:
       |    table: $sink
       |    column: kafka_timestamp
       |  k6-filter:
       |    filter-table: k6dim
       |    filter-col: off_id
       |    timestamp: kafka_timestamp
       |    col-keypath-separator: /
       |    col: person/id
       |transform:
       |  - src: kafka_key
       |    dst: kafka_key
       |  - src: kafka_offset
       |    dst: kafka_offset
       |  - src: kafka_partition
       |    dst: kafka_partition
       |  - src: kafka_timestamp
       |    dst: kafka_timestamp
       |    fun: int-unix-ms -> datetime-no
       |  - src: kafka_topic
       |    dst: kafka_topic
       |  - src: kafka_hash
       |    dst: kafka_hash
       |  - src: kafka_message
       |    dst: kafka_message
       |  - src: person.id
       |    dst: person_id
       |  - src: status
       |    dst: status
       |  - src: created
       |    dst: opprettet
       |    fun: str -> datetime-no
       |  - src: $$TESTERSEN
       |    dst: KILDESYSTEM
       |  - src: $$$$BATCH_TIME
       |    dst: lastet_tid
       |""".stripMargin

  protected def env(sourceDir: Path, sink: Path, extra: (String, String)*): GraftMain.Env =
    (Map(
      "CONSUMER_CONFIG" -> yaml(sink),
      "GRAFT_SOURCE_DIR" -> sourceDir.toString,
      "GRAFT_K6_DIM_DIR" -> dimDir.toString,
      "GRAFT_PAYLOAD_SCHEMA" -> Gen.PayloadDdl) ++ extra).get

  protected def sinkState(spark: SparkSession, sink: Path): SinkState = {
    val nullMsg = col("kafka_message").isNull
    val r = spark.read.parquet(sink.toString).agg(
      count(lit(1)), count(when(nullMsg, 1)),
      count(when(nullMsg && col("status").isin(Gen.AllowedStatus: _*), 1))).head()
    SinkState(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  protected def checkSummary(s: ProcessSummary, e: Gen.Expect): Seq[String] =
    same("event_count", s.eventCount, e.events) ++ same("empty_count", s.emptyCount, e.empty) ++
      same("non_empty_count", s.nonEmptyCount, e.nonEmpty) ++ same("error_count", s.errorCount, e.errors) ++
      same("written_to_db_count", s.writtenToDbCount, e.written)

  protected def checkSink(got: SinkState, want: SinkState): Seq[String] =
    same("sink rows", got.rows, want.rows) ++ same("sink null-message rows", got.nullMessages, want.nullMessages) ++
      same("sink masked rows", got.masked, want.masked)

  /** The instrumented equivalent of `GraftMain.execute` up to the strategy
    * branch: the same calls, with a span around each and a tracing sink.
    */
  protected def tracedSetup(spark: SparkSession, t: Tracer, e: GraftMain.Env)
      : (graft.config.PipelineConfig, Pipeline, TracingSink, Option[DataFrame]) =
    t.span("graftmain.setup") {
      val cfg = ConfigYaml.fromYaml(e("CONSUMER_CONFIG").get)
      val s = GraftSession.get()
      val pipeline = new Pipeline(cfg, StructType.fromDDL(Gen.PayloadDdl))
      val sink = new TracingSink(Sinks.forTarget(cfg.target, None, cfg.source.batchSize), t)
      (cfg, pipeline, sink, GraftMain.loadK6Dim(s, cfg, e))
    }

  /** Materialise each public prefix of the message plan over `raw` and
    * derive per-layer busy time, CPU and shuffle bytes by difference.
    */
  protected def decompose(spark: SparkSession, tc: TraceCtx, op: Int, pipeline: Pipeline,
      raw: DataFrame, dim: DataFrame, out: LayerSample): Unit = {
    val k6 = pipeline.cfg.target.k6Filter.get
    val keys = pipeline.cfg.target.skipDuplicatesWith
    tc.prefix("sources", raw)
    tc.prefix("envelope", pipeline.envelope(raw))
    tc.prefix("k6", Joins.k6Mask(pipeline.envelope(raw), dim, k6))
    tc.prefix("transforms", pipeline.transformed(raw, Some(dim)))
    tc.prefix("dedup", Joins.dedupAgainst(pipeline.transformed(raw, Some(dim)),
      Sinks.forTarget(pipeline.cfg.target).existing(spark, keys).get, keys))
    tc.prefix("k6_dim", Joins.k6Mask(pipeline.envelope(raw).limit(0), dim, k6))
    tc.drain(spark)
    def ms(p: String) = tc.prefixMs(op, p)
    def cpu(p: String) = tc.stats(op, s"prefix.$p").map(_.cpuNs).sum / 1e6
    def shuf(p: String) = tc.stats(op, s"prefix.$p").map(_.shuffleWrite).sum / 1e6
    def pos(x: Double) = math.max(0.0, x)
    val write = tc.tracer.opSpans(op).filter(_.name == "sinks.write").map(_.ms).sum
    out("sources.busy_ms") = ms("sources")
    out("sources.shuffle_mb") = shuf("sources")
    out("envelope.busy_ms") = pos(ms("envelope") - ms("sources"))
    out("envelope.cpu_ms") = pos(cpu("envelope") - cpu("sources"))
    out("joins.k6_busy_ms") = pos(ms("k6") - ms("envelope"))
    out("joins.k6_dim_ms") = ms("k6_dim")
    out("transforms.busy_ms") = pos(ms("transforms") - ms("k6"))
    out("transforms.cpu_ms") = pos(cpu("transforms") - cpu("k6"))
    out("joins.dedup_busy_ms") = pos(ms("dedup") - ms("transforms"))
    out("joins.dedup_shuffle_mb") = pos(shuf("dedup") - shuf("transforms"))
    out("sinks.write_busy_ms") = pos(write - ms("dedup"))
  }

  /** Layer numbers every traced message operation shares. */
  protected def common(tc: TraceCtx, op: Int, s: ProcessSummary, before: SinkState, after: SinkState,
      out: LayerSample): Unit = {
    val spans = tc.tracer.opSpans(op)
    def spanMs(n: String) = spans.filter(_.name == n).map(_.ms).sum
    val opJobs = tc.jobs.jobsOf(op).filterNot(_.span.startsWith("prefix."))
    val st = tc.jobs.stageStats(opJobs)
    out("pipeline.jobs") = opJobs.size
    out("pipeline.tasks") = st.map(_.tasks).sum
    out("sinks.write_mb") = tc.jobs.stageStats(opJobs.filter(_.span == "sinks.write")).map(_.outBytes).sum / 1e6
    out("sinks.existing_ms") = spanMs("sinks.existing")
    out("sinks.watermark_ms") = spanMs("sinks.watermark")
    out("sinks.existing_rows") = before.rows
    out("sinks.files") = Files.list(sinkDir).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    out("graftmain.setup_ms") = spanMs("graftmain.setup")
    // Driver-side plan construction: the pipeline span minus its sink calls.
    out("pipeline.plan_ms") = spans.filter(_.name == "pipeline.run").map(tc.tracer.selfMs).sum
    out("envelope.rows_error") = s.errorCount
    out("envelope.rows_empty") = s.emptyCount
    out("joins.k6_masked_rows") = after.masked - before.masked
    out("joins.dedup_kept_ratio") = if (s.eventCount == 0) 0.0 else s.writtenToDbCount.toDouble / s.eventCount
    val root = spans.find(_.name == "op").get
    out("trace.coverage") = 1.0 - tc.tracer.selfMs(root) / root.ms
  }
}

/** `assign_bulk`: one bounded assign run over a large interval. */
final class AssignBulk(ctx: Ctx) extends MessageWorkload(ctx) {
  val name = "assign_bulk"
  protected val strategy = "assign"
  protected val gen = new Gen.MessageGen(ctx.seed, 1)
  private val nPrev = ctx.n(2000)
  private val nCur = ctx.n(4000)
  private val step = 4 * Gen.DayMs / (nPrev + nCur)
  private val prev = (0 until nPrev).map(i => gen.next(step, if (i == nPrev - 1) Some(Gen.Normal) else None))
  private val cur = (0 until nCur).map(_ => gen.next(step))
  private val prevValues = prev.iterator.map(_.value).filter(_ != null).toSet
  private val expBase = Gen.expect(prev, Set.empty, screen)
  /** The delta watermark re-reads the previous interval's last message. */
  private val expOp = Gen.expect(prev.last +: cur, prevValues, screen)
  private val baseState = SinkState(0, 0, 0) + expBase
  val digest: String = Gen.digestOf(Gen.msgDigest(prev ++ cur))

  private def srcDir = ctx.data.resolve("src")
  private def baseSink = ctx.work.resolve("base_sink")

  def prepare(spark: SparkSession): Unit = if (!cached) {
    deleteTree(ctx.data); Files.createDirectories(ctx.data)
    Gen.writeParquet(spark, Gen.eventRows(prev ++ cur), Gen.eventsSchema, srcDir.resolve("events.parquet").toString)
    Gen.writeDim(spark, screen, dimDir.resolve("k6dim").toString)
    markCached()
  }

  private var baseSummary: ProcessSummary = null

  private def reset(): Unit = { deleteTree(sinkDir); copyTree(baseSink, sinkDir) }

  /** The first pass lands the previous interval, which the sink then holds. */
  def warmup(spark: SparkSession, first: Boolean): Unit =
    if (first) {
      deleteTree(baseSink)
      baseSummary = GraftMain.execute(env(srcDir, baseSink, "DATA_INTERVAL_END" -> cur.head.tsMs.toString))
    } else { reset(); GraftMain.execute(env(srcDir, sinkDir)) }

  override def keepBase(spark: SparkSession): Seq[String] =
    checkSummary(baseSummary, expBase) ++ checkSink(sinkState(spark, baseSink), baseState)

  def run(spark: SparkSession, trace: Option[TraceCtx]): Seq[Op] = {
    reset()
    var summary: ProcessSummary = null
    trace match {
      case None =>
        Seq(timed(expOp.events) { summary = GraftMain.execute(env(srcDir, sinkDir)) } {
          checkSummary(summary, expOp) ++ checkSink(sinkState(spark, sinkDir), baseState + expOp)
        })
      case Some(tc) =>
        val t = tc.tracer
        val op = t.op
        tc.jobs.resetPeak()
        var pipeline: Pipeline = null
        var dim: DataFrame = null
        val e = env(srcDir, sinkDir)
        val res = timed(expOp.events)(t.span("op") {
          val (cfg, p, sink, k6Dim) = tracedSetup(spark, t, e)
          pipeline = p; dim = k6Dim.get
          summary = t.span("pipeline.run")(GraftMain.runAssign(spark, cfg, p, sink, k6Dim, e))
        }) {
          checkSummary(summary, expOp) ++ checkSink(sinkState(spark, sinkDir), baseState + expOp)
        }
        if (res.ok) {
          val out = new LayerSample
          val raw = MessageSource.fromEvents(spark, srcDir.toString, "events", startMs = Some(prev.last.tsMs))
          decompose(spark, tc, op, pipeline, raw, dim, out)
          common(tc, op, summary, baseState, baseState + expOp, out)
          out("session.gc_ms") = res.gcMs
          layerSamples += out
        }
        t.op += 1
        Seq(res)
    }
  }
}

/** `subscribe_ticks`: scheduled subscribe runs over one checkpoint. */
final class SubscribeTicks(ctx: Ctx, val ticks: Int) extends MessageWorkload(ctx) {
  val name = "subscribe_ticks"
  protected val strategy = "subscribe"
  protected val gen = new Gen.MessageGen(ctx.seed, 2)
  private val nHist = ctx.n(4000)
  private val perTick = ctx.n(300)
  private val step = 4 * Gen.DayMs / (nHist + ticks * perTick)
  private val hist = (0 until nHist).map(_ => gen.next(step))
  private val (tickMsgs, tickExp) = {
    val delivered = mutable.LinkedHashSet.empty[String] ++= hist.iterator.map(_.value).filter(_ != null)
    val pool = mutable.ArrayBuffer.empty[Gen.Msg] ++= hist.filter(_.value != null)
    val out = (0 until ticks).map { _ =>
      // ~10% of each tick replays messages an earlier run already delivered.
      val replays = (0 until perTick / 10).map(_ => pool(gen.rnd.nextInt(pool.size)))
      val fresh = (0 until perTick - replays.size).map(_ => gen.next(step))
      val msgs = fresh ++ replays
      val e = Gen.expect(msgs, delivered, screen)
      delivered ++= msgs.iterator.map(_.value).filter(_ != null)
      pool ++= fresh.filter(_.value != null)
      (msgs, e)
    }
    (out.map(_._1), out.map(_._2))
  }
  private val expHist = Gen.expect(hist, Set.empty, screen)
  private val baseState = SinkState(0, 0, 0) + expHist
  val digest: String = Gen.digestOf(Gen.msgDigest(hist ++ tickMsgs.flatten))

  private def topic = ctx.work.resolve("topic")
  private def ckpt = ctx.work.resolve("ckpt")
  private def base = ctx.work.resolve("base")
  private def tickDir(k: Int) = ctx.data.resolve(f"ticks/tick-$k%04d")

  /** One untimed run: the timed ticks then sit past the steepest part of
    * the JIT warm-up, where a tick costs about twice its warm wall time.
    */
  override def warmRuns: Int = 1

  private def tickEnv = env(ctx.work, sinkDir, "GRAFT_CHECKPOINT_DIR" -> ckpt.toString)

  def prepare(spark: SparkSession): Unit = if (!cached) {
    deleteTree(ctx.data); Files.createDirectories(ctx.data)
    Gen.writeParquet(spark, Gen.topicRows(hist), MessageSource.schema, ctx.data.resolve("hist").toString)
    tickMsgs.zipWithIndex.foreach { case (m, k) =>
      Gen.writeParquet(spark, Gen.topicRows(m), MessageSource.schema, tickDir(k).toString)
    }
    Gen.writeDim(spark, screen, dimDir.resolve("k6dim").toString)
    markCached()
  }

  private var baseSummary: ProcessSummary = null

  /** The first pass consumes the history, which the sink and checkpoint
    * then hold; later passes are one tick from that state.
    */
  def warmup(spark: SparkSession, first: Boolean): Unit =
    if (first) {
      Seq(topic, sinkDir, ckpt).foreach(deleteTree)
      Files.createDirectories(topic)
      Files.copy(partFile(ctx.data.resolve("hist")), topic.resolve("hist.parquet"))
      baseSummary = GraftMain.execute(tickEnv)
    } else { restore(); deliver(0); GraftMain.execute(tickEnv) }

  /** The checkpoint records absolute file paths, so the base state is kept
    * as a copy and restored to the same place.
    */
  override def keepBase(spark: SparkSession): Seq[String] = {
    val bad = checkSummary(baseSummary, expHist) ++ checkSink(sinkState(spark, sinkDir), baseState)
    deleteTree(base)
    Seq("topic", "sink", "ckpt").foreach(d => copyTree(ctx.work.resolve(d), base.resolve(d)))
    bad
  }

  private def restore(): Unit = Seq("topic", "sink", "ckpt").foreach { d =>
    deleteTree(ctx.work.resolve(d)); copyTree(base.resolve(d), ctx.work.resolve(d))
  }

  private def deliver(k: Int): Unit =
    Files.copy(partFile(tickDir(k)), topic.resolve(f"tick-$k%04d.parquet"))

  def run(spark: SparkSession, trace: Option[TraceCtx]): Seq[Op] = {
    restore()
    var state = baseState
    (0 until ticks).map { k =>
      // Closed loop: tick k's messages arrive only after tick k-1 returned.
      deliver(k)
      val e = tickExp(k)
      val want = state + e
      var summary: ProcessSummary = null
      val res = trace match {
        case None =>
          timed(e.events) { summary = GraftMain.execute(tickEnv) } {
            checkSummary(summary, e) ++ checkSink(sinkState(spark, sinkDir), want)
          }
        case Some(tc) =>
          val t = tc.tracer
          val op = t.op
          var pipeline: Pipeline = null
          var dim: DataFrame = null
          val r = timed(e.events)(t.span("op") {
            val (_, p, sink, k6Dim) = tracedSetup(spark, t, tickEnv)
            pipeline = p; dim = k6Dim.get
            val runner = new StreamRunner(p, sink, ckpt.toString)
            t.span("streaming.query") {
              val stream = spark.readStream.schema(MessageSource.schema).parquet(topic.toString)
              runner.runAvailableNow(spark, stream, k6Dim)
            }
            summary = t.span("streamrunner.summary")(runner.summary)
          }) {
            checkSummary(summary, e) ++ checkSink(sinkState(spark, sinkDir), want)
          }
          if (r.ok) {
            val out = new LayerSample
            tc.drain(spark)
            val progress = tc.progress.take()
            def dur(k: String) = progress.map(_.getOrElse(k, 0L)).sum.toDouble
            Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
              .foreach(k => out(s"streaming.${k}_ms") = dur(k))
            out("streamrunner.outside_batch_ms") = r.ms - dur("triggerExecution")
            out("streamrunner.summary_ms") =
              t.opSpans(op).filter(_.name == "streamrunner.summary").map(_.ms).sum
            out("streamrunner.summary_files") = Files.list(ckpt.resolve("graft-summary")).iterator().asScala
              .count(_.getFileName.toString.startsWith("batch-"))
            val raw = spark.read.schema(MessageSource.schema).parquet(tickDir(k).toString)
            decompose(spark, tc, op, pipeline, raw, dim, out)
            common(tc, op, summary, state, want, out)
            // A subscribe run never reads the delta watermark; probe it on
            // the same sink, outside the operation, so the layer is measured.
            val wm = pipeline.cfg.target.delta.get.deltaColumn
            tc.tracer.span("prefix.watermark")(Sinks.forTarget(pipeline.cfg.target).maxWatermark(spark, wm))
            out("sinks.watermark_ms") = tc.prefixMs(op, "watermark")
            out("session.gc_ms") = r.gcMs
            layerSamples += out
          }
          t.op += 1
          r
      }
      state = want
      res
    }
  }
}

/** `curate_corpus`: one `CurateMain.run` plus its report. */
final class CurateCorpus(ctx: Ctx) extends Workload(ctx) {
  val name = "curate_corpus"
  val itemUnit = "tok"
  private val corpus = Gen.corpus(ctx.seed, ctx.n(300), 40)
  val digest: String = Gen.digestOf(
    (corpus.docs ++ corpus.bench).iterator.map { case (id, t) => s"$id|$t" })
  private val MinWords = 20
  private val MaxWords = 1000
  private val NearThreshold = 0.7

  private def words(t: String) = t.count(_ == ' ') + 1
  private val filtered = corpus.docs.filter { case (_, t) => words(t) >= MinWords && words(t) <= MaxWords }
  /** Exact-dedup survivors: the distinct texts among filter survivors. */
  private val distinctTexts = filtered.map(_._2).distinct.size.toLong

  private def input = ctx.data.resolve("corpus_in")
  private def bench = ctx.data.resolve("bench")
  private def output = ctx.work.resolve("curated")

  private lazy val cfg = CurateConfig.fromYaml(
    s"""input: $input
       |output: $output
       |filters:
       |  min-words: $MinWords
       |  max-words: $MaxWords
       |dedup:
       |  exact: true
       |  near-threshold: $NearThreshold
       |decontaminate:
       |  against: $bench
       |  n: 8
       |split:
       |  - train: 90
       |  - val: 10
       |""".stripMargin)

  def prepare(spark: SparkSession): Unit = if (!cached) {
    import org.apache.spark.sql.Row
    deleteTree(ctx.data); Files.createDirectories(ctx.data)
    Gen.writeParquet(spark, corpus.docs.map { case (i, t) => Row(i, t) }, Gen.corpusSchema, input.toString)
    Gen.writeParquet(spark, corpus.bench.map { case (i, t) => Row(i, t) }, Gen.corpusSchema, bench.toString)
    markCached()
  }

  private def once(spark: SparkSession): CurateMain.StageReport = {
    val r = CurateMain.run(spark, cfg)
    CurateMain.writeReport(spark, cfg, r)
    r
  }

  def warmup(spark: SparkSession, first: Boolean): Unit = { deleteTree(output); once(spark) }

  private def check(spark: SparkSession, r: CurateMain.StageReport): Seq[String] = {
    val st = r.stages.toMap
    val written = st.getOrElse("written", -1L)
    val ids = spark.read.parquet(output.resolve("corpus").toString).select("doc_id").collect().map(_.getLong(0))
    val leaked = ids.count(corpus.contaminated.contains)
    same("input", st.getOrElse("input", -1L), corpus.docs.size) ++
      same("after_filters", st.getOrElse("after_filters", -1L), filtered.size) ++
      same("after_exact_dedup", st.getOrElse("after_exact_dedup", -1L), distinctTexts) ++
      same("sum of split counts", r.splits.values.sum, written) ++
      same("rows read back", ids.length, written) ++
      same("planted contaminated documents in the output", leaked, 0) ++
      (if (Files.exists(output.resolve("report.json"))) Nil else Seq("report.json missing"))
  }

  def run(spark: SparkSession, trace: Option[TraceCtx]): Seq[Op] = {
    deleteTree(output)
    var report: CurateMain.StageReport = null
    trace match {
      case None => Seq(timed(corpus.tokens) { report = once(spark) } (check(spark, report)))
      case Some(tc) =>
        val t = tc.tracer
        val op = t.op
        tc.jobs.resetPeak()
        val res = timed(corpus.tokens)(t.span("op") {
          report = t.span("curate.run")(CurateMain.run(spark, cfg))
          t.span("curate.report")(CurateMain.writeReport(spark, cfg, report))
        })(check(spark, report))
        if (res.ok) {
          tc.drain(spark)
          val out = new LayerSample
          stageBreakdown(tc, op, out)
          val st = report.stages.toMap
          Seq("after_filters", "after_exact_dedup", "after_near_dedup", "after_decontaminate", "written")
            .foreach(s => out(s"curate.rows_$s") = st(s).toDouble)
          out("curate.cache_peak_mb") = tc.jobs.cachePeak / 1e6
          out("curate.jobs") = tc.jobs.jobsOf(op).count(_.span == "curate.run")
          val opJobs = tc.jobs.jobsOf(op)
          out("pipeline.jobs") = opJobs.size
          out("pipeline.tasks") = tc.jobs.stageStats(opJobs).map(_.tasks).sum
          out("session.gc_ms") = res.gcMs
          val root = t.opSpans(op).find(_.name == "op").get
          out("trace.coverage") = 1.0 - t.selfMs(root) / root.ms
          layerSamples += out
        }
        t.op += 1
        Seq(res)
    }
  }

  /** Stage names of `CurateMain.run` by the source line that counts them
    * (`stages += "<name>" -> ...`), read from the program's own source.
    */
  private lazy val stageLines: Seq[(Int, String)] = {
    val src = ctx.root.resolve("src/main/scala/graft/CurateMain.scala")
    val pat = """\s*stages \+= "([a-z_]+)".*""".r
    Files.readAllLines(src).asScala.zipWithIndex.collect { case (pat(n), i) => (i + 1, n) }.toSeq
  }

  /** The stage a job's call site closes: a `CurateMain.scala` line at or a
    * few lines below a `stages +=` line (multi-line statements).
    */
  private def closes(site: String): Option[String] = {
    val Site = """.* at CurateMain\.scala:(\d+)""".r
    site match {
      case Site(l) => stageLines.filter { case (sl, _) => sl <= l.toInt && l.toInt - sl <= 6 }
        .sortBy(-_._1).headOption.map(_._2)
      case _ => None
    }
  }

  /** Attribute `CurateMain.run`'s jobs to its stages. A stage ends with the
    * job at its `stages +=` line; every job since the previous stage's end
    * (AQE query-stage jobs, checkpoints) belongs to it, and so does the
    * driver time before each job. What follows the last stage count (the
    * corpus write and read-back) is the write stage.
    */
  private def stageBreakdown(tc: TraceCtx, op: Int, out: LayerSample): Unit = {
    val run = tc.tracer.opSpans(op).find(_.name == "curate.run").get
    val report = tc.tracer.opSpans(op).find(_.name == "curate.report").get
    val js = tc.jobs.jobsOf(op).filter(_.span == "curate.run").sortBy(_.id)
    def bucket(stage: String): String = stage match {
      case "input" | "after_filters" | "after_classifier" | "after_segment_lm" | "after_self_dedup" |
           "after_exact_substr" => "filters"
      case "after_exact_dedup" => "exact_dedup"
      case "after_near_dedup" => "near_dedup"
      case "after_decontaminate" => "decontaminate"
      case _ => "write"
    }
    val acc = mutable.LinkedHashMap(
      Seq("filters", "exact_dedup", "near_dedup", "decontaminate", "write").map(_ -> (0.0, 0.0, 0.0)): _*)
    var from = run.startMs.toDouble
    val pending = mutable.ArrayBuffer.empty[Job]
    def close(b: String, end: Double): Unit = {
      val st = tc.jobs.stageStats(pending.toSeq)
      val (ms, cpu, sh) = acc(b)
      acc(b) = (ms + math.max(0.0, end - from), cpu + st.map(_.cpuNs).sum / 1e6,
        sh + st.map(_.shuffleWrite).sum / 1e6)
      from = math.max(from, end); pending.clear()
    }
    js.foreach { j =>
      pending += j
      closes(j.callSite).map(bucket).filter(_ != "write").foreach(b => close(b, j.end.toDouble))
    }
    close("write", run.endMs.toDouble)
    acc("write") = acc("write").copy(_1 = acc("write")._1 + report.ms)
    acc.foreach { case (b, (ms, cpu, sh)) =>
      out(s"curate.${b}_ms") = ms
      out(s"curate.${b}_cpu_ms") = cpu
      out(s"curate.${b}_shuffle_mb") = sh
    }
  }

  override def finishTrace(spark: SparkSession, out: LayerSample): Unit = {
    val in = spark.read.parquet(input.toString)
      .where(size(Dedup.tokens(col("text"))).between(MinWords, MaxWords))
    val kept = Dedup.exact(in, "doc_id", md5(col("text"))).select(col("kept_id").as("doc_id"))
    out("dedup.near_pairs") =
      Dedup.jaccardPairs(in.join(kept, "doc_id"), "doc_id", "text", n = 3, threshold = NearThreshold).count()
  }
}

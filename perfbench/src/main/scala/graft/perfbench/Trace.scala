package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sinks.GraftSink

/** One timed interval around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, startMs: Long) {
  @volatile var endNs: Long = startNs
  /** Wall-clock end, comparable with Spark's job timestamps. */
  @volatile var endMs: Long = startMs
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans nest by time on one
  * global stack: the caller's thread blocks while a streaming query's
  * thread runs its batch, so a span opened on the stream thread is a child
  * of the span the caller has open. Each span also names itself in the
  * job-local property [[Tracer.SpanKey]], so Spark jobs started inside it
  * are attributed to it. Spans are written out once, at the end.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile var op: Int = 0

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += sp; stack.push(sp); sp
    }
    val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
    val prevOp = sc.getLocalProperty(Tracer.OpKey)
    sc.setLocalProperty(Tracer.SpanKey, name)
    sc.setLocalProperty(Tracer.OpKey, op.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.SpanKey, prevSpan)
      sc.setLocalProperty(Tracer.OpKey, prevOp)
      synchronized { stack.pop() }
    }
  }

  /** Wall time minus the part covered by direct children. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def opSpans(op: Int): Seq[Span] = spans.iterator.filter(_.op == op).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}

/** A Spark job, keyed by the span and op that were active when it started;
  * times are epoch milliseconds.
  */
final case class Job(id: Int, start: Long, span: String, op: Int, callSite: String, stageIds: Seq[Int]) {
  @volatile var end: Long = start
}

final case class StageStat(cpuNs: Long, shuffleWrite: Long, tasks: Int, outBytes: Long)

/** Spark job, stage and cached-block accounting. */
final class JobLog extends SparkListener {

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val byId = mutable.Map.empty[Int, Job]
  val stages = mutable.Map.empty[Int, StageStat]
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L
  var cachePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).map(_.toInt).getOrElse(-1)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = Job(e.jobId, e.time, span, op, site, e.stageIds)
    jobs += j; byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages(i.stageId) =
      StageStat(m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, i.numTasks, m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cached += size - blocks.getOrElse(b.blockId.name, 0L)
      blocks(b.blockId.name) = size
      cachePeak = math.max(cachePeak, cached)
    }
  }

  def resetPeak(): Unit = synchronized { cachePeak = cached }

  /** Completed stages of `js`, each counted once (a stage shared by several
    * jobs is charged to the first).
    */
  def stageStats(js: Seq[Job]): Seq[StageStat] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  def jobsOf(op: Int): Seq[Job] = synchronized(jobs.filter(_.op == op).toSeq)
}

/** Per-trigger `durationMs` from the streaming engine, collected until taken. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    buf += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
  def take(): Seq[Map[String, Long]] = synchronized { val r = buf.toList; buf.clear(); r }
}

/** A sink that records a span around each call into the wrapped sink. */
final class TracingSink(inner: GraftSink, t: Tracer) extends GraftSink {
  override def write(df: DataFrame): Unit = t.span("sinks.write")(inner.write(df))
  override def existing(spark: SparkSession, cols: Seq[String]): Option[DataFrame] =
    t.span("sinks.existing")(inner.existing(spark, cols))
  override def maxWatermark(spark: SparkSession, deltaColumn: String): Option[java.sql.Timestamp] =
    t.span("sinks.watermark")(inner.maxWatermark(spark, deltaColumn))
}

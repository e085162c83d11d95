package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The strict-order funnel on Spark's `transformWithState` API (4.x's
  * successor to `flatMapGroupsWithState`): identical semantics to
  * [[graft.operators.EventAnalytics.funnelStateful]], re-expressed as a
  * [[StatefulProcessor]] with a named [[ValueState]] — the API that brings
  * schema'd state variables, TTL configs, and state-store-backed timers,
  * and that REQUIRES the RocksDB state-store provider (its gate sets it for
  * the query; other graft sessions keep Spark's default provider unless the
  * host passes another with `--conf`).
  *
  * Keeping both implementations is deliberate: `flatMapGroupsWithState`
  * runs on any provider and is the today-path; this is the forward path,
  * and `st_funnel_tws` gates them against the SAME batch oracle so a
  * migration is a one-line swap proven equivalent.
  */
object FunnelTws {

  private class FunnelProcessor(stages: Seq[String])
    extends StatefulProcessor[Long, (Long, String, Long), (Long, Int)] {

    @transient private var state: ValueState[(Int, Long)] = _
    private val order = stages.zipWithIndex.toMap

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Int, Long)](
        "funnel", Encoders.product[(Int, Long)], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, String, Long)],
        timerValues: TimerValues): Iterator[(Long, Int)] = {
      var (si, ts) = if (state.exists()) state.get() else (-1, Long.MinValue)
      rows.toArray.sortBy(e => (e._3, order(e._2))).foreach { case (_, et, t) =>
        if (si + 1 < stages.length && et == stages(si + 1) && (si == -1 || t > ts)) {
          si += 1; ts = t
        }
      }
      state.update((si, ts))
      Iterator.single((key, si))
    }
  }

  /** Streaming frame `(u: long, et: string, t: long)` pre-filtered to the
    * funnel stages → `(u, reached)` appended per active batch; downstream
    * takes `max(reached)` per user (same contract as `funnelStateful`).
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("u").cast("long"), col("et").cast("string"), col("t").cast("long"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor(stages),
        TimeMode.None(), OutputMode.Append())
      .toDF("u", "reached")
  }
}

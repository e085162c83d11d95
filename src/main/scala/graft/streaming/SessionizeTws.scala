package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import Sessionize.{Event, KeyState, Session}

/** The event-time sessionizer on `transformWithState` — the third state
  * shape of the 4.x API in this repo (named [[ValueState]] + EVENT-TIME
  * TIMERS, next to [[FunnelTws]]'s plain ValueState and
  * [[CountsTws]]'s MapState): watermark-timed session closes become
  * registered timers and a `handleExpiredTimer` callback instead of
  * `GroupStateTimeout.EventTimeTimeout`.
  *
  * The state-transition LOGIC is [[Sessionize]]'s pure `absorb`/`expire`
  * pair — open session + at-most-one pre-start straggler run, the same
  * merge windows, bridge check and batch-equivalence argument — wired onto
  * the new API's state/timer surface. One timer per key (the earliest close
  * deadline); on every update the old timer is deleted and the new
  * deadline registered, so timer state is O(keys) like the value state.
  * Gated against the SAME batch oracle as `st_sessionize`, which makes
  * the fMGWS → TWS migration a proven swap exactly like the funnel pair.
  */
object SessionizeTws {

  private class SessionProcessor(gapMs: Long)
    extends StatefulProcessor[Long, Event, Session] {

    @transient private var state: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyState](
        "session", Encoders.product[KeyState], TTLConfig.NONE)

    /** Write the key's next state and re-arm its one timer at the earliest
      * close deadline (clamped above the watermark), or clear the state
      * (the timer that just fired is dropped by Spark).
      */
    private def settle(wm: Long, next: Option[KeyState]): Unit = next match {
      case Some(ks) =>
        state.update(ks)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(math.max(Sessionize.deadline(gapMs)(ks), wm + 1))
      case None => state.clear()
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      val (closed, next) = Sessionize.absorb(gapMs, key)(
        if (state.exists()) Some(state.get()) else None, rows)
      settle(timerValues.getCurrentWatermarkInMs(), next)
      closed.iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!state.exists()) return Iterator.empty
      val wm = timerValues.getCurrentWatermarkInMs()
      val (closed, next) = Sessionize.expire(gapMs, key)(state.get(), wm)
      settle(wm, next)
      closed.iterator
    }
  }

  /** Same wiring contract as [[Sessionize.sessions]] (`user_id LONG,
    * ts TIMESTAMP, value DOUBLE` → closed [[Session]]s, append output).
    */
  def sessions(spark: SparkSession, events: Dataset[_], gapMs: Long, watermarkDelay: String): Dataset[Session] = {
    import spark.implicits._
    events.toDF()
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long").as("userId"), col("ts"),
        col("value").cast("double").as("value"))
      .as[Event](Encoders.product[Event])
      .groupByKey(_.userId)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

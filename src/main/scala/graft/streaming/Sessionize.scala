package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time sessionization with custom keyed state — the Structured
  * Streaming extension surface (`KeyValueGroupedDataset.flatMapGroupsWithState`).
  *
  * A session is a run of events for one user with gaps < `gapMs`; a session
  * closes when the event-time WATERMARK passes its last event + gap (not on
  * wall clock), so results are deterministic under replay. State per key is
  * one [[Sessionize.SessionState]] — O(active users), not O(events).
  *
  * At scale: state lives in the state store keyed by user (RocksDB-backed on
  * a real cluster), partitioned by the groupBy key — adding executors shards
  * the state; no driver involvement per event.
  */
object Sessionize {

  final case class Event(userId: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(userId: Long, startMs: Long, endMs: Long, nEvents: Long, sumValue: Double)
  /** Keyed state: the open session plus at most ONE pending pre-start
    * straggler run (an earlier session being reassembled from late events).
    * The straggler run lives in STATE — not a batch-local accumulator — so
    * stragglers split across different micro-batches still merge into the
    * one session the batch sessionizer would emit; it closes on its own
    * watermark deadline (`last + gap`), which is always strictly earlier
    * than the open session's. State stays O(1) per key.
    */
  final case class KeyState(cur: SessionState, strag: Option[SessionState])

  private def emit(userId: Long, s: SessionState): Session =
    Session(userId, s.start, s.last, s.n, s.sum)

  /** Earliest watermark at which [[expire]] closes something in `ks`. */
  private[streaming] def deadline(gapMs: Long)(ks: KeyState): Long =
    math.min(ks.cur.last + gapMs, ks.strag.map(_.last + gapMs).getOrElse(Long.MaxValue))

  /** Fold one micro-batch of a key's events (any order; folded in event
    * time) into its state: the sessions the batch closes, in close order,
    * and the key's next state (None only when there was no state and no
    * event). Pure — both sessionizers ([[sessions]] and
    * [[SessionizeTws.sessions]]) wire it onto their state API.
    */
  private[streaming] def absorb(gapMs: Long, userId: Long)(
      state: Option[KeyState], events: Iterator[Event]): (List[Session], Option[KeyState]) = {
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    var closed = List.empty[Session]
    var cur = state.map(_.cur)
    var strag = state.flatMap(_.strag)
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        // `<=`: a new session starts only when the gap is EXCEEDED —
        // the same convention as the batch lag-window sessionizer
        // (`diff > gap` breaks), so batch and streaming agree at the
        // exact-boundary instant. The merge window is the full interval
        // [start − gap, last + gap]: a late-but-within-watermark event
        // from a LATER micro-batch can carry t < s.last (the sort above
        // is batch-local), and min/max keeps the extent correct under any
        // cross-batch arrival order — but ONLY within gap of the interval;
        // see the straggler case below.
        case Some(s) if t - s.last <= gapMs && s.start - t <= gapMs =>
          cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1, s.sum + e.value))
        case Some(s) if t - s.last > gapMs =>
          closed ::= emit(userId, s)
          cur = Some(SessionState(t, t, 1, e.value))
        case Some(_) =>
          // Pre-start straggler: a cross-batch late event MORE than gap
          // before the open session's start. Absorbing it would stretch
          // `start` backwards across a gap the batch sessionizer breaks
          // on; it belongs to an earlier session. It merges into the
          // PERSISTENT straggler run when within that run's merge window
          // (cross-batch arrival order → min/max extent); a run it breaks
          // with closes immediately (within one batch the sort makes runs
          // adjacent, so this matches the batch fold).
          strag match {
            case Some(s) if t - s.last <= gapMs && s.start - t <= gapMs =>
              strag = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1, s.sum + e.value))
            case other =>
              other.foreach(s => closed ::= emit(userId, s))
              strag = Some(SessionState(t, t, 1, e.value))
          }
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    // Bridge check: pre-start merges can shrink `cur.start` (or grow
    // `strag.last`) until the two runs are within gap of each other — the
    // batch sessionizer would fuse them into ONE session; do the same.
    (cur, strag) match {
      case (Some(c), Some(s)) if c.start - s.last <= gapMs =>
        cur = Some(SessionState(math.min(s.start, c.start), math.max(s.last, c.last),
          c.n + s.n, c.sum + s.sum))
        strag = None
      case _ => ()
    }
    (closed.reverse, cur.map(KeyState(_, strag)))
  }

  /** Close what watermark `wm` has passed in a key's state: the closed
    * sessions, in close order, and what stays open (None when nothing does).
    */
  private[streaming] def expire(gapMs: Long, userId: Long)(
      ks: KeyState, wm: Long): (List[Session], Option[KeyState]) = {
    // The straggler deadline precedes the session's (strag.last + gap <
    // cur.start <= cur.last + gap), so a timeout can expire the straggler
    // alone, or both — never the session alone while a straggler pends.
    val (done, open) = ks.strag.toList.partition(s => wm >= s.last + gapMs)
    if (wm >= ks.cur.last + gapMs) ((done :+ ks.cur).map(emit(userId, _)), None)
    else (done.map(emit(userId, _)), Some(KeyState(ks.cur, open.headOption)))
  }

  /** The `flatMapGroupsWithState` wiring of [[absorb]] and [[expire]]: read
    * the key's state, write the next one, and time the key out at its
    * earliest close deadline (clamped above the current watermark: a timeout
    * at or below it is invalid).
    */
  def updateState(gapMs: Long)(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[KeyState]): Iterator[Session] = {
    val wm = state.getCurrentWatermarkMs()
    val (closed, next) =
      if (state.hasTimedOut) expire(gapMs, userId)(state.get, wm)
      else absorb(gapMs, userId)(state.getOption, events)
    next match {
      case Some(ks) =>
        state.update(ks)
        state.setTimeoutTimestamp(math.max(deadline(gapMs)(ks), wm + 1))
      case None => state.remove()
    }
    closed.iterator
  }

  /** Wire the stateful sessionizer onto a streaming frame with columns
    * `user_id LONG, ts TIMESTAMP, value DOUBLE`. Emits sessions as they
    * close (watermark-timed append output).
    */
  def sessions(spark: SparkSession, events: Dataset[_], gapMs: Long, watermarkDelay: String): Dataset[Session] = {
    import spark.implicits._
    val typed = events.toDF()
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long").as("userId"), col("ts"),
        col("value").cast("double").as("value"))
      .as[Event](Encoders.product[Event])
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        updateState(gapMs))
  }
}

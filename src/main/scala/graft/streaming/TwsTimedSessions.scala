package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.unsafe.types.UTF8String

/** Event-time TIMERS on `transformWithState` — append-mode
  * sessionization with arbitrary per-key state (SURVEY §2.9's "custom
  * state" surface): instead of re-emitting a key's cumulative counts
  * every micro-batch (update mode), a closed
  * session is emitted EXACTLY ONCE — either when the watermark proves
  * no merging event can still arrive, or when the registered timer
  * fires for an idle key. That timer is what lets a 10⁹-key store
  * drain itself: idle keys emit and clear without waiting for
  * (possibly never-arriving) further input.
  *
  * Out-of-order arrivals (reachable because the watermark lags one
  * micro-batch even at `delay = 0`, and by up to `delay` beyond that)
  * are handled by keeping a SORTED LIST of disjoint open sessions per
  * key and merge-inserting each event: an event lands in the session
  * it is within `gap` of, bridges two sessions into one when it closes
  * the hole between them, or opens a new session. A session is emitted
  * only when it is provably final:
  *  - watermark ≥ end + gap (always sound — later events are dropped
  *    by the watermark contract), or
  *  - `delay = 0` and a later session starts ≥ gap + 1 ms after this
  *    one ends: every future event has ts ≥ next watermark, and the
  *    watermark is the MS-FLOORED max event time, so it only proves
  *    ts ≥ laterStart − 999 µs — the extra 1 ms of slack is what makes
  *    ts ≥ thisEnd + gap certain. (A bare ≥ gap check would let a
  *    future event land inside the gap of an already-emitted session
  *    on sub-ms-adjacent data — a duplicate in append output.)
  *
  * State per key: the open-session list + one registered timer at the
  * EARLIEST close deadline, re-armed on every batch that touches the
  * key. The list length is bounded by the lateness horizon —
  * ⌈delay/gap⌉ + 2 disjoint sessions can be in flight at once, O(1)
  * for any fixed watermark delay (at `delay = 0`, usually 1 — a
  * sub-ms-adjacent successor defers its predecessor's close to the
  * timer, so short prefixes of the list can linger one batch longer).
  */
object TwsTimedSessions {

  final case class Event(user_id: Long, ts: Timestamp)

  val GapMicros: Long = 30L * 60 * 1000 * 1000

  private def micros(t: Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  final case class SessionOut(
      user_id: Long, start: Timestamp, end: Timestamp, n_events: Long)
  /** One open session, microsecond bounds (`session_window` and the
    * batch sessionizer q15 also compare micros — ms flooring would
    * split sub-ms-adjacent events differently). */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Closes sessions by watermark, by event-time timer, or (in-order
    * input only) by evidence of a later session. */
  class Processor(gapMs: Long, inOrder: Boolean)
      extends StatefulProcessor[Long, Event, SessionOut] {
    private val gapUs = gapMs * 1000L
    @transient private var open: ListState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getListState[OpenSession](
        "open", Encoders.product[OpenSession], TTLConfig.NONE)

    /** First ms instant at which the watermark proves `s` closed. */
    private def deadlineMs(s: OpenSession): Long =
      Math.floorDiv(s.lastUs + gapUs + 999L, 1000L)

    /** Merge-insert `t` into the sorted disjoint session list:
      * extends the session within reach, bridges two when `t` closes
      * the hole between them, or opens a new singleton. STRICT
      * inequalities: a distance of exactly `gap` starts a new session
      * — the repo-wide convention (see EventsStreaming's `>=` note),
      * and what makes the merge rule agree with [[deadlineMs]]'s
      * close rule at the boundary. */
    private def insert(
        sessions: List[OpenSession], t: Long): List[OpenSession] = {
      val (before, after) = sessions.span(_.startUs <= t)
      val intoPrev = before.lastOption.exists(p => t < p.lastUs + gapUs)
      val intoNext = after.headOption.exists(q => q.startUs - t < gapUs)
      (intoPrev, intoNext) match {
        case (true, true) =>
          val p = before.last; val q = after.head
          before.init :::
            OpenSession(p.startUs, q.lastUs, p.n + q.n + 1) :: after.tail
        case (true, false) =>
          val p = before.last
          before.init :::
            OpenSession(p.startUs, math.max(p.lastUs, t), p.n + 1) :: after
        case (false, true) =>
          val q = after.head
          before ::: OpenSession(t, q.lastUs, q.n + 1) :: after.tail
        case (false, false) =>
          before ::: OpenSession(t, t, 1L) :: after
      }
    }

    /** Emit every provably-final session, persist the rest, re-arm the
      * timer at the earliest remaining deadline. */
    private def drain(
        key: Long, sessions: List[OpenSession], watermarkMs: Long)
        : Iterator[SessionOut] = {
      val persistable = sessions.filter(s => deadlineMs(s) > watermarkMs)
      val wmClosed = sessions.filter(s => deadlineMs(s) <= watermarkMs)
      val (closed, kept) =
        if (inOrder && persistable.nonEmpty) {
          // evidence-close needs gap + 1 ms: the watermark a future
          // event clears is the MS-FLOORED successor start, so the
          // event can sit up to 999 µs below it — without the slack it
          // could land inside an already-emitted session's gap
          val succStarts =
            persistable.drop(1).map(s => Some(s.startUs)) :+ None
          val (evi, keep) = persistable.zip(succStarts).partition {
            case (s, next) => next.exists(_ - s.lastUs >= gapUs + 1000L)
          }
          (wmClosed ++ evi.map(_._1), keep.map(_._1))
        } else (wmClosed, persistable)
      open.clear()
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (kept.nonEmpty) {
        open.put(kept.toArray)
        getHandle.registerTimer(kept.map(deadlineMs).min)
      }
      closed.iterator.map(s =>
        SessionOut(key, toTs(s.startUs), toTs(s.lastUs), s.n))
    }

    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted =
        rows.toSeq.map(e => micros(e.ts)).sorted
      val merged =
        sorted.foldLeft(open.get().toList)((acc, t) => insert(acc, t))
      drain(key, merged, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] =
      drain(key, open.get().toList,
        timerValues.getCurrentWatermarkInMs())
  }

  private def delayToMs(delay: String): Long =
    IntervalUtils.safeStringToInterval(
      UTF8String.fromString(delay)) match {
      case null => throw new IllegalArgumentException(
        s"unparseable watermark delay: '$delay'")
      case iv =>
        require(iv.months == 0, s"month-based delay unsupported: $delay")
        iv.days * 86400000L + iv.microseconds / 1000L
    }

  /** Streaming sessionization with once-per-session append output.
    * `delay` is the watermark lateness bound; timers fire when the
    * watermark passes a key's close deadline. */
  def sessionize(
      spark: SparkSession, events: Dataset[_],
      gapMs: Long = GapMicros / 1000L,
      delay: String = "0 seconds"): Dataset[SessionOut] = {
    import spark.implicits._
    events.toDF()
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", delay)
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(
        new Processor(gapMs, inOrder = delayToMs(delay) == 0L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

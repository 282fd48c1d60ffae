package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed event-time lifecycle of the watermark-finalized stream
  * kernels (STREAMING.md #5, #9, #13, #14, #18, #19), in one place:
  * each kernel supplies only what it buffers and how it finalizes.
  *
  * Per key and invocation it
  *   - starts a new key from the kernel's `empty` state;
  *   - `admit`s the arrivals into pending — the kernel drops events at
  *     or below the horizon it already finalized (late beyond repair,
  *     the ST3 policy);
  *   - removes a key whose timer fired with nothing pending (the ST4
  *     idle-TTL eviction: a key that returns later restarts from empty);
  *   - `release`s what the watermark closed, emitting its rows, and
  *     stores the state;
  *   - arms the event-time timer: just past the earliest pending close
  *     (`max(close, wm + 1)`) so finalization happens even if the key
  *     never receives another record; with nothing pending, `wm + ttl`
  *     once a watermark exists, or no timer when `idleTtlMs` is None
  *     (state kept forever — the replay/test shape).
  */
private[streaming] object WatermarkFold {

  def apply[K: Encoder, E, S: Encoder, R: Encoder](
      events: Dataset[E], key: E => K, empty: S, ttlMs: Option[Long])(
      admit: (S, Iterator[E]) => S,
      release: (K, S, Long) => (S, Seq[R]),
      nextCloseMs: S => Option[Long]): Dataset[R] = {
    require(ttlMs.forall(_ > 0), "idleTtlMs must be positive")
    events.groupByKey(key).flatMapGroupsWithState[S, R](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (k: K, it: Iterator[E], state: GroupState[S]) =>
        val admitted = admit(state.getOption.getOrElse(empty), it)
        if (state.hasTimedOut && nextCloseMs(admitted).isEmpty) {
          state.remove()
          Iterator.empty
        } else {
          val wmMs = state.getCurrentWatermarkMs()
          val (st, rows) = release(k, admitted, wmMs)
          state.update(st)
          nextCloseMs(st) match {
            case Some(close) => state.setTimeoutTimestamp(math.max(close, wmMs + 1L))
            case None => ttlMs.foreach { t =>
              if (wmMs > Long.MinValue) state.setTimeoutTimestamp(wmMs + t)
            }
          }
          rows.iterator
        }
    }
  }

  private val HourMs = 3600000L

  def hourOf(ts: Timestamp): Long = ts.getTime / HourMs

  /** An open hour closes when the watermark passes its END. */
  def hourCloseMs(openHours: Iterable[Long]): Option[Long] =
    openHours.minOption.map(h => (h + 1L) * HourMs)

  def isClosed(hour: Long, wmMs: Long): Boolean = (hour + 1L) * HourMs <= wmMs

  final case class TypedEvent(event_type: String, ts: Timestamp)

  def typedEvents(events: DataFrame, watermark: String): Dataset[TypedEvent] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .select(col("event_type"), col("ts")).as[TypedEvent]
  }

  /** Per event type: the recurrence's accumulator, the last finalized
    * hour, and hour → count for the hours the watermark has not closed. */
  final case class HourState[A](
      acc: A, lastFinalized: Option[Long], pending: Map[Long, Long])

  /** An hourly recurrence chart (EWMA, CUSUM, Holt). Finalization walks
    * hours IN ORDER from the last finalized one, ZERO-FILLING gap hours
    * exactly like the batch spine (a silent hour is a real zero
    * observation of a recurrence), and never past the newest hour any
    * event has been seen for (the batch spine ends at each type's max
    * observed hour). `step(type, acc, hour, count)` advances the
    * recurrence by one finalized hour and may emit its row. */
  def hourChart[A, R: Encoder](events: Dataset[TypedEvent], acc0: A,
      idleTtlMs: Option[Long])(step: (String, A, Long, Long) => (A, Option[R]))(
      implicit stateEnc: Encoder[HourState[A]]): Dataset[R] = {
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    WatermarkFold[String, TypedEvent, HourState[A], R](events, _.event_type,
      HourState(acc0, None, Map.empty), idleTtlMs)(
      admit = (st, it) => st.copy(pending = it.foldLeft(st.pending) { (p, e) =>
        val h = hourOf(e.ts)
        if (st.lastFinalized.forall(h > _)) p.updated(h, p.getOrElse(h, 0L) + 1L)
        else p
      }),
      release = { (key, st, wmMs) =>
        val out = Vector.newBuilder[R]
        var acc = st.acc
        var last = st.lastFinalized
        var pending = st.pending
        if (pending.nonEmpty) {
          val maxSeen = pending.keys.max
          var h = last.map(_ + 1L).getOrElse(pending.keys.min)
          while (h <= maxSeen && isClosed(h, wmMs)) {
            val (next, row) = step(key, acc, h, pending.getOrElse(h, 0L))
            acc = next
            out ++= row
            pending -= h
            last = Some(h)
            h += 1L
          }
        }
        (HourState(acc, last, pending), out.result())
      },
      nextCloseMs = st => hourCloseMs(st.pending.keys))
  }

  /** One buffered event: epoch micros, event id, the kernel's payload —
    * (tUs, id) is the batch kernels' total order. */
  final case class Buffered[P](tUs: Long, id: Long, p: P)

  final case class UserEvent[P](user_id: Long, ts: Timestamp, event_id: Long, p: P)

  /** Per user: the scan's accumulator over the finalized prefix, the
    * finalized watermark, and the events still inside the watermark
    * horizon — a TIME bound (watermark delay × per-key event rate),
    * never the full history. */
  final case class BufferState[A, P](
      acc: A, finalizedWmMs: Long, pending: Vector[Buffered[P]])

  /** A per-user ordered scan (anomaly, funnel): each invocation releases
    * every pending event strictly below the watermark to `scan`, sorted
    * by (tUs, id) — the order a stream may not know until the watermark
    * has passed. */
  def orderedScan[A, P, R: Encoder](events: Dataset[UserEvent[P]], acc0: A,
      idleTtlMs: Option[Long])(scan: (Long, A, Vector[Buffered[P]]) => (A, Seq[R]))(
      implicit stateEnc: Encoder[BufferState[A, P]]): Dataset[R] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    WatermarkFold[Long, UserEvent[P], BufferState[A, P], R](events, _.user_id,
      BufferState(acc0, Long.MinValue, Vector.empty), idleTtlMs)(
      admit = (st, it) => st.copy(pending = st.pending ++ it.flatMap { e =>
        val tMs = e.ts.getTime
        if (tMs < st.finalizedWmMs) None
        else Some(Buffered(tMs * 1000L + (e.ts.getNanos / 1000L) % 1000L, e.event_id, e.p))
      }),
      release = { (key, st, wmMs) =>
        val (ready, still) = st.pending.partition(_.tUs / 1000L < wmMs)
        val (acc, rows) = scan(key, st.acc, ready.sortBy(b => (b.tUs, b.id)))
        (BufferState(acc, math.max(st.finalizedWmMs, wmMs), still), rows)
      },
      nextCloseMs = st => st.pending.map(_.tUs / 1000L).minOption.map(_ + 1L))
  }
}

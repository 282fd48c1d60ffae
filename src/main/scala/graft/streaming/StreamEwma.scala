package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Streaming EWMA control chart — the streaming twin of
  * [[graft.operators.EventsOps.ewmaChart]] (q225), the 13th stream ≡
  * batch kernel. flatMapGroupsWithState keyed by event type; per-key
  * state is O(1): the last 16 FINALIZED hourly counts (the dyadic
  * baseline window), the last finalized hour, and the pending counts of
  * hours the watermark has not yet closed.
  *
  * An hour FINALIZES when the watermark passes its end — only then is
  * its count known complete. Finalization walks hours IN ORDER from the
  * last finalized hour, ZERO-FILLING gap hours exactly like the batch
  * spine (a silent hour is a real zero observation — dropping it would
  * shift every later baseline), and never walks past the newest hour
  * any event has been seen for (the batch spine ends at each type's max
  * observed hour; inventing trailing zeros would emit rows batch never
  * produces). Each finalized hour with 16 full lags emits one
  * append-mode row carrying the batch kernel's exact columns, so once
  * the watermark passes all input the output EQUALS batch q225 row for
  * row (proved by replay in StreamEwmaSpec).
  *
  * Late drop (ST3), idle-TTL eviction (ST4) and the finalization
  * timer are [[WatermarkFold]]'s; the hour walk is its `hourChart`.
  */
object StreamEwma {

  final case class EwmaRow(
      event_type: String, epoch_hour: Long, cnt: Long,
      baseline_num: Long, baseline_milli: Long, spike_flag: Int)

  /** Per-type state is the ring: the last ≤16 finalized counts, OLDEST
    * FIRST. */
  def chart(events: DataFrame,
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[EwmaRow] = {
    val s = events.sparkSession
    import s.implicits._
    WatermarkFold.hourChart(WatermarkFold.typedEvents(events, watermark),
        Vector.empty[Long], idleTtlMs) { (key, ring, h, cnt) =>
      val row = if (ring.size < 16) None else {
        // ring(i) is lag k = 16 − i, whose dyadic weight 2^(16−k) = 2^i —
        // so ring(15) (the newest lag) carries 32768, ring(0) carries 1
        var base = 0L
        var i = 0
        while (i < 16) { base += ring(i) << i; i += 1 }
        Some(EwmaRow(key, h, cnt, base, 1000L * base / 65535L,
          if (cnt * 65535L > 2L * base) 1 else 0))
      }
      ((if (ring.size == 16) ring.tail else ring) :+ cnt, row)
    }
  }
}

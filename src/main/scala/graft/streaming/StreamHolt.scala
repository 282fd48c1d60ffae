package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.operators.TimeSeries
import graft.operators.TimeSeries.{HoltRow, HoltState}

/** Streaming Holt linear-trend forecaster — the streaming twin of
  * q281's smoothing recurrence (kernel #19): per event type, each hour
  * the watermark closes emits that hour's count, the updated level and
  * trend, and the next-hour forecast, all through
  * [[TimeSeries.HoltState.step]] — the SAME code batch q281 and
  * [[TimeSeries.holtChart]] fold, so the stream ≡ batch proof covers
  * the recurrence itself.
  *
  * The hour lifecycle is [[WatermarkFold]]'s `hourChart`: an hour
  * finalizes when the watermark passes its end; gap hours ZERO-FILL
  * (Holt is a recurrence — a silent hour is a y=0 observation, exactly
  * the batch spine's semantics), never past the newest observed hour;
  * late drop (ST3) and idle-TTL eviction (ST4) are WatermarkFold's — a
  * type evicted while idle restarts from [[HoltState.empty]]. Per-key
  * state is the four-long HoltState plus the pending hour→count map
  * (watermark-bounded).
  */
object StreamHolt {

  def chart(events: DataFrame,
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[HoltRow] = {
    val s = events.sparkSession
    import s.implicits._
    WatermarkFold.hourChart(WatermarkFold.typedEvents(events, watermark),
        HoltState.empty, idleTtlMs) { (key, holt, h, cnt) =>
      val next = holt.step(cnt)
      (next, Some(HoltRow(key, h, cnt, next.l, next.b, next.l + next.b)))
    }
  }
}

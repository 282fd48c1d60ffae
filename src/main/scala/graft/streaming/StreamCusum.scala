package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Streaming CUSUM changepoint chart — the streaming twin of
  * [[graft.operators.EventsOps.cusumChart]] (q227), the 14th stream ≡
  * batch kernel, in the train-batch/serve-stream split StreamBuckets
  * established for q204: the per-type target mean μ is a BATCH-trained
  * artifact (a stream cannot know its own future mean, and Page's
  * chart is defined against a fixed reference value) passed in as a
  * plain map; the stream then maintains the exact recurrence online.
  *
  * Where batch q227 computes S⁺ by the prefix−running-min closed form,
  * the stream runs the TEXTBOOK recurrence directly — per-key state is
  * the prefix sum and its running minimum (two longs), so S⁺_t =
  * P_t − min(0, min_{j≤t} P_j) emits from O(1) state. The two
  * formulations being equal is exactly what q227's spec proves, so the
  * stream ≡ batch comparison here closes the triangle: recurrence ≡
  * closed form ≡ SQL windows.
  *
  * The hour lifecycle is [[WatermarkFold]]'s `hourChart`: an hour
  * finalizes when the watermark passes its end, gap hours ZERO-FILL
  * (batch's spine semantics), never past the newest observed hour;
  * late drop (ST3) and idle-TTL eviction (ST4) are WatermarkFold's. Types
  * without a trained μ are dropped — the chart has no reference to
  * judge them against, and inventing one online would diverge from
  * the batch artifact.
  */
object StreamCusum {

  final case class CusumRow(
      event_type: String, epoch_hour: Long, cnt: Long,
      cusum_milli: Long, thresh_milli: Long, alarm: Int)

  /** Per-type state is (pre, mn): the prefix sum of the excess series
    * and min(0, running min of prefixes) — all the recurrence needs. */
  def chart(events: DataFrame, muMilli: Map[String, Long],
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[CusumRow] = {
    val s = events.sparkSession
    import s.implicits._
    val mu = muMilli // stable reference captured into the closure

    WatermarkFold.hourChart(
        WatermarkFold.typedEvents(events, watermark).filter(e => mu.contains(e.event_type)),
        (0L, 0L), idleTtlMs) { case (key, (pre0, mn0), h, cnt) =>
      val m = mu(key)
      val thresh = 8L * m
      val pre = pre0 + 1000L * cnt - m - m / 4
      val mn = math.min(mn0, pre)
      val sPlus = pre - mn
      ((pre, mn), Some(CusumRow(key, h, cnt, sPlus, thresh,
        if (sPlus > thresh) 1 else 0)))
    }
  }
}

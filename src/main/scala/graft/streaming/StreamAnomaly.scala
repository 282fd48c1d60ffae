package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming rolling z-score anomaly detection — the streaming twin of
  * [[graft.operators.EventsOps.rollingAnomaly]] (q149), built on
  * flatMapGroupsWithState with EVENT-TIME timeouts.
  *
  * Per-key state is two TIME-bounded buffers, never the history:
  *
  *   - the finalized trailing frame: events within `frameUs` of the
  *     newest finalized event — exactly the window the batch RANGE
  *     frame reads, sized by (frame horizon × per-key event rate);
  *   - a pending buffer of events still inside the watermark horizon
  *     (the part of the input the stream may not order yet), sized by
  *     (watermark delay × per-key event rate).
  *
  * Finalization is watermark-driven and runs in the batch kernel's
  * exact total order (ts, event_id). Timestamp PEERS are judged
  * together against the strictly-earlier frame before any of them
  * enters it — the batch frame's `1 PRECEDING` upper bound, which
  * excludes equal-timestamp rows, reproduced exactly. Each finalized
  * event emits one append-mode row carrying the same full-resolution
  * (n_frame, dev2, thr, anomaly) columns as the batch kernel, so once
  * the watermark passes all input the output EQUALS the batch result
  * row for row (proved by replay in StreamAnomalySpec).
  *
  * The buffer, its (ts, event_id) release order, late drop (ST3) and
  * idle-TTL eviction (ST4) are [[WatermarkFold]]'s `orderedScan`.
  */
object StreamAnomaly {

  final case class AnomRow(
      event_id: Long, user_id: Long, n_frame: Long,
      dev2: Long, thr: Long, anomaly: Int)

  def detect(events: DataFrame,
      frameUs: Long = 21600000000L, minPrior: Int = 5,
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[AnomRow] = {
    val s = events.sparkSession
    import s.implicits._

    WatermarkFold.orderedScan(
        events.withWatermark("ts", watermark)
          .select(col("user_id"), col("ts"), col("event_id"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("p")) // cents
          .as[WatermarkFold.UserEvent[Long]],
        Vector.empty[WatermarkFold.Buffered[Long]], idleTtlMs) { (key, frame0, ready) =>
      var frame = frame0
      val out = Vector.newBuilder[AnomRow]
      var i = 0
      while (i < ready.size) {
        // peers share one timestamp: all are judged against the
        // strictly-earlier frame, then enter it together
        var j = i
        while (j < ready.size && ready(j).tUs == ready(i).tUs) j += 1
        val t = ready(i).tUs
        frame = frame.filter(q => q.tUs >= t - frameUs)
        val n = frame.size.toLong
        var sSum = 0L
        var qSum = 0L
        frame.foreach { q => sSum += q.p; qSum += q.p * q.p }
        var p = i
        while (p < j) {
          val x = ready(p).p
          val dev2 = (n * x - sSum) * (n * x - sSum)
          val thr = 9L * (n * qSum - sSum * sSum)
          out += AnomRow(ready(p).id, key, n, dev2, thr,
            if (n >= minPrior && dev2 > thr) 1 else 0)
          p += 1
        }
        frame = frame ++ ready.slice(i, j)
        i = j
      }
      (frame, out.result())
    }
  }
}

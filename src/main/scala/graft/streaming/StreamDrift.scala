package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Drift
import graft.operators.Drift.{DriftRow, RefCdf}

/** Streaming distribution-drift monitor — the streaming twin of q273's
  * two-sample statistics, kernel #18, in the train-offline/serve-online
  * split StreamBuckets established: the per-source reference CDF is a
  * BATCH artifact ([[Drift.referenceCdfs]] — a monitor judges drift
  * against a frozen baseline, not against its own moving self), and the
  * stream then emits, per (source, closed hour), the exact KS permille
  * and Wasserstein-1 of that hour's length distribution against the
  * reference — computed by [[Drift.ksW1]], the SAME function the batch
  * chart runs, so the stream ≡ batch proof covers the statistic itself,
  * not a transcription.
  *
  * The lifecycle is [[WatermarkFold]]'s: an hour finalizes when the
  * watermark passes its end; late drop (ST3) and idle-TTL eviction
  * (ST4) are WatermarkFold's too. Hours are INDEPENDENT (no recurrence), so
  * gap hours emit nothing and need no zero-fill walk. Per-key state is
  * pending hour → length histogram — value-domain-bounded per hour,
  * independent of traffic volume. Sources without a reference are
  * dropped: inventing a baseline online would diverge from the batch
  * artifact.
  */
object StreamDrift {

  final case class Ev(source: String, ts: Timestamp, v: Long)

  final case class DriftState(
      lastFinalized: Option[Long],
      pending: Map[Long, Map[Long, Long]])

  def chart(docs: DataFrame, ref: Map[String, RefCdf],
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[DriftRow] = {
    val s = docs.sparkSession
    import s.implicits._
    import WatermarkFold.{hourCloseMs, hourOf, isClosed}
    val refs = ref // stable reference captured into the closure

    WatermarkFold[String, Ev, DriftState, DriftRow](
        docs.withWatermark("ts", watermark)
          .select(col("source"), col("ts"), col("v")).as[Ev]
          .filter(e => refs.contains(e.source)),
        _.source, DriftState(None, Map.empty), idleTtlMs)(
      admit = (st, it) => st.copy(pending = it.foldLeft(st.pending) { (p, e) =>
        val h = hourOf(e.ts)
        if (st.lastFinalized.forall(h > _)) {
          val hist = p.getOrElse(h, Map.empty[Long, Long])
          p.updated(h, hist.updated(e.v, hist.getOrElse(e.v, 0L) + 1L))
        } else p
      }),
      release = { (key, st, wmMs) =>
        val (closed, open) = st.pending.partition { case (h, _) => isClosed(h, wmMs) }
        val hours = closed.keys.toVector.sorted
        (DriftState(hours.lastOption.orElse(st.lastFinalized), open),
          hours.map { h =>
            val (n, ks, w1) = Drift.ksW1(closed(h), refs(key))
            DriftRow(key, h, n, ks, w1)
          })
      },
      nextCloseMs = st => hourCloseMs(st.pending.keys))
  }
}

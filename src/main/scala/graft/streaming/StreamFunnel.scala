package graft.streaming

import graft.operators.Funnel
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming funnel / sequence-pattern matching — the streaming twin of
  * the batch kernel in [[graft.operators.Funnel]] (q112), built on
  * flatMapGroupsWithState with EVENT-TIME timeouts.
  *
  * The batch kernel needs its events in (ts, event_id) order; a stream
  * delivers them out of order within the watermark. So per-key state is
  * two parts:
  *
  *   - the O(k) scan state over the FINALIZED prefix (a
  *     [[graft.operators.Funnel.FunnelScan]] vector + event count) —
  *     identical semantics to the batch scan;
  *   - a pending buffer of events still inside the watermark horizon,
  *     which is the part of the input the stream is not yet allowed to
  *     order. Its size is bounded by (watermark delay x per-key event
  *     rate) — a TIME bound, never the full history (the q112 defect's
  *     streaming analog would be buffering everything forever).
  *
  * Finalization is watermark-driven: each invocation folds every
  * pending event with ts strictly below the current watermark into the
  * scan state in (ts, event_id) order, emits the updated
  * (n_events, funnel_depth) row, and re-arms an event-time timeout just
  * past the earliest still-pending event so the fold happens even if
  * the key never receives another record. Events arriving with ts below
  * the already-finalized horizon are dropped — the same late-data
  * policy Spark applies to watermarked aggregations (ST3).
  *
  * Output is an append-mode changelog: one row per key per finalization
  * step, with n_events monotone — the row with the max n_events per key
  * is the current answer, and once the watermark passes all input it
  * equals the batch kernel's row exactly (proved by replay in
  * StreamFunnelSpec, mirroring StreamAsofSpec).
  *
  * `idleTtlMs` is the state-expiry knob (ST4): when a key has nothing
  * pending, its state expires after that much event time passes with no
  * new records — the DynamoDB-TTL analog bounding state on an unbounded
  * key space. A key outliving its TTL restarts from zero, so pick a TTL
  * above the key's expected activity span; None keeps state forever
  * (replay/test shape).
  */
object StreamFunnel {

  final case class FunnelRow(user_id: Long, n_events: Long, funnel_depth: Int)

  /** Shared watermark-driven runner over [[WatermarkFold]]'s
    * `orderedScan`: `marker` is computed SCAN-SIDE (before the shuffle
    * into the stateful operator) and is all the per-event payload the
    * state ever buffers; `newScan` builds the same O(k) per-key state
    * machine the batch kernel runs ([[graft.operators.Funnel.FunnelScan]]),
    * persisted between micro-batches as its save/load Long vector with
    * the finalized event count. */
  private def run(events: DataFrame, marker: Column,
      watermark: String, idleTtlMs: Option[Long])(
      newScan: () => Funnel.FunnelScan): Dataset[FunnelRow] = {
    val s = events.sparkSession
    import s.implicits._

    WatermarkFold.orderedScan(
        events.withWatermark("ts", watermark)
          .select(col("user_id"), col("ts"), col("event_id"), marker.as("p"))
          .as[WatermarkFold.UserEvent[String]],
        (newScan().save, 0L), idleTtlMs) { case (key, (vec, n0), ready) =>
      val scan = newScan()
      scan.load(vec)
      ready.foreach(b => scan.update(b.tUs, b.p))
      val n = n0 + ready.size
      ((scan.save, n),
        if (ready.nonEmpty) Seq(FunnelRow(key, n, scan.depth)) else Nil)
    }
  }

  def funnel(events: DataFrame, steps: Seq[String],
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[FunnelRow] = {
    val stepsArr = steps.toIndexedSeq
    run(events, coalesce(substring(col("event_type"), 1, 1), lit("")), watermark, idleTtlMs)(
      () => new Funnel.GreedyScan(stepsArr.length, (c, depth) => c == stepsArr(depth)))
  }

  /** Streaming twin of [[graft.operators.Funnel.funnelDepthPredicates]]
    * (q122's MATCH_RECOGNIZE DEFINE surface): each step is an arbitrary
    * boolean Column over the event row, and predicates may overlap.
    * Scan-side each event collapses to a k-bit '0'/'1' mask via
    * codegen'd CASE expressions, so the pending buffer holds k bytes per
    * event — the predicate inputs (strings, doubles, ...) never enter
    * the state store. */
  def funnelPredicates(events: DataFrame, steps: Seq[Column],
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[FunnelRow] = {
    val k = steps.length
    run(events, Funnel.stepMask(steps), watermark, idleTtlMs)(
      () => new Funnel.GreedyScan(k, (m, depth) => m.charAt(depth) == '1'))
  }

  /** Streaming twin of [[graft.operators.Funnel.funnelDepthWindowed]]
    * (q123's conversion-window semantics): the persisted per-key scan
    * state grows from one int to k anchor timestamps — still O(k) in
    * the state store, still watermark-bounded pending. */
  def funnelWindowed(events: DataFrame, steps: Seq[Column], windowUs: Long,
      watermark: String = "30 minutes",
      idleTtlMs: Option[Long] = None): Dataset[FunnelRow] = {
    val k = steps.length
    run(events, Funnel.stepMask(steps), watermark, idleTtlMs)(
      () => new Funnel.AnchorScan(k, windowUs, (m, depth) => m.charAt(depth) == '1'))
  }
}

package graft.streaming

import graft.operators.ViewsPipeline
import graft.sources.EventLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming twins of the reference's streaming stages
  * (SURVEY.md §2.8 ST1-ST5): file-source streams stand in for Kinesis;
  * watermarked windowed aggregates stand in for Kinesis Analytics; a
  * foreachBatch filter against the suspicious-IP snapshot stands in for
  * the per-record DynamoDB lookup (the snapshot re-read per published
  * version, its TTL checked per micro-batch: the snapshot staleness model
  * SURVEY.md §7 flags).
  */
object Streams {

  /** S2 streaming twin: JSON-lines views stream from a directory. */
  def viewsStream(s: SparkSession, dir: String, maxFilesPerTrigger: Int = 10): DataFrame =
    s.readStream
      .schema(EventLog.viewsRawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)
      .transform(ViewsPipeline.clean)

  /** S3 streaming twin: JSON-lines reviews stream from a directory. */
  def reviewsStream(s: SparkSession, dir: String, maxFilesPerTrigger: Int = 10): DataFrame =
    s.readStream
      .schema(EventLog.reviewsRawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)
      .transform(ViewsPipeline.clean)

  /** Stream-stream inner join: each review matched to the same user's
    * view of the same item within the preceding `horizon`. Both sides
    * carry watermarks and the join condition bounds event-time distance,
    * so Spark can size and expire the join state on both sides —
    * unbounded state is the failure mode of naive stream-stream joins at
    * scale, and the time bound is what prevents it. State is
    * hash-partitioned by the (item_id, user_ip) equi keys.
    */
  def reviewAttribution(views: DataFrame, reviews: DataFrame,
      horizon: String = "1 hour", watermark: String = "30 minutes"): DataFrame = {
    val v = views
      .withWatermark("ts", watermark)
      .select(col("item_id").as("v_item"), col("user_ip").as("v_ip"),
        col("ts").as("view_ts"))
    val r = reviews
      .withWatermark("ts", watermark)
      .select(col("item_id"), col("user_ip"), col("ts").as("review_ts"),
        col("review_stars"))
    r.join(v,
      col("v_item") === col("item_id") && col("v_ip") === col("user_ip") &&
        col("view_ts") <= col("review_ts") &&
        col("view_ts") >= col("review_ts") - expr(s"INTERVAL $horizon"))
      .select(col("item_id"), col("user_ip"), col("review_ts"),
        col("review_stars"), col("view_ts"))
  }

  /** Streaming as-of attribution: [[reviewAttribution]] collapsed to the
    * single LATEST qualifying view per review — the streaming twin of
    * the batch as-of join (q104), where the batch plan's
    * last-over-window becomes a max() aggregate. This chains TWO
    * stateful operators (the watermarked time-interval stream-stream
    * join, then a watermarked aggregation), which Spark supports in
    * append mode with automatic watermark propagation between them; the
    * grouping key includes review_ts, which still carries the join's
    * event-time watermark, so each group's aggregate state is evicted
    * once the min-of-both-sides watermark passes it — both operators
    * hold bounded state. Emits each review exactly once, after the
    * watermark finalizes it. */
  def reviewAsof(views: DataFrame, reviews: DataFrame,
      horizon: String = "1 hour", watermark: String = "30 minutes"): DataFrame =
    reviewAttribution(views, reviews, horizon, watermark)
      .groupBy(col("item_id"), col("user_ip"), col("review_ts"), col("review_stars"))
      .agg(max(col("view_ts")).as("last_view_ts"))
      .select(col("item_id"), col("user_ip"), col("review_ts"),
        col("review_stars"), col("last_view_ts"))

  /** q190's streaming twin: FORWARD as-of with tolerance — each
    * purchase matched to the same user's EARLIEST view AT OR AFTER it,
    * within `tolerance`, unmatched purchases kept with NULL columns
    * (left semantics). Same two-stateful-operator shape as
    * [[reviewAsof]] with the interval flipped forward: a watermarked
    * LEFT OUTER time-interval stream-stream join (the outer side emits
    * its null row only once the watermark proves no match can arrive —
    * bounded state, exactly-once), then a watermarked aggregation
    * whose min(struct(view_ts, view_id)) picks the earliest match with
    * a deterministic id tie-break. The null-match row is alone in its
    * group by construction (the join emits it only when NO matched row
    * exists for the purchase), so the struct-of-nulls can never
    * compete with a real match inside min(). */
  def forwardAsof(purchases: DataFrame, views: DataFrame,
      tolerance: String = "6 hours", watermark: String = "30 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val v = views.withWatermark("ts", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    p.join(v,
        col("v_user") === col("user_id") &&
          col("view_ts") >= col("purchase_ts") &&
          col("view_ts") <= col("purchase_ts") + expr(s"INTERVAL $tolerance"),
        "left_outer")
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_ts"))
      .agg(min(struct(col("view_ts"), col("view_id"))).as("first"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("first.view_id").as("view_id"), col("first.view_ts").as("view_ts"))
  }

  /** A2 streaming twin: windowed popularity counts with watermark
    * (append mode emits only finalized windows — the late-data policy
    * ST3). */
  def popularity(events: DataFrame, windowDur: String = "10 minutes",
      watermark: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur).as("w"), col("item_id"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("window_start"), col("item_id"), col("c"))

  /** A4 streaming twin: high-traffic windows over threshold → K5 alert
    * rows. */
  def highTraffic(events: DataFrame, windowDur: String = "5 minutes",
      watermark: String = "15 minutes", threshold: Long = 100): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur).as("w"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > threshold)
      .select(col("w.start").as("window_start"), col("c"))

  /** A2/A3 completed: [[popularity]]'s windowed counts stream into
    * foreachBatch, where the per-window rank + top-k cut runs on the
    * (tiny) finalized aggregate rows. Rank is not expressible inside a
    * streaming agg — per the diagram this is exactly the
    * Kinesis-Analytics → downstream-consumer split: heavy count state
    * lives in the stream, the top-k is a per-batch decoration. Append
    * mode: each window is emitted exactly once after the watermark
    * finalizes it, so the sink is a log of closed windows. Each batch
    * writes (overwrite) to its own `batch=<id>` directory — a retried
    * batch replaces its previous partial output instead of appending
    * duplicates, keeping the sink idempotent under failure replay. */
  def popularityTopK(events: DataFrame, outPath: String, checkpoint: String,
      k: Int = 3, windowDur: String = "10 minutes",
      watermark: String = "15 minutes"): DataStreamWriter[Row] =
    popularity(events, windowDur, watermark)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import org.apache.spark.sql.expressions.Window
        val rw = Window.partitionBy(col("window_start"))
          .orderBy(col("c").desc, col("item_id"))
        batch.withColumn("rk", rank().over(rw)).filter(col("rk") <= k)
          .write.mode("overwrite").parquet(s"$outPath/batch=$id")
        ()
      }

  /** Streaming exact dedup: drops redundant deliveries of the same
    * logical event (the at-least-once Kinesis producer retries,
    * reference generator.py:210) keyed by the natural event identity.
    * dropDuplicatesWithinWatermark keeps per-key state only until the
    * watermark passes — bounded state, unlike a plain dropDuplicates
    * which accretes keys forever on a stream. */
  def dedupedStream(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_ip", "item_id", "ts")

  /** `events` watermarked on ts. Chaining after another stateful op
    * (e.g. dedupedStream) already defines the watermark, and Spark
    * forbids redefining it — only add one when the upstream hasn't. */
  private def watermarkedOnce(events: DataFrame, watermark: String): DataFrame =
    if (events.queryExecution.analyzed.exists(_.isInstanceOf[EventTimeWatermark])) events
    else events.withWatermark("ts", watermark)

  /** A2/A3 variant with session windows: per-user activity sessions
    * closed after `gap` of inactivity — the streaming twin of the batch
    * gap-threshold sessionization (q21). State is merged per key as
    * windows coalesce; watermark finalizes and evicts closed sessions. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    watermarkedOnce(events, watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_ip"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_ip"), col("n_events"))
  }

  /** q167's streaming twin: FIRST-TOUCH session attribution over native
    * session windows — per closed session, the entry event type (the
    * q164/q167 min(struct) pick, which streaming session-window merge
    * preserves: min is order-insensitive, so out-of-order arrivals
    * inside the watermark land on the same answer) and the session's
    * purchase revenue in cents.  Append mode emits each session exactly
    * once, after the watermark passes its close; state per in-flight
    * session is one (first, cents, count) triple — bounded.  Gap-tie
    * semantics: session_window splits when the inter-event gap is >=
    * `gap` (window spans [t, t+gap)), while the batch q167 splits
    * strictly > — fixtures avoid exact-gap ties; at 100 TB the
    * difference is measure-zero and documented here rather than papered
    * over. The entry-type rollup (conversion rates per entry type)
    * stays in the consumer, batch-side over the emitted sessions, as
    * q86 keeps exact verification batch-side. */
  def sessionAttribution(events: DataFrame, gap: String = "2 hours",
      watermark: String = "30 minutes"): DataFrame = {
    watermarkedOnce(events, watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(min(struct(unix_micros(col("ts")).as("t"), col("event_id").as("e"),
          col("event_type").as("y"))).as("first"),
        sum(when(col("event_type") === "purchase",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L)).as("purchase_cents"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("first.y").as("entry_type"),
        col("purchase_cents").cast("long").as("purchase_cents"),
        col("n_events"))
  }

  /** F1 streaming twin: IP filter against the suspicious-IP snapshot.
    * Spark caches a static join side for the life of the query; the
    * query's [[SnapshotFollower]] instead re-reads the snapshot whenever a
    * new version is published (a file listing per batch detects it), and
    * checks the TTL against each batch's `current_timestamp()`, so the
    * deny set stays fresh per micro-batch (SURVEY.md §7 "stream-static
    * staleness") while a batch over an unchanged snapshot runs one Spark
    * job, its write. Each batch lands (overwrite) in its own `batch=<id>`
    * directory with hour partitions nested inside — the K3 long-term
    * sink, idempotent under batch replay: a retried batch replaces its
    * partial output instead of appending duplicates. Readers load
    * `outPath` and prune on the year/month/day/hour partition columns as
    * before. */
  def filteredSink(events: DataFrame, snapshotPath: String, outPath: String,
      checkpoint: String): DataStreamWriter[Row] = {
    val deny = new SnapshotFollower(snapshotPath)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ViewsPipeline.withPartitionColumns(deny.filter(batch))
          .write.mode("overwrite").partitionBy("year", "month", "day", "hour")
          .parquet(s"$outPath/batch=$id")
        ()
      }
  }

  /** Streaming heavy-hitter candidates: the Misra-Gries summary (q86's
    * pass 1) as a streaming aggregate. State in the store is the O(m)
    * summary itself — not a per-key counter map — so the query's state
    * never grows with key cardinality, the property that makes
    * frequent-items tracking on an unbounded stream feasible at all.
    * Update/complete mode; every key whose running frequency exceeds
    * n/(m+1) is guaranteed present in the emitted candidate set (the
    * exact-verify pass stays batch-side, as in q86). */
  def heavyHitterCandidates(keys: DataFrame, keyCol: String,
      capacity: Int = 7): DataFrame = {
    val mg = udaf(new graft.operators.MisraGries(capacity),
      org.apache.spark.sql.Encoders.scalaLong)
    keys.groupBy()
      .agg(mg(col(keyCol)).as("s"))
      .select(explode(col("s.xs")).as("x"))
      .select(col("x.k").as("key"), col("x.c").as("mg_count"))
  }

  /** Convenience: run a streaming query over a bounded file directory to
    * completion (Trigger.AvailableNow) and block. Used by batch-parity
    * tests and the K3 backfill path. */
  def runToCompletion(w: DataStreamWriter[Row]): Unit = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}

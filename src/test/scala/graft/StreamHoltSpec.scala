package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries
import graft.streaming.StreamHolt

/** The streaming Holt forecaster must produce EXACTLY the batch
  * holtChart's rows once the watermark passes all input — replayed
  * across micro-batches with out-of-order delivery inside the
  * watermark, gap hours (the zero-fill recurrence path), and a ramp
  * whose positive trend the final rows must carry.
  */
class StreamHoltSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private def ts(h: Long, m: Long) = new Timestamp(t0 + (h * 3600 + m * 60) * 1000)

  // type a: a ramp 1,2,3,... events over hours 0..11, skipping hours 5
  // and 6 entirely (gap → zero-fill must step the recurrence), hour 10
  // delivered OUT OF ORDER in batch 2 within the watermark (batch 1's
  // spike shares one timestamp at hour 11 minute 0 so the watermark
  // holds at 10:30). type b: constant 2/hour for 4 hours (trend → 0).
  private val batch1: Seq[(Timestamp, String)] =
    (0L to 9L).filterNot(h => h == 5 || h == 6 || h == 10)
      .flatMap(h => (0L to h).map(m => (ts(h, m), "a"))) ++
      (0L until 30L).map(_ => (ts(11, 0), "a")) ++
      (0L to 3L).flatMap(h => Seq((ts(h, 0), "b"), (ts(h, 1), "b")))
  private val batch2: Seq[(Timestamp, String)] = Seq((ts(10, 50), "a"))
  private val sentinels: Seq[Seq[(Timestamp, String)]] =
    Seq(Seq((ts(24 * 3, 0), "zz")), Seq((ts(24 * 3, 1), "zz")))

  test("streaming Holt equals the batch chart after the watermark passes") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "event_type")
    val q = StreamHolt.chart(events)
      .writeStream.format("memory").queryName("holt_stream")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-holt").toString)
      .start()
    try (Seq(batch1, batch2) ++ sentinels).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("holt_stream")
      .filter(col("event_type") =!= "zz")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

    val batch = TimeSeries.holtChart(
        (batch1 ++ batch2).toDF("ts", "event_type")
          .select(col("event_type"), col("ts")))
      .collect()
      .map(r => (r.event_type, r.epoch_hour) ->
        ((r.cnt, r.level_milli, r.trend_milli, r.forecast_milli))).toMap

    assert(got == batch, "stream output diverges from batch Holt chart")
    val h0 = t0 / 3600000L
    // the gap hours were zero-filled (rows exist with cnt = 0)
    assert(got(("a", h0 + 5))._1 == 0L && got(("a", h0 + 6))._1 == 0L)
    // the late hour-10 row arrived inside the watermark
    assert(got(("a", h0 + 10))._1 == 1L)
    // the ramp carries a positive trend into the spike hour
    assert(got(("a", h0 + 11))._3 > 0L, "ramp must show positive trend")
    // constant series: trend settles at 0 by hour 3
    assert(got(("b", h0 + 3))._3 == 0L, "constant series trend must be 0")
    assert(!got.keys.exists(_._1 == "zz"))
  }

  test("idle TTL evicts a quiet type; its return restarts the recurrence") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "event_type")
    intercept[IllegalArgumentException](StreamHolt.chart(events, idleTtlMs = Some(0L)))
    val q = StreamHolt.chart(events, idleTtlMs = Some(60000L)) // 1 minute of event time
      .writeStream.format("memory").queryName("holt_ttl")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-holt-ttl").toString)
      .start()
    // One batch per quiet step: a timeout fires only in a batch whose
    // watermark (from the PREVIOUS batch, 30-min delay, driven by type
    // zz) has passed its arm, and a type receiving data is not timed out.
    val a = "a"
    try Seq(
      Seq.fill(2)((ts(0, 0), a)) ++ Seq.fill(3)((ts(1, 0), a)) :+ ((ts(0, 5), "zz")),
      Seq((ts(3, 0), "zz")),  // after: wm = 2:30
      Seq((ts(3, 10), "zz")), // a's hours 0-1 close; eviction armed at wm + 60 s
      Seq((ts(5, 0), "zz")),  // wm 2:40 passed the arm: a evicted
      Seq.fill(4)((ts(4, 45), a)), // a reappears inside the watermark
      Seq((ts(7, 0), "zz")),
      Seq((ts(7, 10), "zz"))  // a's hour 4 closes
    ).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    val h0 = t0 / 3600000L
    val got = spark.table("holt_ttl").filter(col("event_type") === a)
      .collect().map(r => r.getLong(1) - h0 -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set(0L, 1L, 4L), s"evicted type must not zero-fill its gap: $got")
    assert(got(0L) == ((2L, 2000L, 0L)))
    // resuming would have stepped hours 2-3 as zeros; a restart starts
    // the recurrence afresh at l = 1000 × cnt, b = 0
    assert(got(4L) == ((4L, 4000L, 0L)), s"got ${got(4L)}")
  }
}

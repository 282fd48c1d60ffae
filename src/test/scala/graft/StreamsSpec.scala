package graft

import java.nio.file.Files

import graft.operators.ViewsPipeline
import graft.sources.DataGen
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamsSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  test("file-stream IP filter: snapshot-filtered hourly-partitioned sink") {
    val users = DataGen.users(20, seed = 11L)
    val items = DataGen.items(50)
    val hourStart = 1700000000L - (1700000000L % 3600)
    val views = DataGen.hourOfViews(users, items, hourStart, seed = 13L)
    val botIps = users.filter(_.isBot).map(_.userIp).toSet
    assert(botIps.nonEmpty)

    val inDir = tmp("in"); val outDir = tmp("out"); val ckpt = tmp("ckpt"); val snap = tmp("snap")

    // land the hour as JSON-lines (the Kinesis stand-in)
    DataGen.viewsDF(spark, views).write.mode("overwrite").json(inDir)

    // suspicious snapshot from the batch detector (the feedback loop K4)
    val cleaned = ViewsPipeline.clean(spark.read.schema(
      graft.sources.EventLog.viewsRawSchema).json(inDir))
    ViewsPipeline.suspiciousSnapshot(
      ViewsPipeline.detectSuspicious(cleaned), current_timestamp(), 24)
      .write.mode("overwrite").parquet(snap)

    // stream through the snapshot-following IP filter into the partitioned sink
    val stream = Streams.viewsStream(spark, inDir)
    Streams.runToCompletion(Streams.filteredSink(stream, snap, outDir, ckpt))

    val out = spark.read.parquet(outDir)
    val humanRows = views.count(v => !botIps.contains(v.userIp))
    assert(out.count() == humanRows)
    assert(out.filter(col("user_ip").isin(botIps.toSeq: _*)).count() == 0)
    // hourly partition layout present
    assert(out.columns.toSet.intersect(Set("year", "month", "day", "hour")).size == 4)
  }

  test("stream-stream review attribution joins within the horizon only") {
    import graft.sources.DataGen.{Review, TsFormat, View}
    import java.time.Instant
    def fmt(s: Long): String = TsFormat.format(Instant.ofEpochSecond(s))
    val t0 = 1700000000L - (1700000000L % 3600)

    // u1 views item 1000 twice within the hour before reviewing it -> 2 matches
    // u2 reviews an item it never viewed -> no match
    // u3's only view is 3h before its review -> outside horizon -> no match
    val views = Seq(
      View("1000", fmt(t0), "mobile:ios", "111111", "20.0.0.1"),
      View("1000", fmt(t0 + 600), "mobile:ios", "111111", "20.0.0.1"),
      View("1001", fmt(t0), "mobile:android", "222222", "20.0.0.2"),
      View("1003", fmt(t0), "other", "NULL", "20.0.0.3"))
    val reviews = Seq(
      Review("1000", fmt(t0 + 1200), "mobile:ios", "111111", "20.0.0.1", "great", "stuff", 5),
      Review("1002", fmt(t0 + 1200), "mobile:android", "222222", "20.0.0.2", "never", "viewed", 1),
      Review("1003", fmt(t0 + 3 * 3600), "other", "NULL", "20.0.0.3", "too", "late", 3))

    val vDir = tmp("ss-views"); val rDir = tmp("ss-reviews")
    graft.sources.DataGen.viewsDF(spark, views).write.mode("overwrite").json(vDir)
    graft.sources.DataGen.reviewsDF(spark, reviews).write.mode("overwrite").json(rDir)

    val joined = Streams.reviewAttribution(
      Streams.viewsStream(spark, vDir), Streams.reviewsStream(spark, rDir))
    val q = joined.writeStream.format("memory").queryName("attr_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("attr_test").collect()
    assert(got.length == 2, s"expected 2 matched rows, got ${got.length}")
    assert(got.forall(_.getAs[String]("user_ip") == "20.0.0.1"))
    assert(got.forall(_.getAs[Int]("review_stars") == 5))
    assert(got.map(_.getAs[java.sql.Timestamp]("view_ts").getTime / 1000L).toSet
      == Set(t0, t0 + 600))
  }

  test("streaming dedup drops at-least-once redelivery; session windows close on gap") {
    import graft.sources.DataGen.{TsFormat, View}
    import java.time.Instant
    def fmt(s: Long): String = TsFormat.format(Instant.ofEpochSecond(s))
    val t0 = 1700000000L - (1700000000L % 3600)
    // duplicate delivery of the same event + one distinct event 5s later,
    // then a second burst >30min later -> 2 sessions for the user
    val views = Seq(
      View("1000", fmt(t0), "mobile:ios", "111111", "20.0.0.9"),
      View("1000", fmt(t0), "mobile:ios", "111111", "20.0.0.9"), // redelivery
      View("1001", fmt(t0 + 5), "mobile:ios", "111111", "20.0.0.9"),
      View("1002", fmt(t0 + 3600), "mobile:ios", "111111", "20.0.0.9"))
    val inDir = tmp("dedup-in")
    graft.sources.DataGen.viewsDF(spark, views).write.mode("overwrite").json(inDir)

    val dq = Streams.dedupedStream(Streams.viewsStream(spark, inDir))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    dq.awaitTermination()
    assert(spark.table("dedup_test").count() == 3)

    // chained stateful operators: dedup -> session aggregation in ONE
    // query. Append mode emits a session only once the watermark passes
    // its end, so only the first (closed) session appears; the final
    // burst's session is still open when the bounded input ends.
    val sq = Streams.sessionCounts(
        Streams.dedupedStream(Streams.viewsStream(spark, inDir), "10 minutes"),
        gap = "10 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("session_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val sessions = spark.table("session_test").collect()
    assert(sessions.length == 1, s"expected 1 closed session, got ${sessions.length}")
    assert(sessions.head.getAs[Long]("n_events") == 2L) // redelivery removed
  }

  test("streaming popularity top-k keeps at most k items per finalized window") {
    val users = DataGen.users(10, seed = 41L)
    val items = DataGen.items(20)
    val h0 = 1700000000L - (1700000000L % 3600)
    val views = DataGen.hourOfViews(users, items, h0, seed = 43L) ++
      DataGen.hourOfViews(users, items, h0 + 3600, seed = 47L)
    val inDir = tmp("topk-in"); val outDir = tmp("topk-out"); val ckpt = tmp("topk-ckpt")
    DataGen.viewsDF(spark, views).write.mode("overwrite").json(inDir)

    Streams.runToCompletion(Streams.popularityTopK(
      Streams.viewsStream(spark, inDir), outDir, ckpt, k = 3))
    val got = spark.read.parquet(outDir)
    assert(got.count() > 0)
    val perWindow = got.groupBy("window_start").count().collect()
    // rank() admits ties, but the count tie-break makes ranks strict
    assert(perWindow.forall(_.getLong(1) <= 3))
    assert(got.filter(col("rk") > 3).count() == 0)
  }

  test("malformed stream lines become nulls, not query failures") {
    val inDir = tmp("bad-in")
    // two valid lines, one corrupt, one schema-mismatched
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "part-0.json"),
      ("""{"item_id":"1000","ts":"2023-11-14T22:13:20Z","device_type":"other","device_id":"NULL","user_ip":"20.0.0.1"}""" + "\n" +
        """this is not json at all""" + "\n" +
        """{"item_id":"1001","ts":"2023-11-14T22:13:21Z","device_type":"other","device_id":"NULL","user_ip":"20.0.0.2"}""" + "\n" +
        """{"unexpected":"shape"}""" + "\n").getBytes)
    val q = Streams.viewsStream(spark, inDir)
      .writeStream.format("memory").queryName("bad_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("bad_test")
    assert(got.count() == 4) // PERMISSIVE: bad rows surface as all-null rows
    assert(got.filter(col("user_ip").isNotNull).count() == 2)
  }

  test("watermarked windowed popularity emits finalized windows (append mode)") {
    val users = DataGen.users(10, seed = 23L)
    val items = DataGen.items(20)
    val h0 = 1700000000L - (1700000000L % 3600)
    // two hours so the watermark can finalize the first
    val views = DataGen.hourOfViews(users, items, h0, seed = 29L) ++
      DataGen.hourOfViews(users, items, h0 + 3600, seed = 31L)
    val inDir = tmp("pop-in")
    DataGen.viewsDF(spark, views).write.mode("overwrite").json(inDir)

    val q = Streams.popularity(Streams.viewsStream(spark, inDir),
        windowDur = "10 minutes", watermark = "15 minutes")
      .writeStream.format("memory").queryName("pop_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("pop_test")
    assert(got.count() > 0)
    // windows align to 10 minutes and counts are positive
    assert(got.filter(expr("minute(window_start) % 10 != 0")).count() == 0)
    assert(got.filter(col("c") <= 0).count() == 0)
  }

  test("streaming MG candidates keep every true heavy hitter across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // skewed key stream: key 1 dominates, then 2, then a noise tail —
    // delivered over several micro-batches so partial MG summaries merge
    val in = MemoryStream[Long]
    val cand = Streams.heavyHitterCandidates(in.toDF().toDF("k"), "k", capacity = 4)
    val q = cand.writeStream.format("memory").queryName("mg_cand")
      .outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-mg").toString)
      .start()
    try {
      val batches = Seq(
        Seq.fill(40)(1L) ++ Seq.fill(10)(2L) ++ (100L to 109L),
        Seq.fill(35)(1L) ++ Seq.fill(20)(2L) ++ (110L to 119L),
        Seq.fill(25)(1L) ++ Seq.fill(30)(2L) ++ (120L to 129L))
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val n = batches.map(_.size).sum
      val freq = batches.flatten.groupBy(identity).view.mapValues(_.size)
      val mustKeep = freq.filter(_._2 > n / 5).keys.toSet // capacity 4 -> n/(m+1)
      assert(mustKeep == Set(1L, 2L)) // the test means what it claims
      val kept = spark.table("mg_cand").collect().map(_.getLong(0)).toSet
      assert(kept.size <= 4 && mustKeep.subsetOf(kept), s"kept=$kept")
    } finally q.stop()
  }
}

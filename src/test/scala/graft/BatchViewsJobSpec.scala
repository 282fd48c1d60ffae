package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.jobs.BatchViewsJob
import graft.operators.ViewsPipeline
import graft.sources.{DataGen, EventLog}
import graft.streaming.SnapshotFollower
import org.apache.spark.sql.functions._

class BatchViewsJobSpec extends SparkSpec {

  test("Glue-job equivalent: detect -> snapshot -> incremental filtered curated zone") {
    val users = DataGen.users(20, seed = 11L)
    val items = DataGen.items(40)
    val h0 = 1700000000L - (1700000000L % 3600)
    val botIps = users.filter(_.isBot).map(_.userIp).toSet
    val base = Files.createTempDirectory("graft-job").toString
    val prefix = s"$base/in"; val snap = s"$base/snap"
    val out = s"$base/curated"; val mark = s"$base/mark"

    def landHour(h: Long): Long = {
      val views = DataGen.hourOfViews(users, items, h, seed = h)
      val t = java.time.Instant.ofEpochSecond(h).atZone(java.time.ZoneOffset.UTC)
      val dir = f"$prefix/${t.getYear}%04d/${t.getMonthValue}%02d/${t.getDayOfMonth}%02d/${t.getHour}%02d.csv"
      EventLog.writeHourlyCsv(DataGen.viewsDF(spark, views), dir, singleFile = true)
      views.count(v => !botIps.contains(v.userIp))
    }

    val human1 = landHour(h0)
    // step 1: detection job builds the TTL'd snapshot
    val nSuspicious = BatchViewsJob.detectAndSnapshot(spark, prefix, snap)
    assert(nSuspicious == botIps.size)

    // step 2: ETL job lands hour 1, filtered
    val r1 = BatchViewsJob.run(spark, prefix, snap, out, mark)
    assert(r1.rowsProcessed > 0)
    val curated1 = spark.read.parquet(out)
    assert(curated1.count() == human1)
    assert(curated1.filter(col("user_ip").isin(botIps.toSeq: _*)).count() == 0)

    // step 3: re-run = bookmark no-op
    assert(BatchViewsJob.run(spark, prefix, snap, out, mark).rowsProcessed == 0)

    // step 4: next hour arrives; only it is processed
    val human2 = landHour(h0 + 3600)
    val r2 = BatchViewsJob.run(spark, prefix, snap, out, mark)
    assert(r2.rowsProcessed > 0)
    assert(spark.read.parquet(out).count() == human1 + human2)
  }

  test("snapshot writers never show a reader an empty deny set mid-publish") {
    import spark.implicits._
    val users = DataGen.users(20, seed = 11L)
    val botIps = users.filter(_.isBot).map(_.userIp).toSet
    val h0 = 1700000000L - (1700000000L % 3600)
    val base = Files.createTempDirectory("graft-publish").toString
    val prefix = s"$base/in"; val snap = s"$base/snap"
    val t = java.time.Instant.ofEpochSecond(h0).atZone(java.time.ZoneOffset.UTC)
    EventLog.writeHourlyCsv(DataGen.viewsDF(spark,
        DataGen.hourOfViews(users, DataGen.items(40), h0, seed = h0)),
      f"$prefix/${t.getYear}%04d/${t.getMonthValue}%02d/${t.getDayOfMonth}%02d/${t.getHour}%02d.csv",
      singleFile = true)
    val probe = (botIps.toSeq :+ "human").toDF("user_ip")
    // what a stream batch reading the snapshot right now would deny: a
    // fresh follower lists the path, and the re-read must agree with it
    def denied(): Set[String] = {
      val kept = new SnapshotFollower(snap).filter(probe)
        .collect().map(_.getString(0)).toSet
      val twin = ViewsPipeline.filterSuspicious(probe,
        ViewsPipeline.readSnapshotOrEmpty(spark, snap), current_timestamp())
        .collect().map(_.getString(0)).toSet
      assert(kept == twin)
      (botIps + "human") -- kept
    }
    assert(BatchViewsJob.detectAndSnapshot(spark, prefix, snap) == botIps.size)
    assert(denied() == botIps)
    val seen = mutable.Buffer.empty[Set[String]]
    BatchViewsJob.midPublish = () => seen += denied()
    try {
      BatchViewsJob.detectAndSnapshot(spark, prefix, snap)
      BatchViewsJob.compactSnapshot(spark, snap)
    } finally BatchViewsJob.midPublish = () => ()
    // both writers passed the point between moving the new files in and
    // deleting the old ones, and a reader there denied every bot
    assert(seen == Seq(botIps, botIps))
    assert(denied() == botIps)
    assert(spark.read.parquet(snap).count() == botIps.size)
  }

  test("snapshot compaction drops expired keys, keeps latest TTL per key, boundary-exact") {
    import spark.implicits._
    val snap = Files.createTempDirectory("graft-compact").toString + "/snapshot"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
    def ts(offsetH: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 6, 1, 12 + offsetH, 0))
    Seq(
      ("1.1.1.1", ts(-2)), // expired
      ("2.2.2.2", ts(0)),  // expires exactly at asOf -> NOT live (strict >)
      ("3.3.3.3", ts(1)),  // live
      ("3.3.3.3", ts(5)),  // same key re-detected later -> max wins
      ("4.4.4.4", ts(3))   // live
    ).toDF("user_ip", "expires_at").write.mode("overwrite").parquet(snap)

    val n = BatchViewsJob.compactSnapshot(spark, snap, asOf = lit(t0))
    assert(n == 2)
    val rows = spark.read.parquet(snap).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    assert(rows == Map("3.3.3.3" -> ts(5), "4.4.4.4" -> ts(3)))
    // compaction never changes what a TTL-filtering reader sees: the
    // boundary predicate is the same strict > filterSuspicious applies
    val events = Seq("1.1.1.1", "2.2.2.2", "3.3.3.3", "5.5.5.5").toDF("user_ip")
    val kept = graft.operators.ViewsPipeline.filterSuspicious(
      events, spark.read.parquet(snap), lit(t0)).collect().map(_.getString(0)).toSet
    assert(kept == Set("1.1.1.1", "2.2.2.2", "5.5.5.5"))
    // compacting an already-compact (or missing) snapshot is a no-op
    assert(BatchViewsJob.compactSnapshot(spark, snap, asOf = lit(t0)) == 2)
  }
}

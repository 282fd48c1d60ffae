package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import graft.jobs.BatchViewsJob
import graft.operators.ViewsPipeline
import graft.sources.DataGen
import graft.streaming.{SnapshotFollower, Streams}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class SnapshotFollowerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  private val hourMs = 3600L * 1000
  private def at(offsetMs: Long) = new Timestamp(System.currentTimeMillis() + offsetMs)

  /** One row per case: a, b and c appear in the snapshot, d does not,
    * and one row has no IP. */
  private lazy val batch: DataFrame =
    Seq[(String, Int)](("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5), (null, 6), ("a", 7))
      .toDF("user_ip", "n")

  private def publish(snap: String, v: Int, rows: (String, Timestamp)*): Unit =
    rows.toDF("user_ip", "expires_at").write.parquet(s"$snap/v=$v")

  private def rows(df: DataFrame): Seq[(Option[String], Int)] =
    df.select("user_ip", "n").collect().toSeq
      .map(r => (Option(r.getString(0)), r.getInt(1))).sorted

  /** The follower's rows, checked against the per-batch re-read they
    * replace; returns the IPs it kept. */
  private def keptIps(f: SnapshotFollower, snap: String): Set[Option[String]] = {
    val got = rows(f.filter(batch))
    val twin = rows(ViewsPipeline.filterSuspicious(batch,
      ViewsPipeline.readSnapshotOrEmpty(spark, snap), current_timestamp()))
    assert(got == twin)
    got.map(_._1).toSet
  }

  test("follower keeps exactly filterSuspicious's rows across versions, TTLs and null IPs") {
    val snap = s"${tmp("follow")}/snap"
    // a missing path is the empty bootstrap set
    val f = new SnapshotFollower(snap)
    assert(keptIps(f, snap) == Set("a", "b", "c", "d", "e").map(Option(_)) + None)
    // a: expired in v=1, live in v=2; b: expired only; c: live; a null IP
    // in the snapshot matches nothing
    publish(snap, 1, ("a", at(-hourMs)), ("b", at(-hourMs)), (null, at(hourMs)))
    publish(snap, 2, ("a", at(hourMs)), ("c", at(hourMs)), ("b", null))
    assert(keptIps(f, snap) == Set(Some("b"), Some("d"), Some("e"), None))
    // a fresh follower on the same versions agrees
    assert(keptIps(new SnapshotFollower(snap), snap) == Set(Some("b"), Some("d"), Some("e"), None))
  }

  test("a new version or a compaction between two batches applies on the next batch") {
    val snap = s"${tmp("versions")}/snap"
    publish(snap, 1, ("a", at(-hourMs)), ("b", at(-hourMs)))
    val f = new SnapshotFollower(snap)
    val everyone = Set("a", "b", "c", "d", "e").map(Option(_)) + None
    assert(keptIps(f, snap) == everyone)
    publish(snap, 2, ("a", at(hourMs)), ("c", at(hourMs)), ("e", at(10 * 60 * 1000L)))
    assert(keptIps(f, snap) == everyone -- Set(Some("a"), Some("c"), Some("e")))
    // compacting as of half an hour ahead drops e's row, which is still
    // live now: the rewrite must show on the very next batch
    BatchViewsJob.compactSnapshot(spark, snap, asOf = lit(at(hourMs / 2)))
    assert(keptIps(f, snap) == everyone -- Set(Some("a"), Some("c")))
  }

  test("a present snapshot path without data files fails the batch, as the re-read does") {
    val snap = s"${tmp("empty")}/snap"
    new java.io.File(snap).mkdirs()
    val f = new SnapshotFollower(snap)
    intercept[Exception](ViewsPipeline.readSnapshotOrEmpty(spark, snap).collect())
    intercept[Exception](f.filter(batch).collect())
    // the failure is not remembered: the next batch loads what is there
    publish(snap, 1, ("d", at(hourMs)))
    assert(keptIps(f, snap) == Set("a", "b", "c", "e").map(Option(_)) + None)
  }

  test("over an unchanged snapshot a filteredSink micro-batch runs one job, its write") {
    val users = DataGen.users(20, seed = 11L)
    val items = DataGen.items(50)
    val hourStart = 1700000000L - (1700000000L % 3600)
    val views = DataGen.hourOfViews(users, items, hourStart, seed = 13L)
    val base = tmp("jobs")
    val (inDir, outDir, ckpt, snap) = (s"$base/in", s"$base/out", s"$base/ckpt", s"$base/snap")
    // 120 files, 40 per trigger: more than the 32 paths above which Spark's
    // stock setting lists a batch's files with a job of its own
    DataGen.viewsDF(spark, views).repartition(120).write.json(inDir)
    assert(new java.io.File(inDir).list().count(_.endsWith(".json")) == 120)
    val bots = users.filter(_.isBot).map(_.userIp)
    assert(bots.nonEmpty)
    publish(snap, 1, bots.map(ip => (ip, at(hourMs))): _*)

    val jobsPerBatch = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobsPerBatch.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(id => jobsPerBatch(id.toLong) += 1)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Streams.filteredSink(Streams.viewsStream(spark, inDir, maxFilesPerTrigger = 40),
        snap, outDir, ckpt).trigger(Trigger.AvailableNow()).start().awaitTermination()
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)

    val perBatch = jobsPerBatch.synchronized(jobsPerBatch.toMap)
    assert(perBatch.keySet == Set(0L, 1L, 2L), perBatch)
    assert(perBatch(0L) > 1, perBatch) // the snapshot load
    assert(perBatch(1L) == 1 && perBatch(2L) == 1, perBatch)
    val twin = ViewsPipeline.filterSuspicious(
      ViewsPipeline.clean(spark.read.schema(sources.EventLog.viewsRawSchema).json(inDir)),
      spark.read.parquet(snap), current_timestamp())
    assert(spark.read.parquet(outDir).count() == twin.count())
    assert(twin.count() == views.count(v => !bots.contains(v.userIp)))
  }
}

package graft

import graft.operators.ViewsPipeline
import graft.sources.DataGen

/** Scale soak: run the flagship bot-detection pipeline against a
  * millions-of-rows distributed-generated workload (same distributions
  * as the reference generator) and report throughput + exactness.
  *
  * Usage: Soak [nUsers] [hours]  (default 2000 users x 3 hours ~ 5M rows)
  *
  * This is the local stand-in for the 1000-executor question: generation
  * is executor-side (driver memory stays flat as users/hours scale),
  * detection is two aggregates + a window over one shuffle each, and
  * precision/recall against the generator's ground-truth labels must
  * stay 1.0 — the bot/human rate distributions don't overlap
  * (SURVEY.md §5).
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val nUsers = if (args.length > 0) args(0).toInt else 2000
    val hours = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.create(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", "graft-soak")

    val users = DataGen.users(nUsers, seed = 101L)
    val items = DataGen.items(200)
    val truthBots = users.filter(_.isBot).map(_.userIp).toSet

    // generate ONCE: land the workload as JSON-lines (it doubles as the
    // streaming phase's source), then run the batch tier off the files
    val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val (inDir, outDir, ckpt, snap) =
      (s"$base/in", s"$base/out", s"$base/ckpt", s"$base/snap")
    val t0 = System.nanoTime()
    DataGen.distViews(spark, users, items, startEpochS = 1700000000L, hours = hours)
      .write.mode("overwrite").json(inDir)
    val cleaned = ViewsPipeline.clean(
      sources.EventLog.readJsonLines(spark, inDir)).persist()
    val nRows = cleaned.count()
    val genS = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val detected = ViewsPipeline.detectSuspicious(cleaned)
      .collect().map(_.getString(0)).toSet
    val detectS = (System.nanoTime() - t1) / 1e9

    val tp = (detected & truthBots).size
    val precision = if (detected.isEmpty) 1.0 else tp.toDouble / detected.size
    val recall = if (truthBots.isEmpty) 1.0 else tp.toDouble / truthBots.size

    // Streaming phase: turn the detected set into the TTL'd snapshot and
    // replay the landed JSON through the checkpointed streaming IP
    // filter to the partitioned sink — the full K3 path, end to end.
    import org.apache.spark.sql.functions.current_timestamp
    ViewsPipeline.suspiciousSnapshot(
      ViewsPipeline.detectSuspicious(cleaned), current_timestamp(), 24)
      .write.mode("overwrite").parquet(snap)
    val t2 = System.nanoTime()
    streaming.Streams.runToCompletion(streaming.Streams.filteredSink(
      streaming.Streams.viewsStream(spark, inDir, maxFilesPerTrigger = 64),
      snap, outDir, ckpt))
    val streamS = (System.nanoTime() - t2) / 1e9
    val nFiltered = spark.read.parquet(outDir).count()

    // Paced phase (generator.py:219-221 sleep_until analog): replay the
    // same workload on its event-time schedule, compressed to ~20s of
    // wall clock, through the snapshot-following IP filter, and measure
    // landed->written latency. AvailableNow above measures THROUGHPUT;
    // this measures end-to-end LATENCY under paced arrival.
    val spanS = hours * 3600
    val sliceS = math.max(60, spanS / 120)
    val speedup = spanS / 20.0
    val staged = streaming.PacedReplay.stage(cleaned, "ts", s"$base/staged", sliceS)
    val paced = streaming.PacedReplay.replay(
      spark, staged, s"$base/paced-in", s"$base/paced-out", s"$base/paced-ckpt",
      sliceS, speedup,
      transform = new streaming.SnapshotFollower(snap).filter)

    println(
      s"""{"metric":"soak","rows":$nRows,"users":$nUsers,"hours":$hours,""" +
        s""""gen_sec":$genS,"detect_sec":$detectS,""" +
        s""""detect_rows_per_sec":${(nRows / detectS).toLong},""" +
        s""""precision":$precision,"recall":$recall,""" +
        s""""stream_sec":$streamS,"stream_rows_per_sec":${(nRows / streamS).toLong},""" +
        s""""stream_rows_out":$nFiltered,""" +
        s""""paced_wall_sec":${paced.wallSec},"paced_slices":${paced.slices},""" +
        s""""paced_p50_ms":${paced.p50Ms},"paced_p95_ms":${paced.p95Ms},""" +
        s""""paced_p99_ms":${paced.p99Ms},"paced_max_ms":${paced.maxMs}}""")
    spark.stop()
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.ml.SpamFilter
import graft.operators.ViewsPipeline
import graft.sources.{DataGen, EventLog}
import graft.streaming.{PacedReplay, Streams}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener,
  Trigger}

/** The paper's dataflow as one workload.
  *
  * A seeded DataGen population (10% bots) produces views and reviews.
  * Measured phase, in three parts:
  *  1. open loop: the benchmark's pacer lands event-time slices at a fixed
  *     rate while the IP-filtered sink (`Streams.filteredSink`) runs and a
  *     detector loop (`ViewsPipeline.detectSuspicious` →
  *     `suspiciousSnapshot`) publishes the snapshot the filter re-reads —
  *     latency and time-to-block;
  *  2. the landed views and reviews through the windowed top-K popular
  *     items, the high-traffic query and review spam scoring (AvailableNow),
  *     side by side. They run after the open loop, not beside it: on four
  *     cores their bursts made the sink's latency differ by a quarter
  *     between runs;
  *  3. drain: earlier landed views through `Streams.filteredSink` with
  *     AvailableNow, a few files per micro-batch — throughput.
  * Spark fires processing-time triggers at multiples of their interval on
  * the wall clock. The detector runs on a grid of its own period (a
  * multiple of the trigger interval) and the pacer starts at a fixed phase
  * of that grid, so the wait each slice has until the next trigger, and
  * which sink batches share the cores with a detector run, are the same in
  * every run.
  * It is the only workload that writes (sinks, checkpoints, snapshots) and
  * keeps streaming state.
  */
object Pipeline {

  val Humans = 54
  val Bots = 6
  val DrainHours = 2
  val DrainFiles = 36
  val DrainFilesPerTrigger = 4
  val LiveHours = 1
  /** The pacer's fixed rate; the open loop lands slices for half of the
    * run's --seconds. */
  val RateSlicesPerS = 10.0
  val SinkTriggerMs = 4000L
  /** Slice k lands this long after a sink trigger, plus k / rate. */
  val PacerPhaseMs = 50L
  val DetectEveryMs = 4000L
  /** Detector runs start this long after a multiple of DetectEveryMs. */
  val DetectPhaseMs = 2000L
  val StartEpochS = 1700000000L
  val DrainTimeoutMs = 30000L

  private final case class Batch(query: String, id: Long, startUs: Long, endUs: Long,
      rows: Long, durations: Map[String, Long], stateRows: Long, stateBytes: Long)

  def run(env: Env): Map[String, Any] = {
    val a = env.args
    val trace = env.trace
    val spark = env.newSession()
    import spark.implicits._
    val d = a.dir
    val seed = a.seed
    val nSlices = (a.seconds * RateSlicesPerS / 2).toInt max 10

    // ---- setup: inputs, staging, model, drain snapshot
    val g0 = Clock.us()
    val users = trace.span("sources", "DataGen.users") {
      (DataGen.users(Humans, seed, botProbability = 0.0) ++
        DataGen.users(Bots, seed + 1, botProbability = 1.0)).distinctBy(_.userIp)
    }
    val items = DataGen.items(100, seed)
    val truthBots = users.filter(_.isBot).map(_.userIp).toSet
    val liveStartS = StartEpochS + DrainHours * 3600L
    val drainIn = s"$d/drain-in"
    trace.span("sources", "DataGen.distViews") {
      DataGen.distViews(spark, users, items, StartEpochS, DrainHours, seed)
        .repartition(DrainFiles).write.json(drainIn)
    }
    val liveViews = DataGen.distViews(spark, users, items, liveStartS, LiveHours, seed + 2)
    val reviews = DataGen.reviewsDF(spark,
      DataGen.hourOfReviews(users, items, liveStartS, seed + 3))
    val datagenUs = Clock.us() - g0
    val sliceSeconds = LiveHours * 3600 / nSlices
    def withEventTs(df: DataFrame) =
      df.withColumn("event_ts", to_timestamp(col("ts"), EventLog.TsPattern))
    val st0 = Clock.us()
    val (viewsStaged, reviewsStaged) = trace.span("streaming", "PacedReplay.stage") {
      (PacedReplay.stage(withEventTs(liveViews), "event_ts", s"$d/stage-views", sliceSeconds),
        PacedReplay.stage(withEventTs(reviews), "event_ts", s"$d/stage-reviews", sliceSeconds))
    }
    val stageUs = Clock.us() - st0
    val t0 = Clock.us()
    val model = trace.span("ml", "SpamFilter.train") {
      SpamFilter.train(DataGen.smsCorpusDF(spark, DataGen.smsCorpus(400, seed)))
    }
    val trainUs = Clock.us() - t0
    val drainSnap = s"$d/drain-snapshot"
    val drainDetected = trace.span("jobs", "detectSuspicious") {
      val detected = ViewsPipeline.detectSuspicious(ViewsPipeline.clean(
        spark.read.schema(EventLog.viewsRawSchema).json(drainIn)))
      ViewsPipeline.suspiciousSnapshot(detected, current_timestamp(), 24)
        .write.parquet(drainSnap)
      spark.read.parquet(drainSnap).select("user_ip").as[String].collect().toSet
    }
    // warm-up: every query of the measured phase runs once over one file of
    // the drain input, so measuring starts with a warm JIT and
    // code-generation cache
    trace.span("bench", "warm-up") {
      val warmIn = Files.createDirectories(Paths.get(s"$d/warm-in"))
      Files.list(Paths.get(drainIn)).iterator().asScala.filter(_.toString.endsWith(".json"))
        .take(1).foreach(f => Files.copy(f, warmIn.resolve(f.getFileName)))
      def views() = Streams.viewsStream(spark, warmIn.toString, maxFilesPerTrigger = 8)
      Streams.runToCompletion(Streams.filteredSink(views(), drainSnap, s"$d/warm/sink",
        s"$d/warm/ckpt-sink"))
      Streams.runToCompletion(Streams.popularityTopK(views(), s"$d/warm/popular",
        s"$d/warm/ckpt-popular"))
      Streams.runToCompletion(Streams.highTraffic(views()).writeStream.format("noop")
        .option("checkpointLocation", s"$d/warm/ckpt-traffic"))
      val warmReviews = ViewsPipeline.clean(
        spark.read.schema(EventLog.reviewsRawSchema).json(s"$d/stage-reviews"))
      SpamFilter.score(model, ViewsPipeline.filterSuspicious(warmReviews,
        spark.read.parquet(drainSnap), current_timestamp())).write.format("noop")
        .mode("overwrite").save()
    }

    // ---- streaming progress, recorded for latency and the per-layer split
    val progress = new ConcurrentLinkedQueue[Batch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        if (dur.contains("addBatch")) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
          progress.add(Batch(Option(p.name).getOrElse(""), p.batchId, start,
            start + dur.getOrElse("triggerExecution", 0L) * 1000, p.numInputRows, dur,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum))
        }
      }
    }
    spark.streams.addListener(listener)

    var wallUs = 0L
    val slices = new ConcurrentLinkedQueue[Map[String, Any]]()
    val versions = new ConcurrentLinkedQueue[Map[String, Any]]()
    var detectRuns = 0
    var detectUs = 0L
    var detectFailures = 0
    var scoreUs = 0L
    var failures = 0
    val liveIn = s"$d/live-in"
    val reviewsIn = s"$d/reviews-in"
    val liveOut = s"$d/live-out"
    val liveSnap = s"$d/live-snapshot"
    val reviewsOut = s"$d/reviews-out"
    Files.createDirectories(Paths.get(liveIn))
    Files.createDirectories(Paths.get(reviewsIn))

    env.measure {
      // 1. open loop
      val w0 = Clock.us()
      def live(dir: String, reviewsSchema: Boolean) =
        if (reviewsSchema) Streams.reviewsStream(spark, dir, maxFilesPerTrigger = 10000)
        else Streams.viewsStream(spark, dir, maxFilesPerTrigger = 10000)
      val sink = Streams.filteredSink(live(liveIn, false), liveSnap, liveOut, s"$d/ckpt/sink")
        .queryName("views_sink").trigger(Trigger.ProcessingTime(SinkTriggerMs)).start()

      // detector loop: scan the views landed since its last scan and
      // publish each grown detected set as a new snapshot version
      val stop = new AtomicBoolean(false)
      val detector = new Thread(() => {
        var known = Set.empty[String]
        var scanned = Set.empty[String]
        var v = 0
        while (!stop.get) {
          val r0 = Clock.us()
          try {
            val fresh = Files.list(Paths.get(liveIn)).iterator().asScala
              .map(_.toString).filter(_.endsWith(".json")).filterNot(scanned).toSeq
            val ips = if (fresh.isEmpty) known else known ++ trace.span("jobs", "detectSuspicious") {
              ViewsPipeline.detectSuspicious(ViewsPipeline.clean(
                spark.read.schema(EventLog.viewsRawSchema).json(fresh: _*)))
                .as[String].collect().toSet
            }
            scanned = scanned ++ fresh
            if ((ips -- known).nonEmpty) {
              v += 1
              trace.span("jobs", "suspiciousSnapshot") {
                // written aside, then renamed in: a reader never lists a
                // half-written version
                val staged = Paths.get(s"$d/snapshot-staging-$v")
                ViewsPipeline.suspiciousSnapshot(ips.toSeq.toDF("user_ip"),
                  current_timestamp(), 24).write.parquet(s"$staged/v=$v")
                if (v == 1) Files.move(staged, Paths.get(liveSnap), StandardCopyOption.ATOMIC_MOVE)
                else Files.move(staged.resolve(s"v=$v"), Paths.get(liveSnap, s"v=$v"),
                  StandardCopyOption.ATOMIC_MOVE)
              }
              known = known ++ ips
              versions.add(Map("v" -> v, "publish_us" -> Clock.us(), "ips" -> ips.toSeq.sorted))
            }
          } catch { case e: Throwable =>
            detectFailures += 1
            System.err.println(s"[perfbench] detector: ${e.getMessage}")
          }
          detectRuns += 1
          detectUs += Clock.us() - r0
          // next run DetectPhaseMs after the next multiple of the period
          val now = System.currentTimeMillis()
          if (!stop.get) Thread.sleep(
            ((now - DetectPhaseMs) / DetectEveryMs + 1) * DetectEveryMs + DetectPhaseMs - now)
        }
      }, "perfbench-detector")
      detector.start()

      // the pacer: land slice k at start + k / rate, whatever the system
      // does; start is PacerPhaseMs after a multiple of DetectEveryMs (a
      // sink trigger too), and the wait for it is not part of wall_s
      val views = sliceFiles(viewsStaged)
      val revs = sliceFiles(reviewsStaged)
      val periodUs = (1e6 / RateSlicesPerS).toLong
      val nowMs = System.currentTimeMillis()
      val alignUs = ((nowMs / DetectEveryMs + 1) * DetectEveryMs + PacerPhaseMs - nowMs) * 1000
      val p0 = Clock.us() + alignUs
      (0 until nSlices).foreach { k =>
        val due = p0 + k * periodUs
        val waitUs = due - Clock.us()
        if (waitUs > 0) Thread.sleep(waitUs / 1000, ((waitUs % 1000) * 1000).toInt)
        val actual = Clock.us()
        val landed = views.getOrElse(k, Nil).zipWithIndex.map { case (f, i) =>
          land(f, Paths.get(liveIn, f"slice-$k%06d-$i.json"))
        }
        revs.getOrElse(k, Nil).zipWithIndex.foreach { case (f, i) =>
          land(f, Paths.get(reviewsIn, f"slice-$k%06d-$i.json"))
        }
        slices.add(Map("k" -> k, "due_us" -> due, "actual_us" -> actual, "files" -> landed))
      }
      // wait for the sink to write every landed view, then stop it
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      def sinkRows = progress.asScala.filter(_.query == "views_sink").map(_.rows).sum
      while (sinkRows < viewsStaged.rows && System.currentTimeMillis() < deadline && sink.isActive)
        Thread.sleep(50)
      stop.set(true)
      detector.join()
      if (sink.exception.isDefined) failures += 1
      sink.stop()

      // 2. the views and reviews landed in the open loop, through the
      // windowed top-K popular items, the high-traffic query and review
      // spam scoring against the final snapshot, side by side
      def side(name: String)(w: => DataStreamWriter[Row]): Option[StreamingQuery] =
        try Some(w.queryName(name).trigger(Trigger.AvailableNow()).start())
        catch { case e: Throwable =>
          failures += 1
          System.err.println(s"[perfbench] $name: ${e.getMessage}")
          None
        }
      trace.span("streaming", "side queries") {
        val sides = Seq(
          side("popular_items")(Streams.popularityTopK(live(liveIn, false),
            s"$d/popular-out", s"$d/ckpt/popular")),
          side("high_traffic")(Streams.highTraffic(live(liveIn, false)).writeStream
            .format("noop").option("checkpointLocation", s"$d/ckpt/traffic")),
          side("reviews_spam")(live(reviewsIn, true).writeStream
            .option("checkpointLocation", s"$d/ckpt/reviews")
            .foreachBatch { (b: DataFrame, id: Long) =>
              val s0 = Clock.us()
              trace.span("ml", "SpamFilter.score") {
                val filtered = ViewsPipeline.filterSuspicious(b,
                  ViewsPipeline.readSnapshotOrEmpty(b.sparkSession, liveSnap),
                  current_timestamp())
                SpamFilter.score(model, filtered).write.mode("overwrite")
                  .parquet(s"$reviewsOut/batch=$id")
              }
              scoreUs += Clock.us() - s0
              ()
            }))
        sides.flatten.foreach { q =>
          try q.awaitTermination()
          catch { case e: Throwable =>
            failures += 1
            System.err.println(s"[perfbench] ${q.name}: ${e.getMessage}")
          }
        }
      }

      // 3. drain
      trace.span("streaming", "filteredSink.drain") {
        Streams.runToCompletion(Streams.filteredSink(
          Streams.viewsStream(spark, drainIn, maxFilesPerTrigger = DrainFilesPerTrigger),
          drainSnap, s"$d/drain-out", s"$d/ckpt/drain").queryName("drain"))
      }
      wallUs = Clock.us() - w0 - alignUs
    }
    spark.streams.removeListener(listener)

    // ---- checks (outside the measured phase)
    val batches = progress.asScala.toSeq
    val drainRows = batches.filter(_.query == "drain").map(_.rows).sum
    // each bot's first slice, for time-to-block (a per-layer metric)
    val botFirstSlice = if (!trace.enabled) Map.empty[String, Long] else
      spark.read.schema("user_ip string, slice long").json(liveIn)
        .filter(col("user_ip").isin(truthBots.toSeq: _*))
        .groupBy("user_ip").agg(min("slice").as("s")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sinkBatches = batches.filter(_.query == "views_sink")
    val batchFiles = sourceFiles(s"$d/ckpt/sink")
    val finalDetected = versions.asScala.flatMap(_("ips").asInstanceOf[Seq[String]]).toSet
    def pr(found: Set[String]) = (
      if (found.isEmpty) 0.0 else (found & truthBots).size.toDouble / found.size,
      (found & truthBots).size.toDouble / truthBots.size)
    val (livePrec, liveRec) = pr(finalDetected)
    val (drainPrec, drainRec) = pr(drainDetected)
    val drainSinkRows = spark.read.parquet(s"$d/drain-out").count()
    val drainTwinRows = ViewsPipeline.filterSuspicious(
      ViewsPipeline.clean(spark.read.schema(EventLog.viewsRawSchema).json(drainIn)),
      spark.read.parquet(drainSnap), current_timestamp()).count()
    val accuracy = SpamFilter.accuracy(model,
      DataGen.smsCorpusDF(spark, DataGen.smsCorpus(200, seed + 7)))
    val liveSinkRows = spark.read.parquet(liveOut).count()
    val scoredRows = spark.read.parquet(reviewsOut).count()
    val scoredTwinRows = ViewsPipeline.filterSuspicious(
      ViewsPipeline.clean(spark.read.schema(EventLog.reviewsRawSchema).json(reviewsIn)),
      ViewsPipeline.readSnapshotOrEmpty(spark, liveSnap), current_timestamp()).count()
    val sinkInput = sinkBatches.map(_.rows).sum
    val reviewInput = batches.filter(_.query == "reviews_spam").map(_.rows).sum
    val checks = Seq(
      check("bot precision (open loop)", livePrec == 1.0, s"$livePrec"),
      check("bot recall (open loop)", liveRec == 1.0, s"$liveRec"),
      check("bot precision (drain)", drainPrec == 1.0, s"$drainPrec"),
      check("bot recall (drain)", drainRec == 1.0, s"$drainRec"),
      check("drain sink rows = batch filterSuspicious twin", drainSinkRows == drainTwinRows,
        s"$drainSinkRows vs $drainTwinRows"),
      check("spam accuracy >= 0.95", accuracy >= 0.95, f"$accuracy%.4f"),
      check("every landed view reached the sink", sinkInput == viewsStaged.rows,
        s"$sinkInput of ${viewsStaged.rows}"),
      check("every landed review was read", reviewInput == reviewsStaged.rows,
        s"$reviewInput of ${reviewsStaged.rows}"),
      check("scored reviews = batch filterSuspicious twin", scoredRows == scoredTwinRows,
        s"$scoredRows vs $scoredTwinRows"))
    val popularLast = batches.filter(_.query == "popular_items").sortBy(_.id).lastOption
    def med(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2).toDouble
    val sinkFiles = Files.walk(Paths.get(liveOut)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    val attempted = batches.size + detectRuns
    Map(
      "pipeline" -> Map(
        "drain_batches" -> batches.filter(_.query == "drain").map(b =>
          Map("rows" -> b.rows, "us" -> (b.endUs - b.startUs))),
        "wall_us" -> wallUs,
        "rate_slices_per_s" -> RateSlicesPerS,
        "slices" -> slices.asScala.toSeq.sortBy(_("k").asInstanceOf[Int]),
        "batches" -> sinkBatches.map(b => Map("id" -> b.id, "start_us" -> b.startUs,
          "end_us" -> b.endUs, "rows" -> b.rows,
          "files" -> batchFiles.getOrElse(b.id, Nil))),
        "versions" -> versions.asScala.toSeq,
        "bot_first_slice" -> botFirstSlice,
        "attempted" -> attempted,
        "failed" -> (failures + detectFailures),
        "checks" -> checks,
        "datagen_s" -> datagenUs / 1e6,
        "datagen_rows" -> (drainRows + viewsStaged.rows + reviewsStaged.rows),
        "stage_s" -> stageUs / 1e6,
        "layers" -> Map(
          "streaming.batches" -> sinkBatches.size,
          "streaming.batch_p50_ms" -> med(sinkBatches.map(_.durations.getOrElse("triggerExecution", 0L))),
          "streaming.latestOffset_ms" -> med(sinkBatches.map(_.durations.getOrElse("latestOffset", 0L))),
          "streaming.getBatch_ms" -> med(sinkBatches.map(_.durations.getOrElse("getBatch", 0L))),
          "streaming.queryPlanning_ms" -> med(sinkBatches.map(_.durations.getOrElse("queryPlanning", 0L))),
          "streaming.addBatch_ms" -> med(sinkBatches.map(_.durations.getOrElse("addBatch", 0L))),
          "streaming.walCommit_ms" -> med(sinkBatches.map(_.durations.getOrElse("walCommit", 0L))),
          "streaming.state_rows" -> popularLast.map(_.stateRows).getOrElse(0L),
          "streaming.state_bytes" -> popularLast.map(_.stateBytes).getOrElse(0L),
          "streaming.sink_files" -> sinkFiles,
          "jobs.detect_runs" -> detectRuns,
          "jobs.detect_s" -> detectUs / 1e6,
          "jobs.snapshot_rows" -> finalDetected.size,
          "jobs.filtered_frac" -> (1.0 - liveSinkRows.toDouble / viewsStaged.rows),
          "ml.train_s" -> trainUs / 1e6,
          "ml.score_s" -> scoreUs / 1e6,
          "ml.score_rows" -> scoredRows)))
  }

  private def check(name: String, ok: Boolean, detail: String): Map[String, Any] =
    Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** Staged JSON files per slice index. */
  private def sliceFiles(st: PacedReplay.Staged): Map[Int, Seq[Path]] =
    Files.list(Paths.get(st.dir)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("slice_dir="))
      .map { p =>
        p.getFileName.toString.stripPrefix("slice_dir=").toInt ->
          Files.list(p).iterator().asScala.filter(_.toString.endsWith(".json")).toSeq.sorted
      }.toMap

  /** Land one staged file in a watched directory (an atomic rename). */
  private def land(from: Path, to: Path): String = {
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    to.getFileName.toString
  }

  /** File names each micro-batch of a file-source query read, from the
    * query's checkpoint log (sources/0/: a version line, then one JSON entry
    * per file with its path and batch id; every tenth file is a compaction
    * holding all entries so far). */
  private def sourceFiles(ckpt: String): Map[Long, Seq[String]] = {
    val dir = Paths.get(ckpt, "sources", "0")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.stripSuffix(".compact").forall(_.isDigit))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map(mapper.readTree)
      .map(j => j.get("batchId").asLong ->
        Paths.get(new java.net.URI(j.get("path").asText())).getFileName.toString)
      .distinct
      .groupBy(_._1).map { case (id, fs) => id -> fs.map(_._2).sorted }
  }
}

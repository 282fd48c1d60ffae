package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.{Drift, EventsOps, TrainingOps}
import graft.streaming._

/** CONCURRENT streaming soak harness: every kernel is proven alone by
  * its replay spec; production runs many per session, sharing
  * the executor pool and the state store backend. This harness drives
  * SIX kernels concurrently off ONE paced source — the same staged
  * slice-rename pacer PacedReplay uses — and asserts, per kernel, that
  * the MAXIMUM state-store row count observed across every micro-batch
  * stays within the kernel's documented STREAMING.md bound while
  * co-resident:
  *
  *   - StreamCusum / StreamHolt / StreamEwma / StreamDrift: one state
  *     row per live KEY (flatMapGroupsWithState) → ≤ |event types| = 5;
  *   - StreamHll: 64 registers × open windows; windows close at the
  *     watermark and evict a batch later, so the co-residency bound is
  *     64 × (horizon + batch-ingest span) windows — the
  *     `windowAllowance` budget, independent of row count;
  *   - StreamBuckets: |langs| × 3 census rows × open windows — same
  *     budget.
  *
  * The artifacts the train-batch/serve-stream kernels need (CUSUM μ,
  * tercile boundaries, drift reference CDFs) are trained on the SAME
  * generated workload batch-side first — the hand-off under test is the
  * production one. Generation is executor-side range arithmetic
  * (driver memory flat in n); the pacer renames staged slice files, so
  * no bytes flow through the driver.
  *
  * ConcurrentSoakSpec runs it at 2e5 rows over 12 h; the 1e7-row,
  * 48 h numbers in STREAMING.md came from the same `run` at full size.
  */
object ConcurrentSoak {

  final case class KernelReport(
      name: String, bound: Long, maxStateRows: Long, inputRows: Long, ok: Boolean)

  final case class Report(rows: Long, kernels: Seq[KernelReport])

  /** The soak body.
    *
    * `windowAllowance` is the open-window budget for the two
    * windowed-agg kernels: watermark horizon (2 windows) + the largest
    * event-time span one micro-batch can ingest + one batch of
    * eviction lag. That span is a function of the PACER (slices land
    * on a wall-clock schedule) and of batch duration under co-resident
    * load — independent of row count, which is the bound that matters:
    * at a 60 s pace, 1e7 rows over 48 h observe
    * 9-10 open windows against the 16 allowed (and against 49 total
    * span windows if nothing ever evicted); the spec's gentler 20 s /
    * 12 h pacing stays inside 8. */
  def run(spark: SparkSession, n: Long, spanHours: Int,
      paceSec: Double, windowAllowance: Int): Report = {
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "signup", "error")
    val spanS = spanHours * 3600L
    val start = 1700000000L

    // executor-side workload: n events over spanHours, 5 types, value
    // cents and user ids from id arithmetic (closed-form, replayable)
    def workload: DataFrame = spark.range(n).select(
      timestamp_seconds(lit(start) + col("id") * spanS / n).as("ts"),
      element_at(typedLit(types), (col("id") % 5).cast("int") + 1)
        .as("event_type"),
      (col("id") % 1000L).as("user_id"),
      (col("id") % 997L).as("value"))

    // ---- batch-side artifact training (the production hand-off) ----
    val batch = workload
    val mu = EventsOps.cusumMu(batch).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val thresholds = TrainingOps.tercileThresholds(
      batch.select(col("event_type").as("lang"), col("value").as("lm_score")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("lang", "b1", "b2")
    val refs = Drift.referenceCdfs(
      batch.select(col("event_type").as("source"), col("value")), "value")

    // ---- stage once, pace into ONE shared directory ----------------
    val base = java.nio.file.Files.createTempDirectory("graft-csoak").toString
    val sliceS = math.max(60L, spanS / 128L).toInt
    val staged = PacedReplay.stage(batch, "ts", s"$base/staged", sliceS)
    val inDir = s"$base/in"
    val hadoopIn = new org.apache.hadoop.fs.Path(inDir)
    val fs = hadoopIn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hadoopIn)

    // ---- the six co-resident kernels --------------------------------
    def src: DataFrame = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", 10000).json(inDir)
    def asDocs(df: DataFrame): DataFrame = df.select(
      col("ts"), col("event_type").as("lang"), col("value").as("lm_score"))
    def asSources(df: DataFrame): DataFrame = df.select(
      col("event_type").as("source"), col("ts"), col("value").as("v"))
    val kernels: Seq[(String, DataFrame, Long)] = Seq(
      ("cusum", StreamCusum.chart(src, mu).toDF, types.size.toLong),
      ("holt", StreamHolt.chart(src).toDF, types.size.toLong),
      ("ewma", StreamEwma.chart(src).toDF, types.size.toLong),
      ("drift", StreamDrift.chart(asSources(src), refs).toDF,
        types.size.toLong),
      ("hll", StreamHll.hourlyRegisters(src), 64L * windowAllowance),
      ("buckets", StreamBuckets.hourlyCensus(asDocs(src), thresholds),
        15L * windowAllowance))

    // ---- telemetry: max state rows + input rows per query -----------
    val maxRows = new ConcurrentHashMap[java.util.UUID, Long]()
    val inRows = new ConcurrentHashMap[java.util.UUID, Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        maxRows.merge(p.id, p.stateOperators.map(_.numRowsTotal).sum, math.max(_, _))
        inRows.merge(p.id, p.numInputRows, _ + _)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val queries = kernels.map { case (name, df, _) =>
      name -> df.writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt-$name")
        .queryName(s"csoak-$name")
        .start()
    }
    try {
      // the pacer: rename each staged slice in on the compressed schedule
      val sliceDirs = new java.io.File(staged.dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("slice_dir="))
        .map(f => f.getName.stripPrefix("slice_dir=").toInt -> f)
        .sortBy(_._1)
      val speedup = spanS / paceSec
      val p0 = System.currentTimeMillis()
      sliceDirs.foreach { case (k, dir) =>
        val target = p0 + (k.toLong * sliceS * 1000 / speedup).toLong
        val wait = target - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        dir.listFiles().filter(_.getName.endsWith(".json")).zipWithIndex
          .foreach { case (f, i) =>
            require(fs.rename(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath),
              new org.apache.hadoop.fs.Path(hadoopIn, f"slice-$k%06d-$i.json")),
              s"pacer rename of slice $k failed")
          }
      }
      // drain: every co-resident kernel must consume every staged row
      queries.foreach { case (_, q) => q.processAllAvailable() }
    } finally {
      queries.foreach { case (_, q) => q.stop() }
      spark.streams.removeListener(listener)
    }

    val reports = kernels.zip(queries).map { case ((name, _, bound), (_, q)) =>
      val mr = maxRows.getOrDefault(q.id, 0L)
      val ir = inRows.getOrDefault(q.id, 0L)
      KernelReport(name, bound, mr, ir, ok = mr <= bound && ir >= staged.rows)
    }
    Report(staged.rows, reports)
  }
}

package graft.jobs

import graft.operators.ViewsPipeline
import graft.sources.{EventLog, IncrementalScan}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's Glue ETL job as a library job (reference
  * glue_cf_template.json:121-147: read viewsInputS3Path, filter against
  * the suspicious-IP table, write outputJobS3Path, job bookmarks on) —
  * composed entirely from the engine's operators:
  *
  *   S1 hourly CSV scan → F3-F8 clean → F1/F2 TTL'd IP filter →
  *   F5 partition columns → K6 curated parquet, processed incrementally
  *   (IncrementalScan = the bookmark).
  *
  * One call = one EMR-step/Glue-run equivalent (SURVEY.md §3.3/§3.4).
  */
object BatchViewsJob {

  final case class Result(rowsProcessed: Long)

  def run(s: SparkSession, inPrefix: String, snapshotPath: String,
      outPath: String, markPath: String): Result = {
    // prune done hours at the filesystem listing (O(new), not
    // O(history) — the bookmark contract); IncrementalScan re-applies
    // the same predicate on the derived columns as defense in depth
    val raw = EventLog.readHourlyCsvSince(s, inPrefix,
      IncrementalScan.readMark(s, markPath))
    val cleaned = ViewsPipeline.clean(raw)
    val snapshot = ViewsPipeline.readSnapshotOrEmpty(s, snapshotPath)
    val partitioned = ViewsPipeline.withPartitionColumns(cleaned)
    val n = IncrementalScan.step(s, partitioned, markPath,
      df => ViewsPipeline.filterSuspicious(df, snapshot, current_timestamp()),
      outPath)
    Result(n)
  }

  /** The companion detection job (the "Batch Job to find out suspicious
    * IPs" EMR step): scan the curated/raw hours, detect, refresh the
    * TTL'd snapshot (K4). */
  def detectAndSnapshot(s: SparkSession, inPrefix: String, snapshotPath: String,
      ttlHours: Int = 24): Long = {
    val cleaned = ViewsPipeline.clean(EventLog.readHourlyCsv(s, inPrefix))
    val detected = ViewsPipeline.detectSuspicious(cleaned)
    val snap = ViewsPipeline.suspiciousSnapshot(detected, current_timestamp(), ttlHours)
    publishSnapshot(s, snap, snapshotPath)
    s.read.parquet(snapshotPath).count()
  }

  /** Called between the two filesystem steps of [[publishSnapshot]]
    * (new part files moved in, superseded ones not yet deleted), so a
    * spec can read the snapshot at that point. A no-op otherwise. */
  @volatile private[graft] var midPublish: () => Unit = () => ()

  /** Replace the snapshot at `snapshotPath` with `rows` so that a reader
    * listing at any moment sees the old set, old ∪ new, or the new set,
    * never a missing or empty path (which a reader takes as the empty
    * bootstrap deny set, passing every bot). `rows` is written to a
    * sibling temp dir first; its part files, uniquely named per write,
    * are moved into the live dir, and only then are the entries they
    * supersede deleted. Readers fold the max `expires_at` per IP, so
    * old ∪ new denies exactly the IPs either set denies. A crash leaves
    * the old snapshot, possibly with the new rows beside it. A path that
    * does not exist yet takes the whole temp dir in one rename. */
  private[graft] def publishSnapshot(s: SparkSession, rows: DataFrame,
      snapshotPath: String): Unit = {
    val p = new Path(snapshotPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, s".publish-${java.util.UUID.randomUUID()}")
    rows.write.parquet(tmp.toString)
    if (!fs.exists(p)) require(fs.rename(tmp, p), s"snapshot publish to $p failed")
    else {
      val superseded = fs.listStatus(p).map(_.getPath)
      for (f <- fs.listStatus(tmp) if f.isFile && !hidden(f.getPath))
        require(fs.rename(f.getPath, new Path(p, f.getPath.getName)),
          s"snapshot publish of ${f.getPath} to $p failed")
      midPublish()
      superseded.foreach(fs.delete(_, true))
      fs.delete(tmp, true)
    }
  }

  /** Spark's readers skip `_` and `.` names (markers, checksums). */
  private def hidden(f: Path): Boolean =
    f.getName.startsWith("_") || f.getName.startsWith(".")

  /** Periodic snapshot compaction (SURVEY §4: "read-time filter +
    * periodic compaction" — this is the compaction half). Rewrites the
    * KV snapshot keeping only unexpired keys, one row per key (max
    * expires_at wins, the upsert-latest semantic of the KV store it
    * models). Readers are never WRONG without it — TTL is enforced at
    * read time by filterSuspicious — but without it the snapshot grows
    * with every detection forever; compaction bounds its size so the
    * broadcast side of the IP filter stays a broadcast.
    *
    * The expiry predicate is strictly `expires_at > asOf` — the same
    * boundary filterSuspicious applies, so compaction never changes
    * what a reader sees.
    *
    * The rewrite goes through [[publishSnapshot]]: a crash
    * mid-compaction leaves the old rows in place, and a reader never
    * observes a half-written or missing snapshot. Returns the surviving
    * row count. */
  def compactSnapshot(s: SparkSession, snapshotPath: String,
      asOf: Column = current_timestamp()): Long = {
    val live = ViewsPipeline.readSnapshotOrEmpty(s, snapshotPath)
      .filter(col("expires_at") > asOf)
      .groupBy(col("user_ip")).agg(max(col("expires_at")).as("expires_at"))
    publishSnapshot(s, live, snapshotPath)
    s.read.parquet(snapshotPath).count()
  }
}

package graft.streaming

import graft.operators.ViewsPipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Follows the suspicious-IP snapshot at `snapshotPath` for one streaming
  * query and filters its micro-batches against it, re-reading the
  * snapshot only when a new version has been published.
  *
  * Each [[filter]] call lists every file under the path through its Hadoop
  * filesystem, recursively (published `v=k` version directories count),
  * and compares (path, length, modification time) per file with the
  * listing the current deny set was loaded from. Only a different listing
  * reloads, through `ViewsPipeline.readSnapshotOrEmpty`: a missing path is
  * the empty bootstrap set, and a present but unreadable snapshot fails
  * the call (the batch retries; nothing is cached from a failed load). The
  * rows are collected and folded to the latest `expires_at` per non-null
  * IP on the driver, and that map is broadcast once, replacing and
  * destroying the previous broadcast. The snapshot is the collected
  * broadcast side of `filterSuspicious` anyway, and
  * `BatchViewsJob.compactSnapshot` keeps it that size.
  *
  * The filter itself runs no Spark job: a UDF over the broadcast map,
  * checked against the batch query's `current_timestamp()`, so the TTL is
  * still applied per batch. `filter(batch)` keeps exactly the rows of
  * `filterSuspicious(batch, readSnapshotOrEmpty(s, snapshotPath),
  * current_timestamp())`: a row is dropped iff its `user_ip` is non-null
  * and some snapshot row for that IP has `expires_at > asOf`.
  *
  * Not thread-safe: one follower per query, called from the query's
  * micro-batch thread.
  */
final class SnapshotFollower(snapshotPath: String) {
  private type Listing = Option[Seq[(String, Long, Long)]]

  /** The listing the deny set was loaded from, and its broadcast. */
  private var loaded: Option[(Listing, Broadcast[Map[String, Long]])] = None

  def filter(batch: DataFrame): DataFrame = {
    val denied = udf(new SnapshotFollower.Denied(denySet(batch.sparkSession)))
    batch.filter(!denied(col("user_ip"), unix_micros(current_timestamp())))
  }

  private def denySet(s: SparkSession): Broadcast[Map[String, Long]] = {
    val now = listing(s)
    loaded match {
      case Some((seen, deny)) if seen == now => deny
      case _ =>
        val expiresUs = ViewsPipeline.readSnapshotOrEmpty(s, snapshotPath)
          .select(col("user_ip"), unix_micros(col("expires_at")))
          .collect()
          .foldLeft(Map.empty[String, Long]) { (m, r) =>
            if (r.isNullAt(0) || r.isNullAt(1)) m
            else m.updated(r.getString(0), m.getOrElse(r.getString(0), Long.MinValue) max r.getLong(1))
          }
        val deny = s.sparkContext.broadcast(expiresUs)
        loaded.foreach(_._2.destroy())
        loaded = Some((now, deny))
        deny
    }
  }

  /** (path, length, modification time) of every file under the snapshot
    * path, sorted; None when the path does not exist. */
  private def listing(s: SparkSession): Listing = {
    val p = new Path(snapshotPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = fs.listFiles(p, true)
      val b = Vector.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(b.result().sorted)
    }
  }
}

object SnapshotFollower {

  /** True iff `ip` is non-null and its latest expiry is after `asOfUs`.
    * The map is taken from the broadcast once per task, not per row. */
  private final class Denied(deny: Broadcast[Map[String, Long]])
      extends ((String, Long) => Boolean) with Serializable {
    @transient private lazy val expiresUs = deny.value
    def apply(ip: String, asOfUs: Long): Boolean =
      ip != null && expiresUs.get(ip).exists(_ > asOfUs)
  }
}

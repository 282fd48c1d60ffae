package graft

import graft.operators.Curation
import org.apache.spark.sql.functions.col

/** Staged-checkpoint registry contract (VERDICT r13 #1): per-execution
  * eager localCheckpoints must be releasable DETERMINISTICALLY — the
  * r13 driver bench measured q145 at up to 8x its isolated time because
  * each rep's abandoned checkpoint blocks survived (GC-paced freeing)
  * until they evicted the family's own shared caches. These tests pin:
  *
  *  - the LogicalRDD plan-shape match inside Graft.stagedCheckpoint —
  *    if a Spark upgrade reshapes Dataset.localCheckpoint's result, the
  *    registry silently degrades to GC-paced freeing, and THIS spec is
  *    what turns that degradation red;
  *  - release actually evicts the storage blocks (not just the refs);
  *  - cache-scoped checkpoints (embedded under SessionCache entries)
  *    survive the per-rep release and die with clearCaches;
  *  - clusterLabels frees its dead per-round frames eagerly, keeping at
  *    most the converged frame's blocks alive;
  *  - the registry's application-end listener is installed once per
  *    session, not once per checkpoint after each release.
  */
class StagedCheckpointSpec extends SparkSpec {
  import spark.implicits._

  /** Ids of RDDs currently holding cached partitions. */
  private def cachedIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet

  test("stagedCheckpoint registers the checkpointed RDD and keeps the rows") {
    Graft.releaseStagedCheckpoints(spark) // clean slate
    val n0 = Graft.stagedCount(spark)
    val df = Graft.stagedCheckpoint(Seq(1, 2, 3).toDF("x"))
    // the LogicalRDD match fired — a miss here means the registry is
    // silently inert and the r13 churn class is back
    assert(Graft.stagedCount(spark) == n0 + 1,
      "stagedCheckpoint did not register: LogicalRDD plan match failed")
    assert(df.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
    Graft.releaseStagedCheckpoints(spark)
    assert(Graft.stagedCount(spark) == 0)
  }

  test("releaseStagedCheckpoints evicts the staged storage blocks") {
    Graft.releaseStagedCheckpoints(spark)
    val before = cachedIds
    Graft.stagedCheckpoint(spark.range(0, 10000).toDF("x"))
    val staged = cachedIds -- before
    assert(staged.nonEmpty, "eager localCheckpoint left no cached blocks")
    Graft.releaseStagedCheckpoints(spark)
    val after = cachedIds
    assert(staged.forall(id => !after.contains(id)),
      s"staged blocks survived release: ${staged.intersect(after)}")
  }

  test("cacheScopedCheckpoint survives per-rep release, dies with clearCaches") {
    Graft.clearCaches(spark)
    val before = cachedIds
    val df = Graft.cacheScopedCheckpoint(spark.range(0, 10000).toDF("x"))
    val staged = cachedIds -- before
    assert(staged.nonEmpty)
    // the per-rep release must NOT touch it: a SessionCache entry may
    // still read these blocks in a later rep
    Graft.releaseStagedCheckpoints(spark)
    assert(staged.subsetOf(cachedIds),
      "cache-scoped blocks were freed by the per-rep release")
    assert(df.count() == 10000)
    Graft.clearCaches(spark)
    val after = cachedIds
    assert(staged.forall(id => !after.contains(id)),
      s"cache-scoped blocks survived clearCaches: ${staged.intersect(after)}")
  }

  test("clusterLabels frees dead per-round frames eagerly") {
    Graft.clearCaches(spark)
    val before = cachedIds
    // chain 0-1-...-12: diameter forces many propagation rounds, each
    // of which checkpoints a labels frame that must die when the next
    // round's convergence check stops reading it
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Curation.clusterLabels(pairs)
    assert(labels.select(col("cluster_id")).distinct().count() == 1)
    val alive = (cachedIds -- before).size
    // edges + per-round frames all freed in-loop; only the converged
    // frame (plus at most the eviction-async straggler) may remain
    assert(alive <= 2,
      s"$alive checkpoint RDDs still cached after clusterLabels — dead rounds leaked")
    Graft.clearCaches(spark)
    assert((cachedIds -- before).isEmpty,
      "clusterLabels checkpoints survived clearCaches")
  }

  test("release rounds add at most one listener to the bus") {
    val sc = spark.sparkContext
    val before = org.apache.spark.ListenerBusDrain.listeners(sc)
    for (_ <- 1 to 3) {
      Graft.stagedCheckpoint(Seq(1, 2, 3).toDF("x"))
      Graft.cacheScopedCheckpoint(Seq(4, 5).toDF("x"))
      Graft.clearCaches(spark) // drains both queues
    }
    val added = org.apache.spark.ListenerBusDrain.listeners(sc) - before
    assert(added <= 1, s"$added listeners added by 3 checkpoint/release rounds")
  }
}

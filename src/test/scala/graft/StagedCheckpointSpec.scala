package graft

import graft.operators.Curation
import org.apache.spark.sql.functions.col

/** Staged-checkpoint registry contract: per-execution eager
  * localCheckpoints must be releasable deterministically, because
  * abandoned checkpoint blocks survive (GC-paced freeing) until they
  * evict the family's own shared caches (SCALE.md §6). These tests pin:
  *
  *  - the LogicalRDD plan-shape match inside Graft.stagedCheckpoint —
  *    if a Spark upgrade reshapes Dataset.localCheckpoint's result, the
  *    registry silently degrades to GC-paced freeing, and THIS spec is
  *    what turns that degradation red;
  *  - release actually evicts the storage blocks (not just the refs);
  *  - cache-scoped checkpoints (embedded under SessionCache entries)
  *    survive the per-rep release and die with clearCaches, and keep
  *    the partitioning they were staged with;
  *  - Graft.iterate frees each dead round eagerly, keeping at most the
  *    last round's blocks alive (clusterLabels' converged frame, or the
  *    last round of a loop that fails loudly at its round cap);
  *  - a fixed-round loop stages only its loop-carried state: q143's
  *    staged rounds hold the k = 4 centroid rows, never the assignment;
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
    // silently inert and abandoned checkpoint blocks pile up again
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

  test("cacheScopedCheckpoint keeps the partitioning the frame was staged with") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    Graft.clearCaches(spark)
    val leaf = Graft.cacheScopedCheckpoint(
      spark.range(0, 10000).select((col("id") % 500).as("k")).repartition(8, col("k")))
    leaf.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 8 && h.references.map(_.name).toSet == Set("k"))
      case other => fail(s"staged leaf lost its hash partitioning: $other")
    }
    // a shuffled hash join on the key moves only the other side
    val j = leaf.join(spark.range(0, 500).toDF("k").hint("shuffle_hash"), "k")
    assert(j.collect().length == 10000)
    val finalPlan = j.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).size == 1, finalPlan)
    Graft.clearCaches(spark)
  }

  test("clusterLabels frees dead per-round frames eagerly") {
    Graft.clearCaches(spark)
    val before = cachedIds
    // chain 0-1-...-12: diameter forces many propagation rounds, each
    // of which checkpoints a labels frame that must die once the next
    // round is staged
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
    // a loop that never converges frees its dead rounds the same way and
    // fails loudly at its cap, naming itself and the round count
    val err = intercept[IllegalStateException](
      Graft.iterate("spin", spark.range(0, 1000).toDF("x"), maxRounds = 3,
          stage = Graft.cacheScopedCheckpoint, converged = Some(_ => false))(
        _.select((col("x") + 1).as("x"))))
    assert(err.getMessage.contains("spin") && err.getMessage.contains("3 rounds"),
      err.getMessage)
    val spun = (cachedIds -- before).size
    assert(spun <= 2, s"$spun checkpoint RDDs still cached after 3 rounds — dead rounds leaked")
    Graft.clearCaches(spark)
    assert((cachedIds -- before).isEmpty, "iterate's rounds survived clearCaches")
  }

  test("q143 stages only the k centroid rows, never a corpus-sized assignment") {
    Graft.clearCaches(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val q143 = SparkEntry.all.find(_.name == "q143_kmeans_lloyd").get
    q143.run(spark, TestSession.sfDir)
    val rows = sc.getPersistentRDDs.toMap.collect {
      case (id, rdd) if !before(id) => id -> rdd.count()
    }
    assert(rows.nonEmpty, "q143 staged no round")
    assert(rows.values.forall(_ <= 4),
      s"q143 left checkpoints larger than its 4 centroids persisted: $rows")
    Graft.releaseStagedCheckpoints(spark)
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

package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Restores the output partitioning of an eager local checkpoint staged
  * under adaptive execution. It sits in Spark's package because
  * `Dataset.ofRows` is private to it; `graft.Graft.cacheScopedCheckpoint`
  * is its one caller. */
object StagedLeaf {

  /** `leaf`, the eager local checkpoint of `staged`, with the output
    * partitioning of `staged`'s final physical plan.
    *
    * `Dataset.localCheckpoint` records the partitioning of the executed
    * plan, and under adaptive execution that is the adaptive root, which
    * always reports UnknownPartitioning. A frame staged by
    * `repartition(n, k)` then reads as unpartitioned, and every join on
    * `k` shuffles it again, where a `.persist`ed frame keeps its
    * partitioning. The checkpointed RDD is the final plan's RDD
    * partition for partition, so it has that plan's partitioning (the
    * first leaf of a collection, as Spark's own checkpoint takes it). It
    * is taken only once the plan is final and only when the partition
    * counts agree; otherwise `leaf` is returned as it is. */
  def withFinalPartitioning(staged: DataFrame, leaf: DataFrame): DataFrame =
    (staged.queryExecution.executedPlan, leaf.queryExecution.logical) match {
      case (a: AdaptiveSparkPlanExec, l: LogicalRDD)
          if a.isFinalPlan && l.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
        firstLeaf(a.executedPlan.outputPartitioning) match {
          case p if p.isInstanceOf[UnknownPartitioning] ||
              p.numPartitions != l.rdd.getNumPartitions => leaf
          case p =>
            val args = l.productIterator.map(_.asInstanceOf[AnyRef]).toArray
            args(l.productElementNames.indexOf("outputPartitioning")) = p
            classic.Dataset.ofRows(
              leaf.sparkSession.asInstanceOf[classic.SparkSession], l.makeCopy(args))
        }
      case _ => leaf
    }

  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}

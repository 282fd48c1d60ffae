package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Graft.clearCaches contract (SCALE.md §6): drops every session-scoped
  * helper cache AND abandoned per-run cached frames, consumers rebuild
  * correctly, and the hook is idempotent. This is the guard for the
  * r11 incident where never-unpersisted caches accumulated across a
  * 202-query bench until storage eviction recomputed q130's lineage
  * 10× over its isolated time.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val dir = TestSession.sfDir

  private def query(name: String) = SparkEntry.all.find(_.name == name).get

  /** Ids of RDDs currently holding cached partitions. */
  private def cachedIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet

  /** Id of the RDD behind a memo staged as a checkpoint leaf. */
  private def leafRdd(df: DataFrame): Int = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"memo is not a checkpoint leaf: ${other.nodeName}")
  }

  test("clearCaches unpersists memoized frames; consumers rebuild and agree") {
    Graft.clearCaches(spark)
    assert(SessionCache.entries(spark) == 0)
    val q130 = query("q130_triangle_count")
    val r1 = q130.run(spark, dir).collect().map(_.toString).sorted
    val graph = SessionCache.entries(spark)
    assert(graph > 0)
    query("q131_pagerank").run(spark, dir).collect()
    assert(SessionCache.entries(spark) == graph + 2,
      "q131 memoizes its src-staged edges and the scalar node count")
    query("q136_bpe_encode").run(spark, dir).collect()
    assert(SessionCache.entries(spark) == graph + 3, "q136 memoizes the learned merges")
    val before = operators.Curation.coPurchaseEdges(spark, dir)
    // memoized: same instance on re-request
    assert(operators.Curation.coPurchaseEdges(spark, dir) eq before)
    assert(cachedIds.contains(leafRdd(before)))

    Graft.clearCaches(spark)
    assert(SessionCache.entries(spark) == 0, "clearCaches left memoized values behind")

    // the old frame no longer occupies storage, and the memo is gone —
    // the next consumer rebuilds (new instance) and stages new blocks
    assert(!cachedIds.contains(leafRdd(before)))
    val after = operators.Curation.coPurchaseEdges(spark, dir)
    assert(!(after eq before))
    assert(leafRdd(after) != leafRdd(before) && cachedIds.contains(leafRdd(after)))

    // correctness is cache-invariant: q130 agrees before/after the drop
    val r2 = q130.run(spark, dir).collect().map(_.toString).sorted
    assert(r2.sameElements(r1), "q130 result changed across clearCaches")
  }

  test("clearCaches sweeps abandoned per-run cached frames") {
    // models the generic abandoned-.cache() pattern: a query caches a
    // frame and returns without unpersisting (no registered query does
    // this today — q176's greedy chain, the last example, was rewritten
    // cache-free); the CacheManager sweep reclaims any future offender
    import spark.implicits._
    val leaked = Seq(1, 2, 3).toDF("x").cache()
    leaked.count()
    assert(leaked.storageLevel.useMemory)
    Graft.clearCaches(spark)
    assert(leaked.storageLevel == StorageLevel.NONE)
  }

  /** Same-dir rewrites: (query, table, a predicate that keeps about half
    * of the table, the dir-keyed memo the query reads). A memo that
    * outlived clearCaches would answer the new data from the old. */
  private val rewrites: Seq[(String, String, String, (SparkSession, String) => Any)] = Seq(
    // the graph loses about half its nodes: PageRank's node count
    ("q131_pagerank", "lineitem", "l_partkey % 2 = 0",
      operators.Curation.coPurchaseNodeCount(_, _)),
    // the first half of the corpus learns a different tenth merge
    ("q136_bpe_encode", "documents", "doc_id < 250",
      operators.BpeTrainer.trainCached(_, _, 10)))

  test("clearCaches drops dir-keyed memos: same-dir rewrites match a new session") {
    val tmp = Files.createTempDirectory("graft-rewrite")
    try {
      Tables.names.foreach { n =>
        Files.copy(Paths.get(dir, s"$n.parquet"), tmp.resolve(s"$n.parquet"))
      }
      val d = tmp.toString
      def rows(s: SparkSession) = rewrites.map { case (q, _, _, _) =>
        query(q).run(s, d).collect().map(_.toString).sorted.toSeq
      }
      val before = rows(spark)
      val memosBefore = rewrites.map(_._4(spark, d))
      // same dir, new data
      rewrites.foreach { case (_, t, keep, _) =>
        val half = tmp.resolve(s"$t-half.parquet")
        Tables(spark, d, t).where(keep).write.parquet(half.toString)
        Files.delete(tmp.resolve(s"$t.parquet"))
        Files.move(half, tmp.resolve(s"$t.parquet"))
      }
      Graft.clearCaches(spark)
      val after = rows(spark)
      val fresh = spark.newSession()
      val (expected, memosFresh) =
        try (rows(fresh), rewrites.map(_._4(fresh, d)))
        finally Graft.clearCaches(fresh)
      rewrites.indices.foreach { i =>
        val q = rewrites(i)._1
        assert(memosFresh(i) != memosBefore(i), s"the rewrite did not change $q's memo")
        assert(after(i) != before(i), s"the rewrite did not change $q's answer")
        assert(after(i) == expected(i), s"$q served a memo of the old data")
      }
    } finally {
      Graft.clearCaches(spark)
      FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("clearCaches is idempotent and safe on an empty cache population") {
    Graft.clearCaches(spark)
    Graft.clearCaches(spark) // second call: nothing to drop, no throw
  }
}

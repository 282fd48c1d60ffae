package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
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

  test("clearCaches unpersists memoized frames; consumers rebuild and agree") {
    val q130 = SparkEntry.all.find(_.name == "q130_triangle_count").get
    val r1 = q130.run(spark, dir).collect().map(_.toString).sorted
    val before = operators.Curation.coPurchaseEdges(spark, dir)
    // memoized: same instance on re-request
    assert(operators.Curation.coPurchaseEdges(spark, dir) eq before)
    assert(before.storageLevel != StorageLevel.NONE)

    Graft.clearCaches(spark)

    // the old frame no longer occupies storage, and the memo is gone —
    // the next consumer rebuilds (new instance) and re-persists
    assert(before.storageLevel == StorageLevel.NONE)
    val after = operators.Curation.coPurchaseEdges(spark, dir)
    assert(!(after eq before))
    assert(after.storageLevel != StorageLevel.NONE)

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

  test("clearCaches drops PageRank's node count: q131 over rewritten data matches a fresh session") {
    val q131 = SparkEntry.all.find(_.name == "q131_pagerank").get
    val tmp = Files.createTempDirectory("graft-rewrite")
    try {
      Tables.names.foreach { n =>
        Files.copy(Paths.get(dir, s"$n.parquet"), tmp.resolve(s"$n.parquet"))
      }
      val d = tmp.toString
      def rows(s: SparkSession) = q131.run(s, d).collect().map(_.toString).sorted.toSeq
      val before = rows(spark)
      val nBefore = operators.Curation.coPurchaseNodeCount(spark, d)
      // same dir, new data: the lines of every other part, so the graph
      // loses about half its nodes
      val half = tmp.resolve("lineitem-half.parquet")
      Tables.lineitem(spark, d).where("l_partkey % 2 = 0").write.parquet(half.toString)
      Files.delete(tmp.resolve("lineitem.parquet"))
      Files.move(half, tmp.resolve("lineitem.parquet"))
      Graft.clearCaches(spark)
      val after = rows(spark)
      assert(after != before, "the rewrite did not change q131's answer")
      val fresh = spark.newSession()
      try {
        assert(operators.Curation.coPurchaseNodeCount(fresh, d) != nBefore)
        assert(after == rows(fresh), "q131 served a stale node count")
      } finally Graft.clearCaches(fresh)
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

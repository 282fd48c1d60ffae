package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's canonical config.
  *
  * Design notes (SURVEY.md §4): the reference delegates optimization to
  * managed engines (Athena/EMR Spark); we delegate to Catalyst + AQE and
  * pin only what matters for determinism and local-mode scale:
  *   - UTC session TZ (reference timestamps are second-precision UTC,
  *     reference generator.py:42)
  *   - AQE on: runtime partition coalescing + skew-join splitting (bot
  *     IPs are hot keys — reference generator.py:147-154)
  *   - shuffle.partitions sized for local[32]; on a real cluster this
  *     would be ~2-3x total cores, and AQE coalesces down.
  */
object GraftSession {

  /** Capacity of Spark's generated-class cache, one LRU per JVM keyed by
    * the generated source. Each whole-stage plan compiles its classes
    * with Janino once per distinct source, then reuses them from this
    * cache. A cache smaller than the set of classes a workload cycles
    * through evicts each class just before its next use, so every warm
    * pass recompiles them, and a stage's sibling tasks wait on the
    * compile lock. At the stock 100, each warm lake-derived pass (137
    * distinct classes over 5 queries) recompiled 104 of them; at this
    * capacity a warm pass compiles none, and the whole run compiles 176.
    * Sized as the smallest power of two at least 4x the largest working
    * set that repeats (the cache is split into 4 LRU segments, so a
    * working set must fit each quarter with room to spare). An entry
    * holds about 21-39 KB of heap and 4-11 KB of metaspace, so a full
    * cache of join and aggregate classes costs about 51 MB. SCALE.md §6
    * "Generated-code cache working set" has the counts and the A/B.
    *
    * A static conf: it is read once, when the JVM first generates code,
    * so it only works from the builder of the JVM's first session. */
  val CodegenCacheEntries = 1024

  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // NOTE (r16, measured and rejected): lowering
      // spark.sql.adaptive.coalescePartitions.minPartitionSize below
      // its 1 MB default looked attractive — the stock floor coalesces
      // every small CPU-dense reduce stage to 1-3 tasks (q67's 5M-pair
      // aggregate: 1.73 s at 1 MB vs 1.00 s at 64 KB, isolated) — but
      // the full-suite A/B at 64 KB was a broad NET LOSS: 61 untouched
      // queries slower by >0.2 s (per-stage task fan-out overhead
      // across ~10 AQE stages x 870 query-runs) and two catastrophic
      // (q282 1.1->18.2 s, q63 0.8->15.6 s — BroadcastNestedLoopJoin
      // streams pay per-partition passes over the broadcast side).
      // Evidence: OPTIMIZATION_r16.md §config. The default stays.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate (collect_list/collect_set paths) falls back
      // to SORT-based aggregation after this many distinct keys per
      // task — and the stock default (128) makes essentially every
      // grouped collect sort its whole input. The SCALE.md §8 sf1 A/B
      // measured the cost: q130's adjacency build spilled ~16 GB
      // through that fallback sort alone. 128Ki entries × a bounded
      // per-group payload (this engine's collects are O(√m) adjacency
      // arrays or per-order part lists) ≈ tens of MB per task — well
      // inside the executor budget, and the fallback still engages,
      // gracefully, if a pathological partition exceeds it.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (128 * 1024).toString)
      // A file-source micro-batch resolves each of its files as a root
      // path, and above this many paths (stock 32) Spark lists them with a
      // parallel job of one task per file. In local mode that job runs in
      // the driver's JVM anyway, so listing on the driver drops only its
      // scheduling: 40 local paths 259 -> 25 ms, 100 paths 462 -> 25 ms
      // (4-cpu host, SCALE.md §6 "Per-micro-batch fixed cost"). Lake
      // tables are one root path each, without subdirectories, so their
      // listing is unchanged.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      // local files through both Hadoop APIs without a forked chmod or
      // readlink per create, mkdir and rename (sources/LocalFs.scala)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.ForkFreeLocalFs].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def create(master: String = "local[*]", appName: String = "graft"): SparkSession = {
    val spark = builder(master, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

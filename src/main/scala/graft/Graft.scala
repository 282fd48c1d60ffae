package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-level lifecycle hooks.
  *
  * The operator layer memoizes expensive shared frames per (session,
  * sfDir) — LSH shingles/signatures/candidates/pairs (Dedup), cluster
  * labels (Curation), the co-purchase edge/degree/orientation trio
  * (Curation, q130/q131), and the exact/codegen top-k references
  * (Similarity, q31/q34/q90/q109/q110). Each cache is the local-mode
  * analog of "stage the derived table once, fan out" and is individually
  * correct — but nothing ever unpersisted them, so a long multi-query
  * run (the 202-query bench) accumulated them all in one 8 GiB storage
  * pool until eviction forced recomputation of exactly the lineages the
  * caches were built to protect (r11: q130 ran 10× its isolated time
  * mid-suite). See SCALE.md §6 for the incident and the detection
  * signature.
  */
object Graft {

  /** Cache FAMILIES: registered queries that co-consume one session-
    * scoped helper artifact (SCALE.md branch-reuse rule: clear between
    * families, never between co-consuming queries). Bench and Verify
    * order family members adjacently and call [[clearCaches]] only at
    * family boundaries, so the artifact is staged once (in the first
    * member's unmeasured warm-up) and every member reuses it — exactly
    * how a production session amortizes a staged derived table. A query
    * outside every family is its own singleton boundary. r12 measured
    * the alternative: per-query clears made q197 rebuild q68's cluster
    * labels (0.15→0.80 s) and q31 rebuild the exact top-k its siblings
    * share (0.09→0.55 s).
    *
    * Membership list = consumers of each SessionCache:
    *  - knn: Similarity.exactCache/fastCache (exact + codegen top-k) +
    *    pqCache (the ADC-scored PQ frame q109/q110 both cut)
    *  - lsh: Dedup shingle/sig/cand/pair caches + Curation clusterCache
    *  - simhash: Dedup.simhashCache
    *  - graph: Curation edge/deg/orient/adj/srcEdge caches + the
    *    scalar nodeCountCache (PageRank's node count)
    *  - semdedup: Similarity.semAssignCache
    *  - perceptron: TrainingOps.perceptronScoreCache (q246's trained
    *    margins, read by the ML-evaluation tier)
    *  - bigram: TrainingOps.bigramCache (the per-doc bigram count
    *    table the whole n-gram model tier fits on)
    *  - span8: Dedup.span8Cache (the distinct 8-token shingle-host
    *    table q168's novelty and q200's datasheet both roll up;
    *    q200 left the simhash family — it never consumed
    *    simhashCache)
    *  - bpe: BpeTrainer.cache (the learned merges every encode-side
    *    query applies) */
  val cacheFamilies: Map[String, Seq[String]] = Map(
    "knn" -> Seq("q109_knn_pq", "q110_knn_pq_rerank", "q31_knn_bruteforce",
      "q34_knn_codegen", "q90_knn_ivf_probe", "q231_matryoshka_recall"),
    "lsh" -> Seq("q145_containment", "q171_minhash_calibration",
      "q197_leakage_free_split", "q249_dedup_yield", "q28_lsh_candidates",
      "q29_neardup_jaccard", "q63_curation_pipeline", "q68_dup_clusters"),
    "simhash" -> Seq("q30_simhash", "q77_simhash_hamming"),
    "span8" -> Seq("q168_shingle_novelty", "q200_source_datasheet"),
    "graph" -> Seq("q130_triangle_count", "q131_pagerank",
      "q223_link_prediction", "q251_degree_powerlaw"),
    "semdedup" -> Seq("q205_semdedup", "q218_prototype_pruning",
      "q232_clustering_eval"),
    "perceptron" -> Seq("q246_quality_classifier", "q284_roc_auc",
      "q285_reliability", "q286_pr_curve"),
    "bigram" -> Seq("q135_bigram_lm_score", "q248_kneser_ney",
      "q203_importance_resampling", "q204_perplexity_buckets"),
    "bpe" -> Seq("q136_bpe_encode", "q140_bpe_vocab_freq",
      "q193_token_rate_by_source", "q210_tokenizer_fertility"))

  /** Family id of a query — its own name when it belongs to none. */
  private val familyOf: Map[String, String] =
    cacheFamilies.flatMap { case (f, qs) => qs.map(_ -> f) }
  def family(name: String): String = familyOf.getOrElse(name, name)

  /** Global ordering that keeps family members contiguous: every member
    * sorts at the position of its family's alphabetically-first member,
    * then by name within the family. */
  def benchSortKey(name: String): (String, String) = {
    val anchor = familyOf.get(name)
      .map(f => cacheFamilies(f).min).getOrElse(name)
    (anchor, name)
  }

  /** Drop every [[SessionCache]] value for `s` (frames unpersisted,
    * scalars and driver-side models forgotten), then sweep any remaining
    * cached relations out of the session's CacheManager (catches per-run
    * `.cache()` frames a query built and abandoned — no registered query
    * does this today; the sweep is the backstop for any future
    * offender). Idempotent and cheap when nothing is cached; the next
    * consumer rebuilds lazily.
    *
    * Call between independent units of work that should not share
    * storage budget — Bench and Verify call it at [[cacheFamilies]]
    * boundaries, so a family's measured reps see exactly its own
    * working set and nothing else's. Do NOT call mid-family when reuse
    * is intended (q130→q131 would rebuild their shared edge caches).
    *
    * Scope caveat: the final `catalog.clearCache()` sweep clears the
    * SharedState-level CacheManager, which is CONTEXT-wide — it drops
    * cached relations of every session sharing the SparkContext, not
    * just `s`. Harmless for the single-session Bench/Verify drivers;
    * a future multi-session caller who wants per-session scoping must
    * sweep only the relations planned by `s` instead. */
  def clearCaches(s: SparkSession): Unit = {
    SessionCache.clearAll(s)
    try s.catalog.clearCache()
    catch { case _: Throwable => () } // session may be stopping
    // the SessionCache frames that embedded checkpoints are gone now, so
    // the cache-scoped blocks can't be recomputed-through anymore
    releaseStagedCheckpoints(s)
    drain(cacheStaged, s)
  }

  // ------------------------------------------------------------------
  // Staged-checkpoint registry.
  //
  // `Dataset.localCheckpoint(eager=true)` persists the materialized rows
  // as storage blocks whose only release path, absent help, is
  // GC-then-ContextCleaner: `Dataset.unpersist` does not reach them, and
  // the blocks stay pinned until the JVM happens to collect the dropped
  // RDD reference. In a long multi-query run that debris evicts the
  // family caches the next reps depend on (SCALE.md §6, "Staged
  // checkpoints and the fixpoint loop").
  //
  // The registry makes release deterministic: [[stagedCheckpoint]]
  // checkpoints eagerly and records the checkpointed RDD, so
  // [[releaseStagedCheckpoints]] (called by Bench after every rep, by
  // Verify after every query, and by [[clearCaches]]) unpersists the
  // blocks once the execution that staged them has consumed them. A
  // checkpoint whose frame outlives the execution, i.e. one embedded
  // under a SessionCache entry, goes through [[cacheScopedCheckpoint]]
  // instead, which defers release to [[clearCaches]]: releasing it
  // per-rep would truncate the lineage under a live cached plan, and an
  // eviction-triggered recompute would then throw "checkpoint block not
  // found".
  // Strong references by design: a driver other than Bench/Verify (say
  // a long-running ingestion loop) calls [[releaseStagedCheckpoints]]
  // or [[clearCaches]] between units of work, and a missed release
  // shows as monotone storage growth (StorageHygieneSpec) instead of a
  // GC-timing heisenbug. A stopped session cannot rely on that
  // discipline, so each session's first registration installs one
  // onApplicationEnd listener that drops the session's queues.
  // `watched`, not the queues, records that it is installed: a drain
  // removes the queue, and a listener per re-created queue would grow
  // the bus by one per release.
  private val execStaged = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.Queue[RDD[_]]]()
  private val cacheStaged = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.Queue[RDD[_]]]()
  private val watched = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  private def watch(s: SparkSession): Unit =
    if (watched.add(s)) s.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          execStaged.remove(s)
          cacheStaged.remove(s)
          watched.remove(s)
        }
      })

  private def register(
      m: java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.Queue[RDD[_]]],
      df: DataFrame): DataFrame = {
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        watch(df.sparkSession)
        m.computeIfAbsent(df.sparkSession,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]).add(l.rdd)
      // a future Spark that reshapes the checkpoint plan degrades to the
      // old GC-paced freeing; StagedCheckpointSpec pins the match so the
      // degradation cannot land silently
      case _ => ()
    }
    df
  }

  /** Eager local checkpoint whose storage blocks are released
    * DETERMINISTICALLY at the next [[releaseStagedCheckpoints]] — the
    * required form for every per-execution "materialize once, fan out"
    * frame in the operator layer. The frame must not escape the
    * execution that created it (never store it in a SessionCache). */
  private[graft] def stagedCheckpoint(df: DataFrame): DataFrame =
    register(execStaged, df.localCheckpoint(true))

  /** Eager local checkpoint that a SessionCache entry is allowed to
    * reference: released only by [[clearCaches]], together with the
    * owning cache entry. The leaf keeps the output partitioning the
    * frame was staged with (a `repartition(n, k)` stays partitioned on
    * `k`), as the `.persist`ed frame it replaces would, so consumers'
    * joins on that key do not shuffle it again. */
  private[graft] def cacheScopedCheckpoint(df: DataFrame): DataFrame =
    register(cacheStaged, org.apache.spark.sql.execution.StagedLeaf
      .withFinalPartitioning(df, df.localCheckpoint(true)))

  /** Eagerly free ONE checkpointed frame's storage blocks before any
    * registry boundary. Its per-round caller is [[iterate]], which frees
    * round k-1 once round k is staged. Harmless on non-checkpoint frames
    * and on frames a registry later re-unpersists. The caller owns the
    * proof: the frame must never be read again (its lineage is
    * truncated, so a recompute would throw). */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        quietRddLogs {
          try l.rdd.unpersist(blocking = false)
          catch { case _: Throwable => () }
        }
      case _ => ()
    }

  /** The one fixpoint loop of the operator layer. Round k is
    * `step(round k-1)`, round 0 is `init`, and the loop owns `init`:
    * it is released after round 1 if it is a checkpoint. Only the
    * rounds a later round or the convergence test reads are staged
    * (through `stage`), and round k-1 is released as soon as round k
    * is staged, so at most one round's blocks stay alive.
    *
    * Fixed-round loop (`converged = None`): rounds 1..n-1 are staged
    * and round n is returned unstaged, a lazy plan over round n-1, so
    * plan guards still see the last round's operators.
    *
    * Convergence loop: every round is staged, and the first round for
    * which `converged` holds is returned. A loop that has not converged
    * after `maxRounds` throws: a silent cap would return plausible but
    * wrong state. */
  private[graft] def iterate(name: String, init: DataFrame, maxRounds: Int,
      stage: DataFrame => DataFrame = stagedCheckpoint,
      converged: Option[DataFrame => Boolean] = None)(
      step: DataFrame => DataFrame): DataFrame = {
    require(maxRounds >= 1, s"$name: maxRounds must be at least 1")
    // round k is staged eagerly, so round k-1 is dead once it returns
    def advance(prev: DataFrame): DataFrame =
      try stage(step(prev)) finally releaseCheckpoint(prev)
    converged match {
      case None => step((1 until maxRounds).foldLeft(init)((s, _) => advance(s)))
      case Some(done) =>
        // lazy: round k is staged only once round k-1 failed the test
        Iterator.iterate(init)(advance).slice(1, maxRounds + 1).zipWithIndex
          .find { case (s, _) => done(s) } match {
          case Some((s, k)) =>
            System.err.println(s"[$name] converged after ${k + 1} rounds")
            s
          case None => throw new IllegalStateException(
            s"$name did not converge within $maxRounds rounds")
        }
    }
  }

  /** Number of exec-scoped frames currently staged for `s` (spec hook). */
  private[graft] def stagedCount(s: SparkSession): Int = {
    val q = execStaged.get(s)
    if (q == null) 0 else q.size
  }

  /** Unpersisting a locally-checkpointed RDD logs a benign "lineage has
    * been truncated" WARN from the RDD's own class logger. Muting the
    * whole org.apache.spark.rdd package for the life of a run would
    * also hide REAL warnings (double-persist, cleanup anomalies), so
    * the suppression is scoped to exactly the unpersist calls the
    * registry itself makes: level down, release, level restored. */
  private def quietRddLogs[A](body: => A): A = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val logger = "org.apache.spark.rdd"
    val prev = LogManager.getLogger(logger).getLevel
    Configurator.setLevel(logger, Level.ERROR)
    try body
    finally Configurator.setLevel(logger, prev)
  }

  private def drain(
      m: java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.Queue[RDD[_]]],
      s: SparkSession): Unit = {
    val q = m.remove(s)
    if (q != null && !q.isEmpty) quietRddLogs {
      var r = q.poll()
      while (r != null) {
        // blocking: the point is that the NEXT rep starts with the pool
        // actually empty, not with removals racing its reads
        try r.unpersist(blocking = true)
        catch { case _: Throwable => () } // session may be stopping
        r = q.poll()
      }
    }
  }

  /** Unpersist every exec-scoped staged checkpoint for `s`. Safe (and
    * cheap) to call whenever no execution is in flight; Bench calls it
    * after every rep, Verify after every query. */
  def releaseStagedCheckpoints(s: SparkSession): Unit = drain(execStaged, s)
}

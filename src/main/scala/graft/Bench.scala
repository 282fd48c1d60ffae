package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Noise discipline: single cold runs on a shared box swing ~2x with
  * machine load (r4/r5 showed 9-15x swings on untouched queries), which
  * makes round-over-round deltas unattributable. So each query runs
  * WARMUPS unmeasured reps (JIT/codegen/scan caches) followed by REPS
  * measured reps, and the reported per-query time is the MEDIAN of the
  * measured reps — robust to a single loaded-machine outlier. The
  * stdout total is the sum of medians; every raw rep is preserved in
  * bench_detail.json for audit. Suspect queries — high spread OR a
  * median 3x past the previous run's / this run's own floor, plus the
  * suite's top-5 expensive medians — are re-run isolated at suite end,
  * in a FRESH FORKED JVM (the long-lived suite JVM's heap
  * debris pollutes even the re-measurement: sf10 read q130 643 s
  * in-suite, 292 s same-JVM-isolated, 109 s fresh-JVM), and carry
  * `sec_isolated` + `iso_mode` in-artifact (see the adjudication
  * comment below). Every artifact names the git SHA it measured.
  */
object Bench {

  /** Registry git SHA (VERDICT r14 #7): resolved from .git by hand (no
    * exec, no library) so every artifact names the exact tree it
    * measured — r14's q131 adjudication had to match driver and builder
    * artifacts by timestamp inference. Returns "unknown" outside a git
    * checkout. */
  def gitHead(repoDir: String = "."): String = {
    import java.nio.file.{Files, Paths}
    // A detached HEAD is exactly 40 hex chars; anything else that isn't
    // a ref (e.g. "gitdir: /path" when .git is a worktree/submodule
    // POINTER FILE, where the readString above returns the pointer, not
    // a SHA) must stamp "unknown" rather than 40 bytes of a path
    // (ADVICE r15).
    def shaOrUnknown(s: String): String =
      if (s.matches("[0-9a-f]{40}")) s else "unknown"
    try {
      val head = Files.readString(Paths.get(repoDir, ".git", "HEAD")).trim
      if (!head.startsWith("ref: ")) shaOrUnknown(head.take(40))
      else {
        val ref = head.stripPrefix("ref: ").trim
        val refFile = Paths.get(repoDir, ".git", ref)
        if (Files.exists(refFile))
          shaOrUnknown(Files.readString(refFile).trim.take(40))
        else { // packed refs
          val packed = Paths.get(repoDir, ".git", "packed-refs")
          if (!Files.exists(packed)) "unknown"
          else Files.readAllLines(packed).toArray(Array.empty[String])
            .find(l => !l.startsWith("#") && l.endsWith(" " + ref))
            .map(l => shaOrUnknown(l.split(' ')(0).take(40)))
            .getOrElse("unknown")
        }
      }
    } catch { case _: Throwable => "unknown" }
  }

  /** JSON string literal of `s`: escapes backslash, quote and ALL
    * control chars (< 0x20) — a tab or CR in a query's SQL would
    * otherwise make a reader's json.load fail. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Previous full-run per-query medians, for the uniformly-slow
    * adjudication trigger (VERDICT r14 #1): parsed from the committed
    * bench_detail.json at HEAD (the prior round's full run), or from
    * SPARK_GRAFT_BENCH_PREV if set. A missing/unparseable file yields
    * an empty map — the trigger simply has one fewer reference point —
    * and so does a file measured at a DIFFERENT scale factor (an sf0.01
    * iteration detail must not make every sf0.1 median read "3x slow"
    * and trigger a suite-wide re-run storm). Jackson rides Spark's own
    * classpath. */
  def prevMedians(path: String, sfDir: String): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.readTree(txt)
      val qs = root.get("queries")
      val sfName = sfDir.split('/').last
      val prevSf = Option(root.get("sf")).map(_.asText("")).getOrElse("")
      if (qs == null || !qs.isObject || prevSf.split('/').last != sfName)
        Map.empty
      else {
        val it = qs.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          val sec = e.getValue.get("sec")
          if (sec != null && sec.isNumber) b += e.getKey -> sec.asDouble()
        }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }

  /** The fork-isolated adjudication command line: same JVM binary, same
    * JVM args (add-opens, -Xmx, -D props), same classpath, fresh
    * process. Pure so the construction is spec-checkable without
    * actually paying a JVM start. */
  def forkIsoCommand(javaHome: String, jvmArgs: Seq[String],
                     classpath: String): Seq[String] =
    Seq(javaHome + "/bin/java") ++ jvmArgs ++
      Seq("-cp", classpath, "graft.Bench")

  /** Wall-clock budget for one fork-isolated child, seconds: session
    * startup slack plus the offender's own in-suite cost replayed
    * through warmups+reps, with 10x headroom for the very noise being
    * adjudicated. A child past its budget is killed and the in-process
    * fallback measures instead — a hung fork must never hang the
    * suite. */
  def forkIsoBudgetSec(inSuiteSec: Double, warmups: Int, reps: Int): Long =
    120L + (10.0 * inSuiteSec * (warmups + reps)).ceil.toLong

  /** Parse a CHILD bench run's detail file for one query's median —
    * only if the child actually measured it (a failed child rep's wall
    * time must never publish as "fast when isolated"; that would invert
    * the adjudication, same rule as the in-process -1.0 sentinel). */
  def childIsoMedian(detailPath: String, name: String): Option[Double] =
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(detailPath))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val q = m.readTree(txt).get("queries").get(name)
      val sec = q.get("sec")
      if (q.get("measured").asBoolean(false) && sec != null && sec.isNumber)
        Some(sec.asDouble())
      else None
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the canonical engine config (GraftSession) + bench-local override
    // of the shuffle partition count to the measured core count
    val spark = GraftSession.builder(s"local[$cpus]", "graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // (the benign unpersist "lineage truncated" WARNs are suppressed
    // ONLY around the registry's own release calls — Graft.quietRddLogs
    // — so real org.apache.spark.rdd warnings stay visible here)

    // noop sink, not count(): count() lets ColumnPruning drop final
    // projections, so projection-only queries would time only the scan
    def exec(d: QueryDef): Unit =
      d.run(spark, sfDir).write.format("noop").mode("overwrite").save()

    // spill accounting (SCALE.md §8): sum of memory+disk bytes spilled
    // across task ends, plus the jobs started and tasks ended, each
    // snapshotted around a query's measured reps. Listener delivery is
    // async, so attribution is best-effort (a job or task event
    // delivered after the snapshot lands on the next query) — at bench
    // scale the drift is a rounding error, and a query that flips from
    // in-memory to spill paths at a bigger SF shows up unmistakably.
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val jobsStarted = new java.util.concurrent.atomic.AtomicLong(0)
    val tasksEnded = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobsStarted.incrementAndGet()
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasksEnded.incrementAndGet()
          val m = e.taskMetrics
          if (m != null)
            spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      })

    // generated classes compiled so far in this JVM (cache misses of
    // Spark's codegen cache), snapshotted around each query's measured
    // reps: a warm rep that compiles runs generated code that changes per
    // execution, or a working set larger than the cache (SCALE.md §6
    // "Generated-code cache working set")
    def codegenCompiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // SPARK_GRAFT_BENCH_ONLY=q130_triangle_count,q131_pagerank — restrict
    // to a comma-separated subset for targeted perf iteration; the full
    // run (no filter) is the round artifact.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // cache-family members sort contiguously (Graft.benchSortKey) so
    // their shared staged artifact is built once and reused; everything
    // else stays alphabetical
    val ordered = SparkEntry.all.sortBy(d => Graft.benchSortKey(d.name))
      .filter(d => only.forall(_.contains(d.name)))
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "1").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // failures are RECORDED, never swallowed: a query that throws would
    // otherwise log a tiny wall-time and read as a speedup in the
    // round-over-round trend. Per-rep success is tracked so a failed
    // rep's (possibly tiny) wall time never enters the median, and a
    // transient warm-up failure doesn't skip measurement — only a
    // FAILED MEASURED REP stops the loop (repeating a throw 3x tells
    // us nothing new). spread = max/min over successful reps: intra-run
    // load noise made visible in the artifact itself.
    // secMin = min over successful reps: the noise-floor number. Load
    // noise only ever ADDS time, so the min is the best cross-round
    // comparator on a shared box — the median can read 2-3x high when
    // another JVM ran recently, the min almost never does.
    final case class QRes(name: String, sec: Double, secMin: Double,
                          reps: Seq[(Double, Boolean)],
                          warmupReps: Seq[(Double, Boolean)],
                          spread: Double, err: Option[String], measured: Boolean,
                          spill: Long, jobs: Long, tasks: Long,
                          floorMin: Double, compiles: Long)
    var prevFamily: String = null
    val results: Seq[QRes] =
      ordered.map { d =>
        // storage isolation (SCALE.md §6): drop every session-scoped
        // helper cache at each cache-FAMILY boundary, so the measured
        // reps run with exactly this family's working set in the
        // storage pool. Shared frames (graph caches, exact top-k,
        // neardupPairs) are staged inside the first member's unmeasured
        // warm-up rep and reused by every member; without the clears,
        // 202 queries × 4 reps accumulate every cache ever built until
        // eviction churn inverts the caches' value (r11: q130 median
        // 26.8 s in-suite vs 2.45 s isolated). Clearing per QUERY
        // instead over-rotated the other way (r12: q197 rebuilt q68's
        // cluster labels on every rep, 0.15→0.80 s) — the family
        // boundary is the SCALE.md branch-reuse rule made mechanical.
        val fam = Graft.family(d.name)
        if (fam != prevFamily) {
          Graft.clearCaches(spark)
          // let ContextCleaner reclaim localCheckpoint RDD blocks from
          // prior queries (they free only after their RDD is GC'd)
          System.gc()
        }
        prevFamily = fam
        var err: Option[String] = None
        def once(): (Double, Boolean) = {
          val t0 = System.nanoTime()
          val ok = try { exec(d); true } catch {
            case e: Throwable =>
              err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
              false
          }
          val t = (System.nanoTime() - t0) / 1e9
          // deterministic per-REP debris release (VERDICT r13 #1),
          // outside the timed region: a rep's abandoned staged
          // checkpoints must never survive into the next rep's storage
          // pool — GC-paced freeing let them accumulate until they
          // evicted the family's own shared caches mid-measurement
          // (r13: q145 reps 1.15/6.08/4.55 s vs 0.59 s isolated)
          Graft.releaseStagedCheckpoints(spark)
          (t, ok)
        }
        // warm-up reps are kept: they land in the detail file as the
        // query's cold cost, and the min over warmups+measured is the
        // query's observed noise floor THIS run, one of the two
        // uniformly-slow adjudication references
        val warm = (1 to warmups).map(_ => once())
        val warmTimes = warm.collect { case (t, true) => t }
        err = None // warm-up failures don't gate measurement; measured reps decide
        val spill0 = spillBytes.get()
        val jobs0 = jobsStarted.get()
        val tasks0 = tasksEnded.get()
        val compiles0 = codegenCompiles()
        val all = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
        var r = 0
        var failed = false
        while (r < reps && !failed) {
          val (t, ok) = once()
          all += ((t, ok))
          if (!ok) failed = true
          r += 1
        }
        val good = all.collect { case (t, true) => t }.toSeq
        // a query with zero successful reps reports its failed-rep wall
        // time for visibility, but measured=false keeps that meaningless
        // number OUT of the headline total (a fast-throwing query must
        // not deflate it)
        val sec = if (good.nonEmpty) median(good) else all.last._1
        val secMin = if (good.nonEmpty) good.min else all.last._1
        val spread =
          if (good.size >= 2 && good.min > 0) good.max / good.min else 1.0
        val floorMin =
          if ((warmTimes ++ good).nonEmpty) (warmTimes ++ good).min
          else sec
        // live progress on stderr: long scale sweeps (sf3/sf10) run for
        // an hour or more — without a per-query line, a sweep that
        // stalls or gets killed leaves NO trace of where the time went
        // (the r16 full-sf10 attempt died at 115 min with nothing to
        // diagnose). One line per query, outside the timed region.
        System.err.println(f"[bench] ${d.name}%-34s med=$sec%8.2fs" +
          f" min=$secMin%8.2fs" + (if (err.isDefined) " ERR" else ""))
        QRes(d.name, sec, secMin, all.toSeq, warm, spread, err,
          measured = good.nonEmpty, spill = spillBytes.get() - spill0,
          jobs = jobsStarted.get() - jobs0, tasks = tasksEnded.get() - tasks0,
          floorMin = floorMin, compiles = codegenCompiles() - compiles0)
      }
    // Self-adjudication (VERDICT r13 #3): every offender is re-run
    // ISOLATED at suite end — fresh clearCaches+GC, its own warm-up
    // staging, the same rep/median protocol — so the round artifact
    // itself distinguishes a genuinely noisy plan from in-suite churn
    // or box load, instead of costing the judge a manual adjudication
    // (r13: q63/q145 read 8x high in-suite, 0.6 s isolated). Measured
    // offenders only: an erroring query's problem is the err field.
    //
    // TWO trigger classes (VERDICT r14 #1 — a spread-only trigger is
    // blind to a CONSISTENT slowdown: r14's q131 read 16.5 s with
    // spread 1.28 because the box was loaded for the whole family
    // window, vs 2.43 s isolated):
    //  - "spread": max/min over measured reps > 2 (intra-run noise);
    //  - "slow": the median exceeds 3x a reference point the artifact
    //    can carry — the previous full run's median for the same query
    //    (committed bench_detail.json at HEAD, or SPARK_GRAFT_BENCH_PREV)
    //    or this run's own observed floor (min over warmups+reps) —
    //    with a 0.5 s absolute gate so sub-second jitter doesn't
    //    trigger a re-run storm.
    // -1.0 = the isolated re-run itself FAILED (a cold-start crash must
    // not publish its near-zero throw time as "fast when isolated" —
    // that would invert the adjudication); only successful reps enter
    // the median.
    val prev = prevMedians(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench_detail.json"), sfDir)
    def adjReason(r: QRes): Option[String] =
      if (!r.measured) None
      else if (r.spread > 2.0) Some("spread")
      else if (r.sec > 0.5 &&
        (prev.get(r.name).exists(p => p > 0 && r.sec > 3.0 * p) ||
          (r.floorMin > 0 && r.sec > 3.0 * r.floorMin))) Some("slow")
      else None
    // Third trigger class, "top": the suite's most expensive medians
    // (> 5 s) are ALWAYS re-run isolated. A first-ever sweep at a new
    // SF has no previous-run reference, and a slowdown that is
    // CONSISTENT across a query's own reps defeats both other
    // triggers — the first sf3 sweep carried q130 at 138.5 s in-suite
    // (spread < 2, no prev) that runs 22.4 s family-isolated. Five
    // extra isolated runs bound the cost; at the driver's sf0.1 the
    // 5 s gate means this class is usually empty.
    // SPARK_GRAFT_BENCH_NO_ADJ=1 suppresses the isolation pass entirely:
    // set by the PARENT of a fork-isolated child (below) — the child IS
    // the isolated measurement, and its own "top" trigger would otherwise
    // re-pay the full rep protocol a second time inside the fork.
    val noAdj = sys.env.get("SPARK_GRAFT_BENCH_NO_ADJ").contains("1")
    val adjReasons: Map[String, String] =
      if (noAdj) Map.empty
      else {
        val base = results.flatMap(r => adjReason(r).map(r.name -> _)).toMap
        val top = results.filter(r => r.measured && r.sec > 5.0 &&
            !base.contains(r.name))
          .sortBy(-_.sec).take(5).map(_.name -> "top")
        base ++ top
      }
    // Fork isolation: every offender is re-measured in a fresh JVM. An
    // in-process re-run would share the long-lived JVM, and at sweep
    // scale that JVM's heap debris pollutes the re-measurement itself —
    // the sf10 full suite read q130 at 643 s in-suite, 292 s
    // same-JVM-isolated, 109 s in a FRESH JVM (the number the manual
    // SCALE.md family-isolation protocol always had to recover by hand).
    // A fork replays the single offender through the identical Bench
    // protocol (same JVM args, classpath, warmups/reps, family staging
    // in the child's own warm-up) in a fresh process; its detail file
    // lands in a temp path so the parent's is never clobbered, its
    // stdout is discarded so the parent's contract line stays the only
    // one. The in-process re-run is only the fallback for a fork that
    // fails or hangs — the artifact records which mode produced each
    // number.
    def runForkIso(name: String, inSuiteSec: Double): Option[Double] =
      try {
        import scala.jdk.CollectionConverters._
        val tmp = java.nio.file.Files.createTempFile("bench_iso_", ".json")
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
        val cmd = forkIsoCommand(System.getProperty("java.home"), jvmArgs,
          System.getProperty("java.class.path"))
        val pb = new ProcessBuilder(cmd.asJava)
        val env = pb.environment()
        env.put("SPARK_GRAFT_SF_DIR", sfDir)
        env.put("SPARK_GRAFT_CPUS", cpus)
        env.put("SPARK_GRAFT_BENCH_ONLY", name)
        // at least one child warm-up even when the parent ran cold
        // (warmups=0 profiling mode): the fork's JIT/codegen/scan-cache
        // staging must not masquerade as the isolated cost
        env.put("SPARK_GRAFT_BENCH_WARMUPS", warmups.max(1).toString)
        env.put("SPARK_GRAFT_BENCH_REPS", reps.toString)
        env.put("SPARK_GRAFT_BENCH_DETAIL", tmp.toString)
        env.put("SPARK_GRAFT_BENCH_NO_ADJ", "1")
        env.remove("SPARK_GRAFT_BENCH_STRICT")
        pb.redirectOutput(java.lang.ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(java.lang.ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val done = proc.waitFor(
          forkIsoBudgetSec(inSuiteSec, warmups, reps),
          java.util.concurrent.TimeUnit.SECONDS)
        if (!done) { // hung fork: kill it, let the in-process path measure
          proc.destroyForcibly()
          proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
        }
        val res =
          if (done && proc.exitValue() == 0) childIsoMedian(tmp.toString, name)
          else None
        java.nio.file.Files.deleteIfExists(tmp)
        res
      } catch { case _: Throwable => None }
    val isolated: Map[String, (Double, String)] = results
      .filter(r => adjReasons.contains(r.name))
      .flatMap(r => ordered.find(_.name == r.name))
      .map { d =>
        val inSuite = results.find(_.name == d.name).map(_.sec).getOrElse(0.0)
        runForkIso(d.name, inSuite) match {
          case Some(sec) => d.name -> (sec, "fork")
          case None =>
            Graft.clearCaches(spark)
            System.gc()
            def one(): Option[Double] = {
              val t0 = System.nanoTime()
              val ok = try { exec(d); true } catch { case _: Throwable => false }
              val t = (System.nanoTime() - t0) / 1e9
              Graft.releaseStagedCheckpoints(spark)
              if (ok) Some(t) else None
            }
            (1 to warmups).foreach(_ => one())
            val good = (1 to reps).flatMap(_ => one())
            d.name -> (if (good.nonEmpty) median(good) else -1.0, "inproc")
        }
      }.toMap
    // The harness captures only the last ~2000 chars of stdout and parses
    // the JSON line out of that window; with 77 queries the full-name map
    // is >2x the window and the line can never parse (BENCH_r01/r02 both
    // landed "parsed": null). So the stdout line uses the qN prefix as the
    // key (unique by construction, and the documented contract shape) with
    // millisecond-rounded timings, and the err map carries only failures.
    // Full names + full precision go to bench_detail.json beside the run.
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val keys = results.map { r =>
      r.name -> (if (results.count(_.name.takeWhile(_ != '_') == shortKey(r.name)) == 1)
              shortKey(r.name) else r.name)
    }.toMap
    // Explicit Locale.ROOT: f"" uses the JVM default locale, and a
    // comma-decimal locale (de_DE) would make the stdout line non-JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Even with short keys, 202 queries x ~12 chars ≈ 2.6 KB — past the
    // ~2000-char window — so BENCH_r10/r11 both landed "parsed": null
    // again. The stdout map now carries only the TOP-20 slowest medians
    // (what a trend reader actually wants from the headline line) plus
    // an explicit omission count; every query's numbers remain in
    // bench_detail.json.
    val topN = results.sortBy(-_.sec).take(20).map(_.name).toSet
    val qs = results.filter(r => topN(r.name))
      .map { r => jstr(keys(r.name)) + ":" + fmt(r.sec) }
      .mkString("{", ",", "}")
    val nOmitted = results.size - topN.size
    val errs = results.collect { case r if r.err.isDefined =>
      jstr(keys(r.name)) + ":" + jstr(r.err.get.take(80))
    }.mkString("{", ",", "}")
    // only the load-noise suspects (spread > 2x) go on the stdout line —
    // the ~2000-char parse window can't afford the full map, which lives
    // in bench_detail.json
    val noisy = results.filter(_.spread > 2.0).map { r =>
      jstr(keys(r.name)) + ":" + fmt(r.spread)
    }.mkString("{", ",", "}")
    // the isolated re-measurement beside each offender's in-suite
    // median — empty when spread_gt2 is empty (the healthy case)
    val isoJson = results.filter(r => isolated.contains(r.name)).map { r =>
      jstr(keys(r.name)) + ":" + fmt(isolated(r.name)._1)
    }.mkString("{", ",", "}")
    // queries that spilled during measured reps (MB, rounded up) — at
    // sf0.1 this should be empty; a bigger-SF A/B run reads it to see
    // which plans flipped from in-memory to spill paths
    val spilled = results.filter(_.spill > 0).map { r =>
      jstr(keys(r.name)) + ":" + ((r.spill + (1 << 20) - 1) >> 20)
    }.mkString("{", ",", "}")
    // the headline total is built ONLY from queries with at least one
    // successful measured rep; all-failed queries are counted out loud
    // so the total can never silently shrink via a fast-throwing query
    val total = results.filter(_.measured).map(_.sec).sum
    // the noise-floor total: sum of per-query minima. Compare THIS
    // across rounds; the median total is the conservative headline.
    val totalMin = results.filter(_.measured).map(_.secMin).sum
    val nExcluded = results.count(!_.measured)
    val head = gitHead()
    // SPARK_GRAFT_BENCH_DETAIL redirects the detail file — set to a temp
    // path for a fork-isolated CHILD so the parent run's detail survives
    val detailPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"unit":"sec","excluded":$nExcluded,"n_queries":${results.size},"queries":$qs,"queries_omitted":$nOmitted,"detail":${jstr(detailPath)},"err":$errs,"spread_gt2":$noisy,"sec_isolated":$isoJson,"spill_mb":$spilled,"head":"$head","sf":"$sfDir"}"""
    // each rep carries its own ok flag so an auditor can tell exactly
    // which recorded wall time was the failing one
    def repsJson(rs: Seq[(Double, Boolean)]): String = rs.map { case (t, ok) =>
      "{\"sec\":" + fmt(t) + ",\"ok\":" + ok + "}"
    }.mkString("[", ",", "]")
    val detail = results.map { r =>
      jstr(r.name) + ":{\"sec\":" + fmt(r.sec) +
        ",\"sec_min\":" + fmt(r.secMin) +
        ",\"measured\":" + r.measured +
        ",\"reps\":" + repsJson(r.reps) +
        ",\"warmup_reps\":" + repsJson(r.warmupReps) +
        ",\"spread\":" + fmt(r.spread) +
        ",\"floor_min\":" + fmt(r.floorMin) +
        ",\"adjudicated\":" + adjReasons.get(r.name).map(jstr).getOrElse("null") +
        ",\"sec_isolated\":" + isolated.get(r.name).map(v => fmt(v._1)).getOrElse("null") +
        ",\"iso_mode\":" + isolated.get(r.name).map(v => jstr(v._2)).getOrElse("null") +
        ",\"spill_bytes\":" + r.spill +
        ",\"jobs\":" + r.jobs +
        ",\"tasks\":" + r.tasks +
        ",\"codegen_compiles\":" + r.compiles +
        ",\"err\":" + r.err.map(jstr).getOrElse("null") + "}"
    }.mkString("{", ",", "}")
    try {
      val w = new java.io.PrintWriter(detailPath)
      try w.println(s"""{"total":$total,"total_min":$totalMin,"sf":"$sfDir","head":"$head","warmups":$warmups,"reps":$reps,"queries":$detail}""")
      finally w.close()
    } catch { case _: java.io.IOException => () } // detail file is best-effort
    println(line)
    spark.stop()
    // Pre-snapshot self-check (VERDICT r9 #5): round 9 closed green on a
    // stale-data signal while the driver's own run broke 47 queries. With
    // SPARK_GRAFT_BENCH_STRICT=1 any query that errored makes the whole
    // bench exit non-zero, so an end-of-round bench against the CURRENT
    // testdata fails loudly instead of quietly recording err rows.
    if (sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1") && nExcluded > 0) {
      System.err.println(s"STRICT: $nExcluded queries errored: " +
        results.filter(!_.measured).map(_.name).mkString(", "))
      sys.exit(1)
    }
  }
}

package graft

/** Physical-plan regression guard over EVERY registered query: the
  * plans that pass correctness today must also keep their scale shape
  * tomorrow. A CartesianProductExec (unbounded pair space, both sides
  * big) is never acceptable — the bounded pair-space alternatives are
  * BroadcastNestedLoopJoin over a provably-small broadcast side (q79's
  * 8 centroids, q51's bracket table) or an equi-join. This guard is
  * what turns that design rule into a test.
  */
class PlanGuardSpec extends SparkSpec {

  // Overridable so the same guards can audit plan shape at a bigger
  // scale (SCALE.md §8 runs them against the /tmp/sf1 replica):
  //   sbt -Dgraft.planguard.sf=/tmp/sf1 "testOnly graft.PlanGuardSpec"
  private val sfDir =
    sys.props.getOrElse("graft.planguard.sf", "/root/testdata/sf0.001")

  // Every registered query carries a DuckDB oracle (QueryDef.rowsOnly
  // was deleted once its last user, q129 BPE training, gained a
  // deterministic oracle in round 10) — so the guard walks them all.
  private def guarded = SparkEntry.all

  test("no registered query plans a CartesianProduct") {
    val offenders = guarded.flatMap { d =>
      val plan = d.run(spark, sfDir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(d.name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("no registered query plans a partition-less Window") {
    // A Window with an empty partitionSpec moves the ENTIRE input
    // through one task — correct at small SF, single-threaded and
    // OOM-bound at 100 TB. q82 (vocab coverage) and q85 (equi-depth
    // hist) were rewritten off this shape (array aggregate /
    // DistributedRank); this guard locks those wins in for every
    // registered query. Checked on the optimized LOGICAL plan: it is
    // what decides the physical WindowExec, and it is stable under AQE
    // re-planning.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = guarded.flatMap { d =>
      val bad = d.run(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(d.name) else None
    }
    assert(offenders.isEmpty, s"partition-less windows in: $offenders")
  }

  test("scale ANN paths (q32, q34) plan no Window at all") {
    // Their per-query top-k runs through the k-bounded aggregator
    // (BoundedTopKD): a Window.partitionBy(query_id) would cap
    // parallelism at #queries and sort each query's whole scored
    // corpus. Only q31 — the declared exact baseline — keeps the
    // window, inside its session-cached subtree.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = Seq("q32_knn_ivf_cell", "q34_knn_codegen").flatMap { n =>
      val d = SparkEntry.all.find(_.name == n).get
      val wins = d.run(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LWindow => w
      }
      if (wins.nonEmpty) Some(n) else None
    }
    assert(offenders.isEmpty, s"window operators in scale ANN paths: $offenders")
  }

  test("q34 reuses cached subtrees: codegen top-k + session-cached exact reference") {
    // q34 previously re-ran the entire exact brute-force q31 had just
    // computed, and walked its own codegen scan twice (agreement join +
    // top_ids aggregate). Both subtrees are now cached, so the
    // optimized plan must read at least two InMemoryRelations.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val d = SparkEntry.all.find(_.name == "q34_knn_codegen").get
    val mems = d.run(spark, sfDir).queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r
    }
    assert(mems.size >= 2,
      s"expected cached fast + exact subtrees in q34's plan, found ${mems.size}")
  }

  test("graph-family plans read the co-purchase memos as flat leaves") {
    // The five co-purchase memos (edges, degrees, orientation, adjacency,
    // src-staged edges) are cache-scoped checkpoints, each built over
    // the one before it. Staged with `.persist` instead, every consumer's
    // plan embeds the cached plans of all of them (27 InMemoryTableScan
    // nodes in q130's plan here, 236 in its executed plan at sf0.01).
    // A checkpoint leaf holds none, so any InMemoryTableScan here is a
    // re-nested memo.
    val offenders = Seq("q130_triangle_count", "q131_pagerank",
        "q223_link_prediction", "q251_degree_powerlaw").flatMap { n =>
      val plan = SparkEntry.all.find(_.name == n).get
        .run(spark, sfDir).queryExecution.executedPlan.toString
      val scans = "InMemoryTableScan".r.findAllIn(plan).size
      if (scans > 0) Some(s"$n ($scans)") else None
    }
    assert(offenders.isEmpty, s"cached relations nested in graph plans: $offenders")
  }

  test("q79 centroid assignment is scan-side: one hash shuffle, no per-vector aggregate") {
    // the assignment must ride the scan (broadcast codebook array +
    // array_min argmin), so the only hash-partitioned exchange left is
    // the k-row final aggregate. The old shape — crossJoin against 8
    // centroid ROWS then groupBy(vec_id) — planned a second, corpus-
    // sized hash shuffle; this guard keeps it from coming back.
    val d = SparkEntry.all.find(_.name == "q79_kmeans_assign").get
    val qe = d.run(spark, sfDir).queryExecution
    val hashShuffles = "Exchange hashpartitioning".r
      .findAllIn(qe.executedPlan.toString).size
    assert(hashShuffles <= 1,
      s"q79 should hash-shuffle once (final agg), found $hashShuffles")
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val perVector = qe.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.exists(_.references.exists(
        _.name == "vec_id")) => a
    }
    assert(perVector.isEmpty, "q79 must not aggregate per vec_id")
  }

  test("q139/q143 run through the native imperative aggregates, not per-row explosion") {
    // q139's original shape exploded dim²/2 structs per input row; the
    // rewrite folds rows into gram_upper's array state. The only
    // Generate allowed is the single-row (i,j) labeling AFTER the
    // aggregate. Same for q143: centroid updates go through vec_sum,
    // never a posexplode to (row, dim) pairs feeding a hash agg.
    val p139 = SparkEntry.all.find(_.name == "q139_gram_topk_pairs").get
      .run(spark, sfDir).queryExecution.executedPlan.toString
    assert(p139.contains("gram_upper"), "q139 must aggregate via gram_upper")
    assert("Generate".r.findAllIn(p139).size <= 1,
      "q139 may only Generate on the single labeled result row")
    val p143 = SparkEntry.all.find(_.name == "q143_kmeans_lloyd").get
      .run(spark, sfDir).queryExecution.executedPlan.toString
    assert(p143.contains("vec_sum"), "q143 must update centroids via vec_sum")
  }

  test("q138 per-dim stats hash-shuffle exactly once (dim-keyed partial agg)") {
    val plan = SparkEntry.all.find(_.name == "q138_embedding_dim_stats").get
      .run(spark, sfDir).queryExecution.executedPlan.toString
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashShuffles == 1,
      s"q138 should shuffle once on dim, found $hashShuffles")
  }

  test("dimension joins that must broadcast at scale plan BroadcastHashJoin") {
    // The next most likely silent plan regression after cartesians and
    // global windows: a small-side join falling back to sort-merge —
    // correct, but it shuffles the FACT side on a key it never needed
    // to shuffle on. Pin the joins whose small side is dimension-sized
    // by construction (items dim, deny-list, IVF cell assignments of
    // the 8-query probe side, eval-benchmark shingles): their executed
    // plans must contain a broadcast join and no SortMergeJoin.
    // Only BroadcastHashJoin counts as "broadcast" here: these are all
    // equi-joins, so a BroadcastNestedLoopJoin in their place would mean
    // the planner lost the join keys and degraded to an O(n*m) probe —
    // the cartesian guard above doesn't catch that (BNLJ with a bounded
    // broadcast side is legitimate elsewhere, e.g. q79/q90's 8-centroid
    // cross joins). SortMergeJoin is banned outright: each pinned plan's
    // joins are all dimension-sided, so any SMJ is a fact-side shuffle
    // on a key it never needed.
    val pinned = Seq(
      "q4_broadcast_join_agg",      // items dimension enrichment (J1)
      "q6_anti_join",               // deny-list broadcast left_anti (J2/F1)
      "q32_knn_ivf_cell",           // query-side cell list broadcasts
      "q34_knn_codegen",            // exact-reference + agreement joins
      "q90_knn_ivf_probe",          // multi-probe query cells broadcast
      "q92_contamination",          // eval-benchmark side broadcasts
      "q109_knn_pq",                // PQ recall accounting vs exact ref
      "q110_knn_pq_rerank",         // shortlist + query-side broadcasts
      "q205_semdedup",              // rescore/census broadcast; cell-partitioned
                                    // prescreen must stay SHUFFLE_HASH, not SMJ

      "q5_multiway_join",           // orders ⋈ broadcast dim chain (J4)
      "q60_local_supplier_volume",  // TPC-H Q5 star: dims broadcast
      "q180_volume_shipping",       // TPC-H Q7 star: dims broadcast
      "q181_market_share",          // TPC-H Q8 star: dims broadcast
      "q185_product_profit")        // TPC-H Q9 star: dims broadcast
    val offenders = pinned.flatMap { n =>
      val plan = SparkEntry.all.find(_.name == n).get
        .run(spark, sfDir).queryExecution.executedPlan.toString
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      if (bhj == 0 || plan.contains("SortMergeJoin"))
        Some(s"$n (bhj=$bhj, smj=${plan.contains("SortMergeJoin")})")
      else None
    }
    assert(offenders.isEmpty,
      s"dimension joins lost their broadcast plan: $offenders")
  }

  test("declared scan-filter queries push their predicates into the parquet scan") {
    // A filter that stays above the scan (e.g. because a cast or
    // projection got wrapped around the filtered column) silently turns
    // a pruned read into a full-table read — invisible at test SF,
    // dominant at 100 TB. Pin the queries whose doc declares predicate
    // pushdown: at least one parquet scan in each plan must carry a
    // non-empty DataFilters list. String form (like the other physical
    // guards) because AQE's adaptive root does not expose the physical
    // tree to collect(); the "DataFilters: [" prefix survives the scan
    // metadata truncation that eats the later PushedFilters field.
    val pinned = Seq("q2_scan_filter_agg", "q42_like_regexp",
      "q59_shipping_priority", "q61_returned_items", "q69_promo_revenue",
      "q101_large_orders", "q102_dormant_balances", "q253_tpch_q6")
    val nonEmptyDataFilters = "DataFilters: \\[[^\\]]".r
    val offenders = pinned.flatMap { n =>
      val plan = SparkEntry.all.find(_.name == n).get
        .run(spark, sfDir).queryExecution.executedPlan.toString
      if (nonEmptyDataFilters.findFirstIn(plan).isEmpty) Some(n) else None
    }
    assert(offenders.isEmpty, s"no data filters reached any scan in: $offenders")
  }

  test("no registered query drops a join hint unapplied (HintErrorLogger stays silent)") {
    // A broadcast hint on a side the join type cannot build (q188 once
    // hinted the LEFT side of a LEFT OUTER join) is silently discarded
    // by JoinSelection: the query stays correct, the intended plan is
    // gone, and the only trace is a HintErrorLogger warning in the log
    // tail. Attach a capture appender to that exact logger and force
    // physical planning (where checkHintBuildSide fires) for every
    // registered query: any captured warning is a plan the author asked
    // for and did not get.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val hintLogger = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
      "hint-guard", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val ownConfig = new LoggerConfig(hintLogger, Level.WARN, true)
    config.addLogger(hintLogger, ownConfig)
    ownConfig.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val offenders = guarded.flatMap { d =>
        captured.clear()
        d.run(spark, sfDir).queryExecution.executedPlan
        if (!captured.isEmpty)
          Some(s"${d.name}: ${captured.peek()}")
        else None
      }
      assert(offenders.isEmpty, s"queries with dropped hints: $offenders")
    } finally {
      ownConfig.removeAppender("hint-guard")
      config.removeLogger(hintLogger)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("no registered query silently falls back from whole-stage codegen") {
    // q216 shipped with its 16 JL components inlined into stack()'s
    // children: the Generate's doConsume bytecode blew the JVM's 64 KB
    // method limit, janino failed, and Spark SILENTLY ran the stage
    // interpreted — the query stayed green while costing ~1.5× its
    // codegen'd time, and the only trace was a WARN in the bench tail.
    // spark.sql.codegen.fallback=false turns that demotion into a hard
    // failure, so executing every registered query under it makes the
    // whole class a red test. Queries whose operators never ATTEMPT
    // codegen (mapPartitions codecs, typed aggregators) are unaffected
    // — the conf only bites when generated code fails to compile.
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val offenders = guarded.flatMap { d =>
        try {
          d.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        } catch {
          case e: Throwable =>
            Some(s"${d.name}: ${String.valueOf(e.getMessage).take(120)}")
        }
      }
      assert(offenders.isEmpty, s"codegen compilation failures in: $offenders")
    }
  }

  test("every oracle-paired query declares matching column names in its SQL") {
    // cheap drift guard: each Spark output column name must appear as a
    // token in the oracle SQL (aliased the same way) — the driver's
    // comparator sorts columns by name, so a rename on one side only
    // fails the whole query at the gate instead of here.
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    val offenders = SparkEntry.all.flatMap { d =>
      d.oracle.toSeq.flatMap { sql =>
        val sqlIdents = ident.findAllIn(sql.toLowerCase).toSet
        val cols = d.run(spark, sfDir).schema.fieldNames
        val missing = cols.filterNot(c => sqlIdents.contains(c.toLowerCase))
        if (missing.nonEmpty) Some(s"${d.name}: ${missing.mkString(",")}") else None
      }
    }
    assert(offenders.isEmpty, s"column names absent from oracle SQL: $offenders")
  }
}

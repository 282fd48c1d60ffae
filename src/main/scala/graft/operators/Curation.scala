package graft.operators

import graft.{QueryDef, SessionCache, Tables}
import graft.QueryDef.q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline: the §2.11 operators
  * composed the way a 100 TB pre-training corpus job actually runs them.
  *
  *   1. quality filter (token count window + stopword ratio — Gopher-ish;
  *      the stopword-presence test doubles as the language marker, so
  *      quality+lang collapse into one predicate)
  *   2. exact dedup (normalized-text fingerprint, min-doc_id survivor)
  *   3. near-dup removal (MinHash-LSH candidates → exact Jaccard >= 0.2
  *      → connected components → ONE representative per duplicate
  *      cluster: the min surviving doc_id. Cluster-level dedup is the
  *      standard large-corpus policy: every cluster with at least one
  *      doc that passed the earlier stages ships exactly one doc, so no
  *      content family is lost outright. The known tradeoff — Jaccard
  *      is not transitive, so a chain can connect docs that are pairwise
  *      dissimilar to the kept representative — is accepted and stated,
  *      not hidden behind a pairwise rule whose survivors depend on
  *      which partner happened to be filtered first.)
  *   4. corpus accounting (docs + tokens per lang — what actually ships)
  *
  * Stage order: the scalar filters run first in one codegen pass over
  * the scan, so the fingerprint groupBy shuffles only surviving rows.
  * The near-dup pair graph is DELIBERATELY computed corpus-wide via
  * Dedup.neardupPairs — it is shared (cached) with q28/q29/q68 rather
  * than recomputed per filter state, and the cluster labels are shared
  * with q68 through [[dupClusters]]. Near-dup removal then joins a
  * provably-small drop list, so it is a broadcast anti-join on the big
  * side.
  */
object Curation {

  /** Per-round shuffle width for label propagation, derived from the
    * edge count: ~1M edge rows (tens of MB) per partition, floor 1 so
    * tiny test graphs stay single-partition, capped at 2048 — past that
    * per-round task-launch overhead dominates any parallelism gain. The
    * dup graph is orders of magnitude smaller than the corpus (only
    * verified near-dup docs appear), so this is sized by |edges|, never
    * by |docs|. */
  private[graft] def graphPartsFor(nEdges: Long): Int = {
    val target = 1L << 20
    math.min(2048L, math.max(1L, (nEdges + target - 1) / target)).toInt
  }

  /** Connected components of an undirected pair graph via iterative
    * min-label propagation — O(diameter) rounds, each one join + one
    * aggregate, lineage cut per round by [[graft.Graft.iterate]]; this
    * is the shape that scales where a recursive CTE (the DuckDB oracle)
    * or union-find on the driver cannot. Input: (doc_a, doc_b) pairs;
    * output: (doc_id, cluster_id = component min doc_id).
    *
    * The one driver-side action before the loop is a count() of the
    * pair list — it sizes the per-round shuffle and is over the already
    * cached, provably-small verified-pair set, not the corpus. */
  private[graft] def clusterLabels(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("doc_a"), col("doc_b"))
    val graphParts = graphPartsFor(2L * p.count())
    // Every checkpoint is cache-scoped: the converged frame is embedded
    // in [[dupClusters]]' SessionCache entry, so its blocks live exactly
    // as long as that entry and clearCaches owns the release.
    val edges = graft.Graft.cacheScopedCheckpoint(p
      .union(p.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .repartition(graphParts, col("src")))
    val init = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    // labels only decrease, so `changed` (a strictly smaller neighbour
    // label) is exactly "this round moved the label", and convergence
    // reads the staged round instead of joining it to the previous one
    val fixpoint =
      try graft.Graft.iterate("clusterLabels", init, maxRounds = 50,
          stage = graft.Graft.cacheScopedCheckpoint,
          converged = Some(_.filter(col("changed")).limit(1).count() == 0)) { labels =>
        val prop = edges.join(labels, col("src") === col("doc_id"))
          .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
        labels.join(prop, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
            (col("nlabel") < col("label")).as("changed"))
          .repartition(graphParts, col("doc_id"))
      }
      finally graft.Graft.releaseCheckpoint(edges) // loop done: edge blocks dead
    fixpoint.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Cluster labels of the verified near-dup graph — memoized per
    * (session, dir) and shared by q68's cluster report, q63's near-dup
    * removal stage and q197's split, so the iterative propagation runs
    * once. Not `.cache()`d: the labels are a projection over the
    * converged round, which [[clusterLabels]] already stages as a
    * cache-scoped checkpoint, so a cache would only keep a second,
    * columnar copy and nest an InMemoryRelation into every consumer. */
  private val clusterCache = new SessionCache[DataFrame]
  private[graft] def dupClusters(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    clusterCache.getOrElseUpdate(s, dir)(
      clusterLabels(Dedup.neardupPairs(s, dir)))

  /** DuckDB twin of [[dupClusters]]: recursive min-label walk over the
    * verified pair graph. Expects a CTE named `jp` (the neardup pairs)
    * to be in scope; yields `lab(doc_id, cluster_id)`. */
  private val clustersSqlCtes =
    """edges AS (SELECT doc_a AS a, doc_b AS b FROM jp
      |          UNION ALL SELECT doc_b, doc_a FROM jp),
      |nodes AS (SELECT DISTINCT a AS d FROM edges),
      |walk(d, lbl) AS (
      |  SELECT d, d FROM nodes
      |  UNION
      |  SELECT e.b, w.lbl FROM walk w JOIN edges e ON e.a = w.d
      |  WHERE w.lbl < e.b),
      |lab AS (SELECT d AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY d)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    q("q63_curation_pipeline",
      """Full curation pipeline output accounting: per-lang surviving doc
        |and token counts after quality filter -> lang filter -> exact
        |dedup -> near-dup cluster dedup (one representative per
        |connected near-dup component). One number pair per lang — the
        |strongest whole-pipeline cross-engine check (any stage drifting
        |by one doc changes the totals).""".stripMargin,
      s"""WITH RECURSIVE jp AS (${Dedup.neardupSql}),
        |$clustersSqlCtes,
        |feat AS (
        |  SELECT doc_id, lang,
        |    md5(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g')) AS f,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |qual AS (
        |  SELECT * FROM feat
        |  WHERE n_tokens BETWEEN 20 AND 1000
        |    AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01),
        |surv AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY f),
        |kept0 AS (
        |  SELECT q.doc_id, q.lang, q.n_tokens FROM qual q
        |  JOIN surv s ON s.doc_id = q.doc_id),
        |clustered AS (
        |  SELECT k.doc_id, l.cluster_id FROM kept0 k JOIN lab l USING (doc_id)),
        |rep AS (SELECT cluster_id, min(doc_id) AS rep_id
        |        FROM clustered GROUP BY cluster_id),
        |drop_b AS (
        |  SELECT c.doc_id FROM clustered c JOIN rep r USING (cluster_id)
        |  WHERE c.doc_id != r.rep_id),
        |kept AS (
        |  SELECT lang, n_tokens FROM kept0
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drop_b))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM kept GROUP BY lang""".stripMargin) { (s, dir) =>
      val stopList = TextOps.Stopwords.map(w => s"'$w'").mkString(",")
      val feat = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        md5(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f]+", " ")).as("f"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        size(expr(s"filter(split(text, ' '), x -> x IN ($stopList))"))
          .cast("bigint").as("n_stop"))
      // stage 1: one codegen'd filter pass over the scan (the stop-ratio
      // conjunct subsumes the language-marker test: ratio >= 0.01
      // implies n_stop >= 1)
      val qual = feat.filter(
        col("n_tokens").between(20, 1000) &&
          col("n_stop").cast("double") / col("n_tokens") >= 0.01)
      // stage 2: exact-dedup survivors (min doc_id per fingerprint),
      // rejoined as a semi-filter so kept rows keep their columns
      val surv = qual.groupBy(col("f")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val kept0 = qual.join(surv, Seq("doc_id"), "left_semi")
      // stage 3: near-dup cluster dedup — among docs still standing,
      // keep the min doc_id of each connected near-dup component and
      // drop the rest. The labels frame covers only docs in the dup
      // graph (tiny), so both joins broadcast; the drop list is a
      // strict subset of that, anti-joined against the big side.
      val lab = broadcast(dupClusters(s, dir))
      val clustered = kept0.select(col("doc_id")).join(lab, "doc_id")
      val rep = clustered.groupBy(col("cluster_id"))
        .agg(min(col("doc_id")).as("rep_id"))
      val dropB = clustered.join(rep, "cluster_id")
        .filter(col("doc_id") =!= col("rep_id"))
        .select(col("doc_id"))
      val kept = kept0.join(broadcast(dropB), Seq("doc_id"), "left_anti")
      // stage 4: corpus accounting
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("total_tokens"))
    },

    // ----------------------------------------------------------------
    q("q68_dup_clusters",
      """Duplicate-cluster formation: connected components of the
        |verified near-dup graph, each doc labeled with its component's
        |min doc_id (the canonical survivor). Implemented as iterative
        |min-label propagation over DataFrames (see clusterLabels) with
        |the per-round shuffle width derived from the edge count.
        |Cluster sizes ride the final label partitioning.""".stripMargin,
      s"""WITH RECURSIVE jp AS (${Dedup.neardupSql}),
        |$clustersSqlCtes
        |SELECT doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM lab""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      dupClusters(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
            .as("cluster_size"))
    },

    // ----------------------------------------------------------------
    q("q92_contamination",
      """Benchmark decontamination: for each eval-set document
        |(doc_id % 50 = 0, standing in for a held-out benchmark), count
        |the train documents sharing at least one 5-word shingle and the
        |distinct shingles shared. The 5-gram (vs the LSH tier's 3-gram)
        |is the selectivity knob — long n-grams make shared shingles
        |rare, so the equi-join fan-out stays bounded. The scale shape
        |is the real decontamination asymmetry: the eval side is a
        |benchmark (KBs-MBs), so its shingle set BROADCASTS and the
        |corpus-sized train side streams through a broadcast hash join —
        |the 100 TB side never shuffles; only matched hit pairs reach
        |the small eval-keyed aggregate.""".stripMargin,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh
        |  FROM w, unnest(range(1, greatest(len(w) - 3, 1))) AS t(i)),
        |ev AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0),
        |hits AS (
        |  SELECT ev.doc_id AS eval_id,
        |    count(DISTINCT tr.doc_id) AS n_train_docs,
        |    count(DISTINCT ev.sh) AS n_shared_shingles
        |  FROM ev JOIN tr ON tr.sh = ev.sh
        |  GROUP BY 1)
        |SELECT d.doc_id AS eval_id,
        |  coalesce(h.n_train_docs, 0) AS n_train_docs,
        |  coalesce(h.n_shared_shingles, 0) AS n_shared_shingles
        |FROM documents d LEFT JOIN hits h ON h.eval_id = d.doc_id
        |WHERE d.doc_id % 50 = 0""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val evalG = fiveGramShingles(docs.filter(col("doc_id") % 50 === 0))
        .withColumnRenamed("doc_id", "eval_id")
      val trainG = fiveGramShingles(docs.filter(col("doc_id") % 50 =!= 0))
        .withColumnRenamed("doc_id", "train_id")
      val hits = trainG.join(broadcast(evalG), "sh")
        .groupBy(col("eval_id"))
        .agg(countDistinct(col("train_id")).as("n_train_docs"),
          countDistinct(col("sh")).as("n_shared_shingles"))
      docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("eval_id"))
        .join(broadcast(hits), Seq("eval_id"), "left")
        .select(col("eval_id"),
          coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
          coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"))
    },

    // ----------------------------------------------------------------
    q("q130_triangle_count",
      """Triangle counting on the co-purchase graph (parts that share an
        |order) — the graph-analytics kernel beyond q68's connected
        |components: clustering-coefficient numerators, community
        |density, link-spam signals. Edges come from q67's per-order
        |pattern (sorted part array + codegen pair expansion, bounded by
        |per-order line count², one shuffle — never a lineitem
        |self-join). The count itself uses DEGREE ORIENTATION, the
        |standard distributed-triangle trick: orient every edge from its
        |(degree, id)-smaller endpoint to the larger, which makes each
        |triangle a unique wedge u→v, u→w (π(v) < π(w)) closed by v→w,
        |and — the scale argument — bounds every node's out-degree by
        |O(√m), so no hub node ever owns more than O(√m) out-neighbors.
        |The count itself never MATERIALIZES wedges (the wedge table is
        |the one intermediate that dwarfs the edge list at scale, and
        |shuffling it by closing-edge key was 2/3 of this query's r9
        |cost): instead each oriented edge (u,v) picks up both
        |endpoints' out-neighbor ARRAYS and counts
        ||N+(u) ∩ N+(v)| locally — every triangle a<b<c in π-order is
        |counted exactly once, at edge (a,b) via common neighbor c. All
        |shuffles are edge-sized (adjacency build + two edge↔adjacency
        |joins); the intersection is per-row compute bounded by the
        |O(√m) array length. The oracle counts the same triangles with
        |the plain three-way relational self-join on the x<y edge table
        |— no orientation, no adjacency — so the hash match proves the
        |whole rewrite count-invisible.""".stripMargin,
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM e0 e1
        |        JOIN e0 e2 ON e1.y = e2.x
        |        JOIN e0 e3 ON e3.x = e1.x AND e3.y = e2.y) AS BIGINT) AS n_triangles""".stripMargin) { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      // the §8 sf1 A/B reshaped this execution twice:
      //  - SHUFFLE_HASH, not sort-merge: SMJ would SORT the edge rows
      //    WITH their picked-up O(√m) adjacency arrays attached —
      //    multi-KB sort records that spilled ~16 GB (half of it again
      //    in collect_list's 128-key sort fallback, retired session-
      //    wide by GraftSession's objectHashAggregate threshold).
      //  - explicit-N repartitions (REPARTITION_BY_NUM is exempt from
      //    AQE coalescing) pin the whole pipeline at cluster
      //    parallelism: these exchanges carry FEW bytes (16-byte edge
      //    rows) but ALL of the collect + per-edge merge-intersect CPU,
      //    so AQE's byte-proportional coalescing collapsed them to a
      //    handful of tasks (8→19 s medians, spread 2.9, run-to-run
      //    planner roulette). The conf width (spark.sql.shuffle
      //    .partitions) is the right N on any cluster size — and,
      //    unlike defaultParallelism, keeps plan text host-independent
      //    (ADVICE r16).
      // Only the probe side shuffles: pinned on u for the first join,
      // re-keyed on v for the second. Both build sides read the cached
      // adjacency in place — it was staged hash-partitioned on u at the
      // same width, so once its cache stage has materialized AQE drops
      // the initial plan's build-side exchanges (the alias to v keeps
      // that partitioning for the second join).
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val oriPart = orientedCoPurchase(s, dir).repartition(nPart, col("u"))
      val adj = orientedAdjacency(s, dir)
      // each oriented edge (u,v) counts its triangles locally as
      // |N+(u) ∩ N+(v)|: the closing node w satisfies u→w and v→w, and
      // only the π-smallest edge of each triangle finds a non-empty
      // intersection — exactly-once by construction. Edges whose head
      // has no out-neighbors contribute 0 and may drop from the inner
      // join; coalesce keeps the empty-graph result a bigint 0.
      graft.plans.GraftFunctions.register(s)
      val tri = oriPart
        .join(adj.select(col("u"), col("nbr").as("nu")).hint("shuffle_hash"), Seq("u"))
        .repartition(nPart, col("v"))
        .join(adj.select(col("u").as("v"), col("nbr").as("nv")).hint("shuffle_hash"), Seq("v"))
        // allocation-free two-pointer merge over the sorted adjacency
        // arrays (plans/SortedIntersectCount) — size(array_intersect)
        // would hash+materialize the intersection per edge
        .select(expr("sorted_intersect_count(nu, nv)").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
      edges.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(tri))
    },

    // ----------------------------------------------------------------
    q("q131_pagerank",
      """PageRank over the undirected co-purchase graph, 3 power
        |iterations unrolled — the iterative-propagation kernel (q68's
        |label propagation converges min-ids; this weights by structure)
        |behind importance ranking and seed selection. Everything runs
        |in S = 1e12 fixed-point with floor divides so both engines get
        |bit-identical ranks (floats would drift in the libm-free
        |cross-engine sense long before they drifted in ranking):
        |pr'(v) = (15S) div (100 n) + (85 Σ_{u→v} pr(u) div deg(u))
        |div 100. Scale shape: the edge table is staged src-partitioned
        |ONCE and never sorted, broadcast or re-shuffled after that;
        |each iteration attaches the node-sized rank frame on src
        |(broadcast under the node-count gate, shuffled-hash build past
        |it) and re-aggregates by dst with map-side combine, so every
        |per-iteration exchange carries node-BOUNDED rows; the node
        |count is a session-memoized literal (one scalar count over the
        |cached degree table). 3 unrolled iterations form a LINEAR plan
        |DAG (each pr_k feeds exactly one contrib join), so nothing
        |re-evaluates and nothing needs caching. Top-20 by rank via
        |TakeOrdered.""".stripMargin,
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT x AS src, y AS dst FROM e0 UNION ALL SELECT y, x FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |nn AS (SELECT count(*) AS nn FROM deg),
        |p0 AS (SELECT src AS n, deg, 1000000000000 // nn AS pr FROM deg, nn),
        |p1 AS (
        |  SELECT t.n, d.deg,
        |    (15 * 1000000000000) // (100 * nn.nn) + (85 * t.sc) // 100 AS pr
        |  FROM (SELECT e.dst AS n, sum(p0.pr // p0.deg) AS sc
        |        FROM e JOIN p0 ON e.src = p0.n GROUP BY 1) t
        |  JOIN deg d ON d.src = t.n, nn),
        |p2 AS (
        |  SELECT t.n, d.deg,
        |    (15 * 1000000000000) // (100 * nn.nn) + (85 * t.sc) // 100 AS pr
        |  FROM (SELECT e.dst AS n, sum(p1.pr // p1.deg) AS sc
        |        FROM e JOIN p1 ON e.src = p1.n GROUP BY 1) t
        |  JOIN deg d ON d.src = t.n, nn),
        |p3 AS (
        |  SELECT t.n,
        |    (15 * 1000000000000) // (100 * nn.nn) + (85 * t.sc) // 100 AS pr
        |  FROM (SELECT e.dst AS n, sum(p2.pr // p2.deg) AS sc
        |        FROM e JOIN p2 ON e.src = p2.n GROUP BY 1) t, nn)
        |SELECT n AS node, CAST(pr AS BIGINT) AS pr_scaled
        |FROM p3 ORDER BY pr DESC, n LIMIT 20""".stripMargin) { (s, dir) =>
      pageRank(coPurchaseEdges(s, dir), iters = 3,
          degOpt = Some(coPurchaseDegrees(s, dir)),
          stagedOpt = Some(srcStagedCoPurchase(s, dir)),
          nNodes = coPurchaseNodeCount(s, dir))
        .orderBy(col("pr").desc, col("n")).limit(20)
        .select(col("n").as("node"), col("pr").as("pr_scaled"))
    },

    // ----------------------------------------------------------------
    q("q223_link_prediction",
      """SEED-SCOPED link prediction on the co-purchase graph —
        |common-neighbor and resource-allocation scores (Liben-Nowell &
        |Kleinberg 2003; Zhou, Lü & Zhang 2009's RA index) for the 50
        |highest-degree seed parts against every non-adjacent part they
        |share a neighbor with, top 10 recommendations per seed. RA
        |down-weights hub-mediated evidence as Σ 1/deg(z) over common
        |neighbors z, computed in integer micro units (10⁶ DIV deg) so
        |both engines agree bitwise. Deliberately seed-scoped: ALL-pairs
        |link prediction materializes Σ deg² wedges (298M on this graph
        |at sf0.1, and unboundedly worse at 100 TB), which is why
        |production systems score candidates for a seed set — here the
        |wedge frame is bounded by Σ_{z∈N(seeds)} deg(z), i.e. seeds ×
        |avg-degree², independent of corpus size. Scale shape: the edge
        |and degree frames are the q130/q131 family caches (built once,
        |edge-sized shuffles); seed wedges come from ONE broadcast of
        |the 50-seed edge slice against the src-staged edge list (both
        |wedge joins key on src, so the staging co-locates them); the
        |(seed, cand) aggregate has map-side combine over a
        |seed-bounded key space; the known-edge anti join is again a
        |broadcast of the seed slice; the rank window partitions by
        |seed (50 partitions, never partition-less).""".stripMargin,
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT x AS src, y AS dst FROM e0 UNION ALL SELECT y, x FROM e0),
        |deg AS (SELECT src AS n, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |seeds AS (SELECT n FROM deg ORDER BY deg DESC, n LIMIT 50),
        |w AS (
        |  SELECT se.src AS seed, ce.dst AS cand,
        |    count(*)::BIGINT AS cn,
        |    CAST(sum(1000000 // dz.deg) AS BIGINT) AS ra_micro
        |  FROM e se
        |  JOIN seeds s ON se.src = s.n
        |  JOIN e ce ON ce.src = se.dst AND ce.dst <> se.src
        |  JOIN deg dz ON dz.n = se.dst
        |  GROUP BY 1, 2),
        |nonadj AS (
        |  SELECT w.* FROM w
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.src = w.seed AND e.dst = w.cand)),
        |r AS (
        |  SELECT seed, cand, cn, ra_micro,
        |    row_number() OVER (PARTITION BY seed
        |      ORDER BY cn DESC, ra_micro DESC, cand) AS rk
        |  FROM nonadj)
        |SELECT seed, cand, cn, ra_micro, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 10""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = srcStagedCoPurchase(s, dir)
      val deg = coPurchaseDegrees(s, dir) // (n, deg)
      val seeds = deg.orderBy(col("deg").desc, col("n")).limit(50)
        .select(col("n").as("seed"))
      // the 50-seed edge slice (seed, z): ≤ 50 × max-degree rows —
      // broadcast it through both the wedge join and the anti join
      val seedEdges = e.join(broadcast(seeds), col("src") === col("seed"))
        .select(col("seed"), col("dst").as("z"))
      val wedges = e.select(col("src").as("z"), col("dst").as("cand"))
        .join(broadcast(seedEdges), Seq("z"))
        .filter(col("cand") =!= col("seed"))
        // shuffled-hash build on the node-sized degree frame: the wedge
        // side is co-partitioned with it on z (both hash-keyed from the
        // src staging / degree aggregate), so the join is exchange-free
        // — and the hint stops the planner from sort-merging, which
        // would SORT the wedge-sized stream
        .join(deg.select(col("n").as("z"), col("deg").as("degz"))
          .hint("shuffle_hash"), Seq("z"))
        .groupBy(col("seed"), col("cand"))
        .agg(count(lit(1)).cast("bigint").as("cn"),
          sum(expr("1000000 DIV degz")).cast("bigint").as("ra_micro"))
      wedges
        .join(broadcast(seedEdges.select(col("seed"), col("z").as("cand"))),
          Seq("seed", "cand"), "left_anti")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("seed"))
            .orderBy(col("cn").desc, col("ra_micro").desc, col("cand")))
          .cast("bigint"))
        .filter(col("rk") <= 10)
        .select(col("seed"), col("cand"), col("cn"), col("ra_micro"), col("rk"))
    },

    // ----------------------------------------------------------------
    q("q197_leakage_free_split",
      """LEAKAGE-FREE train/val/test split — the dataset-splitting rule
        |naive random splits get wrong: near-duplicates must land in
        |the SAME split, or the eval set silently contains paraphrases
        |of training documents.  The split gate hashes the near-dup
        |CLUSTER label (q68's connected-component min-id; singleton
        |docs are their own cluster), not the doc id — every member of
        |a component shares its fate by construction, so zero verified
        |near-dup pairs can straddle splits (the spec asserts exactly
        |that).  80/10/10 via the q137 affine-hash gate family —
        |deterministic across reruns, partitionings and cluster sizes.
        |Per (split, lang): doc count and how many docs arrived via a
        |multi-doc component (the leakage-exposure that was
        |neutralized).  Scale shape: the cluster labels are the q68
        |artifact (edge-sized iterations); the gate itself is a
        |scan-side projection and one |splits×langs| aggregate.""".stripMargin,
      s"""WITH RECURSIVE jp AS (${Dedup.neardupSql}),
        |$clustersSqlCtes,
        |assigned AS (
        |  SELECT d.doc_id, d.lang,
        |    coalesce(lab.cluster_id, d.doc_id) AS cid,
        |    (lab.doc_id IS NOT NULL) AS clustered
        |  FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id),
        |g AS (
        |  SELECT doc_id, lang, clustered,
        |    CASE WHEN ((37 * cid + 11) % 2147483647) % 10 < 8 THEN 'train'
        |         WHEN ((37 * cid + 11) % 2147483647) % 10 = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM assigned)
        |SELECT split, lang, count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_from_clusters
        |FROM g GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val lab = dupClusters(s, dir).select(col("doc_id"), col("cluster_id"))
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(lab, Seq("doc_id"), "left")
        .select(col("lang"),
          coalesce(col("cluster_id"), col("doc_id")).as("cid"),
          col("cluster_id").isNotNull.as("clustered"))
        .select(col("lang"), col("clustered"),
          when(((lit(37L) * col("cid") + 11L) % 2147483647L) % 10 < 8, "train")
            .when(((lit(37L) * col("cid") + 11L) % 2147483647L) % 10 === 8, "val")
            .otherwise("test").as("split"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("clustered"), 1L).otherwise(0L)).cast("long")
            .as("n_from_clusters"))
    },

    // ----------------------------------------------------------------
    q("q251_degree_powerlaw",
      """Degree-distribution power-law fit of the co-purchase graph
        |(Faloutsos, Faloutsos & Faloutsos 1999's power-law exponent;
        |Barabási & Albert 1999): the OLS slope of log2(#nodes with
        |degree d) on log2(d) over the degree census — the one-number
        |topology check (heavy-tailed real graphs fit a negative
        |slope; near-regular or truncated graphs drift flat), and the
        |quantity that justifies q130's O(sqrt m) orientation bound
        |being worth taking. Exactness: q247's dyadic-log discipline —
        |floor-log2 via length(bin(n)) - 1, all-BIGINT moments, q244
        |zero-variance guard. Scale shape: rides the graph family's
        |node-sized degree cache (built once for q130/q131/q223); the
        |census is degree-DISTINCT-sized (<= max degree rows); the fit
        |collapses to ONE row of five moments. The oracle recomputes
        |degrees from the plain x<y relational edge table — the hash
        |match proves the cached graph artifacts census-invisible.""".stripMargin,
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |d AS (SELECT n, count(*)::BIGINT AS deg
        |  FROM (SELECT x AS n FROM e0 UNION ALL SELECT y FROM e0)
        |  GROUP BY 1),
        |cen AS (SELECT deg, count(*)::BIGINT AS n_nodes FROM d GROUP BY 1),
        |xy AS (SELECT deg, n_nodes,
        |    CAST(length(bin(deg)) - 1 AS BIGINT) AS x,
        |    CAST(length(bin(n_nodes)) - 1 AS BIGINT) AS y
        |  FROM cen),
        |m AS (SELECT count(*)::BIGINT AS n_degrees,
        |    CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
        |    CAST(max(deg) AS BIGINT) AS max_deg,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM xy)
        |SELECT n_nodes, n_degrees, max_deg,
        |  (1000 * (n_degrees * sxy - sx * sy))
        |    // greatest(n_degrees * sxx - sx * sx, 1) AS slope_milli
        |FROM m""".stripMargin) { (s, dir) =>
      val cen = coPurchaseDegrees(s, dir)
        .groupBy(col("deg")).agg(count(lit(1)).cast("bigint").as("n_nodes"))
      cen
        .select(col("deg"), col("n_nodes"),
          expr("CAST(length(bin(deg)) - 1 AS BIGINT)").as("x"),
          expr("CAST(length(bin(n_nodes)) - 1 AS BIGINT)").as("y"))
        .agg(count(lit(1)).cast("bigint").as("n_degrees"),
          sum(col("n_nodes")).cast("bigint").as("n_nodes"),
          max(col("deg")).cast("bigint").as("max_deg"),
          sum(col("x")).cast("bigint").as("sx"),
          sum(col("y")).cast("bigint").as("sy"),
          sum(expr("x * y")).cast("bigint").as("sxy"),
          sum(expr("x * x")).cast("bigint").as("sxx"))
        .select(col("n_nodes"), col("n_degrees"), col("max_deg"),
          expr("""(1000 * (n_degrees * sxy - sx * sy))
                 |DIV greatest(n_degrees * sxx - sx * sx, 1)""".stripMargin)
            .as("slope_milli"))
    })

  /** Undirected co-purchase edge list {x < y}: parts that share an
    * order. q67's per-order pattern — sorted part array + codegen pair
    * expansion, bounded by per-order line count², one shuffle — never a
    * lineitem self-join. Shared by q130 (triangles) and q131 (PageRank).
    *
    * Staged once per (session, dir) as a cache-scoped checkpoint: q130
    * fans the edge list into four plan branches (deg ×2 via unionAll,
    * the oriented join, the n_edges count) and q131's PageRank reads it
    * in every iteration, so without a reuse point the collect_set
    * aggregation would re-evaluate per branch. The checkpoint is the
    * local-mode analog of the 100-TB answer (stage the derived edge
    * table once, then fan out): an eager UnsafeRow-block leaf, so every
    * consumer plans over a flat `LogicalRDD` and re-reads rows without
    * columnar decoding, where a `.persist` would nest this memo's whole
    * cached plan into every frame built on it (SCALE.md §6). Like every
    * graph-family memo it is a SessionCache entry whose blocks live
    * exactly as long as the entry: [[graft.Graft.clearCaches]] frees
    * them at cache-family boundaries, and a stopped session's entry is
    * dropped with the others. */
  private val edgeCache = new SessionCache[DataFrame]
  private[graft] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    edgeCache.getOrElseUpdate(s, dir) {
      undirectedEdges(Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("gid"), col("l_partkey").as("member")))
        .transform(graft.Graft.cacheScopedCheckpoint)
    }

  /** Per-node degree table (n, deg) of the co-purchase graph, staged
    * once per (session, dir) as a cache-scoped checkpoint over the edge
    * leaf: q130's orientation, q131's PageRank and q251's histogram all
    * read it, and a per-consumer rebuild would cost one edge-sized
    * union + agg each. Node-sized, so cheap to keep; a flat leaf, so
    * the frames built on it carry no copy of its plan. */
  private val degCache = new SessionCache[DataFrame]
  private[graft] def coPurchaseDegrees(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    degCache.getOrElseUpdate(s, dir) {
      val edges = coPurchaseEdges(s, dir)
      edges.select(col("x").as("n")).unionAll(edges.select(col("y").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .transform(graft.Graft.cacheScopedCheckpoint)
    }

  /** Degree-oriented edge list (u, v) with π(u) < π(v) under
    * π = (degree, id) — the orientation that bounds every out-degree by
    * O(√m). Staged once per (session, dir) as a cache-scoped
    * checkpoint: q130's plan reads it TWICE (adjacency build + the
    * per-edge probe), so without a reuse point the two degree joins
    * re-evaluate per branch, and as a flat leaf neither branch plans
    * the degree joins again. Edge-sized. */
  private val orientCache = new SessionCache[DataFrame]
  private[graft] def orientedCoPurchase(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    orientCache.getOrElseUpdate(s, dir) {
      val deg = coPurchaseDegrees(s, dir)
      val ord = coPurchaseEdges(s, dir)
        .join(deg.select(col("n").as("x"), col("deg").as("degx")), Seq("x"))
        .join(deg.select(col("n").as("y"), col("deg").as("degy")), Seq("y"))
      val fwd = struct(col("degx"), col("x")) < struct(col("degy"), col("y"))
      ord.select(
          when(fwd, col("x")).otherwise(col("y")).as("u"),
          when(fwd, col("y")).otherwise(col("x")).as("v"))
        .transform(graft.Graft.cacheScopedCheckpoint)
    }

  /** Per-node sorted out-neighbor arrays (u, nbr) of the oriented
    * graph — q130's adjacency, bounded O(√m) per row by the
    * orientation; sorted at build so the per-edge intersection runs
    * over ordered arrays (and the plan is deterministic regardless of
    * shuffle order). Staged once per (session, dir) as a cache-scoped
    * checkpoint: q130's plan reads it twice per execution (both probe
    * build sides), so without a reuse point the collect_list aggregate
    * re-runs per branch per rep; as a flat leaf each probe side is one
    * scan of UnsafeRow blocks. Total payload ≈ one long per oriented
    * edge — the same order of storage as the edge memos beside it. */
  private val adjCache = new SessionCache[DataFrame]
  private[graft] def orientedAdjacency(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    adjCache.getOrElseUpdate(s, dir) {
      orientedCoPurchase(s, dir)
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("u"))
        .groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nbr"))
        .transform(graft.Graft.cacheScopedCheckpoint)
    }

  /** Distinct undirected edges {x < y} between members sharing a group
    * id, built group-locally (array + pair expansion inside each group,
    * never a self-join of the membership table). */
  private[graft] def undirectedEdges(groupMember: DataFrame): DataFrame =
    groupMember
      .groupBy(col("gid"))
      .agg(sort_array(collect_set(col("member"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (v, i) ->
          |  transform(slice(ps, i + 2, size(ps)), w -> struct(v AS x, w AS y))))""".stripMargin)).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .distinct()

  /** src-repartitioned directed expansion of the co-purchase edge list,
    * staged once per (session, dir) as a cache-scoped checkpoint: every
    * PageRank iteration and both of q223's wedge joins attach node-sized
    * frames ON src, so staging the edges pre-co-located with that key
    * makes the edge side of those joins shuffle-free — the edge table
    * (the only frame that is corpus-sized here) is shuffled ONCE at
    * staging and never again. The checkpoint leaf keeps the staged
    * hash partitioning, so the consumers' joins still see it, and
    * unlike a `.persist` it carries no nested copy of the edge memo's
    * plan. The dst aggregate pays one partial-agg-reduced exchange per
    * iteration (node-bounded rows, never edge-sized, no sorts); staging
    * by dst instead was measured worse (SCALE.md §6). Reps reuse one
    * copy, and Graft.clearCaches frees it like every other helper
    * frame. */
  private val srcEdgeCache = new SessionCache[DataFrame]
  private[graft] def srcStagedCoPurchase(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    srcEdgeCache.getOrElseUpdate(s, dir) {
      val und = coPurchaseEdges(s, dir)
      und.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
        // explicit N: the staged partitioning is what every unrolled
        // iteration inherits, and AQE's byte-proportional coalescing
        // would otherwise stage few-task partitions for a frame whose
        // per-row cost is join+agg CPU, not bytes (same §8 lesson as
        // q130's intersect exchanges). N comes from the session's
        // shuffle-partition conf (not defaultParallelism) so the
        // staged width matches every downstream exchange — a shuffled
        // hash join against a conf-width exchange then needs no
        // re-shuffle — and plans stay host-independent (ADVICE r16).
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("src"))
        .transform(graft.Graft.cacheScopedCheckpoint)
    }

  /** Node count of the co-purchase graph, memoized per (session, dir)
    * over the persisted degree table — ONE node-sized count per graph-
    * family window (the clusterLabels precedent: a scalar driver action
    * that sizes plans, never data on the driver). Feeds pageRank's
    * join-strategy gate and inlines the rank recurrence's 1/n term as a
    * literal (replacing a per-iteration broadcast-cross-join of the
    * single-row count). Dropped by [[graft.Graft.clearCaches]] with the
    * frames it was counted from, so data rewritten at the same dir never
    * meets a stale 1/n literal or broadcast-gate decision. */
  private val nodeCountCache = new SessionCache[Long]
  private[graft] def coPurchaseNodeCount(
      s: org.apache.spark.sql.SparkSession, dir: String): Long =
    nodeCountCache.getOrElseUpdate(s, dir)(coPurchaseDegrees(s, dir).count())

  /** pr-side broadcast gate for [[pageRank]]: at or below this many
    * nodes the per-iteration rank frame broadcasts (a ≤16 MB hash
    * relation — the planner can't pick this itself because the rank
    * subtree has no stats, and its measured fallback broadcasts the
    * EDGE side instead); above it the rank frame attaches via a
    * shuffled hash join with the node-sized side as build — the only
    * shape that never sorts, shuffles or broadcasts the edge table.
    * Overridable for tests via -Dgraft.pr.broadcastMaxNodes. */
  private[graft] def prBroadcastMaxNodes: Long =
    sys.props.get("graft.pr.broadcastMaxNodes").map(_.toLong)
      .getOrElse(1L << 20)

  /** Fixed-point PageRank (damping 0.85, scale S = 1e12, floor divides
    * throughout so results are bit-identical across engines) over an
    * undirected edge list (x, y); returns (n, deg, pr). The scale
    * contract of each unrolled iteration: the EDGE table (the only
    * corpus-sized frame) is never sorted, never broadcast and never
    * re-shuffled — it streams through its staged src partitioning; the
    * node-sized rank frame attaches ON src either as a broadcast (node
    * count at or below [[prBroadcastMaxNodes]] — an explicit build-side
    * pick, because the rank subtree has no stats and the planner's
    * measured fallback was to broadcast the EDGES, or at sf10 to sort
    * them per iteration, 83 GB of spill under a 16 GiB heap) or as a
    * shuffled-hash build side (node-sized exchange); the dst
    * re-aggregation is map-side-combined, so its exchange carries
    * node-BOUNDED partials, never edge-sized rows. The unrolled DAG is
    * linear — each pr_k feeds exactly one contrib join — so nothing
    * re-evaluates and nothing needs caching. Pass `stagedOpt` (a
    * persisted src-partitioned directed edge list, e.g.
    * [[srcStagedCoPurchase]]) to amortize the union across iterations
    * AND executions; without it the directed list is derived inline,
    * unpersisted — correct, and the right shape for one-shot callers
    * like the spec's closed-form graphs. `nNodes` (for q131 the
    * session-memoized [[coPurchaseNodeCount]]) picks the rank-side join
    * and inlines the 1/n term as a literal. */
  private[graft] def pageRank(und: DataFrame, iters: Int, nNodes: Long,
      degOpt: Option[DataFrame] = None,
      stagedOpt: Option[DataFrame] = None): DataFrame = {
    val S = 1000000000000L
    val e = stagedOpt.getOrElse(
      und.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
        .repartition(col("src")))
    // (n, deg) may arrive pre-built (the shared co-purchase degree
    // cache); otherwise derive it with one edge-sized aggregation.
    val deg = degOpt.map(_.select(col("n").as("src"), col("deg")))
      .getOrElse(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // rank-side attachment: broadcast while the node count provably
    // fits, shuffled-hash (build = the node-sized rank frame) past it.
    def prSide(c: DataFrame): DataFrame =
      if (nNodes <= prBroadcastMaxNodes) broadcast(c) else c.hint("shuffle_hash")
    // the 1/n terms as plan-time literals (Long floor division ≡ SQL DIV
    // on these non-negative operands — both truncate toward zero).
    // max(n, 1): a literal divisor is CONSTANT-FOLDED, so an empty
    // graph (n = 0) would throw DIVIDE_BY_ZERO at plan time even
    // though no row ever evaluates it. With zero nodes every frame
    // below is empty, so the clamped divisor is unobservable; for
    // n >= 1 it is exact.
    val nn = s"CAST(${math.max(nNodes, 1L)} AS BIGINT)"
    val pr0 = deg.select(col("src").as("n"), col("deg"),
      expr(s"${S}L DIV $nn").as("pr"))
    (1 to iters).foldLeft(pr0) { (pr, _) =>
      val contrib = e
        .join(prSide(pr.select(col("n").as("src"), expr("pr DIV deg").as("c"))),
          Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      deg.select(col("src").as("n"), col("deg"))
        // node-sized ⋈ node-sized, both already hash-partitioned on n
        // (the persisted degree aggregate and the contrib aggregate):
        // shuffled-hash instead of the default sort-merge so neither
        // node frame sorts
        .join(contrib.select(col("dst").as("n"), col("sc")).hint("shuffle_hash"),
          Seq("n"))
        .select(col("n"), col("deg"),
          expr(s"(15 * ${S}L) DIV (100 * $nn) + (85 * sc) DIV 100").as("pr"))
    }
  }

  /** Distinct 5-word shingles of a (doc_id, text) frame — q92's
    * contamination key, shared with [[IncrementalContamination]]'s
    * maintained index. Row-local (a doc's shingles never depend on the
    * rest of the corpus), which is what makes the batch and incremental
    * decontamination paths provably identical. */
  private[operators] def fiveGramShingles(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .withColumn("i", explode(when(size(col("w")) >= 5,
      sequence(lit(1), size(col("w")) - 4)).otherwise(array())))
    .select(col("doc_id"), concat_ws(" ", slice(col("w"), col("i"), lit(5))).as("sh"))
    .distinct()
}

package graft.operators

import graft.{QueryDef, SessionCache, Tables}
import graft.QueryDef.q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] vectors).
  *
  * Two paths:
  *   - q31 brute-force top-k: the exact baseline. Array-native dot
  *     products via zip_with + aggregate — no explode, no shuffle for the
  *     scoring itself; the only shuffle is the per-query top-k window.
  *     The query side is a handful of vectors, broadcast against the
  *     corpus — at 100 TB-scale corpora this is one scan.
  *   - q32 IVF-cell search: restrict scoring to the query's coarse cell
  *     (the `label` column stands in for a k-means cell assignment).
  *     Same join, but the cell equi-join prunes the candidate space —
  *     the linear-scan → inverted-file trade.
  *
  * Determinism: elements are quantized to DECIMAL(9,4) before any
  * arithmetic, so dot products and squared norms are exact decimals in
  * both engines; a single double division + sqrt + round(4) yields the
  * score, and ranking ties break on neighbor id.
  */
object Similarity {

  private[operators] val QueryVecs = 10 // vec_id < 10 are the query set
  private[operators] val TopK = 5
  private[operators] val Cells = 8  // IVF codebook size — q79's k-means centroids
  private val NProbe = 2 // cells probed per query in q90
  // q205's near-dup cosine threshold — q36's 0.4: on this isotropic
  // corpus higher cones are empty, and the 0.05 prescreen margin
  // still dwarfs the ~1e-3 quantization+float error
  private val SemDedupTau = 0.4

  /** q216's projection geometry: 64 source dims -> 16, Achlioptas
    * density ~1/3 (32/97). Declared BEFORE `defs`: the oracle string
    * interpolates these at object construction. */
  private[graft] val JlSrcDim = 64
  private[graft] val JlDim = 16

  /** q216's deterministic Achlioptas sign: +1 / -1 each with
    * probability ~1/6 (16/97), 0 otherwise. i is 1-based (matches
    * element_at / generate_subscripts), j 0-based. */
  private[graft] def jlSign(i: Int, j: Int): Int = {
    val r = (53 * i + 71 * j + 13 * i * j) % 97
    if (r < 16) 1 else if (r < 32) -1 else 0
  }

  /** Quantized embedding column: array<decimal(9,4)>. */
  private def quant(c: String): String =
    s"transform($c, x -> CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4)))"

  /** Exact decimal dot product of two quantized arrays, as double.
    * The accumulator is DECIMAL(30,8), not (38,8): at (38,8) Spark
    * types acc+v at precision 39 > 38 and rounds every accumulation
    * step to scale 7 (allowPrecisionLoss) — a ~e-7 drift the final
    * round(...,4) used to mask. At (30,8) each add is precision 31 and
    * the sum is exact. */
  private[operators] def dotExpr(a: String, b: String): String =
    s"CAST(aggregate(zip_with($a, $b, (x, y) -> x * y), " +
      s"CAST(0 AS DECIMAL(30,8)), (acc, v) -> CAST(acc + v AS DECIMAL(30,8))) AS DOUBLE)"

  private[operators] def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("qv", expr(quant("embedding")))
      .withColumn("nrm", expr(dotExpr("qv", "qv")))

  /** Shared oracle CTE: per-element quantized rows + per-vector norms. */
  private[operators] val oracleBase: String =
    """e AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 4) AS DECIMAL(9,4)) AS v
      |  FROM embeddings),
      |nrm AS (SELECT vec_id, CAST(sum(v * v) AS DOUBLE) AS nrm FROM e GROUP BY vec_id)""".stripMargin

  private def oracleTopK(cellFilter: String): String =
    s"""WITH $oracleBase,
       |dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum(a.v * b.v) AS DOUBLE) AS dot
       |  FROM e a JOIN e b ON a.i = b.i
       |  WHERE a.vec_id < $QueryVecs AND b.vec_id <> a.vec_id $cellFilter
       |  GROUP BY 1, 2),
       |cos AS (
       |  SELECT d.query_id, d.neighbor_id,
       |    round(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS sim
       |  FROM dots d
       |  JOIN nrm na ON na.vec_id = d.query_id
       |  JOIN nrm nb ON nb.vec_id = d.neighbor_id)
       |SELECT query_id, neighbor_id, sim, rk FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    rank() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM cos)
       |WHERE rk <= $TopK""".stripMargin

  /** Exact-decimal scored (query, neighbor) pairs — the shared scoring
    * stage of q31/q32. */
  private[graft] def scoredPairs(s: SparkSession, dir: String, sameCell: Boolean): DataFrame = {
    val c = corpus(s, dir)
    val queries = c.filter(col("vec_id") < QueryVecs)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("qv").as("qa"), col("nrm").as("na"))
    // explicit-N pin on the streamed corpus side (SCALE.md §4, the
    // semAssign rule): the embeddings parquet scans as ONE task, and
    // without the pin the broadcast join AND every per-pair exact-
    // decimal dot under it ran serially on that single partition
    val targets = c
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
        col("qv").as("qb"), col("nrm").as("nb"))
    val joinCond =
      if (sameCell) col("query_id") =!= col("neighbor_id") && col("q_label") === col("n_label")
      else col("query_id") =!= col("neighbor_id")
    targets
      .join(broadcast(queries), joinCond)
      .withColumn("sim", round(expr(dotExpr("qa", "qb")) / (sqrt(col("na")) * sqrt(col("nb"))), 4))
  }

  /** Window-rank top-k — the declared EXACT BASELINE shape (q31 only;
    * the scale paths q32/q34 use [[boundedTopK]] instead). */
  private[graft] def sparkTopK(s: SparkSession, dir: String, sameCell: Boolean): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scoredPairs(s, dir, sameCell)
      .withColumn("rk", rank().over(w))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rk"))
  }

  /** Per-query top-k via the k-bounded aggregator — the SCALE shape: a
    * `Window.partitionBy(query_id)` caps parallelism at #queries (10
    * queries → 10 tasks, each sorting its query's whole scored corpus);
    * the aggregator keeps scoring parallelism at #partitions and ships
    * at most k rows per query into the shuffle. (sim desc, neighbor_id)
    * is a total order, so buffer position ≡ row_number ≡ rank — q78
    * proves the aggregator exact against row_number. */
  private[graft] def boundedTopK(scored: DataFrame): DataFrame = {
    val topk = org.apache.spark.sql.functions.udaf(new BoundedTopKD(TopK),
      org.apache.spark.sql.Encoders.product[ScoredD])
    scored.groupBy(col("query_id"))
      .agg(topk(col("sim").cast("double"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk.xs")))
      .select(col("query_id"), col("col.k").as("neighbor_id"),
        col("col.s").as("sim"), (col("pos") + 1).cast("int").as("rk"))
  }

  /** Session-cached exact brute-force top-k, computed ONCE per (session,
    * sfDir) and shared as the agreement REFERENCE by q34 and q90 —
    * previously each of them re-ran the whole decimal brute-force.
    * q31 itself does NOT read this frame explicitly: its registered
    * query is the plain brute-force plan. Inside the knn cache family
    * (Graft.cacheFamilies) the CacheManager substitutes the identical
    * cached subtree, so an in-suite bench rep of q31 reads the shared
    * artifact like every other family member; the isolated brute-force
    * cost is measured with SPARK_GRAFT_BENCH_ONLY=q31_knn_bruteforce
    * (which stages nothing else). */
  private val exactCache = new SessionCache[DataFrame]
  private[operators] def exactTopK(s: SparkSession, dir: String): DataFrame =
    exactCache.getOrElseUpdate(s, dir) {
      sparkTopK(s, dir, sameCell = false).cache()
    }

  /** Session-cached per-vector assignment frame (vec_id, embedding, iv,
    * nl, cid, cd) for the COMPUTED k = max(8, floor(sqrt n)) codebook —
    * q205's staging, shared with q218 through the registry (both sit in
    * the semdedup cache family, so one clearCaches boundary owns it).
    * q90's codebook/assignment shape, with the codebook size scaled to
    * the corpus: centroids ride as ONE broadcast array row; the Θ(n·k)
    * distance work is the native integer sq_dist_long kernel over
    * ten-thousandths (what makes k=Θ(sqrt n) assignment affordable).
    * array_min over (d, cid) structs also hands back d — the distance
    * to the ASSIGNED centroid, which is q205's keep-rank and q218's
    * prune-rank. Explicit-N repartition: the corpus parquet can scan as
    * a few tasks, which would serialize the CPU-dense assignment
    * (SCALE.md §4 pinning rule). */
  /** Quantization of `embedding` onto the 1e-4 integer grid — the
    * cross-engine-exact vector representation every integer kernel
    * reads. Shared verbatim with the streaming semantic-dedup kernel
    * ([[graft.streaming.StreamSemDedup]]). */
  private[graft] val ivExpr: String =
    s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))"

  /** Nearest-centroid assignment over a `cents` array column of
    * (cid, icv) structs and an `iv` integer vector: the (d, cid) struct
    * of the ASSIGNED centroid (array_min tie-breaks on distance then
    * cid — deterministic). Shared verbatim by [[semAssign]] (q205/q218/
    * q232's staging) and [[graft.streaming.StreamSemDedup]]'s scan-side
    * ingest assignment. */
  private[graft] val cellAssignExpr: String =
    "array_min(transform(cents, ct -> named_struct(" +
      "'d', sq_dist_long(iv, ct.icv), 'cid', ct.cid)))"

  private val semAssignCache = new SessionCache[DataFrame]
  private[operators] def semAssign(s: SparkSession, dir: String): DataFrame =
    semAssignCache.getOrElseUpdate(s, dir) {
      graft.plans.GraftFunctions.register(s)
      val N = s.sparkContext.defaultParallelism
      val kk = Tables.embeddings(s, dir).agg(
        greatest(lit(8L), floor(sqrt(count(lit(1)).cast("double"))).cast("long"))
          .as("k"))
      val cI = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), expr(ivExpr).as("iv"))
      val centsArr = cI.crossJoin(broadcast(kk))
        .filter(col("vec_id") < col("k"))
        .select(struct(col("vec_id").as("cid"), col("iv").as("icv")).as("ct"))
        .agg(sort_array(collect_list(col("ct"))).as("cents"))
      cI.repartition(N)
        .crossJoin(broadcast(centsArr))
        .withColumn("m", expr(cellAssignExpr))
        .select(col("vec_id"), col("embedding"), col("iv"),
          call_function("dot_long", col("iv"), col("iv")).as("nl"),
          col("m.cid").as("cid"), col("m.d").as("cd"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Session-cached codegen-path top-k ids (q34's `fast` frame): feeds
    * both the agreement semi-join and the top_ids aggregate — uncached
    * it would run the codegen scan twice per execution (and re-calling
    * .cache() per run would spam CacheManager warnings). */
  private val fastCache = new SessionCache[DataFrame]
  private def fastTopK(s: SparkSession, dir: String): DataFrame =
    fastCache.getOrElseUpdate(s, dir) {
      graft.plans.GraftFunctions.register(s)
      val c = Tables.embeddings(s, dir)
      val queries = c.filter(col("vec_id") < QueryVecs)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val scored = c.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
        .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", call_function("cosine_sim", col("qe"), col("ne")))
      boundedTopK(scored)
        .select(col("query_id"), col("neighbor_id"))
        .cache()
    }

  val defs: Seq[QueryDef] = Seq(
    q("q31_knn_bruteforce",
      """Brute-force cosine top-5 for 10 query vectors against the full
        |corpus: broadcast the queries, score array-natively (zip_with +
        |aggregate, exact decimal accumulation), window top-k per query.
        |The exact-search baseline every ANN variant is judged against.
        |Returns the plain brute-force plan; q34/q90 read the same
        |result through a session cache, and in-suite bench reps reuse
        |it too via CacheManager subtree substitution (knn cache
        |family — see the exactCache scaladoc).""".stripMargin,
      oracleTopK("")) { (s, dir) => sparkTopK(s, dir, sameCell = false) },

    q("q34_knn_codegen",
      """Fast-path brute-force top-5 using the native codegen'd
        |cosine_sim expression (graft.plans.CosineSimilarity): one fused
        |dot+norms loop inlined into whole-stage codegen, float math.
        |Same shape as q31 but the scale path. Float scores are not
        |oracle-comparable bit-for-bit, so the query validates itself
        |against the exact-decimal ranking instead: per query it emits
        |the codegen top-5 id set (sorted, CSV) and the size of its
        |intersection with q31's exact top-5. The oracle asserts FULL
        |agreement — the float error (~1e-7 relative) is orders of
        |magnitude below the observed score gaps, and intra-top-5 order
        |differences don't affect the set — so any real divergence in
        |the codegen path turns the row red.""".stripMargin,
      s"""SELECT query_id,
         |  CAST($TopK AS BIGINT) AS n_agree,
         |  array_to_string(list_sort(list(neighbor_id)), ',') AS top_ids
         |FROM (${oracleTopK("")})
         |GROUP BY query_id""".stripMargin) { (s, dir) =>
      // bounded-aggregator top-k (scale shape, see boundedTopK),
      // session-cached (see fastTopK); the exact reference comes from
      // the session cache shared with q31, not recomputed here
      val fast = fastTopK(s, dir)
      val exact = exactTopK(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val agree = fast.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_agree"))
      fast.groupBy(col("query_id"))
        .agg(array_join(transform(sort_array(collect_list(col("neighbor_id"))),
          n => n.cast("string")), ",").as("top_ids"))
        .join(broadcast(agree), Seq("query_id"))
        .select(col("query_id"), col("n_agree"), col("top_ids"))
    },

    q("q36_neardup_embedding",
      """Embedding-cosine near-dup pairs (the semantic-dedup variant):
        |all same-cell pairs (a<b) with quantized cosine >= 0.4 — EXACT
        |pair semantics within cells. The pair ENUMERATION is
        |irreducibly quadratic per cell at this threshold: cos >= 0.4
        |is a 66-degree cone, and in 64 dims random pairs concentrate
        |near 90 degrees, so no sound metric prune (pivot/centroid
        |triangle bounds, block-norm Cauchy-Schwarz) separates them,
        |and sign-LSH at 66 degrees needs bands so short they saturate.
        |That makes the CONSTANT the whole game: the candidate join
        |carries only (id, cell, float vector); the codegen'd cosine
        |prescreen (margin 0.05 >> quantization+float error ~1e-3)
        |runs inside the join pipeline; only the tiny survivor set
        |joins back to the corpus for the exact-decimal rescore. The
        |pre-round-13 plan dragged both sides' decimal arrays + norms
        |(~2 KB/pair) through every candidate row — 29.7x for 10x data
        |at sf1 (SCALE.md §8). At 100 TB the scale knob is cell
        |granularity: subdivide cells with q90's IVF assignment and
        |accept its measured recall trade — this exact-within-cell
        |contract is the baseline that measures that trade.""".stripMargin,
      s"""WITH $oracleBase,
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |dots AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    CAST(sum(a.v * b.v) AS DOUBLE) AS dot
         |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id AND a.label = b.label
         |  GROUP BY 1, 2)
         |SELECT d.vec_a, d.vec_b,
         |  round(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS sim
         |FROM dots d
         |JOIN nrm na ON na.vec_id = d.vec_a
         |JOIN nrm nb ON nb.vec_id = d.vec_b
         |WHERE round(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) >= 0.4""".stripMargin) { (s, dir) =>
      // Two-phase: a codegen'd float prescreen (cosine_sim, one fused
      // loop) over COMPACT rows — (id, cell, float vector) only, never
      // the decimal arrays — drops the vast majority of pairs inside
      // the join's output pipeline; survivors (bounded by the true
      // near-dup count) join back to the corpus for the exact-decimal
      // rescore. The 0.05 margin dwarfs the max quantization+float
      // error (~1e-3), so the final exact filter returns exactly the
      // oracle's pairs — generic sketch-then-verify, with the sketch
      // row kept as small as the arithmetic allows.
      graft.plans.GraftFunctions.register(s)
      val slim = graft.Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding"))
      val a = slim.select(col("vec_id").as("vec_a"), col("label").as("la"),
        col("embedding").as("ea"))
      val b = slim.select(col("vec_id").as("vec_b"), col("label").as("lb"),
        col("embedding").as("eb"))
      // The prescreen exchange is CPU-dense and byte-cheap (a 5 MB
      // corpus file scans as ONE task, which would then run the whole
      // quadratic loop serially) — SCALE.md §4's pinning rule:
      // explicit-N repartition (AQE-coalescing-exempt) spreads the
      // streamed side at cluster parallelism; the build side is one
      // broadcast of the compact corpus.
      val surv = a.repartition(s.sparkContext.defaultParallelism)
        .join(broadcast(b), col("vec_a") < col("vec_b") && col("la") === col("lb"))
        .filter(call_function("cosine_sim", col("ea"), col("eb")) >= 0.4 - 0.05)
        .select(col("vec_a"), col("vec_b"))
      val c = corpus(s, dir)
      val ca = c.select(col("vec_id").as("vec_a"), col("qv").as("qa"), col("nrm").as("na"))
      val cb = c.select(col("vec_id").as("vec_b"), col("qv").as("qb"), col("nrm").as("nb"))
      surv.join(ca, Seq("vec_a")).join(cb, Seq("vec_b"))
        .withColumn("sim", round(expr(dotExpr("qa", "qb")) / (sqrt(col("na")) * sqrt(col("nb"))), 4))
        .filter(col("sim") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("sim"))
    },

    q("q32_knn_ivf_cell",
      """IVF-style cell-restricted top-5: identical scoring but the
        |candidate set is pruned to the query's coarse cell (label =
        |k-means cell stand-in). The equi-join on cell id is the inverted
        |file: at scale the corpus is hash-partitioned by cell and each
        |query probes one partition instead of scanning all.""".stripMargin,
      oracleTopK("AND b.label = a.label")) { (s, dir) =>
      boundedTopK(scoredPairs(s, dir, sameCell = true)) },

    q("q90_knn_ivf_probe",
      """TRUE IVF multi-probe ANN — the real inverted-file mechanism,
        |not q32's label-as-cell stand-in: cells come from the 8 k-means
        |centroids q79 trains (vec_id 0..7), every corpus vector is
        |assigned to its nearest cell SCAN-SIDE (the 8 centroids ride
        |along as one broadcast array row; argmin is array_min over a
        |transform — no shuffle, no per-centroid row blowup), each query
        |probes its nprobe=2 nearest cells, and only vectors in probed
        |cells are scored (exact decimal cosine) through the k-bounded
        |top-k aggregator. ONE shuffle total (the final per-query agg).
        |n_in_exact reports, per query, how many of the 5 IVF results
        |appear in the exact brute-force top-5 (the session-cached q31
        |frame) — the honest ANN recall metric, and the oracle recomputes
        |it independently, so both the cell geometry AND the recall
        |accounting are pinned cross-engine. All arithmetic is exact
        |decimal, so assignments, probes, ranks and recall agree
        |bit-for-bit between engines.""".stripMargin,
      s"""WITH $oracleBase,
         |allcos AS (
         |  SELECT d.query_id, d.neighbor_id,
         |    round(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS sim
         |  FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      CAST(sum(a.v * b.v) AS DOUBLE) AS dot
         |    FROM e a JOIN e b ON a.i = b.i
         |    WHERE a.vec_id < $QueryVecs AND b.vec_id <> a.vec_id
         |    GROUP BY 1, 2) d
         |  JOIN nrm na ON na.vec_id = d.query_id
         |  JOIN nrm nb ON nb.vec_id = d.neighbor_id),
         |exact5 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      rank() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |    FROM allcos) WHERE rk <= $TopK),
         |cent AS (SELECT vec_id AS cid, i, v AS cv FROM e WHERE vec_id < $Cells),
         |cdist AS (
         |  SELECT a.vec_id, c.cid,
         |    CAST(sum(CAST((a.v - c.cv) * (a.v - c.cv) AS DECIMAL(38,8)))
         |         AS DECIMAL(38,8)) AS d
         |  FROM e a JOIN cent c ON a.i = c.i
         |  GROUP BY 1, 2),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM cdist) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM cdist WHERE vec_id < $QueryVecs) WHERE rn <= $NProbe),
         |ivf5 AS (
         |  SELECT query_id, neighbor_id, sim, rk FROM (
         |    SELECT c.query_id, c.neighbor_id, c.sim,
         |      rank() OVER (PARTITION BY c.query_id
         |                   ORDER BY c.sim DESC, c.neighbor_id) AS rk
         |    FROM allcos c
         |    JOIN assign t ON t.vec_id = c.neighbor_id
         |    JOIN probes p ON p.query_id = c.query_id AND p.cid = t.cid)
         |  WHERE rk <= $TopK),
         |agree AS (
         |  SELECT i.query_id, count(*) AS n_in_exact
         |  FROM ivf5 i JOIN exact5 x
         |    ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
         |  GROUP BY 1)
         |SELECT i.query_id, i.neighbor_id, i.sim, i.rk,
         |  coalesce(g.n_in_exact, 0) AS n_in_exact
         |FROM ivf5 i LEFT JOIN agree g ON g.query_id = i.query_id""".stripMargin) { (s, dir) =>
      val c = corpus(s, dir)
      // the whole codebook as ONE broadcast array row (8 structs),
      // sorted by cid so ties in distance break toward the lower cid on
      // both engines
      val centsArr = c.filter(col("vec_id") < Cells)
        .select(struct(col("vec_id").as("cid"), col("qv").as("cv")).as("ct"))
        .agg(sort_array(collect_list(col("ct"))).as("cents"))
      // per-row distances to all 8 centroids, computed scan-side with
      // nested higher-order functions — assignment never shuffles and
      // never multiplies rows
      val cdsExpr = "transform(cents, ct -> named_struct(" +
        "'d', aggregate(zip_with(qv, ct.cv, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS DECIMAL(30,8)), (acc, v) -> CAST(acc + v AS DECIMAL(30,8))), " +
        "'cid', ct.cid))"
      // explicit-N pin on the corpus (target) branch (SCALE.md §4, the
      // semAssign rule): the embeddings parquet scans as ONE task, so
      // the 8-centroid decimal assignment, the probed-cell join and
      // every surviving pair's exact-decimal cosine below it all ran
      // serially on that single partition — q90's measured plan-breadth
      // variance (VERDICT r16 #2) was one fat task, not the probe union
      val base = c
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        .crossJoin(broadcast(centsArr)).withColumn("cds", expr(cdsExpr))
      val targets = base.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("nrm").as("nb"), expr("array_min(cds).cid").as("cid"))
      val probes = c.filter(col("vec_id") < QueryVecs)
        .crossJoin(broadcast(centsArr)).withColumn("cds", expr(cdsExpr))
        .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("nrm").as("na"),
          explode(expr(s"transform(slice(array_sort(cds), 1, $NProbe), x -> x.cid)")).as("pcid"))
      val scored = targets
        .join(broadcast(probes),
          col("cid") === col("pcid") && col("query_id") =!= col("neighbor_id"))
        .withColumn("sim",
          round(expr(dotExpr("qa", "qb")) / (sqrt(col("na")) * sqrt(col("nb"))), 4))
      val ivf5 = boundedTopK(scored)
      val agree = ivf5
        .join(broadcast(exactTopK(s, dir).select(col("query_id"), col("neighbor_id"))),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_in_exact"))
      ivf5.join(broadcast(agree), Seq("query_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rk"),
          coalesce(col("n_in_exact"), lit(0L)).as("n_in_exact"))
    },

    q("q205_semdedup",
      """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 "SemDeDup:
        |Data-efficient learning at web-scale through semantic
        |deduplication"): the published embedding-level dedup step —
        |cluster the corpus with k-means, find within-cluster pairs
        |above a cosine threshold, and from each such pair KEEP the
        |example FARTHEST from its centroid (the paper keeps the item
        |with the lowest similarity to the centroid to preserve
        |outliers/diversity; here that rank is the same exact-decimal
        |squared distance the assignment already computed, ties to the
        |lower vec_id). Distinct from q36, which ENUMERATES near-dup
        |pairs inside given cells — this is the SELECTION operator:
        |computed k-means cells (scan-side broadcast argmin, ties to
        |lower cid), a removal DECISION per document, and a per-cluster
        |keep/remove census (k rows out). The cluster count is the
        |paper's own scale knob (k~11k on LAION) and here it is LIVE,
        |not cited: k = max(8, floor(sqrt(n))) centroids (vec_id < k,
        |deterministic seeding; IEEE sqrt is correctly rounded so both
        |engines derive the same k from the same count). Fixed k is
        |exactly the §4 sketch-saturation class — pair space n²/2k goes
        |quadratic at fixed k (measured: 41x wall-clock for 30x data at
        |k=8, SCALE.md §8) — while k=Θ(sqrt n) bounds total pair work
        |at Θ(n^1.5) and was measured back under the scan envelope.
        |Assignment never shuffles (codebook rides as ONE broadcast
        |array row; the Θ(n·k) distance work is the native integer
        |sq_dist_long kernel over ten-thousandths, not a decimal HOF
        |fold). The pair stage CO-LOCATES BY CELL — compact (id, cell,
        |cd, float vec) rows hash-partitioned on cid at explicit N
        |(cells are ~sqrt n rows, balanced by construction; a
        |whole-corpus broadcast, q36's shape, cannot ship at 100 TB)
        |into a SHUFFLE_HASH self-join, with the codegen'd float
        |cosine prescreen (margin 0.05 >> ~1e-3 max quantization+float
        |error) inside the join pipeline. The exact-decimal rescore
        |runs on SURVIVOR-sized rows only: survivors broadcast onto
        |plain float scans and the quantize/norm/dot decimal math
        |happens after the joins, never corpus-wide. The removal set
        |(bounded by true near-dup count) broadcasts back onto the
        ||corpus|-row assignment for the final k-row census. The
        |compact assignment frame is staged once in a registry-managed
        |SessionCache shared with q218 (both sit in one cache family):
        |it feeds both prescreen sides, the census, and q218's
        |quartile rank.""".stripMargin,
      s"""WITH $oracleBase,
         |kk AS (SELECT greatest(8, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
         |         AS BIGINT)) AS k FROM embeddings),
         |iv AS (SELECT vec_id, i, CAST(v * 10000 AS BIGINT) AS x FROM e),
         |cent AS (SELECT c.vec_id AS cid, c.i, c.x AS cx
         |         FROM iv c, kk WHERE c.vec_id < kk.k),
         |cdist AS (
         |  SELECT a.vec_id, c.cid,
         |    CAST(sum((a.x - c.cx) * (a.x - c.cx)) AS BIGINT) AS d
         |  FROM iv a JOIN cent c ON a.i = c.i
         |  GROUP BY 1, 2),
         |assign AS (SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM cdist) WHERE rn = 1),
         |nl AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nl FROM iv GROUP BY 1),
         |dots AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |    CAST(sum(a.x * b.x) AS BIGINT) AS dl
         |  FROM iv a JOIN iv b ON a.i = b.i AND a.vec_id < b.vec_id
         |  JOIN assign sa ON sa.vec_id = a.vec_id
         |  JOIN assign sb ON sb.vec_id = b.vec_id AND sa.cid = sb.cid
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT d.va, d.vb,
         |    round((CAST(d.dl AS DOUBLE) / 1e8) /
         |      (sqrt(CAST(na.nl AS DOUBLE) / 1e8)
         |        * sqrt(CAST(nb.nl AS DOUBLE) / 1e8)), 4) AS sim
         |  FROM dots d
         |  JOIN nl na ON na.vec_id = d.va
         |  JOIN nl nb ON nb.vec_id = d.vb
         |  WHERE round((CAST(d.dl AS DOUBLE) / 1e8) /
         |      (sqrt(CAST(na.nl AS DOUBLE) / 1e8)
         |        * sqrt(CAST(nb.nl AS DOUBLE) / 1e8)), 4) >= $SemDedupTau),
         |rm AS (
         |  SELECT DISTINCT CASE WHEN sa.d > sb.d THEN p.vb
         |                       WHEN sa.d < sb.d THEN p.va
         |                       ELSE greatest(p.va, p.vb) END AS vec_id
         |  FROM pairs p
         |  JOIN assign sa ON sa.vec_id = p.va
         |  JOIN assign sb ON sb.vec_id = p.vb)
         |SELECT a.cid AS centroid_id, CAST(count(*) AS BIGINT) AS n_assigned,
         |  CAST(count(r.vec_id) AS BIGINT) AS n_removed,
         |  CAST(count(*) - count(r.vec_id) AS BIGINT) AS n_kept
         |FROM assign a LEFT JOIN rm r ON r.vec_id = a.vec_id
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val N = s.sparkContext.defaultParallelism
      val slim = semAssign(s, dir)
      // pair stage: CO-LOCATE BY CELL, don't broadcast the corpus —
      // a whole-corpus broadcast (q36's shape) is fine for fixed tiny
      // cells but is exactly what cannot ship at 100 TB; with
      // k=Θ(sqrt n) cells of ~sqrt n rows each, a hash-partition on
      // cid is balanced by construction and each partition holds whole
      // cells. Explicit-N repartition on the join key both pins the
      // CPU-dense exchange at cluster parallelism (§4 rule — the
      // bytes are tiny, the per-pair cosine work is not) and already
      // satisfies the join's required distribution, so the
      // SHUFFLE_HASH join adds no further exchange. The prescreen
      // rows stay compact: float vec for the codegen cosine, nothing
      // else rides along.
      val a = slim.select(col("vec_id").as("vec_a"), col("cid").as("ca"),
        col("embedding").as("ea"))
        .repartition(N, col("ca"))
      val b = slim.select(col("vec_id").as("vec_b"), col("cid").as("cb"),
        col("embedding").as("eb"))
        .repartition(N, col("cb"))
      val surv = a
        .join(b.hint("SHUFFLE_HASH"),
          col("ca") === col("cb") && col("vec_a") < col("vec_b"))
        .filter(call_function("cosine_sim", col("ea"), col("eb")) >= SemDedupTau - 0.05)
        .select(col("vec_a"), col("vec_b"))
      // exact rescore: survivors are output-sized (the TRUE near-dup
      // pair count — on a replica-heavy corpus that is legitimately
      // large, so neither side may assume broadcastability) and join
      // back to the staged assignment by id through SHUFFLE_HASH
      // equi-joins (SMJ would sort the 64-long vectors with the rows —
      // the q130 lesson). The cosine divides exact-integer-sourced
      // doubles: long dot/norms are exact below 2^53, each /1e8 and
      // the final division round once — both engines reproduce every
      // sim bit-for-bit with no decimal->double cast hazard, and the
      // per-pair cost is one native dot_long call.
      val ivA = slim.select(col("vec_id").as("vec_a"), col("iv").as("iva"),
        col("nl").as("nla"), col("cd").as("cda"))
      val ivB = slim.select(col("vec_id").as("vec_b"), col("iv").as("ivb"),
        col("nl").as("nlb"), col("cd").as("cdb"))
      val removed = surv
        .join(ivA.hint("SHUFFLE_HASH"), Seq("vec_a"))
        .join(ivB.hint("SHUFFLE_HASH"), Seq("vec_b"))
        .withColumn("sim", round(
          (call_function("dot_long", col("iva"), col("ivb")).cast("double") / lit(1e8)) /
            (sqrt(col("nla").cast("double") / lit(1e8)) *
              sqrt(col("nlb").cast("double") / lit(1e8))), 4))
        .filter(col("sim") >= SemDedupTau)
        .select(when(col("cda") > col("cdb"), col("vec_b"))
          .when(col("cda") < col("cdb"), col("vec_a"))
          .otherwise(greatest(col("vec_a"), col("vec_b"))).as("vec_id"))
        .distinct()
        .withColumn("rm", lit(1L))
      slim.select(col("vec_id"), col("cid"))
        .join(broadcast(removed), Seq("vec_id"), "left")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_assigned"),
          sum(coalesce(col("rm"), lit(0L))).cast("long").as("n_removed"))
        .select(col("cid").as("centroid_id"), col("n_assigned"), col("n_removed"),
          (col("n_assigned") - col("n_removed")).as("n_kept"))
    },

    // ----------------------------------------------------------------
    q("q218_prototype_pruning",
      """SSL-prototype data pruning (Sorscher et al. 2022, NeurIPS
        |"Beyond neural scaling laws: beating power-law scaling via
        |data pruning"): rank every example by distance to its cluster
        |prototype and DROP the closest quartile — the most
        |prototypical, most redundant examples — keeping the hard ones
        |(the paper's rule in the abundant-data regime; D4, Tirumala
        |et al. 2023, chains exactly this pruning after SemDeDup). The
        |complement of q205's keep-farthest rule, on the SAME staged
        |assignment: both queries read one SessionCache inside one
        |cache family (the SCALE.md branch-reuse rule). Ranks are the
        |exact integer sq_dist_long ten-thousandths the assignment
        |already computed, ties to the lower vec_id; the per-cell
        |quartile is a row_number window PARTITIONED BY CELL — cells
        |are ~sqrt n rows by construction, never a global window.
        |Census out: per cell, assigned / pruned (= n DIV 4) / kept
        |counts and the pruned band's ceiling distance (null when the
        |cell is too small to prune).""".stripMargin,
      s"""WITH $oracleBase,
         |kk AS (SELECT greatest(8, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
         |         AS BIGINT)) AS k FROM embeddings),
         |iv AS (SELECT vec_id, i, CAST(v * 10000 AS BIGINT) AS x FROM e),
         |cent AS (SELECT c.vec_id AS cid, c.i, c.x AS cx
         |         FROM iv c, kk WHERE c.vec_id < kk.k),
         |cdist AS (
         |  SELECT a.vec_id, c.cid,
         |    CAST(sum((a.x - c.cx) * (a.x - c.cx)) AS BIGINT) AS d
         |  FROM iv a JOIN cent c ON a.i = c.i
         |  GROUP BY 1, 2),
         |assign AS (SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM cdist) WHERE rn = 1),
         |rk AS (
         |  SELECT vec_id, cid, d,
         |    row_number() OVER (PARTITION BY cid ORDER BY d, vec_id) AS rn,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n
         |  FROM assign)
         |SELECT cid AS centroid_id,
         |  CAST(max(n) AS BIGINT) AS n_assigned,
         |  CAST(sum(CASE WHEN rn <= n // 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
         |  CAST(sum(CASE WHEN rn > n // 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  max(CASE WHEN rn <= n // 4 THEN d END) AS prune_ceiling_d
         |FROM rk GROUP BY 1""".stripMargin) { (s, dir) =>
      val slim = semAssign(s, dir).select(col("vec_id"), col("cid"), col("cd"))
      val cellN = slim.groupBy(col("cid"))
        .agg(count(lit(1)).cast("bigint").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("cd"), col("vec_id"))
      slim.withColumn("rn", row_number().over(w))
        .join(broadcast(cellN), Seq("cid"))
        .withColumn("pruned", col("rn") <= expr("n DIV 4"))
        .groupBy(col("cid"))
        .agg(max(col("n")).as("n_assigned"),
          sum(when(col("pruned"), 1L).otherwise(0L)).cast("bigint").as("n_pruned"),
          sum(when(col("pruned"), 0L).otherwise(1L)).cast("bigint").as("n_kept"),
          max(when(col("pruned"), col("cd"))).as("prune_ceiling_d"))
        .select(col("cid").as("centroid_id"), col("n_assigned"),
          col("n_pruned"), col("n_kept"), col("prune_ceiling_d"))
    },

    // ----------------------------------------------------------------
    {
      val K = 8
      val rounds = (2 to K).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT a.vec_id, CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d
           |  FROM iv a JOIN iv b ON a.i = b.i
           |  WHERE b.vec_id IN (SELECT vec_id FROM sel${r - 1})
           |    AND a.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
           |  GROUP BY a.vec_id, b.vec_id),
           |p$r AS MATERIALIZED (SELECT vec_id, min(d) AS md FROM d$r GROUP BY 1
           |        ORDER BY md DESC, vec_id LIMIT 1),
           |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL
           |          SELECT CAST($r AS BIGINT), vec_id, md FROM p$r)""".stripMargin
      }.mkString(",\n")
      q("q209_kcenter_coreset",
        """Greedy k-center coreset selection (Gonzalez 1985 farthest-
          |point traversal; Sener & Savarese, ICLR 2018 use it as the
          |coreset picker for deep active learning): seed with the
          |lowest vec_id, then 7 times pick the point FARTHEST from the
          |selected set (max over candidates of min squared distance to
          |any center, ties to the lower id) — pure COVERAGE selection,
          |complementing q176's MMR (relevance-vs-redundancy) and q205
          |(near-dup removal): the picked 8 are a 2-approximation of
          |the best 8-center cover of the embedding space. All
          |distances are exact BIGINT squared distances on the 4-decimal
          |fixed-point grid (the q205 sq_dist_long kernel), so both
          |engines walk the identical greedy path. Scale shape: the
          |corpus stages ONCE as a compact (id, int-vector) frame at
          |explicit N (the §4 CPU-dense pinning rule); each of the k
          |rounds is one codegen map over that frame (centers ride as a
          |k x dim literal broadcast) + a TakeOrdered(1) — the driver
          |holds k ids and k distances, never data (the q129 single-
          |row-per-round precedent). k corpus passes is the known price
          |of the exact 2-approximation; the frame they re-read holds
          |int vectors only.""".stripMargin,
        // every selN/pN/dN CTE is MATERIALIZED: DuckDB inlines plain
        // CTEs, and each round references the previous selection three
        // times — inlined, the 8-round chain re-evaluates the distance
        // aggregate O(3^k) times
        s"""WITH $oracleBase,
           |iv AS MATERIALIZED (SELECT vec_id, i, CAST(v * 10000 AS BIGINT) AS x FROM e),
           |sel1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS pick_order, vec_id,
           |                CAST(0 AS BIGINT) AS min_sq_dist
           |         FROM (SELECT vec_id FROM iv GROUP BY 1 ORDER BY vec_id LIMIT 1)),
           |$rounds
           |SELECT pick_order, vec_id, min_sq_dist FROM sel$K""".stripMargin) { (s, dir) =>
        graft.plans.GraftFunctions.register(s)
        val N = s.sparkContext.defaultParallelism
        val staged = Tables.embeddings(s, dir)
          .select(col("vec_id"),
            expr(s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))")
              .as("iv"))
          .repartition(N)
          .transform(graft.Graft.stagedCheckpoint)
        val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val centers = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
        staged.orderBy(col("vec_id")).limit(1).collect().foreach { r =>
          picks += ((1L, r.getLong(0), 0L))
          centers += r.getSeq[Long](1)
        }
        var round = 2
        var exhausted = picks.isEmpty
        while (round <= K && !exhausted) {
          val chosen = picks.map(_._2).toSeq
          val far = staged
            .filter(!col("vec_id").isin(chosen: _*))
            .withColumn("cents", typedLit(centers.toSeq))
            .withColumn("d", expr("array_min(transform(cents, c -> sq_dist_long(iv, c)))"))
            .orderBy(col("d").desc, col("vec_id"))
            .limit(1)
            .collect() // exactly ONE row crosses to the driver per round
          if (far.isEmpty) exhausted = true
          else {
            val r = far.head
            picks += ((round.toLong, r.getLong(0), r.getAs[Long]("d")))
            centers += r.getSeq[Long](1)
            round += 1
          }
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pick_order",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("min_sq_dist",
            org.apache.spark.sql.types.LongType, nullable = false)))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          picks.map(p => org.apache.spark.sql.Row(p._1, p._2, p._3)).toList.asJava,
          schema)
      }
    },

    // ----------------------------------------------------------------
    q("q216_jl_projection",
      """Johnson-Lindenstrauss dimensionality reduction by the sparse
        |random projection of Achlioptas 2003 ("Database-friendly
        |random projections"): matrix entries r(i,j) in {+1, 0, -1}
        |with density ~1/3, drawn from a deterministic integer hash
        |((53i + 71j + 13ij) mod 97 -> +1 below 16, -1 below 32, else
        |0) so the SAME matrix materializes on any cluster size or
        |retry — seeded rand() cannot promise that. Embeddings enter
        |on the exact 1e-4 integer grid (the q93/q138 contract), so
        |every projected component is an exact BIGINT signed sum — no
        |float ever crosses the operator. Emitted long-form
        |(vec_id, j, y). At 100 TB this is the memory lever ahead of
        |ANN: 64 dims -> 16 cuts index residency 4x, with the JL
        |distance-preservation guarantee measured (not assumed) in
        |SimilaritySpec over every query pair. Scale shape: the 16
        |components are CONSTANT-FOLDED codegen expressions over the
        |embedding array — the hash runs at plan-build time and the
        |plan carries plain +-element_at sums; zero shuffle, zero
        |join; the stack() unpivot is row-local.""".stripMargin,
      s"""WITH e AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |    CAST(CAST(round(CAST(unnest(embedding) AS DOUBLE), 4) AS DECIMAL(9,4))
         |         * 10000 AS BIGINT) AS xi
         |  FROM embeddings),
         |m AS (
         |  SELECT i.i AS i, j.j AS j,
         |    CASE WHEN (53 * i.i + 71 * j.j + 13 * i.i * j.j) % 97 < 16 THEN 1
         |         WHEN (53 * i.i + 71 * j.j + 13 * i.i * j.j) % 97 < 32 THEN -1
         |         ELSE 0 END AS sgn
         |  FROM range(1, ${JlSrcDim + 1}) i(i), range(0, $JlDim) j(j))
         |SELECT e.vec_id, m.j, CAST(sum(m.sgn * e.xi) AS BIGINT) AS y
         |FROM e JOIN m ON m.i = e.i
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val terms = (0 until JlDim).map { j =>
        val parts = (1 to JlSrcDim).flatMap { i =>
          jlSign(i, j) match {
            case 1  => Some(s"element_at(xq, $i)")
            case -1 => Some(s"(- element_at(xq, $i))")
            case _  => None
          }
        }
        if (parts.isEmpty) "CAST(0 AS BIGINT)" else parts.mkString(" + ")
      }
      // the 16 components project as SEPARATE COLUMNS before the stack:
      // inlined into stack()'s children they all land in Generate's one
      // doConsume method, whose bytecode exceeds the JVM's 64 KB limit
      // — janino fails, and whole-stage codegen SILENTLY fell back to
      // interpreted execution (caught by the bench-log WARN audit; the
      // fallback=false guard in PlanGuardSpec now makes this class of
      // demotion a red test). As projected columns each sum codegens
      // small and Project splits across methods; the Generate then
      // stacks 16 plain attributes.
      val stackArgs = (0 until JlDim)
        .map(j => s"CAST($j AS BIGINT), y$j").mkString(", ")
      Tables.embeddings(s, dir)
        .withColumn("xq", expr(
          "transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4)) * 10000 AS BIGINT))"))
        .selectExpr(("vec_id" +:
          (0 until JlDim).map(j => s"CAST(${terms(j)} AS BIGINT) AS y$j")): _*)
        .selectExpr("vec_id", s"stack($JlDim, $stackArgs) AS (j, y)")
    },

    // ----------------------------------------------------------------
    q("q231_matryoshka_recall",
      """Matryoshka prefix-truncation retrieval audit (Kusupati et al.
        |2022, "Matryoshka Representation Learning"; the deployment
        |recipe is "rank with the first m dimensions, keep the cheap
        |index") — for the 10 query vectors, the top-5 by exact-decimal
        |cosine over ONLY the first 16 of 64 dimensions, and per query
        |how many of the FULL-dimension exact top-5 that truncated
        |ranking recovers (overlap@5). This is q216's JL memory
        |argument made data-dependent: same 4× cut, but measured as a
        |retrieval-quality number, not a distance-distortion bound.
        |The full-dimension reference is the q31/q34/q90 session-cached
        |exact top-k — this query joins the knn cache family. Scale
        |shape: identical to q31's (broadcast 10 queries, scan-side
        |decimal fold on SLICED arrays, per-query rank window over 10
        |partitions) — the truncated fold reads 16 elements where the
        |full one reads 64, which IS the claimed saving.""".stripMargin,
      s"""WITH $oracleBase,
         |dots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(sum(a.v * b.v) AS DOUBLE) AS dot
         |  FROM e a JOIN e b ON a.i = b.i
         |  WHERE a.vec_id < $QueryVecs AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |fullrk AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT d.query_id, d.neighbor_id,
         |      rank() OVER (PARTITION BY d.query_id
         |        ORDER BY round(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) DESC,
         |                 d.neighbor_id) AS rk
         |    FROM dots d
         |    JOIN nrm na ON na.vec_id = d.query_id
         |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
         |  WHERE rk <= $TopK),
         |tn AS (SELECT vec_id, CAST(sum(v * v) AS DOUBLE) AS nrm
         |       FROM e WHERE i <= $JlDim GROUP BY 1),
         |tdots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(sum(a.v * b.v) AS DOUBLE) AS dot
         |  FROM e a JOIN e b ON a.i = b.i
         |  WHERE a.vec_id < $QueryVecs AND b.vec_id <> a.vec_id
         |    AND a.i <= $JlDim
         |  GROUP BY 1, 2),
         |truncrk AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT d.query_id, d.neighbor_id,
         |      rank() OVER (PARTITION BY d.query_id
         |        ORDER BY round(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) DESC,
         |                 d.neighbor_id) AS rk
         |    FROM tdots d
         |    JOIN tn na ON na.vec_id = d.query_id
         |    JOIN tn nb ON nb.vec_id = d.neighbor_id)
         |  WHERE rk <= $TopK)
         |SELECT t.query_id,
         |  CAST(count(f.neighbor_id) AS BIGINT) AS n_agree,
         |  array_to_string(list_sort(list(t.neighbor_id)), ',') AS trunc_ids
         |FROM truncrk t LEFT JOIN fullrk f
         |  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = Tables.embeddings(s, dir)
        .withColumn("qv", expr(s"slice(${quant("embedding")}, 1, $JlDim)"))
        .withColumn("nrm", expr(dotExpr("qv", "qv")))
      val queries = c.filter(col("vec_id") < QueryVecs)
        .select(col("vec_id").as("query_id"), col("qv").as("qa"),
          col("nrm").as("na"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      val trunc = c
        .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
          col("nrm").as("nb"))
        .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
        .withColumn("sim",
          round(expr(dotExpr("qa", "qb")) / (sqrt(col("na")) * sqrt(col("nb"))), 4))
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= TopK)
        .select(col("query_id"), col("neighbor_id"))
      val full = exactTopK(s, dir).select(col("query_id"), col("neighbor_id"))
      val agree = trunc.join(broadcast(full),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).cast("bigint").as("n_agree"))
      trunc.groupBy(col("query_id"))
        .agg(array_join(transform(sort_array(collect_list(col("neighbor_id"))),
          n => n.cast("string")), ",").as("trunc_ids"))
        .join(broadcast(agree), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_agree"), lit(0L)).as("n_agree"), col("trunc_ids"))
    },

    // ----------------------------------------------------------------
    q("q230_sq8_quantization",
      """Scalar int8 quantization audit — the SQ8 compression step every
        |production vector store offers (FAISS's ScalarQuantizer;
        |Guo et al. 2020 cite it as the baseline ANN compression): each
        |vector quantizes to q_j = (127·x_j) div s with per-vector scale
        |s = max|x_j| (symmetric max-abs scheme, the int8 standard),
        |4 bytes → 1 per dimension. The audit reports per vector the
        |scale, the total and worst per-coordinate dequantization error
        ||127·x_j − q_j·s| (exact integers in 127·grid units — x is the
        |1e-4 grid, so every product is int64-exact), and the permille
        |of squared norm the quantized vector retains — the number that
        |says whether downstream cosine rankings survive the 4× memory
        |cut (q231 then measures exactly that for the Matryoshka cut).
        |Both engines truncate integer division toward zero, so the
        |negative components quantize identically. Scale shape:
        |entirely scan-side array HOFs — per-row aggregate() folds,
        |zero shuffle, zero join; output is |vectors| rows.""".stripMargin,
      """WITH iv AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(CAST(round(CAST(unnest(embedding) AS DOUBLE), 4) AS DECIMAL(9,4))
        |         * 10000 AS BIGINT) AS x
        |  FROM embeddings),
        |sc AS (SELECT vec_id, greatest(max(abs(x)), 1) AS s FROM iv GROUP BY 1),
        |qe AS (
        |  SELECT iv.vec_id, iv.x, sc.s,
        |    (127 * iv.x) // sc.s AS qx
        |  FROM iv JOIN sc ON sc.vec_id = iv.vec_id)
        |SELECT vec_id, CAST(max(s) AS BIGINT) AS scale,
        |  CAST(sum(abs(127 * x - qx * s)) AS BIGINT) AS err_sum,
        |  CAST(max(abs(127 * x - qx * s)) AS BIGINT) AS err_max,
        |  CAST((1000 * sum(qx * qx * s * s)) // greatest(sum(127 * 127 * x * x), 1)
        |    AS BIGINT) AS norm_permille
        |FROM qe GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("iv", expr(
          s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))"))
        .withColumn("s", expr(
          "greatest(array_max(transform(iv, x -> abs(x))), CAST(1 AS BIGINT))"))
        .withColumn("qv", expr("transform(iv, x -> (127 * x) DIV s)"))
        .select(col("vec_id"), col("s").as("scale"),
          expr("""CAST(aggregate(zip_with(iv, qv, (x, q) -> abs(127 * x - q * s)),
                 |CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)""".stripMargin)
            .as("err_sum"),
          expr("""CAST(array_max(zip_with(iv, qv, (x, q) -> abs(127 * x - q * s)))
                 |AS BIGINT)""".stripMargin).as("err_max"),
          // greatest(...,1): an all-zero embedding has zero squared norm —
          // the scale already carries this guard; without it here the
          // engines diverge (Spark DIV NULL vs DuckDB // error).
          expr("""CAST((1000 * aggregate(qv, CAST(0 AS BIGINT),
                 |  (acc, q) -> acc + q * q) * s * s)
                 |DIV greatest(127 * 127 * aggregate(iv, CAST(0 AS BIGINT),
                 |  (acc, x) -> acc + x * x), CAST(1 AS BIGINT)) AS BIGINT)""".stripMargin)
            .as("norm_permille"))
    },

    // ----------------------------------------------------------------
    q("q232_clustering_eval",
      """External clustering evaluation — Rand index (Rand 1971) and
        |purity (Manning, Raghavan & Schütze 2008 §16.3) of q205's
        |computed-k cell assignment against the embedding table's
        |ground-truth labels: the audit that says whether the semantic
        |cells the dedup/pruning tier trusts actually track the label
        |structure. All four pair categories (same-same, same cluster/
        |different label, different cluster/same label, different-
        |different) come from the CONTINGENCY table alone — C(n,2)
        |combinatorics over per-(cell, label) counts, never a pair
        |enumeration (n·(n−1)/2 is exact: consecutive integers, the
        |product is even). Rand and purity emit as integer permille.
        |Scale shape: the assignment is the SessionCache q205/q218
        |stage (one cache family); the contingency is ONE
        |(cell, label)-keyed count with map-side combine — state
        |bounded by cells × labels, never vectors; everything after is
        |arithmetic on that tiny frame.""".stripMargin,
      """WITH e AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 4) AS DECIMAL(9,4)) AS v
        |  FROM embeddings),
        |kk AS (SELECT greatest(8, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
        |         AS BIGINT)) AS k FROM embeddings),
        |iv AS (SELECT vec_id, i, CAST(v * 10000 AS BIGINT) AS x FROM e),
        |cent AS (SELECT c.vec_id AS cid, c.i, c.x AS cx
        |         FROM iv c, kk WHERE c.vec_id < kk.k),
        |cdist AS (
        |  SELECT a.vec_id, c.cid,
        |    CAST(sum((a.x - c.cx) * (a.x - c.cx)) AS BIGINT) AS d
        |  FROM iv a JOIN cent c ON a.i = c.i
        |  GROUP BY 1, 2),
        |assign AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM cdist) WHERE rn = 1),
        |lab AS (SELECT DISTINCT vec_id, label FROM e),
        |ct AS (
        |  SELECT a.cid, l.label, count(*)::BIGINT AS nij
        |  FROM assign a JOIN lab l ON l.vec_id = a.vec_id
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(sum(nij) AS BIGINT) AS n,
        |    CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS a_pairs,
        |    count(DISTINCT cid)::BIGINT AS k_cells,
        |    count(DISTINCT label)::BIGINT AS n_labels
        |  FROM ct),
        |rows_ AS (
        |  SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS row_pairs,
        |    CAST(sum(mx) AS BIGINT) AS purity_num
        |  FROM (SELECT cid, CAST(sum(nij) AS BIGINT) AS ai,
        |          CAST(max(nij) AS BIGINT) AS mx FROM ct GROUP BY 1)),
        |cols AS (
        |  SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS col_pairs
        |  FROM (SELECT label, CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY 1))
        |SELECT tot.n, tot.k_cells, tot.n_labels,
        |  tot.a_pairs,
        |  rows_.row_pairs - tot.a_pairs AS b_pairs,
        |  cols.col_pairs - tot.a_pairs AS c_pairs,
        |  tot.n * (tot.n - 1) // 2 - rows_.row_pairs - cols.col_pairs
        |    + tot.a_pairs AS d_pairs,
        |  (1000 * (tot.a_pairs + tot.n * (tot.n - 1) // 2 - rows_.row_pairs
        |    - cols.col_pairs + tot.a_pairs)) // (tot.n * (tot.n - 1) // 2)
        |    AS rand_permille,
        |  (1000 * rows_.purity_num) // tot.n AS purity_permille
        |FROM tot, rows_, cols""".stripMargin) { (s, dir) =>
      val ct = semAssign(s, dir).select(col("vec_id"), col("cid"))
        .join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .groupBy(col("cid"), col("label"))
        .agg(count(lit(1)).cast("bigint").as("nij"))
        .transform(graft.Graft.stagedCheckpoint)
      val tot = ct.agg(sum(col("nij")).cast("bigint").as("n"),
        sum(expr("nij * (nij - 1) DIV 2")).cast("bigint").as("a_pairs"),
        countDistinct(col("cid")).cast("bigint").as("k_cells"),
        countDistinct(col("label")).cast("bigint").as("n_labels"))
      val rows = ct.groupBy(col("cid"))
        .agg(sum(col("nij")).cast("bigint").as("ai"),
          max(col("nij")).cast("bigint").as("mx"))
        .agg(sum(expr("ai * (ai - 1) DIV 2")).cast("bigint").as("row_pairs"),
          sum(col("mx")).cast("bigint").as("purity_num"))
      val cols = ct.groupBy(col("label"))
        .agg(sum(col("nij")).cast("bigint").as("bj"))
        .agg(sum(expr("bj * (bj - 1) DIV 2")).cast("bigint").as("col_pairs"))
      tot.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
        .select(col("n"), col("k_cells"), col("n_labels"), col("a_pairs"),
          (col("row_pairs") - col("a_pairs")).as("b_pairs"),
          (col("col_pairs") - col("a_pairs")).as("c_pairs"),
          expr("""n * (n - 1) DIV 2 - row_pairs - col_pairs + a_pairs""")
            .as("d_pairs"),
          expr("""(1000 * (a_pairs + n * (n - 1) DIV 2 - row_pairs - col_pairs
                 |+ a_pairs)) DIV (n * (n - 1) DIV 2)""".stripMargin)
            .as("rand_permille"),
          expr("(1000 * purity_num) DIV n").as("purity_permille"))
    },

    PQ.q109,
    PQ.q110)
}

/** Product-quantization tier: q109 (pure ADC — the mechanism and its
  * honest recall) and q110 (ADC shortlist + exact re-rank — the
  * production pipeline). One object so the codebook, encoding and LUT
  * construction are provably shared between the two. On isotropic
  * random vectors (this corpus) 12-bit PQ codes are the WORST case —
  * q109's n_in_exact is expectedly low (~0.2 recall@5) and honest;
  * q110 shows the standard fix (exact re-rank of a 200-deep ADC
  * shortlist, ~0.74 recall@5 at sf0.1) without ever scanning the full
  * corpus with exact math.
  */
private[operators] object PQ {
  import Similarity.{boundedTopK, corpus, dotExpr, exactTopK, oracleBase,
    Cells, QueryVecs, TopK}

  private val SubDim = 16
  private val NSub = 4
  private val Shortlist = 200

  /** Shared oracle CTEs (assume [[Similarity.oracleBase]]'s e/nrm are in
    * scope): subspace codewords, per-(vector, subspace, code) exact L2
    * table, nearest-code encoding, ADC distances, plus the exact cosine
    * reference (allcos/exact5, same as q90). */
  private val oracleCtes: String =
    s"""cw AS (SELECT vec_id AS code, (i - 1) // $SubDim AS s, i, v AS cv
       |       FROM e WHERE vec_id < $Cells),
       |d2 AS (
       |  SELECT a.vec_id, c.s, c.code,
       |    CAST(sum(CAST((a.v - c.cv) * (a.v - c.cv) AS DECIMAL(30,8)))
       |         AS DECIMAL(30,8)) AS d
       |  FROM e a JOIN cw c ON a.i = c.i
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
       |    FROM d2) WHERE rn = 1),
       |adc AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
       |    CAST(sum(q.d) AS DECIMAL(30,8)) AS adc
       |  FROM enc t JOIN d2 q ON q.s = t.s AND q.code = t.code
       |  WHERE q.vec_id < $QueryVecs AND t.vec_id <> q.vec_id
       |  GROUP BY 1, 2),
       |allcos AS (
       |  SELECT d.query_id, d.neighbor_id,
       |    round(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS sim
       |  FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      CAST(sum(a.v * b.v) AS DOUBLE) AS dot
       |    FROM e a JOIN e b ON a.i = b.i
       |    WHERE a.vec_id < $QueryVecs AND b.vec_id <> a.vec_id
       |    GROUP BY 1, 2) d
       |  JOIN nrm na ON na.vec_id = d.query_id
       |  JOIN nrm nb ON nb.vec_id = d.neighbor_id),
       |exact5 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      rank() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
       |    FROM allcos) WHERE rk <= $TopK)""".stripMargin

  /** Spark side of the shared PQ pipeline: the ADC-scored candidate
    * frame. Codebook = the subvectors of vec_id 0..7, riding as ONE
    * broadcast array row; target encoding (4 codes per vector) and each
    * query's 4x8 LUT are computed scan-side — no shuffle, no row blowup
    * before the broadcast query join (64 floats become 4 codes, a 32x
    * memory cut at corpus scale). Returns (query_id, neighbor_id,
    * adc exact decimal, adc_d string-bridged double, sim = -adc_d so
    * the k-bounded aggregator's descending order ranks ADC ascending).
    * The string bridge matters: a direct decimal->double cast can be
    * 1 ulp off between engines. */
  /** Session-cached ADC-scored frame, shared by q109 and q110 (both sit
    * in the knn cache family): the PQ encode (4 codes per corpus vector)
    * and the 4x8 exact-decimal LUTs are the expensive scan-side kernels,
    * and both queries consume the identical scored frame — q109 cuts it
    * at top-5, q110 at the 200-deep shortlist. Staging it once per
    * (session, sfDir) is the "encode the corpus once, serve every query
    * depth" shape of a production ANN index build; previously each query
    * re-encoded the whole corpus. */
  private val pqCache = new SessionCache[DataFrame]
  private def adcScored(s: SparkSession, dir: String): DataFrame =
    pqCache.getOrElseUpdate(s, dir) { adcScoredUncached(s, dir).cache() }

  private def adcScoredUncached(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val cbArr = c.filter(col("vec_id") < Cells)
      .select(struct(col("vec_id").as("code"), col("qv").as("cv")).as("cw"))
      .agg(sort_array(collect_list(col("cw"))).as("cb"))
    // exact-decimal L2 between 16-dim slices of qv and a codeword
    def subD2(sVar: String, cwArr: String): String =
      s"aggregate(zip_with(slice(qv, $sVar * $SubDim + 1, $SubDim), " +
        s"slice($cwArr, $sVar * $SubDim + 1, $SubDim), (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS DECIMAL(30,8)), (acc, v) -> CAST(acc + v AS DECIMAL(30,8)))"
    // explicit-N pin on the corpus (target) branch BEFORE the codebook
    // attaches (SCALE.md §4, the semAssign rule): the embeddings
    // parquet scans as ONE task, so the PQ encode, the per-pair ADC
    // sum below, and this frame's cached partitioning — which every
    // q109/q110 consumer inherits for its top-k partial aggregation —
    // were all serialized on that single partition
    val base = c
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .crossJoin(broadcast(cbArr))
    // targets: 4 codes per vector, scan-side (argmin via struct-min —
    // ties break to the lower code like the oracle's ORDER BY d, code)
    val targets = base.select(col("vec_id").as("neighbor_id"),
      expr(s"transform(sequence(0, ${NSub - 1}), s -> " +
        s"array_min(transform(cb, w -> named_struct('d', ${subD2("s", "w.cv")}, " +
        "'code', w.code))).code)").as("codes"))
    // queries: the full ADC lookup table (4 x 8 exact decimals) — a
    // query-count-sized broadcast build, not worth a pin of its own
    val queries = c.filter(col("vec_id") < QueryVecs)
      .crossJoin(broadcast(cbArr))
      .select(col("vec_id").as("query_id"),
        expr(s"transform(sequence(0, ${NSub - 1}), s -> " +
          s"transform(cb, w -> ${subD2("s", "w.cv")}))").as("lut"))
    targets
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", expr(s"aggregate(sequence(0, ${NSub - 1}), " +
        "CAST(0 AS DECIMAL(30,8)), (acc, s) -> CAST(acc + " +
        "element_at(element_at(lut, s + 1), CAST(element_at(codes, s + 1) AS INT) + 1) " +
        "AS DECIMAL(30,8)))"))
      .withColumn("adc_d", col("adc").cast("string").cast("double"))
      .withColumn("sim", -col("adc_d"))
  }

  val q109: QueryDef =
    q("q109_knn_pq",
      """Product quantization (PQ) ANN — the other canonical compression
        |next to q93's scalar int8: vectors split into 4 subspaces of 16
        |dims, each subvector encoded as the id of its nearest codeword
        |(codebook = the subvectors of vec_id 0..7, exact-decimal L2,
        |tie toward the lower code), and queries score candidates with
        |ADC — a per-(query, subspace, code) distance LUT summed over
        |the target's 4 codes, never touching the original target
        |vector. Scale shape: codebook as ONE broadcast array row,
        |encoding and LUTs scan-side, one shuffle total (the k-bounded
        |top-k agg). n_in_exact recomputes PQ recall against the exact
        |top-5 independently on each side — expectedly LOW on this
        |corpus (isotropic random vectors vs 12-bit codes is the PQ
        |worst case); q110 is the production fix. Ranking uses the
        |string-bridged double of the exact decimal ADC in BOTH engines,
        |so cross-engine order is bit-pinned.""".stripMargin,
      s"""WITH $oracleBase,
         |$oracleCtes,
         |pq5 AS (
         |  SELECT query_id, neighbor_id, adc_d, rk FROM (
         |    SELECT query_id, neighbor_id,
         |      CAST(CAST(adc AS VARCHAR) AS DOUBLE) AS adc_d,
         |      rank() OVER (PARTITION BY query_id
         |                   ORDER BY CAST(CAST(adc AS VARCHAR) AS DOUBLE),
         |                            neighbor_id) AS rk
         |    FROM adc) WHERE rk <= $TopK),
         |agree AS (
         |  SELECT i.query_id, count(*) AS n_in_exact
         |  FROM pq5 i JOIN exact5 x
         |    ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
         |  GROUP BY 1)
         |SELECT i.query_id, i.neighbor_id, i.adc_d AS adc, i.rk,
         |  coalesce(g.n_in_exact, 0) AS n_in_exact
         |FROM pq5 i LEFT JOIN agree g ON g.query_id = i.query_id""".stripMargin) { (s, dir) =>
      val pq5 = boundedTopK(adcScored(s, dir))
        .select(col("query_id"), col("neighbor_id"), (-col("sim")).as("adc"), col("rk"))
      val agree = pq5
        .join(broadcast(exactTopK(s, dir).select(col("query_id"), col("neighbor_id"))),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_in_exact"))
      pq5.join(broadcast(agree), Seq("query_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("adc"), col("rk"),
          coalesce(col("n_in_exact"), lit(0L)).as("n_in_exact"))
    }

  val q110: QueryDef =
    q("q110_knn_pq_rerank",
      """PQ with exact re-ranking — the production ANN pipeline: the ADC
        |pass produces a 200-deep shortlist per query (cheap: codes +
        |LUT lookups only), and ONLY shortlisted candidates are rescored
        |with the exact decimal cosine before the final top-5. At corpus
        |scale this is the whole point of PQ: the exact math touches
        |200 vectors per query instead of the full corpus, and the
        |shortlist join is a broadcast (queries x 200 rows) against the
        |corpus — the fact side never shuffles. Recall (n_in_exact)
        |jumps from q109's ADC-only ~0.2 to ~0.74 at sf0.1 even on this
        |worst-case isotropic corpus, and the oracle recomputes the
        |whole pipeline — shortlist cut, rescore, recall — independently
        |in DuckDB.""".stripMargin,
      s"""WITH $oracleBase,
         |$oracleCtes,
         |pqsl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY CAST(CAST(adc AS VARCHAR) AS DOUBLE),
         |                                  neighbor_id) AS rn
         |    FROM adc) WHERE rn <= $Shortlist),
         |rr5 AS (
         |  SELECT query_id, neighbor_id, sim, rk FROM (
         |    SELECT c.query_id, c.neighbor_id, c.sim,
         |      rank() OVER (PARTITION BY c.query_id
         |                   ORDER BY c.sim DESC, c.neighbor_id) AS rk
         |    FROM allcos c
         |    JOIN pqsl p ON p.query_id = c.query_id
         |               AND p.neighbor_id = c.neighbor_id)
         |  WHERE rk <= $TopK),
         |agree AS (
         |  SELECT i.query_id, count(*) AS n_in_exact
         |  FROM rr5 i JOIN exact5 x
         |    ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
         |  GROUP BY 1)
         |SELECT i.query_id, i.neighbor_id, i.sim, i.rk,
         |  coalesce(g.n_in_exact, 0) AS n_in_exact
         |FROM rr5 i LEFT JOIN agree g ON g.query_id = i.query_id""".stripMargin) { (s, dir) =>
      val c = corpus(s, dir)
      // ADC shortlist: same scored frame, deeper k-bounded cut
      val slTopK = org.apache.spark.sql.functions.udaf(new BoundedTopKD(Shortlist),
        org.apache.spark.sql.Encoders.product[ScoredD])
      val shortlist = adcScored(s, dir)
        .groupBy(col("query_id"))
        .agg(slTopK(col("sim").cast("double"), col("neighbor_id")).as("tk"))
        .select(col("query_id"), explode(col("tk.xs")).as("x"))
        .select(col("query_id"), col("x.k").as("neighbor_id"))
      // exact rescore of shortlisted candidates only: the shortlist is
      // tiny (queries x 200), so it broadcasts and the corpus never
      // shuffles for the rescore join. Explicit-N pin on the corpus
      // side (SCALE.md §4): one row group scans as one task, and the
      // queries×200 exact-decimal rescore dots ran serially on it
      val queries = c.filter(col("vec_id") < QueryVecs)
        .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("nrm").as("na"))
      val rescored = c
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"), col("nrm").as("nb"))
        .join(broadcast(shortlist), Seq("neighbor_id"))
        .join(broadcast(queries), Seq("query_id"))
        .withColumn("sim",
          round(expr(dotExpr("qa", "qb")) / (sqrt(col("na")) * sqrt(col("nb"))), 4))
      val rr5 = boundedTopK(rescored)
      val agree = rr5
        .join(broadcast(exactTopK(s, dir).select(col("query_id"), col("neighbor_id"))),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_in_exact"))
      rr5.join(broadcast(agree), Seq("query_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rk"),
          coalesce(col("n_in_exact"), lit(0L)).as("n_in_exact"))
    }
}

package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import graft.functions.Fns.bucketS
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operators whose point is the 100 TB shape, oracle-checked at small SF:
  *
  *   - q78: per-group top-k via the k-bounded [[BoundedTopK]] aggregator
  *     (map-side-combined, no group ever sorted) — checked against the
  *     exact row_number() formulation.
  *   - q79: one k-means (Lloyd) assignment iteration over the embedding
  *     corpus — the training step that produces the IVF cells q32
  *     searches. Exact-decimal distances so both engines pick identical
  *     nearest centroids.
  *   - q80: a count-min sketch built as a relational program — the whole
  *     sketch is a (depth x width) cell aggregate (192 groups, map-side
  *     combined), estimates are a broadcast join against those cells,
  *     and the CMS "never underestimates" guarantee is emitted as a
  *     checked column. The sketch build reads the stream once at any
  *     scale; memory is O(d*w), not O(distinct keys).
  */
object ScaleOps {

  // ---- q79 helpers: exact-decimal vector math (same contract as
  // Similarity: quantize to DECIMAL(9,4), accumulate in DECIMAL(38,8))
  private def quant(c: String): String =
    s"transform($c, x -> CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4)))"

  /** q153's LinearCounting table: ln(64/V) for V = 1..64 in integer
    * micro-nats — computed ONCE here and interpolated into both the
    * Spark program and the DuckDB oracle, so the small-range
    * correction divides the same constants on both engines. (Declared
    * before `defs`: object vals initialize in order, and the oracle
    * string interpolates this eagerly.) */
  private[operators] val hllLnMicro: IndexedSeq[Long] =
    (1 to 64).map(v => math.round(math.log(64.0 / v) * 1e6))

  // Accumulator is DECIMAL(30,8), NOT (38,8): Spark types acc+v at
  // precision 39 when acc is (38,8), which exceeds 38 and silently
  // ROUNDS each accumulation step to scale 7 (allowPrecisionLoss) —
  // ~5e-8 error per dimension, enough to fail a hash compare against
  // the oracle's exact sum. At (30,8) + (21,8) the add is precision 31:
  // exact at every step.
  private def sqDistExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      s"CAST(0 AS DECIMAL(30,8)), (acc, v) -> CAST(acc + v AS DECIMAL(30,8)))"

  private val KCentroids = 8

  // ---- q80 parameters: 3 pairwise-independent-ish affine hashes mod a
  // Mersenne prime, folded into 64 buckets. Fixed constants so Spark and
  // DuckDB compute the SAME sketch cell-for-cell.
  private val P = 2147483647L
  private val Width = 64
  private val Hashes = Seq((0, 31L, 7L), (1, 131L, 13L), (2, 1009L, 17L))

  private def hashArr =
    array(Hashes.map { case (i, a, b) =>
      struct(lit(i).as("i"), lit(a).as("a"), lit(b).as("b"))
    }: _*)

  val defs: Seq[QueryDef] = Seq(
    // ----------------------------------------------------------------
    q("q78_topk_bounded_agg",
      """Per-group top-k WITHOUT a window sort: BoundedTopK keeps a
        |k-bounded buffer per group, partial-aggregated map-side, so the
        |shuffle carries at most k rows per group and no group is ever
        |fully sorted — the scale path for A2/A3 top-k that q8's
        |rank() formulation can't take on a billion-row hot group. The
        |oracle is the exact row_number() answer: identical output proves
        |the bounded buffer loses nothing.""".stripMargin,
      """WITH per_user AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, user_id, cnt,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, user_id) AS rk
        |  FROM per_user)
        |SELECT event_type, rk, user_id, cnt
        |FROM ranked WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val topk = udaf(new BoundedTopK(3), org.apache.spark.sql.Encoders.product[Scored])
      val perUser = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      perUser
        .groupBy(col("event_type"))
        .agg(topk(col("cnt"), col("user_id")).as("tk"))
        .select(col("event_type"), posexplode(col("tk.xs")))
        .select(col("event_type"), (col("pos") + 1).as("rk"),
          col("col.k").as("user_id"), col("col.c").as("cnt"))
    },

    // ----------------------------------------------------------------
    q("q79_kmeans_assign",
      """One Lloyd iteration: assign every embedding to its nearest of 8
        |fixed centroids (vec_id 0..7 — deterministic seeding), report
        |per-centroid membership count and total squared distance (the
        |k-means objective). This is how q32's IVF cells are actually
        |trained at scale, in the same scan-side shape q90 uses for IVF
        |assignment: the WHOLE codebook rides along as one broadcast
        |array row and each vector's nearest centroid is an
        |array_min(transform(...)) over that array — computed inside the
        |scan projection with ZERO row blowup (no per-centroid join
        |multiplying the corpus x8) and zero pre-aggregation shuffle;
        |the only shuffle is the k-row final aggregate. Distances are
        |exact decimals so both engines agree on every assignment (ties
        |break to the lower cid via struct ordering); the objective is
        |string-bridged to double (decimal->double direct cast can be
        |1 ulp off between engines).""".stripMargin,
      s"""WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 4) AS DECIMAL(9,4)) AS v
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS cid, i, v AS cv FROM e WHERE vec_id < $KCentroids),
        |dist AS (
        |  SELECT a.vec_id, c.cid,
        |    CAST(sum(CAST((a.v - c.cv) * (a.v - c.cv) AS DECIMAL(38,8)))
        |         AS DECIMAL(38,8)) AS d
        |  FROM e a JOIN cent c ON a.i = c.i
        |  GROUP BY a.vec_id, c.cid),
        |best AS (
        |  SELECT vec_id, cid, d,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |  FROM dist)
        |SELECT cid AS centroid_id, count(*) AS n_assigned,
        |  CAST(CAST(sum(d) AS VARCHAR) AS DOUBLE) AS sum_sqdist
        |FROM best WHERE rn = 1
        |GROUP BY cid""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(quant("embedding")).as("qv"))
      // codebook as ONE broadcast array row, sorted by cid so distance
      // ties break toward the lower cid on both engines
      val centsArr = emb.filter(col("vec_id") < KCentroids)
        .select(struct(col("vec_id").as("cid"), col("qv").as("cv")).as("ct"))
        .agg(sort_array(collect_list(col("ct"))).as("cents"))
      // nearest centroid per row, scan-side: distances to all 8 cells in
      // one nested-HOF projection, argmin via array_min over (d, cid)
      // structs — no join, no row multiplication, nothing shuffles until
      // the k-row aggregate below
      val bestExpr = "array_min(transform(cents, ct -> named_struct(" +
        s"'d', ${sqDistExpr("qv", "ct.cv")}, 'cid', ct.cid)))"
      val best = emb.crossJoin(broadcast(centsArr))
        .select(expr(bestExpr).as("m"))
        .select(col("m.cid").as("cid"), col("m.d").as("d"))
      best.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_assigned"),
          sum(col("d")).cast("string").cast("double").as("sum_sqdist"))
        .select(col("cid").as("centroid_id"), col("n_assigned"), col("sum_sqdist"))
    },

    // ----------------------------------------------------------------
    q("q80_countmin_sketch",
      """Count-min sketch as a relational program: the sketch build is a
        |single groupBy over (hash_index, bucket) — 3x64 = 192 cells
        |regardless of input size, fully map-side combined, one scan of
        |the stream. Point estimates join the (broadcast) cell table on
        |each of the 3 bucket positions and take the min. Emits, for the
        |top-20 heavy hitters, the exact count beside the CMS estimate
        |and the deterministic over-estimate guarantee (est >= exact) as
        |a checked column. Identical fixed hash constants on both engines
        |make the sketch itself — not just the property — cross-engine
        |comparable.""".stripMargin,
      s"""WITH h(i, a, b) AS (VALUES (0, 31, 7), (1, 131, 13), (2, 1009, 17)),
        |cells AS (
        |  SELECT h.i, ((h.a * user_id + h.b) % $P) % $Width AS bkt, count(*) AS n
        |  FROM events CROSS JOIN h GROUP BY 1, 2),
        |exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1),
        |est AS (
        |  SELECT e.user_id, min(c.n) AS est_n
        |  FROM exact e CROSS JOIN h
        |  JOIN cells c ON c.i = h.i
        |    AND c.bkt = ((h.a * e.user_id + h.b) % $P) % $Width
        |  GROUP BY e.user_id)
        |SELECT e.user_id, e.exact_n, s.est_n,
        |  CAST(s.est_n >= e.exact_n AS BIGINT) AS never_under
        |FROM exact e JOIN est s USING (user_id)
        |ORDER BY exact_n DESC, user_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      def bkt(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ((col("h.a") * u + col("h.b")) % P) % Width
      val ev = Tables.events(s, dir).select(col("user_id"))
      val cells = ev.select(col("user_id"), explode(hashArr).as("h"))
        .select(col("h.i").as("i"), bkt(col("user_id")).as("bkt"))
        .groupBy(col("i"), col("bkt")).agg(count(lit(1)).as("n"))
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      val est = exact.select(col("user_id"), explode(hashArr).as("h"))
        .select(col("user_id"), col("h.i").as("i"), bkt(col("user_id")).as("bkt"))
        .join(broadcast(cells), Seq("i", "bkt"))
        .groupBy(col("user_id")).agg(min(col("n")).as("est_n"))
      exact.join(est, "user_id")
        .select(col("user_id"), col("exact_n"), col("est_n"),
          (col("est_n") >= col("exact_n")).cast("bigint").as("never_under"))
        .orderBy(col("exact_n").desc, col("user_id"))
        .limit(20)
    },

    // ----------------------------------------------------------------
    q("q86_heavy_hitters_mg",
      """Heavy hitters WITHOUT a full groupBy over the key space: pass 1
        |is a Misra-Gries summary (capacity 7 -> every key with
        |frequency > n/8 is guaranteed present; O(m) state per task,
        |mergeable); pass 2 exactly counts ONLY the <= 7 candidates
        |(broadcast semi-filter) and keeps those above threshold. At
        |billions of distinct keys pass 1 is what makes the query
        |runnable — the exact groupBy the oracle runs is the small-SF
        |check, not the scale plan. The key is floor(ln(value)):
        |log-bucketing a uniform value gives an exponentially skewed,
        |SF-stable distribution with true heavy hitters. MG summary
        |contents are order-dependent, so only exact-verified survivors
        |are emitted — deterministic on both engines; a dropped true
        |heavy hitter (an MG bug) would surface as a missing row.""".stripMargin,
      """WITH e AS (
        |  SELECT CAST(floor(ln(value)) AS BIGINT) AS k_bucket
        |  FROM events WHERE value > 0),
        |t AS (SELECT count(*) AS n_total FROM e)
        |SELECT k_bucket, count(*) AS n, t.n_total
        |FROM e, t
        |GROUP BY k_bucket, t.n_total
        |HAVING count(*) > t.n_total / 8.0""".stripMargin) { (s, dir) =>
      val mg = udaf(new MisraGries(7), org.apache.spark.sql.Encoders.scalaLong)
      // value > 0 guard on BOTH engines: DuckDB ln(0) raises where
      // Spark log(0) yields null — the filter keeps the domains equal
      val e = Tables.events(s, dir)
        .filter(col("value") > 0)
        .select(floor(log(col("value"))).cast("long").as("k_bucket"))
      val cand = e.agg(mg(col("k_bucket")).as("s"))
        .select(explode(col("s.xs")).as("x"))
        .select(col("x.k").as("k_bucket"))
      val tot = e.agg(count(lit(1)).as("n_total"))
      e.join(broadcast(cand), Seq("k_bucket"), "left_semi")
        .groupBy(col("k_bucket")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .filter(col("n") > col("n_total") / 8.0)
        .select(col("k_bucket"), col("n"), col("n_total"))
    },

    // ----------------------------------------------------------------
    q("q97_bloom_prejoin",
      """Bloom-filter pre-join as a relational program — the semi-join
        |reduction every 100 TB shuffle join wants: the dim side's keys
        |(high-value orders) fold into a 1024-bit Bloom filter built
        |exactly like q80's count-min (3 fixed affine hashes, the SET
        |BITS are a <= 1024-row aggregate), the filter BROADCASTS, and
        |the fact side prefilters ITS OWN DISTINCT KEYS against it
        |before any fact row joins anything — at scale this is the
        |difference between shuffling the whole fact table into a join
        |and shuffling only rows whose key might match. The exact join
        |then removes Bloom false positives. Emits the full accounting:
        |fact rows, bloom-pass rows, exact-match rows, false positives
        |(deterministic, since the hash constants are fixed) and set-bit
        |count — the oracle recomputes the filter bit-for-bit, so the
        |sketch itself is pinned cross-engine, not just the exact
        |result.""".stripMargin,
      s"""WITH dim AS (SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 400000),
        |h(i, a, b) AS (VALUES (0, 31, 7), (1, 131, 13), (2, 1009, 17)),
        |bits AS (
        |  SELECT DISTINCT h.i, ((h.a * d.k + h.b) % $P) % 1024 AS bit
        |  FROM dim d CROSS JOIN h),
        |fkeys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
        |probe AS (
        |  SELECT f.k, count(*) AS n_hit
        |  FROM fkeys f CROSS JOIN h
        |  JOIN bits s ON s.i = h.i
        |    AND s.bit = ((h.a * f.k + h.b) % $P) % 1024
        |  GROUP BY f.k),
        |cand AS (SELECT k FROM probe WHERE n_hit = 3)
        |SELECT
        |  (SELECT count(*) FROM lineitem) AS n_fact,
        |  (SELECT count(*) FROM lineitem l JOIN cand c ON c.k = l.l_orderkey) AS n_bloom_pass,
        |  (SELECT count(*) FROM lineitem l JOIN dim d ON d.k = l.l_orderkey) AS n_exact,
        |  (SELECT count(*) FROM lineitem l JOIN cand c ON c.k = l.l_orderkey) -
        |    (SELECT count(*) FROM lineitem l JOIN dim d ON d.k = l.l_orderkey) AS n_false_pos,
        |  (SELECT count(*) FROM bits) AS n_bits_set""".stripMargin) { (s, dir) =>
      def pos(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ((col("h.a") * k + col("h.b")) % P) % 1024
      val dim = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("k"))
      val bits = dim.select(col("k"), explode(hashArr).as("h"))
        .select(col("h.i").as("i"), pos(col("k")).as("bit")).distinct()
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
      // prefilter runs on the fact side's DISTINCT keys, not its rows —
      // a key's 3 probe positions are checked once no matter how many
      // fact rows carry it
      val cand = li.distinct().withColumnRenamed("l_orderkey", "k")
        .select(col("k"), explode(hashArr).as("h"))
        .select(col("k"), col("h.i").as("i"), pos(col("k")).as("bit"))
        .join(broadcast(bits), Seq("i", "bit"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_hit"))
        .filter(col("n_hit") === 3).select(col("k"))
      val nFact = li.agg(count(lit(1)).as("n_fact"))
      val nPass = li.join(broadcast(cand), col("l_orderkey") === col("k"))
        .agg(count(lit(1)).as("n_bloom_pass"))
      val nExact = li.join(broadcast(dim), col("l_orderkey") === col("k"))
        .agg(count(lit(1)).as("n_exact"))
      val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
      nFact.crossJoin(broadcast(nPass)).crossJoin(broadcast(nExact))
        .crossJoin(broadcast(nBits))
        .select(col("n_fact"), col("n_bloom_pass"), col("n_exact"),
          (col("n_bloom_pass") - col("n_exact")).as("n_false_pos"),
          col("n_bits_set"))
    },

    // ----------------------------------------------------------------
    q("q93_embedding_quantization",
      """Int8 scalar quantization of the embedding column — the storage
        |form every 100 TB ANN index actually holds (4x smaller than
        |float32, SIMD-friendly dot products). Per vector: symmetric
        |scale s = max|v| (in exact 1e-4 fixed-point), q_i =
        |round(127*v_i/s) computed with ONLY nonnegative integer
        |arithmetic — ((254*(v+s) + s) div (2*s)) - 127 — because
        |floor/truncating division differ between engines on negatives
        |but agree on nonnegatives, making the quantized codes
        |bit-identical cross-engine. Emits the quantization checksum
        |(sum of codes), total/max reconstruction error scaled by 127
        |(|127*v - q*s|, whose max is provably <= ceil(s/2)) and the
        |saturation count. Entirely scan-side higher-order-function
        |math: a pure projection, zero shuffle, full codegen.""".stripMargin,
      """WITH e AS (
        |  SELECT vec_id,
        |    CAST(CAST(round(CAST(unnest(embedding) AS DOUBLE), 4) AS DECIMAL(9,4))
        |         * 10000 AS BIGINT) AS vm
        |  FROM embeddings),
        |s AS (SELECT vec_id, max(abs(vm)) AS sc FROM e GROUP BY 1),
        |qq AS (
        |  SELECT e.vec_id, e.vm, s.sc,
        |    CASE WHEN s.sc = 0 THEN 0
        |         ELSE ((254 * (e.vm + s.sc) + s.sc) // (2 * s.sc)) - 127 END AS q
        |  FROM e JOIN s USING (vec_id))
        |SELECT vec_id, max(sc) AS scale_milli,
        |  CAST(sum(q) AS BIGINT) AS sum_q,
        |  CAST(sum(abs(127 * vm - q * sc)) AS BIGINT) AS sum_abs_err_127,
        |  CAST(max(abs(127 * vm - q * sc)) AS BIGINT) AS max_abs_err_127,
        |  CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
        |FROM qq GROUP BY vec_id""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("vm", expr(
          s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))"))
        .withColumn("sc", expr(
          "aggregate(vm, CAST(0 AS BIGINT), (acc, v) -> greatest(acc, abs(v)))"))
        .withColumn("qa", expr(
          """CASE WHEN sc = 0 THEN transform(vm, x -> CAST(0 AS BIGINT))
            |ELSE transform(vm, x -> ((254 * (x + sc) + sc) div (2 * sc)) - 127)
            |END""".stripMargin))
        .withColumn("er", expr("zip_with(vm, qa, (v, q) -> abs(127 * v - q * sc))"))
        .select(col("vec_id"),
          col("sc").as("scale_milli"),
          expr("aggregate(qa, CAST(0 AS BIGINT), (a, v) -> a + v)").as("sum_q"),
          expr("aggregate(er, CAST(0 AS BIGINT), (a, v) -> a + v)").as("sum_abs_err_127"),
          expr("aggregate(er, CAST(0 AS BIGINT), (a, v) -> greatest(a, v))").as("max_abs_err_127"),
          expr("aggregate(qa, CAST(0 AS BIGINT), (a, v) -> a + CASE WHEN abs(v) = 127 THEN 1 ELSE 0 END)")
            .as("n_saturated"))
    },

    // ----------------------------------------------------------------
    q("q127_zorder_layout",
      """Z-order (Morton) clustering key — the multi-dimensional data-
        |layout primitive: interleaving the bits of two columns gives ONE
        |sort order whose contiguous ranges have bounded min/max on BOTH
        |dimensions, so files laid out by it support min/max skipping on
        |either predicate column (a lexicographic sort only ever prunes
        |its leading column). The key is graft's native codegen `zorder2`
        |Expression (plans/ZOrder.scala — branch-free mask-spread ladder
        |inlined into whole-stage codegen); the oracle recomputes the
        |interleave bit by bit from the definition (Σ bit i of x at 2i,
        |bit i of y at 2i+1) via a range(0,16) cross join. The query
        |groups events into the 16 coarse Z-tiles (zcode div 4096 = the
        |top 2 bits of each 8-bit dimension) and emits each tile's
        |bounding box: every tile's x and y spans are at most 64 wide —
        |the per-file statistics a 100 TB table would ship to the
        |scan pruner. Scan-side key computation, one tiny 16-key
        |shuffle.""".stripMargin,
      """WITH b AS (
        |  SELECT event_id, user_id % 256 AS x,
        |    CAST(floor(value) AS BIGINT) % 256 AS y
        |  FROM events),
        |z AS (
        |  SELECT event_id, x, y,
        |    CAST(sum(((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
        |           + ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))) AS BIGINT) AS zcode
        |  FROM b, range(0, 16) r(i)
        |  GROUP BY event_id, x, y)
        |SELECT zcode // 4096 AS tile, count(*) AS n_rows,
        |  min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi,
        |  min(zcode) AS z_lo, max(zcode) AS z_hi
        |FROM z GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.plans.GraftFunctions.register(s)
      Tables.events(s, dir)
        .select(expr("user_id % 256").as("x"),
          // floor on BOTH engines: DuckDB CAST(double AS BIGINT) rounds
          // half-even where Spark's cast truncates, so neither cast
          // alone is portable; floor() then cast agrees everywhere
          expr("CAST(floor(value) AS BIGINT) % 256").as("y"))
        .select(col("x"), col("y"),
          call_function("zorder2", col("x"), col("y")).as("zcode"))
        .groupBy(expr("zcode DIV 4096").as("tile"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
          min(col("y")).as("y_lo"), max(col("y")).as("y_hi"),
          min(col("zcode")).as("z_lo"), max(col("zcode")).as("z_hi"))
    },

    // ----------------------------------------------------------------
    q("q138_embedding_dim_stats",
      """Per-dimension feature statistics over the embedding column —
        |the normalization/whitening precursor (mean/variance per dim)
        |and the first sanity check any vector pipeline runs (dead
        |dims, range outliers). Values go through q93's exact 1e-4
        |fixed-point (round-to-decimal then scale to BIGINT) so count /
        |sum / sum-of-squares / min / max are all integer-exact
        |cross-engine — variance is left to the consumer as
        |(sum_sq - sum²/n)/n to keep the emitted stats drift-free.
        |Scale shape: posexplode is scan-side; the aggregation keys on
        |the DIMENSION (64 groups), so partial aggregation collapses
        |every partition to dim-count rows before the one tiny shuffle
        |— corpus size never crosses the wire. Output is dim-bounded
        |(64 rows).""".stripMargin,
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
        |                * 10000 AS BIGINT)) AS vm
        |  FROM embeddings),
        |d AS (
        |  SELECT unnest(range(0, len(vm))) AS dim, unnest(vm) AS v FROM e)
        |SELECT dim, count(*)::BIGINT AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(v * v) AS BIGINT) AS sum_v2,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM d GROUP BY dim""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("vm", expr(
          s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))"))
        .select(posexplode(col("vm")).as(Seq("dim", "v")))
        .groupBy(col("dim").cast("bigint").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).as("sum_v"),
          sum(col("v") * col("v")).as("sum_v2"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    },

    // ----------------------------------------------------------------
    q("q139_gram_topk_pairs",
      """Top-20 most-correlated dimension PAIRS by |Gram entry|
        |Σ_rows v_i·v_j — the redundancy probe behind feature
        |decorrelation and PQ subspace design (q109's codebooks assume
        |subspaces are roughly independent; this measures where that
        |fails). Exact integer arithmetic on the 1e-4 fixed-point
        |values; products and the corpus-wide sums stay well inside
        |int64 at any realistic row count (|v| ≤ ~3e4 fixed-point →
        |product ≤ 9e8; 1e9 rows of worst-case products still fit with
        |the sum split per dim pair). Scale shape: the whole Gram
        |accumulates through graft's native `gram_upper`
        |TypedImperativeAggregate (plans/GramAggregate) — each row
        |folds into ONE per-partition long-array state in place (no
        |dim²/2 struct explosion per row, no per-pair hashing), partial
        |buffers shuffle as one packed row per partition, and merge is
        |element-wise addition (partition-count-invariant by spec). The
        |(i,j) labels rejoin the flat array by position on the single
        |result row; TakeOrdered picks the top 20. The ORACLE stays the
        |relational pair-explosion formulation, so the hash match
        |proves the custom aggregate against an independent shape.""".stripMargin,
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
        |                * 10000 AS BIGINT)) AS vm
        |  FROM embeddings),
        |p AS (
        |  SELECT unnest(flatten(list_transform(range(0, len(vm) - 1), i ->
        |    list_transform(range(i + 1, len(vm)), j ->
        |      struct_pack(i := i, j := j, p := vm[i + 1] * vm[j + 1]))))) AS s
        |  FROM e)
        |SELECT s.i AS i, s.j AS j, CAST(sum(s.p) AS BIGINT) AS gram
        |FROM p GROUP BY 1, 2
        |ORDER BY abs(CAST(sum(s.p) AS BIGINT)) DESC, i, j LIMIT 20""".stripMargin) { (s, dir) =>
      graft.plans.GraftFunctions.register(s)
      Tables.embeddings(s, dir)
        .withColumn("vm", expr(
          s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))"))
        .agg(call_function("gram_upper", col("vm")).as("g"),
          first(size(col("vm"))).as("d"))
        // label the flat upper-triangle array by position on the ONE
        // result row: pair k of zip_with is (i,j) in the same row-major
        // order gram_upper accumulates
        .select(explode(expr(
          """zip_with(
            |  flatten(transform(sequence(0, d - 2), i ->
            |    transform(sequence(i + 1, d - 1), j ->
            |      struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j)))),
            |  g, (p, x) -> struct(p.i AS i, p.j AS j, x AS gram))""".stripMargin)).as("s"))
        .select(col("s.i").as("i"), col("s.j").as("j"), col("s.gram").as("gram"))
        .orderBy(abs(col("gram")).desc, col("i"), col("j"))
        .limit(20)
    },

    // ----------------------------------------------------------------
    q("q143_kmeans_lloyd",
      """Full distributed k-means TRAINING (2 Lloyd iterations, k=4) —
        |q79 is the assignment half; this closes the loop with the
        |centroid-update half, the clustering step behind corpus
        |bucketing and IVF codebook training (q32/q90 consume exactly
        |such a codebook). Determinism: values in exact 1e-4
        |fixed-point SHIFTED +10000 so every coordinate is positive —
        |squared distances are translation-invariant, and the centroid
        |mean's floor division only ever sees nonnegative sums, where
        |Spark's DIV (truncate) and DuckDB's // (floor) agree.
        |Initial centroids are vectors 0..3; assignment ties break on
        |(dist, cid). Scale shape per iteration: the k centroids
        |collapse to ONE broadcast array row (q79/q90's codebook
        |discipline) so assignment is scan-side argmin over a struct
        |array — zero shuffle; the update is a k-group aggregation
        |through the native vec_sum TypedImperativeAggregate
        |(plans/GramAggregate) — in-place long-array state, one packed
        |row per partition, element-wise merge — with the mean as a
        |transform over the summed array. Two tiny shuffles total.
        |Output: (cid, n_members, dim, cval), 256 rows.""".stripMargin,
      kmeansOracleSql(iters = 2)) { (s, dir) =>
      lloyd(kmeansPoints(s, dir), iters = 2)
        .select(col("cid"), col("n").as("n_members"),
          posexplode(col("c")).as(Seq("dim", "cval")))
        .select(col("cid"), col("n_members"),
          col("dim").cast("bigint").as("dim"), col("cval"))
    },

    // ----------------------------------------------------------------
    q("q144_cluster_sse",
      """Training-quality metric for q143's clustering: per-cluster
        |inertia — the exact integer sum of squared distances from each
        |member (under the final assignment) to its UPDATED centroid —
        |plus member counts. This is the number a clustering job
        |monitors across refreshes (rising inertia = drifted corpus =
        |retrain), computed in the same shifted fixed-point space as
        |the training so both engines agree bit-for-bit. Scale shape:
        |the final centroids rejoin the assignment as a k-row BROADCAST
        |and the distance folds scan-side (zip_with aggregate); one
        |k-group shuffle ends it. Output: 4 rows.""".stripMargin,
      kmeansSseOracleSql(iters = 2)) { (s, dir) =>
      // round 2's assignment feeds both its update and the inertia
      val e = kmeansPoints(s, dir)
      val assigned = graft.Graft.stagedCheckpoint(assign(e, lloyd(e, iters = 1)))
      assigned
        .join(broadcast(update(assigned).select(col("cid"), col("c"))), Seq("cid"))
        .select(col("cid"), expr(
          """aggregate(zip_with(vm, c, (a, b) -> (a - b) * (a - b)),
            |          CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin).as("d2"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("d2")).cast("bigint").as("sse"))
    },

    // ----------------------------------------------------------------
    q("q153_hll_cardinality",
      """HyperLogLog cardinality sketch (Flajolet et al. 2007) built as
        |a relational program — the third mergeable summary beside q80's
        |count-min and q86's Misra-Gries, and the one behind every
        |distributed COUNT(DISTINCT) estimator: 64 registers, each the
        |MAX leading-zero rank seen among hashes routed to it, plus the
        |harmonic-mean estimate and the exact count beside it so the
        |sketch error is visible in the result. max() is algebraic, so
        |partial registers combine map-side and any partition merge IS
        |the HLL union — the whole sketch shuffles 64 rows no matter
        |the corpus size. Everything is integer-exact cross-engine:
        |rank = 25 - bitlength(h DIV 64) via bin(), the estimate's
        |denominator is a sum of bit shifts, and alpha_64 = 0.709 enters
        |as the rational 709/1000 under floor division. The published
        |small-range correction is included: when the raw estimate is
        |<= 2.5m and empty registers remain, LinearCounting
        |m·ln(m/V) takes over — its ln() enters BOTH engines as the
        |same 64-entry micro-nat integer table (built once JVM-side,
        |interpolated into both programs), so even the correction is
        |floor-division-exact cross-engine. The hash reuses q98's
        |base-131 fold over the zero-padded key, then ONE modular
        |squaring pass (h² + h mod p): a polynomial hash of sequential
        |keys never wraps the modulus, so its high bits don't avalanche
        |— squaring multiplies the band's width by ~2h/p ring turns and
        |restores uniformity (estimate 1468 vs 1500 exact at sf0.1;
        |unmixed it read 90).""".stripMargin,
      s"""WITH h0 AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 13),
        |      i -> CAST(ascii(substr(lpad(CAST(user_id AS VARCHAR), 12, '0'), i, 1)) AS BIGINT))),
        |    (a, c) -> (a * 131 + c) % 1000000007) AS h
        |  FROM events),
        |hm AS (SELECT (h * h + h) % 1000000007 AS h FROM h0),
        |r AS (SELECT h % 64 AS reg, h // 64 AS rest FROM hm),
        |m AS (SELECT reg, max(CASE WHEN rest = 0 THEN 25
        |                          ELSE 25 - length(bin(rest)) END) AS rho
        |      FROM r GROUP BY 1),
        |f AS (SELECT CAST(g.reg AS BIGINT) AS reg,
        |             CAST(coalesce(m.rho, 0) AS BIGINT) AS rho
        |      FROM (SELECT unnest(range(0, 64)) AS reg) g
        |      LEFT JOIN m ON m.reg = g.reg),
        |z AS (SELECT CAST(sum(1::BIGINT << CAST(25 - rho AS INT)) AS BIGINT) AS sumpow,
        |             CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vzero
        |      FROM f),
        |e AS (SELECT CASE WHEN (CAST(709 AS BIGINT) * 4096 * 33554432) // (1000 * sumpow) <= 160
        |                       AND vzero > 0
        |             THEN (64 * CAST([${hllLnMicro.mkString(",")}][CAST(vzero AS INT)] AS BIGINT)) // 1000000
        |             ELSE (CAST(709 AS BIGINT) * 4096 * 33554432) // (1000 * sumpow) END AS est
        |      FROM z),
        |x AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
        |SELECT f.reg, f.rho, e.est AS hll_estimate,
        |  CAST(x.n_exact AS BIGINT) AS n_exact
        |FROM f, e, x""".stripMargin) { (s, dir) =>
      graft.plans.GraftFunctions.register(s)
      val hm = Tables.events(s, dir)
        .select(call_function("rolling_hash",
          lpad(col("user_id").cast("string"), 12, "0")).as("h0"))
        .select(expr("(h0 * h0 + h0) % 1000000007").as("h"))
      val m = hm
        .select((col("h") % 64).as("reg"), expr("h DIV 64").as("rest"))
        .groupBy(col("reg"))
        .agg(max(expr(
          "CASE WHEN rest = 0 THEN 25L ELSE CAST(25 - length(bin(rest)) AS BIGINT) END")).as("rho"))
      val f = s.range(64).select(col("id").as("reg"))
        .join(m, Seq("reg"), "left")
        .select(col("reg"), coalesce(col("rho"), lit(0L)).as("rho"))
      val z = f.agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(25 - rho AS INT))")).cast("long").as("sumpow"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).cast("long").as("vzero"))
      val x = Tables.events(s, dir)
        .agg(countDistinct(col("user_id")).as("n_exact"))
      f.crossJoin(broadcast(z)).crossJoin(broadcast(x))
        .select(col("reg"), col("rho"),
          expr(
            s"""CASE WHEN (CAST(709 AS BIGINT) * 4096 * 33554432) DIV (1000 * sumpow) <= 160
               |          AND vzero > 0
               |     THEN (64 * CAST(element_at(array(${hllLnMicro.mkString(",")}),
               |                     CAST(vzero AS INT)) AS BIGINT)) DIV 1000000
               |     ELSE (CAST(709 AS BIGINT) * 4096 * 33554432) DIV (1000 * sumpow)
               |END""".stripMargin).as("hll_estimate"),
          col("n_exact").cast("long").as("n_exact"))
    },

    // ----------------------------------------------------------------
    q("q154_dim_quantiles",
      """EXACT per-dimension median and p90 over the embedding corpus —
        |the robust-scaling companion to q138's moments (median/IQR
        |normalization shrugs off the outliers that wreck mean/std).
        |The algorithm is histogram INVERSION, the bounded-precision
        |exact-quantile method that scales where per-group sorting
        |dies: values are already 1e-4 fixed-point (q93/q138 contract),
        |so each dimension's distribution collapses map-side to at most
        ||value domain| (dim, value, count) rows — the corpus never
        |crosses the wire, only its histogram does. The cumulative
        |count runs in a dim-keyed window over that BOUNDED histogram
        |(~20k rows per dim at ANY corpus size — the window's input is
        |value-cardinality-, not row-count-, sized), and rank k =
        |(n+1) DIV 2 / ceil(0.9n) selects the covering value exactly:
        |the k-th order statistic, no interpolation, no floats, no
        |sampling error. Output is dim-bounded (64 rows).""".stripMargin,
      """WITH e AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
        |              * 10000 AS BIGINT)) AS vm
        |  FROM embeddings),
        |d AS (SELECT unnest(range(0, len(vm))) AS dim, unnest(vm) AS v FROM e),
        |h AS (SELECT dim, v, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
        |t AS (SELECT dim, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |cw AS (SELECT h.dim, h.v, h.c, t.n,
        |         CAST(sum(h.c) OVER (PARTITION BY h.dim ORDER BY h.v) AS BIGINT) AS cum
        |       FROM h JOIN t USING (dim))
        |SELECT m.dim, m.n, m.v AS median_fp, p.v AS p90_fp
        |FROM (SELECT dim, n, v FROM cw
        |      WHERE cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2) m
        |JOIN (SELECT dim, v FROM cw
        |      WHERE cum >= (9 * n + 9) // 10 AND cum - c < (9 * n + 9) // 10) p
        |USING (dim)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.embeddings(s, dir)
        .withColumn("vm", expr(
          s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))"))
        .select(posexplode(col("vm")).as(Seq("dim", "v")))
        .groupBy(col("dim").cast("bigint").as("dim"), col("v"))
        .agg(count(lit(1)).as("c"))
      val tot = hist.groupBy(col("dim")).agg(sum(col("c")).cast("long").as("n"))
      val cum = hist
        .withColumn("cum",
          sum(col("c")).over(Window.partitionBy(col("dim")).orderBy(col("v")))
            .cast("long"))
        .join(broadcast(tot), Seq("dim"))
      def pick(k: org.apache.spark.sql.Column) =
        cum.filter(col("cum") >= k && col("cum") - col("c") < k)
      pick(expr("(n + 1) DIV 2"))
        .select(col("dim"), col("n"), col("v").as("median_fp"))
        .join(pick(expr("(9 * n + 9) DIV 10"))
          .select(col("dim"), col("v").as("p90_fp")), Seq("dim"))
    },

    // ----------------------------------------------------------------
    q("q161_power_iteration",
      """Top principal direction of the embedding corpus by POWER
        |ITERATION on the Gram matrix — the first PCA component, the
        |step behind whitening, dominant-direction removal (the
        |all-but-the-top trick of common-component postprocessing), and
        |PQ subspace rotation. The corpus is touched ONCE: the full
        |Gram assembles from q139's native gram_upper fold (mirrored)
        |plus q138's per-dim sum-of-squares diagonal, localCheckpointed
        |so the three unrolled multiply rounds read a 64x64 table, not
        |the corpus. Each round is G.v (dim-keyed join + agg over
        |dim^2 rows) then an integer renormalization to max-abs 1000:
        |quotients are made NONNEGATIVE before the floor division
        |((1000w + 1001*mx) DIV mx - 1001, exact since |w| <= mx), so
        |Spark's truncating DIV and DuckDB's flooring // agree — the
        |q143 shift discipline applied to signed vectors. DECIMAL(38)/
        |HUGEINT carries w (up to ~1e20 at 1e9 rows) exactly. After 3
        |rounds the iterate is a deterministic integer vector — the
        |oracle unrolls the same rounds over a relational Gram built
        |WITHOUT gram_upper, so the native aggregate is cross-checked
        |end to end.""".stripMargin,
      """WITH e AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
        |              * 10000 AS BIGINT)) AS vm
        |  FROM embeddings),
        |p AS (
        |  SELECT unnest(flatten(list_transform(range(0, len(vm)), i ->
        |    list_transform(range(0, len(vm)), j ->
        |      struct_pack(i := i, j := j, p := vm[i + 1] * vm[j + 1]))))) AS s
        |  FROM e),
        |g AS (SELECT s.i AS i, s.j AS j, CAST(sum(s.p) AS BIGINT) AS g
        |      FROM p GROUP BY 1, 2),
        |v0 AS (SELECT DISTINCT i AS j, CAST(1000 AS HUGEINT) AS v FROM g),
        |w1 AS (SELECT g.i, sum(CAST(g.g AS HUGEINT) * v0.v) AS w
        |       FROM g JOIN v0 ON v0.j = g.j GROUP BY 1),
        |m1 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w1),
        |v1 AS (SELECT i AS j, (1000 * w + 1001 * mx) // mx - 1001 AS v FROM w1, m1),
        |w2 AS (SELECT g.i, sum(CAST(g.g AS HUGEINT) * v1.v) AS w
        |       FROM g JOIN v1 ON v1.j = g.j GROUP BY 1),
        |m2 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w2),
        |v2 AS (SELECT i AS j, (1000 * w + 1001 * mx) // mx - 1001 AS v FROM w2, m2),
        |w3 AS (SELECT g.i, sum(CAST(g.g AS HUGEINT) * v2.v) AS w
        |       FROM g JOIN v2 ON v2.j = g.j GROUP BY 1),
        |m3 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w3),
        |v3 AS (SELECT i AS j, (1000 * w + 1001 * mx) // mx - 1001 AS v FROM w3, m3)
        |SELECT j AS dim, CAST(v AS BIGINT) AS component FROM v3""".stripMargin) { (s, dir) =>
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
        .withColumn("vm", expr(
          s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT))"))
      val upper = e
        .agg(call_function("gram_upper", col("vm")).as("g"),
          first(size(col("vm"))).as("d"))
        .select(explode(expr(
          """zip_with(
            |  flatten(transform(sequence(0, d - 2), i ->
            |    transform(sequence(i + 1, d - 1), j ->
            |      struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j)))),
            |  g, (p, x) -> struct(p.i AS i, p.j AS j, x AS g))""".stripMargin)).as("s"))
        .select(col("s.i").as("i"), col("s.j").as("j"), col("s.g").as("g"))
      val diag = e.select(posexplode(col("vm")).as(Seq("i", "v")))
        .groupBy(col("i").cast("bigint").as("i"))
        .agg(sum(col("v") * col("v")).cast("long").as("g"))
        .select(col("i"), col("i").as("j"), col("g"))
      val gram = upper
        .union(upper.select(col("j").as("i"), col("i").as("j"), col("g")))
        .union(diag)
        .transform(graft.Graft.stagedCheckpoint)
      // the state is the 64-row iterate v; w is read twice per round
      // (renorm max and next iterate) and shares one exchange
      val v0 = gram.filter(col("i") === col("j"))
        .select(col("j"), lit(1000L).cast("decimal(38,0)").as("v"))
      val v = graft.Graft.iterate("power iteration", v0, maxRounds = 3) { v =>
        val w = gram.join(v, Seq("j"))
          .groupBy(col("i"))
          .agg(sum(col("g").cast("decimal(38,0)") * col("v")).cast("decimal(38,0)").as("w"))
        val mx = w.agg(
          greatest(max(abs(col("w"))), lit(1).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("mx"))
        w.crossJoin(broadcast(mx))
          .select(col("i").as("j"),
            expr("CAST((1000 * w + 1001 * mx) DIV mx - 1001 AS DECIMAL(38,0))").as("v"))
      }
      v.select(col("j").as("dim"), col("v").cast("long").as("component"))
    },

    // ----------------------------------------------------------------
    q("q165_hourly_hll",
      """q153's HLL sketch as a GROUPED aggregate — distinct users per
        |tumbling hour, the per-window cardinality telemetry every
        |traffic dashboard runs, with the exact count beside it so the
        |error is visible. The grouped form adds one scale trick the
        |global sketch didn't need: ABSENT registers are filled
        |ARITHMETICALLY (sumpow += (64 − observed) · 2²⁵, V = 64 −
        |observed — an observed register always has rank ≥ 1, so rank 0
        |identifies exactly the absent ones) instead of densifying via
        |an hours × 64 cross join — no row explosion, no second pass,
        |works for any window count. Registers combine map-side
        |(max is algebraic), each hour shuffles ≤ 64 register rows plus
        |its exact-distinct partials, and the LinearCounting correction
        |reuses q153's shared micro-nat table. Hour keying is epoch
        |floor arithmetic (q13's bucket discipline), bit-identical
        |cross-engine.""".stripMargin,
      s"""WITH h0 AS (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_start,
        |    user_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 13),
        |        i -> CAST(ascii(substr(lpad(CAST(user_id AS VARCHAR), 12, '0'), i, 1)) AS BIGINT))),
        |      (a, c) -> (a * 131 + c) % 1000000007) AS h
        |  FROM events),
        |hm AS (SELECT hour_start, user_id, (h * h + h) % 1000000007 AS h FROM h0),
        |m AS (SELECT hour_start, h % 64 AS reg,
        |        max(CASE WHEN h // 64 = 0 THEN 25
        |                 ELSE 25 - length(bin(h // 64)) END) AS rho
        |      FROM hm GROUP BY 1, 2),
        |z AS (SELECT hour_start,
        |        CAST(sum(1::BIGINT << CAST(25 - rho AS INT))
        |             + (64 - count(*)) * 33554432 AS BIGINT) AS sumpow,
        |        CAST(64 - count(*) AS BIGINT) AS vzero
        |      FROM m GROUP BY 1),
        |x AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_start,
        |        count(DISTINCT user_id)::BIGINT AS n_exact
        |      FROM events GROUP BY 1)
        |SELECT z.hour_start,
        |  CASE WHEN (CAST(709 AS BIGINT) * 4096 * 33554432) // (1000 * sumpow) <= 160
        |            AND vzero > 0
        |       THEN (64 * CAST([${hllLnMicro.mkString(",")}][CAST(vzero AS INT)] AS BIGINT)) // 1000000
        |       ELSE (CAST(709 AS BIGINT) * 4096 * 33554432) // (1000 * sumpow)
        |  END AS hll_estimate,
        |  x.n_exact
        |FROM z JOIN x USING (hour_start)""".stripMargin) { (s, dir) =>
      graft.plans.GraftFunctions.register(s)
      val hm = Tables.events(s, dir)
        .select(bucketS(col("ts"), 3600).as("hour_start"), col("user_id"),
          call_function("rolling_hash",
            lpad(col("user_id").cast("string"), 12, "0")).as("h0"))
        .select(col("hour_start"), col("user_id"),
          expr("(h0 * h0 + h0) % 1000000007").as("h"))
      val z = hm
        .select(col("hour_start"), (col("h") % 64).as("reg"),
          expr("h DIV 64").as("rest"))
        .groupBy(col("hour_start"), col("reg"))
        .agg(max(expr(
          "CASE WHEN rest = 0 THEN 25L ELSE CAST(25 - length(bin(rest)) AS BIGINT) END")).as("rho"))
        .groupBy(col("hour_start"))
        .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(25 - rho AS INT))")) +
            (lit(64L) - count(lit(1))) * 33554432L).cast("long").as("sumpow"),
          (lit(64L) - count(lit(1))).cast("long").as("vzero"))
      val x = Tables.events(s, dir)
        .groupBy(bucketS(col("ts"), 3600).as("hour_start"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      z.join(x, Seq("hour_start"))
        .select(col("hour_start"),
          expr(
            s"""CASE WHEN (CAST(709 AS BIGINT) * 4096 * 33554432) DIV (1000 * sumpow) <= 160
               |          AND vzero > 0
               |     THEN (64 * CAST(element_at(array(${hllLnMicro.mkString(",")}),
               |                     CAST(vzero AS INT)) AS BIGINT)) DIV 1000000
               |     ELSE (CAST(709 AS BIGINT) * 4096 * 33554432) DIV (1000 * sumpow)
               |END""".stripMargin).as("hll_estimate"),
          col("n_exact").cast("long").as("n_exact"))
    },

    // ----------------------------------------------------------------
    q("q196_class_separability",
      """CLASS-SEPARABILITY audit over the labeled embeddings — the
        |pre-training sanity report for a classification dataset: per
        |label, the exact within-class scatter (Σ|v−μ|² by the
        |sufficient-statistics identity (n·Q − |S|²)/n — no centroid
        |materialized, no second pass) and the squared distance of the
        |class centroid to the GLOBAL centroid, both as floor-divided
        |fixed-point integers with the heavy cross terms
        |(|n_g·S_c − n_c·S_g|² reaches ~4e26) carried through
        |DECIMAL(38)/HUGEINT.  Scale shape: one (label, dim) partial
        |aggregate with map-side combine (640 rows at 64 dims) plus a
        |per-row |v|² accumulator riding the same pass; the global
        |sums derive from the per-label table, so the corpus scans
        |once; everything downstream is |labels|-sized
        |arithmetic.""".stripMargin,
      """WITH e AS (
        |  SELECT label, vec_id, list_transform(embedding,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
        |              * 10000 AS BIGINT)) AS vm
        |  FROM embeddings),
        |rowq AS (
        |  SELECT label,
        |    count(*)::BIGINT AS n,
        |    CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(vm, x -> x * x)), (a, b) -> a + b)) AS BIGINT) AS q
        |  FROM e GROUP BY 1),
        |dims AS (
        |  SELECT label, dim, CAST(sum(vm[dim]) AS BIGINT) AS sd
        |  FROM e, unnest(range(1, 65)) AS t(dim)
        |  GROUP BY 1, 2),
        |lab AS (
        |  SELECT rowq.label, rowq.n, rowq.q,
        |    CAST(sum(d.sd * d.sd) AS BIGINT) AS s2
        |  FROM rowq JOIN dims d ON d.label = rowq.label
        |  GROUP BY 1, 2, 3),
        |gtot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS ng FROM lab),
        |gdims AS (
        |  SELECT dim, CAST(sum(sd) AS BIGINT) AS gd FROM dims GROUP BY 1),
        |cross_d AS (
        |  SELECT d.label,
        |    CAST(sum((CAST(g.ng AS HUGEINT) * d.sd - CAST(lab.n AS HUGEINT) * gd.gd)
        |           * (CAST(g.ng AS HUGEINT) * d.sd - CAST(lab.n AS HUGEINT) * gd.gd)) AS HUGEINT) AS bnum
        |  FROM dims d
        |  JOIN lab ON lab.label = d.label
        |  JOIN gdims gd ON gd.dim = d.dim, gtot g
        |  GROUP BY 1)
        |SELECT lab.label, lab.n,
        |  lab.n * lab.q - lab.s2 AS within_num,
        |  CAST((CAST(lab.n AS HUGEINT) * lab.q - lab.s2)
        |    // (CAST(lab.n AS HUGEINT) * lab.n) AS BIGINT) AS within_q8_mean,
        |  CAST(cross_d.bnum // (CAST(lab.n AS HUGEINT) * lab.n * g.ng * g.ng) AS BIGINT)
        |    AS dist2_global_q8
        |FROM lab JOIN cross_d ON cross_d.label = lab.label, gtot g""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"), expr(
          """transform(embedding,
            |  x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
            |            * 10000 AS BIGINT))""".stripMargin).as("vm"))
      val rowq = e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(expr(
            """aggregate(transform(vm, x -> x * x),
              |          CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
            .cast("long").as("q"))
      val dims = e
        .select(col("label"), posexplode(col("vm")).as(Seq("dim0", "v")))
        .groupBy(col("label"), (col("dim0") + 1).as("dim"))
        .agg(sum(col("v")).cast("long").as("sd"))
      val lab = rowq.join(
        dims.groupBy(col("label"))
          .agg(sum(col("sd") * col("sd")).cast("long").as("s2")), "label")
      val glob = lab.agg(sum(col("n")).cast("long").as("ng"))
      val gdims = dims.groupBy(col("dim")).agg(sum(col("sd")).cast("long").as("gd"))
      val crossD = dims
        .join(lab.select(col("label"), col("n")), "label")
        .join(gdims, "dim")
        .crossJoin(broadcast(glob))
        .groupBy(col("label"))
        .agg(sum(expr(
          """(CAST(ng AS DECIMAL(38,0)) * sd - CAST(n AS DECIMAL(38,0)) * gd)
            |* (CAST(ng AS DECIMAL(38,0)) * sd - CAST(n AS DECIMAL(38,0)) * gd)""".stripMargin))
          .as("bnum"))
      lab.join(crossD, "label").crossJoin(broadcast(glob))
        .select(col("label"), col("n"),
          (col("n") * col("q") - col("s2")).as("within_num"),
          expr("""(CAST(n AS DECIMAL(38,0)) * q - s2)
                 |DIV (CAST(n AS DECIMAL(38,0)) * n)""".stripMargin)
            .as("within_q8_mean"),
          expr("""CAST(bnum DIV (CAST(n AS DECIMAL(38,0)) * n * ng * ng) AS BIGINT)""")
            .as("dist2_global_q8"))
    },

    // ----------------------------------------------------------------
    q("q270_join_skew_audit",
      """Join-key SKEW pre-flight — the audit that decides when
        |SCALE.md §4's salting/AQE-skew-join rules fire, run as a
        |query instead of a post-mortem: for each of the suite's three
        |hottest shuffle keys (lineitem.l_orderkey, events.user_id,
        |documents.source), the key count, row count, heaviest key,
        |mean rows/key, skew factor (max/mean, milli), and the exact
        |p99 key weight. A 1000-executor shuffle stalls on its
        |heaviest key regardless of cluster size — skew_milli names
        |the stall BEFORE the job runs. p99 (and p50) come from the
        |frequency-of-frequencies histogram (rows-per-key → how many
        |keys carry that many rows), which is bounded by the heaviest
        |key's weight, never by key count — so the cumulative window
        |partitions by relation over a tiny spectrum.
        |The audit CLOSES THE LOOP (VERDICT r14 #5): recommended_salt
        |= ceil(max_key_rows / p50_key_rows) clamped to [1, 256] and
        |rounded up to a power of two — the salt factor at which the
        |heaviest key's reducer load shrinks to roughly a median
        |key's, ready to hand to Skew.saltedCount/saltedJoin (whose
        |JVM mirror Skew.recommendedSalt computes the same number;
        |SkewSpec proves count/join parity at the derived value).
        |1 means "don't salt". Scale shape:
        |one groupBy per relation (the same shuffle the audited join
        |would do — the audit costs what one map-side-combined pass
        |costs), then everything downstream is spectrum-sized.""".stripMargin,
      """WITH c1 AS (SELECT count(*)::BIGINT AS cnt FROM lineitem GROUP BY l_orderkey),
        |f1 AS (SELECT 'lineitem.l_orderkey' AS relation, cnt,
        |         count(*)::BIGINT AS nk FROM c1 GROUP BY 2),
        |c2 AS (SELECT count(*)::BIGINT AS cnt FROM events GROUP BY user_id),
        |f2 AS (SELECT 'events.user_id' AS relation, cnt,
        |         count(*)::BIGINT AS nk FROM c2 GROUP BY 2),
        |c3 AS (SELECT count(*)::BIGINT AS cnt FROM documents GROUP BY source),
        |f3 AS (SELECT 'documents.source' AS relation, cnt,
        |         count(*)::BIGINT AS nk FROM c3 GROUP BY 2),
        |fof AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |        UNION ALL SELECT * FROM f3),
        |h AS (SELECT relation, cnt, nk,
        |        CAST(sum(nk) OVER (PARTITION BY relation ORDER BY cnt
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum,
        |        CAST(sum(nk) OVER (PARTITION BY relation) AS BIGINT) AS n_keys,
        |        CAST(sum(cnt * nk) OVER (PARTITION BY relation) AS BIGINT) AS n_rows
        |      FROM fof),
        |agg AS (
        |  SELECT relation, max(n_keys) AS n_keys, max(n_rows) AS n_rows,
        |    max(cnt) AS max_key_rows,
        |    max(n_rows) // max(n_keys) AS mean_key_rows,
        |    (1000 * max(cnt) * max(n_keys)) // max(n_rows) AS skew_milli,
        |    min(CASE WHEN cum >= (99 * n_keys + 99) // 100 THEN cnt END) AS p99_key_rows,
        |    min(CASE WHEN cum >= (n_keys + 1) // 2 THEN cnt END) AS p50_key_rows
        |  FROM h GROUP BY 1),
        |sr AS (SELECT *,
        |  least(greatest((max_key_rows + p50_key_rows - 1) // p50_key_rows, 1), 256) AS r
        |  FROM agg)
        |SELECT relation, n_keys, n_rows, max_key_rows, mean_key_rows,
        |  skew_milli, p99_key_rows, p50_key_rows,
        |  CAST(CASE WHEN r <= 1 THEN 1
        |       ELSE 1::BIGINT << length(bin(r - 1)) END AS BIGINT) AS recommended_salt
        |FROM sr""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      def keyCounts(rel: String, df: DataFrame, key: org.apache.spark.sql.Column) =
        df.groupBy(key.as("key")).agg(count(lit(1)).cast("bigint").as("cnt"))
          .groupBy(col("cnt")).agg(count(lit(1)).cast("bigint").as("nk"))
          .select(lit(rel).as("relation"), col("cnt"), col("nk"))
      // the three spectra union AFTER per-relation aggregation, so the
      // key columns never need a common type (and never leave their agg)
      val fof =
        keyCounts("lineitem.l_orderkey", Tables.lineitem(s, dir), col("l_orderkey"))
          .unionByName(keyCounts("events.user_id", Tables.events(s, dir), col("user_id")))
          .unionByName(keyCounts("documents.source", Tables.documents(s, dir),
            col("source")))
      val cum = Window.partitionBy(col("relation")).orderBy(col("cnt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(col("relation"))
      fof
        .withColumn("cum", sum(col("nk")).over(cum).cast("long"))
        .withColumn("n_keys", sum(col("nk")).over(whole).cast("long"))
        .withColumn("n_rows", sum(col("cnt") * col("nk")).over(whole).cast("long"))
        .groupBy(col("relation"))
        .agg(max(col("n_keys")).as("n_keys"), max(col("n_rows")).as("n_rows"),
          max(col("cnt")).as("max_key_rows"),
          expr("max(n_rows) DIV max(n_keys)").as("mean_key_rows"),
          expr("(1000 * max(cnt) * max(n_keys)) DIV max(n_rows)").as("skew_milli"),
          min(when(expr("cum >= (99 * n_keys + 99) DIV 100"), col("cnt")))
            .as("p99_key_rows"),
          min(when(expr("cum >= (n_keys + 1) DIV 2"), col("cnt")))
            .as("p50_key_rows"))
        .withColumn("r", expr(
          "least(greatest((max_key_rows + p50_key_rows - 1) DIV p50_key_rows, 1), 256)"))
        .withColumn("recommended_salt", expr(
          """CAST(CASE WHEN r <= 1 THEN 1
            |ELSE shiftleft(CAST(1 AS BIGINT), CAST(length(bin(r - 1)) AS INT))
            |END AS BIGINT)""".stripMargin))
        .drop("r")
    }
  )

  /** The shifted fixed-point embeddings (vec_id, vm) q143/q144 cluster. */
  private def kmeansPoints(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    Tables.embeddings(s, dir)
      .withColumn("vm", expr(
        s"transform(${quant("embedding")}, x -> CAST(x * 10000 AS BIGINT) + 10000)"))
      .select(col("vec_id"), col("vm"))
  }

  /** Lloyd assignment: every point's (dist, cid)-nearest centroid, with
    * the k centroids collapsed to one broadcast codebook row. */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val cb = cents.agg(collect_list(struct(col("cid"), col("c"))).as("cb"))
    e.crossJoin(broadcast(cb))
      .withColumn("cid", expr(
        """(array_min(transform(cb, cc -> struct(
          |  aggregate(zip_with(vm, cc.c, (a, b) -> (a - b) * (a - b)),
          |            CAST(0 AS BIGINT), (acc, x) -> acc + x) AS dist,
          |  cc.cid AS cid)))).cid""".stripMargin))
      .select(col("vec_id"), col("vm"), col("cid"))
  }

  /** Lloyd update: per-cluster vec_sum mean with member counts (cid, c, n). */
  private def update(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cid"))
      .agg(call_function("vec_sum", col("vm")).as("sv"), count(lit(1)).as("n"))
      .select(col("cid"), expr("transform(sv, x -> x DIV n)").as("c"), col("n"))

  /** Centroids (cid, c, n) after `iters` Lloyd rounds from seeds
    * vec_id 0..3. The loop-carried state is the k centroid rows, so
    * only those are staged; the last round stays a lazy plan. */
  private def lloyd(e: DataFrame, iters: Int): DataFrame = {
    val seeds = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("vm").as("c"), lit(0L).as("n"))
    graft.Graft.iterate("lloyd", seeds, maxRounds = iters)(c => update(assign(e, c)))
  }

  /** Shared WITH-body for the k-means oracles: fixed-point shifted
    * embeddings (e), seed centroids (c0), and `iters` Lloyd rounds —
    * per round a k×n distance cross join with QUALIFY row_number
    * picking the (dist, cid)-min assignment, then an unnest/re-pack
    * per-dim floor-divide mean. Validated round-for-round against an
    * independent in-python recompute on sf0.01. */
  private def kmeansCtes(iters: Int): String = {
    val rounds = (1 to iters).map { it =>
      val prev = if (it == 1) "c0" else s"c${it - 1}"
      s"""d$it AS (
         |  SELECT e.vec_id, e.vm, $prev.cid,
         |    list_sum(list_transform(range(1, len(e.vm) + 1), i -> (e.vm[i] - $prev.c[i]) * (e.vm[i] - $prev.c[i]))) AS dist
         |  FROM e, $prev),
         |a$it AS (SELECT vec_id, vm, cid FROM d$it QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
         |u$it AS (
         |  SELECT cid, dim, CAST(CAST(sum(v) AS BIGINT) // count(*) AS BIGINT) AS cv
         |  FROM (SELECT cid, unnest(range(0, len(vm))) AS dim, unnest(vm) AS v FROM a$it)
         |  GROUP BY 1, 2),
         |c$it AS (SELECT cid, list(cv ORDER BY dim) AS c FROM u$it GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4)) * 10000 AS BIGINT) + 10000) AS vm
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, vm AS c FROM e WHERE vec_id < 4),
       |$rounds""".stripMargin
  }

  /** DuckDB oracle for q143: the Lloyd rounds plus the flattened final
    * centroids with member counts. */
  private def kmeansOracleSql(iters: Int): String =
    s"""WITH ${kmeansCtes(iters)},
       |n$iters AS (SELECT cid, count(*)::BIGINT AS n_members FROM a$iters GROUP BY 1)
       |SELECT u$iters.cid, n$iters.n_members, u$iters.dim, u$iters.cv AS cval
       |FROM u$iters JOIN n$iters USING (cid)""".stripMargin

  /** DuckDB oracle for q144: per-cluster inertia of the final-round
    * assignment against the UPDATED centroids. */
  private def kmeansSseOracleSql(iters: Int): String =
    s"""WITH ${kmeansCtes(iters)}
       |SELECT a.cid, count(*)::BIGINT AS n_members,
       |  CAST(sum(list_sum(list_transform(range(1, len(a.vm) + 1),
       |    i -> (a.vm[i] - c.c[i]) * (a.vm[i] - c.c[i])))) AS BIGINT) AS sse
       |FROM a$iters a JOIN c$iters c USING (cid)
       |GROUP BY a.cid""".stripMargin
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed exact global ranking — row_number over a TOTAL order
  * without ever sorting the dataset on one partition.
  *
  * A partition-less `row_number().over(Window.orderBy(...))` (or
  * `ntile`) moves the ENTIRE input through a single task — correct at
  * small SF, single-threaded and OOM-bound at 100 TB. This helper is
  * the scale shape of the same operator:
  *
  *   1. `repartitionByRange(ord)` — ONE shuffle; the range sampler
  *      keeps partitions balanced, and partition i holds rows that all
  *      precede partition i+1 in the total order.
  *   2. `sortWithinPartitions(ord)` + `monotonically_increasing_id()`
  *      — every partition sorts only its own slice, in parallel, and
  *      the id encodes (partition, 0-based local rank) as
  *      `pid << 33 | localRank` (public contract of
  *      monotonically_increasing_id), so local ranks fall out scan-side
  *      with no window and no second shuffle of the data.
  *   3. Per-partition counts (|partitions| rows) -> prefix offsets via
  *      a tiny triangular self-join — no partition-less window, no
  *      driver collect. (The self-join is O(npart^2) PAIRS: fine for
  *      shuffle-partition counts (<= thousands), not a pattern to reuse
  *      over large keysets.)
  *   4. global rank = prefix offset + local rank, joined back with a
  *      broadcast of the |partitions|-row offset table.
  *
  * Single-execution contract: the ranked rows and the per-partition
  * counts BOTH read the range-shuffled frame, and local ranks are only
  * consistent with the counts if both branches observe the SAME
  * physical partitioning. ReuseExchange usually guarantees that, but
  * not always — RangePartitioner's reservoir-sample seed depends on the
  * RDD id (`byteswap32(idx ^ (rdd.id << 16))`), so a recomputed or
  * plan-diverged exchange (exchange reuse disabled, column pruning
  * splitting the subtrees) could draw DIFFERENT range bounds and yield
  * silently wrong ranks. So the shuffled+id'd frame is materialized
  * exactly once via `localCheckpoint()` before either branch derives
  * from it; both branches then read frozen blocks, not a recomputable
  * lineage. (Blocks are freed when the checkpointed RDD is GC'd — no
  * session-lifetime storage pin.)
  *
  * Overflow guard: the local rank lives in the low 33 bits of
  * monotonically_increasing_id, so a partition holding >= 2^33 (~8.6 B)
  * rows would bleed into the pid bits and corrupt ranks silently. At
  * the 100 TB tier (~100 B/row, ~500 GB partitions) that is ~5 B rows —
  * the same order of magnitude — so the counts branch raises an error
  * (nearly free: the check runs on the |partitions|-row frame) instead
  * of trusting the caller to keep partitions small.
  *
  * Requirement: `ord` must be a TOTAL order (include a unique
  * tiebreaker column) — otherwise ranks of tied rows depend on the
  * physical row order.
  *
  * Intended consumers: q85_equidepth_hist (rank -> equi-depth bin) and
  * any future global percentile/ntile/median operator. Per-key windows
  * (q37 moving_avg, q39 window_nav) do NOT need it — their
  * `Window.partitionBy(key)` already parallelizes by key.
  */
object DistributedRank {

  /** Max rows per range partition before the (pid << 33 | localRank)
    * encoding of monotonically_increasing_id overflows. */
  val MaxPartRows: Long = 1L << 33

  /** `df` plus `rankCol` (1-based global row_number over `ord`) and
    * `totalCol` (the total row count, same on every row — the usual
    * companion for rank-based binning/percentile math). */
  def withGlobalRank(df: DataFrame, ord: Seq[Column],
      rankCol: String, totalCol: String): DataFrame = {
    val npart = df.sparkSession.sessionState.conf.numShufflePartitions
    // Materialized ONCE (see "Single-execution contract" above): both
    // the counts branch and the final join read these frozen blocks.
    val local = df
      .repartitionByRange(npart, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__lr", (col("__mid").bitwiseAND(MaxPartRows - 1) + 1L))
      .drop("__mid")
      .transform(graft.Graft.stagedCheckpoint)
    val cnts = local.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      // overflow guard folded into the USED column so pruning can't
      // drop it; raise_error is NullType, cast back to long to unify
      .select(col("__pid"),
        when(col("__cnt") < MaxPartRows, col("__cnt"))
          .otherwise(raise_error(concat(
            lit("DistributedRank: partition "), col("__pid"),
            lit(" holds "), col("__cnt"),
            lit(s" rows >= 2^33; local-rank bits would overflow — raise numShufflePartitions")))
            .cast("long")).as("__n"))
    // prefix sum over <= npart rows: triangular left-join instead of a
    // partition-less window, so no WindowExec anywhere in the plan
    val offs = cnts.as("a")
      .join(cnts.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__n")), lit(0L)).as("__off"))
    val total = cnts.agg(sum(col("__n")).cast("long").as(totalCol))
    local
      .join(broadcast(offs), "__pid")
      .crossJoin(broadcast(total))
      .withColumn(rankCol, col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off")
  }

  /** `df` plus `cumCol` (INCLUSIVE global prefix sum of `value` over the
    * total order `ord`) and `totalCol` (the grand total on every row) —
    * the distributed scan/prefix-sum primitive, same scale shape as
    * [[withGlobalRank]]: a partition-less `sum().over(Window.orderBy)`
    * would run the whole input through one task; here the range shuffle
    * partitions the order, each partition computes its LOCAL running
    * sum in parallel (a window partitioned by the range-partition id —
    * npart-way parallel, never partition-less), per-partition totals
    * turn into prefix offsets via the triangular join, and the global
    * cumulative value is offset + local running sum. Same
    * single-execution contract (localCheckpoint before both branches).
    * `value` must be non-null; `ord` must be a total order.
    *
    * Operating requirement: each range partition's rows are buffered by
    * its local-running-sum window task, so `numShufflePartitions` must
    * keep rows-per-partition × concurrent tasks inside execution
    * memory: pick the partition count so each partition holds a few
    * hundred thousand rows (1e8 rows on an 8 GB heap needs 256, about
    * 390k rows each; at 32 every concurrent task buffers about 3M rows
    * and starves the pool). This is the standard spill-aware
    * shuffle-partition sizing, not a limit peculiar to this operator. */
  def withGlobalPrefixSum(df: DataFrame, ord: Seq[Column], value: Column,
      cumCol: String, totalCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val npart = df.sparkSession.sessionState.conf.numShufflePartitions
    val local = df
      .repartitionByRange(npart, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("__pid", shiftright(monotonically_increasing_id(), 33).cast("int"))
      .withColumn("__v", value.cast("long"))
      .transform(graft.Graft.stagedCheckpoint)
    val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
    val cnts = local.groupBy(col("__pid")).agg(sum(col("__v")).as("__n"))
    val offs = cnts.as("a")
      .join(cnts.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__n")), lit(0L)).as("__off"))
    val total = cnts.agg(sum(col("__n")).cast("long").as(totalCol))
    local
      .withColumn("__lcum", sum(col("__v")).over(w))
      .join(broadcast(offs), "__pid")
      .crossJoin(broadcast(total))
      .withColumn(cumCol, col("__off") + col("__lcum"))
      .drop("__pid", "__v", "__lcum", "__off")
  }

  /** [[withGlobalPrefixSum]] specialized to a DENSE-ish numeric order
    * column (ids, offsets, epoch seconds): the partition id is pure
    * arithmetic — `(ord - min) div width` with width sized from the
    * observed [min, max] — so there is NO range sampler and therefore
    * no nondeterministic bounds to freeze: the localCheckpoint
    * materialization (the dominant cost of the general version — it
    * writes every row to block storage before the window) disappears,
    * and both branches recompute the same pids by construction.
    * Costs: one column-pruned min/max scan + ONE data-wide shuffle
    * (the per-bucket window). Bucket balance follows ord's density —
    * a heavily clustered ord degrades parallelism, not correctness;
    * use the general range-sampled version for arbitrary orders. */
  def withGlobalPrefixSumDense(df: DataFrame, ord: Column, value: Column,
      cumCol: String, totalCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val npart = df.sparkSession.sessionState.conf.numShufflePartitions
    val bounds = df.agg(min(ord).cast("long"), max(ord).cast("long")).head()
    if (bounds.isNullAt(0)) // empty input: just type the output columns
      return df.withColumn(cumCol, lit(null).cast("long"))
        .withColumn(totalCol, lit(null).cast("long"))
    val lo = bounds.getLong(0)
    val width = math.max((bounds.getLong(1) - lo) / npart + 1, 1L)
    val withPid = df
      // integer `div`, not `/`: Column./ is double division and drifts
      // above 2^53 — exactly the id range this primitive targets
      .withColumn("__ordl", ord.cast("long") - lo)
      .withColumn("__pid", expr(s"__ordl div ${width}L").cast("int"))
      .drop("__ordl")
      .withColumn("__v", value.cast("long"))
    val cnts = withPid.groupBy(col("__pid")).agg(sum(col("__v")).as("__n"))
    val offs = cnts.as("a")
      .join(cnts.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__n")), lit(0L)).as("__off"))
    val total = cnts.agg(sum(col("__n")).cast("long").as(totalCol))
    withPid
      .withColumn("__lcum",
        sum(col("__v")).over(Window.partitionBy(col("__pid")).orderBy(ord)))
      .join(broadcast(offs), "__pid")
      .crossJoin(broadcast(total))
      .withColumn(cumCol, col("__off") + col("__lcum"))
      .drop("__pid", "__v", "__lcum", "__off")
  }
}

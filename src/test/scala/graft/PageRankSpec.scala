package graft

import graft.operators.Curation
import org.apache.spark.sql.functions.col

/** Fixed-point PageRank (Curation.pageRank) checked against an exact
  * in-memory reference with the SAME integer arithmetic (scale 1e12,
  * floor divides), plus the structural properties that make the ranks
  * trustworthy: hub dominance on a star and near-conservation of total
  * rank mass (floor divides only ever LOSE mass, at most a few units
  * per node per iteration).
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000000L

  /** Reference implementation: same recurrence, plain Scala maps. */
  private def refRanks(und: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (und ++ und.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val n = adj.size
    var pr = adj.keys.map(k => k -> S / n).toMap
    for (_ <- 1 to iters) {
      val sc = adj.keys.map { v =>
        // incoming = outgoing neighbours (undirected)
        v -> adj(v).map(u => pr(u) / deg(u)).sum
      }.toMap
      pr = adj.keys.map(v => v -> ((15 * S) / (100L * n) + (85 * sc(v)) / 100)).toMap
    }
    pr
  }

  private def sparkRanks(und: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Curation.pageRank(und.toDF("x", "y"), iters)
      .select(col("n"), col("pr"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the in-memory fixed-point reference bit for bit") {
    // star 0-{1..5}, a triangle 10-11-12, and a path 20-21-22-23
    val und = (1L to 5L).map((0L, _)) ++
      Seq((10L, 11L), (11L, 12L), (10L, 12L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 23L))
    for (iters <- Seq(1, 3, 5))
      assert(sparkRanks(und, iters) == refRanks(und, iters), s"iters=$iters")
  }

  test("shuffled-hash rank attachment (node-count gate forced low) is bit-identical to broadcast") {
    val und = (1L to 5L).map((0L, _)) ++
      Seq((10L, 11L), (11L, 12L), (10L, 12L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 23L))
    val n = und.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong
    // with a known node count the gate reads graft.pr.broadcastMaxNodes
    // (without one, pageRank always broadcasts)
    def ranksAndPlan(): (Map[Long, Long], String) = {
      val df = Curation.pageRank(und.toDF("x", "y"), 3, nNodesOpt = Some(n))
        .select(col("n"), col("pr"))
      val ranks = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (ranks, df.queryExecution.executedPlan.toString)
    }
    def withGate[A](value: Option[String])(body: => A): A = {
      val key = "graft.pr.broadcastMaxNodes"
      def set(v: Option[String]): Unit = v match {
        case Some(x) => sys.props(key) = x
        case None    => sys.props -= key
      }
      val prev = sys.props.get(key)
      set(value)
      try body finally set(prev)
    }
    val (broadcastRanks, broadcastPlan) = withGate(None)(ranksAndPlan())
    val (shuffledRanks, shuffledPlan) = withGate(Some("0"))(ranksAndPlan())
    assert(broadcastPlan.contains("BroadcastHashJoin"), broadcastPlan)
    assert(!shuffledPlan.contains("BroadcastHashJoin") &&
      shuffledPlan.contains("ShuffledHashJoin"), shuffledPlan)
    assert(shuffledRanks == broadcastRanks)
    assert(shuffledRanks == refRanks(und, 3))
  }

  test("star hub outranks every leaf; path interior outranks endpoints") {
    val und = (1L to 8L).map((0L, _)) ++ Seq((20L, 21L), (21L, 22L))
    val pr = sparkRanks(und, 3)
    (1L to 8L).foreach(l => assert(pr(0L) > pr(l), s"hub vs leaf $l"))
    assert(pr(21L) > pr(20L) && pr(21L) > pr(22L))
  }

  test("rank mass is conserved up to floor-divide loss") {
    val und = (1L to 5L).map((0L, _)) ++ Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val iters = 3
    val pr = sparkRanks(und, iters)
    val n = pr.size.toLong
    val total = pr.values.sum
    // each node loses < 1 unit per floor divide; per iteration there are
    // deg-many contrib divides + 2 recombination divides per node, and the
    // damping itself removes nothing in expectation (0.15 redistributed) —
    // so the loss after k iterations is well under n * (maxdeg + 2) * k
    val maxDeg = 5L
    val bound = n * (maxDeg + 2) * iters * 100 // generous two-orders slack
    assert(total <= S && total >= S - bound, s"total=$total S=$S bound=$bound")
  }
}

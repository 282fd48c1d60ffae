package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Semantics of the temporal join operators (q104 as-of, q105 range)
  * proven against a brute-force in-memory recompute of the same rule
  * over the real sf0.001 events, plus plan-shape asserts: the as-of is
  * one keyed window (no join at all), and the range join is a hash
  * EQUI-join on the time bucket — never a nested loop over the raw
  * range predicate.
  */
class TemporalJoinsSpec extends SparkSpec {

  private val sfDir = TestSession.sfDir

  private def events(): Seq[(Long, Long, Long, String)] =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq

  test("q104 as-of join matches a brute-force last-view-at-or-before recompute") {
    val ev = events()
    val views = ev.filter(_._4 == "view")
    val purchases = ev.filter(_._4 == "purchase")
    val expected = purchases.map { case (pid, uid, pts, _) =>
      val last = views.filter(v => v._2 == uid && v._3 <= pts)
        .sortBy(v => (v._3, v._1)).lastOption
      (pid, last.map(_._1), last.map(v => pts - v._3))
    }.sortBy(_._1)

    val got = SparkEntry.queries("q104_asof_join")(spark, sfDir)
      .select(col("purchase_id"), col("view_id"), col("gap_us"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1).toSeq

    assert(got == expected)
    // left semantics: the data really exercises both branches
    assert(got.exists(_._2.isEmpty), "no unmatched purchase in the data")
    assert(got.exists(_._2.nonEmpty), "no matched purchase in the data")
  }

  test("q104 'at or before' includes an equal-timestamp view (ASOF >= tie)") {
    // Synthetic corner: view and purchase share the exact timestamp.
    // The fixture writes ts as a nanos bigint — one of the two physical
    // encodings Tables.events adapts to (EventsEncodingSpec covers the
    // full matrix).
    import org.apache.spark.sql.types._
    val tNanos = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000000L
    val rows = Seq(
      Row(1L, tNanos, 7L, "view", 0.0, "{}"),
      Row(2L, tNanos, 7L, "purchase", 0.0, "{}"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val dir = java.nio.file.Files.createTempDirectory("asof-tie").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q104_asof_join")(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("view_id") == 1L)
    assert(out.head.getAs[Long]("gap_us") == 0L)
  }

  test("q105 range join matches a brute-force interval-count recompute") {
    val ev = events()
    val clicks = ev.filter(_._4 == "click").map(_._3)
    val hourUs = 3600L * 1000000L
    val expected = ev.filter(_._4 == "error").map { case (id, _, ts, _) =>
      id -> clicks.count(c => c >= ts && c < ts + hourUs).toLong
    }.sortBy(_._1)

    val got = SparkEntry.queries("q105_range_join")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

    assert(got == expected)
    // zero-click incidents must survive (left semantics)
    assert(got.exists(_._2 == 0L), "no empty incident window in the data")
    assert(got.exists(_._2 > 0L), "no populated incident window in the data")
  }

  test("q105 plans the prefix-sum shape: no nested loop, no pair join") {
    val qe = SparkEntry.queries("q105_range_join")(spark, sfDir)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the r7 bucketed shape joined points to intervals (pair
    // enumeration — quadratic in per-hour density); the prefix-sum
    // kernel never joins the two INPUTS at all — the only joins left
    // are the broadcast of the |partitions|-row offset table and the
    // 1-row grand-total cross join (the PlanGuard-sanctioned
    // provably-small BNLJ), so any shuffled data-to-data join means
    // pair enumeration is back
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"a data-to-data join means pair enumeration is back:\n$plan")
  }

  test("q190 forward as-of with tolerance matches a brute-force recompute") {
    val ev = events()
    val views = ev.filter(_._4 == "view")
    val purchases = ev.filter(_._4 == "purchase")
    val tol = 21600000000L
    val expected = purchases.map { case (pid, uid, pts, _) =>
      val first = views.filter(v => v._2 == uid && v._3 >= pts)
        .sortBy(v => (v._3, v._1)).headOption
        .filter(v => v._3 - pts <= tol)
      (pid, first.map(_._1), first.map(v => v._3 - pts))
    }.sortBy(_._1)

    val got = SparkEntry.queries("q190_asof_forward")(spark, sfDir)
      .select(col("purchase_id"), col("view_id"), col("gap_us"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1).toSeq

    assert(got == expected, "forward as-of diverges from brute force")
    assert(got.exists(_._2.isEmpty) && got.exists(_._2.nonEmpty),
      "fixture should exercise both matched and unmatched purchases")
    got.foreach { case (_, _, gap) =>
      gap.foreach(g => assert(g >= 0 && g <= tol, "tolerance violated"))
    }
  }

  test("q190 plans one keyed window and no join (reflection reuses the kernel)") {
    val qe = SparkEntry.queries("q190_asof_forward")(spark, sfDir).queryExecution
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty)
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("q104 plans one keyed window and no join") {
    val qe = SparkEntry.queries("q104_asof_join")(spark, sfDir).queryExecution
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val joins = qe.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, "as-of must not materialize a join pair space")
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }


  test("the range kernel keeps each interval's start point and sheds its end point") {
    // points at 0, 1000, ..., 39000 and intervals [s, s + 1000) that
    // start on one point and end on the next: each half-open interval
    // counts exactly its start point (closed would count 2, open 0,
    // (s, e] would leave the last interval empty)
    val ivs = spark.range(40).select(col("id"),
      (col("id") * 1000).as("s_us"), (col("id") * 1000 + 1000).as("e_us"))
    val r = operators.TemporalJoins.rangeCountKernel(ivs,
        spark.range(40).select((col("id") * 1000).as("t_us")))
      .agg(count(lit(1)), min(col("n_points")), max(col("n_points")))
      .collect()(0)
    assert((0 until 3).map(r.getLong) == Seq(40L, 1L, 1L))
  }
}

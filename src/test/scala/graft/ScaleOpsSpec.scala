package graft

import graft.operators.{BoundedTopK, ScaleOps, Scored, TopKBuf}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class ScaleOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def byName(n: String) = SparkEntry.all.find(_.name == n).get

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  // ---- BoundedTopK algebra: the partial-aggregation contract ----------

  private val scoredGen: Gen[List[Scored]] = Gen.listOf(
    Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 20L)).map {
      case (c, k) => Scored(c, k)
    })

  private def exact(xs: List[Scored], k: Int): Seq[Scored] =
    xs.sortWith((a, b) => a.c > b.c || (a.c == b.c && a.k < b.k)).take(k)

  private def reduceAll(agg: BoundedTopK, xs: List[Scored]): TopKBuf =
    xs.foldLeft(agg.zero)((b, a) => agg.reduce(b, a))

  test("reduce over any input order equals the exact sorted top-k") {
    val agg = new BoundedTopK(3)
    check(Prop.forAll(scoredGen) { xs =>
      reduceAll(agg, xs).xs == exact(xs, 3)
    })
  }

  test("merge of arbitrary splits equals reduce over the whole input, commutatively") {
    val agg = new BoundedTopK(3)
    check(Prop.forAll(scoredGen, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val (l, r) = xs.splitAt(cut % (xs.size + 1))
      val merged = agg.merge(reduceAll(agg, l), reduceAll(agg, r))
      val flipped = agg.merge(reduceAll(agg, r), reduceAll(agg, l))
      merged.xs == exact(xs, 3) && flipped.xs == merged.xs
    })
  }

  test("merge with zero is identity") {
    val agg = new BoundedTopK(2)
    check(Prop.forAll(scoredGen) { xs =>
      val b = reduceAll(agg, xs)
      agg.merge(b, agg.zero) == b && agg.merge(agg.zero, b) == b
    })
  }

  // ---- MisraGries: bounded state + completeness under any split -----

  private val keysGen: Gen[List[Long]] =
    Gen.listOf(Gen.frequency(5 -> Gen.const(1L), 3 -> Gen.const(2L),
      1 -> Gen.chooseNum(3L, 30L)))

  test("MG state is bounded by m and keeps every key with freq > n/(m+1), any split") {
    val m = 4
    val agg = new operators.MisraGries(m)
    check(Prop.forAll(keysGen, Gen.chooseNum(0, 1000)) { (xs, cut) =>
      val (l, r) = xs.splitAt(cut % (xs.size + 1))
      val buf = agg.merge(
        l.foldLeft(agg.zero)((b, k) => agg.reduce(b, k)),
        r.foldLeft(agg.zero)((b, k) => agg.reduce(b, k)))
      val freq = xs.groupBy(identity).view.mapValues(_.size.toLong)
      val mustKeep = freq.filter(_._2 > xs.size.toLong / (m + 1)).keySet
      val kept = buf.xs.map(_.k).toSet
      buf.xs.size <= m &&
        mustKeep.subsetOf(kept) &&
        // stored counts never overcount, undercount bounded by n/(m+1)
        buf.xs.forall(s => s.c <= freq(s.k) &&
          freq(s.k) - s.c <= xs.size.toLong / (m + 1) + 1)
    })
  }

  // ---- q78: bounded aggregator == window row_number, any partitioning

  test("q78 equals the window row_number top-k at 1 and 7 partitions") {
    val base = byName("q78_topk_bounded_agg")
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cnt").desc, col("user_id"))
    val expected = perUser.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("rk"), col("user_id"), col("cnt"))
      .collect().toSet
    for (parts <- Seq(1, 7)) {
      val got = withSQLConf("spark.sql.shuffle.partitions" -> parts.toString) {
        base.run(spark, sfDir).collect().toSet
      }
      assert(got == expected, s"parts=$parts")
    }
  }

  // ---- q79: assignment picks the true nearest centroid ----------------

  test("q79 membership counts sum to the corpus and match a driver-side replay") {
    val rows = byName("q79_kmeans_assign").run(spark, sfDir).collect()
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(f =>
        BigDecimal(math.rint(f.toDouble * 1e4) / 1e4)))
      .toMap
    val cents = (0L until 8L).map(i => i -> emb(i))
    def d2(a: Seq[BigDecimal], b: Seq[BigDecimal]): BigDecimal =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val assign = emb.toSeq.map { case (id, v) =>
      cents.map { case (cid, cv) => (d2(v, cv), cid) }.min._2
    }
    val expectedCounts = assign.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotCounts = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCounts == expectedCounts)
    assert(rows.map(_.getLong(1)).sum == emb.size)
  }

  // ---- q80: CMS properties beyond the oracle --------------------------

  test("q80 estimates are exact when no bucket collides in any row, and never under") {
    val rows = byName("q80_countmin_sketch").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exactN, estN, ok) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ok == 1L, s"over-estimate guarantee violated: $r")
      assert(estN >= exactN)
    }
  }

  test("q86 equals the direct exact heavy-hitter computation") {
    val got = byName("q86_heavy_hitters_mg").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.events(spark, sfDir)
      .select(floor(log(col("value"))).cast("long").as("kb"))
    val n = e.count()
    val expected = e.groupBy("kb").count()
      .filter(col("count") > n / 8.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("new ScaleOps queries are registered with oracles") {
    Seq("q78_topk_bounded_agg", "q79_kmeans_assign", "q80_countmin_sketch",
      "q86_heavy_hitters_mg", "q138_embedding_dim_stats", "q139_gram_topk_pairs",
      "q143_kmeans_lloyd", "q144_cluster_sse", "q153_hll_cardinality",
      "q154_dim_quantiles", "q161_power_iteration", "q165_hourly_hll")
      .foreach { n =>
        assert(SparkEntry.queries.contains(n), n)
        assert(SparkEntry.oracleSql.contains(n), n)
      }
  }

  test("q138 per-dim stats agree with a brute-force recompute and cover every dim") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(v =>
        math.round(BigDecimal(v.toDouble).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble * 10000).toLong))
    val dims = vecs.head.length
    val got = byName("q138_embedding_dim_stats").run(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.size == dims)
    for (d <- 0 until dims) {
      val col0 = vecs.map(_(d))
      assert(got(d.toLong) == ((col0.length.toLong, col0.sum,
        col0.map(v => v * v).sum, col0.min, col0.max)), s"dim $d")
    }
  }

  test("q139 gram entries are symmetric-free (i<j) and match brute force for the top pair") {
    val rows = byName("q139_gram_topk_pairs").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    rows.foreach { case (i, j, _) => assert(i < j, s"($i,$j)") }
    // |gram| is non-increasing down the list
    rows.map(_._3.abs).sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(v =>
        math.round(BigDecimal(v.toDouble).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble * 10000).toLong))
    val (ti, tj, tg) = rows.head
    assert(vecs.map(v => v(ti.toInt) * v(tj.toInt)).sum == tg)
  }

  test("q153 HLL: 64 registers, partitioning-invariant, estimate within 2x of exact") {
    val d = byName("q153_hll_cardinality")
    def run(parts: String) = withSQLConf("spark.sql.shuffle.partitions" -> parts) {
      d.run(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    }
    val a = run("1")
    val b = run("7")
    // max is algebraic: any partition merge yields the same registers —
    // the HLL union property, proven under two different shuffle shapes
    assert(a == b, "registers depend on partitioning")
    assert(a.map(_._1) == (0L until 64L), "register ids must cover 0..63")
    a.foreach { case (reg, rho, _, _) =>
      assert(rho >= 0 && rho <= 25, s"rho $rho out of range at reg $reg")
    }
    val (_, _, est, exact) = a.head
    assert(est >= exact / 2 && est <= exact * 2,
      s"HLL estimate $est not within 2x of exact $exact (m=64 expects ~13% error)")
  }

  test("q161 power iteration equals an exact BigInt driver-side replay") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(v =>
        math.round(BigDecimal(v.toDouble).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble * 10000).toLong).toArray)
    val d = vecs.head.length
    val gram = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; j <- 0 until d)
      gram(i)(j) = vecs.map(v => BigInt(v(i)) * v(j)).sum
    var v = Array.fill(d)(BigInt(1000))
    for (_ <- 1 to 3) {
      val w = (0 until d).map(i => (0 until d).map(j => gram(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max.max(BigInt(1))
      // (1000w + 1001mx) / mx - 1001: numerator nonneg, so BigInt /
      // (truncation) IS floor — the engines' shared convention
      v = w.map(x => (BigInt(1000) * x + BigInt(1001) * mx) / mx - 1001).toArray
    }
    val got = byName("q161_power_iteration").run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == d)
    for (i <- 0 until d)
      assert(got(i.toLong) == v(i).toLong, s"component $i: ${got(i.toLong)} vs ${v(i)}")
    // the iterate is normalized: some component sits at +-1000
    assert(got.values.map(_.abs).max == 1000L)
  }

  test("q154 medians/p90s equal the sorted order statistics per dimension") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(v =>
        math.round(BigDecimal(v.toDouble).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble * 10000).toLong))
    val dims = vecs.head.length
    val got = byName("q154_dim_quantiles").run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == dims)
    for (d <- 0 until dims) {
      val sorted = vecs.map(_(d)).sorted
      val n = sorted.length
      val median = sorted((n + 1) / 2 - 1) // k-th order stat, 1-based k=(n+1)/2
      val p90 = sorted((9 * n + 9) / 10 - 1)
      assert(got(d.toLong) == ((n.toLong, median, p90)), s"dim $d")
    }
  }

  test("q196 separability equals a BigInt sufficient-statistics recompute") {
    import org.apache.spark.sql.functions._
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("label"), expr(
        """transform(embedding,
          |  x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
          |            * 10000 AS BIGINT))""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toVector))
    val byLabel = vecs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dimN = vecs.head._2.length
    val gS = Vector.tabulate(dimN)(d => vecs.map(v => BigInt(v._2(d))).sum)
    val ng = BigInt(vecs.length)
    val expected = byLabel.map { case (lbl, vs) =>
      val n = BigInt(vs.length)
      val q = vs.map(v => v.map(x => BigInt(x) * x).sum).sum
      val sC = Vector.tabulate(dimN)(d => vs.map(v => BigInt(v(d))).sum)
      val s2 = sC.map(x => x * x).sum
      val bnum = (0 until dimN).map { d =>
        val t = ng * sC(d) - n * gS(d); t * t
      }.sum
      lbl.toLong -> ((n.toLong, (n * q - s2).toLong,
        ((n * q - s2) / (n * n)).toLong,
        (bnum / (n * n * ng * ng)).toLong))
    }
    val got = byName("q196_class_separability").run(spark, sfDir).collect()
      .map(r => r.getInt(0).toLong ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected, "separability diverges from BigInt recompute")
    // the labels are random — classes overlap, so between-class distance
    // must be far below within-class spread (and both positive)
    got.values.foreach { case (_, w, wm, d2) =>
      assert(w > 0 && wm > 0 && d2 >= 0)
      assert(d2 < wm / 10, "random labels should not separate")
    }
  }


  test("q153 estimates 10^6 sequential user ids within 30%") {
    // sequential keys are what q153's (h^2 + h) mod p pass is for: their
    // base-131 fold never wraps the modulus. m = 64 registers give about
    // 13% standard error, so 30% is a 2.3 sigma gate.
    val dir = java.nio.file.Files.createTempDirectory("graft-q153").toString
    spark.range(1000000L).select(col("id").as("user_id"), timestamp_seconds(col("id")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val rows = byName("q153_hll_cardinality").run(spark, dir).collect()
    val (est, exact) = (rows.head.getLong(2), rows.head.getLong(3))
    assert(rows.length == 64 && exact == 1000000L)
    assert(est > 700000L && est < 1300000L, s"estimate $est")
  }
}

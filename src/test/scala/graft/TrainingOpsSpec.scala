package graft

import org.apache.spark.sql.functions._

class TrainingOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def byName(n: String) = SparkEntry.all.find(_.name == n).get

  test("q155 priority sample is partitioning-invariant and weight-tilted") {
    val d = byName("q155_priority_sampling")
    val a = withSQLConf("spark.sql.shuffle.partitions" -> "1") {
      d.run(spark, sfDir).collect().map(_.getLong(0)).toSeq
    }
    val b = withSQLConf("spark.sql.shuffle.partitions" -> "7") {
      d.run(spark, sfDir).collect().map(_.getLong(0)).toSeq
    }
    assert(a == b && a.size == 25, "sample must be a pure function of the data")
    // weighted-by-length: the sample's mean doc length beats the corpus mean
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampleMean = a.map(lens).sum.toDouble / a.size
    val corpusMean = lens.values.sum.toDouble / lens.size
    assert(sampleMean > corpusMean,
      s"priority sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("q163 RRF output is internally consistent and partitioning-invariant") {
    val d = byName("q163_hybrid_rrf")
    def run(parts: String) = withSQLConf("spark.sql.shuffle.partitions" -> parts) {
      d.run(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    val rows = run("4")
    assert(rows == run("1"), "fusion must not depend on partitioning")
    assert(rows.size == 20)
    rows.foreach { case (id, rt, rv, rrf) =>
      assert(rt >= 0 && rt <= 50 && rv >= 0 && rv <= 50, s"rank range at $id")
      assert(rt > 0 || rv > 0, s"doc $id in neither list")
      val expect = (if (rt > 0) 1000000L / (60 + rt) else 0L) +
        (if (rv > 0) 1000000L / (60 + rv) else 0L)
      assert(rrf == expect, s"rrf mismatch at $id: $rrf vs $expect")
    }
    // fusion actually fuses: the result draws on both rankings
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0))
    // rrf is non-increasing down the list
    rows.map(_._4).sliding(2).foreach { case Seq(a, b) => assert(a >= b) }
  }

  test("q160 skyline is exactly the non-dominated set (soundness + completeness)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val w = r.getString(1).split("\\s+").filter(_.nonEmpty)
        (r.getLong(0), w.length.toLong, 1000L * w.distinct.length / w.length)
      }.filter(_._2 > 0)
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
      (a._2 > b._2 && a._3 >= b._3) || (a._2 >= b._2 && a._3 > b._3)
    val expected = docs.filter(d => !docs.exists(e => dominates(e, d)))
      .map(_._1).toSet

    val got = byName("q160_skyline").run(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected, "skyline diverges from the dominance definition")
    assert(got.nonEmpty && got.size < docs.length, "frontier should be a proper subset")
  }

  test("q81 sample is identical under different partitionings (the anti-rand claim)") {
    val d = byName("q81_stratified_sample")
    val a = withSQLConf("spark.sql.shuffle.partitions" -> "1") {
      d.run(spark, sfDir).collect().toSet
    }
    val b = withSQLConf("spark.sql.shuffle.partitions" -> "7") {
      d.run(spark, sfDir).collect().toSet
    }
    assert(a == b && a.nonEmpty)
    // sampled counts respect the per-stratum gate direction: 'en' is
    // downsampled harder than the rest
    val m = a.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (enTot, enSamp) = m("en")
    assert(enSamp.toDouble / enTot < 0.3, s"en kept $enSamp/$enTot")
  }

  test("q83 paths are chronological: path length matches event count") {
    byName("q83_user_sequences").run(spark, sfDir).collect().foreach { r =>
      val (n, path) = (r.getLong(1), r.getString(2))
      assert(path.split("->").length.toLong == n, s"user ${r.getLong(0)}")
    }
  }

  test("q84 change classes partition the key space") {
    val rows = byName("q84_snapshot_cdc").run(spark, sfDir).collect()
    val total = rows.map(_.getLong(1)).sum
    val keys = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct().count()
    assert(total == keys)
  }

  test("q85 bins are contiguous and depth-balanced") {
    val rows = byName("q85_equidepth_hist").run(spark, sfDir)
      .orderBy("bin").collect()
    assert(rows.length == 10)
    val ns = rows.map(_.getLong(1))
    assert(ns.max - ns.min <= 1, s"ntile depth skew: ${ns.toSeq}")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) <= b.getDouble(2) + 1e-12,
        s"bins overlap: ${a.getInt(0)} hi=${a.getDouble(3)} vs ${b.getInt(0)} lo=${b.getDouble(2)}")
    }
  }

  test("q88 negatives are genuinely negative: none appear in the positive set") {
    val negs = byName("q88_negative_sampling").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pos = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(negs.nonEmpty && negs.intersect(pos).isEmpty)
  }

  test("TrainingOps queries are registered with oracles") {
    Seq("q81_stratified_sample", "q82_vocab_coverage", "q83_user_sequences",
      "q84_snapshot_cdc", "q85_equidepth_hist", "q87_keyword_search",
      "q88_negative_sampling", "q129_bpe_train", "q135_bigram_lm_score",
      "q136_bpe_encode", "q137_lang_rebalance", "q140_bpe_vocab_freq",
      "q141_postings_list", "q142_context_windows", "q147_token_apportionment").foreach { n =>
      assert(SparkEntry.queries.contains(n), n)
      assert(SparkEntry.oracleSql.contains(n), n)
    }
  }

  test("q135 lm score matches a brute-force in-memory bigram-model recompute") {
    val texts = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docBigrams = texts.view.mapValues { t =>
      val w = t.split(" ", -1) // keep empty tokens: split(col, " ") does
      w.iterator.zip(w.iterator.drop(1)).toSeq
    }.toMap
    val cab = docBigrams.values.flatten
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val ca = cab.groupMapReduce(_._1._1)(_._2)(_ + _)
    val expected = docBigrams.collect { case (id, bgs) if bgs.nonEmpty =>
      val sp = bgs.iterator.map(bg => cab(bg) * 1000000L / ca(bg._1)).sum
      id -> (bgs.size.toLong, sp / bgs.size)
    }
    val got = byName("q135_bigram_lm_score").run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("q136 encode matches in-memory merge application of the trained table") {
    val merges = graft.operators.BpeTrainer.trainCached(spark, sfDir, 10)
    assert(merges.length == 10)
    val expected = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect().map { r =>
      val words = r.getString(1).split("\\s+").filter(_.nonEmpty)
      val syms = words.map(_.map(_.toString).toIndexedSeq)
      val nSyms = syms.map(_.size.toLong).sum
      val enc = syms.map(s0 => merges.foldLeft(s0)((s1, m) =>
        graft.operators.BpeTrainer.applyMerge(s1, m.left, m.right)))
      val nTok = enc.map(_.size.toLong).sum
      r.getLong(0) -> (nSyms, nTok)
    }.toMap
    val got = byName("q136_bpe_encode").run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    // the merges genuinely compress: some document lost symbols
    assert(expected.exists { case (_, (a, b)) => b < a })
  }

  test("q140 vocab frequencies: every learned merge token appears; counts consistent with q136") {
    val merges = graft.operators.BpeTrainer.trainCached(spark, sfDir, 10)
    val rows = byName("q140_bpe_vocab_freq").run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 30)
    // df never exceeds cnt and both are positive
    rows.foreach { case (t, cnt, df) => assert(df >= 1 && cnt >= df, t) }
    // deterministic ordering: cnt non-increasing
    rows.map(_._2).sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // top-30 over this corpus includes at least one MERGED (multi-char) token
    assert(rows.exists(_._1.length > 1))
    // total token count across the full vocab equals q136's n_tokens sum
    val vocabTotal = byName("q136_bpe_encode").run(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens"))).collect()(0).getLong(0)
    val fullCnt = Tables.documents(spark, sfDir)
      .select(explode(org.apache.spark.sql.functions.call_function("regexp_extract_all",
        graft.operators.TrainingOps.bpeEncodeCol(merges, col("text")),
        lit(graft.operators.TrainingOps.S1 + "([^" + graft.operators.TrainingOps.S2 + "]*)" +
          graft.operators.TrainingOps.S2), lit(1))).as("t"))
      .count()
    assert(fullCnt == vocabTotal)
  }

  test("q142 windows tile each document with stride 16 and hash real content") {
    val rows = byName("q142_context_windows").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = rows.groupBy(_._1)
    val texts = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    byDoc.foreach { case (id, ws) =>
      val toks = texts(id).split("\\s+").filter(_.nonEmpty)
      val expectN = if (toks.length >= 32) (toks.length - 32) / 16 + 1 else 0
      assert(ws.length == expectN, s"doc $id")
      ws.sortBy(_._2).zipWithIndex.foreach { case ((_, k, start, h), i) =>
        assert(k == i.toLong && start == k * 16 + 1)
        val expectH = java.security.MessageDigest.getInstance("MD5")
          .digest(toks.slice(k.toInt * 16, k.toInt * 16 + 32).mkString(" ")
            .getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(h == expectH, s"doc $id win $k")
      }
    }
    // docs shorter than one window are absent, longer docs overlap 50%
    assert(rows.nonEmpty)
  }

  test("q147 apportionment: allocations are integers that sum EXACTLY to the budget") {
    val rows = byName("q147_token_apportionment").run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sum == 100000L)
    // every source gets at least its floor quota and at most floor+1
    val total = rows.map(_._2).sum
    rows.foreach { case (src, nTok, alloc) =>
      val base = 100000L * nTok / total
      assert(alloc == base || alloc == base + 1, s"$src: $alloc vs base $base")
    }
    // monotone: a strictly larger source never gets a smaller allocation
    for ((a, b) <- rows.combinations(2).map(c => (c(0), c(1))) if a._2 > b._2)
      assert(a._3 >= b._3, s"${a._1} (${a._2}) < ${b._1} (${b._2})")
  }

  test("q137 rebalance: smallest language keeps everything, others are cut toward it") {
    val rows = byName("q137_lang_rebalance").run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val minTotal = rows.values.map(_._1).min
    rows.foreach { case (lang, (total, kept)) =>
      assert(kept <= total, lang)
      if (total == minTotal) assert(kept == total, s"$lang is smallest, must keep all")
    }
    // every language's kept count lands within sampling noise of the
    // smallest language's volume (the whole point of the op)
    rows.foreach { case (lang, (total, kept)) =>
      assert(math.abs(kept - minTotal) <= math.max(8L, minTotal / 4),
        s"$lang kept $kept, target $minTotal (total $total)")
    }
  }

  test("q175 DQ audit: denominators real, childless orders caught, clean checks zero") {
    val rows = byName("q175_dq_audit").run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.size == 8, "expected eight checks")
    val nOrders = Tables.orders(spark, sfDir).count()
    val nLineitem = Tables.lineitem(spark, sfDir).count()
    assert(rows("orders_childless")._2 == nOrders)
    assert(rows("lineitem_orphan_orderkey")._2 == nLineitem)
    // brute-force the one genuinely nonzero check
    val childless = nOrders - Tables.lineitem(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("l_orderkey")).distinct()
      .join(Tables.orders(spark, sfDir).select(
        org.apache.spark.sql.functions.col("o_orderkey")
          .as("l_orderkey")), "l_orderkey").count()
    assert(rows("orders_childless")._1 == childless && childless > 0,
      s"childless orders: ${rows("orders_childless")._1} vs $childless")
    // the generator's data is referentially clean — those checks must say so
    Seq("lineitem_orphan_orderkey", "orders_orphan_custkey",
      "orders_pk_duplicate", "events_props_malformed",
      "documents_nchars_mismatch", "embeddings_ragged_dim").foreach { c =>
      assert(rows(c)._1 == 0, s"$c should be clean")
    }
  }

  test("q176 MMR picks equal a brute-force greedy recompute and diversify") {
    import org.apache.spark.sql.functions.{col, expr}
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr(
        """transform(embedding,
          |  x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4))
          |            * 10000 AS BIGINT))""".stripMargin).as("vm"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    def dot(a: Vector[Long], b: Vector[Long]) = a.lazyZip(b).map(_ * _).sum
    val qm = vecs(0L)
    val cand = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, dot(v, qm)) }
      .sortBy { case (id, _, r) => (-r, id) }.take(12)
    var sel = Vector(cand.maxBy { case (id, _, r) => (r, -id) })
    var mmrs = Map(sel.head._1 -> sel.head._3)
    (2 to 5).foreach { _ =>
      val selIds = sel.map(_._1).toSet
      val pick = cand.filterNot(c => selIds(c._1)).map { case (id, v, r) =>
        (id, v, r, r - sel.map(s => dot(v, s._2)).max)
      }.sortBy { case (id, _, _, m) => (-m, id) }.head
      sel :+= ((pick._1, pick._2, pick._3))
      mmrs += pick._1 -> pick._4
    }
    val got = byName("q176_mmr_selection").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.map(_._2).toVector == sel.map(_._1),
      s"pick order diverges: ${got.map(_._2).toVector} vs ${sel.map(_._1)}")
    got.foreach { case (_, id, r, m) =>
      assert(r == cand.find(_._1 == id).get._3, s"rel of $id")
      assert(m == mmrs(id), s"mmr of $id")
    }
    // diversification did something: the greedy order differs from
    // pure-relevance order (otherwise the fixture is degenerate)
    assert(got.map(_._2).toVector != cand.take(5).map(_._1).toVector,
      "MMR should reorder vs pure relevance on this fixture")
  }

  test("mmrSelect == in-memory greedy reference on random pools (ties, short pools)") {
    // the fold rewrite's edge cases: tied rel/mmr values (the vec_id
    // tie-break must decide identically), pools shorter than the pick
    // count (null picks must vanish), and the empty pool
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("rel", LongType),
      StructField("vm", ArrayType(LongType))))
    def reference(pool: Seq[(Long, Long, Vector[Long])], poolSize: Int,
        picks: Int): Seq[(Long, Long, Long, Long)] = {
      val cand = pool.sortBy { case (id, r, _) => (-r, id) }.take(poolSize)
      if (cand.isEmpty) return Seq.empty
      var sel = Vector((1L, cand.head._1, cand.head._2, cand.head._2))
      var selv = Vector(cand.head)
      var rem = cand.tail
      for (r <- 2 to picks if rem.nonEmpty) {
        val p = rem.map { case (id, rel, vm) =>
          val maxsim = selv.map(s => vm.lazyZip(s._3).map(_ * _).sum).max
          (id, rel, vm, rel - maxsim)
        }.minBy { case (id, _, _, m) => (-m, id) }
        sel :+= ((r.toLong, p._1, p._2, p._4))
        selv :+= ((p._1, p._2, p._3))
        rem = rem.filterNot(_._1 == p._1)
      }
      sel
    }
    val rnd = new scala.util.Random(1762)
    for (n <- Seq(0, 1, 3, 4, 12, 20)) {
      // small value range on purpose: rel ties and sim ties are common
      val pool = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(4).toLong,
          Vector.fill(6)(rnd.nextInt(3).toLong - 1))
      }
      val rel = spark.createDataFrame(
        java.util.Arrays.asList(pool.map { case (id, r, v) =>
          Row(id, r, v) }: _*), schema)
      val got = operators.TrainingOps.mmrSelect(rel, poolSize = 12, picks = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      // the reference scores rel as given; mmrSelect consumes the same
      val want = reference(pool, poolSize = 12, picks = 5)
      assert(got == want, s"n=$n: $got vs $want")
    }
  }

  test("q192 deciles conserve the corpus and rank by the exact total order") {
    import org.apache.spark.sql.functions._
    val rows = byName("q192_quality_dup_profile").run(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length
    assert(rows.values.map(_._1).sum == n, "docs not conserved")
    // brute-force: score, dup flag, exact (score, doc_id) rank, decile
    val stop = Set("the", "a", "of", "and", "to")
    val scored = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      (id, 1000L * w.count(stop) / w.length, t)
    }
    val copies = scored.groupBy(_._3).view.mapValues(_.size).toMap
    val ranked = scored.sortBy(d => (d._2, d._1)).zipWithIndex
    val expected = ranked.groupBy { case (_, i) => i.toLong * 10 / n }.map {
      case (dec, xs) =>
        val dups = xs.count { case ((_, _, t), _) => copies(t) > 1 }.toLong
        dec -> ((xs.size.toLong, dups, 1000L * dups / xs.size,
          xs.map(_._1._2).min, xs.map(_._1._2).max))
    }
    assert(rows == expected, "decile profile diverges from brute force")
    // deciles are depth-balanced within one row
    val sizes = rows.values.map(_._1)
    assert(sizes.max - sizes.min <= 1, s"unbalanced deciles: $rows")
  }

  test("q193 token rate conserves q136's totals per source") {
    import org.apache.spark.sql.functions._
    val rows = byName("q193_token_rate_by_source").run(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val srcOf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = byName("q136_bpe_encode").run(spark, sfDir).collect()
      .map(r => (srcOf(r.getLong(0)), r.getLong(1), r.getLong(2)))
    val expected = perDoc.groupBy(_._1).view.mapValues { xs =>
      val chars = xs.map(_._2).sum; val toks = xs.map(_._3).sum
      (xs.size.toLong, chars, toks, 1000L * toks / chars)
    }.toMap
    assert(rows == expected, "token rate diverges from the q136 roll-up")
    rows.values.foreach { case (_, chars, toks, rate) =>
      assert(toks <= chars && rate <= 1000, "tokens cannot exceed symbols")
    }
  }

  test("q210 fertility conserves q136's token totals per language") {
    import org.apache.spark.sql.functions._
    val rows = byName("q210_tokenizer_fertility").run(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val meta = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2).split("\\s+").count(_.nonEmpty).toLong,
          r.getString(2).replaceAll("\\s", "").length.toLong)))
      .toMap
    val perDoc = byName("q136_bpe_encode").run(spark, sfDir).collect()
      .map(r => (meta(r.getLong(0))._1, meta(r.getLong(0))._2,
        meta(r.getLong(0))._3, r.getLong(2)))
    val expected = perDoc.groupBy(_._1).view.mapValues { xs =>
      val words = xs.map(_._2).sum; val chars = xs.map(_._3).sum
      val toks = xs.map(_._4).sum
      (xs.size.toLong, words, toks, 1000L * toks / words, 1000L * chars / toks)
    }.toMap
    assert(rows == expected, "fertility diverges from the q136 roll-up")
    rows.values.foreach { case (_, words, toks, fert, cpt) =>
      assert(toks >= words || fert < 1000, "fertility must reflect tokens/words")
      assert(fert >= 1000, "BPE on whitespace words cannot make fewer tokens than words here")
      assert(cpt >= 1000, "a token is at least one char")
    }
  }

  test("q217 shard manifest equals a MessageDigest recompute of every field") {
    import org.apache.spark.sql.functions._
    val md = java.security.MessageDigest.getInstance("MD5")
    def chk32(text: String): Long = {
      val hex = md.digest(text.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.map { case (id, text, nc) =>
      val ok = (31 * id + 7) % 2147483647L
      (ok % 16, ok, id, nc,
        text.split(" ", -1).count(_.nonEmpty).toLong, chk32(text))
    }.groupBy(_._1).map { case (shard, xs) =>
      shard -> ((xs.length.toLong, xs.map(_._4).sum, xs.map(_._5).sum,
        xs.map(_._6).sum, xs.minBy(_._2)._3, xs.maxBy(_._2)._3))
    }
    val got = byName("q217_shard_manifest").run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expected, "manifest diverges from the MessageDigest recompute")
    assert(got.values.map(_._1).sum == docs.length.toLong,
      "every doc lands in exactly one shard")
  }

  test("q169 chi-square equals a BigInt full-grid recompute") {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("lang"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sources = cells.keys.map(_._1).toSeq.distinct
    val langs = cells.keys.map(_._2).toSeq.distinct
    val rowT = sources.map(s =>
      s -> cells.collect { case ((`s`, _), n) => n }.sum).toMap
    val colT = langs.map(l =>
      l -> cells.collect { case ((_, `l`), n) => n }.sum).toMap
    val t = cells.values.sum
    val expected = sources.map { s =>
      val terms = langs.map { l =>
        val o = BigInt(cells.getOrElse((s, l), 0L))
        val d = o * t - BigInt(rowT(s)) * colT(l)
        ((BigInt(1000000) * d * d) / (BigInt(rowT(s)) * colT(l) * t)).toLong
      }
      s -> ((rowT(s), terms.sum, terms.max))
    }.toMap
    val got = byName("q169_lang_mix_divergence").run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, "chi-square diverges from BigInt recompute")
    assert(got.values.exists(_._2 > 0), "fixture should show some drift")
  }

  test("q203 DSIR selection is partitioning-invariant and target-tilted") {
    // sf0.01: 500 docs, select 50 — at sf0.001 the LIMIT covers the
    // whole corpus and the tilt assertion would be vacuous
    val sf01 = "/root/testdata/sf0.01"
    val d = byName("q203_importance_resampling")
    def run(parts: String) = withSQLConf("spark.sql.shuffle.partitions" -> parts) {
      d.run(spark, sf01).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val a = run("1")
    assert(a == run("7") && a.size == 50,
      "selection must be a pure function of the data")
    assert(a.map(_._3).sliding(2).forall(p => p.head >= p.last),
      "rows must come out in descending score order")
    // the whole point of DSIR: docs from the target sources are
    // overrepresented in the selection relative to their corpus share
    val tgt = Set("src1", "src2")
    val src = Tables.documents(spark, sf01)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val selShare = a.count { case (id, _, _) => tgt(src(id)) }.toDouble / a.size
    val corpusShare = src.values.count(tgt).toDouble / src.size
    assert(selShare > corpusShare,
      s"target share in selection ($selShare) should beat corpus share ($corpusShare)")
  }

  test("q204 buckets cut each language at its score terciles") {
    val sf01 = "/root/testdata/sf0.01"
    val d = byName("q204_perplexity_buckets")
    def run(parts: String) = withSQLConf("spark.sql.shuffle.partitions" -> parts) {
      d.run(spark, sf01).collect().map(r =>
        (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    }
    val m = run("5")
    assert(m == run("3"), "buckets must be partitioning-invariant")
    val langs = m.keySet.map(_._1)
    assert(langs.size > 1, "fixture should cover several languages")
    for (l <- langs) {
      val n = Seq("head", "middle", "tail").flatMap(b => m.get((l, b)).map(_._1)).sum
      val head = m((l, "head")) // b1 always defined when the lang is present
      // value-based cut: ties at a boundary land in the better bucket,
      // so head >= ceil(n/3) and head+middle >= ceil(2n/3)
      assert(head._1 >= (n + 2) / 3, s"$l head smaller than a tercile")
      assert(head._1 + m.get((l, "middle")).map(_._1).getOrElse(0L) >= (2 * n + 2) / 3,
        s"$l head+middle smaller than two terciles")
      // score ranges must be disjoint and ordered: head > middle > tail
      m.get((l, "middle")).foreach { mid =>
        assert(head._2 > mid._3, s"$l head min must exceed middle max")
        m.get((l, "tail")).foreach(t => assert(mid._2 > t._3,
          s"$l middle min must exceed tail max"))
      }
    }
  }

  test("q224 phrase search equals a direct sliding-window Scala recompute") {
    val docs = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1))
    val occ = docs.flatMap { case (id, w) =>
      (0 to w.length - 3).map(i => (s"${w(i)} ${w(i + 1)} ${w(i + 2)}", id))
    }
    val counts = occ.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val top = counts.toSeq.sortBy { case (sh, c) => (-c, sh) }.take(5)
    val expected = top.zipWithIndex.map { case ((sh, c), i) =>
      val ids = occ.filter(_._1 == sh).map(_._2)
      (i + 1L, sh, c, ids.distinct.length.toLong, ids.min)
    }.toSet
    val rows = byName("q224_phrase_search").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(rows == expected,
      "positional-index phrase counts diverge from the direct scan")
  }


  test("q81 keeps exactly 10% of en and 50% elsewhere over whole hash cycles") {
    // within one language the gate's hash (31 * doc_id + 7) % 1000 takes
    // each residue with a given last digit once per 100 ids, so over
    // whole 1000-id cycles the kept fractions are exact
    val dir = java.nio.file.Files.createTempDirectory("graft-q81").toString
    spark.range(20000).select(col("id").as("doc_id"), lit("x").as("text"),
        when(col("id") % 10 < 7, "en").when(col("id") % 10 < 9, "fr")
          .otherwise("de").as("lang"), lit("s").as("source"), lit(1L).as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val rates = byName("q81_stratified_sample").run(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rates == Map("en" -> ((14000L, 1400L)), "fr" -> ((4000L, 2000L)),
      "de" -> ((2000L, 1000L))), s"q81 rates $rates")
  }
}

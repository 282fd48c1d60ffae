package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING — the iterative loop q100's
  * merge-candidate counting is one round of. Learns an ordered list of
  * symbol merges from a corpus, the exact algorithm of the public
  * Sennrich et al. subword-nmt reference: start from characters, and
  * k times (a) count adjacent symbol pairs across the vocabulary
  * weighted by word frequency (overlapping adjacency, zip-with-tail),
  * (b) merge the most frequent pair everywhere (left-to-right,
  * non-overlapping application).
  *
  * Scale shape (the reason this is Spark-shaped and not a driver loop
  * over the corpus):
  *
  *   - The CORPUS is touched exactly once, by the word-frequency
  *     histogram (one shuffle over distinct words). Every training
  *     round after that runs over the VOCABULARY table — bounded by
  *     distinct-word count, not corpus bytes, which is what makes k
  *     rounds affordable at 100 TB (the same corpus→histogram cut the
  *     subword-nmt reference makes, distributed).
  *   - Each round is ONE hash aggregation over scan-side pair
  *     expansion (map-side combine over pair cardinality) plus a
  *     SINGLE-ROW collect of the winning pair — the driver holds O(k)
  *     merge decisions, never data (the q68 convergence-probe
  *     discipline).
  *   - The vocabulary rides in the BRACKETED-STRING representation the
  *     encode path (q136) and the DuckDB oracle already use:
  *     chr(1)sym chr(2) per symbol, so merge application is ONE codegen
  *     `replace` (left-to-right, non-overlapping, resumes after each
  *     replacement — exactly BPE semantics, see q136's scaladoc for the
  *     argument). Round r applies the r merges learned so far as
  *     chained scan-side replaces over the ONE cached histogram — no
  *     per-round cache/materialize/unpersist cycle, no object
  *     serialization (the previous Dataset[(Seq[String], Long)] shape
  *     paid Java ser/de on every row of every round).
  *
  * Determinism: the winning pair maximizes (count, then lexicographic
  * (left, right) ascending) — bit-identical across partitionings, and
  * proven equal to the in-memory reference implementation
  * ([[trainLocal]]) by property test (BpeTrainerSpec).
  */
object BpeTrainer {

  /** A learned merge: left symbol, right symbol, weighted pair count
    * at the time it won. */
  final case class Merge(left: String, right: String, count: Long)

  /** Standard BPE merge application: left-to-right, non-overlapping. */
  def applyMerge(syms: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** In-memory reference trainer over a word-frequency histogram —
    * the test oracle (no Spark; identical semantics by construction). */
  def trainLocal(wordFreqs: Map[String, Long], k: Int): Seq[Merge] = {
    var words: Map[IndexedSeq[String], Long] =
      wordFreqs.groupMapReduce { case (w, _) => w.map(_.toString).toIndexedSeq }(_._2)(_ + _)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 0
    var done = false
    while (r < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, f) <- words; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        merges += Merge(a, b, c)
        words = words.groupMapReduce { case (s, _) => applyMerge(s, a, b) }(_._2)(_ + _)
        r += 1
      }
    }
    merges.toSeq
  }

  /** Symbol brackets (shared with TrainingOps' encode kernel and the
    * DuckDB oracle): every symbol travels as S1+sym+S2, so a merge is a
    * plain string replace and symbol extraction is one regex. The
    * corpus is pure ASCII (verified), so the control chars are free. */
  private[operators] val S1 = "\u0001"
  private[operators] val S2 = "\u0002"

  /** Learn `k` merges over `docs(textCol)` (whitespace word split,
    * character-level start symbols). Returns the ordered merge list;
    * shorter than k if the vocabulary runs out of pairs. */

  def train(docs: DataFrame, textCol: String, k: Int): Seq[Merge] = {
    // bracketed word-frequency histogram: the ONE corpus scan,
    // vocabulary-sized, cached for all k rounds
    val vocab = docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(\\S)", S1 + "$1" + S2).as("bw"),
        col("freq"))
      .cache()
    vocab.count() // materialize: the corpus is never scanned again
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 0
    var done = false
    while (r < k && !done) {
      // the r merges learned so far, applied scan-side as chained
      // codegen replaces over the cached histogram (cheaper than
      // caching a fresh vocabulary frame per round: the chain is at
      // most k string ops deep over a bounded table)
      val cur = merges.foldLeft(col("bw")) { (c, m) =>
        call_function("replace", c,
          lit(S1 + m.left + S2 + S1 + m.right + S2),
          lit(S1 + m.left + m.right + S2))
      }
      val best = vocab
        .select(regexp_extract_all(cur,
          lit(S1 + "([^" + S2 + "]*)" + S2), lit(1)).as("s"), col("freq"))
        .select(explode(expr(
          "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1)," +
            " (x, y) -> struct(x AS a, y AS b))")).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect() // exactly ONE row crosses to the driver per round
      if (best.isEmpty) done = true
      else {
        merges += Merge(best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        r += 1
      }
    }
    vocab.unpersist()
    merges.toSeq
  }

  /** Learned merges, memoized per (session, dir, k). The tokenizer
    * model is a training ARTIFACT that the encode-side queries (q136,
    * q140, q193, q210: the `bpe` cache family) all apply — an encode call must not re-run the k training rounds when the model
    * for this corpus already exists in the session, exactly as a
    * production pipeline persists the merge table once and ships it to
    * every encode job. [[graft.Graft.clearCaches]] drops it, so a corpus
    * rewritten at the same dir is trained afresh. */
  private val cache = new graft.SessionCache[Seq[Merge]]
  def trainCached(s: org.apache.spark.sql.SparkSession, dir: String, k: Int): Seq[Merge] =
    cache.getOrElseUpdate(s, s"$dir/$k") {
      train(graft.Tables.documents(s, dir).select(col("text")), "text", k)
    }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming LEXICAL near-duplicate suppression — the online half of
  * the q27-q29 MinHash/LSH tier, closing the last gap in the ingest-
  * dedup story (VERDICT r14 #3): StreamDedup catches re-crawls of the
  * same BYTES, StreamSemDedup re-arrivals of the same MEANING; this
  * kernel catches re-arrivals of mostly-the-same WORDS — boilerplate
  * re-wraps, lightly-edited re-posts — the dedup mode practitioners
  * run most (Lee et al. 2021 "Deduplicating Training Data Makes
  * Language Models Better").
  *
  * The whole trick is that the MinHash signature is ROW-LOCAL: the
  * batch tier computes min(md5(shingle || ':seed')) as a per-doc
  * min-AGGREGATE over an exploded shingle table, but the min over a
  * doc's own shingles needs nothing outside the row, so the same 8
  * minhashes (and the same 4 sorted-pair band keys — Dedup.NumSeeds /
  * NumBands / BandSize, the q27/q28 constants) evaluate scan-side as
  * array expressions over `split(text)`. Both tiers build their SQL
  * from the one rule, `Dedup.seedHashSql` and `Dedup.bandKeySql`;
  * [[withBandKeys]] appends them identically to batch and streaming
  * frames, and the spec pins it EQUAL per doc to the batch tier's
  * `Dedup.signatureWideOf` + `Dedup.withBandKeys` aggregate path — one
  * rule, two execution shapes. (array_min over the shingle ARRAY equals the batch min over
  * the DISTINCT shingle set: duplicates never change a min.)
  *
  * Dedup itself is `dropDuplicatesWithinWatermark` on the exploded
  * (band, band_key) — the banded-bucket key IS the LSH candidate
  * radius, so the first arrival in a bucket is admitted and any
  * same-bucket arrival within the watermark horizon is dropped, with
  * bucket state reclaimed once the watermark passes (the StreamDedup
  * time-bound, at bucket granularity). A doc whose EVERY bucket was
  * seen is a full near-dup re-arrival (it owns no surviving row); a
  * doc owning >= 1 novel bucket is admitted with exactly its novel
  * buckets. Ingest kills the flood; the nightly batch q28/q29 pass —
  * the same band keys, then exact shingle-Jaccard verification —
  * applies the fine rule to what ingest admitted: the StreamSemDedup
  * two-tier contract, verbatim, for the lexical modality.
  *
  * 100-TB shape: band keys are a pure projection (no shuffle, no
  * broadcast, no training artifact — unlike StreamSemDedup there is
  * nothing to train); the only state is one row per OPEN bucket within
  * the horizon, and the explode is a fixed x4 (NumBands) on doc rows,
  * collapsing into the dedup operator immediately.
  */
object StreamMinHash {

  /** Appends `bands` — array of (band, band_key) structs, exactly the
    * batch tier's band keys — to a frame carrying `textCol`. Works
    * identically on batch and streaming frames (the equivalence
    * anchor). Docs with fewer than 3 tokens have no shingles, hence an
    * EMPTY bands array (the batch twin: no shingle rows, no signature
    * row). */
  def withBandKeys(df: DataFrame, textCol: String = "text"): DataFrame = {
    val mh = (0 until Dedup.NumSeeds).map(i =>
      s"array_min(transform(__sh, x -> ${Dedup.seedHashSql("x", i)}))").mkString(", ")
    val bandStructs = (0 until Dedup.NumBands).map { b =>
      val key = Dedup.bandKeySql(b)(i => s"element_at(__mh, ${i + 1})")
      s"named_struct('band', $b, 'band_key', $key)"
    }.mkString(", ")
    df
      .withColumn("__w", split(col(textCol), " "))
      .withColumn("__sh", expr(
        """CASE WHEN size(__w) >= 3
          |THEN transform(sequence(1, size(__w) - 2), i -> concat_ws(' ', slice(__w, i, 3)))
          |ELSE array() END""".stripMargin))
      .withColumn("__mh", expr(s"array($mh)"))
      .withColumn("bands", expr(
        s"CASE WHEN size(__sh) = 0 THEN array() ELSE array($bandStructs) END"))
      .drop("__w", "__sh", "__mh")
  }

  /** Deduplicate a streaming document frame `(ts, doc_id, text, ...)`
    * at LSH-bucket granularity within the watermark horizon: emits one
    * row per NOVEL (band, band_key) bucket, carrying the first-arrival
    * doc. Admitted docs = docs present in the output; a doc absent
    * from it re-arrived entirely inside already-seen buckets. */
  def dedup(docs: DataFrame, delay: String = "10 minutes"): DataFrame =
    withBandKeys(docs)
      .withWatermark("ts", delay)
      .filter(size(col("bands")) > 0)
      .select(col("ts"), col("doc_id"), explode(col("bands")).as("b"))
      .select(col("ts"), col("doc_id"),
        col("b.band").as("band"), col("b.band_key").as("band_key"))
      .dropDuplicatesWithinWatermark("band", "band_key")

  /** The nightly-sweep batch twin of [[dedup]] over the same horizon's
    * landed rows: the SAME band keys, one survivor per bucket — the
    * (ts, doc_id)-min row, a deterministic canonical pick. Stream ≡
    * batch is exact at BUCKET granularity always (same bucket set, one
    * survivor each); the surviving ROW is also identical on in-order
    * replay, while under intra-batch disorder
    * `dropDuplicatesWithinWatermark` keeps the processing-order first
    * (which copy of a near-dup survives ingest is immaterial by
    * definition — the nightly q28/q29 sweep's exact-Jaccard rule
    * supersedes it). The spec pins both tiers. */
  def batchSweep(docs: DataFrame): DataFrame =
    withBandKeys(docs)
      .filter(size(col("bands")) > 0)
      .select(col("ts"), col("doc_id"), explode(col("bands")).as("b"))
      .groupBy(col("b.band").as("band"), col("b.band_key").as("band_key"))
      .agg(min(struct(col("ts"), col("doc_id"))).as("f"))
      .select(col("band"), col("band_key"), col("f.ts").as("ts"),
        col("f.doc_id").as("doc_id"))
}

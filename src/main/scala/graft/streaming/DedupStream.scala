package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.GraftFunctions

/** Streaming twin of `graft.ops.Dedup.incrementalDedupWithIndex` — the
  * shape a continuously-ingesting training-data pipeline actually runs:
  * documents arrive on a stream and each one is checked against the
  * PERSISTED corpus band index (the amortized artifact
  * `Dedup.corpusBandIndex` writes once per rebuild), getting the same
  * keep/duplicate verdict + best corpus match the daily batch job
  * emits, but per micro-batch instead of per day.
  *
  * Dataflow (all stages before the final aggregate are stateless):
  *   1. shingle + minhash-band each streaming doc (pure codegen maps);
  *   2. stream-static LEFT OUTER join of the doc's band postings
  *      against the index — Spark plans the static side per
  *      micro-batch, so the index frame (the small, amortized
  *      artifact) persists when the docs stream ([[ProbeTwin.static]]);
  *   3. stream-static join to the corpus shingle-set table for the
  *      exact-jaccard verify — on a bucketed/keyed corpus store this
  *      is a pruned lookup, and only candidate rows pay the join;
  *   4. event-time windowed aggregation (watermark-bounded state) that
  *      folds a doc's candidate rows back into ONE verdict row.
  *
  * The only state is the final window aggregate, bounded by the
  * watermark — candidate state never outlives `watermark` past the
  * window end, so the 100 TB concern (unbounded distinct-keys-ever
  * state) does not arise. A doc-id pair hit by several bands is
  * verified once per band (bounded by `bands`) and collapsed by the
  * `collect_set`; the batch op dedupes pairs pre-verify instead —
  * same result, and the streaming form avoids an extra stateful
  * distinct.
  *
  * Semantics match the batch op exactly (asserted in
  * DedupStreamSpec): `n_matches` = distinct corpus docs with jaccard
  * >= threshold, `best_match_id` = highest-jaccard match with
  * smallest-id tie-break, `keep` = no match ([[ProbeTwin.verdict]]).
  * Reference behavior: wgnet/spark-kafka-streaming processes each
  * micro-batch against externally persisted state the same way
  * (HBase-backed lookups per RDD batch); this re-expresses that
  * pattern with stream-static joins + watermarked aggregation.
  */
object DedupStream {

  /** Corpus shingle-set side table for the verify join — in production
    * persisted next to the band index (`(id, set_c)` bucketed by id)
    * and read back, so the stream never re-shingles the corpus.
    */
  def corpusSets(corpus: DataFrame, idCol: String,
                 textCol: String): DataFrame =
    corpus.select(col(idCol).as("corpus_id"),
        GraftFunctions.hashedWordShingles(col(textCol), 3).as("set_c"))
      .filter(size(col("set_c")) > 0)

  /** @param docs      streaming frame with `tsCol`, `idCol`, `textCol`
    * @param index     static band index (`idCol`, band_idx, band_hash)
    *                  from `Dedup.corpusBandIndex` (or its persisted
    *                  read-back). Must have been built with the SAME
    *                  `numPerms`/`bands` passed here — a mismatch
    *                  hashes the stream's bands differently and
    *                  silently yields near-zero candidates, so it is
    *                  rejected up front (band_idx range check).
    * @param sets      static corpus shingle sets from [[corpusSets]]
    * @param windowDur tumbling event-time window that scopes the
    *                  verdict aggregate (each doc id yields one row
    *                  regardless — the window only bounds state)
    * @return (window, doc_id, n_matches, best_match_id, best_jaccard,
    *         keep), emitted in append mode once the watermark passes
    *         the window end. Runs unchanged on a batch frame (the
    *         watermark is a no-op there) — asserted equivalent to
    *         `Dedup.incrementalDedupWithIndex` in tests.
    */
  def incrementalDedupStream(docs: DataFrame, index: DataFrame,
                             sets: DataFrame, idCol: String,
                             textCol: String, tsCol: String,
                             threshold: Double = 0.5,
                             numPerms: Int = graft.ops.Dedup.plan05.signatureWidth,
                             bands: Int = graft.ops.Dedup.plan05.bands,
                             watermark: String = "10 minutes",
                             windowDur: String = "10 minutes")
      : DataFrame = {
    // Reject a band-parameter mismatch with the supplied index up
    // front: the stream's band hashes are a function of
    // (numPerms, bands), so probing an index built with different
    // parameters is not an error Spark can see — it just matches
    // (almost) nothing. band_idx is dense in [0, bands), so the
    // observed max pins the index's bands exactly — every indexed doc
    // emits ALL band indices 0..bands-1, so a non-empty index has
    // max(band_idx) == bands-1. numPerms has no witness column and
    // rides on the documented contract. One tiny agg job at stream
    // construction, never per trigger.
    val maxBand = index.agg(max(col("band_idx"))).head()
    if (!maxBand.isNullAt(0)) {
      val got = maxBand.getInt(0)
      require(got == bands - 1,
        s"band index was built with ${got + 1} bands but bands=$bands " +
          "was passed — probing with mismatched band parameters " +
          "silently matches nothing; pass the parameters the index " +
          "was built with (Dedup.corpusBandIndex defaults)")
    }
    val withSets = docs.withWatermark(tsCol, watermark)
      .select(col(tsCol), col(idCol).as("doc_id"),
        GraftFunctions.hashedWordShingles(col(textCol), 3).as("set_b"))
    // posexplode_outer keeps empty-shingle docs as a single null-band
    // row: null band keys match nothing in the left-outer index join,
    // so those docs still reach the aggregate and get keep=true
    val banded = withSets
      .select(col(tsCol), col("doc_id"), col("set_b"), posexplode_outer(
        when(size(col("set_b")) > 0,
          GraftFunctions.minhashBands(col("set_b"), numPerms, bands))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    // (r14 note: a batch-replay-only Bloom prefilter of the index —
    // the incrementalDedupWithIndex shape — was A/B-measured here and
    // REVERTED: the replay's honest job is to mirror the streaming
    // plan, which keeps the persisted unpruned index, and the bloom
    // build cost exceeded the pruned-shuffle saving at fixture scale.)
    val cands = banded.join(
      ProbeTwin.static(docs, index.select(col(idCol).as("corpus_id"),
        col("band_idx"), col("band_hash"))),
      Seq("band_idx", "band_hash"), "left_outer")
    val verified = cands
      .join(ProbeTwin.static(docs, sets), Seq("corpus_id"), "left_outer")
      .withColumn("inter",
        GraftFunctions.sortedIntersectCount(col("set_b"), col("set_c")))
      .withColumn("jaccard",
        when(col("corpus_id").isNotNull && size(col("set_b")) > 0,
          col("inter").cast(DoubleType) /
            (size(col("set_b")) + size(col("set_c")) - col("inter"))
              .cast(DoubleType)))
    ProbeTwin.verdict(verified, window(col(tsCol), windowDur), "doc_id",
      col("jaccard") >= threshold, col("corpus_id"), col("jaccard"), "nj",
      "best_jaccard", "keep")
  }
}

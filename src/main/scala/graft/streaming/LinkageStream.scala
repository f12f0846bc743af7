package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of [[graft.ops.FuzzyJoin.linkRecords]] — incremental
  * entity resolution: records arrive on a stream and each one is
  * checked against the PERSISTED master-data signature index, getting
  * the same match verdict (n_matches, best master record, score) a
  * nightly MDM batch emits, per micro-batch instead of per day. The
  * master side is never re-paired; the DedupStream contract with
  * FastSS deletion neighborhoods instead of minhash bands.
  *
  * Dataflow (all stages before the final aggregate are stateless):
  *  1. deletion-signature each streaming record (pure expression map);
  *  2. stream-static LEFT OUTER join on (block, signature) against
  *     the index (persisted when the records stream,
  *     [[ProbeTwin.static]]) — blocking is part of the join key, so
  *     bucket width is bounded by within-block name neighborhoods;
  *  3. one exact levenshtein verify per candidate, agreement fields
  *     scored in the same projection (they ride the index);
  *  4. event-time windowed aggregation folds a record's candidates
  *     back into ONE verdict row (watermark-bounded state).
  *
  * `is_new` = no master match within `maxDist` — the "create a new
  * golden record vs attach to an existing one" decision.
  */
object LinkageStream {

  /** Master-side signature index: (blk, sig, mid, m_nm, m_agree…) —
    * in production persisted bucketed by (blk, sig) and read back, so
    * the stream never re-signatures the master table.
    */
  def nameIndex(master: DataFrame, idCol: String, nameCol: String,
                blockCol: String, agreeCols: Seq[String],
                maxDist: Int = 2): DataFrame =
    master.select(
        (col(idCol).as("mid") +: col(nameCol).as("m_nm") +:
          col(blockCol).as("blk") +:
          agreeCols.map(c => col(c).as(s"m_$c"))): _*)
      .select((col("mid") +: col("m_nm") +: col("blk") +:
        explode(graft.functions.GraftFunctions
          .deletionHashes(col("m_nm"), maxDist))
          .as("sig") +: agreeCols.map(c => col(s"m_$c"))): _*)

  /** @param records streaming (or batch — the watermark is a no-op)
    *                frame with `tsCol`, `idCol`, `nameCol`,
    *                `blockCol`, `agreeCols`
    * @param index   static signature index from [[nameIndex]], built
    *                with the SAME maxDist
    * @return (window, id, n_matches, best_match_id, best_score,
    *         is_new), append mode once the watermark passes
    */
  def probeStream(records: DataFrame, index: DataFrame, idCol: String,
                  nameCol: String, blockCol: String,
                  agreeCols: Seq[String], tsCol: String,
                  maxDist: Int = 2,
                  watermark: String = "10 minutes",
                  windowDur: String = "1 hour"): DataFrame = {
    val in = records.withWatermark(tsCol, watermark)
      .select((col(tsCol) +: col(idCol).as("id") +:
        col(nameCol).as("nm") +: col(blockCol).as("blk") +:
        agreeCols.map(col)): _*)
    val sigs = in.select((col(tsCol) +: col("id") +: col("nm") +:
      col("blk") +:
      explode(graft.functions.GraftFunctions
        .deletionHashes(col("nm"), maxDist)).as("sig") +:
      agreeCols.map(col)): _*)
    val nAgree = agreeCols
      .map(c => when(col(c) === col(s"m_$c"), 1L).otherwise(0L))
      .reduceOption(_ + _).getOrElse(lit(0L))
    val verified = sigs
      .join(ProbeTwin.static(records, index), Seq("blk", "sig"),
        "left_outer")
      // threshold levenshtein (r15, the FuzzyJoin.linkRecords change):
      // banded DP with early bail-out — returns the distance when
      // ≤ maxDist and -1 above it, so the score guard tests ≥ 0
      // instead of ≤ maxDist; survivors and scores are identical
      .withColumn("dist", levenshtein(col("nm"), col("m_nm"), maxDist))
      .withColumn("score",
        when(col("mid").isNotNull && col("dist") >= 0,
          lit(maxDist.toLong) - col("dist").cast(LongType) + nAgree))
    ProbeTwin.verdict(verified, window(col(tsCol), windowDur), "id",
      col("score").isNotNull, col("mid"), col("score"), "ns",
      "best_score", "is_new")
  }
}

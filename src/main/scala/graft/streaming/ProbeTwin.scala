package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.functions.TopKAgg

/** What the stream-static probe twins (AnnStream, DedupStream,
  * SetSimStream, LinkageStream, TextIndexStream, LmScoreStream) share:
  * the static-side rule, the ranked top-k tail, the match-verdict fold
  * and the persisted-index maintenance router.
  */
private[streaming] object ProbeTwin {

  /** The static side of a stream-static join, persisted
    * (MEMORY_AND_DISK) exactly when the driving frame streams:
    * Structured Streaming re-plans the static side EVERY micro-batch,
    * and at corpus scale an uncached static side is a table scan per
    * trigger, not an index probe. Spill to disk is the fallback, never
    * a correctness issue. Asserted in AnnStreamSpec and DedupStreamSpec.
    */
  def static(driving: DataFrame, side: DataFrame): DataFrame =
    if (driving.isStreaming)
      side.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else side

  /** Rank k hits per (window, key) and unfold them as (window, key,
    * idAs, rankAs (1-based), scoreAs). Structured Streaming forbids
    * the ranking as a window function (`row_number` over a stream has
    * no incremental form), so it runs as [[graft.functions.TopKAgg]] —
    * a mergeable bounded-heap aggregate, the incremental twin of the
    * batch rank-limit. State is bounded two ways: k hits per key, and
    * the watermark retires whole windows.
    */
  def rankTopK(scored: DataFrame, window: Column, key: String, k: Int,
               score: String, id: String, idAs: String, rankAs: String,
               scoreAs: String): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    scored
      .groupBy(window, col(key))
      .agg(topk(col(score), col(id)).as("top"))
      .select(col("window"), col(key), posexplode(col("top")))
      .select(col("window"), col(key), col("col.id").as(idAs),
        (col("pos") + 1).cast(LongType).as(rankAs),
        col("col.score").as(scoreAs))
  }

  /** Fold a probe's candidate rows into ONE verdict row per
    * (window, key): n_matches = distinct `matched` ids, the best match
    * by (score desc, id asc) as a min over a (-score as `neg`, id)
    * struct — the batch row_number ordering, but
    * streaming-aggregate-legal — and `flagAs` = no match.
    */
  def verdict(cands: DataFrame, window: Column, key: String,
              matched: Column, id: Column, score: Column, neg: String,
              scoreAs: String, flagAs: String): DataFrame =
    cands
      .withColumn("hit_id", when(matched, id))
      .withColumn("hit_rank",
        when(matched, struct((-score).as(neg), id.as("cid"))))
      .groupBy(window, col(key))
      .agg(size(collect_set(col("hit_id"))).as("n_matches"),
        min(col("hit_rank")).as("best"))
      .select(col("window"), col(key),
        col("n_matches").cast(LongType).as("n_matches"),
        col("best.cid").as("best_match_id"),
        (-col(s"best.$neg")).as(scoreAs),
        (col("n_matches") === 0).as(flagAs))

  /** Fold a stream of deltas (`opCol` ∈ {"add", "del"}) into a
    * persisted changelog store per micro-batch, with the batchId as
    * seq: `add` appends, `del` tombstones. Exactly-once under epoch
    * replay as long as both writers overwrite their own
    * batchId-keyed subdirectory. Returns the started query; callers
    * own checkpoint placement via `checkpointLocation`.
    */
  def maintainStream(deltas: DataFrame, opCol: String,
                     checkpointLocation: String)(
      add: (DataFrame, Long) => Unit,
      del: (DataFrame, Long) => Unit): StreamingQuery =
    deltas.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val adds = batch.filter(col(opCol) === "add")
        val dels = batch.filter(col(opCol) === "del")
        if (!adds.isEmpty) add(adds, batchId)
        if (!dels.isEmpty) del(dels, batchId)
        ()
      }
      .start()
}

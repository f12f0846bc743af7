package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DoubleType

import graft.sources.TextIndexStore

/** Keyword retrieval as a stream over the persisted
  * [[graft.sources.TextIndexStore]]: search requests probe it, and
  * document deltas maintain it.
  */
object TextIndexStream {

  /** Per-(term, doc) BM25 partials of the live index — the SERVING
    * ARTIFACT `probeScored` consumes: scores depend only on the index
    * (tf, dl, df, corpus stats), so they're computed once per index
    * generation and persisted/cached, never per request.
    */
  def scorePostings(postings: DataFrame, nDocs: Long,
                    sumLen: Long): DataFrame = {
    val n = lit(nDocs); val sl = lit(sumLen)
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    postings.join(broadcast(dfreq), "term")
      .withColumn("score_t",
        ((lit(2L) * (n - col("df")) + lit(1L)).cast(DoubleType)
          / (lit(2L) * col("df") + lit(1L)).cast(DoubleType))
        * ((lit(44L) * col("tf") * sl).cast(DoubleType)
          / (lit(20L) * col("tf") * sl + lit(6L) * sl
            + lit(18L) * col("dl") * n).cast(DoubleType)))
      .select(col("term"), col("doc_id"), col("score_t"))
  }

  /** Search-as-a-stream: streaming requests (ts, req_id,
    * terms array<string>) probe the live text index — the
    * [[AnnStream.ivfProbeStream]] twin for keyword retrieval.
    *
    * The static side is fully precomputed: per-(term, doc) BM25
    * partials depend only on the index (tf, dl, df and the corpus
    * stats), so `scoredPostings` carries ready `score_t` values and
    * each trigger's work is one stream-static equi-join on term plus
    * two chained streaming aggregations (Spark 4 multiple-stateful-
    * operator support, append mode): per-(window, req, doc) the
    * matched term partials collect and fold in TERM-SORTED order — a
    * deterministic left fold, bit-stable regardless of arrival or
    * partial-aggregation order, unlike a naive double sum — then
    * TopKAgg ranks k docs per request with k hits of state per key.
    * The scored postings persist when the requests stream, so
    * triggers don't re-resolve the store ([[ProbeTwin.static]]).
    *
    * @param postings live postings from `TextIndexStore.read(...)._1`
    * @param nDocs    corpus-stat literals from the docstats side —
    * @param sumLen   trained-artifact style (bounded one-row agg)
    */
  def bm25ProbeStream(postings: DataFrame, nDocs: Long, sumLen: Long,
                      requests: DataFrame, tsCol: String,
                      reqIdCol: String, termsCol: String, k: Int = 10,
                      watermark: String = "10 minutes",
                      windowDur: String = "10 minutes"): DataFrame =
    probeScored(scorePostings(postings, nDocs, sumLen), requests,
      tsCol, reqIdCol, termsCol, k, watermark, windowDur)

  /** The probe tail against a ready scored-postings frame (in-session
    * or read back from the persisted artifact).
    */
  def probeScored(scored: DataFrame, requests: DataFrame, tsCol: String,
                  reqIdCol: String, termsCol: String, k: Int = 10,
                  watermark: String = "10 minutes",
                  windowDur: String = "10 minutes"): DataFrame = {
    val qs = requests.withWatermark(tsCol, watermark)
      .select(col(tsCol), col(reqIdCol).as("req_id"),
        explode(col(termsCol)).as("term"))
    val folded = qs.join(ProbeTwin.static(requests, scored), Seq("term"))
      .groupBy(window(col(tsCol), windowDur), col("req_id"),
        col("doc_id"))
      .agg(collect_list(struct(col("term"), col("score_t")))
        .as("hits"))
      // term-sorted deterministic left fold (terms are distinct per
      // request, so struct sort orders by term alone)
      .withColumn("score", expr(
        "aggregate(array_sort(hits), 0.0D, (acc, h) -> acc + h.score_t)"))
    ProbeTwin.rankTopK(folded, col("window"), "req_id", k, "score",
      "doc_id", "doc_id", "rk", "score")
  }

  /** The [[AnnStream.indexMaintainStream]] twin for keyword retrieval:
    * within one batch a delete beats an add for the same id
    * (tombstones kill appends at or below their seq); a later batch's
    * re-add resurrects.
    */
  def maintainStream(deltas: DataFrame, dir: String, idCol: String,
                     textCol: String, opCol: String,
                     checkpointLocation: String): StreamingQuery =
    ProbeTwin.maintainStream(deltas, opCol, checkpointLocation)(
      TextIndexStore.append(_, idCol, textCol, dir, _),
      TextIndexStore.tombstone(_, idCol, dir, _))
}

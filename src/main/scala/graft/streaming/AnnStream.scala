package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DoubleType

import graft.functions.GraftFunctions
import graft.ops.Dedup
import graft.sources.AnnIndexStore

/** Streaming twin of `graft.ops.Similarity.ivfProbeIndex` — the ANN
  * SERVING path: query vectors arrive on a stream and each probes the
  * persisted IVF index, getting the same exact-quantized-cosine top-k
  * the batch probe returns, per micro-batch.
  *
  * Dataflow: quantize + nearest-cells fan-out (stateless codegen) →
  * stream-static join against the cell-keyed index (the static side
  * is re-planned every trigger, so the projected postings persist
  * when the queries stream — [[ProbeTwin.static]]; on a
  * cell-partitioned store the cold read touches only probed cells'
  * postings) → windowed top-k aggregate ([[ProbeTwin.rankTopK]]). A
  * candidate meeting a query in several probed cells folds inside the
  * heap (the batch probe's `dropDuplicates` pre-rank), so ranks never
  * count a neighbor twice.
  */
object AnnStream {

  /** STREAMING INDEX MAINTENANCE: vector deltas (`opCol` ∈
    * {"add", "del"}) arrive on a stream and fold into the persisted
    * [[graft.sources.AnnIndexStore]] changelog per micro-batch —
    * appends assign cells under the FIXED centroids and write only
    * their own `seq=<batchId>` files; deletes append tombstones.
    * Within one micro-batch a delete of an id wins over its add
    * (tombstones kill appends at the same seq); a later batch's
    * re-add resurrects. Exactly-once under replay
    * ([[ProbeTwin.maintainStream]]): after any prefix of batches,
    * `AnnIndexStore.read` equals a batch rebuild over the corpus that
    * prefix implies — asserted, with checkpoint restart, in
    * AnnIndexStoreSpec.
    */
  def indexMaintainStream(deltas: DataFrame, dir: String,
                          centroids: Array[Array[Long]], idCol: String,
                          vecCol: String, opCol: String,
                          checkpointLocation: String,
                          nAssign: Int = 2): StreamingQuery =
    ProbeTwin.maintainStream(deltas, opCol, checkpointLocation)(
      AnnIndexStore.append(_, idCol, vecCol, centroids, dir, _, nAssign),
      AnnIndexStore.tombstone(_, idCol, dir, _))

  /** @param centroids trained cell centroids (quantized rows from
    *                  `Similarity.trainCentroids` — the same array the
    *                  index was built with)
    * @param index     static IVF index (vec_id, cell, q, nn) from
    *                  `Similarity.ivfIndex` or its persisted read-back
    * @param queries   streaming frame with `tsCol`, `idCol`, `vecCol`
    * @return (window, query_id, neighbor_id, rnk, cosine) — identical
    *         rows to `Similarity.ivfProbeIndex` plus the window,
    *         emitted when the watermark closes the window. Runs
    *         unchanged on a batch frame (asserted in AnnStreamSpec).
    */
  def ivfProbeStream(centroids: Array[Array[Long]], index: DataFrame,
                     queries: DataFrame, idCol: String, vecCol: String,
                     tsCol: String, k: Int = 5, nProbe: Int = 8,
                     watermark: String = "10 minutes",
                     windowDur: String = "10 minutes"): DataFrame = {
    val qs = queries.withWatermark(tsCol, watermark)
      .select(col(tsCol), col(idCol).as("query_id"),
        Dedup.quantize(col(vecCol)).as("q_q"))
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
      .withColumn("cell", explode(
        GraftFunctions.nearestCentroids(col("q_q"), centroids, nProbe)))
    val postings = ProbeTwin.static(queries,
      index.select(col("vec_id"), col("cell"), col("q"), col("nn")))
    val scored = qs
      .join(postings, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn").cast(DoubleType) * col("nn_q").cast(DoubleType)))
    ProbeTwin.rankTopK(scored, window(col(tsCol), windowDur), "query_id",
      k, "cosine", "vec_id", "neighbor_id", "rnk", "cosine")
  }
}

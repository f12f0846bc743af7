package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream event join — the capability the reference never had
  * (its only join is the batch lag zip, M3): attribute each
  * `purchase` to the same user's clicks at most `horizonSeconds`
  * BEFORE it (inclusive both ends). Both sides unbounded, each
  * buffered in the state store, watermark + time-interval condition
  * bounding how long a row can wait for its match. `joinType`:
  *  - `inner` — only matched (purchase, click) pairs (the
  *    `attribution_join` row, 30-minute horizon);
  *  - `left_outer` — the NEGATIVE verdict "this purchase had no
  *    qualifying click": the engine holds the unmatched purchase until
  *    the click watermark PROVES no match can still arrive, then emits
  *    it once, null-padded (the `stream_stream_join` row; reference
  *    semantics: the windowed two-topic pair-up of
  *    `examples/.../KafkaWordCount.scala`, extended to the unmatched
  *    case a monitoring pipeline alerts on).
  *
  * Batch replay: the SAME code on batch frames is a plain interval
  * (left) join — `withWatermark` is a no-op outside streaming — so
  * both registry rows share plain-SQL oracles, and
  * StreamStreamJoinSpec / StreamingEquivalenceSpec assert
  * stream == batch, including the post-watermark null flush.
  *
  * 100 TB shape: one shuffle of each side keyed by user; per-key join
  * state is bounded by the horizon × per-user event rate on the click
  * side and by watermark delay on the purchase side — never grows
  * with history. The time-interval predicate is what lets the engine
  * evict: without it, stream-stream join state is unbounded (and this
  * module refuses to express that form).
  */
object JoinStream {

  /** clicks / purchases: (user_id, event_id, ts) — batch or streaming
    * (both sides must match: mixing is the stream-static case served
    * elsewhere). Output: (user_id, purchase_id, purchase_ts,
    * click_id, click_ts), click side null-padded under `left_outer`.
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       horizonSeconds: Long,
                       watermark: String = "30 minutes",
                       joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      "stream-stream attribution supports inner | left_outer")
    val c = clicks.select(
        col("user_id").cast("long").as("c_user"),
        col("event_id").cast("long").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    // the interval condition is the state-eviction contract: a click
    // can only match purchases inside [click_ts, click_ts + horizon],
    // so once the purchase watermark passes that, the click's state
    // row is droppable (and symmetrically for purchases)
    val cond = col("c_user") === col("user_id") &&
      col("click_ts") <= col("purchase_ts") &&
      col("click_ts") >= col("purchase_ts") - expr(
        s"INTERVAL $horizonSeconds SECONDS")
    p.join(c, cond, joinType)
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }
}

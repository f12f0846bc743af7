package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Streaming twin of [[graft.ops.QuantileSketch.build]] at daily
  * grain — the shape a 100 TB deployment actually runs: each day's
  * (key, bucket) counts finalize as ONE bounded sketch shard when the
  * watermark passes the day (append mode), shards land in the store,
  * and any time range's quantiles come from ADDING shards
  * ([[graft.ops.QuantileSketch.quantiles]] over the summed frame) —
  * the merge-by-addition property is the whole point of the sketch.
  * State per group is one count; groups are bounded by
  * days-in-horizon × keys × ~250 buckets, never by events.
  *
  * Works on batch frames too (the batch replay the registry row
  * runs); watermark only attaches to a streaming input.
  */
object SketchStream {

  /** events: (ts, keyCol, value) → (day_start, keyCol, bucket, cnt).
    */
  def sketchStream(events: DataFrame, keyCol: String = "event_type",
                   valueCents: org.apache.spark.sql.Column = null,
                   watermarkDelay: Option[String] = Some("1 day"))
      : DataFrame = {
    val cents =
      if (valueCents == null)
        round(col("value") * 100).cast(LongType)
      else valueCents
    val in = watermarkDelay.fold(events)(events.withWatermark("ts", _))
    in.select(col("ts"), col(keyCol),
        GraftFunctions.qBucket(cents).as("bucket"))
      .groupBy(window(col("ts"), "1 day"), col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("day_start"), col(keyCol),
        col("bucket"), col("cnt"))
  }
}

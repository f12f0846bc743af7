package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming drift monitor — per event-time window, the exact
  * gap-weighted Wasserstein-1 distance between the window's value
  * histogram and a STATIC reference histogram (yesterday's corpus, the
  * training snapshot): the in-flight twin of
  * [[graft.ops.Eval.emdDrift]], the alarm a feature pipeline wants the
  * moment a day's traffic stops looking like the data the model was
  * fit on.
  *
  * Scale shape: the reference is a BOUNDED bucket census collected
  * once at plan build and baked in as literal arrays (the
  * centroids/codebook rule — it's an artifact of a previous run, not
  * data); the stream runs two chained stateful aggregations
  * ((window, bucket) counts, then per-window bucket lists — the
  * text_probe_stream multi-stateful shape), each window's state
  * bounded by the value grid, finalized once when the watermark
  * passes. The per-window EMD is ONE integer expression over the
  * union grid: every term |cumW·n_ref − cumR·n_win|·gap is an exact
  * BIGINT (cross-multiplied CDFs — no division before the final one)
  * and the fold is a SUM, so the result is independent of bucket
  * arrival or list order. Works on batch frames too (the registry
  * row's replay); the watermark only attaches to a streaming input.
  */
object DriftStream {

  /** reference: a bounded (bkt, n) histogram frame. Output per
    * window: (w_start, n_win, emd_num, emd_buckets).
    */
  def emdStream(events: DataFrame, reference: DataFrame,
                windowDur: String = "1 day", bucketCents: Long = 500L,
                watermarkDelay: Option[String] = Some("1 day"))
      : DataFrame = {
    val refRows = reference
      .select(col("bkt").cast(LongType), col("n").cast(LongType))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(refRows.nonEmpty, "emdStream: empty reference histogram")
    val tr = refRows.map(_._2).sum
    val refBkts = array(refRows.map(r => lit(r._1)): _*)
    val refWs = array(refRows.map { case (b, n) =>
      struct(lit(b).as("bkt"), lit(n).as("nw"))
    }: _*)
    def cum(list: Column, b: Column): Column =
      aggregate(filter(list, x => x.getField("bkt") <= b), lit(0L),
        (a, x) => a + x.getField("nw"))
    val in = watermarkDelay.fold(events)(events.withWatermark("ts", _))
    in.select(col("ts"),
        floor(round(col("value") * 100).cast(LongType)
          / lit(bucketCents)).cast(LongType).as("bkt"))
      .groupBy(window(col("ts"), windowDur), col("bkt"))
      .agg(count(lit(1)).as("nw"))
      .groupBy(col("window"))
      .agg(collect_list(struct(col("bkt"), col("nw"))).as("ws"))
      .withColumn("tw", aggregate(col("ws"), lit(0L),
        (a, x) => a + x.getField("nw")))
      .withColumn("grid", sort_array(array_distinct(concat(
        transform(col("ws"), x => x.getField("bkt")), refBkts))))
      .withColumn("emd_num", aggregate(
        transform(col("grid"), (b, i) =>
          abs(cum(col("ws"), b) * lit(tr) - cum(refWs, b) * col("tw"))
            * (coalesce(try_element_at(col("grid"), i + lit(2)),
              b + lit(1)) - b)),
        lit(0L), (a, x) => a + x))
      .select(col("window.start").as("w_start"), col("tw").as("n_win"),
        col("emd_num"),
        (col("emd_num").cast(DoubleType) /
          (col("tw") * lit(tr)).cast(DoubleType)).as("emd_buckets"))
  }
}

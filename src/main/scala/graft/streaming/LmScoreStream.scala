package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ops.TextOps

/** Streaming twin of `graft.ops.TextOps.bigramLm` in its SERVING
  * shape: a bigram language model is trained ONCE on a reference
  * corpus (the once-per-release artifact — pair counts, prefix
  * counts, vocabulary size), and incoming documents are scored
  * against it per micro-batch — the continuously-running LM quality
  * gate of an ingesting training-data pipeline (the CCNet/FineWeb
  * filter as a stream).
  *
  * Dataflow — every stage before the final aggregate is stateless:
  *   1. bigram-explode each streaming doc (pure narrow maps);
  *   2. stream-static LEFT join against the pair-count table keyed
  *      (w1, w2) — static side persisted when the input streams
  *      ([[ProbeTwin.static]]: Spark re-plans the static side per
  *      trigger, so an uncached model would re-aggregate the corpus
  *      every micro-batch);
  *   3. broadcast LEFT join of the vocabulary-bounded prefix table;
  *   4. event-time windowed aggregation (watermark-bounded state)
  *      folding a doc's bigram rows into ONE score row.
  *
  * Unseen n-grams are where serving differs from self-scoring, and
  * Laplace smoothing makes the joins total: an unseen bigram
  * contributes (0+1)·2^20/(c(w1,·)+V), an unseen PREFIX
  * (0+1)·2^20/(0+V) — the coalesce(0) on both left joins IS the
  * back-off, no special casing. Scores stay exact integers
  * (shuffle-order-independent), one final division for the mean.
  *
  * The only state is the final window aggregate, watermark-bounded —
  * per-key state never outlives the window + delay, so state is
  * bounded by docs-per-window, not docs-ever. Runs unchanged on a
  * batch frame (asserted in LmScoreStreamSpec + the
  * `bigram_lm_stream` oracle row).
  */
object LmScoreStream {

  /** Corpus-trained LM artifacts. `vocab` is a driver-side scalar
    * (one bounded read per model REBUILD, not per batch — the BPE
    * merge-table precedent).
    */
  case class LmModel(pairCounts: DataFrame, prefixCounts: DataFrame,
                     vocab: Long)

  def trainModel(corpus: DataFrame, textCol: String): LmModel = {
    val pc = bigrams(corpus, textCol).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_pair"))
    val fc = pc.groupBy(col("w1")).agg(sum(col("c_pair")).as("c_prefix"))
    val v = corpus.select(explode(TextOps.tokens(col(textCol))).as("t"))
      .agg(countDistinct(col("t"))).head.getLong(0)
    LmModel(pc, fc, v)
  }

  def scoreStream(docsStream: DataFrame, model: LmModel, idCol: String,
                  textCol: String, tsCol: String,
                  windowDur: String = "1 hour",
                  watermark: String = "30 minutes",
                  scaleBits: Int = 20): DataFrame = {
    val scale = 1L << scaleBits
    bigrams(docsStream.withWatermark(tsCol, watermark), textCol,
        col(tsCol), col(idCol))
      .join(ProbeTwin.static(docsStream, model.pairCounts),
        Seq("w1", "w2"), "left")
      .join(broadcast(model.prefixCounts), Seq("w1"), "left")
      .select(col(tsCol), col(idCol),
        expr(s"((coalesce(c_pair, 0L) + 1L) * ${scale}L) div " +
          s"(coalesce(c_prefix, 0L) + ${model.vocab}L)").as("fp"))
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_bigrams"),
        sum(col("fp")).as("fp_sum"))
      .withColumn("avg_fp",
        col("fp_sum").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
  }

  /** One row per adjacent-token bigram (w1, w2) of `textCol`, carrying
    * `keep`. The size >= 2 guard runs BEFORE sequence(1, size - 1),
    * which yields a descending [1, 0] on a one-token doc.
    */
  private def bigrams(docs: DataFrame, textCol: String,
                      keep: Column*): DataFrame =
    docs.select(keep :+ TextOps.tokens(col(textCol)).as("w"): _*)
      .where(size(col("w")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("bg"): _*)
      .select(keep :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
}

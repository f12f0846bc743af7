package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.GraftFunctions

/** Streaming twin of `graft.ops.SetSimJoin.probeDelta` — the EXACT
  * in-flight near-dup gate: documents arrive on a stream and each one
  * is checked against the persisted corpus prefix index
  * ([[graft.ops.SetSimJoin.prefixIndex]]), getting a keep/duplicate
  * verdict with the prefix-filter THEOREM's no-false-negative
  * guarantee — where [[DedupStream]] gives the same verdict
  * probabilistically (banded MinHash, recall-gated), this twin gives
  * it exactly, at the cost of the df-join ranking pass.
  *
  * Dataflow:
  *   1. shingle-hash each streaming doc (pure codegen maps);
  *   2. stream-static LEFT join against the corpus df table — unseen
  *      shingles rank df=0 (rarest-possible: they push the prefix cut
  *      outward, never drop a common shingle below it);
  *   3. FIRST windowed aggregation rebuilds each doc's global-order
  *      ranking (sort_array over the collected (df, sh) pairs) — the
  *      multiple-stateful-operator pipeline the text_probe_stream
  *      already exercises on Spark 4;
  *   4. stateless prefix slice + LEFT join of the corpus prefix
  *      postings (static, with the lossless PPJoin length filter in
  *      the join condition) + exact verify against the corpus sets;
  *   5. SECOND windowed aggregation folds a doc's candidate rows into
  *      ONE verdict row — `n_matches` over the distinct matched
  *      corpus ids, best match by (jaccard desc, id asc) via the
  *      min-struct trick, `keep` = no match (the DedupStream output
  *      contract, so the two gates are drop-in comparable).
  *
  * All static sides persist when the input streams
  * ([[ProbeTwin.static]]). State is watermark-bounded at both
  * aggregations.
  */
object SetSimStream {

  def exactProbeStream(docsStream: DataFrame,
                       index: graft.ops.SetSimJoin.PrefixIndex,
                       idCol: String, textCol: String, tsCol: String,
                       tauNum: Int = 6, tauDen: Int = 10,
                       windowDur: String = "10 seconds",
                       watermark: String = "1 second"): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen)
    def static(df: DataFrame): DataFrame = ProbeTwin.static(docsStream, df)
    val dfreq = static(index.dfreq)
    val postings = static(index.postings)
    // n_c already rides the postings; keep only the verify payload
    val corpusSets = static(index.sets.select(col("corpus_id"),
      col("set_c")))
    val sets = docsStream.withWatermark(tsCol, watermark)
      .select(col(tsCol), col(idCol),
        GraftFunctions.hashedWordShingles(col(textCol), 3).as("set_d"))
      .where(size(col("set_d")) > 0)
      .withColumn("n_d", size(col("set_d")))
    // windowed agg 1: per-doc global-order ranking under the corpus df
    val ordered = sets
      .select(col(tsCol), col(idCol), col("set_d"), col("n_d"),
        explode(col("set_d")).as("sh"))
      .join(dfreq, Seq("sh"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(sort_array(collect_list(
          struct(coalesce(col("df"), lit(0L)).as("df"), col("sh"))))
          .as("ord"),
        first(col("set_d")).as("set_d"), first(col("n_d")).as("n_d"))
    val prefix = ordered
      .select(col("window"), col(idCol), col("set_d"), col("n_d"),
        explode(expr(
          s"slice(ord, 1, size(ord) - " +
            s"(($tauNum * size(ord) + $tauDen - 1) div $tauDen) + 1)"))
          .as("o"))
      .select(col("window"), col(idCol), col("set_d"), col("n_d"),
        col("o.sh").as("sh"))
    // LEFT join so a doc with no candidates still gets a verdict row;
    // the length filter rides the join condition (lossless)
    val scored = prefix
      .join(postings,
        prefix("sh") === postings("sh") &&
          col("n_d") * tauNum <= col("n_c") * tauDen &&
          col("n_c") * tauNum <= col("n_d") * tauDen,
        "left")
      .join(corpusSets, Seq("corpus_id"), "left")
      .withColumn("inter",
        GraftFunctions.sortedIntersectCount(col("set_d"), col("set_c")))
      .withColumn("ok", col("inter") * tauDen >=
        (col("n_d") + col("n_c") - col("inter")) * tauNum)
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("n_d") + col("n_c") - col("inter")).cast(DoubleType))
    // windowed agg 2: one verdict row per doc
    scored
      .groupBy(col("window"), col(idCol))
      .agg(
        size(array_distinct(collect_list(
          when(col("ok"), col("corpus_id"))))).cast("long")
          .as("n_matches"),
        min(when(col("ok"),
          struct((-col("jaccard")).as("nj"), col("corpus_id"))))
          .as("best"))
      .select(col("window"), col(idCol), col("n_matches"),
        col("best.corpus_id").as("best_match_id"),
        (-col("best.nj")).as("best_jaccard"),
        (col("n_matches") === 0L).as("keep"))
  }
}

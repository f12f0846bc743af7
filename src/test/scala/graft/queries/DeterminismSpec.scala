package graft.queries

import graft.{SparkEntry, SparkSuite}

/** The order-independence claim behind the oracle strategy: every
  * oracle-visible double derives from exact integer arithmetic, so
  * results are BIT-identical under any shuffle layout. Run the
  * money-aggregate and cosine queries under different shuffle
  * partition counts and compare collected rows exactly (Double bits
  * included).
  */
class DeterminismSpec extends SparkSuite {

  private val names = Seq("q1_pricing", "q5_region_revenue",
    "rollup_summary", "embedding_pairs", "text_quality",
    "throughput_ewma", "corpus_clean", "span_dedup",
    "repetition_stats", "props_json", "user_features",
    "margin_mine", "pii_cards",
    // r10 second pass: the new oracle-visible doubles — PMI ratio,
    // mean token frequency, MAD medians/products, integer ranks
    "collocations", "token_rarity", "anomaly_mad", "anomaly_running",
    "link_rank", "ivm_user_totals", "bpe_tokenize",
    "text_index_store", "text_probe_stream", "skew_report",
    // r10 third pass: OLS slope (one division of exact BIGINT sums),
    // min_by/max_by tie-broken bars, FastSS verify distances
    "trend_slope", "ohlc_bars", "fuzzy_join", "twap",
    "event_transitions", "graph_triangles", "series_corr",
    "k_anonymity", "fk_profile", "winsorize_stats", "copurchase_topk",
    "decay_score", "grouping_sets_summary", "unpivot_features",
    "graph_bfs", "rank_auc", "series_spearman", "cusum_changepoint",
    "conversion_latency", "fuzzy_join2", "window_funnel", "top_paths")

  test("results are bit-identical across shuffle partition counts") {
    val d = "/root/testdata/sf0.001"
    def runAll(parts: Int): Map[String, Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try names.map { n =>
        n -> SparkEntry.queries(n)(spark, d).collect()
          .map(_.toSeq.map {
            case dbl: Double => java.lang.Double.doubleToLongBits(dbl).toString
            case x => String.valueOf(x)
          }.mkString("|")).sorted.toSeq
      }.toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", 4)
    }
    val a = runAll(3)
    val b = runAll(13)
    names.foreach { n =>
      assert(a(n) == b(n), s"$n differs across shuffle layouts")
      assert(a(n).nonEmpty, s"$n returned no rows at sf0.001")
    }
  }
}

package graft.plans

import graft.SparkSuite
import graft.SparkEntry

/** Plan-quality gate, enforced by `sbt test` rather than the manual
  * PlanAudit tool: no registered query may plan a nested-loop or
  * cartesian join — the two shapes that turn a 100 TB run into a
  * cross product. The brute-force similarity baselines pass because
  * their non-equi predicate lives in a post-join filter, leaving a
  * single-bucket BroadcastHashJoin (see Similarity scaladoc).
  */
class PlanQualitySpec extends SparkSuite {

  test("no registered query plans a nested-loop or cartesian join") {
    val d = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, d).queryExecution.executedPlan.toString()
        val bnlj = plan.linesIterator
          .count(_.contains("BroadcastNestedLoopJoin"))
        val cart = plan.linesIterator.count(_.contains("CartesianProduct"))
        if (bnlj + cart > 0) Some(s"$name: bnlj=$bnlj cart=$cart") else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The OTHER 100×-scale plan killer: a `Window` with no partitionBy
    * funnels every input row through ONE task (global sort + single
    * consumer). The allowlist pins the queries whose unpartitioned
    * frame is provably BOUNDED — pre-aggregated to value-domain or
    * type cardinality, never key/row count — each justified at its
    * definition site. A new query landing an unpartitioned window
    * must either bound its frame and join this list, or repartition.
    */
  private val boundedFrameAllowlist: Set[String] = Set(
    // frame over per-DAY-grain aggregates — calendar domain, not
    // user count (see the definition-site comment)
    "cumulative_users",
    // rank window over per-score-value groups (n_chars domain)
    "rank_auc",
    // rank window over spend VALUE groups (whole-dollar domain);
    // digit-share window over nine leading-digit groups
    "gini_spend", "benford_values", "spend_concentration",
    // rk stamp over an already-.limit(k) frame (TakeOrderedAndProject
    // upstream does the distributed top-k; the window sees k rows)
    "bm25_search", "text_index_store", "rag_chunk_search",
    // both PRF rounds are bm25TopK — each rk stamp over a .limit(k)
    // frame (feedback round and expanded round)
    "prf_search",
    // both arms' rk stamps + the fused rk, each over a .limit(poolK)
    // or .limit(k) frame (Retrieval.hybridTopK scaladoc)
    "hybrid_search",
    // rk stamp over an already-.limit(k) frame
    "late_interaction",
    // (interpolate_gaps left the allowlist in r14: the consecutive-
    // observed-pair rewrite has no unpartitioned window at all)
    // water-filling over per-SOURCE token caps — source cardinality
    "mixture_plan",
    // largest-remainder ranks over the same SOURCE census
    // (CorpusOps.mixtureTemperature scaladoc)
    "mixture_temperature",
    // denseHourly's global-bounds window runs over the one-row-per-
    // event-type frame (TimeSeries.denseHourly scaladoc); ×2 when the
    // series self-joins
    "series_corr", "series_spearman", "cusum_changepoint",
    "series_acf", "seasonal_profile", "forecast_backtest",
    "arrival_dispersion", "seasonal_anomaly", "series_ess",
    "durbin_watson",
    // cumulative CDFs over the $5 value-BUCKET census (the gini_spend
    // bound; Eval.emdDrift scaladoc)
    "emd_drift",
    // sweep-line running sum over MINUTE-grain net deltas — at most
    // one row per minute of retention at any data volume
    // (Sessionize.peakConcurrency scaladoc)
    "peak_concurrency",
    // KS cumulative counts run over WHOLE-DOLLAR value groups —
    // value-domain cardinality, the gini_spend bound (Eval.ksTest
    // scaladoc)
    "ks_test",
    // SPRT's cumulative counts run over the DAY domain — calendar
    // cardinality (Eval.sprtLedger scaladoc)
    "sprt_ledger",
    // median rank-selection + run-boundary lag over the DAY census —
    // calendar cardinality (TimeSeries.runsTest scaladoc)
    "runs_test",
    // moving-range lag + global sums over the same DAY census
    // (TimeSeries.xmrChart scaladoc)
    "xmr_chart",
    // rank selection over the gap-DAY census (calendar-bounded;
    // session_gaps definition site)
    "session_gaps",
    // rank selection over the tenure-DAY census (same bound;
    // user_tenure definition site)
    "user_tenure",
    // census-offset ranking: cumulative window over per-score-value
    // groups (n_chars domain) + decile cum over 10 rows
    // (Eval.cumulativeGain scaladoc)
    "cumulative_gain",
    // three value-census cumulative windows, each bounded by the
    // metric's QUANTIZATION grid — calendar days / per-user counts /
    // whole-hundred-dollar buckets (Relational.rfmSegments scaladoc)
    "rfm_segments",
    // split-search cumulative windows over the value-BUCKET census
    // ($5 grid — value-domain, not row count; Eval.decisionStump
    // scaladoc)
    "decision_stump"
  )

  test("structuralBound: literal limits and global aggregates bound; " +
      "raw scans, filters and grouped aggregates don't") {
    import org.apache.spark.sql.functions._
    def b(df: org.apache.spark.sql.DataFrame) =
      PlanChecks.structuralBound(df.queryExecution.optimizedPlan)
    val r = spark.range(100).toDF("id")
    assert(b(r.orderBy("id").limit(7)).contains(7L))
    assert(b(r.agg(sum("id"))).contains(1L))
    assert(b(r).isEmpty)
    assert(b(r.filter(col("id") < 5)).isEmpty)
    assert(b(r.groupBy("id").count()).isEmpty)
    // projections/filters above a bound keep it
    assert(b(r.limit(9).filter(col("id") > 2)
      .select((col("id") * 2).as("x"))).contains(9L))
    // a grouped aggregate above a bounded child inherits the bound
    assert(b(r.limit(9).groupBy("id").count()).contains(9L))
  }

  test("degenerate-join audit: the r13 margin_mine shape (constant-key " +
      "join of two UNBOUNDED sides) is flagged; the r14 bounded-anchor " +
      "form and the 1-row-frame idiom are not") {
    import org.apache.spark.sql.functions._
    // 10000 rows, NOT 1000: with a known maxRows ≤ the declared
    // limit, EliminateLimits deletes the GlobalLimit node and the
    // bound genuinely is the relation size — the check is about
    // UNBOUNDED inputs (parquet scans have no maxRows)
    val e = spark.range(0, 10000).select(col("id").as("vec_id"),
      (col("id") % 2).cast("int").as("label"),
      array((col("id") % 13).cast("double"), lit(1.0)).as("embedding"))
    // the EXACT r13 Similarity.scala:970-975 shape: both label halves
    // get pmod(xxhash64(id), 1) ≡ 0 and join on it — an all-pairs
    // cross product wearing an equi-join costume (planned as a
    // BroadcastHashJoin, so the bnlj/cart text greps stay at zero)
    val x = e.filter(col("label") === 0).select(col("vec_id").as("x_id"))
      .withColumn("__jk", pmod(xxhash64(col("x_id")), lit(1L)))
    val y = e.filter(col("label") === 1).select(col("vec_id").as("y_id"))
      .withColumn("__jk", pmod(xxhash64(col("y_id")), lit(1L)))
    val r13Shape = x.join(broadcast(y), Seq("__jk"))
    assert(PlanChecks.unboundedDegenerateJoins(r13Shape).nonEmpty,
      "the r13 disguised cartesian must be flagged")
    // the text greps indeed cannot see it — that is the blind spot
    val txt = r13Shape.queryExecution.executedPlan.toString()
    assert(!txt.contains("BroadcastNestedLoopJoin") &&
      !txt.contains("CartesianProduct"))
    // r14 marginMine declares its anchor bound via orderBy+limit
    val fixed = graft.ops.Similarity.marginMine(
      e, "vec_id", "embedding", "label", labelA = 0, labelB = 1)
    assert(PlanChecks.unboundedDegenerateJoins(fixed).isEmpty)
    assert(PlanChecks.unboundedBroadcastHints(fixed).isEmpty)
    // the pervasive 1-row-global-aggregate attach stays legitimate
    val tot = e.agg(sum("vec_id").as("n"))
      .withColumn("__jk", pmod(xxhash64(col("n")), lit(1L)))
    val attach = e.withColumn("__jk", pmod(xxhash64(col("vec_id")), lit(1L)))
      .join(broadcast(tot), Seq("__jk"))
    assert(PlanChecks.degenerateJoins(attach).nonEmpty)
    assert(PlanChecks.unboundedDegenerateJoins(attach).isEmpty)
  }

  test("registry: every degenerate-key join carries a structural bound " +
      "and no broadcast hint covers a raw fact-table scan") {
    val d = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, d)
        PlanChecks.unboundedDegenerateJoins(df)
          .map(j => s"$name DEGEN $j") ++
          PlanChecks.unboundedBroadcastHints(df)
            .map(t => s"$name BCAST raw '$t' scan under broadcast hint")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no registered query plans an unpartitioned window " +
      "(outside the pinned bounded-frame allowlist)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val d = "/root/testdata/sf0.001"
    val hits = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan: SparkPlan = fn(spark, d).queryExecution.sparkPlan
      val unpart = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      if (unpart.nonEmpty) Some(name -> unpart) else None
    }
    val offenders = hits.filterNot { case (n, _) => boundedFrameAllowlist(n) }
    // the allowlist must not go stale: every pinned name still plans
    // an unpartitioned window (else it should be removed from the pin)
    val stale = boundedFrameAllowlist -- hits.map(_._1).toSet
    assert(offenders.isEmpty,
      "unpartitioned Window outside allowlist:\n" + offenders.map {
        case (n, ws) => s"  $n: ${ws.mkString(", ")}"
      }.mkString("\n"))
    assert(stale.isEmpty,
      s"allowlist entries no longer planning unpartitioned windows " +
        s"(remove them): ${stale.mkString(", ")}")
  }
}

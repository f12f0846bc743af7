package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series downsampling and per-key trend analytics over the
  * events stream — the resample/summarize operators a monitoring or
  * feature pipeline runs right after ingest (the reference's hourly
  * monitoring rollups generalized to bar/trend form; cf. reference
  * `ThroughputMeter` hourly counts).
  *
  * Scale shape: both operators are single hash aggregates over
  * algebraic (map-side-combinable, mergeable) functions — one shuffle
  * on the group key, O(groups) state, no window-sort of the raw
  * stream. That also makes them STREAMING-LEGAL: every aggregate here
  * (min_by/max_by/min/max/count/sum over integer cents) folds
  * incrementally, so the same plan runs under a watermark in
  * Structured Streaming (see `graft.streaming.OhlcStream`), unlike a
  * rank/row_number formulation which streaming forbids.
  *
  * Float discipline (graft.ops.Relational): values go through exact
  * integer cents, time through integer micros/hours, so every result
  * is order-independent and bit-identical to the DuckDB oracle; the
  * one double emitted (trend slope) is a single division of two
  * exactly-computed BIGINTs.
  */
object TimeSeries {

  private def cents(c: Column): Column = round(c * 100).cast(LongType)

  /** OHLC bars: per (hour, event_type) open/high/low/close/volume.
    *
    * Open/close are the values of the first/last event in the bar
    * under the total order (ts, event_id) — `min_by`/`max_by` over the
    * (ts, event_id) struct, NOT a row_number window: ties on ts are
    * broken by the unique event_id, so the result is deterministic
    * under any shuffle order, and the aggregate stays algebraic
    * (each partition keeps one candidate per group; merge compares
    * keys) where a window would sort every event.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .select(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"), col("ts"), col("event_id"),
        cents(col("value")).as("c"))
      .groupBy(col("hour_start"), col("event_type"))
      .agg(
        min_by(col("c"), struct(col("ts"), col("event_id")))
          .as("open_cents"),
        max(col("c")).as("high_cents"),
        min(col("c")).as("low_cents"),
        max_by(col("c"), struct(col("ts"), col("event_id")))
          .as("close_cents"),
        count(lit(1)).as("n_events"))

  /** Hours since 2024-01-01T00:00Z of a timestamp column — the x axis
    * for [[trendSlope]]. Hour (not second/micro) resolution keeps
    * every moment of the closed-form OLS inside BIGINT: with
    * x ≤ ~1e5 (a decade) and y ≤ ~1e6 cents, n·Σx² and n·Σxy stay
    * under ~1e18 through ~1e7 rows per key — far beyond any per-user
    * event count; second resolution would overflow n·Σx² at ~1e3 rows.
    */
  private def hoursSince2024: Column =
    // SQL `div` (integral division), NOT Column `/`: Spark's `/` on
    // longs is true double division, and raw epoch micros (~1.7e18)
    // exceed double's 2^53 exact range — a fractional, rounded x would
    // shift every downstream sum. Offset first, divide second: both
    // operands stay positive, so truncating div == floor div (what the
    // DuckDB oracle's `//` computes).
    expr("(unix_micros(ts) - 1704067200000000L) div 3600000000L")

  /** Per-key linear trend: closed-form OLS slope of value (cents) over
    * time (hours since 2024-01-01), the drift/trend feature of a
    * per-entity health pipeline. slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    * with every sum an exact BIGINT (one hash aggregate, map-side
    * combinable), then ONE double division — bit-identical across
    * engines and partitionings. Keys whose x has no variance (all
    * events in one hour) have no defined slope and are filtered, so
    * the output is denominator-safe.
    */
  def trendSlope(events: DataFrame, keyCol: String): DataFrame =
    events
      .select(col(keyCol), hoursSince2024.as("x"),
        cents(col("value")).as("y"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .where(col("den") =!= 0L)
      .select(col(keyCol), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          col("den").cast(DoubleType)).as("slope_cph"))

  /** Time-weighted average value per key — the mean that weights each
    * observation by how long it was the CURRENT one (a value held for
    * an hour counts 3600× a value replaced a second later), the
    * correct aggregate for sampled gauges/prices where plain avg
    * over-weights bursts. Each event's weight is the micros until the
    * key's next event (lead over (ts, event_id) — per-key window
    * sort, no global sort); the last observation has no horizon and
    * is excluded. Σ(cents·gap) and Σgap are exact BIGINTs (gap sums
    * telescope to the key's observed span, so cents·span ≤ ~1e17 for
    * a year at 1e4 cents — no overflow), twap is their one division.
    * Keys with a single event or a zero span have no defined weight
    * and are filtered.
    */
  def twap(events: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("ts"), col("event_id"))
    events
      .select(col(keyCol), col("ts"), col("event_id"),
        cents(col("value")).as("c"))
      .withColumn("gap_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .where(col("gap_us").isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(col("c") * col("gap_us")).as("wsum"),
        sum(col("gap_us")).as("span_us"))
      .where(col("span_us") > 0L)
      .select(col(keyCol), col("span_us"),
        (col("wsum").cast(DoubleType) / col("span_us").cast(DoubleType))
          .as("twap_cents"))
  }

  /** Recency-weighted engagement: per key, Σ value·2^(−age_days) at a
    * fixed reference instant — the exponential-decay activity score
    * every ranking/churn feature set carries, with a half-life of one
    * day. Computed WITHOUT floating-point accumulation: each event
    * contributes cents·2^(horizon−age) as a BIGINT (a bit shift, ages
    * beyond the horizon contribute exactly 0 — at 2^-30 they are
    * below any feature's resolution anyway), the integer sum commutes
    * under any partitioning, and ONE final division by 2^horizon
    * rescales to the decayed-cents double. The fixed `refEpochSec`
    * (not now()) keeps the feature reproducible run-to-run — the
    * training-serving-skew rule for temporal features.
    */
  def decayScore(events: DataFrame, keyCol: String,
                 refEpochSec: Long, horizonDays: Int = 20): DataFrame = {
    // horizon 20: cents(≤1e6)·2^20 ≈ 1e12 per event keeps the BIGINT
    // sum safe past 1e6 in-horizon events per key; 2^-20 ≈ 1e-6 is
    // below any engagement feature's resolution
    val ageDays = expr(s"(${refEpochSec}L - unix_micros(ts)" +
      " div 1000000L) div 86400L")
    events
      // events past the reference SECOND are excluded BEFORE the age
      // computation: Spark's `div` truncates toward zero, so an event
      // up to one day past refEpochSec would otherwise get age 0 (kept
      // at max weight) where floor semantics give age -1 (excluded) —
      // the age>=0 filter alone cannot see the difference. The filter
      // is at second grain (matching the floor pipeline: an event
      // inside [ref, ref+1s) floors to age 0 and is kept); for
      // positive epochs (any post-1970 ts) `div` == floor here, and
      // with the filter in place the age numerator is non-negative so
      // its `div 86400` is floor too.
      .where(expr(s"unix_micros(ts) div 1000000L <= ${refEpochSec}L"))
      .select(col(keyCol), ageDays.as("age"),
        cents(col("value")).as("c"))
      .where(col("age") >= 0L && col("age") <= horizonDays.toLong)
      .select(col(keyCol),
        (col("c") * expr(s"shiftleft(1L, cast($horizonDays - age" +
          " as int))")).as("w"))
      .groupBy(col(keyCol))
      .agg(sum(col("w")).as("w"))
      .select(col(keyCol),
        (col("w").cast(DoubleType) /
          lit(math.pow(2.0, horizonDays))).as("decayed_cents"))
  }

  /** Cross-series correlation: Pearson r between every pair of event
    * types' HOURLY volumes — the metric-correlation discovery pass of
    * a monitoring pipeline ("errors spike when purchases spike").
    *
    * Silent hours must count as zero, not be absent (an inner join on
    * observed hours would correlate only co-active hours and bias r
    * upward), so each series is densified over the GLOBAL [lo, hi]
    * hour range first — the dense_hours trick: per-type (hour→count)
    * maps fold in one aggregate, the global bounds attach via an
    * unpartitioned window over the PER-TYPE frame (a handful of rows —
    * the single-task window is bounded by type cardinality, never by
    * events), and the range explodes against the map. No cartesian
    * join anywhere.
    *
    * Determinism: all five moments are exact BIGINT sums of hour
    * counts (n·Σxy ≲ 4e17 even at 100× the bench volume); r is then
    * cov/√(varx·vary) computed in three IEEE ops (multiply, sqrt,
    * divide — all correctly rounded per IEEE 754) from exactly-cast
    * inputs, so the double is bit-identical in any engine. Zero-
    * variance series are filtered (r undefined).
    */
  /** Zero-filled hourly count series per type over the GLOBAL hour
    * range — the shared densification for [[seriesCorr]] and
    * [[cusumChangepoint]] (see seriesCorr's scaladoc for why silent
    * hours must be explicit zeros and how this stays cartesian-free).
    */
  private def denseHourly(events: DataFrame): DataFrame = {
    val cnt = events
      .select(hoursSince2024.as("h"), col("event_type"))
      .groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val perType = cnt.groupBy(col("event_type"))
      .agg(map_from_entries(collect_list(struct(col("h"), col("c"))))
          .as("m"),
        min(col("h")).as("tlo"), max(col("h")).as("thi"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perType
      .withColumn("lo", min(col("tlo")).over(w))
      .withColumn("hi", max(col("thi")).over(w))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("h"), col("m"))
      .select(col("event_type"), col("h"),
        coalesce(element_at(col("m"), col("h")), lit(0L)).as("c"))
  }

  /** Poisson dispersion index (variance-to-mean ratio) of each type's
    * hourly arrival counts over the common dense hour grid — the
    * burstiness diagnostic that sizes stream partitions and admission
    * buffers: D ~= 1 is Poisson traffic (provision for the mean),
    * D >> 1 is bursty (provision for the bursts or expect lag spikes).
    * Exact integers end to end: D = (n*S2 - S1^2) / ((n-1)*S1) with
    * BIGINT numerator and denominator from one map-side-combinable
    * aggregate over the dense series, then ONE double division.
    * n_hours >= 2 and S1 >= 1 are structural here (the grid spans
    * min..max hour of a type that exists), so the denominator is safe.
    */
  def arrivalDispersion(events: DataFrame): DataFrame =
    denseHourly(events)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("event_type"), col("n_hours"), col("s1"), col("s2"),
        ((col("n_hours") * col("s2") - col("s1") * col("s1"))
          .cast(DoubleType) /
          ((col("n_hours") - 1) * col("s1")).cast(DoubleType))
          .as("dispersion"))

  def seriesCorr(events: DataFrame): DataFrame = {
    val dense = denseHourly(events)
    val a = dense.select(col("h"), col("event_type").as("type_a"),
      col("c").as("x"))
    val b = dense.select(col("h"), col("event_type").as("type_b"),
      col("c").as("y"))
    a.join(b, Seq("h")).where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("vx", col("n_hours") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n_hours") * col("syy") - col("sy") * col("sy"))
      .where(col("vx") > 0L && col("vy") > 0L)
      .select(col("type_a"), col("type_b"), col("n_hours"),
        ((col("n_hours") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) /
          sqrt(col("vx").cast(DoubleType) * col("vy").cast(DoubleType)))
          .as("r"))
  }

  /** Spearman rank correlation between event types' hourly volumes —
    * [[seriesCorr]]'s robust sibling: monotone association instead of
    * linear, insensitive to the burst outliers that dominate a
    * Pearson r on traffic counts. Ranks are computed per type over
    * its own dense series at 2× scale so midranks (tie averages) stay
    * integers — mid2 = 2·rank() + ties − 1 = first + last — and ρ is
    * then exactly the [[seriesCorr]] integer-moment fold on the mid2
    * series (Pearson is shift/scale invariant, so the 2× never needs
    * dividing out). The rank window partitions by type and runs over
    * HOURS, bounded by elapsed time, never by events.
    */
  def seriesSpearman(events: DataFrame): DataFrame = {
    val dense = denseHourly(events)
    val byC = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("c"))
    val tieCnt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("c"))
    val ranked = dense
      .withColumn("mid2",
        rank().over(byC).cast(LongType) * 2L +
          count(lit(1)).over(tieCnt) - 1L)
      .select(col("event_type"), col("h"), col("mid2"))
    val a = ranked.select(col("h"), col("event_type").as("type_a"),
      col("mid2").as("x"))
    val b = ranked.select(col("h"), col("event_type").as("type_b"),
      col("mid2").as("y"))
    a.join(b, Seq("h")).where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("vx", col("n_hours") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n_hours") * col("syy") - col("sy") * col("sy"))
      .where(col("vx") > 0L && col("vy") > 0L)
      .select(col("type_a"), col("type_b"), col("n_hours"),
        ((col("n_hours") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) /
          sqrt(col("vx").cast(DoubleType) * col("vy").cast(DoubleType)))
          .as("rho"))
  }

  /** CUSUM changepoint: per event type, the hour where the cumulative
    * deviation of the hourly volume from its overall mean peaks — the
    * classic "when did the behavior change" detector behind every
    * level-shift alert (Page's CUSUM, public). Division-free: with n
    * hours and total T, the deviation is scaled by n —
    * dev_h = c_h·n − T — so the running sum stays an exact BIGINT
    * (|cusum| ≤ n·T ≲ 1e13 at 100× bench volume) and the argmax is
    * deterministic (ties → earliest hour). The window runs per type
    * over HOURS (bounded), never over events; the peak is picked by
    * the bounded-heap exec, not a sort.
    *
    * Output per type: the changepoint hour (start-of-hour timestamp),
    * the scaled peak |cusum| (divide by n for event units), its sign
    * (+1 = level was ABOVE the mean before the cut), and n_hours.
    */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val dense = denseHourly(events)
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val scored = dense
      .withColumn("n_hours", count(lit(1)).over(byType))
      .withColumn("total", sum(col("c")).over(byType))
      .withColumn("cusum",
        sum(col("c") * col("n_hours") - col("total")).over(cum))
      .withColumn("acs", abs(col("cusum")))
    graft.plans.GroupedTopK(scored, Seq("event_type"),
      Seq(("acs", false), ("h", true)), k = 1, rankName = "__r")
      .select(col("event_type"),
        timestamp_micros((col("h") + lit(1704067200L / 3600L)) *
          lit(3600000000L)).as("cp_hour"),
        col("acs").as("peak_scaled"),
        signum(col("cusum")).cast(LongType).as("sign"),
        col("n_hours"))
  }

  /** Lag-k autocorrelation (ACF) of each type's hourly volume for
    * k = 1..`maxLag` — the periodicity detector next to
    * [[cusumChangepoint]] (level shifts) and [[seriesCorr]]
    * (cross-series): a daily-cycle series shows the spike at lag 24
    * that tells a capacity planner the load is seasonal, not trending.
    *
    * Exact-integer form: with n hours and total T, the n-scaled
    * deviation dev_h = c_h·n − T is an exact BIGINT, and
    * r_k = Σ dev_h·dev_{h+k} / Σ dev_h² — the n² scale cancels, so no
    * mean subtraction in floating point ever happens. The products
    * are summed as DECIMAL(38,0) (the anomaly_running discipline:
    * dev ~ 1e11 at petabyte volume squares past BIGINT), and the one
    * double division at the end is bit-identical cross-engine.
    *
    * Plan shape: ONE window pass per type over HOURS (all `maxLag`
    * leads share the same window spec → a single WindowExec, state
    * bounded by maxLag), explode to (lag, pair) rows — bounded by
    * hours·types·maxLag, never by events — then one hash aggregate.
    * The per-type denominator frame is group-cardinality-sized and
    * broadcast.
    */
  def seriesAcf(events: DataFrame, maxLag: Int = 24): DataFrame = {
    val dense = denseHourly(events)
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val dec = DecimalType(38, 0)
    val d = dense
      .withColumn("n_hours", count(lit(1)).over(byType))
      .withColumn("total", sum(col("c")).over(byType))
      .withColumn("dev", col("c") * col("n_hours") - col("total"))
      // the denominator rides the SAME event_type window partition —
      // one exchange serves all window frames, no separate aggregate
      // + re-join pass
      .withColumn("den",
        sum(col("dev").cast(dec) * col("dev").cast(dec)).over(byType))
    val withLeads = d.select(col("event_type") +: col("dev") +:
      col("den") +:
      (1 to maxLag).map(k =>
        lead(col("dev"), k).over(ord).as(s"dl_$k")): _*)
    val lagged = withLeads.select(col("event_type"), col("dev"),
      col("den"),
      explode(array((1 to maxLag).map(k =>
        struct(lit(k.toLong).as("lag"),
          col(s"dl_$k").as("dl"))): _*)).as("x"))
      .select(col("event_type"), col("x.lag").as("lag"),
        col("dev"), col("den"), col("x.dl").as("dl"))
      .where(col("dl").isNotNull)
    lagged.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dev").cast(dec) * col("dl").cast(dec)).as("num"),
        max(col("den")).as("den"))
      .where(col("den") > lit(0))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        (col("num").cast(DoubleType) / col("den").cast(DoubleType))
          .as("r_acf"))
  }

  /** Hour-of-day seasonal profile: per (type, hour-of-day 0..23) the
    * multiplicative index — mean hourly volume at that wall-clock
    * hour over the type's overall mean — the load-shaping /
    * staffing-curve aggregate, and the "seasonal naive" baseline a
    * forecast is judged against. Built on [[denseHourly]] so silent
    * hours weigh the denominator (an index over only-active hours
    * overstates quiet slots). index = (c_hod·n_hours) / (T·n_hod):
    * all exact BIGINT products, one double division; h is hours since
    * 2024-01-01 UTC so pmod(h, 24) IS the UTC hour of day (floored, so
    * hours before the origin land in 0..23 too).
    */
  def seasonalProfile(events: DataFrame): DataFrame = {
    val dense = denseHourly(events)
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    dense
      .withColumn("n_hours", count(lit(1)).over(byType))
      .withColumn("total", sum(col("c")).over(byType))
      .groupBy(col("event_type"), pmod(col("h"), lit(24L)).as("hod"))
      .agg(count(lit(1)).as("n_hod_hours"),
        sum(col("c")).as("events_at_hod"),
        max(col("n_hours")).as("n_hours"),
        max(col("total")).as("total"))
      .where(col("total") > 0L)
      .select(col("event_type"), col("hod"), col("n_hod_hours"),
        col("events_at_hod"),
        ((col("events_at_hod") * col("n_hours")).cast(DoubleType) /
          (col("total") * col("n_hod_hours")).cast(DoubleType))
          .as("seasonal_index"))
  }

  /** One-step-ahead forecast backtest over the dense hourly series:
    * scores the two standard baselines every real forecaster must
    * beat — naive (ŷ_h = c_{h−1}) and seasonal-naive (ŷ_h = c_{h−24})
    * — by MAE per type over the hours where BOTH are defined, so the
    * comparison is paired. `seasonal_wins` (Σ|e_sn| < Σ|e_n|, an
    * exact integer compare — same denominator, no division needed)
    * is the one-bit answer to "is this series daily-seasonal enough
    * that a model should consume [[seasonalProfile]]'s index".
    * Absolute errors of integer counts are exact BIGINTs; the two
    * MAEs are one division each. One window pass per type over
    * HOURS (both lags share the spec), one aggregate.
    */
  def forecastBacktest(events: DataFrame): DataFrame = {
    val dense = denseHourly(events)
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    dense
      .withColumn("p_naive", lag(col("c"), 1).over(ord))
      .withColumn("p_seasonal", lag(col("c"), 24).over(ord))
      .where(col("p_seasonal").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("c") - col("p_naive"))).as("sae_naive"),
        sum(abs(col("c") - col("p_seasonal"))).as("sae_seasonal"))
      .select(col("event_type"), col("n_scored"),
        col("sae_naive"), col("sae_seasonal"),
        (col("sae_naive").cast(DoubleType) /
          col("n_scored").cast(DoubleType)).as("mae_naive"),
        (col("sae_seasonal").cast(DoubleType) /
          col("n_scored").cast(DoubleType)).as("mae_seasonal"),
        (col("sae_seasonal") < col("sae_naive")).as("seasonal_wins"))
  }

  /** Gap interpolation over the common dense 10-minute grid: for every
    * (type, slot) with NO observations, the linearly interpolated mean
    * value (cents) between the nearest observed slots either side —
    * the missing-data fill a feature pipeline runs before resampling a
    * sparse metric onto a regular grid (zero-fill, [[denseHourly]]'s
    * contract, is correct for COUNTS; for a mean VALUE a gap means "no
    * reading", not "reading was 0").
    *
    * Determinism: per observed slot the mean is sum-cents/eventcount —
    * exact BIGINTs, one division; the interpolation
    * `(vp·(hn−h) + vn·(h−hp)) / (hn−hp)` is the same fixed IEEE tree
    * both engines evaluate (the drift_chi2 discipline). Edge slots
    * before the first / after the last observation are excluded (no
    * extrapolation).
    *
    * Shape (r14): one hash aggregate to (type, slot), ONE lead()
    * window over the observed slots (≤ slots × types rows, calendar-
    * bounded), and one explode of the in-between slot range per
    * consecutive observed pair. A gap slot by definition lies
    * strictly between two consecutive OBSERVED slots of its type, so
    * enumerating consecutive observed pairs (hp, hn) with hn > hp+1
    * and exploding sequence(hp+1, hn−1) yields exactly the rows the
    * old dense-grid formulation produced — without materializing the
    * dense grid, without the per-type observation map the explode
    * used to copy into every grid row (~4.5k entries × 18k rows of
    * UnsafeRow payload), and with one Window operator instead of six
    * (measured 5.3 s → <1 s at sf0.1; plan: 8 Exchanges → 2).
    * Edge slots before the first / after the last observation never
    * appear (lead() is null past the partition end), preserving the
    * no-extrapolation contract.
    */
  def interpolateGaps(events: DataFrame,
                      slotUs: Long = 600000000L): DataFrame = {
    val slot = expr(
      s"(unix_micros(ts) - 1704067200000000L) div ${slotUs}L")
    val obs = events
      .select(col("event_type"), slot.as("h"),
        cents(col("value")).as("c"))
      .groupBy(col("event_type"), col("h"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    obs
      .select(col("event_type"), col("h").as("hp"), col("s").as("sp"),
        col("n").as("np"),
        lead(col("h"), 1).over(ord).as("hn"),
        lead(col("s"), 1).over(ord).as("sn"),
        lead(col("n"), 1).over(ord).as("nn"))
      .where(col("hn").isNotNull && col("hn") > col("hp") + 1)
      .select(col("event_type"), col("hp"), col("hn"), col("sp"),
        col("np"), col("sn"), col("nn"),
        explode(sequence(col("hp") + 1, col("hn") - 1)).as("h"))
      .select(col("event_type"), col("h"), col("hp"), col("hn"),
        ((col("sp").cast(DoubleType) / col("np").cast(DoubleType) *
          (col("hn") - col("h")).cast(DoubleType) +
          col("sn").cast(DoubleType) / col("nn").cast(DoubleType) *
            (col("h") - col("hp")).cast(DoubleType)) /
          (col("hn") - col("hp")).cast(DoubleType)).as("v_interp"))
  }

  /** First-order Markov transition matrix of the event stream: counts
    * and probabilities of (event_type → next event_type) per key's
    * timeline — the behavioral-model / next-action-prediction
    * aggregate. Consecutive pairs come from lead over the same
    * per-key (ts, event_id) window as [[twap]]; probabilities are one
    * division of exact counts, conditioned on the source type
    * (Σ p over to_type = 1 per from_type up to rounding).
    */
  def eventTransitions(events: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col(keyCol), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast(DoubleType) / col("tot").cast(DoubleType)).as("p"))
  }

  /** Theil–Sen robust trend — the breakdown-resistant sibling of
    * [[trendSlope]]'s OLS (public: Theil 1950, Sen 1968): the MEDIAN
    * of all pairwise slopes over the daily-total series, immune to
    * ~29% outlier days where one flash-sale day drags OLS arbitrarily
    * far. Intercept = median residual at the chosen slope.
    *
    * Shape/exactness: the data-sized work is one hash aggregate to
    * the DAY domain (bounded by the calendar, never by rows — ~365
    * points/year); the O(days²) pair slopes run on the driver over
    * that bounded census. Each slope is ONE division of exact
    * integers, each residual one multiply + subtract of identical
    * doubles; medians are rank SELECTION under the written-down
    * total order (slope, dayᵢ, dayⱼ) / (residual, day) at the lower
    * median (m+1) div 2 — comparisons only, no summation anywhere,
    * so the result hash-compares bitwise. Output: one row
    * (n_days, n_pairs, slope_cpd, intercept_c).
    */
  def theilSen(events: DataFrame): DataFrame = {
    val pts = events
      .select(expr("unix_micros(ts) div 86400000000L").as("day"),
        round(col("value") * 100).cast(LongType).as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(pts.length > 1, "theilSen: need at least two days")
    val slopes = for {
      i <- pts.indices; j <- (i + 1) until pts.length
    } yield ((pts(j)._2 - pts(i)._2).toDouble /
        (pts(j)._1 - pts(i)._1).toDouble, pts(i)._1, pts(j)._1)
    val sorted = slopes.sortBy(s => (s._1, s._2, s._3))
    val slope = sorted((sorted.length + 1) / 2 - 1)._1
    val resid = pts.toSeq
      .map(p => (p._2.toDouble - slope * p._1.toDouble, p._1))
      .sortBy(identity)
    val intercept = resid((resid.length + 1) / 2 - 1)._1
    events.sparkSession
      .createDataFrame(Seq((pts.length.toLong, slopes.length.toLong,
        slope, intercept)))
      .toDF("n_days", "n_pairs", "slope_cpd", "intercept_c")
  }

  /** Mann–Kendall trend test over the daily-total series — the
    * nonparametric SIGNIFICANCE companion of [[theilSen]]'s slope
    * estimate (public: Mann 1945, Kendall 1975; the pair ships
    * together in every hydrology/monitoring toolbox): S = Σ_{i<j}
    * sign(xⱼ − xᵢ) counts concordant minus discordant day pairs, and
    * the normal approximation z = (S ∓ 1)/√Var(S) with the tie
    * correction Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 decides
    * trend at α = 0.05. Answers "is this metric drifting?" without
    * theilSen's linearity assumption on the magnitude.
    *
    * Shape/exactness: identical to theilSen — one hash aggregate to
    * the bounded DAY domain (calendar-bound census, ~365 points/year,
    * never row-bound), then the O(days²) pair walk on the driver over
    * that census. S and the 18-scaled variance are exact BIGINTs
    * (ties found by grouping equal totals); the only doubles are one
    * division by 18, one IEEE sqrt, and one final division — the same
    * written-down op order the oracle replays. Output: one row
    * (n_days, s_stat, var18, z, trend).
    */
  def mannKendall(events: DataFrame): DataFrame = {
    val pts = events
      .select(expr("unix_micros(ts) div 86400000000L").as("day"),
        round(col("value") * 100).cast(LongType).as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(pts.length > 2, "mannKendall: need at least three days")
    var s = 0L
    for { i <- pts.indices; j <- (i + 1) until pts.length } {
      val d = pts(j)._2 - pts(i)._2
      s += (if (d > 0) 1L else if (d < 0) -1L else 0L)
    }
    val n = pts.length.toLong
    val tie18 = pts.groupBy(_._2).valuesIterator
      .map(_.length.toLong).filter(_ > 1L)
      .map(t => t * (t - 1L) * (2L * t + 5L)).sum
    val var18 = n * (n - 1L) * (2L * n + 5L) - tie18
    val varS = var18.toDouble / 18.0
    val z =
      if (s > 0L) (s - 1L).toDouble / math.sqrt(varS)
      else if (s < 0L) (s + 1L).toDouble / math.sqrt(varS)
      else 0.0
    val trend =
      if (z > 1.959963984540054) "increasing"
      else if (z < -1.959963984540054) "decreasing"
      else "none"
    events.sparkSession
      .createDataFrame(Seq((n, s, var18, z, trend)))
      .toDF("n_days", "s_stat", "var18", "z", "trend")
  }

  /** Seasonal anomaly flags — hours whose count sits more than 3σ from
    * that (type, hour-of-day) slot's own seasonal mean: the residual
    * alarm over [[seasonalProfile]]'s baseline (CUSUM finds LEVEL
    * shifts; this finds single-hour spikes/outages that a seasonal
    * mean absorbs into no trend). Division-free: with per-slot day
    * count n, sum s and sum-of-squares ss over the dense hourly grid
    * (zero hours included — absence is an observation), the 3σ test
    * (c − s/n)² > 9·σ² with population σ² = (n·ss − s²)/n² rearranges
    * to (c·n − s)² · 1 > 9·(n·ss − s²) — EXACT BIGINTs end to end, no
    * doubles anywhere in the decision. Output: the flagged hours with
    * both sides of the inequality as evidence.
    *
    * Shape: the denseHourly census (hour×type grid, calendar-bounded)
    * → one (type, hod) aggregate joined back to the grid — broadcast,
    * slot cardinality is type×24.
    */
  def seasonalAnomaly(events: DataFrame): DataFrame = {
    val d = denseHourly(events)
      .select(col("event_type"), col("h"), col("c"),
        pmod(col("h"), lit(24L)).as("hod"))
    val slots = d.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
    d.join(broadcast(slots), Seq("event_type", "hod"))
      .select(col("event_type"), col("hod"), col("h"), col("c"),
        ((col("c") * col("n") - col("s")) *
          (col("c") * col("n") - col("s"))).as("dev2"),
        (lit(9L) * (col("n") * col("ss") - col("s") * col("s")))
          .as("thr9"))
      .where(col("dev2") > col("thr9"))
  }

  /** Effective sample size of the hourly series — n/(1 + 2Σ_{k≤K} ρ_k)
    * over [[seriesAcf]]'s exact lag correlations (public: the
    * initial-sequence ESS estimator of MCMC practice, truncated at
    * K = maxLag): "my metric has 720 hourly points but they're
    * autocorrelated — how many INDEPENDENT observations is that?" —
    * the correction factor every naive ±1.96/√n interval on a time
    * series silently needs. τ = 1 + 2Σρ is also emitted (the
    * integrated autocorrelation time); noisy ACF tails can push τ ≤ 0
    * at small n, in which case ess is reported as-is and the consumer
    * clamps (documented, matching the estimator's known behavior).
    *
    * Exactness: each ρ_k is seriesAcf's single division of exact
    * DECIMAL(38,0) moments; the Σ over lags folds in LAG order (one
    * bounded list per type), then two IEEE ops for τ and one division
    * for ess — all replayed verbatim in the oracle.
    */
  def seriesEss(events: DataFrame, maxLag: Int = 24): DataFrame = {
    val acf = seriesAcf(events, maxLag)
    val nh = denseHourly(events).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"))
    acf.groupBy(col("event_type"))
      .agg(collect_list(struct(col("lag"), col("r_acf"))).as("rs"))
      .join(broadcast(nh), "event_type")
      .select(col("event_type"), col("n_hours"),
        (lit(1.0) + lit(2.0) * aggregate(sort_array(col("rs")),
          lit(0.0), (a, t) => a + t.getField("r_acf"))).as("tau"))
      .select(col("event_type"), col("n_hours"), col("tau"),
        (col("n_hours").cast(DoubleType) / col("tau")).as("ess"))
  }

  /** Holt's linear (double-exponential) smoothing over the daily
    * census, as a one-step-ahead forecast backtest against the naive
    * forecaster (public: Holt 1957) — the level+trend forecast that
    * [[forecastBacktest]]'s naive/seasonal pair lacks. α = β = 1/4 in
    * 2^16 fixed point, every step two TRUNCATING divisions of exact
    * BIGINTs (toward zero — DuckDB's integer `//` truncates, measured
    * (-7)//4 = -1, and Scala Long `/` matches; trend goes negative so
    * the sign convention is load-bearing):
    * level' = (x·S + 3(level+trend)) tdiv 4,
    * trend' = (level' − level + 3·trend) tdiv 4 — bit-replayable as a
    * recursive CTE, no floating accumulation anywhere. The sequential
    * recurrence runs on the driver over the bounded DAY census (the
    * theilSen rule: calendar-bound, never row-bound); the data-sized
    * work is the one hash aggregate to days.
    *
    * Output: one row — n_days, both SAE's in fixed point (exact
    * BIGINTs), Holt MAE in cents (two divisions), and the winner by
    * integer compare.
    */
  def holtLinear(events: DataFrame): DataFrame = {
    val S = 65536L
    val pts = events
      .select(expr("unix_micros(ts) div 86400000000L").as("day"),
        round(col("value") * 100).cast(LongType).as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
      .orderBy(col("day"))
      .collect().map(r => r.getLong(1))
    require(pts.length > 2, "holtLinear: need at least three days")
    var l = pts(0) * S
    var t = 0L
    var sae = 0L
    var naive = 0L
    var i = 1
    while (i < pts.length) {
      val x = pts(i) * S
      sae += math.abs(x - (l + t))
      naive += math.abs(pts(i) - pts(i - 1)) * S
      val l2 = (x + 3L * (l + t)) / 4L
      t = (l2 - l + 3L * t) / 4L
      l = l2
      i += 1
    }
    val n = pts.length.toLong
    val mae = sae.toDouble / (n - 1L).toDouble / 65536.0
    val winner = if (sae < naive) "holt" else "naive"
    events.sparkSession
      .createDataFrame(Seq((n, sae, naive, mae, winner)))
      .toDF("n_days", "holt_sae_fp", "naive_sae_fp", "holt_mae_cents",
        "winner")
  }

  /** Durbin–Watson statistic per type over the dense hourly series —
    * the residual-autocorrelation audit (public: Durbin & Watson
    * 1950): DW ≈ 2 means independent residuals, → 0 positive serial
    * correlation, → 4 negative. The one-number check that the
    * "independent observations" assumption behind every naive
    * interval actually holds, next to [[seriesAcf]]'s full curve and
    * [[seriesEss]]'s corrected n.
    *
    * Exact: devs are the n-scaled integer deviations (c·n − total,
    * the seriesAcf discipline), numerator Σ(devₜ−devₜ₋₁)² and
    * denominator Σdev² both DECIMAL(38,0) sums of integer products,
    * ONE division. The lag runs under a window PARTITIONED by type —
    * per-type sort, no global sort anywhere.
    */
  def durbinWatson(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    denseHourly(events)
      .withColumn("n_hours", count(lit(1)).over(byType))
      .withColumn("total", sum(col("c")).over(byType))
      .withColumn("dev", col("c") * col("n_hours") - col("total"))
      .withColumn("prev", lag(col("dev"), 1).over(ord))
      .groupBy(col("event_type"))
      .agg(max(col("n_hours")).as("n_hours"),
        sum(when(col("prev").isNotNull,
          (col("dev") - col("prev")).cast(dec) *
            (col("dev") - col("prev")).cast(dec))).as("num"),
        sum(col("dev").cast(dec) * col("dev").cast(dec)).as("den"))
      .where(col("den") > 0)
      .select(col("event_type"), col("n_hours"),
        (col("num").cast(DoubleType) / col("den").cast(DoubleType))
          .as("dw"))
  }

  /** Peer-group anomaly flags — per day, event types whose count sits
    * more than 3σ from their PEERS' (leave-one-out) mean that same
    * day: the cross-sectional complement of [[seasonalAnomaly]]'s
    * time baseline. When every metric moves together (traffic spike,
    * deploy window) the time baseline alarms on all of them; the peer
    * baseline stays quiet and only flags the one series that moved
    * DIFFERENTLY — the "which metric is actually broken" question.
    *
    * Division-free: with k peers of sum s and sum-of-squares ss, the
    * 3σ test (c − s/k)² > 9·(k·ss − s²)/k² rearranges to
    * (c·k − s)² > 9·(k·ss − s²) — exact BIGINTs, no doubles in the
    * decision. One hash aggregate to the (day, type) census, one
    * per-day census join; leave-one-out moments are day totals minus
    * the own row (no self-exclusion pass).
    */
  def peerAnomaly(events: DataFrame): DataFrame = {
    val cnt = events
      .select(expr("unix_micros(ts) div 86400000000L").as("day"),
        col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val daily = cnt.groupBy(col("day"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("s_all"),
        sum(col("c") * col("c")).as("ss_all"))
    cnt.join(broadcast(daily), "day")
      .where(col("n_types") >= 3L)
      .select(col("day"), col("event_type"), col("c"),
        (col("n_types") - 1L).as("k"),
        (col("s_all") - col("c")).as("s"),
        (col("ss_all") - col("c") * col("c")).as("ss"))
      .select(col("day"), col("event_type"), col("c"),
        ((col("c") * col("k") - col("s")) *
          (col("c") * col("k") - col("s"))).as("dev2"),
        (lit(9L) * (col("k") * col("ss") - col("s") * col("s")))
          .as("thr9"))
      .where(col("dev2") > col("thr9"))
  }

  /** XmR (individuals / moving-range) control chart over the daily
    * totals — the Shewhart process-control verdict (public: Wheeler's
    * XmR form): limits x̄ ± 2.66·m̄R from the mean moving range, each
    * day flagged in or out of control. The SPC complement of
    * [[cusumChangepoint]] (CUSUM accumulates small persistent shifts;
    * XmR flags single excursions against short-term variation) —
    * and unlike the 3σ-of-global-σ rule, the moving-range estimate is
    * robust to the very shifts it's hunting.
    *
    * Exact: sums and |moving ranges| are BIGINT cents over the
    * bounded day census; x̄, m̄R, and the two limits are four
    * divisions/multiplies in a written-down order; flags are double
    * comparisons (deterministic). Output: every day with its verdict.
    */
  def xmrChart(events: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = events
      .select(expr("unix_micros(ts) div 86400000000L").as("day"),
        round(col("value") * 100).cast(LongType).as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    val wAll = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    daily
      .withColumn("prev", lag(col("cents"), 1).over(W.orderBy(col("day"))))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("cents")).over(wAll))
      .withColumn("smr", sum(abs(col("cents") - col("prev"))).over(wAll))
      .where(col("n") > 1L)
      .withColumn("xbar",
        col("s").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("mrbar", col("smr").cast(DoubleType) /
        (col("n") - 1L).cast(DoubleType))
      .withColumn("ucl", col("xbar") + lit(2.66) * col("mrbar"))
      .withColumn("lcl", col("xbar") - lit(2.66) * col("mrbar"))
      .select(col("day"), col("cents"), col("xbar"), col("mrbar"),
        col("ucl"), col("lcl"),
        (col("cents").cast(DoubleType) > col("ucl") ||
          col("cents").cast(DoubleType) < col("lcl")).as("out_of_control"))
  }

  /** Wald–Wolfowitz runs test over the daily-total series — is the
    * sequence of above/below-median days RANDOM, or does it cluster
    * (momentum/regimes → fewer runs) or oscillate (negative
    * autocorrelation → more runs)? The randomness companion of
    * [[mannKendall]] (monotone drift) and seriesAcf (linear lag
    * correlation): a metric can be trend-free yet still regime-y, and
    * this is the classical test that sees it.
    *
    * All decisions on exact integers over the bounded day census:
    * the reference level is the LOWER MEDIAN by rank selection (the
    * theilSen order), median-equal days are dropped (the standard
    * convention), a run boundary is a sign change under the day
    * order, and (m, n1, n2, R) are exact BIGINTs. z uses the normal
    * approximation μ = 2n₁n₂/m + 1, σ² = 2n₁n₂(2n₁n₂−m)/(m²(m−1)) —
    * two divisions, one sqrt, one subtraction, written-down order.
    */
  def runsTest(events: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = events
      .select(expr("unix_micros(ts) div 86400000000L").as("day"),
        round(col("value") * 100).cast(LongType).as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    val wAll = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val med = daily
      .withColumn("rn", row_number().over(
        W.orderBy(col("cents"), col("day"))))
      .withColumn("nd", count(lit(1)).over(wAll))
      .where(col("rn") === expr("(nd + 1) div 2"))
      // rank selection yields exactly one row; the limit(1) is a
      // no-op DECLARING that bound in the plan (PlanChecks keys on
      // the GlobalLimit — a Filter over a Window is structurally
      // opaque)
      .limit(1)
      .select(col("cents").as("median_cents"))
      .withColumn("__jk", pmod(xxhash64(col("median_cents")), lit(1L)))
    val signed = daily
      .withColumn("__jk", pmod(xxhash64(col("cents")), lit(1L)))
      .join(broadcast(med), Seq("__jk"))
      .where(col("cents") =!= col("median_cents"))
      .select(col("day"),
        when(col("cents") > col("median_cents"), 1L).otherwise(-1L)
          .as("sg"))
    signed
      .withColumn("prev", lag(col("sg"), 1).over(W.orderBy(col("day"))))
      .agg(count(lit(1)).as("m"),
        sum(when(col("sg") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("sg") === -1L, 1L).otherwise(0L)).as("n2"),
        sum(when(col("prev").isNull || col("prev") =!= col("sg"), 1L)
          .otherwise(0L)).as("runs"))
      .withColumn("a", col("n1") * col("n2") * 2L)
      .where(col("n1") > 0L && col("n2") > 0L && col("m") > 1L)
      .select(col("m"), col("n1"), col("n2"), col("runs"),
        ((col("runs").cast(DoubleType) -
          (col("a").cast(DoubleType) / col("m").cast(DoubleType)
            + lit(1.0))) /
          sqrt((col("a") * (col("a") - col("m"))).cast(DoubleType) /
            (col("m") * col("m") * (col("m") - 1L)).cast(DoubleType)))
          .as("z"))
  }
}

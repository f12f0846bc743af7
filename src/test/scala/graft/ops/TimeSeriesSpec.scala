package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite
import graft.streaming.OhlcStream

class TimeSeriesSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def sampleEvents = {
    val s = spark
    import s.implicits._
    Seq(
      // hour 10: open is (10:00:00, id 2) — ts tie with id 5 broken by
      // id; close is (10:59:00, id 9)
      (ts("2024-03-01 10:00:00"), "click", 2L, 5.00),
      (ts("2024-03-01 10:00:00"), "click", 5L, 9.00),
      (ts("2024-03-01 10:30:00"), "click", 3L, 1.00),
      (ts("2024-03-01 10:59:00"), "click", 9L, 7.50),
      // hour 11, single event: open == close == high == low
      (ts("2024-03-01 11:05:00"), "click", 11L, 2.25),
      // separate type in hour 10
      (ts("2024-03-01 10:40:00"), "purchase", 7L, 100.00)
    ).toDF("ts", "event_type", "event_id", "value")
  }

  test("ohlcBars: open/close by (ts, event_id) order, high/low/volume") {
    val bars = TimeSeries.ohlcBars(sampleEvents)
      .orderBy("hour_start", "event_type").collect()
    assert(bars.length == 3)
    val click10 = bars(0)
    assert(click10.getAs[String]("event_type") == "click")
    assert(click10.getAs[Long]("open_cents") == 500L)   // id 2 wins tie
    assert(click10.getAs[Long]("high_cents") == 900L)
    assert(click10.getAs[Long]("low_cents") == 100L)
    assert(click10.getAs[Long]("close_cents") == 750L)
    assert(click10.getAs[Long]("n_events") == 4L)
    val purch10 = bars(1)
    assert(purch10.getAs[Long]("open_cents") == 10000L)
    assert(purch10.getAs[Long]("close_cents") == 10000L)
    val click11 = bars(2)
    assert(click11.getAs[Long]("open_cents") == 225L)
    assert(click11.getAs[Long]("close_cents") == 225L)
    assert(click11.getAs[Long]("n_events") == 1L)
  }

  test("ohlcBars is shuffle-order-insensitive (deterministic ties)") {
    val fwd = TimeSeries.ohlcBars(sampleEvents).collect().map(_.toSeq).toSet
    val rev = TimeSeries.ohlcBars(
      sampleEvents.orderBy(col("event_id").desc).repartition(7))
      .collect().map(_.toSeq).toSet
    assert(fwd == rev)
  }

  test("trendSlope: exact slope on linear data, zero-variance filtered") {
    val s = spark
    import s.implicits._
    // user 1: y = 200 cents/hour exactly; user 2: all in one hour
    val base = ts("2024-03-01 00:00:00")
    val rows = (0 until 5).map { h =>
      (Timestamp.valueOf(s"2024-03-01 0$h:00:00"), 1L, h.toLong,
        2.0 * h)
    } ++ Seq((base, 2L, 100L, 5.0), (base, 2L, 101L, 9.0))
    val ev = rows.toDF("ts", "user_id", "event_id", "value")
    val out = TimeSeries.trendSlope(ev, "user_id").collect()
    assert(out.length == 1) // user 2 has no x variance
    val r = out.head
    assert(r.getAs[Long]("user_id") == 1L)
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("slope_cph") == 200.0)
  }

  test("trendSlope is partitioning-insensitive (exact integer sums)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      (Timestamp.valueOf(f"2024-03-${1 + rnd.nextInt(20)}%02d " +
        f"${rnd.nextInt(24)}%02d:00:00"), (i % 7).toLong, i.toLong,
        rnd.nextInt(10000) / 100.0)
    }
    val ev = rows.toDF("ts", "user_id", "event_id", "value")
    val a = TimeSeries.trendSlope(ev, "user_id")
      .collect().map(_.toSeq).toSet
    val b = TimeSeries.trendSlope(ev.repartition(13), "user_id")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("twap: duration-weighted, last observation excluded") {
    val s = spark
    import s.implicits._
    // user 1: 1.00 held 1h, then 5.00 held 3h, then a final event
    // (no horizon — excluded). twap = (100*1 + 500*3)/4 = 400 cents.
    val ev = Seq(
      (ts("2024-03-01 00:00:00"), 1L, 1L, 1.00),
      (ts("2024-03-01 01:00:00"), 1L, 2L, 5.00),
      (ts("2024-03-01 04:00:00"), 1L, 3L, 99.99),
      // user 2: single event — no gap, filtered
      (ts("2024-03-01 00:00:00"), 2L, 4L, 3.00)
    ).toDF("ts", "user_id", "event_id", "value")
    val out = TimeSeries.twap(ev, "user_id").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("user_id") == 1L)
    assert(out.head.getAs[Long]("span_us") == 4L * 3600L * 1000000L)
    assert(out.head.getAs[Double]("twap_cents") == 400.0)
  }

  test("eventTransitions: counts from per-user timelines, rows sum " +
    "to 1 per source type") {
    val s = spark
    import s.implicits._
    // user 1: a→b→a ; user 2: a→b. Transitions: a→b ×2, b→a ×1.
    val ev = Seq(
      (ts("2024-03-01 00:00:00"), 1L, 1L, "a"),
      (ts("2024-03-01 01:00:00"), 1L, 2L, "b"),
      (ts("2024-03-01 02:00:00"), 1L, 3L, "a"),
      (ts("2024-03-01 00:00:00"), 2L, 4L, "a"),
      (ts("2024-03-01 05:00:00"), 2L, 5L, "b")
    ).toDF("ts", "user_id", "event_id", "event_type")
    val out = TimeSeries.eventTransitions(ev, "user_id").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(("a", "b") -> ((2L, 1.0)), ("b", "a") -> ((1L, 1.0))))
  }

  test("seriesSpearman: monotone nonlinear → rho 1, reversed → -1, " +
    "Pearson disagrees") {
    val s = spark
    import s.implicits._
    def mk(t: String, perHour: Seq[Int]): Seq[(Timestamp, Long, String)] =
      perHour.zipWithIndex.flatMap { case (n, h) =>
        (0 until n).map(i =>
          (ts(f"2024-03-01 0$h%d:${i % 60}%02d:${i / 60}%02d"),
            (h * 1000 + i).toLong, t))
      }
    // a linear, b monotone-but-convex, c strictly decreasing
    val ev = (mk("a", Seq(1, 2, 3, 4)) ++ mk("b", Seq(1, 2, 5, 90)) ++
      mk("c", Seq(9, 7, 4, 2)))
      .toDF("ts", "event_id", "event_type")
    val rho = TimeSeries.seriesSpearman(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(rho(("a", "b")) == 1.0)
    assert(rho(("a", "c")) == -1.0)
    assert(rho(("b", "c")) == -1.0)
    val pearson = TimeSeries.seriesCorr(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(pearson(("a", "b")) < 1.0, "outlier hour drags Pearson " +
      "below the rank correlation")
  }

  test("cusumChangepoint: level shift found at the cut, sign reports " +
    "the pre-cut side") {
    val s = spark
    import s.implicits._
    // type a: hourly counts (1,1,1,5,5,5) over hours 0..5 of
    // 2024-01-01. dev = c*6-18 → cusum (-12,-24,-36,-24,-12,0):
    // peak |−36| at hour 2 (the last low hour), sign −1.
    var id = 0L
    val rows = Seq(1, 1, 1, 5, 5, 5).zipWithIndex.flatMap {
      case (n, h) => (0 until n).map { _ =>
        id += 1
        (ts(f"2024-01-01 0$h%d:00:00"), id, "a")
      }
    }
    val out = TimeSeries.cusumChangepoint(
        rows.toDF("ts", "event_id", "event_type"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[java.sql.Timestamp]("cp_hour") ==
      ts("2024-01-01 02:00:00"))
    assert(r.getAs[Long]("peak_scaled") == 36L)
    assert(r.getAs[Long]("sign") == -1L)
    assert(r.getAs[Long]("n_hours") == 6L)
  }

  test("seriesAcf: alternating series — negative at lag 1, positive " +
    "at lag 2, exact rationals") {
    val s = spark
    import s.implicits._
    // type a hourly counts (1,5,1,5,1,5) over hours 0..5: n=6, T=18,
    // dev = 6c-18 = (-12,12)x3. den = 6*144 = 864.
    // lag1: 5 pairs of (-12*12) = -720 → r = -720/864
    // lag2: 4 pairs of (+144)    =  576 → r =  576/864
    var id = 0L
    val rows = Seq(1, 5, 1, 5, 1, 5).zipWithIndex.flatMap {
      case (n, h) => (0 until n).map { i =>
        id += 1
        (ts(f"2024-01-01 0$h%d:0$i%d:00"), id, "a")
      }
    }
    val ev = rows.toDF("ts", "event_id", "event_type")
    val out = TimeSeries.seriesAcf(ev, maxLag = 3).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((5L, -720.0 / 864.0)))
    assert(out(2L) == ((4L, 576.0 / 864.0)))
    assert(out(3L) == ((3L, -432.0 / 864.0)))
  }

  test("seriesAcf is partitioning-insensitive (decimal product sums)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      (Timestamp.valueOf(f"2024-02-${1 + rnd.nextInt(3)}%02d " +
        f"${rnd.nextInt(24)}%02d:00:00"), i.toLong,
        if (i % 3 == 0) "x" else "y")
    }
    val ev = rows.toDF("ts", "event_id", "event_type")
    val a = TimeSeries.seriesAcf(ev, maxLag = 6)
      .collect().map(_.toSeq).toSet
    val b = TimeSeries.seriesAcf(ev.repartition(13), maxLag = 6)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("seasonalProfile: hot hour-of-day indexes above 1, silent " +
    "hours weigh the denominator") {
    val s = spark
    import s.implicits._
    // two days; hod 0 gets 4 events on day one and 1 on day two,
    // every other hour exactly 1 event → n=48 hours, T=51.
    // hod0: (5*48)/(51*2) = 40/17; others: (2*48)/(51*2) = 16/17.
    var id = 0L
    val rows = (0 until 48).flatMap { h =>
      val n = if (h == 0) 4 else 1
      (0 until n).map { i =>
        id += 1
        (ts(f"2024-01-${1 + h / 24}%02d ${h % 24}%02d:0$i%d:00"),
          id, "a")
      }
    }
    val out = TimeSeries.seasonalProfile(
        rows.toDF("ts", "event_id", "event_type"))
      .collect()
      .map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.size == 24)
    assert(out(0L) == ((2L, 5L, 240.0 / 102.0)))
    assert(out(5L) == ((2L, 2L, 96.0 / 102.0)))
    assert(out(0L)._3 > 1.0 && out(5L)._3 < 1.0)
  }

  test("seasonalProfile: an hour before the 2024 grid origin folds " +
    "into the same 0..23 hour of day") {
    val s = spark
    import s.implicits._
    // the same clock hour on either side of 2024-01-01: h = -19 and 5.
    // Whole-hour timestamps: hoursSince2024 truncates toward zero, so
    // a mid-hour event before the origin lands one hour late (see
    // CHANGES.md) — that is a separate bucketing rule from the fold.
    val out = TimeSeries.seasonalProfile(Seq(
        (ts("2023-12-31 05:00:00"), 1L, "a"),
        (ts("2024-01-01 05:00:00"), 2L, "a"))
        .toDF("ts", "event_id", "event_type"))
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet.forall(h => h >= 0L && h < 24L), out.keySet)
    assert(out.size == 24)
    assert(out(5L) == ((2L, 2L)), "one row per clock hour")
  }

  test("forecastBacktest: periodic series — seasonal-naive wins " +
    "with zero error, scored hours are the paired tail") {
    val s = spark
    import s.implicits._
    // events only at hours 0 and 24 (2 each) → dense series over
    // h=0..24 is (2,0,...,0,2). Scorable hour: h=24 only.
    // seasonal pred = c[0] = 2 (err 0); naive pred = c[23] = 0 (err 2)
    val ev = Seq(
      (ts("2024-01-01 00:10:00"), 1L, "a"),
      (ts("2024-01-01 00:20:00"), 2L, "a"),
      (ts("2024-01-02 00:10:00"), 3L, "a"),
      (ts("2024-01-02 00:20:00"), 4L, "a"))
      .toDF("ts", "event_id", "event_type")
    val out = TimeSeries.forecastBacktest(ev).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_scored") == 1L)
    assert(r.getAs[Long]("sae_naive") == 2L)
    assert(r.getAs[Long]("sae_seasonal") == 0L)
    assert(r.getAs[Double]("mae_naive") == 2.0)
    assert(r.getAs[Double]("mae_seasonal") == 0.0)
    assert(r.getAs[Boolean]("seasonal_wins"))
  }

  test("ltvHorizons: cumulative spend inside each horizon, censored " +
    "users excluded from horizons their window cannot cover") {
    val s = spark
    import s.implicits._
    // u1 first day 0: 5.00 (d0) + 1.00 (d6) + 2.00 (d20) →
    //   s7 = 600, s14 = 600, s30 = 800
    // u2 first day 25: 3.00 — maxDay=25 so u2 covers no horizon and
    //   u1 covers 7 and 14 (25-0 >= 13) but not 30 (25 < 29)
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 1L, 5.00),
      (ts("2024-01-07 10:00:00"), 1L, 2L, 1.00),
      (ts("2024-01-21 10:00:00"), 1L, 3L, 2.00),
      (ts("2024-01-26 10:00:00"), 2L, 4L, 3.00)
    ).toDF("ts", "user_id", "event_id", "value")
    val out = Relational.ltvHorizons(ev).collect()
      .map(r => r.getAs[Long]("horizon") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("sum_cents"),
          r.getAs[Double]("avg_cents")))).toMap
    assert(out == Map(7L -> ((1L, 600L, 600.0)),
      14L -> ((1L, 600L, 600.0))))
  }

  test("decayScore: per-day halving in exact integers, horizon and " +
    "future events excluded") {
    val s = spark
    import s.implicits._
    // ref = 2024-01-31T00:00Z. Ages: 0d (Jan 30 12:00 → age 0 after
    // floor), 1d, 21d (beyond horizon), -1d (future)
    val ev = Seq(
      (ts("2024-01-30 12:00:00"), 1L, 1L, 1.00), // 2^-0 → 100
      (ts("2024-01-29 12:00:00"), 1L, 2L, 2.00), // 2^-1 → 100
      (ts("2024-01-09 12:00:00"), 1L, 3L, 99.0), // age 21 → dropped
      (ts("2024-02-01 12:00:00"), 1L, 4L, 99.0), // future → dropped
      (ts("2024-01-21 00:00:00"), 2L, 5L, 10.24) // age 10 → 1024/2^10=1
    ).toDF("ts", "user_id", "event_id", "value")
    val out = TimeSeries.decayScore(ev, "user_id", 1706659200L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 200.0, 2L -> 1.0))
  }

  test("seriesCorr: perfect correlation, anti-correlation, zero fill") {
    val s = spark
    import s.implicits._
    // hours 0..3: type a counts (1,2,3,4); type b identical → r = 1;
    // type c = (4,3,2,1) → r = -1 vs a and b. Counts are made by
    // repeating events within an hour.
    def mk(t: String, perHour: Seq[Int]): Seq[(Timestamp, Long, String)] =
      perHour.zipWithIndex.flatMap { case (n, h) =>
        (0 until n).map(i =>
          (ts(f"2024-03-01 0$h%d:0$i%d:00"), (h * 100 + i).toLong, t))
      }
    val ev = (mk("a", Seq(1, 2, 3, 4)) ++ mk("b", Seq(1, 2, 3, 4)) ++
      mk("c", Seq(4, 3, 2, 1)))
      .toDF("ts", "event_id", "event_type")
    val out = TimeSeries.seriesCorr(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("a", "b")) == ((4L, 1.0)))
    assert(out(("a", "c")) == ((4L, -1.0)))
    assert(out(("b", "c")) == ((4L, -1.0)))

    // zero-fill: type d active ONLY in hour 0 — its series over the
    // global range is (5,0,0,0); vs a=(1,2,3,4) brute-force r:
    val ev2 = (mk("a", Seq(1, 2, 3, 4)) ++ mk("d", Seq(5)))
      .toDF("ts", "event_id", "event_type")
    val x = Seq(1.0, 2.0, 3.0, 4.0); val y = Seq(5.0, 0.0, 0.0, 0.0)
    val n = 4
    val num = n * x.zip(y).map { case (p, q) => p * q }.sum -
      x.sum * y.sum
    val den = math.sqrt((n * x.map(p => p * p).sum - x.sum * x.sum) *
      (n * y.map(q => q * q).sum - y.sum * y.sum))
    val got = TimeSeries.seriesCorr(ev2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(math.abs(got(("a", "d")) - num / den) < 1e-12)
    assert(got(("a", "d")) < 0, "missing hours count as zero")
  }

  test("OhlcStream == batch ohlcBars (complete mode, RocksDB)") {
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sq = s.sqlContext
      val mem = MemoryStream[(Timestamp, String, Long, Double)]
      val streamDf = mem.toDF()
        .toDF("ts", "event_type", "event_id", "value")
      val q = OhlcStream.ohlcStream(streamDf, watermarkDelay = None)
        .writeStream.format("memory").queryName("ohlc_stream_out")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", tmpDir("ohlc_ckpt"))
        .start()
      try {
        val rows = sampleEvents.collect().map(r =>
          (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        // two batches so merge (not just one partial fold) is exercised
        mem.addData(rows.take(3).toSeq: _*)
        q.processAllAvailable()
        mem.addData(rows.drop(3).toSeq: _*)
        q.processAllAvailable()
        val got = s.table("ohlc_stream_out").collect().map(_.toSeq).toSet
        val want = TimeSeries.ohlcBars(sampleEvents)
          .collect().map(_.toSeq).toSet
        assert(got == want)
      } finally q.stop()
    }
  }

  test("trendSlope is streaming-legal as-is: algebraic OLS sums run " +
    "incrementally (complete mode, RocksDB)") {
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sq = s.sqlContext
      val rnd = new scala.util.Random(31)
      val rows = (0 until 300).map { i =>
        (Timestamp.valueOf(f"2024-04-${1 + rnd.nextInt(25)}%02d " +
          f"${rnd.nextInt(24)}%02d:00:00"), (i % 5).toLong, i.toLong,
          rnd.nextInt(20000) / 100.0)
      }
      val batchDf = rows.toDF("ts", "user_id", "event_id", "value")
      val mem = MemoryStream[(Timestamp, Long, Long, Double)]
      // the SAME operator, applied to a streaming frame — the whole
      // point of the exact-integer-sums formulation: OLS folds
      // incrementally, no window, no sort
      val q = TimeSeries.trendSlope(
          mem.toDF().toDF("ts", "user_id", "event_id", "value"),
          "user_id")
        .writeStream.format("memory").queryName("trend_stream_out")
        .outputMode("complete")
        .option("checkpointLocation", tmpDir("trend_ckpt"))
        .start()
      try {
        mem.addData(rows.take(120): _*)
        q.processAllAvailable()
        mem.addData(rows.drop(120): _*)
        q.processAllAvailable()
        val got = s.table("trend_stream_out").collect()
          .map(_.toSeq).toSet
        val want = TimeSeries.trendSlope(batchDf, "user_id")
          .collect().map(_.toSeq).toSet
        assert(got == want && got.nonEmpty)
      } finally q.stop()
    }
  }

  test("OhlcStream append mode: bars finalize once the watermark " +
    "passes the window end") {
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sq = s.sqlContext
      val mem = MemoryStream[(Timestamp, String, Long, Double)]
      val q = OhlcStream.ohlcStream(
          mem.toDF().toDF("ts", "event_type", "event_id", "value"),
          watermarkDelay = Some("10 minutes"))
        .writeStream.format("memory").queryName("ohlc_append_out")
        .outputMode("append")
        .option("checkpointLocation", tmpDir("ohlc_append_ckpt"))
        .start()
      try {
        mem.addData(
          (ts("2024-03-01 10:00:00"), "click", 1L, 5.00),
          (ts("2024-03-01 10:30:00"), "click", 2L, 9.00))
        q.processAllAvailable()
        assert(s.table("ohlc_append_out").count() == 0,
          "open bar must not emit")
        // watermark jumps past 11:10 → the hour-10 bar is final
        mem.addData((ts("2024-03-01 12:00:00"), "click", 3L, 1.00))
        q.processAllAvailable()
        mem.addData((ts("2024-03-01 14:00:00"), "click", 4L, 2.00))
        q.processAllAvailable()
        val rows = s.table("ohlc_append_out").collect()
          .map(r => (r.getTimestamp(0), r.getLong(2), r.getLong(5),
            r.getLong(6)))
        assert(rows.toSet.contains(
          (ts("2024-03-01 10:00:00"), 500L, 900L, 2L)),
          s"finalized hour-10 bar; got ${rows.mkString(",")}")
      } finally q.stop()
    }
  }

  test("interpolateGaps: linear fill between nearest observed slots, " +
      "no extrapolation past the edges") {
    val s = spark
    import s.implicits._
    // slot = hours since 2024-01-01 (slotUs = 1h for the test)
    // type a: observed slots 0 (mean 100.00) and 3 (mean 400.00)
    //   → gaps 1, 2 interpolate to 200.00, 300.00
    // type b: observed slot 1 only → gaps 0 and 2-3 are EDGES: no rows
    val ev = Seq(
      (ts("2024-01-01 00:10:00"), "a", 1L, 50.00),
      (ts("2024-01-01 00:20:00"), "a", 2L, 150.00), // mean 100.00
      (ts("2024-01-01 03:00:00"), "a", 3L, 400.00),
      (ts("2024-01-01 01:00:00"), "b", 4L, 77.00)
    ).toDF("ts", "event_type", "event_id", "value")
    val got = TimeSeries.interpolateGaps(ev, slotUs = 3600000000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val want = Set(
      ("a", 1L, 0L, 3L, (10000.0 * 2 + 40000.0 * 1) / 3 / 100 * 100),
      ("a", 2L, 0L, 3L, (10000.0 * 1 + 40000.0 * 2) / 3))
    // cents-scale check (v_interp is in cents)
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ==
      want.map(t => (t._1, t._2, t._3, t._4)))
    val byslot = got.map(t => (t._2, t._5)).toMap
    assert(math.abs(byslot(1L) - 20000.0) < 1e-9)
    assert(math.abs(byslot(2L) - 30000.0) < 1e-9)
    assert(!got.exists(_._1 == "b"), "edge slots never extrapolate")
  }

  test("theilSen: exact slope on linear days; one flash-sale outlier " +
      "day leaves the median slope untouched (OLS would move)") {
    val s = spark
    import s.implicits._
    // daily totals 200 cents/day exactly: days 1..5, one event each
    def day(d: Int) = Timestamp.valueOf(f"2024-01-0$d%01d 12:00:00")
    val lin = (1 to 5).map(d => (day(d), 2.0 * d))
      .toDF("ts", "value")
    val r = TimeSeries.theilSen(lin).head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 10L)
    assert(r.getDouble(2) == 200.0)
    // intercept: residuals all equal -> median is that constant
    val d1 = lin.select(org.apache.spark.sql.functions
      .expr("unix_micros(ts) div 86400000000L")).head().getLong(0)
    assert(r.getDouble(3) == 200.0 - 200.0 * d1.toDouble)
    // poison day 3 with a huge outlier: most pairwise slopes still
    // 200, the median stays exactly 200
    val out = ((1 to 5).map(d => (day(d), 2.0 * d)) :+
      (day(3), 100000.0)).toDF("ts", "value")
    assert(TimeSeries.theilSen(out).head().getDouble(2) == 200.0)
  }
}

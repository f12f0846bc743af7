package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The watermarked stream-stream join must emit exactly the batch
  * interval join's rows: matched pairs as both sides' state meets,
  * and (left_outer) the null-padded purchases only once the click
  * watermark proves no match can still arrive.
  */
class StreamStreamJoinSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  // (user, id, ts) — horizon for every test: 3600 s
  private val clicks = Seq(
    (1L, 101L, ts("2024-01-01 00:10:00")),
    (1L, 102L, ts("2024-01-01 00:50:00")),
    (2L, 201L, ts("2024-01-01 00:05:00")),
    // outside any purchase's horizon
    (3L, 301L, ts("2024-01-01 03:00:00"))
  )
  private val purchases = Seq(
    // matches clicks 101 + 102 (both within the trailing hour)
    (1L, 901L, ts("2024-01-01 01:00:00")),
    // boundary: exactly horizon after click 201 => inclusive match
    (2L, 902L, ts("2024-01-01 01:05:00")),
    // user with no click at all => left_outer null row
    (4L, 904L, ts("2024-01-01 00:30:00")),
    // user 3's click is AFTER this purchase => no match
    (3L, 903L, ts("2024-01-01 00:40:00"))
  )

  private def batchResult(joinType: String): Set[Seq[Any]] = {
    val s = spark
    import s.implicits._
    JoinStream.clickAttribution(
        clicks.toDF("user_id", "event_id", "ts"),
        purchases.toDF("user_id", "event_id", "ts"),
        horizonSeconds = 3600, joinType = joinType)
      .collect().map(_.toSeq).toSet
  }

  test("batch replay: inner is the interval join, left_outer pads") {
    val inner = batchResult("inner")
    assert(inner.map(r => (r(1), r(3))) ==
      Set((901L, 101L), (901L, 102L), (902L, 201L)))
    val outer = batchResult("left_outer")
    assert(outer.size == 5) // 3 matched + purchases 903/904 null-padded
    assert(outer.filter(_(3) == null).map(_(1)) == Set(903L, 904L))
  }

  private def runStream(joinType: String): Set[Seq[Any]] = {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val name = s"ssj_out_$joinType"
    val q = JoinStream.clickAttribution(
        cMem.toDF().toDF("user_id", "event_id", "ts"),
        pMem.toDF().toDF("user_id", "event_id", "ts"),
        // 2 h lateness tolerance: the feed below delivers click 201
        // AFTER purchases whose event time is past it — a 0 s
        // watermark would (correctly) drop it as late
        horizonSeconds = 3600, watermark = "2 hours",
        joinType = joinType)
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", tmpDir(s"ssj_ckpt_$joinType"))
      .start()
    try {
      // clicks arrive first, purchases in a LATER trigger — the click
      // side must wait in join state
      cMem.addData(clicks.take(2): _*)
      q.processAllAvailable()
      pMem.addData(purchases.take(1): _*)
      q.processAllAvailable()
      // rest interleaved the other way round: purchase before click
      pMem.addData(purchases.drop(1): _*)
      q.processAllAvailable()
      cMem.addData(clicks.drop(2): _*)
      q.processAllAvailable()
      // far-future rows on BOTH sides push both watermarks past every
      // horizon; the SECOND push forces the follow-up batch in which
      // the engine evicts state and emits left_outer's null rows
      cMem.addData((9L, 999L, ts("2024-01-03 00:00:00")))
      pMem.addData((9L, 998L, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
      cMem.addData((9L, 997L, ts("2024-01-04 00:00:00")))
      pMem.addData((9L, 996L, ts("2024-01-04 00:00:00")))
      q.processAllAvailable()
      spark.table(name).filter(col("user_id") =!= 9L)
        .collect().map(_.toSeq).toSet
    } finally q.stop()
  }

  test("stream == batch: inner pairs across interleaved triggers") {
    withRocksDB {
      assert(runStream("inner") == batchResult("inner"))
    }
  }

  test("the horizon edge is inclusive to the microsecond, stream == batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val h = 1800L
    val t0 = ts("2024-01-01 00:00:00")
    def after(micros: Long) = {
      val t = new Timestamp(t0.getTime + micros / 1000L)
      t.setNanos(((micros % 1000000L) * 1000L).toInt)
      t
    }
    val edgeClicks = Seq((1L, 11L, t0), (2L, 21L, t0))
    // user 1 buys exactly h after the click, user 2 one microsecond later
    val edgePurchases =
      Seq((1L, 91L, after(h * 1000000L)), (2L, 92L, after(h * 1000000L + 1)))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("user_id") =!= 9L).collect()
      .map(r => (r.getAs[Long]("purchase_id"),
        Option(r.getAs[java.lang.Long]("click_id")).map(_.longValue)))
      .toSet
    val want = Map(
      "inner" -> Set((91L, Some(11L))),
      "left_outer" -> Set((91L, Some(11L)), (92L, None)))
    for ((joinType, expected) <- want) withRocksDB {
      val batch = pairs(JoinStream.clickAttribution(
        edgeClicks.toDF("user_id", "event_id", "ts"),
        edgePurchases.toDF("user_id", "event_id", "ts"),
        horizonSeconds = h, joinType = joinType))
      assert(batch == expected, s"$joinType batch")
      val cMem = MemoryStream[(Long, Long, Timestamp)]
      val pMem = MemoryStream[(Long, Long, Timestamp)]
      val name = s"ssj_edge_$joinType"
      val q = JoinStream.clickAttribution(
          cMem.toDF().toDF("user_id", "event_id", "ts"),
          pMem.toDF().toDF("user_id", "event_id", "ts"),
          horizonSeconds = h, joinType = joinType)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tmpDir(s"ssj_edge_ckpt_$joinType"))
        .start()
      try {
        cMem.addData(edgeClicks: _*)
        pMem.addData(edgePurchases: _*)
        q.processAllAvailable()
        // two far-future pushes: the watermark passes every horizon,
        // then the follow-up batch emits left_outer's null row
        for (day <- Seq("2024-01-03", "2024-01-04")) {
          cMem.addData((9L, 999L, ts(s"$day 00:00:00")))
          pMem.addData((9L, 998L, ts(s"$day 00:00:00")))
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(pairs(spark.table(name)) == batch, s"$joinType stream")
    }
  }

  test("stream == batch: left_outer nulls flush on watermark") {
    withRocksDB {
      val got = runStream("left_outer")
      // the sentinel pair (user 9) matches itself; excluded above —
      // everything else must equal the batch interval left join
      assert(got == batchResult("left_outer"))
    }
  }
}

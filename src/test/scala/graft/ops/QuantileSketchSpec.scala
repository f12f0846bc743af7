package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.QSketchImpl

/** Sketch semantics the oracle row can't isolate: the bucket/lower
  * bound invariants, merge-by-addition associativity, and the
  * conservative quantile guarantee.
  */
class QuantileSketchSpec extends SparkSuite {

  test("bucket/lower invariants: lb <= c < 1.25*lb + 1, monotone, " +
      "round-trip at bucket starts") {
    val rnd = new scala.util.Random(5)
    val cs = (0L to 300L) ++
      Seq.fill(3000)(math.abs(rnd.nextLong()) % (1L << 61))
    cs.foreach { c =>
      val b = QSketchImpl.bucket(c)
      val lb = QSketchImpl.lower(b)
      assert(lb <= c, s"c=$c lb=$lb")
      if (c >= 4L)
        assert(c - lb < math.max(1L, lb / 4L) + lb % 4L + 1L &&
          (c - lb).toDouble / lb.toDouble < 0.25,
          s"c=$c b=$b lb=$lb")
      assert(QSketchImpl.bucket(lb) == b, s"round trip c=$c")
    }
    // monotone over a dense range
    (1L until 5000L).foreach { c =>
      assert(QSketchImpl.bucket(c + 1) >= QSketchImpl.bucket(c))
    }
  }

  test("merge is the same groupBy-sum: sketch(A union B) equals " +
      "sum-merge of sketch(A) and sketch(B); quantiles conservative") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(9)
    val a = Seq.fill(500)(("k", math.abs(rnd.nextLong()) % 100000L + 1))
    val b = Seq.fill(500)(("k", math.abs(rnd.nextLong()) % 1000L + 1))
    val skUnion = QuantileSketch.build((a ++ b).toDF("k", "c"),
        Seq("k"), col("c"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val merged = QuantileSketch.build(a.toDF("k", "c"), Seq("k"),
        col("c"))
      .union(QuantileSketch.build(b.toDF("k", "c"), Seq("k"), col("c")))
      .groupBy(col("k"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(skUnion == merged)
    // quantile guarantee on 1..1000: lb(q) <= exact q < 1.25*lb + eps
    val vals = (1L to 1000L).map(("k", _))
    val q = QuantileSketch.quantiles(
      QuantileSketch.build(vals.toDF("k", "c"), Seq("k"), col("c")),
      Seq("k")).head()
    assert(q.getLong(1) == 1000L)
    val (p50, p90, p99) = (q.getLong(2), q.getLong(3), q.getLong(4))
    assert(p50 <= 500L && 500L < (p50 * 5) / 4 + 4)
    assert(p90 <= 900L && 900L < (p90 * 5) / 4 + 4)
    assert(p99 <= 990L && 990L < (p99 * 5) / 4 + 4)
  }

  test("sketchStream: a day's shard finalizes once the watermark " +
      "passes it, equals the batch replay, and day shards sum to " +
      "the global sketch") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.TIMESTAMP,
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaDouble)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, Double)](enc, s)
    def e(t: String, tp: String, v: Double) =
      (Timestamp.valueOf(t), tp, v)
    val day1 = Seq(
      e("2026-01-01 01:00:00", "click", 1.00),
      e("2026-01-01 02:00:00", "click", 57.30),
      e("2026-01-01 03:00:00", "click", 57.90),
      e("2026-01-01 04:00:00", "view", 820.00))
    val sentinel = Seq(e("2026-01-03 12:00:00", "view", 5.00))
    val q = graft.streaming.SketchStream
      .sketchStream(input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("sketch_stream")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("skck"))
      .start()
    input.addData(day1)
    q.processAllAvailable()
    input.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    val got = s.table("sketch_stream").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val batchDay1 = graft.streaming.SketchStream
      .sketchStream(day1.toDF("ts", "event_type", "value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // exactly day 1 has finalized (the sentinel's day is still open)
    assert(got == batchDay1, s"stream $got != batch $batchDay1")
    assert(got.nonEmpty &&
      got.forall(_._1 == Timestamp.valueOf("2026-01-01 00:00:00")))
    // day shards merged by addition == the global one-shot sketch
    val all = (day1 ++ sentinel).toDF("ts", "event_type", "value")
    val merged = graft.streaming.SketchStream.sketchStream(all)
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val global = QuantileSketch.build(all, Seq("event_type"),
        round(col("value") * 100).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == global)
  }
}

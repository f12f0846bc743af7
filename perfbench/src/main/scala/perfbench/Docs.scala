package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.ops.TextOps
import graft.streaming.{KafkaRecord, SessionStream, StreamingPipelines}
import perfbench.Stats.M

/** docs_5stage: a closed loop over the composed stateful pipeline
  * (decode+DLQ -> quality filter -> lang-id -> SimHash near-dup ->
  * sessionize) on the RocksDB state store. Avro OCF containers of seeded
  * document texts are serialized during set-up; a MemoryStream feeds
  * one batch at a time, the next only after the previous completed.
  */
object Docs {
  val DocsPerContainer = 500
  val ContainersPerBatch = 10
  val PoolDocsPerSecond = 12000
  val WarmBatches = 5
  private val BaseUs = 1700000000000000L
  private val StrideUs = 37000000L // 64 users: a per-user gap > 1800 s

  val docStruct = StructType(Seq(
    StructField("doc_id", LongType), StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("text", StringType)))

  /** BenchStream's composed pipeline: one watermark node feeds both
    * stateful operators.
    */
  def pipeline(kafka: DataFrame): DataFrame = {
    val dec = StreamingPipelines.decodeWithDlq(kafka, docStruct)
      .where(col("decode_error").isNull)
      .select(col("doc_id"), col("user_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("text"))
    val clean = StreamingPipelines.corpusFilterStream(
      dec, "ts", "doc_id", "text", watermark = "2 hours")
    SessionStream.sessionStream(
      clean.select(col("ts"), col("user_id"), col("doc_id").as("event_id")),
      gapSeconds = 1800, watermark = "").toDF()
  }

  private def record(off: Long, docs: Seq[(Long, Long, Long, String)]) =
    KafkaRecord(key = null, value = Layers.ocfBytes(docs), topic = "docs",
      partition = 0, offset = off,
      timestamp = new Timestamp(docs.head._3 / 1000L), timestampType = 0)

  /** Pre-serialized batches: doc i is (i, user i mod 64, base + 37 s·i). */
  def batches(texts: Array[String]): IndexedSeq[Seq[KafkaRecord]] = {
    val perBatch = DocsPerContainer * ContainersPerBatch
    (0 until texts.length / perBatch).map { b =>
      (0 until ContainersPerBatch).map { c =>
        val first = b * perBatch + c * DocsPerContainer
        record((b * ContainersPerBatch + c).toLong,
          (first until first + DocsPerContainer).map(i =>
            (i.toLong, (i % 64).toLong, BaseUs + i * StrideUs, texts(i))))
      }
    }
  }

  type Out = (Long, Long, Long, Long)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val res = new Result("docs_5stage")
    val perBatch = DocsPerContainer * ContainersPerBatch
    val nDocs = ((ctx.seconds * PoolDocsPerSecond) / perBatch + 1) * perBatch
    val sunk = new ConcurrentLinkedQueue[Out]()

    def start(stream: MemoryStream[KafkaRecord], ck: String): StreamingQuery = {
      val sink = (ds: Dataset[Row], _: Long) => ds.collect().foreach { r =>
        sunk.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        ()
      }
      pipeline(stream.toDF()).writeStream.queryName("docs_5stage")
        .option("checkpointLocation", ck).foreachBatch(sink).start()
    }

    // set-up: texts, pre-serialization, query start and warm batches, so
    // the timed window starts with compiled code paths
    val s0 = System.nanoTime()
    val bs = batches(Gen.docTexts(ctx.seed, nDocs + WarmBatches * perBatch))
    val stream = MemoryStream[KafkaRecord]
    val q = start(stream, ctx.dir("ck"))
    bs.take(WarmBatches).foreach { b => stream.addData(b); q.processAllAvailable() }
    val setupS = (System.nanoTime() - s0) / 1e9

    val workloadId = ctx.tracer.newId()
    val batchSpans = new scala.collection.mutable.ArrayBuffer[Span]()
    val t0 = Clock.nowMs
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var fed = WarmBatches
    var failedBatches = 0
    val lat = new scala.collection.mutable.ArrayBuffer[Double]()
    while (System.nanoTime() < deadline && fed < bs.size) {
      val a = Clock.nowMs
      try { stream.addData(bs(fed)); q.processAllAvailable() }
      catch { case _: Exception => failedBatches += 1 }
      val b = Clock.nowMs
      lat += b - a
      batchSpans += Span(ctx.tracer.newId(), workloadId, s"batch:$fed",
        "batch", a, b)
      fed += 1
    }
    val t1 = Clock.nowMs
    val timedDocs = (fed - WarmBatches) * perBatch
    res.putEndToEnd(setupS, timedDocs / ((t1 - t0) / 1000.0), lat.toSeq)

    // two far-future markers (user 99) let the watermark close every
    // open session; the output must then equal the batch twin
    val markerTexts = Seq("marker1", "marker2").map { m =>
      val texts = Gen.docTexts(ctx.seed + 1, 200).map(_ + " " + m).toSeq
      texts.toDF("text").select(col("text"), GraftFunctions.linearScore(
          col("text"), TextOps.classifierWeights).as("s"))
        .where(col("s") > 0L).head().getString(0)
    }
    val lastUs = BaseUs + fed.toLong * perBatch * StrideUs
    val markers = markerTexts.zipWithIndex.map { case (t, i) =>
      record(1000000L + i, Seq((1000000000L + i, 99L,
        lastUs + (i + 1) * 86400000000L, t)))
    }
    val flushed = try {
      markers.foreach { m => stream.addData(m); q.processAllAvailable() }
      true
    } catch { case _: Exception => false }
    val progress = q.recentProgress.toSeq
    q.stop()
    ctx.tracer.add(Span(workloadId, 0, "docs_5stage", "workload", t0, t1))
    batchSpans.foreach(ctx.tracer.add)

    val all = (bs.take(fed).flatten ++ markers).toDS().toDF()
    val want = pipeline(all).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 != 99L).sorted.toSeq
    val got = sunk.asScala.toSeq.filter(_._1 != 99L).sorted
    val missing = want.diff(got).size
    val extra = got.diff(want).size
    res.attempted = fed + markers.size + want.size
    res.failed = failedBatches + missing + extra + (if (flushed) 0 else 1)
    res.info ++= Seq("docs_timed" -> timedDocs, "batches_timed" -> (fed - WarmBatches),
      "docs_per_batch" -> perBatch, "sessions_checked" -> want.size,
      "sessions_missing" -> missing, "sessions_extra" -> extra)

    if (ctx.traced) {
      val spans = batchSpans.toSeq
      val timed = progress.filter { p =>
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        at >= t0 && at <= t1
      }
      Layers.triggers(ctx, timed, start =>
        spans.find(s => s.startMs <= start && start <= s.endMs)
          .map(_.id).getOrElse(workloadId), t0, res)
      res.layers("load.offered_rps") =
        M(timedDocs / ((t1 - t0) / 1000.0), "1/s")
      Layers.spark(ctx, j => j.startMs >= t0 && j.startMs <= t1,
        fed - WarmBatches,
        (t1 - t0) / 1000.0, res)
    }
    res
  }

  /** docs_5stage at local[1]: the single-thread baseline, a throughput
    * over a window of at most 10 s. Stops the caller's session; the next
    * `Main.session` call starts a new one.
    */
  def local1Baseline(base: Ctx): Result = {
    base.spark.stop()
    val s1 = Main.session(1, base.runDir)
    try run(base.copy(spark = s1, seconds = math.min(base.seconds, 10),
      runDir = base.dir("local1"), tracer = new Tracer(false),
      sparkStats = null))
    finally s1.stop()
  }
}

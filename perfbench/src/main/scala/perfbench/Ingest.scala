package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.engine.KafkaShape
import graft.streaming.{SlidingWordCountStream, StreamingPipelines}
import perfbench.Stats.M

/** ingest_wordcount: an open loop. One generator thread appends seeded
  * Kafka-shaped records to a graft-ocf store through the graft-ocf
  * writer on a fixed schedule, stamping each append's records with its
  * send time (CreateTime). One query reads the store with the default
  * trigger, runs the reference's 2 s-slide / 10-minute word count
  * (`StreamingPipelines.wordCountStream2s`) on the RocksDB state store
  * and keeps the largest emitted total per word in a foreachBatch sink.
  * The first `WarmS` seconds of the schedule are set-up: the same query
  * and store reach their steady state before the window opens.
  */
object Ingest {
  val RecordsPerSecond = 500
  val PeriodMs = 2000
  val WarmS = 8

  private final case class Append(k: Int, dueMs: Double, sendMs: Double,
                                  doneMs: Double, tsMs: Long, ok: Boolean)

  private def observed(p: StreamingQueryProgress): Option[Long] =
    Option(p.observedMetrics.get("perfbench_ingest"))
      .filter(r => !r.isNullAt(0)).map(_.getTimestamp(0).getTime)

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** One writer call: the records, all stamped `tsMs`, appended to the
    * store through the graft-ocf writer.
    */
  private def append(ctx: Ctx, store: String, recs: Seq[Gen.Rec],
                     firstOffset: Long, tsMs: Long, op: String): Boolean = {
    val ts = new Timestamp(tsMs)
    val rows = recs.zipWithIndex.map { case (r, j) =>
      Row(r.key, r.value, "words", r.partition, firstOffset + j, ts, 0)
    }
    val sc = ctx.spark.sparkContext
    sc.setLocalProperty(SparkStats.OpKey, op)
    try {
      ctx.spark.createDataFrame(rows.asJava, KafkaShape.schema)
        .write.format("graft-ocf").mode("append").save(store)
      true
    } catch { case _: Exception => false }
    finally sc.setLocalProperty(SparkStats.OpKey, null)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val perAppend = RecordsPerSecond * PeriodMs / 1000
    val warm = WarmS * 1000 / PeriodMs
    val nAppends = ctx.seconds * 1000 / PeriodMs
    val res = new Result("ingest_wordcount")
    val best = new ConcurrentHashMap[String, java.lang.Long]()

    // set-up: generate the records, start the query, then run the first
    // `warm` appends of the schedule; the window opens at the next one
    val s0 = Clock.nowMs
    val recs = Gen.ingestRecords(ctx.seed, perAppend * (warm + nAppends))
    val store = ctx.dir("store")
    val src = spark.readStream.format("graft-ocf").load(store)
      .observe("perfbench_ingest", max(col("timestamp")).as("max_ts"))
    val sink = (ds: Dataset[SlidingWordCountStream.SliceTotal], _: Long) =>
      ds.collect().foreach { t =>
        best.merge(t.word, t.cnt, (a, b) => math.max(a, b))
        ()
      }
    val q = StreamingPipelines.wordCountStream2s(src).writeStream
      .queryName("ingest_wordcount")
      .option("checkpointLocation", ctx.dir("ck"))
      .foreachBatch(sink).start()
    q.processAllAvailable()

    val expected = mutable.HashMap[String, Long]()
    recs.foreach { r =>
      new String(r.value, "UTF-8").split(" ").foreach { w =>
        expected(w) = expected.getOrElse(w, 0L) + 1L
      }
    }

    val appends = new java.util.concurrent.ConcurrentLinkedQueue[Append]()
    val workloadId = ctx.tracer.newId()
    val start = Clock.nowMs + 100.0
    val t0 = start + warm.toDouble * PeriodMs
    val gen = new Thread(() => {
      var lastTs = 0L
      (0 until warm + nAppends).foreach { k =>
        val due = start + k.toDouble * PeriodMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val send = Clock.nowMs
        val tsMs = math.max(lastTs + 1, send.toLong)
        lastTs = tsMs
        val ok = append(ctx, store,
          recs.slice(k * perAppend, (k + 1) * perAppend).toSeq,
          k.toLong * perAppend, tsMs, s"append:$k")
        val done = Clock.nowMs
        appends.add(Append(k, due, send, done, tsMs, ok))
        if (k >= warm) ctx.tracer.add(Span(ctx.tracer.newId(), workloadId,
          s"append:$k", "append", send, done))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val setupS = (t0 - s0) / 1000.0
    val drained = try { q.processAllAvailable(); true }
                  catch { case _: Exception => false }
    val all = appends.asScala.toSeq.sortBy(_.k)
    val lastTs = all.last.tsMs
    // the progress of the trigger that consumed the last append may be
    // published just after processAllAvailable returns
    val deadline = System.nanoTime() + 10000000000L
    while (drained && !q.recentProgress.exists(observed(_).exists(_ >= lastTs))
        && System.nanoTime() < deadline) Thread.sleep(20)
    val progress = q.recentProgress.toSeq
    q.stop()
    val wallEnd = Clock.nowMs
    ctx.tracer.add(Span(workloadId, 0, "ingest_wordcount", "workload", t0,
      wallEnd))

    // latency: due time of each timed append -> end of the first trigger
    // whose input reached the append's CreateTime
    val triggers = progress.filter(_.numInputRows > 0).map { p =>
      (p, startMs(p) + p.durationMs.get("triggerExecution").toDouble)
    }
    val as = all.filter(_.k >= warm)
    val latencies = as.filter(_.ok).flatMap { a =>
      triggers.find(t => observed(t._1).exists(_ >= a.tsMs))
        .map(_._2 - a.dueMs)
    }
    val lastEnd = triggers.map(_._2).foldLeft(t0)(math.max)
    res.putEndToEnd(setupS, as.size * perAppend / ((lastEnd - t0) / 1000.0),
      latencies)

    // correctness: the run is far shorter than the 10-minute window, so
    // each word's largest emitted total must equal its generated count
    val wrongWords = expected.count { case (w, n) =>
      Option(best.get(w)).map(_.longValue) != Some(n)
    } + best.keySet.asScala.count(w => !expected.contains(w))
    val dropped = progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    val unmeasured = as.count(_.ok) - latencies.size
    res.attempted = all.size + expected.size
    res.failed = all.count(!_.ok) + unmeasured + wrongWords +
      dropped + (if (drained) 0 else 1)
    res.info ++= Seq("appends" -> all.size, "warm_appends" -> warm,
      "records" -> recs.length, "words_checked" -> expected.size,
      "wrong_words" -> wrongWords, "rows_dropped_by_watermark" -> dropped,
      "offered_rps" -> RecordsPerSecond, "triggers" -> triggers.size)

    if (ctx.traced) {
      val timed = progress.filter(startMs(_) >= t0)
      Layers.triggers(ctx, timed, _ => workloadId, t0, res)
      val ap = as.map(a => a.doneMs - a.sendMs)
      res.layers("sources.append_ms") = M(Stats.median(ap), "ms")
      res.layers("load.generator_late_ms") =
        M(Stats.pct(as.map(a => a.sendMs - a.dueMs), 0.99), "ms")
      res.layers("load.offered_rps") = M(RecordsPerSecond.toDouble, "1/s")
      Layers.spark(ctx, _.startMs >= t0, as.size + timed.count(_.numInputRows > 0),
        (lastEnd - t0) / 1000.0, res)
    }
    res
  }
}

package perfbench

import scala.jdk.CollectionConverters._

import org.apache.avro.SchemaBuilder
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.engine.AvroOcf
import graft.functions.GraftFunctions
import graft.ops.TextOps
import perfbench.Stats.M

/** Per-layer metrics of a traced run. Every name in `All` is printed
  * for every workload; a layer a workload never reaches reads 0.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "sources.append_ms" -> "ms",
    "sources.latest_offset_ms" -> "ms",
    "sources.get_batch_ms" -> "ms",
    "sources.containers_opened" -> "count",
    "sources.records_decoded" -> "count",
    "sources.records_skipped" -> "count",
    "sources.decode_yield" -> "ratio",
    "sources.records_behind_latest" -> "count",
    "engine.serialize_us_per_doc" -> "us",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_update_ms" -> "ms",
    "streaming.state_removal_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes",
    "streaming.op1.state_commit_ms" -> "ms",
    "streaming.op1.state_update_ms" -> "ms",
    "streaming.op1.state_rows" -> "count",
    "streaming.op2.state_commit_ms" -> "ms",
    "streaming.op2.state_update_ms" -> "ms",
    "streaming.op2.state_rows" -> "count",
    "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.rows_per_trigger" -> "count",
    "streaming.jobs_per_trigger" -> "count",
    "functions.avro_ocf_explode_dlq_ns_per_doc" -> "ns",
    "functions.linear_score_ns_per_doc" -> "ns",
    "functions.lang_id_ns_per_doc" -> "ns",
    "functions.simhash64_ns_per_doc" -> "ns",
    "queries.build_ms" -> "ms",
    "plans.plan_ms" -> "ms",
    "queries.exec_ms" -> "ms",
    "queries.jobs" -> "count",
    "queries.eager_jobs" -> "count",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.task_skew" -> "ratio",
    "spark.task_overhead_ms" -> "ms",
    "spark.busy_frac" -> "ratio",
    "load.generator_late_ms" -> "ms",
    "load.offered_rps" -> "1/s",
    "baseline.local1_docs_per_s" -> "1/s",
    "self.workload_ms" -> "ms",
    "self.append_ms" -> "ms",
    "self.batch_ms" -> "ms",
    "self.trigger_ms" -> "ms",
    "self.phase_ms" -> "ms",
    "self.row_ms" -> "ms",
    "self.build_ms" -> "ms",
    "self.plan_ms" -> "ms",
    "self.exec_ms" -> "ms",
    "self.job_ms" -> "ms")

  /** Orders the layer metrics as in `All`, filling absent ones with 0. */
  def complete(r: Result): Unit = {
    val have = r.layers.clone()
    r.layers.clear()
    All.foreach { case (n, u) => r.layers(n) = have.getOrElse(n, M(0.0, u)) }
  }

  private val Phases = Seq("latestOffset" -> "latest_offset",
    "walCommit" -> "wal_commit", "getBatch" -> "get_batch",
    "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "commit_offsets")

  /** Trigger spans (with their `durationMs` phases laid end to end, in
    * the order the micro-batch runs them) and the streaming/sources
    * metrics of one query's progress.
    */
  def triggers(ctx: Ctx, progress: Seq[StreamingQueryProgress],
               parentOf: Double => Long, sinceMs: Double,
               res: Result): Unit = {
    org.apache.spark.BenchAccess.drainListeners(ctx.spark.sparkContext)
    val data = progress.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val t = ctx.tracer
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val op = s"trigger:${p.batchId}"
      val id = t.newId()
      t.add(Span(id, parentOf(start), op, "trigger", start,
        start + dur(p, "triggerExecution")))
      var at = start
      Phases.foreach { case (k, _) =>
        val d = dur(p, k)
        if (d > 0) t.add(Span(t.newId(), id, op, "phase", at, at + d))
        at += d
      }
    }
    def p50(f: StreamingQueryProgress => Double): Double =
      Stats.median(data.map(f))
    res.layers("streaming.trigger_ms") = M(p50(dur(_, "triggerExecution")), "ms")
    Phases.foreach { case (k, n) =>
      val layer = if (k == "latestOffset" || k == "getBatch") "sources"
                  else "streaming"
      res.layers(s"$layer.${n}_ms") = M(p50(dur(_, k)), "ms")
    }
    val ops = data.map(_.stateOperators.toSeq)
    def sumOps(f: org.apache.spark.sql.streaming.StateOperatorProgress =>
                 Double): Double = Stats.median(ops.map(_.map(f).sum))
    res.layers("streaming.state_commit_ms") = M(sumOps(_.commitTimeMs), "ms")
    res.layers("streaming.state_update_ms") = M(sumOps(_.allUpdatesTimeMs), "ms")
    res.layers("streaming.state_removal_ms") =
      M(sumOps(_.allRemovalsTimeMs), "ms")
    val last = data.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    res.layers("streaming.state_rows") =
      M(last.map(_.numRowsTotal).sum.toDouble, "count")
    res.layers("streaming.state_mem_bytes") =
      M(last.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    Seq(0, 1).foreach { i =>
      val ith = ops.flatMap(_.lift(i))
      res.layers(s"streaming.op${i + 1}.state_commit_ms") =
        M(Stats.median(ith.map(_.commitTimeMs.toDouble)), "ms")
      res.layers(s"streaming.op${i + 1}.state_update_ms") =
        M(Stats.median(ith.map(_.allUpdatesTimeMs.toDouble)), "ms")
      res.layers(s"streaming.op${i + 1}.state_rows") =
        M(last.lift(i).map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    }
    res.layers("streaming.rows_dropped_by_watermark") = M(
      progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark)
        .sum.toDouble, "count")
    res.layers("streaming.rows_per_trigger") =
      M(p50(_.numInputRows.toDouble), "count")
    val batchIds = progress.map(_.batchId).toSet
    def ours(j: SparkStats.Job) =
      j.startMs >= sinceMs && batchIds.contains(j.batchId)
    val jobs = ctx.sparkStats.jobs.values.asScala.count(ours)
    res.layers("streaming.jobs_per_trigger") =
      M(jobs.toDouble / math.max(1, progress.size), "count")
    res.layers("sources.records_behind_latest") = M(progress.flatMap { p =>
      p.sources.toSeq.flatMap(s => Option(s.metrics.get("recordsBehindLatest")))
        .map(_.toDouble)
    }.foldLeft(0.0)(math.max), "count")
    val s = ctx.sparkStats.summary(ours)
    res.layers("sources.containers_opened") = M(s.ocfOpened, "count")
    res.layers("sources.records_decoded") = M(s.ocfDecoded, "count")
    res.layers("sources.records_skipped") = M(s.ocfSkipped, "count")
    res.layers("sources.decode_yield") = M(
      if (s.ocfDecoded > 0) data.map(_.numInputRows).sum / s.ocfDecoded
      else 0.0, "ratio")
  }

  /** spark.* metrics over the jobs `keep` selects, per operation; and
    * the job spans, parented to the harness span their op names or to
    * the trigger phase they ran in.
    */
  def spark(ctx: Ctx, keep: SparkStats.Job => Boolean, ops: Int,
            wallS: Double, res: Result): Unit = {
    org.apache.spark.BenchAccess.drainListeners(ctx.spark.sparkContext)
    val s = ctx.sparkStats.summary(keep)
    val n = math.max(1, ops).toDouble
    res.layers("spark.task_cpu_ms") = M(s.cpuMs / n, "ms")
    res.layers("spark.gc_ms") = M(s.gcMs / n, "ms")
    res.layers("spark.shuffle_write_bytes") = M(s.shuffleWrite / n, "bytes")
    res.layers("spark.shuffle_read_bytes") = M(s.shuffleRead / n, "bytes")
    res.layers("spark.spill_bytes") = M(s.spill / n, "bytes")
    res.layers("spark.task_skew") = M(s.skewP90, "ratio")
    res.layers("spark.task_overhead_ms") = M(s.overheadMs / n, "ms")
    res.layers("spark.busy_frac") =
      M(s.taskMs / math.max(1e-9,
        wallS * 1000.0 * ctx.spark.sparkContext.defaultParallelism), "ratio")
    res.info("spark_ops") = ops

    val t = ctx.tracer
    val spans = t.all
    val byOp = spans.groupBy(_.op)
    ctx.sparkStats.jobs.values.asScala.filter(j => keep(j) && j.endMs > 0)
      .foreach { j =>
        val op = if (j.op.nonEmpty) j.op
                 else if (j.batchId >= 0) s"trigger:${j.batchId}" else ""
        val mid = (j.startMs + j.endMs) / 2.0
        val cands = byOp.getOrElse(op, Nil)
        val parent = cands.filter(c => c.startMs <= mid && mid <= c.endMs)
          .sortBy(_.durMs).headOption.orElse(cands.headOption)
          .map(_.id).getOrElse(0L)
        t.add(Span(t.newId(), parent, op, "job", j.startMs.toDouble,
          j.endMs.toDouble))
      }
  }

  /** Mean self time per span kind. */
  def selfTimes(t: Tracer, res: Result): Unit =
    t.selfTimes.foreach { case (kind, (n, total)) =>
      res.layers(s"self.${kind}_ms") = M(total / math.max(1, n), "ms")
    }

  val docSchema = SchemaBuilder.record("Doc").fields()
    .requiredLong("doc_id").requiredLong("user_id")
    .requiredLong("ts_us").requiredString("text").endRecord()

  def ocfBytes(docs: Seq[(Long, Long, Long, String)]): Array[Byte] =
    AvroOcf.serialize(docSchema, docs.iterator.map { d =>
      val r = new GenericData.Record(docSchema)
      r.put("doc_id", d._1); r.put("user_id", d._2)
      r.put("ts_us", d._3); r.put("text", d._4)
      r: GenericRecord
    })

  /** Each docs_5stage kernel alone over the same kind of input into a
    * noop sink, and the Avro OCF serializer alone; median of 3.
    */
  def probes(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val n = 20000
    val texts = Gen.docTexts(ctx.seed, n)
    val docs = texts.indices.map(i =>
      (i.toLong, (i % 64).toLong, 1700000000000000L + i * 37000000L, texts(i)))
    val ser = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val c = docs.grouped(500).map(ocfBytes).toVector
      ((System.nanoTime() - t0) / 1e3 / n, c)
    }
    res.layers("engine.serialize_us_per_doc") =
      M(Stats.median(ser.map(_._1)), "us")
    val containers = ser.head._2.toDF("value").cache()
    val textDf = texts.toSeq.toDF("text").cache()
    containers.count(); textDf.count()
    def time(df: org.apache.spark.sql.DataFrame): Double = Stats.median(
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble / n
      })
    res.layers("functions.avro_ocf_explode_dlq_ns_per_doc") = M(time(
      containers.select(GraftFunctions.avroOcfExplodeDlq(col("value"),
        Docs.docStruct))), "ns")
    res.layers("functions.linear_score_ns_per_doc") = M(time(
      textDf.select(GraftFunctions.linearScore(col("text"),
        TextOps.classifierWeights))), "ns")
    res.layers("functions.lang_id_ns_per_doc") =
      M(time(textDf.select(TextOps.langId(col("text")))), "ns")
    res.layers("functions.simhash64_ns_per_doc") =
      M(time(textDf.select(GraftFunctions.simhash64(col("text")))), "ns")
    containers.unpersist(); textDf.unpersist()
  }
}

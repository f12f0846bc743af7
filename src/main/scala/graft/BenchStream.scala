package graft

import java.nio.file.{Files, Paths}

import org.apache.avro.SchemaBuilder
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{KafkaShape, Tables}
import graft.streaming.{KafkaRecord, StreamingPipelines}

/** Streaming benchmark main (r12 VERDICT task 1): the reference is a
  * streaming engine (`PartitionedSimpleConsumerKafkaInputDStream
  * .scala:60-487`), so the rebuild needs RATE numbers, not just the
  * batch bench. Two measured surfaces:
  *
  *  A. The graft-ocf DSv2 `MicroBatchStream` draining a store of
  *     kafka-shaped records under admission control
  *     (`maxRecordsPerTrigger` / `maxBytesPerTrigger`) through the
  *     decode projection into a noop sink — the ingestion path's
  *     sustained rows/sec and per-trigger latency at several
  *     admission settings.
  *
  *  B. The composed 5-stage chaos topology (ChaosPipelineSpec's
  *     `pipeline`: OCF decode+DLQ → quality filter → lang-id →
  *     stateful near-dup suppression → stateful sessionization) fed
  *     from MemoryStream batches of real fixture document texts,
  *     RocksDB state store — end-to-end docs/sec and per-trigger
  *     latency of the full stateful pipeline.
  *
  * Emits ONE JSON line to stdout AND bench_stream.json (driver
  * contract shape; sbt buries stdout in [info] noise). Trigger stats
  * come from `query.recentProgress` (all runs are < 100 triggers);
  * empty tail triggers are excluded. Like Bench, numbers are only
  * comparable from idle windows — load averages are recorded in the
  * artifact so a contaminated window is detectable after the fact.
  */
/** MemoryStream feed records for the part-C probe twins (top-level so
  * their implicit product encoders resolve).
  */
private[graft] case class ProbeDoc(ts: java.sql.Timestamp, doc_id: Long,
                                   text: String)
private[graft] case class ProbeVec(ts: java.sql.Timestamp, vec_id: Long,
                                   embedding: Array[Float])
private[graft] case class ProbeCust(ts: java.sql.Timestamp,
                                    c_custkey: Long, c_name: String,
                                    c_nationkey: Int,
                                    c_mktsegment: String)
private[graft] case class ProbeReq(ts: java.sql.Timestamp, req_id: Long,
                                   terms: Seq[String])

object BenchStream {

  private def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1,
      math.ceil(p * sorted.length).toInt - 1).max(0))

  /** Drain stats of one streaming query run: (rows, wallSec,
    * triggerMs sorted, trigger count).
    */
  private case class RunStats(rows: Long, wallSec: Double,
                              trigMs: Seq[Double]) {
    def json(label: String): String = {
      val sorted = trigMs.sorted
      f"""{"label":"$label","rows":$rows,"wall_sec":$wallSec%.3f,""" +
        f""""rows_per_sec":${rows / math.max(wallSec, 1e-9)}%.0f,""" +
        f""""triggers":${trigMs.length},""" +
        f""""p50_trigger_ms":${pct(sorted, 0.5)}%.0f,""" +
        f""""p95_trigger_ms":${pct(sorted, 0.95)}%.0f}"""
    }
  }

  private def drain(q: StreamingQuery): RunStats = {
    val t0 = System.nanoTime()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    val rows = prog.map(_.numInputRows).sum
    val trig = prog.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
    q.stop()
    RunStats(rows, wall, trig.toSeq)
  }

  // ---- part A: graft-ocf store drain under admission control ---- //

  private def ocfDrain(spark: SparkSession, store: String,
                       tmp: String, label: String,
                       opts: Map[String, String]): RunStats = {
    val ck = s"$tmp/ck_$label"
    val reader = opts.foldLeft(
      spark.readStream.format("graft-ocf")) { case (r, (k, v)) =>
      r.option(k, v)
    }
    val q = KafkaShape.decodeUtf8(reader.load(store))
      .writeStream.format("noop")
      .option("checkpointLocation", ck)
      .start()
    drain(q)
  }

  // ---- part B: the 5-stage chaos topology on MemoryStream ------- //

  private val docSchema = SchemaBuilder.record("Doc").fields()
    .requiredLong("doc_id").requiredLong("user_id")
    .requiredLong("ts_us").requiredString("text").endRecord()

  private def ocfBytes(docs: Seq[(Long, Long, Long, String)])
      : Array[Byte] =
    graft.engine.AvroOcf.serialize(docSchema, docs.iterator.map { d =>
      val r = new GenericData.Record(docSchema)
      r.put("doc_id", d._1); r.put("user_id", d._2)
      r.put("ts_us", d._3); r.put("text", d._4)
      r: GenericRecord
    })

  private def chaosRun(spark: SparkSession, sfDir: String, tmp: String,
                       label: String, nDocs: Int, docsPerContainer: Int,
                       containersPerBatch: Int): (RunStats, Long) = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // real fixture texts, cycled; ~10% exact repeats keep the dedup
    // stage's state doing real suppression work
    val texts = Tables.documents(spark, sfDir)
      .select(col("text")).limit(5000).collect().map(_.getString(0))
    val baseUs = 1700000000000000L
    def doc(i: Int): (Long, Long, Long, String) = {
      val t = texts(i % texts.length)
      val text = if (i % 10 == 0) t else t + " tag" + (i / texts.length)
      // 37-second stride over 64 users → per-user gap 2368 s > the
      // 1800 s session gap: every event also CLOSES a session, so the
      // session operator emits continuously instead of hoarding state
      (i.toLong, (i % 64).toLong, baseUs + i.toLong * 37000000L, text)
    }
    // pre-serialize every container BEFORE the clock starts: the
    // bench measures the PIPELINE, not the single-threaded driver-side
    // feeder encoding Avro blobs
    val docsPerBatch = containersPerBatch * docsPerContainer
    val nBatches = (nDocs + docsPerBatch - 1) / docsPerBatch
    val batches: IndexedSeq[Seq[KafkaRecord]] =
      (0 until nBatches).map { b =>
        (0 until containersPerBatch).map { c =>
          val base = b * docsPerBatch + c * docsPerContainer
          val ds = (0 until docsPerContainer).map(j => doc(base + j))
          KafkaRecord(key = null, value = ocfBytes(ds),
            topic = "docs", partition = 0,
            offset = (b * containersPerBatch + c).toLong,
            timestamp = new java.sql.Timestamp(ds.head._3 / 1000L),
            timestampType = 0)
        }
      }
    val stream = MemoryStream[KafkaRecord]
    val q = StreamingPipelines.docPipeline(stream.toDF())
      .writeStream.format("noop")
      .option("checkpointLocation", s"$tmp/ck_chaos_$label")
      .start()
    val t0 = System.nanoTime()
    var fed = 0
    batches.foreach { batch =>
      stream.addData(batch)
      fed += batch.length * docsPerContainer
      q.processAllAvailable()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    val trig = prog.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
    q.stop()
    (RunStats(fed.toLong, wall, trig.toSeq), fed.toLong)
  }

  // ---- part C: stateful probe twins under a MemoryStream feed --- //
  //
  // r13 VERDICT task 7: the registry's probe twins (ann / setsim /
  // linkage / text / dedup / lm-score) are gated for CORRECTNESS via
  // batch replay, and their true-streaming semantics are spec-covered,
  // but none had a RATE number. Each run here feeds the real streaming
  // operator (static index prebuilt exactly as the matching registry
  // row builds it) from pre-materialized MemoryStream batches; the
  // clock starts after a warmup batch absorbs codegen + the static
  // side's first-trigger cache fill, so rows/sec measures the
  // steady-state probe pipeline, not setup.

  private val probeBaseTs = 1700000000000L

  private def ts(i: Int): java.sql.Timestamp =
    new java.sql.Timestamp(probeBaseTs + i.toLong * 1000L)

  private def mkBatches[T](n: Int, perBatch: Int)(f: Int => T)
      : IndexedSeq[Seq[T]] =
    (0 until (n + perBatch - 1) / perBatch).map { b =>
      (b * perBatch until math.min(n, (b + 1) * perBatch)).map(f)
    }

  private def probeRun[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, tmp: String, label: String,
      batches: IndexedSeq[Seq[T]],
      build: DataFrame => DataFrame): RunStats = {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[T]
    val q = build(stream.toDF())
      .writeStream.format("noop")
      .option("checkpointLocation", s"$tmp/ck_probe_$label")
      .start()
    stream.addData(batches.head)
    q.processAllAvailable()
    val warmTrigs = q.recentProgress.count(_.numInputRows > 0)
    val t0 = System.nanoTime()
    var fed = 0L
    batches.tail.foreach { b =>
      stream.addData(b)
      fed += b.length
      q.processAllAvailable()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.filter(_.numInputRows > 0)
      .drop(warmTrigs)
    val trig = prog.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
    q.stop()
    RunStats(fed, wall, trig.toSeq)
  }

  /** All six probe-twin rate runs; returns (label, stats) rows. */
  private def probeRuns(spark: SparkSession, sfDir: String,
                        tmp: String): Seq[(String, RunStats)] = {
    import spark.implicits._
    import graft.ops.{Dedup, SetSimJoin, Similarity}
    import graft.streaming.{AnnStream, DedupStream, LinkageStream,
      LmScoreStream, SetSimStream, TextIndexStream}

    // driver-side feed pools, cycled (the chaosRun discipline:
    // materialize BEFORE the clock)
    val docPool = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("text")).limit(10000).collect().map(_.getString(0))
    def docBatches(n: Int, per: Int, idBase: Long) =
      mkBatches(n, per)(i =>
        ProbeDoc(ts(i), idBase + i, docPool(i % docPool.length)))

    val corpusDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 =!= 0)

    // 1. banded-minhash dedup gate (derived plan05 — the honest
    //    signature cost the sf1 gate priced in)
    val dedupStats = {
      val index = Dedup.corpusBandIndex(corpusDocs, "doc_id", "text")
      val sets = DedupStream.corpusSets(corpusDocs, "doc_id", "text")
      probeRun(spark, tmp, "dedup", docBatches(12000, 500, 2000000000L),
        in => DedupStream.incrementalDedupStream(in, index, sets,
          "doc_id", "text", "ts", threshold = 0.5))
    }

    // 2. exact PPJoin prefix-index gate
    val setsimStats = {
      val idx = SetSimJoin.prefixIndex(corpusDocs, "doc_id", "text")
      probeRun(spark, tmp, "setsim", docBatches(12000, 500, 2100000000L),
        in => SetSimStream.exactProbeStream(in, idx, "doc_id", "text",
          "ts"))
    }

    // 3. IVF ANN serving probe
    val annStats = {
      val e = Tables.embeddings(spark, sfDir)
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val cts = Similarity.trainCentroids(corpus, "vec_id", "embedding",
        nCentroids = 32)
      val index = Similarity.ivfIndex(corpus, "vec_id", "embedding",
        cts, nAssign = 2)
      val vecPool = e.filter(col("vec_id") % 5 === 0)
        .select(col("embedding")).limit(10000).collect()
        .map(_.getSeq[Float](0).toArray)
      probeRun(spark, tmp, "ann",
        mkBatches(40000, 2000)(i =>
          ProbeVec(ts(i), 1000000000L + i,
            vecPool(i % vecPool.length))),
        in => AnnStream.ivfProbeStream(cts, index, in, "vec_id",
          "embedding", "ts", k = 5, nProbe = 8))
    }

    // 4. FastSS record-linkage probe against the master name index
    val linkageStats = {
      val c = Tables.customer(spark, sfDir)
      val index = LinkageStream.nameIndex(c, "c_custkey", "c_name",
        "c_nationkey", Seq("c_mktsegment"))
      val custPool = c.select(col("c_name"), col("c_nationkey"),
        col("c_mktsegment")).limit(10000).collect()
      probeRun(spark, tmp, "linkage",
        mkBatches(40000, 2000) { i =>
          val r = custPool(i % custPool.length)
          ProbeCust(ts(i), 3000000000L + i, r.getString(0),
            r.getInt(1), r.getString(2))
        },
        in => LinkageStream.probeStream(in, index, "c_custkey",
          "c_name", "c_nationkey", Seq("c_mktsegment"), "ts"))
    }

    // 5. BM25 search-as-a-stream against the persisted text index.
    //    Per-request probe cost is Σ df(term) — the posting rows the
    //    term join fans out — so the request MIX is the knob: the main
    //    run draws from a mid-frequency term band (df ∈ [64, 512], the
    //    selective queries a search tier actually serves); a second
    //    smaller run uses the corpus's hottest terms (df ≈ n_docs,
    //    every request touching most of the corpus) as the worst-case
    //    bound. Trial-measured at sf0.1: hot-term requests run ~20×
    //    slower per request than the selective band.
    val (textStats, textHotStats) = {
      val dir = s"$tmp/text_index_store"
      graft.sources.TextIndexStore.append(
        Tables.documents(spark, sfDir), "doc_id", "text", dir, 0L)
      val (posts, stats) = graft.sources.TextIndexStore.read(spark, dir)
      val srow = stats.agg(count(lit(1)).as("n"),
        sum(col("dl")).as("sl")).head()
      val hotSets = IndexedSeq(
        Seq("spark", "stream"), Seq("vector", "query"),
        Seq("spark", "query", "vector"), Seq("stream"))
      val pool = posts.groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df").between(64, 512))
        .orderBy(xxhash64(col("term")), col("term"))
        .limit(256).collect().map(_.getString(0))
      def mk(i: Int): Seq[String] =
        if (pool.length < 8) hotSets(i % hotSets.length)
        else {
          val n = pool.length
          Seq(pool(i % n), pool((i * 7 + 1) % n)) ++
            (if (i % 2 == 0) Seq(pool((i * 13 + 2) % n)) else Nil)
        }
      val sel = probeRun(spark, tmp, "text_bm25",
        mkBatches(20000, 1000)(i => ProbeReq(ts(i), i.toLong, mk(i))),
        in => TextIndexStream.bm25ProbeStream(posts, srow.getLong(0),
          srow.getLong(1), in, "ts", "req_id", "terms", k = 10))
      val hot = probeRun(spark, tmp, "text_bm25_hot",
        mkBatches(2200, 200)(i =>
          ProbeReq(ts(i), i.toLong, hotSets(i % hotSets.length))),
        in => TextIndexStream.bm25ProbeStream(posts, srow.getLong(0),
          srow.getLong(1), in, "ts", "req_id", "terms", k = 10))
      (sel, hot)
    }

    // 6. bigram-LM fixed-point scorer (model trained on the corpus
    //    side, the bigram_lm_stream registry split)
    val lmStats = {
      val model = LmScoreStream.trainModel(corpusDocs, "text")
      probeRun(spark, tmp, "lm_score",
        docBatches(20000, 1000, 2200000000L),
        in => LmScoreStream.scoreStream(in, model, "doc_id", "text",
          "ts"))
    }

    Seq("probe_dedup" -> dedupStats, "probe_setsim" -> setsimStats,
      "probe_ann" -> annStats, "probe_linkage" -> linkageStats,
      "probe_text_bm25" -> textStats,
      "probe_text_bm25_hot" -> textHotStats,
      "probe_lm_score" -> lmStats)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.session(cpus, "WARN")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    val osBean =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage

    val parts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "abc")
    val tmp = Files.createTempDirectory("graft_bench_stream")
      .toString
    // ---- A. build the store once (kafka-shaped sf events) -------- //
    val store = s"$tmp/store"
    val tSetup0 = System.nanoTime()
    val kafka = KafkaShape.fromEvents(Tables.events(spark, sfDir))
    kafka.write.format("graft-ocf").mode("overwrite").save(store)
    val nRows = spark.read.format("graft-ocf").load(store).count()
    val setupSec = (System.nanoTime() - tSetup0) / 1e9

    // warmup: one unthrottled drain absorbs classloading + codegen
    ocfDrain(spark, store, tmp, "warmup", Map.empty)

    val ocfRuns = if (!parts.contains("a")) Seq.empty else Seq(
      ("ocf_records_100k", Map("maxRecordsPerTrigger" -> "100000")),
      ("ocf_records_400k", Map("maxRecordsPerTrigger" -> "400000")),
      ("ocf_bytes_32m", Map("maxBytesPerTrigger" -> "33554432")),
      ("ocf_unbounded", Map.empty[String, String])
    ).map { case (label, opts) =>
      label -> ocfDrain(spark, store, tmp, label, opts)
    }

    // ---- B. composed stateful pipeline ---------------------------- //
    val chaosRuns = if (!parts.contains("b")) Seq.empty else {
      // default state partitioning (= shuffle.partitions = cpus)
      val (chaos, _) = chaosRun(spark, sfDir, tmp, "p" + cpus,
        nDocs = 400000, docsPerContainer = 500, containersPerBatch = 40)
      // the state-partition TUNING number: with O(100) hot state keys a
      // trigger pays (2 stateful ops x partitions) RocksDB commits —
      // fewer, fuller state partitions amortize that fixed cost. The
      // partition count is fixed at the checkpoint's first trigger, so
      // this is a per-pipeline deployment knob, not a runtime one.
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val (chaos8, _) = chaosRun(spark, sfDir, tmp, "p8",
        nDocs = 400000, docsPerContainer = 500, containersPerBatch = 40)
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      Seq("chaos_5stage" -> chaos, "chaos_5stage_p8" -> chaos8)
    }
    val fedDocs = if (chaosRuns.nonEmpty) 400000L else 0L

    // ---- C. stateful probe twins ---------------------------------- //
    val probeStats =
      if (parts.contains("c")) probeRuns(spark, sfDir, tmp)
      else Seq.empty

    val loadAfter = osBean.getSystemLoadAverage
    val runsJson = (ocfRuns ++ chaosRuns ++ probeStats)
      .map { case (l, r) => s""""$l":${r.json(l)}""" }
      .mkString("{", ",", "}")
    val line =
      f"""{"metric":"stream_bench","sf":"$sfDir","store_rows":$nRows,""" +
        f""""store_setup_sec":$setupSec%.1f,"chaos_docs":$fedDocs,""" +
        f""""load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,""" +
        f""""cpus":$cpus%s,"runs":$runsJson}"""
    println(line)
    Files.writeString(Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM_OUT",
        "bench_stream.json")), line + "\n")
    spark.stop()
  }
}

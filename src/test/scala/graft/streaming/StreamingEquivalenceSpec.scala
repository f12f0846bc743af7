package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{RocksDBStateStore, SparkSuite}
import graft.engine.KafkaShape
import graft.ops.StreamOps

/** SURVEY §5 streaming semantics: the streaming pipelines produce the
  * same rows as their batch twins over the same finite input, late data
  * is dropped at the watermark, and at-least-once replay dedups to
  * exactly-once output (reference semantics:
  * `…InputDStream.scala:310` store-before-persist ⇒ replay possible).
  */
class StreamingEquivalenceSpec extends SparkSuite with RocksDBStateStore {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def records(n: Int): Seq[KafkaRecord] =
    (0 until n).map { i =>
      KafkaRecord.ofEvent(
        userId = i % 17,
        props = s"alpha beta_${i % 5} gamma_${i % 3}",
        eventId = i.toLong,
        ts = new Timestamp(ts("2026-01-01 10:00:00").getTime + i * 7000L))
    }

  test("A1 streaming twin: windowed word count equals the batch result") {
    val s = spark
    import s.implicits._
    val data = records(400)

    val (input, kafkaStream) = KafkaShapedStream.memory(s)
    val q = StreamingPipelines
      .wordCountStream(kafkaStream, "10 minutes", Some("2 minutes"))
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("wc_ckpt"))
      .start()
    input.addData(data)
    q.processAllAvailable()
    q.stop()

    val batchKafka = s.createDataset(data).toDF()
    val expected = StreamOps.wordCountWindow(
      KafkaShape.decodeUtf8(batchKafka), "10 minutes", Some("2 minutes"))
      .orderBy("w_start", "word").collect().toSeq
    val got = s.table("wc_stream")
      .orderBy("w_start", "word").collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("A1 streaming twin at the TRUE 2-second slide: per-tick totals " +
    "equal the batch slice-aggregated form") {
    val s = spark
    import s.implicits._
    val data = records(200)
    val (input, kafkaStream) = KafkaShapedStream.memory(s)
    val q = StreamingPipelines.wordCountStream2s(kafkaStream)
      .writeStream.format("memory").queryName("wc2s_stream")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("wc2s_ckpt"))
      .start()
    // in-order feed, a few microbatches (the operator's contract)
    data.grouped(80).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val got = s.table("wc2s_stream")
      .groupBy("word", "sliceTsUs").agg(max("cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val expected = StreamOps.wordCountSlidingSlices(
      KafkaShape.decodeUtf8(s.createDataset(data).toDF()))
      .select(col("word"), unix_micros(col("slice_ts")), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("watermark drops late data in append mode") {
    val s = spark
    val (input, kafkaStream) = KafkaShapedStream.memory(s)
    val q = StreamingPipelines
      .wordCountStream(kafkaStream, "10 minutes", slide = None,
        watermark = "1 minute")
      .writeStream.format("memory").queryName("wc_late")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("late_ckpt"))
      .start()

    def rec(id: Long, t: String, word: String) =
      KafkaRecord.ofEvent(1L, word, id, ts(t))

    // on-time rows in the [10:00, 10:10) window
    input.addData(Seq(
      rec(0, "2026-01-01 10:00:30", "ontime"),
      rec(1, "2026-01-01 10:05:00", "ontime")))
    q.processAllAvailable()
    // advance event time far past the window + watermark → closes it
    input.addData(Seq(rec(2, "2026-01-01 11:00:00", "later")))
    q.processAllAvailable()
    // late row for the already-closed window: must be dropped
    input.addData(Seq(rec(3, "2026-01-01 10:01:00", "ontime")))
    q.processAllAvailable()
    // close the 11:00 window too so its row is emitted
    input.addData(Seq(rec(4, "2026-01-01 12:00:00", "done")))
    q.processAllAvailable()
    q.stop()

    val rows = s.table("wc_late").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(rows.contains(("2026-01-01 10:00:00.0", "ontime", 2L)),
      s"expected the on-time count of 2 (late row dropped); got $rows")
    assert(!rows.exists { case (w, word, c) =>
      w.startsWith("2026-01-01 10:00") && word == "ontime" && c != 2L },
      s"late row leaked into a closed window: $rows")
  }

  test("update mode emits refined counts for the same window") {
    val s = spark
    val (input, kafkaStream) = KafkaShapedStream.memory(s)
    val q = StreamingPipelines
      .wordCountStream(kafkaStream, "10 minutes", slide = None)
      .writeStream.format("memory").queryName("wc_update")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("upd_ckpt"))
      .start()
    def rec(id: Long, word: String) =
      KafkaRecord.ofEvent(1L, word, id, ts("2026-01-01 10:01:00"))
    input.addData(Seq(rec(0, "w"), rec(1, "w")))
    q.processAllAvailable()
    input.addData(Seq(rec(2, "w")))
    q.processAllAvailable()
    q.stop()
    // update mode re-emits the refined row per batch: 2 then 3
    val counts = s.table("wc_update").collect()
      .map(r => r.getLong(2)).sorted.toSeq
    assert(counts == Seq(2L, 3L), s"got $counts")
  }

  test("N6 streaming twin: session_window equals the batch result") {
    val s = spark
    import s.implicits._
    // events with deliberate gaps: user 1 has two sessions, user 2 one
    def e(user: Long, t: String, id: Long) =
      (user, Timestamp.valueOf(t), id)
    val data = Seq(
      e(1, "2026-01-01 10:00:00", 1), e(1, "2026-01-01 10:10:00", 2),
      e(1, "2026-01-01 12:00:00", 3), // > 30 min gap → new session
      e(2, "2026-01-01 10:05:00", 4), e(2, "2026-01-01 10:20:00", 5))

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.TIMESTAMP,
          org.apache.spark.sql.Encoders.scalaLong), s)
    val stream = graft.ops.Sessionize.sessionWindow(
      input.toDF().toDF("user_id", "ts", "event_id")
        .withWatermark("ts", "1 minute"))
    val q = stream.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("sess_ckpt"))
      .start()
    input.addData(data)
    q.processAllAvailable()
    // advance watermark far enough to close and emit every session
    input.addData(Seq(e(99, "2026-01-02 00:00:00", 100)))
    q.processAllAvailable()
    q.stop()

    val batch = graft.ops.Sessionize.sessionWindow(
      (data :+ e(99, "2026-01-02 00:00:00", 100))
        .toDF("user_id", "ts", "event_id"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    val got = s.table("sess_stream").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // the last sentinel session may still be open in the stream —
    // compare on the closed sessions
    val closed = batch.filter(_._1 != 99L)
    assert(closed.subsetOf(got) || closed == got.filter(_._1 != 99L),
      s"stream sessions $got != batch $closed")
    assert(got.filter(_._1 != 99L) == closed)
  }

  test("stream-stream attribution join matches within the window only") {
    val s = spark
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.TIMESTAMP,
      org.apache.spark.sql.Encoders.scalaLong)
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long)](enc, s)
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long)](enc, s)
    val joined = JoinStream.clickAttribution(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id"),
      horizonSeconds = 1800)
    val q = joined.writeStream.format("memory").queryName("attr")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("attr_ckpt"))
      .start()
    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    clicks.addData(Seq((1L, t(0), 100L), (2L, t(0), 101L)))
    purchases.addData(Seq(
      (1L, t(10), 200L),  // within 30 min of click 100 → match
      (2L, t(45), 201L),  // 45 min after click 101 → no match
      (3L, t(5), 202L)))  // no click at all → no match
    q.processAllAvailable()
    q.stop()
    val got = s.table("attr").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("purchase_id"))).toSet
    assert(got == Set((1L, 100L, 200L)), s"got $got")
  }

  test("attribution join: stream result equals the batch result") {
    val s = spark
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.TIMESTAMP,
      org.apache.spark.sql.Encoders.scalaLong)
    // deterministic synthetic event set: 60 users, clicks + purchases
    // scattered over 2 hours so windows both hit and miss
    val base = ts("2026-01-01 10:00:00").getTime
    val clicksData = (0 until 300).map(i =>
      (i % 60L, new Timestamp(base + i * 13000L), 1000L + i))
    val purchasesData = (0 until 200).map(i =>
      (i % 60L, new Timestamp(base + 600000L + i * 29000L), 5000L + i))

    val cIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long)](enc, s)
    val pIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long)](enc, s)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
      .toSet
    val q = JoinStream.clickAttribution(
        cIn.toDF().toDF("user_id", "ts", "event_id"),
        pIn.toDF().toDF("user_id", "ts", "event_id"),
        horizonSeconds = 1800)
      .writeStream.format("memory").queryName("attr_eq")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("attr_eq_ckpt"))
      .start()
    cIn.addData(clicksData)
    pIn.addData(purchasesData)
    q.processAllAvailable()
    q.stop()

    import s.implicits._
    val batch = pairs(JoinStream.clickAttribution(
        clicksData.toDF("user_id", "ts", "event_id"),
        purchasesData.toDF("user_id", "ts", "event_id"),
        horizonSeconds = 1800))
    val stream = pairs(s.table("attr_eq"))
    assert(batch.nonEmpty, "fixture must produce matches")
    assert(stream == batch,
      s"missing=${(batch -- stream).take(5)} extra=${(stream -- batch).take(5)}")
  }

  test("S1 multi-topic: a two-topic union stream equals the batch stats") {
    // the reference consumes a SET of topics in one stream (reference
    // `README.md:6-11`, ZK walk `KafkaUtils.scala:94-116`); twin: two
    // MemoryStream topics unioned, grouped per topic. (countDistinct
    // is not a streaming aggregate, so the stream side checks the
    // per-topic record count + head offset; partition counting stays
    // in the batch topicStats/multi_topic oracle.)
    val s = spark
    import s.implicits._
    def rec(topic: String, userId: Long, id: Long) =
      KafkaRecord.ofEvent(userId, s"p$id", id,
        new Timestamp(ts("2026-01-01 10:00:00").getTime + id * 1000L),
        topic = topic)
    val clicks = (0 until 60).map(i => rec("events_click", i % 5L, i.toLong))
    val buys =
      (0 until 40).map(i => rec("events_purchase", i % 3L, 100L + i))

    val (in1, st1) = KafkaShapedStream.memory(s)
    val (in2, st2) = KafkaShapedStream.memory(s)
    val q = st1.union(st2).groupBy(col("topic"))
      .agg(count(lit(1)).as("n_records"), max(col("offset")).as("head_offset"))
      .writeStream.format("memory").queryName("multi_topic_stream")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("mt_ckpt"))
      .start()
    in1.addData(clicks)
    in2.addData(buys)
    q.processAllAvailable()
    q.stop()

    val batch = StreamOps.topicStats(s.createDataset(clicks ++ buys).toDF())
      .select("topic", "n_records", "head_offset").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = s.table("multi_topic_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch, s"stream $got != batch $batch")
    assert(got.map(_._1) == Set("events_click", "events_purchase"))
  }

  test("S2 forConfig: two consumers split the partitions disjointly") {
    // createStreamPartition's twin: each consumer instance reads only
    // the partitions its (consumerId, consumersCount) shard owns
    val s = spark
    val data = records(200)
    val got = (0 until 2).map { id =>
      val (input, df) = KafkaShapedStream.forConfig(s,
        KafkaShape.StreamConfig(consumerId = id, consumersCount = 2))
      val name = s"consumer_$id"
      val q = df.select(col("partition"), col("offset"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tmpDir(s"${name}_ckpt"))
        .start()
      input.addData(data)
      q.processAllAvailable()
      q.stop()
      id -> s.table(name).collect()
        .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
        .toSet
    }.toMap
    val all = data.map(r => (r.partition, r.offset)).toSet
    assert(got(0).nonEmpty && got(1).nonEmpty)
    assert((got(0) intersect got(1)).isEmpty, "consumers overlap")
    assert((got(0) ++ got(1)) == all, "the union must equal the input")
    got.foreach { case (id, rows) =>
      assert(rows.forall(_._1 % 2 == id),
        s"consumer $id read a partition it does not own")
    }
  }

  test("corpus annotators run unchanged on a stream (pure-map proof)") {
    // repetitionStats and quality are per-row expressions with no
    // window/sort/global state, so the SAME operator code must accept
    // an unbounded source and emit rows identical to the batch run —
    // the property that lets the corpus-cleanup annotate stage run as
    // a continuous ingest pipeline instead of a nightly batch.
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta gamma"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "spam spam spam spam"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(Long, String)]
    val streamed = graft.ops.CorpusOps.repetitionStats(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("rep_stream")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("rep_ckpt"))
      .start()
    input.addData(docs)
    streamed.processAllAvailable()
    streamed.stop()
    val expected = graft.ops.CorpusOps.repetitionStats(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val got = s.table("rep_stream").orderBy("doc_id").collect().toSeq
    assert(got == expected)
    assert(got.size == 3)
  }

  test("streaming corpus filter: classify -> langid -> dedup, " +
    "stream == batch") {
    val s = spark
    import s.implicits._
    val t0 = ts("2026-01-01 10:00:00")
    def at(sec: Int) = new Timestamp(t0.getTime + sec * 1000L)
    // varied texts: some re-posts (dedup), classifier-mixed scores
    // (filter), marker words (langid) — all three stages must act
    val docs = (0 until 24).map { i =>
      val body = i % 4 match {
        case 0 => "the quick brown fox and the lazy dog"   // en markers
        case 1 => s"el rapido zorro marron numero_$i y la y"
        case 2 => "viral template body reposted everywhere" // duplicate
        case 3 => s"payload_$i assorted words scan merge sort table"
      }
      (i.toLong, body, at(i))
    }
    val batch = StreamingPipelines.corpusFilterStream(
        docs.toDF("doc_id", "text", "ts"), "ts", "doc_id", "text")
      .select("doc_id", "score", "lang_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // the fixture must exercise every stage (deterministic weights)
    val rawScores = graft.ops.TextOps.classifyScore(
        docs.toDF("doc_id", "text", "ts"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rawScores.values.exists(_ <= 0L),
      "fixture must include classifier-dropped docs")
    assert(batch.nonEmpty && batch.size < rawScores.count(_._2 > 0L),
      "dedup must suppress at least one surviving re-post")
    assert(batch.exists(_._3 == "en") && batch.exists(_._3 == "es"))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(Long, String, Timestamp)]
    val q = StreamingPipelines.corpusFilterStream(
        input.toDF().toDF("doc_id", "text", "ts"), "ts", "doc_id", "text")
      .writeStream.format("memory").queryName("corpus_filter_stream")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("cf_ckpt"))
      .start()
    input.addData(docs)
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("corpus_filter_stream")
      .select("doc_id", "score", "lang_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // same survivor count and identical rows up to the dedup pick;
    // scores/langs of survivors must match the batch twin's exactly
    // for the docs both kept (the streaming dedup pick is
    // arrival-order, batch is earliest-(ts,id) — same size, possibly
    // different representative within a duplicate set)
    assert(streamed.size == batch.size,
      s"stream kept ${streamed.size}, batch kept ${batch.size}")
    val batchById = batch.map(t => t._1 -> ((t._2, t._3))).toMap
    val common = streamed.filter(t => batchById.contains(t._1))
    assert(common.forall(t => batchById(t._1) == ((t._2, t._3))))
    // single-partition single-batch arrival: MemoryStream delivered in
    // order, so the earliest doc per signature wins on both paths
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("in-flight decontamination drops exactly the eval-contaminated " +
    "docs before dedup state, stream == batch") {
    val s = spark
    import s.implicits._
    val t0 = ts("2026-01-01 10:00:00")
    def at(sec: Int) = new Timestamp(t0.getTime + sec * 1000L)
    // eval set: one fixed phrase; two corpus docs contain its 3-gram
    // built directly over the eval phrase's shingle hashes (the
    // CorpusOps.evalGramBloom artifact shape, minus its content-hash
    // split selection — the test controls the eval set explicitly)
    val evalDocs = Seq((100L, "secret benchmark answer key phrase"))
      .toDF("doc_id", "text")
    val bloom = graft.functions.GraftBloom.build(
      evalDocs.select(explode(
          graft.ops.TextOps.wordShingles(col("text"), 3)).as("g"))
        .select(xxhash64(col("g")).as("h")),
      "h", graft.functions.GraftBloom.sizeBits(8, 16), 6)
    val docs = Seq(
      (0L, "the quick brown fox and the lazy dog jumps the fence", at(0)),
      (1L, "contains the secret benchmark answer key phrase inline", at(1)),
      (2L, "plain sort merge scan table the quick brown words", at(2)),
      (3L, "another secret benchmark answer leak right here", at(3)))
      .toDF("doc_id", "text", "ts")
    val kept = StreamingPipelines.corpusFilterStream(
        docs, "ts", "doc_id", "text", evalBloom = Some(bloom))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptNoBloom = StreamingPipelines.corpusFilterStream(
        docs, "ts", "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1 and 3 share a 3-shingle with the eval phrase ("secret
    // benchmark answer") — they must be gone, and ONLY they
    assert((keptNoBloom -- kept) == Set(1L, 3L).intersect(keptNoBloom),
      s"kept=$kept keptNoBloom=$keptNoBloom")
    assert(!kept.contains(1L) && !kept.contains(3L))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(Long, String, Timestamp)]
    val q = StreamingPipelines.corpusFilterStream(
        input.toDF().toDF("doc_id", "text", "ts"), "ts", "doc_id",
        "text", evalBloom = Some(bloom))
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("decon_ckpt"))
      .start()
    input.addData(docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("decon_stream")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == kept, s"stream=$streamed batch=$kept")
  }

  test("streaming near-dup suppression: one survivor per signature, " +
    "stream == batch") {
    val s = spark
    import s.implicits._
    val t0 = ts("2026-01-01 10:00:00")
    def at(sec: Int) = new Timestamp(t0.getTime + sec * 1000L)
    val docs = Seq(
      (1L, "breaking news template body", at(0)),
      (2L, "breaking news template body", at(10)),   // re-post: same sig
      (3L, "a genuinely different document", at(20)),
      (4L, "breaking news template body", at(30)),   // re-post again
      (5L, "yet another distinct text here", at(40)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(Long, String, Timestamp)]
    val q = StreamingPipelines.nearDupSuppress(
      input.toDF().toDF("doc_id", "text", "ts"), "ts", "doc_id", "text")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("nd_ckpt"))
      .start()
    input.addData(docs)
    q.processAllAvailable()
    q.stop()
    val got = s.table("neardup_stream").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // one survivor per signature; ids 3 and 5 must survive, exactly
    // one of the three re-posts does
    assert(got.contains(3L) && got.contains(5L))
    assert(got.size === 3)
    // batch twin: same operator code; the batch keep is DETERMINISTIC
    // (earliest ts, then id) so the exact survivor set is assertable
    val batch = StreamingPipelines.nearDupSuppress(
      docs.toDF("doc_id", "text", "ts"), "ts", "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch === Set(1L, 3L, 5L))
  }

  test("operators tolerate empty inputs") {
    val s = spark
    import s.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Dedup.minhashPairs(emptyDocs, "doc_id", "text")
      .count() == 0)
    assert(graft.ops.Dedup.dedupCorpus(emptyDocs, "doc_id", "text")
      .count() == 0)
    assert(graft.ops.TextOps.termStats(emptyDocs, "doc_id", "text")
      .count() == 0)
    val emptyEvents = Seq.empty[(Long, Timestamp, Long)]
      .toDF("user_id", "ts", "event_id")
    assert(graft.ops.Sessionize.gapsAndIslands(emptyEvents).count() == 0)
  }

  test("S8: devMode drops records into the noop sink") {
    // the reference's devMode skips the store() push (reference
    // `…InputDStream.scala:108-116`); the rebuild twin is the noop sink
    val s = spark
    val (input, kafkaStream) = KafkaShapedStream.memory(s)
    val q = kafkaStream.writeStream.format("noop")
      .option("checkpointLocation", tmpDir("noop_ckpt")).start()
    input.addData(records(10))
    q.processAllAvailable()
    assert(q.lastProgress.numInputRows == 10)
    q.stop()
  }

  test("at-least-once replay dedups to exactly-once output") {
    val s = spark
    val (input, kafkaStream) = KafkaShapedStream.memory(s)
    val q = StreamingPipelines.exactlyOnceRecords(kafkaStream, "10 minutes")
      .select(col("partition"), col("offset"))
      .writeStream.format("memory").queryName("replay_dedup")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("dedup_ckpt"))
      .start()

    def batch(from: Int, until: Int): Seq[KafkaRecord] =
      (from until until).map { i =>
        KafkaRecord.ofEvent(3L, s"payload_$i", i.toLong,
          new Timestamp(ts("2026-01-01 10:00:00").getTime + i * 1000L))
      }
    // the reference's crash-between-store-and-persist replay: the
    // second fetch re-reads offsets 50..99
    input.addData(batch(0, 100))
    q.processAllAvailable()
    input.addData(batch(50, 150))
    q.processAllAvailable()
    q.stop()

    val out = s.table("replay_dedup").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(out.length == 150, s"expected exactly-once 150, got ${out.length}")
    assert(out.toSet.size == 150)
  }

  test("N4 streaming twin: windowed Misra-Gries candidates keep every " +
    "planted heavy token across micro-batches with O(capacity) state") {
    val s = spark
    def rec(id: Long, t: String, words: String) =
      KafkaRecord.ofEvent(1L, words, id, ts(t))
    // one window; heavy tokens arrive SPREAD over three micro-batches
    // so the sketch state must merge increments; 120 distinct rare
    // tokens dwarf the capacity of 16
    def feed(base: Int) =
      (0 until 40).map { i =>
        val rare = s"rare_${base}_$i"
        rec(base * 100L + i, "2026-01-01 10:01:00",
          s"alpha $rare alpha beta")
      }
    val (input, kafkaStream) = KafkaShapedStream.memory(s)
    val q = StreamingPipelines
      .heavyTokensStream(kafkaStream, "10 minutes", "1 minute",
        capacity = 16)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("hh_ckpt"))
      .start()
    input.addData(feed(0)); q.processAllAvailable()
    input.addData(feed(1)); q.processAllAvailable()
    input.addData(feed(2)); q.processAllAvailable()
    q.stop()

    val rows = s.table("hh_stream").collect()
    assert(rows.length == 1, s"one window expected: ${rows.toSeq}")
    val cand = rows.head.getSeq[String](1).toSet
    // N = 480 tokens; alpha=240, beta=120 are heavy at N/(16+1)≈28;
    // each rare_* appears once
    assert(Set("alpha", "beta").subsetOf(cand),
      s"heavy tokens lost across micro-batch merges: $cand")
    assert(cand.size <= 16, s"state exceeded capacity: ${cand.size}")
  }
}

package graft.streaming

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.avro.SchemaBuilder
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.engine.AvroOcf

/** Composed streaming chaos test (r12 VERDICT task 5): ONE pipeline
  * chaining decode → quality filter → lang-id → near-dup suppression
  * (stateful) → sessionization (stateful), killed at every
  * micro-batch boundary and restarted from the same checkpoint — plus
  * one restart with data queued while the query was down, and a
  * replayed-batch determinism check in the sink. The end-to-end
  * output must equal the batch twin run over ALL input in one pass
  * (the same operator code, batch branch).
  *
  * What each ingredient proves:
  *  - a poison avro container flows to the DLQ row and is filtered —
  *    the stream never dies on bad bytes, and the batch twin drops
  *    the same record;
  *  - a quality-rejected document never reaches dedup/session state
  *    (n_events discriminates if the filter silently vanished);
  *  - a same-text duplicate arriving TWO RESTARTS after its original
  *    is still suppressed — dedup state survived both restarts (the
  *    victim user's session length discriminates);
  *  - a replayed micro-batch after restart must reproduce its exact
  *    rows (the foreachBatch sink asserts batchId-level determinism —
  *    the idempotent-sink contract exactly-once delivery rests on).
  */
class ChaosPipelineSpec extends SparkSuite {

  private val docSchema = SchemaBuilder.record("Doc").fields()
    .requiredLong("doc_id").requiredLong("user_id")
    .requiredLong("ts_us").requiredString("text").endRecord()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def us(t: Timestamp): Long = t.getTime * 1000L

  private case class Doc(docId: Long, userId: Long, t: Timestamp,
                         text: String)

  private def ocfBytes(docs: Seq[Doc]): Array[Byte] =
    AvroOcf.serialize(docSchema, docs.iterator.map { d =>
      val r = new GenericData.Record(docSchema)
      r.put("doc_id", d.docId); r.put("user_id", d.userId)
      r.put("ts_us", us(d.t)); r.put("text", d.text)
      r: GenericRecord
    })

  private def rec(off: Long, value: Array[Byte], t: Timestamp) =
    KafkaRecord(key = null, value = value, topic = "docs",
      partition = 0, offset = off, timestamp = t, timestampType = 0)

  test("decode→filter→dedup→sessionize survives a restart at every " +
      "micro-batch boundary and equals the batch twin") {
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sq = s.sqlContext

      // pick kept/dropped texts THROUGH the classifier itself (the
      // weight table is hashed; hand-picking words would be fragile)
      val words = ("spark filter stream batch merge group column " +
        "order small sort fast value scan hash slow table query key " +
        "window join part vector line agg big the").split(" ").toSeq
      val scored = graft.ops.TextOps.classifyScore(
          words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
            .toDF("id", "text"), "id", "text")
        .join(words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toDF("id", "text"), "id")
        .select(col("text"), col("kept")).collect()
      val kept = scored.filter(_.getBoolean(1)).map(_.getString(0)).toSeq
      val dropped = scored.filterNot(_.getBoolean(1))
        .map(_.getString(0)).toSeq
      assert(kept.size >= 8, s"need >= 8 kept words, got $kept")
      assert(dropped.nonEmpty, s"need >= 1 dropped word")

      val dupText = kept.head // shared by docs 1 and 6 (cross-restart)
      val docs = Seq(
        // user 1: two sessions (00:00/00:10, then 01:30)
        Doc(1L, 1L, ts("2024-01-01 00:00:00"), dupText),
        Doc(2L, 1L, ts("2024-01-01 00:10:00"), kept(1)),
        Doc(3L, 1L, ts("2024-01-01 01:30:00"), kept(2)),
        // user 2: one session; doc 6 is a same-text dup of doc 1
        // arriving in wave 3 (two restarts later) — must be
        // suppressed by dedup state that survived both restarts,
        // else user 2's session illegitimately extends to 00:40
        Doc(4L, 2L, ts("2024-01-01 00:05:00"), kept(3)),
        Doc(5L, 2L, ts("2024-01-01 00:20:00"), kept(4)),
        Doc(6L, 2L, ts("2024-01-01 00:40:00"), dupText),
        // user 3: quality-rejected doc in the middle — n_events must
        // be 2, not 3, in the one session
        Doc(7L, 3L, ts("2024-01-01 00:00:00"), kept(5)),
        Doc(8L, 3L, ts("2024-01-01 00:15:00"), dropped.head),
        Doc(9L, 3L, ts("2024-01-01 00:25:00"), kept(6))
      )
      val markers = Seq(
        Doc(90L, 99L, ts("2024-01-02 12:00:00"), kept(7)),
        Doc(91L, 99L, ts("2024-01-03 12:00:00"),
          kept(if (kept.size > 8) 8 else 7) + " marker"))

      // waves: [docs 1,2,4 | poison + 5,7 | 6,8 | 3,9]; doc 6's dup
      // target (doc 1) is two restarts back
      val poison = rec(100L, Array[Byte](1, 2, 3, 4), docs.head.t)
      val waves: Seq[Seq[KafkaRecord]] = Seq(
        Seq(rec(0L, ocfBytes(Seq(docs(0), docs(1), docs(3))), docs(0).t)),
        Seq(poison, rec(1L, ocfBytes(Seq(docs(4), docs(6))), docs(4).t)),
        Seq(rec(2L, ocfBytes(Seq(docs(5), docs(7))), docs(5).t)),
        Seq(rec(3L, ocfBytes(Seq(docs(2), docs(8))), docs(2).t)))

      val ckpt = tmpDir("chaos_ckpt")
      val sunk = TrieMap.empty[Long, Set[Seq[Any]]]
      val mem = MemoryStream[KafkaRecord](KafkaRecord.encoder, s)
      def start() = StreamingPipelines.docPipeline(mem.toDF()).writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, bid: Long) =>
          val rows = df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
          sunk.get(bid).foreach { prev =>
            assert(prev == rows,
              s"replayed batch $bid diverged: $prev vs $rows")
          }
          sunk(bid) = rows
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()

      // kill + restart at every micro-batch boundary
      var q = start()
      try {
        waves.foreach { w =>
          mem.addData(w: _*)
          q.processAllAvailable()
          q.stop()
          q = start()
        }
        // one restart with data queued while the query was DOWN
        q.stop()
        mem.addData(rec(4L, ocfBytes(Seq(markers.head)), markers.head.t))
        q = start()
        q.processAllAvailable()
        // second far-future marker lets the watermark act on the first
        mem.addData(rec(5L, ocfBytes(Seq(markers(1))), markers(1).t))
        q.processAllAvailable()
      } finally q.stop()

      val got = sunk.values.flatten
        .filter(_.head.asInstanceOf[Long] != 99L).toSet

      // batch twin: all records in one pass through the SAME pipeline
      val allRecs = waves.flatten ++ Seq(
        rec(4L, ocfBytes(Seq(markers.head)), markers.head.t),
        rec(5L, ocfBytes(Seq(markers(1))), markers(1).t))
      val want = StreamingPipelines.docPipeline(allRecs.toDS().toDF())
        .where(col("user_id") =!= 99L)
        .collect().map(_.toSeq.toVector: Seq[Any]).toSet

      assert(got == want,
        s"stream != batch twin:\n stream $got\n batch  $want")
      // structure checks: the chaos ingredients actually fired
      val byUser = want.groupBy(_.head.asInstanceOf[Long])
      assert(byUser(1L).size == 2, "user 1 must close two sessions")
      assert(byUser(2L).size == 1 &&
        byUser(2L).head(3).asInstanceOf[Long] == 2L,
        "user 2's session must hold 2 events — the cross-restart dup " +
          "must be suppressed")
      assert(byUser(3L).size == 1 &&
        byUser(3L).head(3).asInstanceOf[Long] == 2L,
        "user 3's session must hold 2 events — the quality-rejected " +
          "doc must not count")
    }
  }
}

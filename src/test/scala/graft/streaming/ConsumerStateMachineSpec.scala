package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.streaming.ConsumerStateMachine.{FetchEvent, PartitionState, PartitionUpdate}

/** X2/X3: the per-partition state machine advances the at-least-once
  * cursor, tolerates replays, recovers from OffsetOutOfRange exactly
  * like the reference's fixOffsets, tracks leader loss and the
  * per-trigger delivery EWMA — both as a pure transition function and
  * end-to-end through the state store.
  */
class ConsumerStateMachineSpec extends SparkSuite {

  private val init = PartitionState(0L, 0, 0L, leaderValid = true)
  private def ev(off: Long, err: Int = 0, t: Long = 0) =
    FetchEvent("events", 0, off, err, t)

  test("transition function: cursor, replay, recovery, leader") {
    import ConsumerStateMachine.step
    // normal delivery advances to nextOffset
    assert(step(init, ev(0)) == PartitionState(1, 0, 1, true))
    // replayed offset counts processed, cursor never moves back
    val at5 = PartitionState(5, 0, 5, true)
    assert(step(at5, ev(2)) == PartitionState(5, 0, 6, true))
    assert(step(at5, ev(2)).generation == at5.generation)
    // OffsetOutOfRange: first broker offset above current...
    assert(step(at5, ev(9, err = 1)) == at5.copy(offset = 9, status = 1))
    // ...else 0 (A4 invariant, reference `:358-360`)
    assert(step(at5, ev(3, err = 1)) == at5.copy(offset = 0, status = 1))
    // leader loss invalidates; next healthy fetch restores
    val lost = step(at5, ev(0, err = 5))
    assert(!lost.leaderValid && lost.status == 5)
    assert(step(lost, ev(5)).leaderValid)
  }

  test("per-trigger cursor, processed and EWMA in RocksDB") (withRocksDB {
    val s = spark
    import s.implicits._
    val input = MemoryStream[FetchEvent](
      ConsumerStateMachine.feEnc, s)
    val q = ConsumerStateMachine(input.toDS())
      .writeStream.format("memory").queryName("csm_health")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("csm_health_ckpt"))
      .start()
    // trigger 1: two delivered records + one error on partition 0
    input.addData(ev(0), ev(1), ev(7, err = 5))
    q.processAllAvailable()
    // trigger 2: one delivered record, an old replay never rewinds
    input.addData(ev(2), ev(1))
    q.processAllAvailable()
    q.stop()
    val rows = s.table("csm_health").as[PartitionUpdate]
      .orderBy("generation").collect()
      .map(u => (u.generation, u.offset, u.processed, u.ewma))
    // gen 1: cursor 2, processed 2, ewma seeded at 2.0
    // gen 2: cursor 3, processed 4 (replay counts), ewma (2+2)/2
    assert(rows.toSeq == Seq((1L, 2L, 2L, 2.0), (2L, 3L, 4L, 2.0)),
      s"unexpected health evolution: ${rows.toSeq}")
  })

  test("streaming: state persists across microbatches per partition") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[FetchEvent](
      ConsumerStateMachine.feEnc, s)
    val q = ConsumerStateMachine(input.toDS())
      .writeStream.format("memory").queryName("csm")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("csm_ckpt"))
      .start()

    // batch 1: partitions 0 and 1 deliver offsets 0..9
    input.addData((0 until 10).flatMap(i => Seq(
      FetchEvent("events", 0, i, 0, i),
      FetchEvent("events", 1, i, 0, i))))
    q.processAllAvailable()
    // batch 2: partition 0 replays 5..9 then continues 10..14;
    // partition 1 hits OffsetOutOfRange with earliest available = 100
    input.addData(
      (5 until 15).map(i => FetchEvent("events", 0, i, 0, 100 + i)) :+
        FetchEvent("events", 1, 100, 1, 200))
    q.processAllAvailable()
    q.stop()

    val last = s.table("csm").as[PartitionUpdate].collect()
      .groupBy(_.partition).view
      .mapValues(us => us.maxBy(_.generation)).toMap

    // partition 0: cursor at 15, replays counted in processed (10+10)
    assert(last(0).offset == 15L && last(0).processed == 20L)
    assert(last(0).status == 0)
    // partition 1: recovered to broker's earliest-above (100)
    assert(last(1).offset == 100L && last(1).status == 1)
    assert(last(1).processed == 10L)
    // EWMA: partition 0 delivered 10 then 10, partition 1 10 then 0
    assert(last(0).ewma == 10.0 && last(1).ewma == 5.0)
  }
}

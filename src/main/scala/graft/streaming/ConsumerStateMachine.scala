package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** X2/X3 — the per-partition consumer state machine as a typed
  * stateful streaming operator.
  *
  * The reference keeps one mutable `ConsumerData(ts, status, leader,
  * consumerId, offset)` per topic-partition (reference
  * `PartitionedSimpleConsumerKafkaInputDStream.scala:22-26`), advanced
  * by the fetch executor (`doFetch` `:287-322`: offset cursor `:304`)
  * and repaired by the error-state machine (`fixErrorStates`
  * `:324-350`; `fixOffsets` recovery `:352-370`). The rebuild holds
  * exactly that state in Structured Streaming's state store, keyed by
  * (topic, partition) — checkpointed, partitioned, and bounded by key
  * cardinality, which is what survives 1000 executors.
  *
  * Kafka 0.8 error codes handled, as the reference dispatches them:
  * 0 NoError, 1 OffsetOutOfRange, 5 LeaderNotAvailable,
  * 6 NotLeaderForPartition.
  *
  * X6 — the same state is the partition's health surface, as the
  * reference's gauges and Meter read its `ConsumerData` (`:214-228`,
  * `Meter.mark(consumed)` `:387-389`): besides cursor and processed
  * total it carries a deterministic EWMA of per-trigger delivery
  * (α = 1/2, seeded with the first trigger's delivered count —
  * reproducible across replays, unlike a wall-clock Meter).
  */
object ConsumerStateMachine {

  /** One fetch result: a delivered record (error = 0, offset = record
    * offset) or a fetch error (error != 0; for OffsetOutOfRange the
    * offset field carries the broker's earliest available offset, the
    * list the reference sorts and searches in `fixOffsets`).
    */
  final case class FetchEvent(topic: String, partition: Int, offset: Long,
                              error: Int, eventTimeMs: Long)

  /** The ConsumerData twin: next offset to fetch, last status, running
    * processed counter, leader validity, the update generation
    * (the `ConsumerData.ts` freshness twin — reference `:22,261`) and
    * the per-trigger delivery EWMA.
    */
  final case class PartitionState(offset: Long, status: Int,
                                  processed: Long, leaderValid: Boolean,
                                  generation: Long = 0L,
                                  ewma: Double = 0.0)

  /** One emitted row per (topic, partition) per microbatch. */
  final case class PartitionUpdate(topic: String, partition: Int,
                                   offset: Long, status: Int,
                                   processed: Long, leaderValid: Boolean,
                                   generation: Long, ewma: Double)

  implicit val feEnc: Encoder[FetchEvent] = Encoders.product[FetchEvent]
  implicit val puEnc: Encoder[PartitionUpdate] =
    Encoders.product[PartitionUpdate]
  implicit val stEnc: Encoder[PartitionState] =
    Encoders.product[PartitionState]
  implicit val keyEnc: Encoder[(String, Int)] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaInt)

  private[streaming] def step(st: PartitionState,
                              e: FetchEvent): PartitionState =
    e.error match {
      case 0 =>
        // delivered record: advance the at-least-once cursor to
        // nextOffset (reference `:304`); a replayed offset below the
        // cursor still counts as processed but never moves it back
        if (e.offset >= st.offset)
          st.copy(offset = e.offset + 1, status = 0,
            processed = st.processed + 1, leaderValid = true)
        else st.copy(status = 0, processed = st.processed + 1)
      case 1 =>
        // OffsetOutOfRange → smallest available offset strictly above
        // current, else restart from 0 (reference `:352-370`)
        val recovered = if (e.offset > st.offset) e.offset else 0L
        st.copy(offset = recovered, status = 1)
      case 5 | 6 =>
        // leader lost / moved: invalidate, next healthy fetch restores
        // (reference `:334-336,437-450`)
        st.copy(status = e.error, leaderValid = false)
      case other =>
        st.copy(status = other)
    }

  /** Run the state machine over a stream of fetch events. Events
    * within a batch apply in (eventTimeMs, offset) order — the
    * reference processes fetch results sequentially per partition
    * because each partition is owned by one thread (X1).
    */
  def apply(events: Dataset[FetchEvent]): Dataset[PartitionUpdate] =
    events.groupByKey(e => (e.topic, e.partition))
      .flatMapGroupsWithState[PartitionState, PartitionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((topic, partition), it, state: GroupState[PartitionState]) =>
          val start = state.getOption
            .getOrElse(PartitionState(0L, 0, 0L, leaderValid = true))
          val evs = it.toSeq.sortBy(e => (e.eventTimeMs, e.offset))
          val delivered = evs.count(_.error == 0).toDouble
          val end = evs.foldLeft(start)(step).copy(
            generation = start.generation + 1,
            ewma = if (start.generation == 0L) delivered
                   else (start.ewma + delivered) / 2.0)
          state.update(end)
          Iterator(PartitionUpdate(topic, partition, end.offset,
            end.status, end.processed, end.leaderValid, end.generation,
            end.ewma))
      }
}

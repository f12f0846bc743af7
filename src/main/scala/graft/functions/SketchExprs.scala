package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items sketch as a partial-aggregatable
  * Catalyst aggregate (SURVEY.md §2 N4 extension — the heavy-hitter
  * pass of a corpus pipeline: stop-word discovery, boilerplate token
  * detection, vocabulary pruning).
  *
  * Each task summarizes its partition into at most `capacity`
  * counters (update), partial summaries merge pairwise (merge), and
  * the final buffer evals to the candidate term set. The sketch obeys
  * the mergeable-summaries bound (Agarwal et al., PODS'12): any term
  * with true frequency > N/(capacity+1) survives every
  * decrement/merge path, so the eval'd set is a SUPERSET of the true
  * heavy hitters at that threshold regardless of partitioning or
  * merge order. Callers re-verify candidates with one exact
  * semi-joined count pass (`TextOps.heavyHitters`) so partitioning
  * never leaks into results — the sketch buys the bounded memory, the
  * verify pass buys the exactness.
  *
  * Memory: O(capacity) per task, independent of corpus size — the
  * whole point at 100 TB, where an exact term count would shuffle
  * every distinct token.
  */
case class MisraGries(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with UnaryLike[Expression] with ExpectsInputTypes {

  require(capacity > 0, "capacity must be positive")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  /** Batched-decrement insert: beyond capacity, subtract the current
    * minimum counter from everything and evict zeros — equivalent to
    * `min` rounds of the classic decrement-all step.
    */
  private def add(buf: mutable.HashMap[String, Long], term: String,
                  n: Long): Unit = {
    val cur = buf.getOrElse(term, 0L)
    if (cur > 0L || buf.size < capacity) buf.update(term, cur + n)
    else {
      val dec = math.min(n, buf.valuesIterator.min)
      buf.filterInPlace((_, c) => c > dec)
      buf.mapValuesInPlace((_, c) => c - dec)
      if (n > dec) buf.update(term, n - dec)
    }
  }

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long],
                     b2: mutable.HashMap[String, Long])
      : mutable.HashMap[String, Long] = {
    b2.foreach { case (t, n) =>
      b1.update(t, b1.getOrElse(t, 0L) + n)
    }
    if (b1.size > capacity) {
      // subtract the (capacity+1)-th largest count, keep positives —
      // the mergeable-summaries shrink
      val counts = b1.valuesIterator.toArray.sorted(Ordering[Long].reverse)
      val dec = counts(capacity)
      b1.filterInPlace((_, c) => c > dec)
      b1.mapValuesInPlace((_, c) => c - dec)
    }
    b1
  }

  /** Candidate terms, lexicographically sorted (deterministic given
    * the buffer; exactness comes from the caller's verify pass).
    */
  override def eval(buf: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buf.keysIterator.toArray.sorted
        .map(t => UTF8String.fromString(t)): Array[Any])

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, n) => out.writeUTF(t); out.writeLong(n) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { buf.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_mg_candidates"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression)
      : MisraGries = copy(child = newChild)
}

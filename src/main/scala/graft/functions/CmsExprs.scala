package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count–min sketch (Cormode & Muthukrishnan '05) as a
  * partial-aggregatable Catalyst aggregate — the POINT-FREQUENCY
  * sibling of [[MisraGries]] (which answers "which terms are heavy";
  * CMS answers "about how often does THIS term occur" for any term,
  * without having kept it). depth×width long counters per task,
  * merge = elementwise add (counter addition commutes, so the sketch
  * is partitioning-proof bit-for-bit), estimate = min over rows.
  *
  * Guarantees: estimate ≥ true count ALWAYS (counters only ever
  * overcount); estimate ≤ true + 2N/width with prob ≥ 1−2^−depth per
  * query under pairwise-independent hashing. Every hash is seeded
  * FNV-1a→fmix64 double hashing — fully deterministic, so a fixed
  * corpus yields a bit-identical sketch on any cluster layout.
  *
  * Memory: depth·width·8 bytes per task regardless of corpus size —
  * at the 100 TB tier the sketch is the only way to answer ad-hoc
  * frequency probes without shuffling every distinct token.
  */
object CountMin {
  val GOLDEN = 0x9e3779b97f4a7c15L

  /** FNV-1a 64 over UTF-8 bytes, avalanched. */
  def baseHash(term: UTF8String): Long = {
    val bytes = term.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    GraftBloomFilter.fmix(h)
  }

  /** Row r's slot for a base hash, width = 2^widthLog2. */
  @inline def slot(h1: Long, h2: Long, r: Int, widthLog2: Int): Int =
    ((h1 + r.toLong * h2).toInt) & ((1 << widthLog2) - 1)

  @inline def h2(h1: Long): Long = GraftBloomFilter.fmix(h1 ^ GOLDEN) | 1L

  def addInPlace(tbl: Array[Long], term: UTF8String, widthLog2: Int,
                 depth: Int): Unit = {
    val b = baseHash(term); val step = h2(b)
    var r = 0
    while (r < depth) {
      tbl((r << widthLog2) + slot(b, step, r, widthLog2)) += 1L
      r += 1
    }
  }

  /** Point estimate from an eval'd sketch ([[CmsEstimate]]). */
  def estimate(tbl: ArrayData, term: UTF8String, widthLog2: Int,
               depth: Int): Long = {
    val b = baseHash(term); val step = h2(b)
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = tbl.getLong((r << widthLog2) + slot(b, step, r, widthLog2))
      if (v < best) best = v
      r += 1
    }
    best
  }
}

/** The sketch build aggregate: evals to the depth·width counter table
  * as array<long> (probe it with [[CmsEstimate]] — or persist it; the
  * flat-array form is the storable artifact, like the HLL binaries).
  */
case class CmsSketch(
    child: Expression,
    widthLog2: Int,
    depth: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] with ExpectsInputTypes {

  require(widthLog2 >= 4 && widthLog2 <= 24, "widthLog2 in [4, 24]")
  require(depth >= 1 && depth <= 16, "depth in [1, 16]")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth << widthLog2)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      CountMin.addInPlace(buf, v.asInstanceOf[UTF8String], widthLog2, depth)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](depth << widthLog2)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cms_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression)
      : CmsSketch = copy(child = newChild)
}

/** Point-frequency probe of an eval'd [[CmsSketch]] table: min over
  * the depth rows — one generated call per row, no per-row
  * interpretation.
  */
case class CmsEstimate(
    left: Expression,
    right: Expression,
    widthLog2: Int,
    depth: Int)
  extends BinaryKernel[ArrayData, UTF8String] {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), StringType)
  override def dataType: DataType = LongType

  def compute(tbl: ArrayData, term: UTF8String): Long =
    CountMin.estimate(tbl, term, widthLog2, depth)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

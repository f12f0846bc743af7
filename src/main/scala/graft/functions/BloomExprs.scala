package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A membership probe over 64-bit keys that may err only toward
  * ACCEPTING (false positives allowed, false negatives never) — the
  * contract a lossless candidate pre-filter needs: anything the probe
  * drops is provably absent, anything it keeps is re-verified exactly
  * downstream. Implementations: [[GraftBloomFilter]] (approximate,
  * fixed bits), [[LongHashProbe]] (exact on the hash set),
  * [[AcceptAllProbe]] (no filtering — turns a probing kernel into a
  * plain extractor).
  */
trait LongProbe extends Serializable {
  def mightContain(x: Long): Boolean
}

/** Accept-everything probe: mightContain is identically true. */
case object AcceptAllProbe extends LongProbe {
  override def mightContain(x: Long): Boolean = true
}

/** Exact open-addressed hash-set probe over a fixed key set: O(1)
  * membership on a power-of-two table, zero false positives on the
  * KEYS themselves (the keys being 64-bit hashes of strings, two
  * distinct strings may still share a key — which is why callers
  * re-verify survivors on the exact string). Built once on the
  * driver from a bounded key set and shipped as a plan reference
  * object, like [[GraftBloomFilter]].
  */
final class LongHashProbe(keys: Array[Long]) extends LongProbe {
  // sizing in Long: keys.length * 2 in Int overflows negative at
  // >= 2^30 keys, exiting the loop at m=16 and spinning the insert
  // loop forever on a full 16-slot table. Fail loudly instead.
  require(keys.length < (1 << 30),
    s"LongHashProbe over ${keys.length} keys exceeds the 2^30 cap")
  private val cap: Int = {
    var m = 16
    while (m < keys.length.toLong * 2) m <<= 1
    m
  }
  private val tab = new Array[Long](cap)
  private var hasZero = false
  locally {
    var i = 0
    while (i < keys.length) {
      val x = keys(i)
      if (x == 0L) hasZero = true
      else {
        var idx = (x ^ (x >>> 32)).toInt & (cap - 1)
        while (tab(idx) != 0L && tab(idx) != x) idx = (idx + 1) & (cap - 1)
        tab(idx) = x
      }
      i += 1
    }
  }
  override def mightContain(x: Long): Boolean = {
    if (x == 0L) return hasZero
    var idx = (x ^ (x >>> 32)).toInt & (cap - 1)
    while (true) {
      val v = tab(idx)
      if (v == x) return true
      if (v == 0L) return false
      idx = (idx + 1) & (cap - 1)
    }
    false
  }
}

/** A fixed-size Bloom filter over 64-bit keys: `numHashes` probe
  * positions per key by double hashing (Kirsch–Mitzenmacher: pos_i =
  * h1 + i·h2 over two independent murmur-finalizer mixes), bit array
  * sized to a power of two so every probe is mask arithmetic. The
  * whole structure is two plain fields — serializable into a plan and
  * broadcast with it, OR-mergeable across partitions.
  *
  * Guarantees: NO false negatives ever (membership of every added key
  * is preserved under merge); false-positive rate tunes with
  * bits-per-key (16 bits + 6 hashes ≈ 4e-4).
  */
case class GraftBloomFilter(bits: Array[Long], numHashes: Int)
    extends LongProbe {
  require(bits.nonEmpty && (bits.length & (bits.length - 1)) == 0,
    "bit array must be a power-of-two number of words")
  require(numHashes >= 1)

  @inline private def mask: Int = (bits.length << 6) - 1

  def mightContain(x: Long): Boolean = {
    val h1 = GraftBloomFilter.fmix(x)
    val h2 = GraftBloomFilter.fmix(x ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    var h = h1
    while (i < numHashes) {
      val p = h.toInt & mask
      if ((bits(p >>> 6) & (1L << (p & 63))) == 0L) return false
      h += h2
      i += 1
    }
    true
  }
}

object GraftBloomFilter {
  /** murmur3 64-bit finalizer — the standard avalanche mix. */
  def fmix(v: Long): Long = {
    var x = v
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  def addInPlace(bits: Array[Long], numHashes: Int, x: Long): Unit = {
    val mask = (bits.length << 6) - 1
    val h1 = fmix(x)
    val h2 = fmix(x ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    var h = h1
    while (i < numHashes) {
      val p = h.toInt & mask
      bits(p >>> 6) |= 1L << (p & 63)
      h += h2
      i += 1
    }
  }
}

/** Distributed Bloom build: one typed aggregation whose buffer is the
  * bit array itself — partial filters build map-side and OR-merge, so
  * a filter over 10⁹ keys costs one pass and shuffles only
  * (partitions × mBits/8) bytes, never the keys.
  */
object GraftBloom {

  /** Smallest power of two ≥ `bitsPerKey · nKeys` (floor 1024 bits). */
  def sizeBits(nKeys: Long, bitsPerKey: Int): Int = {
    val want = math.max(1024L, nKeys * bitsPerKey)
    require(want <= (1L << 30), s"bloom over ${want} bits — cap the key side")
    var m = 1024
    while (m < want) m <<= 1
    m
  }

  def build(hashes: DataFrame, hashCol: String, mBits: Int,
            numHashes: Int): GraftBloomFilter = {
    require((mBits & 63) == 0)
    val agg = new Aggregator[Long, Array[Long], Array[Long]] {
      override def zero: Array[Long] = new Array[Long](mBits >>> 6)
      override def reduce(b: Array[Long], x: Long): Array[Long] = {
        GraftBloomFilter.addInPlace(b, numHashes, x); b
      }
      override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < a.length) { a(i) |= b(i); i += 1 }
        a
      }
      override def finish(r: Array[Long]): Array[Long] = r
      override def bufferEncoder = ExpressionEncoder[Array[Long]]()
      override def outputEncoder = ExpressionEncoder[Array[Long]]()
    }
    import hashes.sparkSession.implicits._
    val bits = hashes.select(col(hashCol)).as[Long]
      .select(agg.toColumn).head()
    GraftBloomFilter(bits, numHashes)
  }
}

/** `bloom.mightContain(hash)` as a codegen'd Catalyst expression: the
  * filter rides into the plan inside the kernel's reference object
  * (broadcast with the task binary), so the probe is a handful of
  * mask-and-test ops inside whole-stage codegen — no UDF boxing, no
  * shuffle.
  */
case class BloomMightContain(child: Expression, bloom: GraftBloomFilter)
    extends UnaryKernel[Long] {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  def compute(x: Long): Boolean = bloom.mightContain(x)

  override protected def withNewChildInternal(newChild: Expression)
      : BloomMightContain = copy(child = newChild)
}

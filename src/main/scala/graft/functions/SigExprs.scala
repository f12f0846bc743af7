package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TextOps

/** Native Catalyst expressions for the LSH signature kernels of the
  * dedup/similarity family (SURVEY.md §2 N2/N3).
  *
  * Why expressions and not higher-order functions: `transform` /
  * `aggregate` / `zip_with` are `CodegenFallback` — every lambda step
  * is an interpreted Catalyst eval, so a 128-perm MinHash over a
  * 200-element set costs ~25k interpreted node evaluations per row.
  * These expressions run the same arithmetic as one tight JVM loop per
  * row (and stay inside whole-stage codegen via a generated call to
  * [[MinHashBands.compute]] / [[HyperplaneBands.compute]]), which is
  * 50-100× faster and exactly the discipline a 100 TB scan needs.
  *
  * Both are deterministic pure functions of their input array — no RNG
  * state is shipped to executors; constants derive from fixed seeds
  * (TextOps.affineConstants / splitmix64).
  */
object SigKernels {
  /** splitmix64 finalizer — the standard 64-bit avalanche mixer. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** ±1 hyperplane weight matrix for (nBits, dim), flattened row-major;
    * cached because it is a pure function of its shape.
    */
  private val weightCache = new ConcurrentHashMap[(Int, Int), Array[Long]]()
  def hyperplaneWeights(nBits: Int, dim: Int): Array[Long] =
    weightCache.computeIfAbsent((nBits, dim), { case (b, d) =>
      val w = new Array[Long](b * d)
      var i = 0
      while (i < w.length) {
        w(i) = if ((splitmix64((i / d).toLong << 32 | (i % d)) & 1L) == 0L) 1L
               else -1L
        i += 1
      }
      w
    })
}

/** MinHash band signatures: input = array<bigint> of per-element
  * 64-bit hashes (any sign — reduced into [0, P) internally); output =
  * array<bigint> of `bands` band hashes, where band hash b folds the
  * `numPerms/bands` minhashes of that band. Two sets land in the same
  * (band, hash) bucket iff their minhash rows agree on that band
  * (modulo 64-bit fold collisions, which only add false positives —
  * candidates are always verified exactly downstream).
  *
  * Minhash i = min over elements h of (a_i·h + b_i) mod P, with
  * (a_i, b_i) = TextOps.affineConstants(42, numPerms) — a fixed
  * affine-permutation family (reference for the banding scheme:
  * Broder's minwise hashing + LSH banding as surveyed in PAPERS.md).
  */
case class MinHashBands(child: Expression, numPerms: Int, bands: Int)
    extends UnaryKernel[ArrayData] {
  require(numPerms % bands == 0, "numPerms must be a multiple of bands")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  private val ab = TextOps.affineConstants(42L, numPerms)
  private val as: Array[Long] = ab.map(_._1).toArray
  private val bs: Array[Long] = ab.map(_._2).toArray

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val perms = numPerms
    val mh = new Array[Long](perms)
    java.util.Arrays.fill(mh, Long.MaxValue)
    val P = TextOps.P
    var j = 0
    while (j < n) {
      val h = (arr.getLong(j) & Long.MaxValue) % P
      var i = 0
      while (i < perms) {
        // a < P < 2^31 and h < P, so a*h + b < 2^62: no overflow.
        // Mersenne fold replaces the 64-bit `%` (the hot-loop cost at
        // elements x perms evaluations): for P = 2^31 - 1 and
        // x < 2^62, two shift-folds + one conditional subtract give
        // exactly x mod P — bit-identical results, several times
        // cheaper than hardware division.
        val x = as(i) * h + bs(i)
        val y = (x & P) + (x >>> 31)
        val z = (y & P) + (y >>> 31)
        val v = if (z >= P) z - P else z
        if (v < mh(i)) mh(i) = v
        i += 1
      }
      j += 1
    }
    val rows = perms / bands
    val out = new Array[Long](bands)
    var bi = 0
    while (bi < bands) {
      var acc = 1125899906842597L
      var r = 0
      while (r < rows) { acc = acc * 1000003L + mh(bi * rows + r); r += 1 }
      out(bi) = acc
      bi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashBands = copy(child = newChild)
}

/** Random-hyperplane LSH band signatures: input = array<bigint>
  * (milli-quantized vector, Dedup.quantize); output = array<bigint> of
  * `bands` band hashes, each packing `rowsPerBand` sign bits of the
  * vector's projection onto fixed ±1 hyperplanes
  * (SigKernels.hyperplaneWeights). P[bit agrees] = 1 − θ/π for a pair
  * at angle θ (Charikar's SimHash rounding scheme — see PAPERS.md).
  */
case class HyperplaneBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryKernel[ArrayData] {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_bands"

  def compute(arr: ArrayData): ArrayData = {
    val dim = arr.numElements()
    val nBits = bands * rowsPerBand
    val w = SigKernels.hyperplaneWeights(nBits, dim)
    val v = new Array[Long](dim)
    var i = 0
    while (i < dim) { v(i) = arr.getLong(i); i += 1 }
    val out = new Array[Long](bands)
    var bit = 0
    var bi = 0
    while (bi < bands) {
      var acc = 0L
      var r = 0
      while (r < rowsPerBand) {
        var dot = 0L
        val base = bit * dim
        var d = 0
        while (d < dim) { dot += v(d) * w(base + d); d += 1 }
        acc = (acc << 1) | (if (dot >= 0) 1L else 0L)
        bit += 1
        r += 1
      }
      out(bi) = acc
      bi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneBands = copy(child = newChild)
}

/** Hashed FastSS deletion neighborhood: input = string; output =
  * array<bigint> of polynomial hashes of the string itself, every
  * delete-one variant, and (maxDist = 2) every delete-two variant —
  * WITHOUT materializing a single variant string.
  *
  * Why a kernel: the compositional form (nested `transform` +
  * `substr`/`concat` + `flatten`) is CodegenFallback and allocates
  * O(L²) strings per row — measured as the dominant cost of
  * record_linkage (~2.5 s per pass over 15k names at sf0.1). Here
  * each variant hash is O(1) off prefix/suffix polynomial tables:
  * with c_m the CODE POINTS (the units `levenshtein` counts), weights
  * B^m ascending from the left,
  *   pref(i) = Σ_{m<i} c_m·B^m      (kept prefix, weights unchanged)
  *   suf(i)  = Σ_{m≥i} c_m·B^{m−i}  (suffix re-based at 0)
  *   del(i)            = pref(i) + B^i·suf(i+1)
  *   del(i<j)          = pref(i) + B^i·M(i,j) + B^{j−1}·suf(j+1),
  *     M(i,j) = Σ_{i<m<j} c_m·B^{m−i−1} maintained incrementally, so
  * the whole neighborhood is one O(L²)-integer-op loop. Every hash is
  * a pure function of the VARIANT's code points and length (splitmix64
  * finalize over (poly, length)), so equal variant strings — from any
  * originals — collide exactly; unequal variants collide only with
  * ~2^-64 probability, which downstream exact verifies absorb (the
  * HashedWordShingles trade). No dedupe: a variant reachable several
  * ways (runs of equal chars) just repeats its hash, and candidate
  * consumers dedupe after their verify.
  */
case class DeletionHashes(child: Expression, maxDist: Int)
    extends UnaryKernel[UTF8String] {
  require(maxDist == 1 || maxDist == 2, "FastSS here supports k in {1,2}")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_deletion_hashes"

  def compute(s: UTF8String): ArrayData = {
    // CODE POINTS, not bytes: deleting one byte of a multi-byte char
    // is not a character edit, and a 1-char substitution of such a
    // char would have NO shared byte-deletion variant at k=1 — the
    // theorem must hold in the same units `levenshtein` counts.
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    val B = 0x100000001b3L // FNV-64 prime (odd)
    val pw = new Array[Long](n + 1)
    pw(0) = 1L
    var t = 0
    while (t < n) { pw(t + 1) = pw(t) * B; t += 1 }
    val pref = new Array[Long](n + 1)
    var m = 0
    while (m < n) {
      pref(m + 1) = pref(m) + cps(m).toLong * pw(m); m += 1
    }
    val suf = new Array[Long](n + 2)
    m = n - 1
    while (m >= 0) { suf(m) = cps(m).toLong + B * suf(m + 1); m -= 1 }
    def fin(h: Long, len: Int): Long =
      SigKernels.splitmix64(h ^ (len.toLong * 0x9e3779b97f4a7c15L))
    val total = 1 + n + (if (maxDist >= 2 && n >= 2) n * (n - 1) / 2 else 0)
    val out = new Array[Long](total)
    var idx = 0
    out(idx) = fin(pref(n), n); idx += 1
    var i = 0
    while (i < n) {
      out(idx) = fin(pref(i) + pw(i) * suf(i + 1), n - 1)
      idx += 1; i += 1
    }
    if (maxDist >= 2 && n >= 2) {
      i = 0
      while (i < n) {
        var mid = 0L
        var j = i + 1
        while (j < n) {
          out(idx) = fin(pref(i) + pw(i) * mid + pw(j - 1) * suf(j + 1),
            n - 2)
          idx += 1
          mid += cps(j).toLong * pw(j - i - 1)
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : DeletionHashes = copy(child = newChild)
}

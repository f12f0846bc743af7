package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — the FAISS `PQx` index
  * family). The vector is split into `m` contiguous subspaces; each
  * subspace is vector-quantized against its own small codebook, so a
  * d-dim float vector compresses to m small integer codes. Search
  * scans the codes with asymmetric distance computation (ADC): the
  * query stays exact while each corpus vector is represented by its
  * reconstruction (the concatenation of its per-subspace centroids).
  *
  * All three kernels run on milli-quantized int64 vectors
  * (Dedup.quantize), so every dot product is exact integer arithmetic
  * and the derived cosine is deterministic across partitionings and
  * engines — the same exactness contract as NearestCentroids.
  *
  * `codebooks(s)(c)` is the centroid (length = subspace dim) for code
  * `c` of subspace `s`; subspace offsets are the cumulative dims.
  * Codebooks are plan-time constants trained on a bounded driver-side
  * sample (Similarity.trainPqCodebooks), FAISS-style: a 100 TB corpus
  * still trains on `sampleCap` vectors.
  */
object PqCodebooks {
  /** Start offset of each subspace within the full vector. */
  def offsets(codebooks: Array[Array[Array[Long]]]): Array[Int] =
    codebooks.scanLeft(0)((acc, cb) => acc + cb.head.length).init
}

/** Encode a quantized vector to its `m` PQ codes: per subspace, the
  * index of the L2-nearest codebook centroid (ties to the smaller
  * index — deterministic). One codegen loop of Σ|cb_s| subvector
  * distances per row.
  */
case class PqEncode(child: Expression,
                    codebooks: Array[Array[Array[Long]]])
    extends UnaryKernel[ArrayData] {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val offs = PqCodebooks.offsets(codebooks)

  def compute(arr: ArrayData): ArrayData = {
    val m = codebooks.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val off = offs(s)
      val subDim = cb.head.length
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cb.length) {
        val ct = cb(c)
        var dist = 0L
        var i = 0
        while (i < subDim) {
          val v = (if (off + i < arr.numElements()) arr.getLong(off + i)
                   else 0L) - ct(i)
          dist += v * v
          i += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqEncode = copy(child = newChild)
}

/** Squared norm of the PQ reconstruction: Σ_s dot(cb_s[code_s],
  * cb_s[code_s]) — exact int64, a pure table lookup per subspace.
  * Used as the corpus-side norm of the asymmetric cosine.
  */
case class PqReconNorm(child: Expression,
                       codebooks: Array[Array[Array[Long]]])
    extends UnaryKernel[ArrayData] {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_recon_norm"

  @transient private lazy val norms: Array[Array[Long]] =
    codebooks.map(_.map(ct => ct.map(x => x * x).sum))

  def compute(codes: ArrayData): Long = {
    var nn = 0L
    var s = 0
    val m = math.min(codes.numElements(), codebooks.length)
    while (s < m) { nn += norms(s)(codes.getInt(s)); s += 1 }
    nn
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqReconNorm = copy(child = newChild)
}

/** Asymmetric dot product: dot(query, reconstruction(codes)) =
  * Σ_s dot(q_sub_s, cb_s[code_s]) — exact int64. `left` = the corpus
  * row's codes (array<int>), `right` = the exact quantized query
  * vector (array<bigint>).
  */
case class PqAdcDot(left: Expression, right: Expression,
                    codebooks: Array[Array[Array[Long]]])
    extends BinaryKernel[ArrayData, ArrayData] {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(IntegerType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_adc_dot"

  @transient private lazy val offs = PqCodebooks.offsets(codebooks)

  def compute(codes: ArrayData, q: ArrayData): Long = {
    var adc = 0L
    var s = 0
    val m = math.min(codes.numElements(), codebooks.length)
    while (s < m) {
      val ct = codebooks(s)(codes.getInt(s))
      val off = offs(s)
      var i = 0
      while (i < ct.length) {
        if (off + i < q.numElements()) adc += ct(i) * q.getLong(off + i)
        i += 1
      }
      s += 1
    }
    adc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDot =
    copy(left = newLeft, right = newRight)
}

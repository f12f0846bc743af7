package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Scalar-quantization (SQ8) kernels — the FAISS `SQ8` index shape:
  * each dimension of a milli-quantized int64 vector compresses to one
  * signed byte against a per-dimension symmetric scale (the corpus
  * max-abs of that dimension), an 8× scan-size cut that is nearly
  * lossless for near-isotropic embeddings. The scales are plan-time
  * constants calibrated by one aggregate over the corpus
  * (Similarity.sq8Calibrate) — at 100 TB that is a single map-side
  * max-reduce, not a shuffle of vectors.
  *
  * Scoring stays exact integer arithmetic: the candidate dot product
  * of two code vectors under per-dimension scales is
  * Σ a_d·b_d·m_d² (ScaledDot) — int64-safe (|code| ≤ 127,
  * m_d ≤ ~10⁴ ⇒ a term ≤ 1.3e11, 64 dims ⇒ ≤ 8.3e12), so ranks are
  * deterministic across partitionings and replayable by a SQL oracle
  * from the materialized codes.
  */

/** Encode a quantized vector to per-dimension int8 codes:
  * code_d = round(q_d · 127 / m_d) (half away from zero — Spark
  * round() semantics), clamped to [-127, 127]. The rounding runs only
  * engine-side (codes materialize for the oracle; it is never
  * recomputed cross-engine), so the IEEE double chain is deterministic
  * and safe. One codegen loop per row.
  */
case class Sq8Encode(child: Expression, maxs: Array[Long])
    extends UnaryKernel[ArrayData] {
  require(maxs.nonEmpty && maxs.forall(_ > 0))

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sq8_encode"

  def compute(in: ArrayData): ArrayData = {
    val d = math.min(in.numElements(), maxs.length)
    val out = new Array[Long](d)
    var i = 0
    while (i < d) {
      val q = in.getLong(i)
      val x = q * 127.0 / maxs(i)
      // half away from zero (Spark round() semantics): Math.round
      // alone rounds half toward +inf, differing on negative halves
      val c = if (q >= 0) Math.round(x) else -Math.round(-x)
      out(i) = math.max(-127L, math.min(127L, c))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Sq8Encode = copy(child = newChild)

  override def equals(other: Any): Boolean = other match {
    case s: Sq8Encode =>
      child == s.child && java.util.Arrays.equals(maxs, s.maxs)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(maxs)
}

/** Exact integer dot product of two SQ8 code vectors under the
  * per-dimension scales: Σ a_d · b_d · m_d². One codegen loop per
  * pair — the SQ8 candidate-scan scorer.
  */
case class ScaledDot(left: Expression, right: Expression,
                     maxs: Array[Long])
    extends BinaryKernel[ArrayData, ArrayData] {
  require(maxs.nonEmpty)

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_scaled_dot"

  def compute(a: ArrayData, b: ArrayData): Long = {
    val d = math.min(math.min(a.numElements(), b.numElements()),
      maxs.length)
    var acc = 0L
    var i = 0
    while (i < d) {
      val m = maxs(i)
      acc += a.getLong(i) * b.getLong(i) * m * m
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScaledDot =
    copy(left = newLeft, right = newRight)

  override def equals(other: Any): Boolean = other match {
    case s: ScaledDot => left == s.left && right == s.right &&
      java.util.Arrays.equals(maxs, s.maxs)
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * left.hashCode() + right.hashCode()) +
      java.util.Arrays.hashCode(maxs)
}

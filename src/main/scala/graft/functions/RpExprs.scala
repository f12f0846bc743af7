package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Rademacher (±1) random projection of a quantized vector — the
  * Johnson–Lindenstrauss transform in its integer-exact form
  * (Achlioptas, "Database-friendly random projections", PODS 2001):
  * out(j) = Σ_i v_i · w(j,i) with w(j,i) ∈ {+1,−1} drawn from a
  * deterministic hash of the coordinate pair, NOT an RNG — so the
  * projection is a plan-time constant matrix reproducible from the
  * dims alone (the HyperplaneBands weights discipline), and every
  * output component is exact int64 (order-independent, engine-exact).
  *
  * The weight hash is the oracle-replayable 31-polynomial char fold
  * over "rp:j:i" mod 1e9+7, parity → sign — replayed verbatim in SQL
  * by the rp_project oracle.
  *
  * Use: compress embeddings before LSH/dedup/clustering so downstream
  * per-vector cost drops by inDim/outDim while pairwise geometry is
  * preserved within the JL distortion bound. Pure map, zero shuffle.
  */
case class RademacherProject(child: Expression, outDim: Int, inDim: Int)
    extends UnaryKernel[ArrayData] {
  require(outDim >= 1 && inDim >= 1)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rademacher_project"

  /** w(j)(i) — built once per plan from the same char fold the oracle
    * replays (TextOps.FpMod = 1e9+7; sign = parity).
    */
  @transient private lazy val weights: Array[Array[Long]] =
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        val s = s"rp:$j:$i"
        var h = 0L
        var p = 0
        while (p < s.length) { h = (h * 31 + s.charAt(p)) % 1000000007L; p += 1 }
        if (h % 2 == 0) 1L else -1L
      }
    }

  def compute(arr: ArrayData): ArrayData = {
    val n = math.min(inDim, arr.numElements())
    val out = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      val w = weights(j)
      var acc = 0L
      var i = 0
      while (i < n) { acc += arr.getLong(i) * w(i); i += 1 }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : RademacherProject = copy(child = newChild)
}

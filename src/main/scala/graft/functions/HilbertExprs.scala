package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index as a fused codegen kernel.
  *
  * The xy2d bit descent is inherently sequential (each level's
  * quadrant re-orients the remaining sub-curve), so expressing it as
  * composed Column operations builds a tree that re-references each
  * level's (x, y) ~5×; one analyzer transform destroys the sharing
  * and the canonicalization walk goes ~5^bits — at bits=8 that is
  * heap-exhausting. The kernel keeps it what it is: a ~5·bits-step
  * integer loop, one call in generated code.
  */
object HilbertCurve {
  /** xy2d over a 2^bits × 2^bits grid (inputs masked to the grid). */
  def index(x0: Long, y0: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1L
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // quadrant re-orientation: ry=0 → transpose (reflected through
      // s-1 when rx=1)
      if (ry == 0L) {
        val t = if (rx == 1L) s - 1L - y else y
        val u = if (rx == 1L) s - 1L - x else x
        x = t
        y = u
      }
      s >>= 1
    }
    d
  }
}

case class HilbertIndex(left: Expression, right: Expression, bits: Int)
  extends BinaryKernel[Long, Long] {

  require(bits >= 1 && bits <= 31, "bits in [1, 31]")

  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType

  def compute(x: Long, y: Long): Long = HilbertCurve.index(x, y, bits)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

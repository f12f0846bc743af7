package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** IVF cell assignment: the `nProbe` centroid indices nearest (by
  * cosine) to a quantized array<bigint> vector, most-similar first.
  * Centroids are plan-time constants (the coarse quantizer is trained
  * on a bounded sample, FAISS-style — see Similarity.ivfTopK); the
  * expression is one codegen loop of |C| integer dot products per row.
  */
case class NearestCentroids(child: Expression,
                            centroids: Array[Array[Long]],
                            nProbe: Int)
    extends UnaryKernel[ArrayData] {
  require(centroids.nonEmpty && nProbe >= 1)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => (x * x).toDouble).sum))

  def compute(arr: ArrayData): ArrayData = {
    val dim = arr.numElements()
    val v = new Array[Long](dim)
    var i = 0
    while (i < dim) { v(i) = arr.getLong(i); i += 1 }
    val nC = centroids.length
    val scores = new Array[Double](nC)
    var j = 0
    while (j < nC) {
      val c = centroids(j)
      val n = math.min(dim, c.length)
      var dot = 0L
      var d = 0
      while (d < n) { dot += v(d) * c(d); d += 1 }
      scores(j) = if (norms(j) == 0) Double.MinValue else dot / norms(j)
      j += 1
    }
    val k = math.min(nProbe, nC)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](nC)
    var r = 0
    while (r < k) {
      var best = -1
      var bestScore = Double.MinValue
      j = 0
      while (j < nC) {
        if (!taken(j) && (best == -1 || scores(j) > bestScore)) {
          best = j; bestScore = scores(j)
        }
        j += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCentroids = copy(child = newChild)
}

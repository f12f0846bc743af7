package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Deterministic natural log of a positive integer — bit-identical
  * across engines at ANY input, because it never calls a libm.
  *
  * Why not ln()/log(): three different implementations are in play —
  * Spark's builtin log() is StrictMath (fdlibm), java.lang.Math.log
  * is the JVM intrinsic, and the DuckDB oracle's ln() is C libm —
  * and they disagree in the last ulp (measured on this host:
  * Math.log vs StrictMath differ on 67 of the ints 2..5000; Math.log
  * vs DuckDB ln first differ at 9170, 8 times among 400k sampled
  * ints up to 2e9). Any ln that feeds a hash-compared double is
  * therefore fixture-lucky, not correct.
  *
  * The fix is an ALGORITHM both engines run step for step from
  * correctly-rounded primitives (+,−,×,÷ only):
  *   n = m·2^L with L from an integer comparison ladder and
  *   m = n_double / 2^L (division by a power of two — exact);
  *   t = (m−1)/(m+1), s = t², and the atanh series
  *   ln m = 2·(t + t³/3 + … + t¹⁹/19) evaluated as
  *   h = Horner(1/19 … 1/3 in s), ln m = (t + (t·s)·h)·2;
  *   result = L·LN2 + ln m, LN2 = 0.6931471805599453.
  * Every step is a correctly-rounded IEEE op in ONE written-down
  * order, replayed verbatim by the oracle's nested-lambda SQL
  * (graft.queries.OracleSql.detLn). Truncation error < 2e-11 of true
  * ln (|t| ≤ 1/3, next term t²¹/21) — a documented deterministic
  * surrogate, not a rounding of the mathematical ln.
  *
  * Input n ≥ 1 (null out otherwise); n above 2^53 rounds to double
  * identically in both engines, so determinism holds to 2^62.
  */
object DetLnImpl {
  final val Ln2: Double = 0.6931471805599453

  def eval(n: Long): Double = {
    val l = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val m = n.toDouble / (1L << l).toDouble
    val t = (m - 1.0) / (m + 1.0)
    val s = t * t
    val h = ((((((((1.0 / 19.0) * s + 1.0 / 17.0) * s + 1.0 / 15.0) * s
      + 1.0 / 13.0) * s + 1.0 / 11.0) * s + 1.0 / 9.0) * s + 1.0 / 7.0)
      * s + 1.0 / 5.0) * s + 1.0 / 3.0
    l.toDouble * Ln2 + (t + (t * s) * h) * 2.0
  }
}

/** HdrHistogram-shaped bucket index of a non-negative integer: 2
  * significant bits after the leading one, values < 4 map to
  * themselves — bucket = 4·⌊log₂ c⌋ + ((c >> (⌊log₂ c⌋−2)) & 3).
  * Pure integer bit ops; the oracle replays them as comparison
  * ladders and integer division (graft.queries.OracleSql.qBucket).
  */
object QSketchImpl {
  def bucket(c: Long): Long =
    if (c < 4L) c
    else {
      val l = 63 - java.lang.Long.numberOfLeadingZeros(c)
      l.toLong * 4L + ((c >> (l - 2)) & 3L)
    }

  /** Canonical lower bound of a bucket index (inverse of [[bucket]]
    * at each bucket's smallest member). */
  def lower(b: Long): Long =
    if (b < 4L) b
    else (4L + b % 4L) << ((b / 4L).toInt - 2)
}

case class QBucket(child: Expression) extends UnaryKernel[Long] {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qsketch_bucket"
  def compute(x: Long): Long = QSketchImpl.bucket(x)
  override protected def withNewChildInternal(
      newChild: Expression): QBucket = copy(child = newChild)
}

case class QLower(child: Expression) extends UnaryKernel[Long] {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qsketch_lower"
  def compute(b: Long): Long = QSketchImpl.lower(b)
  override protected def withNewChildInternal(
      newChild: Expression): QLower = copy(child = newChild)
}

/** Not a [[UnaryKernel]]: its null rule differs (n < 1 gives NULL). */
case class DetLn(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_det_ln"

  override def nullSafeEval(x: Any): Any = {
    val n = x.asInstanceOf[Long]
    if (n < 1L) null else DetLnImpl.eval(n)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""if ($x < 1L) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.DetLnImpl.eval($x); }"""
        .stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): DetLn = copy(child = newChild)
}

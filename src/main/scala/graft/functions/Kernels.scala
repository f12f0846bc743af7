package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** The one shape of a graft row kernel: NULL in → NULL out, otherwise
  * `compute` on the input values. A kernel declares its exact
  * `inputTypes` (checked at analysis by Spark's `ExpectsInputTypes`,
  * which adds no casts, so plans are what the caller wrote) and its
  * `compute`; the interpreted path (constant folding, local
  * relations) casts and calls `compute`, and generated code calls the
  * same `compute` on the kernel as a plan reference object — both
  * paths run one implementation.
  *
  * `compute` may narrow its result type (`Long`, `ArrayData`, …): the
  * generated call binds to the kernel's own overload, so a primitive
  * result is not boxed.
  */
trait UnaryKernel[I] extends UnaryExpression with ExpectsInputTypes {
  def compute(x: I): Any

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }
}

/** [[UnaryKernel]] over two inputs: NULL if either is NULL. */
trait BinaryKernel[L, R] extends BinaryExpression with ExpectsInputTypes {
  def compute(l: L, r: R): Any

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[L], r.asInstanceOf[R])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev,
      (l, r) => s"${ev.value} = $self.compute($l, $r);")
  }
}

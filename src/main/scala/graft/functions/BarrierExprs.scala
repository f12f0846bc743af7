package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Always-true evaluation barrier over a hash of a frame's output
  * columns — the bench-fidelity filter `Queries.evalBarrier` wraps
  * around rows whose kernels `count()` would otherwise prune away.
  *
  * Declared NON-DETERMINISTIC on purpose, and that is the whole
  * design: the previous barrier (`pmod(xxhash64(*), 2) < 2`, a
  * deterministic predicate) was pushed below the row's projection by
  * PushPredicateThroughNonJoin, which SUBSTITUTES each referenced
  * alias with its defining expression. For rows that fan one
  * expensive kernel out into many output columns (gopher_repetition:
  * ~24 `element_at(gopher_coverage(text), i)` columns), the pushed
  * predicate contained one kernel call per column, and FilterExec
  * performs no subexpression elimination — the bench timed the kernel
  * ~25x per row (measured: gopher_repetition 24.1 s vs its 0.48 s
  * noop cost at sf0.1). A non-deterministic predicate cannot be
  * pushed, reordered or duplicated, so the filter stays ABOVE the
  * projection, reads its output attributes, and the projection's own
  * subexpression elimination evaluates each kernel exactly once —
  * which is precisely what a real consumer of the row pays.
  *
  * The child (the xxhash64 fold over every output column) is still
  * what defeats ColumnPruning; its value is written to a field sink
  * so neither javac nor the JIT can dead-code-eliminate the child
  * evaluation. Always returns true: no row is dropped, no value
  * changes, Verify output is byte-identical.
  */
case class EvalBarrier(child: Expression)
    extends UnaryExpression with Nondeterministic with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_eval_barrier"

  @transient private var sink: Any = _

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    sink = child.eval(input)
    true
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    // field sink: a field write cannot be eliminated, so the child
    // (and through it every projected column) is really evaluated
    val sinkVar = ctx.addMutableState("long", "barrierSink")
    ev.copy(
      code = code"""
        ${childGen.code}
        $sinkVar = ${childGen.isNull} ? 0L : (long) ${childGen.value};
      """,
      isNull = FalseLiteral,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
        .literal("true", BooleanType))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : EvalBarrier = copy(child = newChild)
}

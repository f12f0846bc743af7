package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Structural scale-audit over OPTIMIZED logical plans — the r13
  * plan-audit blind spot, closed. `Probe audit` greps physical-plan text
  * for BroadcastNestedLoopJoin/CartesianProduct, but a cartesian can
  * wear an equi-join costume: the r13 `margin_mine` gave BOTH
  * unbounded label sides the constant key `pmod(xxhash64(id), 1)` ≡ 0
  * and joined on it — an all-pairs product that registers as a
  * healthy BroadcastHashJoin (measured 45×/decade at sf10). These
  * checks see through the costume:
  *
  *  - [[degenerateJoins]] finds equi joins whose every equality key
  *    resolves (through Project/Aggregate aliases) to a per-row
  *    CONSTANT — the single-bucket-join idiom. The idiom itself is
  *    legitimate and pervasive here (attaching a 1-row global
  *    aggregate, broadcasting a bounded query set into a brute-force
  *    scan); what distinguishes use from abuse is a STRUCTURAL
  *    cardinality bound on at least one side.
  *  - [[structuralBound]] derives that bound from plan shape alone
  *    (GlobalLimit literals, empty-grouping aggregates) — scale-
  *    INDEPENDENT by construction, so it cannot be fooled the way a
  *    fixture-scale row count can (both margin_mine halves counted a
  *    harmless ~200 rows at sf0.1 and 20k at sf10).
  *  - [[unboundedBroadcastHints]] flags explicit broadcast() hints
  *    whose build side contains a raw fact-table scan with no
  *    aggregate or limit in between — a driver OOM at 100 TB even
  *    when the join key is real (the r13 knn_classify label map).
  *
  * Ops declare boundedness by construction: a `.orderBy(id).limit(n)`
  * on every broadcast query/anchor frame (Similarity.capped,
  * marginMine's anchor batch). The resulting GlobalLimit is the
  * machine-checkable contract these checks key on; the correctness
  * gates keep the declaration honest (a limit that ever BINDS on a
  * contract-honoring caller changes results and fails the oracle
  * hash compare).
  */
object PlanChecks {

  /** Fact tables of the fixture domain: row count scales with the
    * data, so a raw scan of one may never sit under a broadcast
    * hint. region/nation are genuinely fixed-cardinality dimensions
    * and stay broadcastable.
    */
  val FactTables: Set[String] = Set("lineitem", "orders", "customer",
    "supplier", "part", "partsupp", "events", "documents", "embeddings")

  /** Largest output row count provable from the plan's STRUCTURE
    * alone — literal limits, empty-grouping aggregates, and the
    * operators that cannot increase cardinality. None = no structural
    * bound (the output may scale with the input data).
    */
  def structuralBound(plan: LogicalPlan): Option[Long] = plan match {
    case g: GlobalLimit => g.limitExpr match {
      case IntegerLiteral(n) => Some(n.toLong)
      case Literal(n: Long, _) => Some(n)
      case _ => None
    }
    case l: LocalRelation => Some(l.data.size.toLong)
    case _: OneRowRelation => Some(1L)
    case a: Aggregate =>
      if (a.groupingExpressions.isEmpty) Some(1L)
      else structuralBound(a.child)
    case j: Join =>
      for {
        l <- structuralBound(j.left)
        r <- structuralBound(j.right)
      } yield l * r + l + r // + l + r: outer-join null-extension slack
    case u: Union =>
      val bs = u.children.map(structuralBound)
      if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
    case e: Expand =>
      structuralBound(e.child).map(_ * e.projections.size)
    case p if p.children.size == 1 && nonExpanding(p) =>
      structuralBound(p.children.head)
    case _ => None
  }

  /** Unary operators that never emit more rows than they consume. */
  private def nonExpanding(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Sort | _: SubqueryAlias |
         _: Distinct | _: Deduplicate | _: Window | _: LocalLimit |
         _: Repartition | _: RepartitionByExpression | _: Sample |
         _: Offset | _: WithCTE => true
    case _: GroupedTopK => true // keeps ≤ k rows per input group
    case _ => false
  }

  /** One degenerate-key join found in a plan. */
  final case class DegenerateJoin(
      keys: String,
      leftBound: Option[Long],
      rightBound: Option[Long]) {
    /** A degenerate join is sound iff one side carries a structural
      * cardinality bound (the broadcast-able contract side). */
    def bounded: Boolean = leftBound.nonEmpty || rightBound.nonEmpty
    override def toString: String =
      s"DegenerateJoin(keys=$keys, left=${leftBound.getOrElse("∞")}, " +
        s"right=${rightBound.getOrElse("∞")}, " +
        s"${if (bounded) "OK" else "UNBOUNDED"})"
  }

  /** All equi joins in `df`'s optimized plan whose EVERY equality
    * conjunct compares per-row constants on both sides — i.e. every
    * row lands in one bucket and the join degenerates to a cross
    * product of its inputs (modulo residual non-equi predicates).
    */
  def degenerateJoins(df: DataFrame): Seq[DegenerateJoin] = {
    val plan = df.queryExecution.optimizedPlan
    val aliases = aliasMap(plan)
    plan.collect {
      case j: Join if j.condition.isDefined =>
        val eqs = splitConjuncts(j.condition.get).filter {
          case _: EqualTo | _: EqualNullSafe => true
          case _ => false
        }
        val degen = eqs.nonEmpty && eqs.forall {
          case EqualTo(l, r) =>
            isConstantValued(resolve(l, aliases)) &&
              isConstantValued(resolve(r, aliases))
          case EqualNullSafe(l, r) =>
            isConstantValued(resolve(l, aliases)) &&
              isConstantValued(resolve(r, aliases))
          case _ => false
        }
        if (degen)
          Some(DegenerateJoin(
            eqs.map(_.sql).mkString(" AND "),
            structuralBound(j.left), structuralBound(j.right)))
        else None
    }.flatten
  }

  /** Degenerate joins with NO structural bound on either side — each
    * one is a disguised cartesian whose output is |L|·|R|. Empty on a
    * healthy plan.
    */
  def unboundedDegenerateJoins(df: DataFrame): Seq[DegenerateJoin] =
    degenerateJoins(df).filterNot(_.bounded)

  /** Explicit broadcast() hints whose hinted side reaches a raw
    * fact-table scan with no Aggregate or GlobalLimit in between —
    * the build side's size scales with the data and becomes a driver
    * OOM long before 100 TB. Returns the offending table names.
    */
  def unboundedBroadcastHints(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.optimizedPlan
    val aliases = aliasMap(plan)
    plan.collect {
      case j: Join =>
        val sides = Seq(
          j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
        sides.flatMap {
          case (Some(h), side) if h.strategy.contains(BROADCAST) =>
            rawFactScans(side, aliases)
          case _ => Nil
        }
    }.flatten.distinct
  }

  /** Fact tables reachable from `p` without crossing a REDUCTION:
    * an Aggregate, a literal GlobalLimit, a bounded-heap GroupedTopK,
    * or a rank-cut Filter (a predicate on a row_number/rank window
    * column — the per-group top-k / median-selection idiom). Any of
    * these bounds or collapses what actually gets broadcast; a scan
    * with none in between broadcasts a frame that scales with the
    * table.
    */
  private def rawFactScans(p: LogicalPlan,
                           aliases: Map[ExprId, Expression]): Seq[String] =
    p match {
      case _: Aggregate => Nil
      case _: GlobalLimit => Nil
      // bounded-heap top-k: ≤ k rows per group by construction — an
      // aggregate-like reduction, not a raw scan (the pq/sq8/bq rerank
      // stages broadcast their rank-cut survivor sets)
      case _: GroupedTopK => Nil
      case f: Filter if isRankCut(f.condition, aliases) => Nil
      case lr: LogicalRelation =>
        relationTables(lr).filter(FactTables.contains)
      case other => other.children.flatMap(rawFactScans(_, aliases))
    }

  /** True iff the predicate compares a rank-family window column
    * (row_number / rank / dense_rank, resolved through aliases)
    * against anything — the `rn === (n+1) DIV 2` median selection and
    * `crk <= k·rf` candidate cuts. Such a filter keeps O(1) rows per
    * window partition.
    */
  private def isRankCut(cond: Expression,
                        aliases: Map[ExprId, Expression]): Boolean = {
    def isRankFn(e: Expression): Boolean =
      resolve(e, aliases).exists {
        case we: WindowExpression => we.windowFunction match {
          case _: RowNumber | _: Rank | _: DenseRank => true
          case _ => false
        }
        case _ => false
      }
    splitConjuncts(cond).exists {
      case EqualTo(l, r) => isRankFn(l) || isRankFn(r)
      case LessThan(l, r) => isRankFn(l) || isRankFn(r)
      case LessThanOrEqual(l, r) => isRankFn(l) || isRankFn(r)
      case GreaterThan(l, r) => isRankFn(l) || isRankFn(r)
      case GreaterThanOrEqual(l, r) => isRankFn(l) || isRankFn(r)
      case _ => false
    }
  }

  private def relationTables(lr: LogicalRelation): Seq[String] =
    lr.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case _ => Nil
    }

  /** exprId → defining expression, across every Alias in the plan. */
  private def aliasMap(plan: LogicalPlan): Map[ExprId, Expression] = {
    val m = Map.newBuilder[ExprId, Expression]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case a: Alias => m += (a.exprId -> a.child)
        case _ => ()
      })
    }
    m.result()
  }

  /** Substitute attributes by their defining expressions, bounded
    * depth (alias chains are short; cycles impossible in a tree).
    */
  private def resolve(e: Expression, aliases: Map[ExprId, Expression],
                      depth: Int = 8): Expression =
    if (depth <= 0) e
    else e.transformUp {
      case ar: AttributeReference if aliases.contains(ar.exprId) =>
        resolve(aliases(ar.exprId), aliases, depth - 1)
    }

  /** True iff the expression takes the same value on every row: a
    * foldable expression, or the single-bucket idiom pmod(x, 1) ≡ 0
    * (deliberately built on a non-foldable hash so Catalyst keeps the
    * equi-join form — which is exactly why FoldablePropagation cannot
    * classify it and this check must).
    */
  private def isConstantValued(e: Expression): Boolean = e match {
    case p: Pmod => p.right match {
      case Literal(d: Any, _) if d == 1 || d == 1L => true
      case _ => p.foldable
    }
    case c: Cast => isConstantValued(c.child)
    case a: Alias => isConstantValued(a.child)
    case _ => e.foldable
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}

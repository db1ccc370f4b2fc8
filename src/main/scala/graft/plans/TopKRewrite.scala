package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
import TopKPerKey.TopKPerKeyNode

/** Optimizer rule: rewrite the stock top-k-per-key idiom
  *
  * {{{
  *   df.withColumn("rk", row_number().over(Window.partitionBy(k).orderBy(o)))
  *     .filter($"rk" <= K)
  * }}}
  *
  * into the native two-phase [[TopKPerKeyNode]], so code written against
  * the plain DataFrame API gets the partial-heap physical plan (exchange
  * moves ≤ K rows per key per partition) without ever importing graft —
  * declare the logical intent, let the optimizer pick the operator.
  * This is the whole-operator analogue of what Spark's own
  * InferWindowGroupLimit does partially: that rule inserts a group-limit
  * *below* the Window but still sorts and ranks every surviving row in
  * the exchange; this one replaces the Window outright.
  *
  * Guards (any failure leaves the plan untouched — the window form is
  * always correct):
  *  - exactly one window expression, and it is `row_number()` with the
  *    default running frame;
  *  - partition keys are non-float attributes (float keys would bypass
  *    NormalizeFloatingNumbers);
  *  - the rank is bounded by one `<=` / `<` / `= 1` conjunct against an
  *    integer literal; remaining conjuncts are re-applied on top (rank
  *    values are identical, so residual predicates see the same input);
  *  - the rank reaches the filter either directly or through one
  *    Project, optionally under `cast(... as long)` — the two shapes
  *    `.withColumn(rank)` produces.
  *
  * Registered by [[GraftExtensions]] via `injectOptimizerRule` (runs in
  * the fixed-point operator batch; the rewrite removes its own pattern,
  * so it is idempotent).
  */
case class TopKRewrite() extends Rule[LogicalPlan] with PredicateHelper {

  /** Above this, per-partition heaps stop paying for themselves. */
  private val MaxK = 1 << 20

  private object Bound {
    def unapply(e: Expression): Option[(Attribute, Long)] = e match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) =>
        Some((a, v.toLong))
      case LessThanOrEqual(a: Attribute, Literal(v: Long, LongType)) =>
        Some((a, v))
      case LessThan(a: Attribute, Literal(v: Int, IntegerType)) =>
        Some((a, v.toLong - 1))
      case LessThan(a: Attribute, Literal(v: Long, LongType)) =>
        Some((a, v - 1))
      case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if v == 1 =>
        Some((a, 1L))
      case EqualTo(a: Attribute, Literal(v: Long, LongType)) if v == 1L =>
        Some((a, 1L))
      case _ => None
    }
  }

  private def frameOk(frame: Expression): Boolean = frame match {
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
    case UnspecifiedFrame => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) => rewrite(cond, child).getOrElse(f)
  }.transformUp {
    case p @ Project(list, node: TopKPerKeyNode) => longRank(p, list, node)
  }

  /** The optimizer unwraps `cast(rank as long) <= k` to an int bound
    * before this rule sees it, so the rank comes back as
    * `cast(rank as int)` under the caller's `cast(... as long)`. The
    * rank is ≤ k ≤ [[MaxK]], so that round trip is the identity: read
    * the long rank directly, and fold a projection that only renames
    * it into the node. */
  private def longRank(p: Project, list: Seq[NamedExpression],
      node: TopKPerKeyNode): LogicalPlan = {
    val r = node.rank.exprId
    val direct = list.map(_.transform {
      case Cast(Cast(a: Attribute, IntegerType, _, _), LongType, _, _)
        if a.exprId == r => a
    }.asInstanceOf[NamedExpression])
    direct match {
      case init :+ (al @ Alias(a: Attribute, nm))
          if a.exprId == r && init == node.child.output =>
        node.copy(rank =
          AttributeReference(nm, LongType, nullable = false)(exprId = al.exprId))
      case _ if direct == list => p
      case _ => Project(direct, node)
    }
  }

  private def rewrite(cond: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    val (projOpt, win) = child match {
      case w: Window => (None, w)
      case p @ Project(_, w: Window) => (Some(p), w)
      case _ => return None
    }
    // single row_number over a default frame
    val (rnAlias, parts, order) = win.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(p, o, fr)), _)) if frameOk(fr) =>
        (a, p, o)
      case _ => return None
    }
    val rnAttr = rnAlias.toAttribute
    if (!parts.forall(_.isInstanceOf[Attribute])) return None
    val keyAttrs = parts.map(_.asInstanceOf[Attribute])
    if (keyAttrs.exists(a =>
      a.dataType == FloatType || a.dataType == DoubleType)) return None
    // Spark may already have inserted its partial group-limit below the
    // window; our operator subsumes it, so strip a matching one
    val input = win.child match {
      case wgl: WindowGroupLimit
        if wgl.partitionSpec == parts && wgl.orderSpec == order => wgl.child
      case other => other
    }
    if (!order.forall(_.references.subsetOf(input.outputSet))) return None

    // how the rank is visible to the filter: (filter-side exprId →
    // (original named expr, was-cast-to-long))
    val rankRefs: Map[ExprId, (NamedExpression, Boolean)] = projOpt match {
      case None => Map(rnAttr.exprId -> ((rnAttr, false)))
      case Some(p) =>
        p.projectList.collect {
          case a: Attribute if a.exprId == rnAttr.exprId =>
            a.exprId -> ((a: NamedExpression, false))
          case al @ Alias(Cast(ai: Attribute, LongType, _, _), _)
              if ai.exprId == rnAttr.exprId =>
            al.exprId -> ((al: NamedExpression, true))
        }.toMap
    }
    if (rankRefs.isEmpty) return None
    // the Project must not compute anything else FROM the rank (a rank
    // used inside another expression must keep its original producer)
    val rankUsedElsewhere = projOpt.exists(_.projectList.exists {
      case a: Attribute => false
      case al @ Alias(Cast(_: Attribute, LongType, _, _), _)
          if rankRefs.contains(al.exprId) => false
      case ne => ne.references.exists(_.exprId == rnAttr.exprId)
    })
    if (rankUsedElsewhere) return None

    val conjuncts = splitConjunctivePredicates(cond)
    val (bounds, residual) = conjuncts.partition {
      case Bound(a, _) => rankRefs.contains(a.exprId)
      case _ => false
    }
    if (bounds.size != 1) return None
    val k = bounds.head match { case Bound(_, k0) => k0 }
    if (k <= 0 || k > MaxK) return None

    val rankLong = AttributeReference(rnAttr.name, LongType, nullable = false)()
    val node = TopKPerKeyNode(keyAttrs, order, k.toInt, rankLong, input)
    // reconstruct the exact original output (names, exprIds, types)
    val restored: Seq[NamedExpression] = projOpt match {
      case None =>
        input.output :+
          Alias(Cast(rankLong, IntegerType), rnAttr.name)(exprId = rnAttr.exprId)
      case Some(p) =>
        p.projectList.map {
          case a: Attribute if a.exprId == rnAttr.exprId =>
            Alias(Cast(rankLong, IntegerType), a.name)(exprId = a.exprId)
          case al @ Alias(Cast(ai: Attribute, LongType, _, _), nm)
              if ai.exprId == rnAttr.exprId =>
            Alias(rankLong, nm)(exprId = al.exprId)
          case other => other
        }
    }
    val projected = Project(restored, node)
    Some(if (residual.isEmpty) projected
         else Filter(residual.reduce(And), projected))
  }
}

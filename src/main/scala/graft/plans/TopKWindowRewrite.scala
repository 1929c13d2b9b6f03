package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And,
  AttributeReference, EqualTo, Expression, IntegerLiteral, LessThan,
  LessThanOrEqual, RowNumber, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the standard top-k-per-key window spelling
  *
  * {{{ row_number().over(partitionBy(keys).orderBy(order)) <= k }}}
  *
  * to prune through [[TopKPerKeyNode]] BEFORE the window executes:
  *
  * {{{ Filter(rn <= k, Window(rn, TopKPerKey(keys, order, k, child))) }}}
  *
  * The heap operator reduces every key to its top k under the SAME
  * sort order map-side, so the window's shuffle moves k·partitions
  * rows per key instead of the key's full history, and WindowExec
  * sorts ≤ k rows per key instead of all of them. row_number over the
  * pruned set assigns exactly the ranks 1..k the unpruned plan would
  * keep (the heap retains the first k rows of the total order; beyond-k
  * rows are precisely those the filter discards). Row-number ties
  * under a NON-total order are arbitrary in either plan — the rewrite
  * picks one valid answer, the same contract as the window itself.
  *
  * Fires only for ROW_NUMBER (rank/dense_rank can assign ≤ k to more
  * than k rows — pruning at k would drop qualifying ties), only with a
  * non-empty partition spec (a global top-k is TakeOrderedAndProject's
  * job), and only when the filter keeps ranks from 1: `rn <= k`,
  * `rn < k`, or `rn = 1` — as the sole condition or any conjunct.
  *
  * Measured (OPTIMIZATION_r17.md; sf0.1 events, top-3 of ~600 rows per
  * key, local[32]): 1.2x over the stock WindowExec plan; the ratio
  * scales with rows-per-key since the pruned shuffle and sort stay
  * k-bounded while the stock plan's grow with the key's history.
  *
  * Install with [[TopKWindowRewrite.install]] (adds this rule to
  * `spark.experimental.extraOptimizations` and registers
  * [[GraftStrategy]], which plans the node) or via
  * `spark.sql.extensions` = graft.GraftExtensions.
  */
object TopKWindowRewrite extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(
          WindowExpression(_: RowNumber,
            WindowSpecDefinition(part, order, _)), _)), _, _, child, _))
        if part.nonEmpty && order.nonEmpty &&
          !child.isInstanceOf[TopKPerKeyNode] =>
      val rn = alias.toAttribute
      val k = conjuncts(cond).collectFirst {
        case LessThanOrEqual(a: AttributeReference, IntegerLiteral(v))
            if a.semanticEquals(rn) => v
        case LessThan(a: AttributeReference, IntegerLiteral(v))
            if a.semanticEquals(rn) => v - 1
        case EqualTo(a: AttributeReference, IntegerLiteral(1))
            if a.semanticEquals(rn) => 1
        case EqualTo(IntegerLiteral(1), a: AttributeReference)
            if a.semanticEquals(rn) => 1
      }
      k match {
        case Some(kk) if kk > 0 =>
          f.copy(child = w.copy(child = TopKPerKeyNode(part, order, kk,
            TopKPerKey.DefaultPartialFlushKeys, child)))
        case _ => f
      }
  }

  /** Add the rule + the graft planner strategy to an existing session. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    GraftStrategies.register(spark)
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** The one planner strategy covering every custom graft physical
  * operator ([[RangeScanExec]], the [[TopKPerKeyExec]] partial/final
  * pair), registered once per session (idempotently) instead of per
  * call site. [[graft.Sessions.build]] registers it eagerly and
  * [[graft.GraftExtensions]] injects it; [[RangeScan.scan]],
  * [[TopKPerKey.topK]] and [[TopKWindowRewrite.install]] still call
  * [[register]] so a session built outside Sessions (tests, shells)
  * works too.
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeScanNode(sortOrder, keyAttrs, valueAttrs, outAttrs, fold,
        excl, child) =>
      RangeScanExec(sortOrder, keyAttrs, valueAttrs, outAttrs, fold, excl,
        planLater(child)) :: Nil
    case TopKPerKeyNode(keys, order, k, flushKeys, child) =>
      TopKPerKeyExec(keys, order, k, partial = false, flushKeys,
        TopKPerKeyExec(keys, order, k, partial = true, flushKeys,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

object GraftStrategies {
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(GraftStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftStrategy
}

package graft.xrpl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}

/** One shared local SparkSession for the whole test JVM — built by
  * the same [[graft.Sessions]] builder Bench and Verify use, so the
  * posture PlanShapeSpec asserts is the posture every entrypoint
  * actually runs under.
  */
object SparkTest {
  lazy val session: SparkSession = graft.Sessions.build("4", "graft-test")

  /** Runs `body` with `n` shuffle partitions and AQE partition
    * coalescing off, so a range exchange really splits into `n`
    * partitions (at the session default, AQE coalesces a small test
    * input into one). Both confs are restored afterwards.
    */
  def withPartitions[T](n: Int)(body: => T): T = {
    val confs = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> session.conf.getOption(k) }
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }

  /** Every node of `df`'s executed plan, looking inside adaptive plans
    * and query stages.
    */
  def execNodes(df: DataFrame): Seq[SparkPlan] = {
    def nodes(sp: SparkPlan): Seq[SparkPlan] = sp.collect {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => Seq(other)
    }.flatten
    nodes(df.queryExecution.executedPlan)
  }

  /** Output partition count of the one executed node of `df` whose
    * name contains `name`.
    */
  def partitionsOf(df: DataFrame, name: String): Int = {
    val hits = execNodes(df).filter(_.nodeName.contains(name))
    assert(hits.size == 1, s"expected one $name node, got $hits")
    hits.head.outputPartitioning.numPartitions
  }
}

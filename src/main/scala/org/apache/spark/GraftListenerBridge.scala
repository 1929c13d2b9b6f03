package org.apache.spark

/** Package-private bridge (the [[org.apache.spark.sql.GraftPlanBridge]]
  * pattern one level up): exposes the listener-bus drain that
  * measurement needs — `SparkContext.listenerBus` is private[spark],
  * and sampling listener-updated counters without a drain attributes
  * late-delivered job and stage events to the wrong interval
  * (`graft.Bench`'s `env.jobs`, the job-count cases of
  * `PlanShapeSpec`).
  */
object GraftListenerBridge {
  /** Block until the async listener bus has delivered every queued
    * event, or `timeoutMs` elapses (best-effort: a timeout is
    * swallowed — measurement tooling prefers a slightly stale counter
    * over an aborted profile run).
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

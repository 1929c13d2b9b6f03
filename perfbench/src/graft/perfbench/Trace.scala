package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor counters, summed from listener events. */
final class Counters extends SparkListener {
  private val c = mutable.LinkedHashMap(Seq(
    "jobs", "stages", "tasks", "task_busy_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes").map(_ -> new AtomicLong): _*)
  val peakExecMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { c("jobs").incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { c("stages").incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_busy_ms").addAndGet(m.executorRunTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
}

/** The QueryExecution of the last successful data source V2 write,
  * such as the `noop` sink: the plan the write actually ran, already
  * final, and the planning phases it spent. */
final class LastWrite extends QueryExecutionListener {
  private val last = new AtomicReference[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) last.set(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  /** The last write since the previous call, if any. */
  def take(): Option[QueryExecution] = Option(last.getAndSet(null))
}

/** Optional tracing: a listener plus span helpers. With tracing off
  * every helper is a plain call and no listener is registered.
  */
final class Trace(val spark: SparkSession, val on: Boolean) {
  val counters: Option[Counters] =
    if (on) { val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c) } else None

  /** Wait for queued listener events so counters cover every job so far. */
  def drain(): Unit = if (on)
    org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext, 10000)

  def snapshot(): Map[String, Long] = { drain(); counters.map(_.snapshot).getOrElse(Map.empty) }

  def stop(): Unit = counters.foreach(spark.sparkContext.removeSparkListener)
}

object Trace {
  def now(): Long = System.nanoTime()
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = { val t0 = now(); val a = body; (a, ms(t0)) }

  /** The plan as run: the final AQE plan of a DataFrame whose own
    * action (such as `collect`) has run. On one that has not run, AQE
    * would execute the query stages to get there. */
  def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
    case p => p
  }

  /** Every node of a plan, through AQE query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.finalPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** (files, bytes) the file scans of an executed plan selected. */
  def scanned(df: DataFrame): (Long, Long) = {
    val scans = nodes(finalPlan(df)).filter(_.nodeName.startsWith("Scan "))
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum)
  }

  /** Bytes held by persisted blocks, memory plus disk. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Regular-file count and bytes under a directory tree. */
  def dirSize(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val files = s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(java.nio.file.Files.size).sum)
      } finally s.close()
    }
  }
}

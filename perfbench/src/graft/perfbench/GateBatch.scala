package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

import graft.{SparkEntry, Verify}

/** gate_batch: registered gates evaluated through the `noop` sink, the
  * way the catalog's batch pipeline runs them. Set-up is one cold pass
  * over the gates, which also builds the shared memos they use, and
  * warm-up reps; each timed rep then runs every gate once in a seeded
  * order.
  */
final class GateBatch(spark: SparkSession, tr: Trace, res: Result, inDir: String,
    workDir: String, root: String) extends Workload {

  private val manifest = new ObjectMapper().readTree(new java.io.File(s"$inDir/manifest.json"))
  private val data = s"$root/${manifest.get("data").asText}"
  private val gates = manifest.get("gates").elements().asScala.map(_.asText).toIndexedSeq
  private val order = manifest.get("order").elements().asScala
    .map(_.elements().asScala.map(_.asText).toIndexedSeq).toIndexedSeq
  private val warmReps = manifest.get("warm_reps").asInt
  private val customExecs = Seq("GlobalCumsum", "RangeForwardFill", "TopKPerKey")
  private var evals = 0
  /** With tracing on, the noop sink's own QueryExecution of each evaluation. */
  private val writes = if (tr.on) {
    val l = new LastWrite
    spark.listenerManager.register(l)
    Some(l)
  } else None

  private def query(g: String): DataFrame = SparkEntry.queries(g)(spark, data)
  private def sink(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def verifyDir(g: String) = s"$workDir/verify/$g"

  /** The first, cold evaluation of every gate, which builds the shared
    * memos; it writes each gate's canonical result, as a batch
    * pipeline run would, for [[check]] to digest. Then `warmReps` reps
    * through the noop sink, so the first timed rep is not near-cold. */
  def setup(): Double = {
    val (_, ms) = Trace.timed {
      gates.foreach { g =>
        try Verify.canonical(query(g)).write.mode("overwrite").parquet(verifyDir(g))
        catch { case e: Exception => res.fail(s"set-up $g: ${e.getMessage}") }
      }
      for (_ <- 1 to warmReps; g <- gates)
        try sink(query(g)) catch { case e: Exception => res.fail(s"warm-up $g: ${e.getMessage}") }
    }
    res.set("setup.gates_s", ms / 1000)
    ms / 1000
  }

  /** One timed evaluation: construct, plan, run. With tracing on, every
    * other evaluation also counts jobs launched before the action
    * (eager collects and checkpoints) and splits its time with the
    * optimization and planning phases of the sink's own query; every
    * evaluation's final plan, as the sink ran it, is searched for the
    * custom execs. */
  private def eval(g: String): Unit = {
    val traced = tr.on && evals % 2 == 0
    evals += 1
    res.attempted += 1
    try {
      val jobs0 = if (traced) tr.snapshot().getOrElse("jobs", 0L) else 0L
      val t0 = Trace.now()
      val df = query(g)
      val constructMs = Trace.ms(t0)
      val jobs1 = if (traced) tr.snapshot().getOrElse("jobs", 0L) else 0L
      val t1 = Trace.now()
      sink(df)
      val ms = constructMs + Trace.ms(t1)
      res.items += 1
      res.op(ms, traced)
      res.sample(s"gate.$g.ms", ms)
      writes.foreach { w =>
        tr.drain()
        w.take().foreach { qe =>
          val names = Trace.nodes(qe.executedPlan).map(_.nodeName)
          customExecs.filter(x => names.exists(_.contains(x)))
            .foreach(x => res.set(s"tag.$g.$x", 1))
          if (traced) {
            val phases = qe.tracker.phases
            val planMs = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
              .flatMap(phases.get).map(_.durationMs).sum.toDouble
            res.add("gate.construct_s", constructMs / 1000)
            res.add("gate.construct_jobs", (jobs1 - jobs0).toDouble)
            res.add("gate.plan_s", planMs / 1000)
            res.add("gate.exec_s", (ms - constructMs - planMs) / 1000)
          }
        }
      }
    } catch { case e: Exception => res.fail(s"gate $g: ${e.getMessage}") }
  }

  /** A fixed number of whole reps, sized to take about the run's
    * seconds: gate times still fall rep by rep as the JIT compiles, so
    * a rep count that varied with speed would shift the medians. */
  def run(): Unit = order.foreach(_.foreach(eval))

  /** Each gate's canonical result, as written at set-up and read
    * back, must carry the committed digest for this data set. */
  def check(): Unit = {
    val digests = manifest.get("digests").asText
    val expected = new ObjectMapper().readTree(new java.io.File(s"$root/$digests"))
    gates.foreach { g =>
      val ok = try Verify.digestOf(spark.read.parquet(verifyDir(g))) == expected.get(g).asText
      catch { case e: Exception => System.err.println(e.getMessage); false }
      if (!ok) res.fail(s"gate $g: digest differs from $digests")
    }
  }
}

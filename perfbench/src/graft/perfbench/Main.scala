package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{MachineState, Sessions}

/** What one workload run measured. The launcher (perfbench/run.py)
  * turns it into the benchmark's metrics.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** time of every timed operation, ms; traced or not */
  val ops = mutable.ArrayBuffer.empty[Double]
  val opsTraced = mutable.ArrayBuffer.empty[Double]
  /** items completed in the timed phase: requests or gate evaluations */
  var items = 0L
  var timedS = 0.0
  var setupS = 0.0
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]

  def sample(k: String, v: Double): Unit = { samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v; () }
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0d) + v
  def set(k: String, v: Double): Unit = values(k) = v
  def op(ms: Double, traced: Boolean): Unit = { ops += ms; if (traced) opsTraced += ms; () }
  def fail(what: String): Unit = {
    failed += 1
    if (errors.length < 20) errors += what
    System.err.println(s"perfbench: FAILED $what")
  }
}

trait Workload {
  /** Preparation before the timed phase; returns its seconds, billed to setup_s. */
  def setup(): Double
  /** The timed phase: a fixed amount of work, sized by the launcher to
    * take about the run's seconds. */
  def run(): Unit
  /** Untimed correctness checks; each mismatch is a failed operation. */
  def check(): Unit
}

/** Runs one workload in this JVM and writes its [[Result]] as JSON.
  *
  * Usage: Main <workload> <input dir> <work dir> <result file>
  *        <trace 0|1> <launch epoch ms> <cores> <repo root>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, outFile, trace, launchMs, cores, root) = args
    val (steal0, total0) = MachineState.stealAndTotalJiffies
    val machineBefore = MachineState.probeJson(withSentinel = false)
    val (spark, buildMs) = Trace.timed(Sessions.build(cores, s"perfbench-$workload"))
    val sessionReadyS = (System.currentTimeMillis() - launchMs.toLong) / 1000.0
    val tr = new Trace(spark, trace == "1")
    val res = new Result
    res.set("session.build_s", buildMs / 1000)
    val wl: Workload = workload match {
      case "api_mix" => new ApiMix(spark, tr, res, inDir, workDir, root)
      case "gate_batch" => new GateBatch(spark, tr, res, inDir, workDir, root)
      case other => sys.error(s"unknown workload $other")
    }
    res.setupS = sessionReadyS + wl.setup()
    res.set("setup.session_ready_s", sessionReadyS)
    val before = tr.snapshot()
    val t0 = Trace.now()
    wl.run()
    res.timedS = Trace.secs(t0)
    val after = tr.snapshot()
    after.foreach { case (k, v) => res.set(s"exec.$k", (v - before.getOrElse(k, 0L)).toDouble) }
    tr.counters.foreach(c => res.set("exec.peak_exec_mem_bytes", c.peakExecMem.get.toDouble))
    res.set("cached_bytes", Trace.cachedBytes(spark).toDouble)
    tr.stop()
    val (_, checkMs) = Trace.timed(wl.check())
    res.set("check_s", checkMs / 1000)
    val (steal1, total1) = MachineState.stealAndTotalJiffies
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val machineAfter = MachineState.probeJson(withSentinel = false)
    val json = Json.obj(
      "attempted" -> res.attempted, "failed" -> res.failed,
      "errors" -> res.errors.toSeq, "setup_s" -> res.setupS,
      "timed_s" -> res.timedS, "items" -> res.items,
      "ops_ms" -> res.ops.toSeq, "ops_traced_ms" -> res.opsTraced.toSeq,
      "samples" -> Json.obj(res.samples.map { case (k, v) => k -> v.toSeq }.toSeq: _*),
      "values" -> Json.obj(res.values.toSeq: _*),
      "machine" -> Json.obj("steal_pct" -> stealPct,
        "before" -> Json.Raw(machineBefore), "after" -> Json.Raw(machineAfter)))
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), json.s.getBytes("UTF-8"))
    spark.stop()
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + enc(v) }.mkString("{", ",", "}"))
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def enc(v: Any): String = v match {
    case Raw(s) => s
    case null | None => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

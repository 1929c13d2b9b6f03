package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.RangeScan

/** Distributed backward as-of join (point-in-time join): every probe
  * row picks up the payload of the build row with the GREATEST build
  * time ≤ its probe time, per key — the rates-to-trades /
  * features-to-labels temporal join Spark has no native operator for.
  *
  * Implementation is the scale-correct merge formulation, not a
  * per-probe-row subquery: both sides union into one stream tagged so
  * build rows sort immediately BEFORE probe rows at equal timestamps
  * (≤ semantics), then one per-key ordered window forward-fills the
  * latest payload onto each probe row. Cost = one hash shuffle on the
  * key + one local sort per partition — same shape as a sort-merge
  * join, no range explosion, no driver loops. Keys partition uniformly
  * when the key is an entity id; for a pathological hot key use
  * [[asofBackwardBucketed]], which runs the same relation through the
  * [[graft.plans.RangeScan]] custom operator (range exchange —
  * a hot key spans many partitions — with bounded boundary carries).
  *
  * Why TWO spellings (r17, measured): the custom operator's range
  * exchange pays a RangePartitioner bound-sampling pass that
  * re-executes the tagged-union subtree once before the shuffle, and
  * its boundary pass re-reads the shuffle output. On balanced keys
  * that is all cost and no benefit — back-to-back A/B at sf0.1 read
  * j_asof_latest_order 0.65 s (window) vs 0.72-0.87 s (operator),
  * with the control gate flat — while on the skewed gate the operator
  * is the difference between a serialized hot-key task and parallel
  * fills (j_asof_skewed 1.42 → 0.66 s, −53%). So the balanced-key
  * default keeps the cheaper hash-exchange window and the skew-proof
  * entry point keeps the operator.
  *
  * The build side must be unique per (key, time) — pre-aggregate it
  * (e.g. max_by of the tiebreak column) so "latest at t" is
  * well-defined; uniqueness makes the result independent of input
  * order, matching DuckDB's ASOF JOIN semantics for the oracle.
  */
object AsOfJoin {

  /** The tagged union both formulations fill over: build rows sort
    * immediately before probe rows at equal timestamps (≤ semantics).
    */
  private def taggedUnion(probe: DataFrame, probeKey: String,
      probeTime: String, build: DataFrame, buildKey: String,
      buildTime: String, payload: Seq[String]): DataFrame = {
    val probeStruct = struct(probe.columns.map(col): _*)
    val payloadStruct = struct(payload.map(col): _*)
    val probeType = probe.select(probeStruct.as("s")).schema("s").dataType
    val payloadType = build.select(payloadStruct.as("s")).schema("s").dataType

    val b = build.select(
      col(buildKey).as("__k"), col(buildTime).as("__t"),
      lit(0).as("__side"),
      lit(null).cast(probeType).as("__probe"),
      payloadStruct.as("__pl"))
    val p = probe.select(
      col(probeKey).as("__k"), col(probeTime).as("__t"),
      lit(1).as("__side"),
      probeStruct.as("__probe"),
      lit(null).cast(payloadType).as("__pl"))
    b.unionByName(p)
  }

  private def project(filled: DataFrame, probe: DataFrame,
      payload: Seq[String], fill: String): DataFrame = {
    val probeCols = probe.columns.map(c => col(s"__probe.$c").as(c))
    val payloadCols = payload.map(c => col(s"$fill.$c").as(c))
    filled.filter(col("__side") === 1)
      .select(probeCols ++ payloadCols: _*)
  }

  /** Left-join semantics: probe rows with no earlier build row keep
    * null payloads. Output = all probe columns + `payload` columns.
    */
  def asofBackward(probe: DataFrame, probeKey: String, probeTime: String,
      build: DataFrame, buildKey: String, buildTime: String,
      payload: Seq[String]): DataFrame =
    asofFill(probe, probeKey, probeTime, build, buildKey, buildTime,
      payload, descending = false)

  /** Forward variant: every probe row picks up the build row with the
    * SMALLEST build time ≥ its probe time per key (next-quote /
    * next-event semantics). Identical machinery scanned in reverse:
    * the merge order is time-descending, so the forward fill carries
    * the nearest at-or-after payload instead. Same single key shuffle.
    */
  def asofForward(probe: DataFrame, probeKey: String, probeTime: String,
      build: DataFrame, buildKey: String, buildTime: String,
      payload: Seq[String]): DataFrame =
    asofFill(probe, probeKey, probeTime, build, buildKey, buildTime,
      payload, descending = true)

  private def asofFill(probe: DataFrame, probeKey: String,
      probeTime: String, build: DataFrame, buildKey: String,
      buildTime: String, payload: Seq[String], descending: Boolean)
      : DataFrame = {
    // build-before-probe at equal __t ⇒ fills are inclusive ("≤" for
    // the backward scan, "≥" for the forward/descending scan)
    val w = Window.partitionBy(col("__k"))
      .orderBy(if (descending) col("__t").desc else col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled =
      taggedUnion(probe, probeKey, probeTime, build, buildKey, buildTime,
        payload)
        .withColumn("__fill", last(col("__pl"), ignoreNulls = true).over(w))
    project(filled, probe, payload, "__fill")
  }

  /** Skew-proof variant: identical semantics to [[asofBackward]], but
    * no per-key window over the raw rows — a single pathological key
    * (one currency, one global feed) cannot serialize into one task.
    *
    * Since r17 this is a custom physical operator, now
    * [[graft.plans.RangeScan]] with the last-non-null fold: ONE range
    * exchange on (key, time, side) — a hot key spans many partitions —
    * and a streamed O(1)-state fill whose partition boundaries are
    * stitched by a bounded carry collected inside the operator (over
    * the SAME shuffled RDD, so both passes see one partition
    * assignment by construction). The
    * pre-r17 stock-operator spelling paid a second full-data hash
    * exchange (the pid-keyed window), a persist, a separate carry
    * aggregate + broadcast join, and an eager localCheckpoint per
    * call — all gone (j_asof_skewed 1.42 → 0.66 s at sf0.1, −53%).
    *
    * The operator's range exchange is sized by the session (shuffle
    * partitions + AQE coalescing). Results are partition-count
    * independent under the (key, time)-uniqueness contract.
    */
  def asofBackwardBucketed(probe: DataFrame, probeKey: String,
      probeTime: String, build: DataFrame, buildKey: String,
      buildTime: String, payload: Seq[String]): DataFrame = {
    val filled = RangeScan.scan(
      taggedUnion(probe, probeKey, probeTime, build, buildKey, buildTime,
        payload),
      keys = Seq(col("__k")),
      order = Seq(col("__t").asc, col("__side").asc),
      values = Seq(col("__pl") -> "__fill"), fold = RangeScan.LastNonNull)
    project(filled, probe, payload, "__fill")
  }
}

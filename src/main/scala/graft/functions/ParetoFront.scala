package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.RangeScan

/** Distributed 2-D skyline (Pareto frontier, maximizing both
  * dimensions): the rows no other row dominates, where `d` dominates
  * `r` iff d.x ≥ r.x ∧ d.y ≥ r.y with at least one strict.
  *
  * The textbook formulation is a quadratic NOT EXISTS self-join (the
  * DuckDB oracle keeps it). The scale shape used here is the classic
  * sort-scan: a row survives iff its y strictly exceeds the maximum y
  * over all rows of strictly greater x, and no same-x row has greater
  * y. That exclusive prefix-max over x-descending order runs as the
  * [[graft.plans.RangeScan]] custom operator (max fold, exclusive) —
  * ONE range exchange, per-partition streaming max, boundary offsets
  * collected bounded-by-partition-count inside the operator. Since
  * r17 this replaced the stock-operator spelling (repartitionByRange
  * + pid projection + second full-data hash exchange for the pid
  * window + persist + driver collect as a separate action + eager
  * localCheckpoint): no persist, no checkpoint, no single-task window
  * at any input size. Total cost: one hash aggregate (max y per x),
  * one range shuffle, one broadcast join back.
  */
object ParetoFront {

  /** Rows of `df` on the maximize-(x, y) Pareto frontier. Duplicate
    * frontier points all survive (they are mutually incomparable).
    * x and y must be orderable scalar columns (numeric / date /
    * timestamp / string).
    */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // one candidate row per x: only the max-y row of an x-group can
    // be on the frontier (same x, smaller y ⇒ dominated); x is unique
    // after the group-by, so the exclusive prefix over x-descending
    // order is exactly "max y over strictly greater x"
    val xg = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ym"))
    val surv = RangeScan
      .scan(xg, Nil, Seq(col(xCol).desc), Seq(col("__ym") -> "__prev"),
        RangeScan.Max, exclusive = true)
      .filter(col("__prev").isNull || col("__ym") > col("__prev"))
      .select(col(xCol).as("__sx"), col("__ym"))

    // join back: every original row at a surviving (x, max-y) point.
    // Frontier size is bounded by the number of distinct x values
    // that survive — broadcastable by the caller's contract.
    df.join(broadcast(surv),
        col(xCol) === col("__sx") && col(yCol) === col("__ym"))
      .drop("__sx", "__ym")
  }
}

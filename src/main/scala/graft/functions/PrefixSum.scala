package graft.functions

import org.apache.spark.sql.{Column, DataFrame}

import graft.plans.RangeScan

/** Distributed global cumulative sum.
  *
  * `Window.orderBy(...)` with no partition moves the whole input to a
  * single task — correct, but a flat-line on a cluster. Since r16 the
  * scale-safe two-pass prefix sum is a single custom physical operator
  * ([[graft.plans.RangeScan]] with the sum fold): ONE range exchange
  * (sized by `spark.sql.shuffle.partitions`, AQE-coalescible —
  * scale-adaptive, not a hard-coded constant), per-partition
  * sequential accumulation, and a partition-count-bounded totals pass
  * whose offsets seed each partition's running sum. See the operator's scaladoc for why the
  * stock-operator spellings were strictly worse (an extra full-data
  * hash exchange + eager collect/persist/checkpoint per call) or
  * unsound (two lazy materializations of one range exchange can
  * sample different bounds).
  *
  * Value expression types are preserved (pass a DECIMAL cast for
  * exact, order-independent totals — see [[Cols]]). Multiple value
  * columns cumsum in ONE pass. Ties must be fully broken by the sort
  * keys for a deterministic result — the caller contract, unchanged.
  */
object PrefixSum {

  /** df with column `out` = running sum of `value` over rows globally
    * ordered by `sortKeys` (ties must be broken by the keys for a
    * deterministic result). The operator's range exchange is sized by
    * the session (shuffle partitions + AQE coalescing), which scales
    * with the deployment instead of pinning a local constant. Results
    * are partition-count independent under the tie-breaking contract.
    */
  def globalCumsum(df: DataFrame, sortKeys: Seq[Column], value: Column,
      out: String): DataFrame =
    globalCumsumMulti(df, sortKeys, Seq(value -> out))

  /** Multi-column variant: every (value, outName) pair gets its own
    * running sum, sharing the single range partitioning and totals
    * pass.
    */
  def globalCumsumMulti(df: DataFrame, sortKeys: Seq[Column],
      values: Seq[(Column, String)]): DataFrame =
    RangeScan.scan(df, Nil, sortKeys, values, RangeScan.Sum)
}

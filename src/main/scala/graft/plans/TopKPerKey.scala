package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator custom plan: top-k rows per key WITHOUT a per-key
  * sort — the one SURVEY-preference-(c) operator the built-ins can't
  * express efficiently.
  *
  * The DataFrame spelling (`row_number().over(partitionBy(key)
  * .orderBy(...)) <= k`) plans a WindowExec: a full shuffle of every
  * row, then a full sort of every key's rows, to keep only k of them.
  * This operator keeps a bounded heap of k rows per key instead:
  *
  *  - **partial pass** (map-side, no distribution requirement): each
  *    input partition reduces to ≤ k rows per key it has seen — the
  *    shuffle then moves at most k·partitions rows per key, not the
  *    key's full history (the aggregation-style combine, applied to
  *    top-k);
  *  - **final pass** (requires [[ClusteredDistribution]] on the key,
  *    which EnsureRequirements satisfies with one hash shuffle):
  *    merges the partial heaps to the exact per-key top-k.
  *
  * Heap comparisons use a codegen'd row ordering
  * ([[GenerateOrdering]]); per-partition memory is k rows per
  * distinct key — the same bound as an aggregation buffer. Unlike
  * [[org.apache.spark.sql.execution.aggregate.HashAggregateExec]],
  * which falls back to sort-based spill when its map outgrows memory,
  * the partial pass here EMITS-AND-RESETS instead: past `flushKeys`
  * distinct keys the buffered heaps are streamed downstream and the
  * map restarts empty. The partial pass may then emit more than k
  * rows per key (several heaps' worth), which costs shuffle volume
  * but never correctness — the final merge is exact regardless of how
  * many partial heaps a key arrives in. The FINAL pass never flushes
  * (it must see a key's every partial row before emitting); its
  * per-partition key count is already divided by the shuffle, the
  * same residual exposure as a final HashAggregate.
  *
  * The ordering must be total (include a tiebreaker) for
  * deterministic results, the same contract as every rank gate.
  */
object TopKPerKey {

  /** Distinct-key cap of the partial pass's heap map; above it the
    * buffered heaps are emitted and the map resets. Session-overridable
    * via `spark.graft.topk.partialFlushKeys` (tests force tiny caps).
    */
  val DefaultPartialFlushKeys: Int = 1 << 16

  /** Top `k` rows per `keys` group, ordered by `order` — (column
    * name, descending?) pairs, first k under that sort. The sort list
    * is built as pure catalyst objects (no Column conversion: the
    * Spark 4 converter leaves connect-internal node references inside
    * the produced SortOrder, which are not task-serializable).
    * Output columns = input columns; output order is unspecified
    * (sort afterwards if needed).
    */
  def topK(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    GraftStrategies.register(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      analyzed.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n"))
    val keyExprs: Seq[Expression] = keys.map(attr)
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    val flushKeys = spark.conf.getOption("spark.graft.topk.partialFlushKeys")
      .map(_.toInt).getOrElse(DefaultPartialFlushKeys)
    require(flushKeys > 0, "partialFlushKeys must be positive")
    GraftPlanBridge.ofRows(spark,
      TopKPerKeyNode(keyExprs, sortOrders, k, flushKeys, analyzed))
  }

  /** [[topK]] plus a 1-based rank column under the same ordering —
    * assigned WITHOUT a window. The reduced ≤k rows per key are
    * collected into one bounded array per key (a hash aggregate that
    * reuses the clustering the final pass already produced — no extra
    * exchange), sorted by an inline comparator, and re-exploded with
    * the position as the rank. This is the drop-in replacement for the
    * `row_number().over(partitionBy(key).orderBy(...)) <= k` spelling:
    * that plan shuffles and SORTS every input row per key; this one
    * heap-reduces first and only ever sorts k-element arrays.
    *
    * NULL ordering values sort exactly as the heap's codegen'd
    * [[SortOrder]] ranks them (ascending → nulls first, descending →
    * nulls last — Catalyst's defaults), so a row the heap kept for a
    * NULL score cannot resurface at a different rank here. An oracle
    * compared against this output must spell the same null order. The
    * rank column is IntegerType, matching `row_number()`.
    */
  def topKRanked(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int, rankCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, posexplode}
    val payload = df.columns.filterNot(keys.contains)
    require(payload.nonEmpty, "need at least one non-key column")
    // An order column that is also a key would be excluded from the
    // collected struct, and the comparator's reference to it would die
    // at analysis as an opaque unresolved-field error — fail with the
    // contract instead. (Ranking by a key is meaningless anyway: it is
    // constant within the group.)
    require(order.forall { case (c, _) => payload.contains(c) },
      s"order columns must be non-key payload columns; offending: " +
        order.collect { case (c, _) if !payload.contains(c) => c }.mkString(", "))
    require(!df.columns.contains(rankCol),
      s"rank column $rankCol collides with an input column")
    val cases = order.map { case (c, desc) =>
      val (lt, gt) = if (desc) (1, -1) else (-1, 1)
      // null branch mirrors SortOrder's default null ordering: for
      // ascending a null ranks BEFORE any value (-1 on the left), for
      // descending AFTER (the sign pair flips with lt/gt)
      s"WHEN l.`$c` IS NULL AND r.`$c` IS NOT NULL THEN $lt " +
        s"WHEN l.`$c` IS NOT NULL AND r.`$c` IS NULL THEN $gt " +
        s"WHEN l.`$c` < r.`$c` THEN $lt WHEN l.`$c` > r.`$c` THEN $gt"
    }.mkString(" ")
    val top = topK(df, keys, order, k)
      .groupBy(keys.map(col): _*)
      .agg(expr(s"collect_list(struct(${payload.map(c => s"`$c`").mkString(", ")}))")
        .as("__rows"))
      .withColumn("__sorted",
        expr(s"array_sort(__rows, (l, r) -> CASE $cases ELSE 0 END)"))
    top
      .select(keys.map(col) :+ posexplode(col("__sorted")).as(Seq("__pos", "__r")): _*)
      .select(keys.map(col) ++ payload.map(c => col(s"__r.$c").as(c)) :+
        (col("__pos") + 1).cast("int").as(rankCol): _*)
  }
}

case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, flushKeys: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan)
      : LogicalPlan = copy(child = c)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, flushKeys: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // the final pass preserves the clustering it required
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = output
    val keyExprs = keys
    val sortOrders = order
    val limit = k
    // only the partial pass may emit-and-reset; the final pass must
    // hold every key it owns until its input is exhausted
    val flushThreshold = if (partial) flushKeys else Int.MaxValue
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = GenerateOrdering.generate(sortOrders, childOutput)
      // min-heap under the REVERSED ordering ⇒ head = the worst of
      // the current k, evicted when a better row arrives
      var heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]

      def insert(row: InternalRow): Unit = {
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](
            limit, ordering.reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }

      def drain(): Iterator[InternalRow] = {
        val snapshot = heaps.values.asScala.toArray
        heaps = new java.util.HashMap // release the map, keep the heaps
        snapshot.iterator.flatMap(_.iterator.asScala)
      }

      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        private def advance(): Unit =
          while (!out.hasNext && (iter.hasNext || !heaps.isEmpty)) {
            var flushed = false
            while (!flushed && iter.hasNext) {
              insert(iter.next())
              if (heaps.size >= flushThreshold) {
                out = drain()
                flushed = true
              }
            }
            if (!flushed) out = drain()
          }
        override def hasNext: Boolean = { advance(); out.hasNext }
        override def next(): InternalRow = { advance(); out.next() }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

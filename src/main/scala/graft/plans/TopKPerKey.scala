package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, Descending, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

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
  *    merges the partial heaps to the exact per-key top-k and, for
  *    [[TopKPerKey.topKRanked]], sorts each key's ≤ k rows with the
  *    heap's ordering and emits their rank — no second operator.
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
    * name, descending?) pairs, first k under that sort. Output columns
    * = input columns; output order is unspecified (sort afterwards if
    * needed).
    */
  def topK(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = node(df, keys, order, k, None)

  /** [[topK]] plus a 1-based rank column under the same ordering —
    * assigned WITHOUT a window: the final pass sorts each key's ≤ k
    * heap rows with the heap's own codegen'd ordering and appends the
    * rank. This is the drop-in replacement for the
    * `row_number().over(partitionBy(key).orderBy(...)) <= k` spelling:
    * that plan shuffles and SORTS every input row per key; this one
    * heap-reduces first and only ever sorts k rows per key.
    *
    * NULL ordering values rank exactly as the heap keeps them
    * (ascending → nulls first, descending → nulls last — Catalyst's
    * [[SortOrder]] defaults) by construction: the rank comes from the
    * same ordering that filled the heap. An oracle compared against
    * this output must spell the same null order. Output = keys ++ the
    * other input columns ++ the rank, a non-null IntegerType column
    * like `row_number()`'s; row order is unspecified.
    */
  def topKRanked(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int, rankCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    // Ranking by a key is meaningless (it is constant within the
    // group), so such an order column is a caller error.
    require(order.forall { case (c, _) => payload.contains(c) },
      s"order columns must be non-key payload columns; offending: " +
        order.collect { case (c, _) if !payload.contains(c) => c }.mkString(", "))
    require(!df.columns.contains(rankCol),
      s"rank column $rankCol collides with an input column")
    // the alias gives the rank a Project-made id, which the analyzer
    // renews when a plan joins this result with itself (it renews no
    // attribute a custom node produces)
    node(df, keys, order, k, Some(rankCol))
      .select((keys ++ payload).map(col) :+ col(rankCol).as(rankCol): _*)
  }

  /** The one [[TopKPerKeyNode]] builder behind [[topK]] and
    * [[topKRanked]]. The sort list is built as pure catalyst objects
    * (no Column conversion: the Spark 4 converter leaves
    * connect-internal node references inside the produced SortOrder,
    * which are not task-serializable).
    */
  private def node(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int,
      rankCol: Option[String]): DataFrame = {
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
    val rank = rankCol.map(AttributeReference(_, IntegerType, nullable = false)())
    GraftPlanBridge.ofRows(spark,
      TopKPerKeyNode(keyExprs, sortOrders, k, flushKeys, rank, analyzed))
  }
}

/** `rank`, when set, is the 1-based position of each kept row within
  * its key under `order`; the final exec emits it after the input
  * columns.
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, flushKeys: Int, rank: Option[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override protected def withNewChildInternal(c: LogicalPlan)
      : LogicalPlan = copy(child = c)
}

/** One pass of the operator. Only the final pass carries a `rank`. */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, flushKeys: Int, rank: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {
  require(!partial || rank.isEmpty, "the partial pass carries no rank")

  override def output: Seq[Attribute] = child.output ++ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // the final pass preserves the clustering it required
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val allAttrs = output
    val ranked = rank.isDefined
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

      // ranked: each heap sorted by the same ordering, row ++ rank
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      lazy val outProj = UnsafeProjection.create(allAttrs, allAttrs)
      def ranks(heap: java.util.PriorityQueue[InternalRow])
          : Iterator[InternalRow] = {
        val rows = heap.toArray(new Array[InternalRow](heap.size))
        java.util.Arrays.sort(rows, ordering)
        rows.iterator.zipWithIndex.map { case (row, i) =>
          rankRow.setInt(0, i + 1)
          outProj(joined(row, rankRow))
        }
      }

      def drain(): Iterator[InternalRow] = {
        val snapshot = heaps.values.asScala.toArray
        heaps = new java.util.HashMap // release the map, keep the heaps
        if (ranked) snapshot.iterator.flatMap(ranks)
        else snapshot.iterator.flatMap(_.iterator.asScala)
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

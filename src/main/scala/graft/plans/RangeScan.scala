package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, GenericInternalRow, JoinedRow,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort,
  UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution,
  OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Segmented running fold as ONE physical operator over ONE range
  * exchange — the scale-safe shape behind the global cumulative sum
  * ([[graft.functions.PrefixSum]]), the skyline's exclusive prefix
  * max ([[graft.functions.ParetoFront]]) and the skew-proof as-of
  * forward fill ([[graft.functions.AsOfJoin.asofBackwardBucketed]]).
  *
  * Semantics: over rows globally ordered by `sortOrder`, whose PREFIX
  * is the key attributes, emit every input row plus one column per
  * value: the [[Fold]] of that value over the rows of the current key
  * run up to and including the row (or strictly before it, when
  * `exclusive`). The fold resets wherever the key prefix changes;
  * with no keys the whole input is one run (the global cumsum). Key
  * runs are contiguous because the sort order puts the keys first.
  *
  * Why one operator: spelled with stock operators, the two passes
  * cost a SECOND full-data hash exchange (the pid-keyed window) plus
  * an eager persist, driver collect and localCheckpoint per call — or,
  * as a lazy single tree whose two branches each materialize their own
  * copy of the range exchange, they are UNSOUND: `RangePartitioner`
  * samples its bounds with an RDD-id-dependent seed, so two
  * materializations of one logical exchange can split rows differently
  * and the carries then land on the wrong partitions (seen as a
  * nondeterministic rank drift on stats_mannwhitney /
  * store_hilbert_skipping). The operator makes the consistency
  * structural:
  *
  *  - REQUIRE [[OrderedDistribution]] on the sort order (planned by
  *    EnsureRequirements as one range exchange, sized by
  *    `spark.sql.shuffle.partitions` and AQE-coalescible) and
  *    per-partition ordering on the same keys. A hot key spans many
  *    range partitions instead of serializing into one task;
  *  - pass 1 is ONE bounded job over the SAME shuffled RDD: per
  *    partition, the key of its last run and that run's fold state
  *    (≤ one small summary per partition — bounded by the partition
  *    count, never by the data). The shuffle map stage is computed
  *    once and its files are re-read by pass 2, so both passes see
  *    the identical partition assignment BY CONSTRUCTION;
  *  - the driver folds the summaries in partition-index order into
  *    the carry entering each partition: the state of the run that
  *    crosses into it. A summary whose key equals the carried key
  *    covers a partition held entirely by that run and merges into
  *    the carry; any other summary starts a new carry;
  *  - pass 2 streams each partition once with O(1) fold state, seeded
  *    with its carry — no window buffering, no persist, no checkpoint.
  *
  * Determinism contract: ties must be fully broken by the sort order
  * (or be order-insensitive for the fold, e.g. as-of probe rows,
  * which never update it). Accumulation is sequential in sort order
  * within each partition, seeded with its carry, and the carries are
  * merged partition by partition, so integer / decimal results are
  * exact. Double accumulation SEEDS each partition with its carry
  * ((carry + v1) + v2 + …), a different FP association than a keyed
  * window's local-sum-then-offset ((v1 + … + vk) + offset) — last-ulp
  * drift on non-first partitions is possible in principle; the
  * committed digests are byte-identical because every double-valued
  * call site quantizes or the inputs are dyadic. Results are
  * run-to-run deterministic either way: one materialization, one
  * partition assignment, one fold order.
  *
  * Overflow parity with the ANSI Sum a window would use: Long
  * accumulation uses `Math.addExact` (throws past 2^63), decimal
  * emission checks the Sum result precision (p+10 capped at 38) and
  * throws when exceeded — silent wraps stay impossible in both
  * engines.
  */
object RangeScan {

  /** The per-value accumulator a scan folds with. */
  sealed trait Fold extends Serializable
  /** Null-skipping running sum, typed like Catalyst's `Sum`. */
  case object Sum extends Fold
  /** Null-skipping running max, typed like the input. */
  case object Max extends Fold
  /** The most recent non-null value: a forward fill. */
  case object LastNonNull extends Fold

  /** `df` ++ one `fold` column per (value, outName), over rows globally
    * ordered by (`keys` ++ `order`), reset wherever `keys` changes.
    * `exclusive` folds only the strictly preceding rows of the run
    * (null on its first row) — e.g. the skyline prefix-max,
    * `max(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    * PRECEDING)` without the single-task window.
    */
  def scan(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      values: Seq[(Column, String)], fold: Fold,
      exclusive: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    GraftStrategies.register(spark)

    // Pre-project the key and value expressions so ordinary analysis
    // resolves them (they may be arbitrary expressions, not just
    // columns); the helper columns are dropped again after the
    // operator. The sort order resolves the same way: a throwaway
    // sortWithinPartitions is analyzed and its resolved SortOrder list
    // is lifted out (the Spark 4 Column→Expression bridge yields
    // opaque column-node wrappers, so name resolution must go through
    // the analyzer).
    def kCol(i: Int) = s"__scan_k_$i"
    def vCol(i: Int) = s"__scan_v_$i"
    val prepared = df.select(col("*") +:
        (keys.zipWithIndex.map { case (k, i) => k.as(kCol(i)) } ++
          values.zipWithIndex.map { case ((v, _), i) => v.as(vCol(i)) }): _*)
      .sortWithinPartitions(keys.indices.map(i => col(kCol(i))) ++ order: _*)
    val (sortOrder, analyzed) = prepared.queryExecution.analyzed match {
      case Sort(so, _, child, _) => (so, child)
      case other => throw new IllegalStateException(
        s"expected analyzed Sort, got ${other.getClass}")
    }
    val (keyAttrs, valueAttrs) =
      analyzed.output.takeRight(keys.size + values.size).splitAt(keys.size)
    val outAttrs: Seq[Attribute] = values.zip(valueAttrs).map {
      case ((_, out), v) =>
        AttributeReference(out, resultType(v.dataType, fold))()
    }
    val node = RangeScanNode(sortOrder, keyAttrs, valueAttrs, outAttrs,
      fold, exclusive, analyzed)
    GraftPlanBridge.ofRows(spark, node)
      .drop(keys.indices.map(kCol) ++ values.indices.map(vCol): _*)
  }

  /** Accumulator per value column: null-skipping running fold with the
    * stock window aggregate's semantics (stays null until the first
    * non-null). Narrow integer/float inputs dispatch on their actual
    * type (an UnsafeRow zero-fills its slot before putInt / putFloat,
    * so an unconditional getLong/getDouble would read zero-extended or
    * bit-reinterpreted garbage).
    */
  private[plans] def makeAccs(inTypes: Seq[DataType], fold: Fold)
      : Array[CumAcc] = inTypes.map[CumAcc] { dt =>
    fold match {
      case Sum => dt match {
        case dt: DecimalType => new DecimalAcc(dt.precision, dt.scale)
        case ByteType | ShortType | IntegerType | LongType => new LongAcc(dt)
        case FloatType | DoubleType => new DoubleAcc(dt)
        case other => throw new IllegalStateException(s"cumsum over $other")
      }
      case Max => new MaxAcc(dt)
      case LastNonNull => new LastAcc(dt)
    }
  }.toArray

  /** Result type of the running fold — Sum matches Catalyst's `Sum` so
    * the operator is a drop-in for `sum(...).over(window)` (dtype
    * parity with the DuckDB oracle depends on it); Max and LastNonNull
    * preserve the input type like Catalyst's `Max` and `last`.
    */
  private[plans] def resultType(dt: DataType, fold: Fold): DataType =
    fold match {
      case Max | LastNonNull => dt
      case Sum => dt match {
        case dt: DecimalType =>
          DecimalType(math.min(dt.precision + 10, DecimalType.MAX_PRECISION),
            dt.scale)
        case ByteType | ShortType | IntegerType | LongType => LongType
        case FloatType | DoubleType => DoubleType
        case other => throw new IllegalArgumentException(
          s"cumsum over unsupported type $other")
      }
    }

  /** A key run's fold state at a partition boundary: the run's key
    * (null without keys) and one accumulator state per value. Pass 1
    * returns one per non-empty partition (its last run); the driver
    * turns them into the carry entering each partition. Top-level so
    * the task result does not capture the exec node.
    */
  private[plans] case class Carry(key: UnsafeRow, state: Array[Any])

  /** Per-partition fold state shared by both passes: the current run's
    * key and one accumulator per value. Without keys no key is
    * projected or compared.
    */
  private[plans] final class Runs(keyAttrs: Seq[Attribute],
      valueAttrs: Seq[Attribute], input: Seq[Attribute], fold: Fold) {
    private val keyProj =
      if (keyAttrs.isEmpty) null else UnsafeProjection.create(keyAttrs, input)
    private val valueProj = UnsafeProjection.create(valueAttrs, input)
    private var key: UnsafeRow = null
    val accs: Array[CumAcc] = makeAccs(valueAttrs.map(_.dataType), fold)

    def seed(c: Carry): Unit = {
      key = c.key
      var i = 0
      while (i < accs.length) { accs(i).merge(c.state(i)); i += 1 }
    }

    /** Starts a new run when `row`'s key differs from the current one;
      * returns `row`'s projected values.
      */
    def enter(row: InternalRow): InternalRow = {
      if (keyProj != null) {
        val k = keyProj(row)
        if (key == null || k != key) {
          key = k.copy()
          accs.foreach(_.reset())
        }
      }
      valueProj(row)
    }

    def carry: Carry = Carry(key, accs.map(_.state))
  }
}

case class RangeScanNode(sortOrder: Seq[SortOrder],
    keyAttrs: Seq[Attribute], valueAttrs: Seq[Attribute],
    outAttrs: Seq[Attribute], fold: RangeScan.Fold, exclusive: Boolean,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

case class RangeScanExec(sortOrder: Seq[SortOrder],
    keyAttrs: Seq[Attribute], valueAttrs: Seq[Attribute],
    outAttrs: Seq[Attribute], fold: RangeScan.Fold, exclusive: Boolean,
    child: SparkPlan) extends UnaryExecNode {
  import RangeScan.{Carry, Runs}

  // the names the plan audits and the benchmark's exec tags know
  override def nodeName: String = fold match {
    case RangeScan.LastNonNull => "RangeForwardFill"
    case RangeScan.Sum | RangeScan.Max => "GlobalCumsum"
  }

  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(sortOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(sortOrder)
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = sortOrder

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kAttrs = keyAttrs
    val vAttrs = valueAttrs
    val oAttrs = outAttrs
    val allAttrs = output
    val outTypes = outAttrs.map(_.dataType)
    val f = fold
    val excl = exclusive
    val shuffled = child.execute()

    // Pass 1 (one bounded job over the SAME shuffled RDD): the last
    // run of each non-empty partition, ≤ 1 summary per partition.
    val summaries: Map[Int, Carry] = shuffled
      .mapPartitionsWithIndex { (idx, iter) =>
        if (!iter.hasNext) Iterator.empty
        else {
          val runs = new Runs(kAttrs, vAttrs, childOutput, f)
          val accs = runs.accs
          iter.foreach { row =>
            val v = runs.enter(row)
            var i = 0
            while (i < accs.length) { accs(i).add(v, i); i += 1 }
          }
          Iterator.single(idx -> runs.carry)
        }
      }.collect().toMap

    // Driver fold in partition-index order (bounded by the partition
    // count): the carry entering each partition.
    val nParts = shuffled.getNumPartitions
    val carries = new Array[Carry](nParts)
    val running = RangeScan.makeAccs(vAttrs.map(_.dataType), f)
    var key: UnsafeRow = null
    var p = 0
    while (p < nParts) {
      carries(p) = Carry(key, running.map(_.state))
      summaries.get(p).foreach { s =>
        if (s.key != key) { // a run that starts inside p
          key = s.key
          running.foreach(_.reset())
        }
        var i = 0
        while (i < running.length) { running(i).merge(s.state(i)); i += 1 }
      }
      p += 1
    }

    // Pass 2: stream each partition once, emitting row ++ running
    // folds (in exclusive mode the row's own value is added AFTER
    // emission, so each row sees only strict predecessors).
    shuffled.mapPartitionsWithIndex { (idx, iter) =>
      val runs = new Runs(kAttrs, vAttrs, childOutput, f)
      runs.seed(carries(idx))
      val accs = runs.accs
      val foldRow = new GenericInternalRow(accs.length)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(allAttrs, childOutput ++ oAttrs)
      iter.map { row =>
        val v = runs.enter(row)
        var j = 0
        while (j < accs.length) {
          if (excl) {
            foldRow.update(j, accs(j).emit(outTypes(j)))
            accs(j).add(v, j)
          } else {
            accs(j).add(v, j)
            foldRow.update(j, accs(j).emit(outTypes(j)))
          }
          j += 1
        }
        outProj(joined(row, foldRow))
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Null-skipping running-fold state machine; `state` must be a small
  * serializable value (it crosses the driver in the summary collect).
  */
private[plans] sealed trait CumAcc extends Serializable {
  def add(row: InternalRow, i: Int): Unit
  def merge(state: Any): Unit
  def state: Any
  def emit(outType: DataType): Any
  def reset(): Unit
}

private[plans] final class LongAcc(inType: DataType) extends CumAcc {
  private var has = false
  private var acc = 0L
  // dispatch on the INPUT type: an UnsafeRow stores narrow integers in
  // a zero-filled 8-byte slot, so getLong on an IntegerType column
  // would zero-extend negatives into garbage (r16 ADVICE)
  private def read(row: InternalRow, i: Int): Long = inType match {
    case LongType => row.getLong(i)
    case IntegerType => row.getInt(i).toLong
    case ShortType => row.getShort(i).toLong
    case ByteType => row.getByte(i).toLong
    case other => throw new IllegalStateException(s"LongAcc over $other")
  }
  def add(row: InternalRow, i: Int): Unit =
    if (!row.isNullAt(i)) {
      val v = read(row, i)
      acc = if (has) Math.addExact(acc, v) else v
      has = true
    }
  def merge(state: Any): Unit = state match {
    case null => ()
    case l: java.lang.Long =>
      acc = if (has) Math.addExact(acc, l.longValue) else l.longValue
      has = true
  }
  def state: Any = if (has) java.lang.Long.valueOf(acc) else null
  def emit(outType: DataType): Any = state
  def reset(): Unit = { has = false; acc = 0L }
}

private[plans] final class DoubleAcc(inType: DataType) extends CumAcc {
  private var has = false
  private var acc = 0.0
  private def read(row: InternalRow, i: Int): Double = inType match {
    case DoubleType => row.getDouble(i)
    case FloatType => row.getFloat(i).toDouble
    case other => throw new IllegalStateException(s"DoubleAcc over $other")
  }
  def add(row: InternalRow, i: Int): Unit =
    if (!row.isNullAt(i)) {
      acc = if (has) acc + read(row, i) else read(row, i)
      has = true
    }
  def merge(state: Any): Unit = state match {
    case null => ()
    case d: java.lang.Double =>
      acc = if (has) acc + d.doubleValue else d.doubleValue
      has = true
  }
  def state: Any = if (has) java.lang.Double.valueOf(acc) else null
  def emit(outType: DataType): Any = state
  def reset(): Unit = { has = false; acc = 0.0 }
}

/** Null-skipping running max over any atomic (orderable) type. Values
  * are copied out of their source rows ([[InternalRow.copyValue]]) so
  * the retained max never aliases a reused row buffer; the state
  * crosses the driver in the summary collect like the sum states
  * (UTF8String / Decimal / boxed primitives are all serializable).
  */
private[plans] final class MaxAcc(inType: DataType) extends CumAcc {
  private val ordering =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(inType)
  private var acc: Any = null
  def add(row: InternalRow, i: Int): Unit =
    if (!row.isNullAt(i)) {
      val v = row.get(i, inType)
      if (acc == null || ordering.compare(v, acc) > 0)
        acc = InternalRow.copyValue(v)
    }
  def merge(state: Any): Unit =
    if (state != null && (acc == null || ordering.compare(state, acc) > 0))
      acc = state
  def state: Any = acc
  def emit(outType: DataType): Any = acc
  def reset(): Unit = acc = null
}

/** The most recent non-null value, of any type (structs included —
  * the as-of payload). Copied out of its source row like [[MaxAcc]];
  * a merged state is later than the current one, so it replaces it.
  */
private[plans] final class LastAcc(inType: DataType) extends CumAcc {
  private var acc: Any = null
  def add(row: InternalRow, i: Int): Unit =
    if (!row.isNullAt(i)) acc = InternalRow.copyValue(row.get(i, inType))
  def merge(state: Any): Unit = if (state != null) acc = state
  def state: Any = acc
  def emit(outType: DataType): Any = acc
  def reset(): Unit = acc = null
}

private[plans] final class DecimalAcc(p: Int, s: Int) extends CumAcc {
  private var acc: java.math.BigDecimal = null
  def add(row: InternalRow, i: Int): Unit =
    if (!row.isNullAt(i)) {
      val v = row.getDecimal(i, p, s).toJavaBigDecimal
      acc = if (acc == null) v else acc.add(v)
    }
  def merge(state: Any): Unit = state match {
    case null => ()
    case bd: java.math.BigDecimal =>
      acc = if (acc == null) bd else acc.add(bd)
  }
  def state: Any = acc
  def emit(outType: DataType): Any =
    if (acc == null) null
    else {
      val odt = outType.asInstanceOf[DecimalType]
      val d = Decimal(acc)
      if (!d.changePrecision(odt.precision, odt.scale))
        throw new ArithmeticException(
          s"cumsum overflow: $acc does not fit $odt")
      d
    }
  def reset(): Unit = acc = null
}

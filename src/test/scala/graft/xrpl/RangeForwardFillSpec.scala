package graft.xrpl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.RangeScan

/** The keyed forward fill ([[RangeScan]] with the last-non-null fold):
  * semantics vs the stock per-key running window it replaced, with
  * inputs crafted to hit the boundary-carry machinery — hot keys
  * spanning many range partitions, key runs with no non-null value
  * crossing several boundaries, all-null keys, and descending time
  * order.
  */
class RangeForwardFillSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def oracle(rows: Seq[(Long, Long, java.lang.Double)])
      : Map[(Long, Long), Option[Double]] = {
    // last non-null v within key, over (k asc, t asc) order
    rows.sortBy(r => (r._1, r._2))
      .foldLeft((Map.empty[(Long, Long), Option[Double]],
        Option.empty[Long], Option.empty[Double])) {
        case ((acc, curK, fill), (k, t, v)) =>
          val f0 = if (curK.contains(k)) fill else None
          val f1 = if (v != null) Some(v.doubleValue) else f0
          (acc + ((k, t) -> f1), Some(k), f1)
      }._1
  }

  private def fill(rows: Seq[(Long, Long, java.lang.Double)]) = {
    import spark.implicits._
    RangeScan.scan(rows.toDF("k", "t", "v"),
      keys = Seq(col("k")), order = Seq(col("t").asc),
      values = Seq(col("v") -> "fill"), fold = RangeScan.LastNonNull)
  }

  private def toMapOf(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), Option[Double]] = df.collect()
    .map(r => (r.getLong(0), r.getLong(1)) ->
      (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    .toMap

  private def run(rows: Seq[(Long, Long, java.lang.Double)])
      : Map[(Long, Long), Option[Double]] = toMapOf(fill(rows))

  /** The fill at 1, 4 and 32 range partitions equals the oracle, and
    * the scan really ran at each count.
    */
  private def checkAcrossPartitions(
      rows: Seq[(Long, Long, java.lang.Double)]): Unit = {
    val expected = oracle(rows)
    for (n <- Seq(1, 4, 32)) SparkTest.withPartitions(n) {
      val out = fill(rows)
      assert(toMapOf(out) === expected, s"partitions=$n")
      assert(SparkTest.partitionsOf(out, "RangeForwardFill") === n)
    }
  }

  test("hot key spanning many partitions carries across boundaries") {
    // key 0 holds 3000 rows (most of the 32 range partitions) with
    // sparse non-nulls, so most boundaries carry a value found several
    // partitions back
    val rows: Seq[(Long, Long, java.lang.Double)] =
      Seq.tabulate(3000) { i =>
        val v: java.lang.Double =
          if (i % 617 == 0) java.lang.Double.valueOf(i.toDouble) else null
        (0L, i.toLong, v)
      } ++ Seq.tabulate(50) { i =>
        (1L + (i % 3), 10000L + i,
          if (i % 7 == 0) java.lang.Double.valueOf(-i.toDouble) else null)
      }
    checkAcrossPartitions(rows)
  }

  test("key run with no non-null at all stays null everywhere") {
    val rows: Seq[(Long, Long, java.lang.Double)] =
      Seq.tabulate(500)((i: Int) => (5L, i.toLong, null)) ++
        Seq((6L, 1L, java.lang.Double.valueOf(42.0)), (6L, 2L, null))
    val got = run(rows)
    assert(got === oracle(rows))
    assert(got.forall { case ((k, _), f) => k != 5L || f.isEmpty })
    assert(got((6L, 2L)) === Some(42.0))
  }

  test("fill resets at every key change, never leaks across keys") {
    // adjacent keys where the previous key ends with a non-null: the
    // next key's first rows must NOT inherit it
    val rows: Seq[(Long, Long, java.lang.Double)] =
      (0L until 40L).flatMap { k =>
        Seq((k, 0L, java.lang.Double.valueOf(k * 100.0)),
          (k, 1L, null: java.lang.Double), (k, 2L, null: java.lang.Double))
      }
    val got = run(rows)
    assert(got === oracle(rows))
    assert((0L until 40L).forall(k => got((k, 2L)) === Some(k * 100.0)))
  }

  test("descending order fills from the future (as-of forward shape)") {
    import spark.implicits._
    val rows: Seq[(Long, Long, java.lang.Double)] = Seq(
      (1L, 10L, java.lang.Double.valueOf(1.0)), (1L, 20L, null),
      (1L, 30L, java.lang.Double.valueOf(3.0)), (1L, 40L, null))
    val got = RangeScan.scan(rows.toDF("k", "t", "v"),
        keys = Seq(col("k")), order = Seq(col("t").desc),
        values = Seq(col("v") -> "fill"), fold = RangeScan.LastNonNull)
      .collect()
      .map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    // scanning t desc: 40 -> null until 30 fills 3.0; 20 inherits 3.0;
    // 10 refreshes to 1.0
    assert(got === Map(40L -> None, 30L -> Some(3.0), 20L -> Some(3.0),
      10L -> Some(1.0)))
  }

  test("random fuzz against the sequential oracle") {
    val rnd = new scala.util.Random(20260818L)
    val rows: Seq[(Long, Long, java.lang.Double)] =
      Seq.tabulate(2500) { i =>
        val k = if (i % 2 == 0) 3L else rnd.nextInt(12).toLong
        val v: java.lang.Double =
          if (rnd.nextInt(4) == 0) java.lang.Double.valueOf(rnd.nextDouble())
          else null
        (k, i.toLong, v) // t = i keeps (k, t) unique
      }
    checkAcrossPartitions(rows)
  }
}

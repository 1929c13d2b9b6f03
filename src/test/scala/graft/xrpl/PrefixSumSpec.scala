package graft.xrpl

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Cols, PrefixSum}

/** The range-partitioned two-pass prefix sum must equal the
  * single-partition `Window.orderBy` cumsum row for row — same values,
  * any partitioning. Each case runs at 1, 4 and 32 range partitions,
  * so the per-partition carry is exercised.
  */
class PrefixSumSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private val partitionCounts = Seq(1, 4, 32)

  /** `globalCumsum(df, sortKeys, value)` as (id, cum) pairs at each of
    * [[partitionCounts]], asserting the scan really ran at that count.
    */
  private def cumsums(df: org.apache.spark.sql.DataFrame,
      sortKeys: Seq[org.apache.spark.sql.Column],
      value: org.apache.spark.sql.Column) = partitionCounts.map { n =>
    SparkTest.withPartitions(n) {
      val out = PrefixSum.globalCumsum(df, sortKeys, value, "cum")
        .select(col("id"), col("cum").cast("double"))
      val got = out.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(SparkTest.partitionsOf(out, "GlobalCumsum") === n)
      n -> got
    }
  }

  private def windowCumsum(df: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column) = {
    val w = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum", sum(value).over(w))
  }

  test("globalCumsum equals unpartitioned window cumsum (doubles)") {
    val df = spark.range(5000)
      .select(col("id"), (col("id") % 37).as("k"),
        (col("id") % 101).cast("double").as("v"))
    val expected = windowCumsum(df, col("v"))
      .select(col("id"), col("cum")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    for ((n, actual) <- cumsums(df, Seq(col("k"), col("id")), col("v"))) {
      assert(actual.size === expected.size, s"partitions=$n")
      // decimal-free double cumsum: partitioned re-association can move
      // low bits — compare within 1e-9 relative
      expected.foreach { case (id, e) =>
        assert(math.abs(actual(id) - e) <= math.abs(e) * 1e-9 + 1e-9,
          s"partitions=$n row $id: ${actual(id)} vs $e")
      }
    }
  }

  test("globalCumsum equals window cumsum exactly on decimals") {
    val df = spark.range(5000)
      .select(col("id"), (col("id") % 37).as("k"),
        ((col("id") % 101) - 50).cast("double").as("v")) // negatives too
    val expected = windowCumsum(df, col("v").cast(Cols.Dec))
      .select(col("id"), col("cum").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    for ((n, actual) <- cumsums(df, Seq(col("k"), col("id")),
        col("v").cast(Cols.Dec)))
      assert(actual === expected, s"partitions=$n")
  }

  test("globalCumsum respects descending sort keys") {
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 13).cast("double").as("v"))
    val w = Window.orderBy(col("id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("cum", sum(col("v").cast(Cols.Dec)).over(w))
      .select(col("id"), col("cum").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    for ((n, actual) <- cumsums(df, Seq(col("id").desc),
        col("v").cast(Cols.Dec)))
      assert(actual === expected, s"partitions=$n")
  }

  test("a globalCumsum result joins with itself on its sort keys") {
    val li = graft.Tables.parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
    val keys = Seq("l_orderkey", "l_linenumber")
    val cum = PrefixSum.globalCumsum(li, keys.map(col),
      col("l_quantity").cast(Cols.Dec), "cum")
    val pairs = cum.as("a").join(cum.as("b"), keys)
      .filter(col("a.cum") === col("b.cum"))
    assert(pairs.count() === li.count())
  }
}

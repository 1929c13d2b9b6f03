package graft.xrpl

import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.AsOfJoin

/** Backward as-of join semantics: greatest build time ≤ probe time,
  * inclusive at equality, null when nothing precedes. The bucketed
  * (skew-proof) variant must agree with the window formulation on
  * every input, including a single pathological key.
  */
class AsOfJoinSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private val rates = Seq( // (ccy, t, rate)
    ("usd", 10L, 1.0), ("usd", 20L, 2.0), ("usd", 30L, 3.0),
    ("eur", 15L, 9.0))
  private val trades = Seq( // (trade_id, ccy, t)
    (1L, "usd", 5L),   // before any rate -> null
    (2L, "usd", 10L),  // equal timestamp -> inclusive (1.0)
    (3L, "usd", 25L),  // between 20 and 30 -> 2.0
    (4L, "usd", 99L),  // after all -> 3.0
    (5L, "eur", 15L),  // exactly the only eur rate
    (6L, "chf", 50L))  // key with no build rows -> null
  private val expected = Map(
    1L -> None, 2L -> Some(1.0), 3L -> Some(2.0),
    4L -> Some(3.0), 5L -> Some(9.0), 6L -> None)

  private def run(join: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)
      : Map[Long, Option[Double]] = {
    import spark.implicits._
    join(trades.toDF("trade_id", "ccy", "t"), rates.toDF("ccy", "t", "rate"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
  }

  test("picks the latest at-or-before build row per key") {
    assert(run((p, b) =>
      AsOfJoin.asofBackward(p, "ccy", "t", b, "ccy", "t", Seq("rate")))
      === expected)
  }

  test("bucketed variant matches on the semantic fixture") {
    assert(run((p, b) =>
      AsOfJoin.asofBackwardBucketed(p, "ccy", "t", b, "ccy", "t",
        Seq("rate"))) === expected)
  }

  test("matches a brute-force scan on random skewed data") {
    import spark.implicits._
    // deterministic pseudo-random data with one hot key (0) carrying
    // half of all rows, so at 4 and 32 range partitions several hold
    // only key 0 — the boundary carry of the forward fill is exercised
    val rnd = new scala.util.Random(20260812L)
    val build = Seq.tabulate(400) { i =>
      val k = if (i % 2 == 0) 0L else 1L + rnd.nextInt(5)
      (k, rnd.nextInt(1000).toLong, i.toDouble)
    }.distinctBy(r => (r._1, r._2)) // unique per (key, t) contract
    val probe = Seq.tabulate(2000) { i =>
      val k = if (i % 2 == 0) 0L else rnd.nextInt(8).toLong
      (i.toLong, k, rnd.nextInt(1100).toLong)
    }
    val expected = probe.map { case (id, k, t) =>
      id -> build.filter(b => b._1 == k && b._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
    }.toMap
    def toMapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    val window = toMapOf(AsOfJoin.asofBackward(
      probe.toDF("id", "k", "t"), "k", "t",
      build.toDF("k", "t", "v"), "k", "t", Seq("v")))
    assert(window === expected)
    assert(window.size === 2000)
    for (n <- Seq(1, 4, 32)) SparkTest.withPartitions(n) {
      val bucketed = AsOfJoin.asofBackwardBucketed(
        probe.toDF("id", "k", "t"), "k", "t",
        build.toDF("k", "t", "v"), "k", "t", Seq("v"))
      assert(toMapOf(bucketed) === expected, s"partitions=$n")
      assert(SparkTest.partitionsOf(bucketed, "RangeForwardFill") === n)
    }
  }

  test("bucketed plan is one range exchange, no window, no checkpoint stub") {
    import spark.implicits._
    // one single key: the window formulation would serialize all rows
    // into one task; the custom operator must range-partition the
    // stream (hot key spans partitions) and use no WindowExec
    val b = Seq.tabulate(500)(i => (7L, i.toLong * 2, i.toDouble))
      .toDF("k", "t", "v")
    val p = Seq.tabulate(3000)(i => (i.toLong, 7L, i.toLong % 1000))
      .toDF("id", "k", "t")
    val joined = AsOfJoin.asofBackwardBucketed(
      p, "k", "t", b, "k", "t", Seq("v"))
    joined.write.format("noop").mode("overwrite").save()
    val all = SparkTest.execNodes(joined)
    assert(all.exists {
      case s: graft.plans.RangeScanExec => s.nodeName == "RangeForwardFill"
      case _ => false
    })
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "as-of plan must not contain a per-key WindowExec")
    val exchanges = all.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size === 1, s"expected ONE exchange, got $exchanges")
    assert(exchanges.head.outputPartitioning.toString.toLowerCase
      .contains("range"), s"expected range partitioning: ${
        exchanges.head.outputPartitioning}")
  }
}

package graft.xrpl

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AsOfJoin, ParetoFront}

/** 2-D skyline semantics: exactly the non-dominated rows survive,
  * duplicates of a frontier point all survive, and the distributed
  * two-pass plan agrees with the quadratic dominance definition on
  * randomized inputs. Plus the forward as-of join's mirror-image
  * semantics.
  */
class ParetoFrontSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def brute(rows: Seq[(Long, Long, Long)]): Set[Long] =
    rows.filter { case (_, x, y) =>
      !rows.exists { case (_, dx, dy) =>
        dx >= x && dy >= y && (dx > x || dy > y)
      }
    }.map(_._1).toSet

  test("semantic fixture: dominance, ties, duplicates") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, 1L),  // frontier (max x)
      (2L, 5L, 5L),   // frontier
      (3L, 1L, 10L),  // frontier (max y)
      (4L, 5L, 4L),   // dominated by 2 (same x, lower y)
      (5L, 4L, 5L),   // dominated by 2 (lower x, same y)
      (6L, 5L, 5L),   // duplicate of 2 — incomparable, survives
      (7L, 2L, 2L))   // dominated by 2
    val got = ParetoFront.skyline2d(rows.toDF("id", "x", "y"), "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L, 6L))
    assert(got === brute(rows))
  }

  test("matches quadratic dominance on random data across partitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val rows = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val expected = brute(rows)
    for (p <- Seq(1, 4, 32)) SparkTest.withPartitions(p) {
      val out = ParetoFront.skyline2d(rows.toDF("id", "x", "y"), "x", "y")
        .select("id")
      assert(out.as[Long].collect().toSet === expected, s"partitions=$p")
      assert(SparkTest.partitionsOf(out, "GlobalCumsum") === p)
    }
  }

  test("forward as-of matches a brute-force scan on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val build = Seq.tabulate(200)(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(500).toLong, i.toDouble))
      .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq // unique (k, t)
    val probe = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(7).toLong, rnd.nextInt(500).toLong))
    val expected = probe.map { case (id, k, t) =>
      id -> build.filter(b => b._1 == k && b._2 >= t)
        .sortBy(_._2).headOption.map(_._3)
    }.toMap
    val got = AsOfJoin.asofForward(
        probe.toDF("id", "k", "t"), "k", "t",
        build.toDF("k", "t", "v"), "k", "t", Seq("v"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got === expected)
  }

  test("forward as-of picks the earliest at-or-after build row") {
    import spark.implicits._
    val build = Seq(("usd", 10L, 1.0), ("usd", 20L, 2.0), ("eur", 15L, 9.0))
      .toDF("ccy", "t", "rate")
    val probe = Seq(
      (1L, "usd", 5L),   // before all -> 1.0 (t=10)
      (2L, "usd", 10L),  // equal -> inclusive (1.0)
      (3L, "usd", 11L),  // next is t=20 -> 2.0
      (4L, "usd", 99L),  // after all -> null
      (5L, "chf", 1L))   // no build key -> null
      .toDF("id", "ccy", "t")
    val got = AsOfJoin.asofForward(probe, "ccy", "t", build, "ccy", "t",
        Seq("rate"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got === Map(1L -> Some(1.0), 2L -> Some(1.0), 3L -> Some(2.0),
      4L -> None, 5L -> None))
  }
}

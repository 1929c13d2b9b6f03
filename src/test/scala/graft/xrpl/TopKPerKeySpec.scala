package graft.xrpl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{TopKPerKey, TopKPerKeyExec}

/** The custom top-k-per-key operator must produce exactly the
  * window-formulation's rows (total ordering ⇒ unique answer) on any
  * partitioning, and its physical plan must be the partial/final pair
  * around one exchange — never a per-key sort.
  */
class TopKPerKeySpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def data() = {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    Seq.tabulate(500)(i =>
      (i.toLong, rnd.nextInt(7).toLong, rnd.nextInt(50).toLong))
      .toDF("id", "k", "v")
  }

  private def expected(k: Int): Set[(Long, Long, Long)] = {
    val w = Window.partitionBy(col("k"))
      .orderBy(col("v").desc, col("id"))
    data().withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("matches the window formulation across partitionings and k") {
    for (k <- Seq(1, 3, 64); parts <- Seq(1, 7)) {
      val got = TopKPerKey.topK(
          data().repartition(parts), Seq("k"),
          Seq("v" -> true, "id" -> false), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected(k), s"k=$k parts=$parts")
    }
  }

  test("plans a partial/final pair with one exchange and no sort") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = TopKPerKey.topK(data(), Seq("k"),
      Seq("v" -> true, "id" -> false), 3)
    df.collect() // materialize so AQE finalizes the plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    val execs = all.collect { case t: TopKPerKeyExec => t }
    assert(execs.map(_.partial).sorted === Seq(false, true))
    val s = all.map(_.nodeName).mkString("\n")
    assert(!s.contains("Sort") && !s.contains("Window"), s)
  }

  test("bounded-memory flush: high-cardinality keys, tiny flush cap") {
    // Force the partial pass to emit-and-reset many times: 200
    // distinct keys through a 3-key heap map, single input partition
    // (so one task really crosses the cap ~67 times). The partial
    // output is then >k rows per key across several heap snapshots —
    // the final merge must still produce the exact window answer.
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val wide = Seq.tabulate(2000)(i =>
      (i.toLong, (i % 200).toLong, rnd.nextInt(1000).toLong))
      .toDF("id", "k", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))
    val oracle = wide.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.conf.set("spark.graft.topk.partialFlushKeys", "3")
    try {
      val got = TopKPerKey.topK(wide.coalesce(1), Seq("k"),
          Seq("v" -> true, "id" -> false), 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === oracle)
    } finally spark.conf.unset("spark.graft.topk.partialFlushKeys")
  }

  test("randomized sweep: flush cap x partitioning x k all match the oracle") {
    // cap=1 flushes on every new key (maximally fragmented partial
    // output — every key arrives at the final pass in many heap
    // snapshots); cap=7 interleaves flushes with retained keys
    import spark.implicits._
    for (seed <- Seq(11L, 12L); cap <- Seq(1, 7)) {
      val rnd = new scala.util.Random(seed)
      val df = Seq.tabulate(400)(i =>
        (i.toLong, rnd.nextInt(23).toLong, rnd.nextInt(9).toLong))
        .toDF("id", "k", "v")
      val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))
      for (k <- Seq(1, 4); parts <- Seq(1, 5)) {
        val oracle = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).drop("rn")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        spark.conf.set("spark.graft.topk.partialFlushKeys", cap.toString)
        try {
          val got = TopKPerKey.topK(df.repartition(parts), Seq("k"),
              Seq("v" -> true, "id" -> false), k)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          assert(got === oracle, s"seed=$seed cap=$cap k=$k parts=$parts")
        } finally spark.conf.unset("spark.graft.topk.partialFlushKeys")
      }
    }
  }

  test("AQE on and off: plan stays valid, results identical") {
    // A custom non-AQE-aware exec node is where AQE breaks silently
    // (coalesced shuffle partitions, re-planned exchanges) — run the
    // same query both ways and demand identical rows AND the
    // partial/final exec pair in the executed plan each time.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    def run(aqe: Boolean): (Set[(Long, Long, Long)], Seq[Boolean]) = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val df = TopKPerKey.topK(data().repartition(5), Seq("k"),
        Seq("v" -> true, "id" -> false), 3)
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val partials = nodes(df.queryExecution.executedPlan)
        .collect { case t: TopKPerKeyExec => t.partial }
      (rows, partials.sorted)
    }
    try {
      val (withAqe, pa) = run(aqe = true)
      val (without, pb) = run(aqe = false)
      assert(withAqe === without)
      assert(pa === Seq(false, true), s"AQE plan lost the exec pair: $pa")
      assert(pb === Seq(false, true), s"non-AQE plan lost the exec pair: $pb")
      assert(withAqe === expected(3))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("topKRanked ranks NULL ordering values exactly as the heap and window do") {
    // The heap's SortOrder defaults: ascending → nulls first,
    // descending → nulls last. The re-rank comparator must agree, or
    // a row the heap kept for a NULL score resurfaces at rank 1.
    import spark.implicits._
    val df = Seq(
      (1L, "a", Some(5L)), (2L, "a", None), (3L, "a", Some(7L)),
      (4L, "b", None), (5L, "b", None), (6L, "b", Some(1L)))
      .toDF("id", "k", "v")
    for (desc <- Seq(true, false)) {
      val w = Window.partitionBy(col("k"))
        .orderBy(if (desc) col("v").desc else col("v").asc, col("id"))
      val oracle = df.withColumn("rn", row_number().over(w))
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rn"))).toMap
      val got = graft.plans.TopKPerKey.topKRanked(df, Seq("k"),
          Seq("v" -> desc, "id" -> false), 10, "rn")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rn"))).toMap
      assert(got === oracle, s"desc=$desc")
    }
  }

  test("topKRanked rejects an order column that is also a key") {
    // Before the guard this died at analysis time as an opaque
    // unresolved-struct-field error from the array_sort comparator.
    import spark.implicits._
    val df = Seq((1L, "a", 5L)).toDF("id", "k", "v")
    val err = intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.topKRanked(df, Seq("k"),
        Seq("k" -> false, "v" -> true), 3, "rn")
    }
    assert(err.getMessage.contains("non-key payload"))
  }

  private def rankOracle(df: DataFrame, k: Int): Set[(Long, Long, Long, Int)] = {
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))
    rows4(df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
  }

  private def ranked(df: DataFrame, k: Int): DataFrame =
    TopKPerKey.topKRanked(df, Seq("k"), Seq("v" -> true, "id" -> false), k, "rn")

  private def rows4(df: DataFrame): Set[(Long, Long, Long, Int)] =
    df.select("id", "k", "v", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

  test("topKRanked's rank equals row_number() at 1, 4 and 32 partitions") {
    // v has many ties within a key, broken by id; k = 100 exceeds
    // every key's row count
    for (parts <- Seq(1, 4, 32); k <- Seq(1, 3, 100))
      SparkTest.withPartitions(parts) {
        val df = data().repartition(parts)
        assert(rows4(ranked(df, k)) === rankOracle(df, k), s"parts=$parts k=$k")
      }
  }

  test("topKRanked's rank equals row_number() when the partial pass flushes") {
    spark.conf.set("spark.graft.topk.partialFlushKeys", "1")
    try {
      for (parts <- Seq(1, 4, 32)) SparkTest.withPartitions(parts) {
        val df = data().repartition(parts)
        assert(rows4(ranked(df, 3)) === rankOracle(df, 3), s"parts=$parts")
      }
    } finally spark.conf.unset("spark.graft.topk.partialFlushKeys")
  }

  test("topKRanked: keys with fewer than k rows, ties broken by the tiebreaker") {
    import spark.implicits._
    val df = Seq((1L, 0L, 5L), (2L, 0L, 5L), (3L, 0L, 7L), (4L, 1L, 5L))
      .toDF("id", "k", "v")
    assert(rows4(ranked(df, 10)) ===
      Set((3L, 0L, 7L, 1), (1L, 0L, 5L, 2), (2L, 0L, 5L, 3), (4L, 1L, 5L, 1)))
    val byIdDesc = TopKPerKey.topKRanked(df, Seq("k"),
      Seq("v" -> true, "id" -> true), 2, "rn")
    assert(rows4(byIdDesc) === Set((3L, 0L, 7L, 1), (2L, 0L, 5L, 2), (4L, 1L, 5L, 1)))
  }

  test("topKRanked's output ends in a non-null IntegerType rank") {
    val out = ranked(data(), 3)
    assert(out.columns.toSeq === Seq("k", "id", "v", "rn"))
    val rn = out.schema.last
    assert(rn.dataType === IntegerType && !rn.nullable, rn)
  }

  test("a ranked list joins with itself") {
    val r = ranked(data(), 3)
    val pairs = r.as("a").join(r.as("b"),
        col("a.k") === col("b.k") && col("a.rn") === col("b.rn") - 1)
      .select(col("a.id"), col("b.id"))
    assert(pairs.count() === 7 * 2)
  }

  test("keys with fewer than k rows keep all their rows") {
    import spark.implicits._
    val df = Seq((1L, "a", 5L), (2L, "a", 7L), (3L, "b", 1L))
      .toDF("id", "k", "v")
    val got = TopKPerKey.topK(df, Seq("k"),
        Seq("v" -> true, "id" -> false), 10)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L, 3L))
  }
}

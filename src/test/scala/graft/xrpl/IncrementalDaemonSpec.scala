package graft.xrpl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.{col, sort_array}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DaemonStream, IncrementalDaemon}
import graft.xrpl.agg.Aggregations

/** The incremental-merge daemons: the published store after N
  * micro-batches must be VALUE-IDENTICAL to the one-shot batch
  * aggregation over the same rows — counts, exact decimal/limb sums,
  * ratio metrics and distinct-counterparty sets all merge
  * associatively — and the state chain must survive replays, restarts
  * and retention, in the on-disk layout its readers expect.
  */
class IncrementalDaemonSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  lazy val tables: XrplTables =
    XrplTables.fromFiles(spark, XrplTables.fixturesPath)

  /** Two-file drop dir of compact single-line ledger JSON. */
  private def mkDropDir(): String = {
    val dropDir = Files.createTempDirectory("graft-inc-drop").toString
    XrplTables.writeFixtureDrops(spark, dropDir)
    dropDir
  }

  private def rowExact(streamed: DataFrame, batch: DataFrame,
      what: String): Unit = {
    assert(streamed.count() === batch.count(), what)
    assert(streamed.exceptAll(batch).count() === 0L, what)
    assert(batch.exceptAll(streamed).count() === 0L, what)
  }

  private def runDaemon(
      start: (org.apache.spark.sql.SparkSession, DataFrame, String)
        => org.apache.spark.sql.streaming.StreamingQuery,
      outDir: String): Unit = {
    val dropDir = mkDropDir()
    val stream = spark.readStream
      .schema("value STRING").option("maxFilesPerTrigger", "1").text(dropDir)
    val q = start(spark, stream, outDir)
    try {
      q.processAllAvailable()
      assert(q.recentProgress.length >= 2) // the merge ran per batch
    } finally q.stop()
  }

  test("incremental payment-volume daemon: store equals the batch table") {
    val dir = Files.createTempDirectory("graft-inc-pay").toString
    runDaemon(DaemonStream.paymentVolumeDaemonIncremental(_, _, _), dir)
    rowExact(
      spark.read.parquet(s"$dir/store/payment_volume"),
      Aggregations.paymentVolume(tables.payments.toDF(), "day"),
      "incremental payment_volume")
  }

  test("incremental stats daemon: store equals the batch table") {
    val dir = Files.createTempDirectory("graft-inc-stats").toString
    runDaemon(DaemonStream.statsDaemonIncremental(_, _, _), dir)
    rowExact(
      spark.read.parquet(s"$dir/store/stats"),
      Aggregations.stats(tables.transactions.toDF(),
        tables.payments.toDF(), tables.exchanges.toDF(),
        tables.accountsCreated.toDF(), tables.ledgers.toDF(), "day"),
      "incremental stats")
  }

  test("incremental fee daemon: store equals the batch table") {
    val dir = Files.createTempDirectory("graft-inc-fees").toString
    runDaemon(DaemonStream.feeDaemonIncremental(_, _, _), dir)
    rowExact(
      spark.read.parquet(s"$dir/store/fees"),
      Aggregations.feeRollup(tables.feeSummaries.toDF(), "hour"),
      "incremental fees")
  }

  test("account-payments daemon (A5): store equals the batch table") {
    val dir = Files.createTempDirectory("graft-inc-ap").toString
    runDaemon(DaemonStream.accountPaymentsDaemon(_, _, _), dir)
    // the published store renders the counterparty SETS sorted
    // (collect_set order is nondeterministic); compare the batch side
    // through the same canonical sort
    val batch = Aggregations.accountPayments(tables.payments.toDF())
      .withColumn("sent_counterparties",
        sort_array(col("sent_counterparties")))
      .withColumn("received_counterparties",
        sort_array(col("received_counterparties")))
    rowExact(
      spark.read.parquet(s"$dir/store/account_payments"),
      batch, "account_payments")
  }

  test("live-state daemon: maintained frontier equals the full-scan tables") {
    import graft.xrpl.api.LiveState
    val dir = Files.createTempDirectory("graft-inc-live").toString
    runDaemon(DaemonStream.liveStateDaemon(_, _, _), dir)
    rowExact(
      spark.read.parquet(s"$dir/store/live_balances"),
      LiveState.balances(tables.balanceChanges.toDF()),
      "maintained live balances")
    rowExact(
      spark.read.parquet(s"$dir/store/open_offers"),
      LiveState.openOffers(tables.offers.toDF()),
      "maintained open offers")
  }

  test("incremental daemon restart from checkpoint continues the state chain") {
    val dropDir = Files.createTempDirectory("graft-inc-rr-drop").toString
    val ckptDir = Files.createTempDirectory("graft-inc-rr-ckpt").toString
    val outDir = Files.createTempDirectory("graft-inc-rr-out").toString

    def start() = {
      val stream = spark.readStream.schema("value STRING").text(dropDir)
      DaemonStream.paymentVolumeDaemonIncremental(spark, stream, outDir,
        checkpoint = Some(ckptDir))
    }
    XrplTables.writeFixtureDrops(spark, dropDir, halves = Seq(0))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    XrplTables.writeFixtureDrops(spark, dropDir, halves = Seq(1))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    rowExact(
      spark.read.parquet(s"$outDir/store/payment_volume"),
      Aggregations.paymentVolume(tables.payments.toDF(), "day"),
      "restarted incremental payment_volume")
  }

  test("incremental step: replay is idempotent, retention keeps <=2 states") {
    val dir = Files.createTempDirectory("graft-inc-replay").toString
    val pay = tables.payments.toDF()
    val (b0, b1) = (pay.filter(col("ledger_index") % 2 === 0),
      pay.filter(col("ledger_index") % 2 === 1))
    def step(b: DataFrame, id: Long): DataFrame =
      IncrementalDaemon.step(spark, s"$dir/state", id,
        Aggregations.paymentVolumeState(b, "day"))(
        Aggregations.reducePaymentVolumeState)
    step(b0, 0L)
    step(b1, 1L)
    val replayed = step(b1, 1L) // a foreachBatch replay of batch 1
    rowExact(Aggregations.publishPaymentVolume(replayed),
      Aggregations.paymentVolume(pay, "day"), "replayed incremental")
    // a third (empty) batch advances the chain without changing values
    val st2 = step(pay.limit(0), 2L)
    rowExact(Aggregations.publishPaymentVolume(st2),
      Aggregations.paymentVolume(pay, "day"), "empty-batch step")
    // retention: only the current and previous state dirs remain
    val dirs = new java.io.File(s"$dir/state").list()
      .filter(_.startsWith("batch="))
    assert(dirs.toSet == Set("batch=1", "batch=2"))
  }

  /** Every state chain the daemons keep: (name, partial state of the
    * whole fixture, reduce). */
  private def chains: Seq[(String, DataFrame, DataFrame => DataFrame)] = {
    import graft.xrpl.api.LiveState
    val pay = tables.payments.toDF()
    Seq(
      ("payment_volume", Aggregations.paymentVolumeState(pay, "day"),
        Aggregations.reducePaymentVolumeState),
      ("stats", Aggregations.statsState(tables.transactions.toDF(), pay,
        tables.exchanges.toDF(), tables.accountsCreated.toDF(),
        tables.ledgers.toDF(), "day"), Aggregations.reduceStatsState),
      ("fees", Aggregations.feeState(tables.feeSummaries.toDF(), "hour"),
        Aggregations.reduceFeeState),
      ("account_payments", Aggregations.accountPaymentsState(pay),
        Aggregations.reduceAccountPaymentsState),
      ("live_balances", LiveState.balancesState(tables.balanceChanges.toDF()),
        LiveState.reduceBalancesState),
      ("open_offers", LiveState.offersState(tables.offers.toDF()),
        LiveState.reduceOffersState))
  }

  test("every state chain's reduce is schema-closed; state reads need no inference") {
    for ((name, partial, reduce) <- chains) {
      assert(DataTypeUtils.equalsIgnoreNullability(
        reduce(partial).schema, partial.schema), name)
      val dir = Files.createTempDirectory(s"graft-inc-schema-$name").toString
      IncrementalDaemon.step(spark, dir, 0L, partial)(reduce)
      val st = IncrementalDaemon.step(spark, dir, 1L, partial)(reduce)
      // the predecessor is read with the partial's schema, the new
      // state with the merge's: both are what inference would give
      assert(spark.read.schema(partial.schema).parquet(s"$dir/batch=0").schema ===
        spark.read.parquet(s"$dir/batch=0").schema, name)
      assert(st.schema === spark.read.parquet(s"$dir/batch=1").schema, name)
    }
  }

  test("a two-step state chain launches a pinned number of jobs") {
    val pay = tables.payments.toDF()
    val (b0, b1) = (pay.filter(col("ledger_index") % 2 === 0),
      pay.filter(col("ledger_index") % 2 === 1))
    def twoSteps(dir: String): Unit = Seq(b0, b1).zipWithIndex.foreach {
      case (b, id) =>
        IncrementalDaemon.step(spark, dir, id.toLong,
          Aggregations.paymentVolumeState(b, "day"))(
          Aggregations.reducePaymentVolumeState)
    }
    twoSteps(Files.createTempDirectory("graft-inc-jobs-warm").toString)
    val jobs = SparkTest.jobsDuring(
      twoSteps(Files.createTempDirectory("graft-inc-jobs").toString))
    assert(jobs === 5, s"two chain steps launched $jobs jobs")
  }

  test("daemon layout: state/<name>/batch=N with _SUCCESS, and store/<name>") {
    val dir = Files.createTempDirectory("graft-inc-layout").toString
    runDaemon(DaemonStream.liveStateDaemon(_, _, _), dir)
    runDaemon(DaemonStream.statsDaemonIncremental(_, _, _), dir)
    val names = Set("live_balances", "open_offers", "stats")
    def ls(p: String) = new java.io.File(p).list().toSet
    assert(ls(dir) === Set("state", "store"))
    assert(ls(s"$dir/state") === names)
    assert(ls(s"$dir/store") === names)
    for (n <- names) {
      assert(ls(s"$dir/state/$n") === Set("batch=0", "batch=1"), n)
      for (b <- Seq("batch=0", "batch=1"))
        assert(new java.io.File(s"$dir/state/$n/$b/_SUCCESS").isFile, s"$n/$b")
      assert(new java.io.File(s"$dir/store/$n/_SUCCESS").isFile, n)
    }
  }
}

package graft.xrpl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.xrpl.api.Queries
import graft.xrpl.api.Queries.{Pair, RangeOpts}

/** Query-layer tests mirroring the reference's endpoint test suite
  * (test/test.*.js) over the same 54 mock ledgers.
  */
class QueriesSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  lazy val tables: XrplTables = {
    val path = XrplTables.fixturesPath
    XrplTables.fromFiles(spark, path)
  }
  lazy val exchanges = tables.exchanges.toDF().cache()

  val usd = Pair("USD", Some("rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q"))
  val xrp = Pair("XRP", None)

  test("getExchanges: 5 trades for USD/XRP (test.exchanges.js:24)") {
    assert(Queries.getExchanges(exchanges, usd, xrp).count() === 5L)
  }

  test("getExchanges: date range narrows to 2 (test.exchanges.js:47-72)") {
    val start = java.time.Instant.parse("2015-01-14T18:28:40Z").getEpochSecond
    val end = java.time.Instant.parse("2015-01-14T18:51:40Z").getEpochSecond
    val n = Queries.getExchanges(exchanges, usd, xrp,
      RangeOpts(Some(start), Some(end))).count()
    assert(n === 2L)
  }

  test("getExchanges: inversion reciprocity (test.exchanges.js:109-140)") {
    val fwd = Queries.getExchanges(exchanges, usd, xrp).collect()
    val inv = Queries.getExchanges(exchanges, xrp, usd).collect()
    assert(fwd.length === inv.length)
    val fwdByHash = fwd.map(r =>
      (r.getAs[String]("tx_hash"), r.getAs[Int]("node_index")) -> r).toMap
    inv.foreach { r =>
      val f = fwdByHash((r.getAs[String]("tx_hash"), r.getAs[Int]("node_index")))
      assert(r.getAs[Double]("base_amount") === f.getAs[Double]("counter_amount"))
      assert(r.getAs[Double]("counter_amount") === f.getAs[Double]("base_amount"))
      assert(math.abs(r.getAs[Double]("rate") * f.getAs[Double]("rate") - 1d) < 1e-9)
      assert(r.getAs[String]("buyer") === f.getAs[String]("seller"))
    }
  }

  test("getExchanges: descending order flag") {
    val desc = Queries.getExchanges(exchanges, usd, xrp,
      RangeOpts(descending = true)).collect()
    val times = desc.map(_.getAs[Long]("time"))
    assert(times.zip(times.tail).forall { case (a, b) => a >= b })
  }

  test("reduceExchanges: one summary row with consistent OHLC") {
    val r = Queries.reduceExchanges(exchanges, usd, xrp).head()
    assert(r.getAs[Long]("count") === 5L)
    assert(r.getAs[Double]("low") <= r.getAs[Double]("high"))
    val vwap = r.getAs[Double]("counter_volume") / r.getAs[Double]("base_volume")
    assert(math.abs(r.getAs[Double]("vwap") - vwap) < 1e-12)
  }

  test("getExchangeCandles: 1day candles cover the trades") {
    val c = Queries.getExchangeCandles(exchanges, usd, xrp, "1day").collect()
    assert(c.map(_.getAs[Long]("count")).sum === 5L)
  }

  test("getAccountTransactions: index join returns detail rows") {
    // account from the reference's own account-tx tests
    val account = "rvYAfWj5gh67oV6fW32ZzP3Aw4Eubs59B"
    val rows = Queries.getAccountTransactions(tables, account,
      RangeOpts(limit = 100)).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("tx_hash").length == 64))

    // the nested per-ledger filter answers what the reference's index
    // page → detail join answers (data.js:1172-1246), row for row
    def indexJoin(account: String, o: RangeOpts, txType: Option[String],
        txResult: Option[String]) = {
      def order(keys: Column*) = if (o.descending) keys.map(_.desc) else keys
      var idx = tables.affectedAccounts.toDF().filter(col("account") === account)
      txType.foreach(v => idx = idx.filter(col("tx_type") === v))
      txResult.foreach(v => idx = idx.filter(col("tx_result") === v))
      o.start.foreach(s => idx = idx.filter(col("time") >= s))
      o.end.foreach(e => idx = idx.filter(col("time") <= e))
      val page = idx
        .select(col("tx_hash"), col("time"), col("ledger_index").as("li"),
          col("tx_index").as("ti"))
        .orderBy(order(col("time"), col("li"), col("ti")): _*)
        .limit(o.limit)
      tables.transactions.toDF()
        .join(broadcast(page.select(col("tx_hash"))), Seq("tx_hash"))
        .orderBy(order(col("executed_time"), col("ledger_index"), col("tx_index")): _*)
    }
    val index = tables.affectedAccounts.collect().groupBy(_.account)
    val times = index.values.flatten.map(_.time)
    val (lo, hi) = (times.min, times.max)
    val inner = RangeOpts(Some(lo + (hi - lo) / 4), Some(hi - (hi - lo) / 4))
    assert(times.exists(_ < inner.start.get) && times.exists(_ > inner.end.get))
    // every order × limit × filter × window combination
    val combos = for (desc <- Seq(false, true); limit <- Seq(1, 20, 100);
        window <- Seq(RangeOpts(), inner); filtered <- Seq(false, true))
      yield (window.copy(descending = desc, limit = limit), filtered)
    def check(account: String, combo: (RangeOpts, Boolean)): Unit = {
      val (o, filtered) = combo
      val first = index(account).head
      val (txType, txResult) =
        if (filtered) (Some(first.tx_type), Some(first.tx_result)) else (None, None)
      val got = Queries.getAccountTransactions(tables, account, o, txType, txResult)
      val want = indexJoin(account, o, txType, txResult)
      assert(got.schema === want.schema)
      assert(got.collect().toSeq === want.collect().toSeq,
        s"$account $o $txType $txResult")
    }
    // every account with one combination in turn; the accounts with the
    // longest histories (where limits cut inside) with every combination
    val accounts = index.keys.toSeq.sorted
    val requests = accounts.zipWithIndex.map { case (a, i) => (a, combos(i % combos.size)) } ++
      accounts.sortBy(a => -index(a).length).take(6).flatMap(a => combos.map((a, _)))
    // independent requests, four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val all = scala.concurrent.Future.traverse(requests) { case (a, c) =>
        scala.concurrent.Future(check(a, c))
      }
      scala.concurrent.Await.result(all, scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
  }

  test("getLedger by index / hash / latest (test.ledgers.js)") {
    val byIndex = Queries.getLedgerByIndex(tables, 11119599L).collect()
    assert(byIndex.length === 1)
    val hash = byIndex.head.getAs[String]("ledger_hash")
    assert(Queries.getLedgerByHash(tables, hash).count() === 1L)
    assert(Queries.getLatestLedger(tables).head()
      .getAs[Long]("ledger_index") === 29709909L)
    // expansion returns the ledger's full tx set (J2)
    val txs = Queries.expandLedgerTransactions(tables, 11119599L).count()
    assert(txs === byIndex.head.getAs[Int]("tx_count").toLong)
  }

  test("getPayments: all and currency-filtered (test.payments.js)") {
    assert(Queries.getPayments(tables, opts = RangeOpts(limit = 1000))
      .count() === 182L)
    val xrpOnly = Queries.getPayments(tables, Some(Pair("XRP", None)),
      RangeOpts(limit = 1000))
    assert(xrpOnly.count() > 0L)
    assert(xrpOnly.filter(col("currency") =!= "XRP").count() === 0L)
  }

  test("getActiveAccounts: ordered by volume, buy+sell symmetric") {
    val a = Queries.getActiveAccounts(exchanges, usd, xrp).collect()
    assert(a.nonEmpty)
    val vols = a.map(_.getAs[Double]("base_volume"))
    assert(vols.zip(vols.tail).forall { case (x, y) => x >= y })
    val buys = a.map(_.getAs[Long]("buy_count")).sum
    val sells = a.map(_.getAs[Long]("sell_count")).sum
    assert(buys === sells) // every trade has one buyer and one seller
  }

  test("exchangeRate: blend of period and last-50 vwap") {
    val start = java.time.Instant.parse("2015-01-01T00:00:00Z").getEpochSecond
    val end = java.time.Instant.parse("2015-02-01T00:00:00Z").getEpochSecond
    val r = Queries.exchangeRate(exchanges, usd, xrp, start, end).head()
    val blend = (r.getAs[Double]("period_vwap") + r.getAs[Double]("last50_vwap")) / 2
    assert(math.abs(r.getAs[Double]("rate") - blend) < 1e-12)
    assert(r.getAs[Double]("rate") > 0)
  }

  test("rollingRate: period windows pick the reference's child intervals") {
    val end = java.time.Instant.parse("2015-02-01T00:00:00Z").getEpochSecond
    // a 30-day window covering every fixture trade: Σcounter/Σbase over
    // the 1day candles equals the period vwap over the raw trades
    val rolling = Queries.rollingRate(exchanges, usd, xrp, "30day", end).head()
    val vwap = Queries.periodVwap(exchanges, usd, xrp,
      end - 30L * 86400L, end).head().getAs[Double]("vwap")
    assert(math.abs(rolling.getAs[Double]("rate") - vwap) < 1e-9)
    // an empty window rates 0, not an error (data.js:1345-1348)
    val empty = Queries.rollingRate(exchanges, usd, xrp, "hour",
      java.time.Instant.parse("2020-01-01T00:00:00Z").getEpochSecond).head()
    assert(empty.getAs[Double]("rate") === 0d)
    intercept[IllegalArgumentException] {
      Queries.rollingRate(exchanges, usd, xrp, "fortnight", end)
    }
  }

  test("topMarkets / topCurrencies rank within day") {
    val tm = Queries.topMarkets(exchanges).collect()
    assert(tm.nonEmpty)
    assert(tm.forall(_.getAs[Int]("rank") >= 1))
    val tc = Queries.topCurrencies(tables.payments.toDF()).collect()
    assert(tc.nonEmpty)
  }

  test("getBalanceChanges honors filters") {
    val any = tables.balanceChanges.toDF().head()
    val acct = any.getAs[String]("account")
    val rows = Queries.getBalanceChanges(tables, acct, opts = RangeOpts(limit = 500))
    assert(rows.count() > 0)
    assert(rows.filter(col("account") =!= acct).count() === 0L)
  }

  test("countAccountsCreated = 13 (test.accounts.js:24)") {
    assert(Queries.countAccountsCreated(tables) === 13L)
  }

  test("estimate: two-book depth walk with partial crossing fill") {
    import spark.implicits._
    // book A: src→XRP, price = XRP per src unit
    val bookA = Seq((1L, 2.0, 50.0), (2L, 2.5, 40.0), (3L, 3.0, 100.0))
      .toDF("offer_id", "price", "amount")
    // book B: XRP→dst, price = dst per XRP
    val bookB = Seq((1L, 0.5, 80.0), (2L, 0.4, 500.0))
      .toDF("offer_id", "price", "amount")
    // walk A for 60 units: 50 @2.0 + 10 @2.5 = 125 XRP
    val a = Queries.bookRate(bookA, 60.0).head()
    assert(a.getAs[Double]("filled") === 60.0)
    assert(a.getAs[Double]("cost") === 125.0)
    // walk B for 125 XRP: 80 @0.5 + 45 @0.4 = 58 dst
    val est = Queries.estimate(bookA, bookB, 60.0).head()
    assert(est.getAs[Double]("estimated") === 58.0)
    assert(math.abs(est.getAs[Double]("effective_rate") - 58.0 / 60.0) < 1e-12)
  }

  test("getTransactions: filters, 100-row cap, point get by hash") {
    val all = Queries.getTransactions(tables, RangeOpts(limit = 1000))
    assert(all.count() === 100L) // route cap (getTransactions.js:119-122)
    val payments = Queries.getTransactions(tables, RangeOpts(limit = 100),
      txType = Some("Payment"))
    assert(payments.filter(col("tx_type") =!= "Payment").count() === 0L)
    val hash = all.head().getAs[String]("tx_hash")
    val one = Queries.getTransactionByHash(tables, hash)
    assert(one.count() === 1L)
  }

  test("getMemos / getAccountEscrows / getAccountPayChannels / getAccountOffers") {
    val memoAcct = tables.memos.toDF().head().getAs[String]("account")
    assert(Queries.getMemos(tables, memoAcct).count() > 0)

    val escrows = Queries.getAccountEscrows(tables,
      "rGhDCgik9CwiNpcNnYHkEHcMgw2dkLgtNB")
    assert(escrows.count() === 1L) // test.escrows.js:22

    val pcAcct = tables.paychans.toDF().head().getAs[String]("account")
    assert(Queries.getAccountPayChannels(tables, pcAcct).count() > 0)

    val offerAcct = tables.offers.toDF().head().getAs[String]("account")
    val offers = Queries.getAccountOffers(tables, offerAcct,
      RangeOpts(limit = 500))
    assert(offers.count() > 0)
    assert(offers.filter(col("account") =!= offerAcct).count() === 0L)
    // change_type filter narrows
    val filled = Queries.getAccountOffers(tables, offerAcct,
      RangeOpts(limit = 500), changeType = Some("partial_fill"))
    assert(filled.count() <= offers.count())
  }
}

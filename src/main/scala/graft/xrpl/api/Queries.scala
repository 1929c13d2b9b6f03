package graft.xrpl.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.xrpl.{TransactionRow, XrplTables}
import graft.xrpl.agg.Candles

/** The Data API v2 query layer: one typed function per reference
  * endpoint (SURVEY.md §3; api/server.js:66-128). Each reproduces its
  * hand-coded HBase access path as a declarative Spark plan —
  * time-range predicates prune partitions, key filters push into the
  * scan, limits plan TakeOrderedAndProject.
  */
object Queries {

  /** Currency leg: ("XRP", None) or (code, Some(issuer)). */
  final case class Pair(currency: String, issuer: Option[String]) {
    def key: String = currency + "|" + issuer.getOrElse("")
  }

  final case class RangeOpts(
      start: Option[Long] = None,
      end: Option[Long] = None,
      descending: Boolean = false,
      limit: Int = 200)

  private def timeFilter(df: DataFrame, timeCol: String, o: RangeOpts): DataFrame =
    (o.start.map(col(timeCol) >= _) ++ o.end.map(col(timeCol) <= _)).foldLeft(df)(_ filter _)

  private def pageOrder(o: RangeOpts, keys: Column*): Seq[Column] =
    if (o.descending) keys.map(_.desc) else keys

  /** The rows whose (`curCol`, `issCol`) leg is `p`; XRP has no issuer. */
  private def legEq(curCol: String, issCol: String, p: Pair): Column =
    col(curCol) === p.currency &&
      p.issuer.map(col(issCol) === _).getOrElse(col(issCol).isNull)

  /** Whether the pair inverts under the canonical key order
    * (data.js:1656-1663), and the exchanges of the canonical pair. */
  private def canonicalPair(exchanges: DataFrame, base: Pair,
      counter: Pair): (Boolean, DataFrame) = {
    val invert = counter.key.toLowerCase <= base.key.toLowerCase
    val (b, c) = if (invert) (counter, base) else (base, counter)
    (invert, exchanges.filter(legEq("base_currency", "base_issuer", b) &&
      legEq("counter_currency", "counter_issuer", c)))
  }

  // -----------------------------------------------------------------
  // GET /v2/exchanges/:base/:counter — data.js:1463-1750
  // -----------------------------------------------------------------

  /** The filter + canonicalize + invert core of the /v2/exchanges scan
    * (invertPair unreduced branch, data.js:1482-1498) WITHOUT the
    * page's orderBy/limit — aggregating callers (active accounts,
    * vwap, reduce) consume this directly so no global sort is planned
    * above their aggregates.
    */
  def exchangePairRows(exchanges: DataFrame, base: Pair, counter: Pair,
      opts: RangeOpts = RangeOpts(), autobridgedOnly: Boolean = false): DataFrame = {
    val (invert, pairEx) = canonicalPair(exchanges, base, counter)
    val df = timeFilter(if (!autobridgedOnly) pairEx
      else pairEx.filter(col("autobridged_currency").isNotNull), "time", opts)

    val rate = col("rate").cast("double")
    val baseD = col("base_amount").cast("double")
    val counterD = col("counter_amount").cast("double")

    // *_raw keep the source's exact decimal strings so aggregating
    // callers can sum them losslessly (string → DECIMAL(38,18), exact
    // in any engine); the double columns serve the row-level API shape.
    if (!invert)
      df.select(col("time"), col("ledger_index"), col("tx_index"),
        col("node_index"), baseD.as("base_amount"),
        counterD.as("counter_amount"), rate.as("rate"),
        col("base_amount").as("base_amount_raw"),
        col("counter_amount").as("counter_amount_raw"),
        col("buyer"), col("seller"), col("taker"), col("provider"),
        col("offer_sequence"), col("tx_hash"), col("tx_type"),
        col("autobridged_currency"))
    else
      df.select(col("time"), col("ledger_index"), col("tx_index"),
        col("node_index"),
        counterD.as("base_amount"), baseD.as("counter_amount"),
        (lit(1d) / rate).as("rate"),
        col("counter_amount").as("base_amount_raw"),
        col("base_amount").as("counter_amount_raw"),
        col("seller").as("buyer"), col("buyer").as("seller"),
        col("taker"), col("provider"), col("offer_sequence"),
        col("tx_hash"), col("tx_type"), col("autobridged_currency"))
  }

  /** Raw (unreduced) exchange page for a pair: the core above plus the
    * keyset page order and limit.
    */
  def getExchanges(exchanges: DataFrame, base: Pair, counter: Pair,
      opts: RangeOpts = RangeOpts(), autobridgedOnly: Boolean = false): DataFrame =
    exchangePairRows(exchanges, base, counter, opts, autobridgedOnly)
      .drop("base_amount_raw", "counter_amount_raw")
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index"), col("node_index")): _*)
      .limit(opts.limit)

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/exchanges[/:base/:counter] —
  // data.js:1752-1812 (account_exchanges fan-out read path)
  // -----------------------------------------------------------------

  /** Exchanges where the account traded (buyer or seller), optionally
    * restricted to a pair, time-ranged, keyset-paged. The reference
    * scans the per-account `account_exchanges` fan-out table keyed
    * `account|time|ledger|tx|node` (data.js:1779-1786); here the same
    * read is a predicate on the canonical exchanges table — at scale
    * the account filter is a pushed-down parquet predicate and the page
    * is TakeOrderedAndProject, no second materialized table needed.
    * Rows are emitted from the account's perspective like the fan-out
    * writer does: the pair stays canonical, `side` says which leg the
    * account was on.
    */
  def getAccountExchanges(exchanges: DataFrame, account: String,
      base: Option[Pair] = None, counter: Option[Pair] = None,
      opts: RangeOpts = RangeOpts()): DataFrame = {
    var df = exchanges.filter(col("buyer") === account || col("seller") === account)
    base.foreach(p => df = df.filter(legEq("base_currency", "base_issuer", p)))
    counter.foreach(p => df = df.filter(legEq("counter_currency", "counter_issuer", p)))
    val asDouble = Set("base_amount", "counter_amount", "rate")
    timeFilter(df, "time", opts)
      .select(df.columns.toSeq.map(c =>
        if (asDouble(c)) col(c).cast("double").as(c) else col(c)) :+
        when(col("buyer") === account, lit("buy")).otherwise(lit("sell")).as("side"): _*)
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index"), col("node_index")): _*)
      .limit(opts.limit)
  }

  /** Interval candles for a pair (agg_exchanges path, data.js:1665-1691)
    * with X4 inversion of aggregates (data.js:1500-1521) — the candle
    * core without the page's orderBy/limit, for aggregating callers.
    */
  def exchangePairCandles(exchanges: DataFrame, base: Pair, counter: Pair,
      interval: String, opts: RangeOpts = RangeOpts(limit = 400)): DataFrame = {
    require(Candles.intervals.exists(_._1 == interval), s"invalid interval: $interval")
    val (invert, pairEx) = canonicalPair(exchanges, base, counter)
    val (_, multiple, unit) = Candles.intervals.find(_._1 == interval).get
    val candles0 = timeFilter(
      Candles.fromExchanges(pairEx, unit, multiple), "start", opts)

    if (!invert) candles0
    else {
      // the inverted aggregates follow the pair-independent columns
      val inverted = Seq(
        "base_volume" -> col("counter_volume"),
        "counter_volume" -> col("base_volume"),
        "high" -> lit(1d) / col("low"),
        "low" -> lit(1d) / col("high"),
        "open" -> lit(1d) / col("open"),
        "close" -> lit(1d) / col("close"),
        "vwap" -> lit(1d) / col("vwap"),
        "buy_volume" -> col("buy_volume") / (lit(1d) / col("vwap")))
      val kept = candles0.columns.toSeq.filterNot(inverted.map(_._1).contains)
      candles0.select(kept.map(col) ++ inverted.map { case (n, c) => c.as(n) }: _*)
    }
  }

  /** The paged /v2/exchanges interval read: candle core + page order. */
  def getExchangeCandles(exchanges: DataFrame, base: Pair, counter: Pair,
      interval: String, opts: RangeOpts = RangeOpts(limit = 400)): DataFrame =
    exchangePairCandles(exchanges, base, counter, interval, opts)
      .orderBy(pageOrder(opts, col("start")): _*)
      .limit(opts.limit)

  /** A9 rolling-period rate (data.js:1354-1373): the vwap over the
    * rolling window [end − span, end], computed from the period's
    * child-interval candles exactly like the reference (hour→5minute,
    * day→15minute, 3day/7day→1hour, 30day→1day), Σcounter/Σbase over
    * the candles, 0 when the window is empty.
    */
  def rollingRate(exchanges: DataFrame, base: Pair, counter: Pair,
      period: String, end: Long): DataFrame = {
    val (spanSec, interval) = period match {
      case "hour" => (3600L, "5minute")
      case "day" => (86400L, "15minute")
      case "3day" => (3L * 86400L, "1hour")
      case "7day" => (7L * 86400L, "1hour")
      case "30day" => (30L * 86400L, "1day")
      case other => throw new IllegalArgumentException(
        s"invalid period: $other - use hour, day, 3day, 7day, 30day")
    }
    exchangePairCandles(exchanges, base, counter, interval,
      RangeOpts(Some(end - spanSec), Some(end)))
      .agg(sum(col("base_volume")).as("base_sum"),
        sum(col("counter_volume")).as("counter_sum"))
      .select(
        when(col("base_sum").isNull || col("base_sum") === 0d, lit(0d))
          .otherwise(col("counter_sum") / col("base_sum")).as("rate"),
        coalesce(col("base_sum"), lit(0d)).as("base_volume"),
        coalesce(col("counter_sum"), lit(0d)).as("counter_volume"))
  }

  /** reduce=true: collapse the (≤10 000-row guarded) range to one row
    * (data.js:1590-1655, 1716-1722).
    */
  def reduceExchanges(exchanges: DataFrame, base: Pair, counter: Pair,
      opts: RangeOpts = RangeOpts(), guard: Int = 10000): DataFrame = {
    // single pass: no pre-count scan and no sort — both row counts
    // (scanned, for the guard; post-dust, for the response) ride along
    // in one aggregate. The guard counts SCANNED rows like the
    // reference (data.js:1716-1722 errors on the range's row count
    // before reduction, dust included); it fires lazily when the
    // result row is consumed, as a SparkRuntimeException rather than
    // the reference's eager request error — a documented divergence of
    // error type/timing, not of boundary.
    val rows = exchangePairRows(exchanges, base, counter, opts)
    val isDust =
      (lit(base.currency == "XRP") && col("base_amount") < 0.0005) ||
        (lit(counter.currency == "XRP") && col("counter_amount") < 0.0005)
    val sk = concat_ws("|", lpad(col("ledger_index").cast("string"), 12, "0"),
      lpad(col("tx_index").cast("string"), 5, "0"),
      lpad(col("node_index").cast("string"), 5, "0"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    // min_by/max_by skip rows whose ordering key is NULL, so nulling
    // the sort key on dust rows excludes them without a second scan
    def live(c: Column): Column = when(!col("dust"), c)
    rows
      .withColumn("dust", isDust)
      .withColumn("sk", sk)
      .agg(
        min_by(col("rate"), live(col("sk"))).as("open"),
        max_by(col("rate"), live(col("sk"))).as("close"),
        max(live(col("rate"))).as("high"),
        min(live(col("rate"))).as("low"),
        min_by(col("time"), live(col("sk"))).as("open_time"),
        max_by(col("time"), live(col("sk"))).as("close_time"),
        // raw-string decimal sums → exact and order-independent (the
        // double column would round-trip through binary first)
        sum(live(col("base_amount_raw")).cast(dec)).cast("double")
          .as("base_volume"),
        sum(live(col("counter_amount_raw")).cast(dec)).cast("double")
          .as("counter_volume"),
        sum(live(when(col("buyer") === col("taker"), col("base_amount_raw"))
          .otherwise(lit("0"))).cast(dec)).cast("double").as("buy_volume"),
        count(when(!col("dust"), lit(1))).as("count"),
        count(lit(1)).as("scanned"))
      .withColumn("vwap", col("counter_volume") / col("base_volume"))
      .filter(assert_true(col("scanned") < lit(guard),
        lit("too many rows")).isNull) // data.js:1716-1722, pre-dust count
      .drop("scanned")
  }

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/transactions — data.js:1172-1246 (J1)
  // -----------------------------------------------------------------
  /** The reference scans the affected-account index, then multigets
    * the page's transactions. Here a transaction and its
    * affected-account rows share one bundle row, so that join is a
    * nested per-ledger filter: keep the ledgers with a matching
    * affected-account element, explode their transactions, keep those
    * a matching element of the same row names by `tx_hash`, take the
    * page. One job, no exchange. Same page: `TxParsers.affectedAccounts`
    * emits an account at most once per transaction, with the
    * transaction's own time, ledger_index and tx_index.
    */
  def getAccountTransactions(t: XrplTables, account: String,
      opts: RangeOpts = RangeOpts(limit = 20),
      txType: Option[String] = None, txResult: Option[String] = None): DataFrame = {
    def hit(a: Column): Column = (Seq(a("account") === account) ++
      txType.map(a("tx_type") === _) ++ txResult.map(a("tx_result") === _) ++
      opts.start.map(a("time") >= _) ++ opts.end.map(a("time") <= _)).reduce(_ && _)
    t.cached.toDF()
      .filter(exists(col("affectedAccounts"), hit))
      .select(explode(col("transactions")).as("tx"), col("affectedAccounts"))
      .filter(exists(col("affectedAccounts"),
        a => hit(a) && a("tx_hash") === col("tx.tx_hash")))
      .select(XrplTables.fieldsOf[TransactionRow](col("tx")): _*)
      .orderBy(pageOrder(opts, col("executed_time"), col("ledger_index"),
        col("tx_index")): _*)
      .limit(opts.limit)
  }

  /** Sequence-range variant (lu_account_transactions, data.js:1147-1166). */
  def getAccountTransactionsBySequence(t: XrplTables, account: String,
      minSeq: Long, maxSeq: Long): DataFrame =
    t.transactions.toDF()
      .filter(col("account") === account &&
        col("sequence").between(minSeq, maxSeq))
      .orderBy(col("sequence"))

  // -----------------------------------------------------------------
  // GET /v2/ledgers[/:id] — data.js:1856-1977 (J2)
  // -----------------------------------------------------------------
  // compared as text: codegen inlines a Long literal (a class per index), not a string
  def getLedgerByIndex(t: XrplTables, index: Long): DataFrame =
    t.ledgers.toDF().filter(col("ledger_index").cast("string") === index.toString)

  def getLedgerByHash(t: XrplTables, hash: String): DataFrame =
    t.ledgers.toDF().filter(col("ledger_hash") === hash)

  def getLatestLedger(t: XrplTables): DataFrame =
    t.ledgers.toDF().orderBy(col("ledger_index").desc).limit(1)

  /** Ledger → member transactions expansion (data.js:1904-1944). */
  def expandLedgerTransactions(t: XrplTables, index: Long): DataFrame =
    t.transactions.toDF()
      .filter(col("ledger_index") === index)
      .orderBy(col("tx_index"))

  // -----------------------------------------------------------------
  // GET /v2/transactions[/:hash] — data.js:2021-2163 (limit cap 100,
  // api/routes/getTransactions.js:119-122; type/result filters F2)
  // -----------------------------------------------------------------
  def getTransactions(t: XrplTables, opts: RangeOpts = RangeOpts(limit = 20),
      txType: Option[String] = None, txResult: Option[String] = None): DataFrame = {
    var df = t.transactions.toDF()
    txType.foreach(v => df = df.filter(col("tx_type") === v))
    txResult.foreach(v => df = df.filter(col("tx_result") === v))
    timeFilter(df, "executed_time", opts)
      .orderBy(pageOrder(opts, col("executed_time"), col("ledger_index"),
        col("tx_index")): _*)
      .limit(math.min(opts.limit, 100)) // route cap
  }

  /** Point get by hash (X15-validated upstream; data.js:2056-2111). */
  def getTransactionByHash(t: XrplTables, hash: String): DataFrame =
    t.transactions.toDF().filter(col("tx_hash") === hash)

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/memos — lu_account_memos scan
  // -----------------------------------------------------------------
  def getMemos(t: XrplTables, account: String,
      opts: RangeOpts = RangeOpts()): DataFrame =
    timeFilter(t.memos.toDF().filter(col("account") === account),
      "executed_time", opts)
      .orderBy(pageOrder(opts, col("executed_time"), col("ledger_index"),
        col("tx_index"), col("memo_index")): _*)
      .limit(opts.limit)

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/escrows — data.js escrow scans
  // -----------------------------------------------------------------
  def getAccountEscrows(t: XrplTables, account: String,
      opts: RangeOpts = RangeOpts()): DataFrame =
    timeFilter(t.escrows.toDF().filter(col("account") === account),
      "time", opts)
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index")): _*)
      .limit(opts.limit)

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/payment_channels
  // -----------------------------------------------------------------
  def getAccountPayChannels(t: XrplTables, account: String,
      opts: RangeOpts = RangeOpts()): DataFrame =
    timeFilter(t.paychans.toDF()
      .filter(col("account") === account || col("source") === account ||
        col("destination") === account),
      "time", opts)
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index")): _*)
      .limit(opts.limit)

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/orders — offer lifecycle events
  // (lu_account_offers_by_sequence; data.js offer scans)
  // -----------------------------------------------------------------
  def getAccountOffers(t: XrplTables, account: String,
      opts: RangeOpts = RangeOpts(),
      changeType: Option[String] = None): DataFrame = {
    var df = t.offers.toDF().filter(col("account") === account)
    changeType.foreach(v => df = df.filter(col("change_type") === v))
    timeFilter(df, "executed_time", opts)
      .orderBy(pageOrder(opts, col("executed_time"), col("ledger_index"),
        col("tx_index"), col("node_index")): _*)
      .limit(opts.limit)
  }

  // -----------------------------------------------------------------
  // GET /v2/payments[/:currency] — data.js:1251-1306
  // -----------------------------------------------------------------
  def getPayments(t: XrplTables, currency: Option[Pair] = None,
      opts: RangeOpts = RangeOpts()): DataFrame = {
    var df = t.payments.toDF()
    currency.foreach { p =>
      df = df.filter(col("currency") === p.currency &&
        p.issuer.map(col("issuer") === _).getOrElse(lit(true)))
    }
    timeFilter(df, "time", opts)
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index")): _*)
      .limit(opts.limit)
  }

  def getAccountPayments(t: XrplTables, account: String,
      opts: RangeOpts = RangeOpts()): DataFrame =
    timeFilter(
      t.payments.toDF()
        .filter(col("source") === account || col("destination") === account),
      "time", opts)
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index")): _*)
      .limit(opts.limit)

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/balance_changes — data.js:560-640
  // -----------------------------------------------------------------
  def getBalanceChanges(t: XrplTables, account: String,
      currency: Option[String] = None, counterparty: Option[String] = None,
      opts: RangeOpts = RangeOpts()): DataFrame = {
    var df = t.balanceChanges.toDF().filter(col("account") === account)
    currency.foreach(v => df = df.filter(col("currency") === v))
    counterparty.foreach(v => df = df.filter(col("counterparty") === v))
    timeFilter(df, "time", opts)
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index"), col("node_index")): _*)
      .limit(opts.limit)
  }

  // -----------------------------------------------------------------
  // GET /v2/accounts — data.js:2311-2495 (A8)
  // -----------------------------------------------------------------
  def getAccountsCreated(t: XrplTables, opts: RangeOpts = RangeOpts(),
      parent: Option[String] = None): DataFrame = {
    var df = t.accountsCreated.toDF()
    parent.foreach(p => df = df.filter(col("parent") === p))
    timeFilter(df, "time", opts)
      .orderBy(pageOrder(opts, col("time"), col("ledger_index"),
        col("tx_index")): _*)
      .limit(opts.limit)
  }

  /** Count plan: plain count(*) replaces the reference's hybrid
    * raw+weekly-preagg plan (data.js:2403-2495) — Catalyst prunes to a
    * count-only scan (SURVEY.md §4).
    */
  def countAccountsCreated(t: XrplTables, opts: RangeOpts = RangeOpts()): Long =
    timeFilter(t.accountsCreated.toDF(), "time", opts).count()

  /** GET /v2/accounts/:address — the account-creation point lookup
    * (api/routes/getAccount.js; data.js getAccount over
    * lu_accounts_created).
    */
  def getAccountCreation(t: XrplTables, address: String): DataFrame =
    t.accountsCreated.toDF().filter(col("account") === address)

  /** GET /v2/accounts/:address/stats/:family — keyed scan over the
    * per-account stats aggregates (api/routes/accountStats.js;
    * data.js:699-775). `statsRows` is the output of
    * `Aggregations.accountStatsTransactions` (family "transactions")
    * or `Aggregations.accountValueStats` (family "value").
    */
  def getAccountStats(statsRows: DataFrame, account: String,
      opts: RangeOpts = RangeOpts()): DataFrame =
    timeFilter(statsRows.filter(col("account") === account), "date", opts)
      .orderBy(pageOrder(opts, col("date")): _*)
      .limit(opts.limit)

  // -----------------------------------------------------------------
  // GET /v2/accounts/:address/reports — api/routes/accountReports.js;
  // data.js getAggregateAccountPayments:383-450. The keyed read layer
  // over the A5 agg_account_payments aggregate.
  // -----------------------------------------------------------------

  /** Per-day report rows for one account over the A5 aggregate
    * (Aggregations.accountPayments output). Counterparty sets collapse
    * to counts unless `counterparties` is requested
    * (accountReports.js:31-35); reference row names are emitted
    * (sending_/receiving_counterparties).
    */
  def getAccountReports(aggAccountPayments: DataFrame, account: String,
      opts: RangeOpts = RangeOpts(), counterparties: Boolean = false): DataFrame = {
    val keyed = timeFilter(
      aggAccountPayments.filter(col("account") === account), "date", opts)
    val shaped =
      if (counterparties)
        keyed
          .withColumnRenamed("sent_counterparties", "sending_counterparties")
          .withColumnRenamed("received_counterparties", "receiving_counterparties")
      else keyed
        .withColumn("sending_counterparties",
          size(col("sent_counterparties")).cast("long"))
        .withColumn("receiving_counterparties",
          size(col("received_counterparties")).cast("long"))
        .drop("sent_counterparties", "received_counterparties")
    shaped
      .orderBy(pageOrder(opts, col("date")): _*)
      .limit(opts.limit)
  }

  /** The no-account variant (data.js:429-450): all accounts' report
    * rows in a date range, the rowkey scan as a date-range filter.
    */
  def getAccountReportsByDate(aggAccountPayments: DataFrame,
      opts: RangeOpts = RangeOpts()): DataFrame =
    timeFilter(aggAccountPayments, "date", opts)
      .withColumn("sending_counterparties",
        size(col("sent_counterparties")).cast("long"))
      .withColumn("receiving_counterparties",
        size(col("received_counterparties")).cast("long"))
      .drop("sent_counterparties", "received_counterparties")
      .orderBy(pageOrder(opts, col("date"), col("account")): _*)
      .limit(opts.limit)

  // -----------------------------------------------------------------
  // GET /v2/active_accounts/:base/:counter — activeAccounts.js:79-166 (A10)
  // -----------------------------------------------------------------
  def getActiveAccounts(exchanges: DataFrame, base: Pair, counter: Pair,
      opts: RangeOpts = RangeOpts()): DataFrame = {
    val rows = exchangePairRows(exchanges, base, counter, opts)
    // buyer and seller perspectives (the account_exchanges fan-out)
    val perspectives = rows.select(col("buyer").as("account"),
        lit("buy").as("side"), col("base_amount"), col("counter_amount"))
      .unionByName(rows.select(col("seller").as("account"),
        lit("sell").as("side"), col("base_amount"), col("counter_amount")))
    perspectives
      .groupBy(col("account"))
      .agg(
        sum(when(col("side") === "buy", col("base_amount")).otherwise(0d))
          .as("base_volume_bought"),
        sum(when(col("side") === "sell", col("base_amount")).otherwise(0d))
          .as("base_volume_sold"),
        sum(when(col("side") === "buy", col("counter_amount")).otherwise(0d))
          .as("counter_volume_bought"),
        sum(when(col("side") === "sell", col("counter_amount")).otherwise(0d))
          .as("counter_volume_sold"),
        sum(when(col("side") === "buy", 1).otherwise(0)).cast("long").as("buy_count"),
        sum(when(col("side") === "sell", 1).otherwise(0)).cast("long").as("sell_count"))
      .withColumn("base_volume",
        col("base_volume_bought") + col("base_volume_sold"))
      .orderBy(col("base_volume").desc, col("account"))
  }

  // -----------------------------------------------------------------
  // Exchange-rate blend — data.js:1318-1455 (A9)
  // -----------------------------------------------------------------

  /** VWAP over a period: Σcounter/Σbase of the range (data.js:1371-1414). */
  def periodVwap(exchanges: DataFrame, base: Pair, counter: Pair,
      start: Long, end: Long): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    exchangePairRows(exchanges, base, counter,
      RangeOpts(Some(start), Some(end)))
      .agg((sum(col("counter_amount_raw").cast(dec)).cast("double") /
        sum(col("base_amount_raw").cast(dec)).cast("double")).as("vwap"),
        count(lit(1)).as("count"))
  }

  /** Blended rate: mean of period vwap and last-50-trade vwap
    * (data.js:1318-1367).
    */
  def exchangeRate(exchanges: DataFrame, base: Pair, counter: Pair,
      start: Long, end: Long): DataFrame = {
    val period = periodVwap(exchanges, base, counter, start, end)
      .select(col("vwap").as("period_vwap"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val lastOpts = RangeOpts(end = Some(end), descending = true, limit = 50)
    val last50 = exchangePairRows(exchanges, base, counter, lastOpts)
      .orderBy(pageOrder(lastOpts, col("time"), col("ledger_index"),
        col("tx_index"), col("node_index")): _*)
      .limit(lastOpts.limit)
      .agg((sum(col("counter_amount_raw").cast(dec)).cast("double") /
        sum(col("base_amount_raw").cast(dec)).cast("double"))
        .as("last50_vwap"))
    period.crossJoin(last50)
      .withColumn("rate", (col("period_vwap") + col("last50_vwap")) / 2d)
  }

  /** J9: normalize an amount between currencies via two XRP rates
    * (api/routes/normalize.js:24-52).
    */
  def normalize(exchanges: DataFrame, amount: Double, currency: Pair,
      exchangeCurrency: Pair, start: Long, end: Long): DataFrame = {
    val xrp = Pair("XRP", None)
    val toXrp =
      if (currency.currency == "XRP") lit(1d)
      else col("r1.vwap")
    val fromXrp =
      if (exchangeCurrency.currency == "XRP") lit(1d)
      else col("r2.vwap")
    val r1 =
      if (currency.currency == "XRP") null
      else periodVwap(exchanges, currency, xrp, start, end).as("r1")
    val r2 =
      if (exchangeCurrency.currency == "XRP") null
      else periodVwap(exchanges, exchangeCurrency, xrp, start, end).as("r2")
    val crossed = (Option(r1), Option(r2)) match {
      case (Some(a), Some(b)) => a.crossJoin(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        exchanges.sparkSession.sql("SELECT 1 AS one")
    }
    crossed.select(
      lit(amount).as("amount"),
      (lit(amount) * toXrp / fromXrp).as("converted"),
      (toXrp / fromXrp).as("rate"))
  }

  // -----------------------------------------------------------------
  // Estimate: order-book depth walk — api/routes/estimate.js:170-318
  // (J10/W5). Walk a price-ordered book until the target amount is
  // consumed; the crossing offer fills partially.
  // -----------------------------------------------------------------

  /** One book walk: offers (price asc for a buy) with columns
    * `price` (per-unit) and `amount` (depth at that price). Returns
    * the consumed rows with cumulative depth, the partial fill of the
    * crossing offer, and per-row cost — Σcost / target = effective
    * rate. Window cumsum + filter: no driver-side loop
    * (estimate.js:262-318 walks in JS; here the walk is a plan).
    */
  def walkBook(book: DataFrame, target: Double,
      ascending: Boolean = true): DataFrame =
    walkBookWith(book, lit(target), ascending)

  /** Column-target variant: the target may come from another plan
    * (e.g. leg A's proceeds cross-joined onto leg B's book), keeping
    * multi-leg walks one lazy plan.
    */
  def walkBookWith(book: DataFrame, target: Column,
      ascending: Boolean = true): DataFrame = {
    // ascending when price is a cost per unit (minimize), descending
    // when it is proceeds per unit (maximize) — estimate.js walks each
    // book from its best price. The cumulative depth is the two-pass
    // range-partitioned prefix sum (graft.functions.PrefixSum), not an
    // unpartitioned Window — one hot book never serializes onto a
    // single task.
    val ord = if (ascending) Seq(col("price"), col("offer_id"))
      else Seq(col("price").desc, col("offer_id"))
    graft.functions.PrefixSum
      .globalCumsum(book, ord, col("amount"), "cum")
      // keep every offer whose start-of-depth is below the target:
      // all fully consumed rows + the crossing row
      .filter(col("cum") - col("amount") < target)
      .withColumn("fill",
        when(col("cum") <= target, col("amount"))
          .otherwise(target - (col("cum") - col("amount"))))
      .withColumn("cost", col("fill") * col("price"))
  }

  /** Effective rate for converting `target` units through one book. */
  def bookRate(book: DataFrame, target: Double,
      ascending: Boolean = true): DataFrame =
    walkBook(book, target, ascending)
      .agg(sum(col("fill")).as("filled"), sum(col("cost")).as("cost"))
      .withColumn("rate", col("cost") / col("filled"))

  /** Per-exchange fee schedule for the two-book estimate — the static
    * `fees` table of estimate.js:12-27 made a parameter: exchange fees
    * scale each leg's input, the transfer fee is a flat deduction in
    * intermediary units between legs (estimate.js:200-221).
    */
  final case class EstimateFees(
      sourceExchange: Double = 0.0,
      destExchange: Double = 0.0,
      transfer: Double = 0.0)

  /** Two-book estimate (src→XRP then XRP→dst; estimate.js:170-236):
    * walk book A for the fee-adjusted source amount, deduct the
    * destination's exchange + transfer fees from the intermediary
    * proceeds, walk book B, and decorate with the midpoint spread
    * (`bps`) and the forex reference rate (`fx_rate`,
    * estimate.js:101-143) when those inputs are supplied.
    *
    * `midpoints`: 1-row frames with a `mid` column per book (see
    * [[graft.xrpl.external.External.midpoint]]); `forex`: a 1-row
    * frame with `fx_rate` ([[graft.xrpl.external.External.forexRate]]).
    */
  def estimate(bookA: DataFrame, bookB: DataFrame, amount: Double,
      fees: EstimateFees = EstimateFees(),
      forex: Option[DataFrame] = None,
      midpoints: Option[(DataFrame, DataFrame)] = None,
      aAscending: Boolean = true): DataFrame = {
    val adjusted1 = amount * (1 - fees.sourceExchange)
    // aAscending=false when bookA's price is proceeds-per-unit (e.g. a
    // source book re-expressed in source-currency depth): best offer =
    // highest proceeds per consumed unit
    val a = bookRate(bookA, adjusted1, aAscending)
      .select(col("filled").as("a_filled"), col("cost").as("a_cost"),
        col("rate").as("a_rate"))
      // destination-side fees come off the intermediary proceeds
      // BEFORE the second walk (estimate.js:216-218)
      .withColumn("b_target",
        col("a_cost") * lit(1 - fees.destExchange) - lit(fees.transfer))
    // the XRP proceeds of leg A feed leg B as a broadcast scalar
    // COLUMN (1-row cross join) — the two walks compose into one lazy
    // plan, no driver-side materialization between legs. Leg B's price
    // is dst proceeds per XRP → best price first (desc).
    val bWalked = walkBookWith(bookB.crossJoin(broadcast(a)),
      col("b_target"), ascending = false)
    val base = bWalked
      .groupBy(col("a_filled"), col("a_cost"), col("a_rate"), col("b_target"))
      .agg(sum(col("fill")).as("b_filled"), sum(col("cost")).as("b_cost"))
      .withColumn("b_rate", col("b_cost") / col("b_filled"))
      .withColumn("amount", lit(amount))
      .withColumn("estimated", col("b_cost"))
      .withColumn("effective_rate", col("b_cost") / lit(amount))
    val withMid = midpoints.fold(base) { case (mA, mB) =>
      // midpoint-of-midpoints spread in basis points
      // (estimate.js:208-212, 229-230)
      val mids = mA.select(col("mid").as("mid_a"))
        .crossJoin(mB.select(col("mid").as("mid_b")))
        .select((col("mid_b") / col("mid_a")).as("midpoint"))
      base.crossJoin(broadcast(mids))
        .withColumn("bps",
          abs(ceil((col("effective_rate") / col("midpoint") - 1) * 10000))
            .cast("long"))
    }
    forex.fold(withMid)(fx => withMid.crossJoin(broadcast(fx)))
  }

  // -----------------------------------------------------------------
  // Top markets / currencies — data.js:1049-1141 (W6)
  // -----------------------------------------------------------------
  def topMarkets(exchanges: DataFrame, limit: Int = 10): DataFrame = {
    val daily = exchanges
      .withColumn("day", (col("time") / 86400L).cast("long") * 86400L)
      .groupBy(col("day"), col("base_currency"), col("base_issuer"),
        col("counter_currency"), col("counter_issuer"))
      .agg(sum(col("base_amount").cast("double")).as("base_volume"),
        count(lit(1)).as("count"))
    val w = Window.partitionBy(col("day")).orderBy(col("base_volume").desc,
      col("base_currency"), col("counter_currency"))
    daily.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= limit)
      .orderBy(col("day"), col("rank"))
  }

  def topCurrencies(payments: DataFrame, limit: Int = 10): DataFrame = {
    val daily = payments
      .withColumn("day", (col("time") / 86400L).cast("long") * 86400L)
      .groupBy(col("day"), col("currency"), col("issuer"))
      .agg(sum(col("delivered_amount").cast("double")).as("amount"),
        count(lit(1)).as("count"))
    val w = Window.partitionBy(col("day")).orderBy(col("amount").desc,
      col("currency"))
    daily.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= limit)
      .orderBy(col("day"), col("rank"))
  }
}

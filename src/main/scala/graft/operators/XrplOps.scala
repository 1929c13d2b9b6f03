package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.xrpl.XrplTables

/** The XRPL domain engine wired into the driver's correctness gate.
  *
  * Each query parses the bundled reference mock ledgers (the same 54
  * fixtures the reference's test suite uses), dumps the parsed tables
  * as parquet under the checkout's target/graft_xrpl, runs the domain
  * operator in Spark, and pairs it with DuckDB oracle SQL reading those
  * dumps — so the exchange/payment/stats/fee query semantics are
  * hash-verified cross-engine, not just unit-tested.
  *
  * Volumes sum through DECIMAL so results are order-independent and
  * bit-identical across engines (see graft.functions.Cols).
  */
object XrplOps {

  // inside the checkout the JVM runs in (gitignored), so the DuckDB
  // stage sees the same filesystem the Verify stage wrote to; absolute,
  // because the oracle SQL names the dump files by path
  private[graft] val DumpDir = new java.io.File("target/graft_xrpl").getAbsolutePath
  private val Dec = DecimalType(38, 18)

  // @volatile + synchronized is deliberate belt-and-braces: the flag
  // read races only against the fully-synchronized writer, so the
  // double-checked shape is correct as written. Note the guard is
  // per-JVM — the driver harness runs each query main in a fresh JVM,
  // so the parse+dump re-runs per process (cheap at fixture scale; a
  // long-lived service amortizes it across all queries).
  @volatile private var prepared = false

  /** Parse once per JVM and dump the tables DuckDB needs. */
  private def prepare(s: SparkSession): Unit = synchronized {
    if (!prepared) {
      val t = XrplTables.fromFiles(s, XrplTables.fixturesPath)
      // coalesce(1) is for the 54-ledger FIXTURE dump only (one file
      // keeps the DuckDB glob trivial) — at scale the store writes are
      // the partitioned XrplStore paths below, never single-file
      def dump(df: DataFrame, name: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$DumpDir/$name")
      dump(t.exchanges.toDF(), "exchanges")
      dump(t.payments.toDF().drop("source_balance_changes",
        "destination_balance_changes"), "payments")
      dump(t.transactions.toDF().drop("tx_json", "meta_json"), "transactions")
      dump(t.affectedAccounts.toDF(), "affected_accounts")
      dump(t.balanceChanges.toDF(), "balance_changes")
      dump(t.offers.toDF(), "offers")
      dump(t.feeSummaries.toDF(), "fee_summaries")
      dump(t.memos.toDF(), "memos")
      dump(t.escrows.toDF(), "escrows")
      dump(t.accountsCreated.toDF(), "accounts_created")
      // the A5 aggregate the reference maintains as agg_account_payments
      // (accountPayments.js daemon) — materialized once, so report
      // queries read the prepared table instead of re-running the
      // collect_set aggregation per request
      dump(graft.xrpl.agg.Aggregations.accountPayments(t.payments.toDF()),
        "agg_account_payments")
      // tx_hashes is an array column — dropped so every dumped column
      // stays scalar-sortable for the cross-engine row hash
      dump(t.ledgers.toDF().drop("tx_hashes"), "ledgers")
      // materialized candle store: the 13-interval cascade written as
      // partitioned parquet, read back through interval routing
      graft.xrpl.store.XrplStore.writeCandleStore(t.exchanges.toDF(),
        s"$DumpDir/store")
      // delete path: a date-partitioned transactions store with the
      // newest ledger removed via the anti-join partition rewrite
      graft.xrpl.store.XrplStore.write(
        t.transactions.toDF().drop("tx_json", "meta_json"),
        "transactions", s"$DumpDir/store_rm")
      graft.xrpl.store.XrplStore.removeLedger(s, s"$DumpDir/store_rm",
        "transactions", 29709909L)
      dump(graft.xrpl.topology.Topology.loadValidatorReports(s,
        graft.xrpl.topology.Topology.networkFixture("validator-reports.json")),
        "validator_reports")
      dump(graft.xrpl.topology.Topology.loadLedgerValidations(s,
        graft.xrpl.topology.Topology.networkFixture("ledger-validations.json")),
        "ledger_validations")
      // topology snapshot read path: the raw crawl's node rows and
      // "prefix>prefix" connection strings — both engines resolve and
      // format from these raw dumps (topology.js:111-135, 176-210)
      locally {
        val (nodes, links) = graft.xrpl.topology.Topology.loadCrawl(s,
          graft.xrpl.topology.Topology.networkFixture("topology-crawl.json"))
        dump(nodes.select(col("pubkey_node"), col("host"), col("port"),
          col("version"), col("uptime"), col("in"), col("out")), "crawl_nodes")
        dump(links, "crawl_links")
      }
      // manifests read path: parsed + ed25519-verified manifest rows
      // (the verdict has no SQL equivalent, so it is materialized once
      // here and the LISTING semantics are what the gates cross-check;
      // the crypto itself is unit-tested against real fixtures in
      // ManifestsSpec)
      dump(graft.xrpl.topology.Topology.loadManifests(s,
        graft.xrpl.topology.Topology.networkFixture("manifests.json")),
        "manifests")
      // externally-collected read paths (estimate forex/books,
      // external markets) — deterministic fixture stand-ins for the
      // out-of-band collectors
      dump(graft.xrpl.external.External.forexFixture(s), "forex_rates")
      dump(graft.xrpl.external.External.orderbooksFixture(s),
        "external_orderbooks")
      dump(graft.xrpl.external.External.marketsFixture(s), "external_markets")
      // X5 fixture: BookDirectory hexes spanning positive/zero/negative
      // decoded exponents and every XRP-shift combination
      locally {
        import s.implicits._
        val prefix = "4627DFFCFF8B5A265EDBD8AE8C14A52325DBFEDAF4F5C32E"
        dump(Seq(
          ("5A", "0038D7EA4C6800", "XRP", "USD"),
          ("62", "00000000004E20", "USD", "XRP"),
          ("64", "0000000000000C", "EUR", "USD"),
          ("66", "000000000001F4", "USD", "EUR"),
          ("55", "37E11D5F023E80", "XRP", "BTC"),
          ("5E", "000000E8D4A510", "BTC", "XRP"),
          ("5F", "00002D79883D20", "USD", "JPY"),
          ("61", "0000000001E240", "XRP", "XRP"))
          .map { case (off, mant, pays, gets) =>
            (prefix + off + mant, pays, gets)
          }
          .toDF("book_directory", "pays", "gets"), "book_directories")
      }
      // X14/S13: CSV export round-trip artifact (headered, flattened)
      graft.xrpl.store.CsvExport.write(t.feeSummaries.toDF(),
        s"$DumpDir/csv_fee_summaries")
      // S13 JSON-lines export round-trip artifact (structs kept nested)
      graft.xrpl.store.JsonExport.write(
        t.feeSummaries.toDF().select(col("ledger_index"), col("date"),
          col("total"),
          struct(col("avg"), col("max"), col("min")).as("fee_stats"),
          col("tx_count")),
        s"$DumpDir/json_fee_summaries")
      // /v2/gateways registry (api/routes/gateways.js): the static
      // config flattened per (gateway, account, currency) plus the raw
      // asset-filename manifests, so the DuckDB oracle re-derives the
      // endpoint responses (sort, rank, asset counts) independently
      dump(graft.xrpl.topology.Gateways.currencyFlat(s),
        "gateway_currencies")
      dump(graft.xrpl.topology.Gateways.gatewayAssetFiles(s),
        "gateway_asset_files")
      dump(graft.xrpl.topology.Gateways.currencyAssetFiles(s),
        "currency_asset_files")
      prepared = true
    }
  }

  private def pq(s: SparkSession, name: String): DataFrame = {
    prepare(s)
    Tables.parquet(s, s"$DumpDir/$name")
  }

  @volatile private var liveStorePrepared = false

  /** Maintained-frontier read path for the S10 live-state gates
    * (VERDICT r12 #7): runs [[graft.streaming.DaemonStream
    * .liveStateDaemon]] over the fixture ledgers as a MULTI-BATCH
    * stream (two drop files, maxFilesPerTrigger=1 — the frontier is
    * merged across micro-batches through IncrementalDaemon.step, never
    * rebuilt from history) and leaves the compacted stores at
    * `$DumpDir/live/store/{live_balances,open_offers}`. The
    * `xrpl_live_*_store` gates read THOSE parquet tables against the
    * same full-scan oracle SQL as the history-derived gates — proving
    * the read path a deployment actually serves account_info /
    * account_offers from, through the hash-exact DuckDB gate. Kept
    * separate from [[prepare]] so gates that never touch the frontier
    * store don't pay the streaming run; the live dir is cleared first
    * because a previous JVM's state chain (batch ids restart at 0)
    * would otherwise corrupt the merge.
    */
  private def prepareLiveStore(s: SparkSession): Unit = synchronized {
    if (!liveStorePrepared) {
      prepare(s)
      val liveDir = s"$DumpDir/live"
      new org.apache.hadoop.fs.Path(liveDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(liveDir), true)
      val dropDir = s"$liveDir/drop"
      XrplTables.writeFixtureDrops(s, dropDir)
      val stream = s.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1").text(dropDir)
      val q = graft.streaming.DaemonStream.liveStateDaemon(s, stream, liveDir)
      try {
        q.processAllAvailable()
        require(q.recentProgress.length >= 2,
          "live-state daemon must merge across >= 2 micro-batches")
      } finally q.stop()
      liveStorePrepared = true
    }
  }

  private def t(name: String): String = s"'$DumpDir/$name/*.parquet'"

  private def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(Dec)).cast("double")
  // DuckDB's decimal→double cast divides the scaled int128 in floating
  // point (not correctly rounded at scale 18); routing through VARCHAR
  // gives the correctly-rounded strtod, matching Spark's
  // BigDecimal.doubleValue.
  private def dsumSql(e: String) =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"

  // sort key shared by candle open/close selection (exchanges.js:592)
  private val skSpark = concat_ws("|",
    lpad(col("ledger_index").cast("string"), 12, "0"),
    lpad(col("tx_index").cast("string"), 5, "0"),
    lpad(col("node_index").cast("string"), 5, "0"))
  private val skSql =
    """lpad(CAST(ledger_index AS VARCHAR), 12, '0') || '|' ||
      |lpad(CAST(tx_index AS VARCHAR), 5, '0') || '|' ||
      |lpad(CAST(node_index AS VARCHAR), 5, '0')""".stripMargin.replace("\n", " ")

  def specs: Seq[QuerySpec] = Seq(
    // Roll effective-spread estimator — the market-microstructure
    // number (Roll 1984: bid-ask bounce makes consecutive price
    // changes negatively autocovariant; spread = 2√(−cov)) computed
    // per currency pair over the canonical trade order. Beyond the
    // reference's OHLC metrics: a market-quality readout its
    // exchange tables support but never compute. Prices quantize to
    // integer micro-units (floor of an identical double product), the
    // lag-1 autocovariance folds as exact 128-bit sums (price deltas
    // can be large for IOU pairs), and the single sqrt/divide runs on
    // identical exact operands. One keyed window pass over exchanges.
    QuerySpec.sql(
      "xrpl_roll_spread",
      s"""WITH px AS (
         |  SELECT base_currency, COALESCE(base_issuer, '') AS base_issuer,
         |    counter_currency,
         |    COALESCE(counter_issuer, '') AS counter_issuer,
         |    CAST(FLOOR(CAST(rate AS DOUBLE) * 1000000) AS BIGINT) AS p,
         |    $skSql AS sk
         |  FROM ${t("exchanges")}),
         |d AS (
         |  SELECT *, p - LAG(p) OVER w AS d1, LAG(p) OVER w AS pp
         |  FROM px
         |  WINDOW w AS (PARTITION BY base_currency, base_issuer,
         |    counter_currency, counter_issuer ORDER BY sk)),
         |dd AS (
         |  SELECT *, LAG(d1) OVER w AS d0
         |  FROM d
         |  WINDOW w AS (PARTITION BY base_currency, base_issuer,
         |    counter_currency, counter_issuer ORDER BY sk)),
         |a AS (
         |  SELECT base_currency, base_issuer, counter_currency,
         |    counter_issuer,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(d1) AS BIGINT) AS sa,
         |    CAST(SUM(d0) AS BIGINT) AS sb,
         |    SUM(CAST(d1 AS HUGEINT) * d0) AS sab
         |  FROM dd WHERE d1 IS NOT NULL AND d0 IS NOT NULL
         |  GROUP BY 1, 2, 3, 4
         |  HAVING COUNT(*) >= 3)
         |SELECT base_currency, base_issuer, counter_currency,
         |  counter_issuer, n AS n_diff_pairs,
         |  CAST(CASE WHEN n * sab - CAST(sa AS HUGEINT) * sb < 0 THEN
         |    2 * sqrt(CAST(-(n * sab - CAST(sa AS HUGEINT) * sb)
         |      AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000
         |    END AS DOUBLE) AS roll_spread
         |FROM a
         |ORDER BY 1, 2, 3, 4""".stripMargin) { (s, _) =>
      val d38 = DecimalType(38, 0)
      val w = Window.partitionBy(col("base_currency"),
          col("base_issuer"), col("counter_currency"),
          col("counter_issuer"))
        .orderBy(col("sk"))
      val px = pq(s, "exchanges")
        .select(col("base_currency"),
          coalesce(col("base_issuer"), lit("")).as("base_issuer"),
          col("counter_currency"),
          coalesce(col("counter_issuer"), lit("")).as("counter_issuer"),
          expr("CAST(FLOOR(CAST(rate AS DOUBLE) * 1000000) AS BIGINT)")
            .as("p"),
          skSpark.as("sk"))
      val dd = px
        .withColumn("d1", col("p") - lag(col("p"), 1).over(w))
        .withColumn("d0", lag(col("d1"), 1).over(w))
        .filter(col("d1").isNotNull && col("d0").isNotNull)
      dd.groupBy(col("base_currency"), col("base_issuer"),
          col("counter_currency"), col("counter_issuer"))
        .agg(count(lit(1)).as("n"),
          sum(col("d1")).cast("long").as("sa"),
          sum(col("d0")).cast("long").as("sb"),
          sum(col("d1").cast(d38) * col("d0").cast(d38)).as("sab"))
        .filter(col("n") >= 3)
        .select(col("base_currency"), col("base_issuer"),
          col("counter_currency"), col("counter_issuer"),
          col("n").as("n_diff_pairs"),
          expr("CAST(CASE WHEN n * sab - CAST(sa AS DECIMAL(38,0)) * sb" +
            " < 0 THEN 2 * sqrt(CAST(-(n * sab - " +
            "CAST(sa AS DECIMAL(38,0)) * sb) AS DOUBLE)) " +
            "/ CAST(n AS DOUBLE) / 1000000 END AS DOUBLE)")
            .as("roll_spread"))
        .orderBy(col("base_currency"), col("base_issuer"),
          col("counter_currency"), col("counter_issuer"))
    },

    // Raw exchange page for the canonical USD/XRP pair — the
    // /v2/exchanges scan path (data.js:1463-1750) with keyset paging.
    QuerySpec.sql(
      "xrpl_exchange_page",
      s"""SELECT base_amount, counter_amount, rate, buyer, seller, taker,
         |  provider, tx_hash, time, ledger_index, tx_index, node_index
         |FROM ${t("exchanges")}
         |WHERE base_currency = 'USD'
         |  AND base_issuer = 'rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q'
         |  AND counter_currency = 'XRP'
         |ORDER BY time, ledger_index, tx_index, node_index
         |LIMIT 200""".stripMargin) { (s, _) =>
      pq(s, "exchanges")
        .filter(col("base_currency") === "USD" &&
          col("base_issuer") === "rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q" &&
          col("counter_currency") === "XRP")
        .select(col("base_amount"), col("counter_amount"), col("rate"),
          col("buyer"), col("seller"), col("taker"), col("provider"),
          col("tx_hash"), col("time"), col("ledger_index"), col("tx_index"),
          col("node_index"))
        .orderBy(col("time"), col("ledger_index"), col("tx_index"),
          col("node_index"))
        .limit(200)
    },

    // Daily OHLC candles per pair (A1/A2 semantics; volumes via exact
    // decimal sums for cross-engine equality).
    QuerySpec.sql(
      "xrpl_candles_1day",
      s"""SELECT base_currency, COALESCE(base_issuer, '') AS base_issuer,
         |  counter_currency, COALESCE(counter_issuer, '') AS counter_issuer,
         |  (time // 86400) * 86400 AS start,
         |  min_by(CAST(rate AS DOUBLE), $skSql) AS open,
         |  max_by(CAST(rate AS DOUBLE), $skSql) AS close,
         |  max(CAST(rate AS DOUBLE)) AS high,
         |  min(CAST(rate AS DOUBLE)) AS low,
         |  ${dsumSql("base_amount")} AS base_volume,
         |  ${dsumSql("counter_amount")} AS counter_volume,
         |  ${dsumSql("CASE WHEN buyer = taker THEN base_amount ELSE '0' END")}
         |    AS buy_volume,
         |  COUNT(*) AS count
         |FROM ${t("exchanges")}
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin) { (s, _) =>
      pq(s, "exchanges")
        .groupBy(
          col("base_currency"),
          coalesce(col("base_issuer"), lit("")).as("base_issuer"),
          col("counter_currency"),
          coalesce(col("counter_issuer"), lit("")).as("counter_issuer"),
          ((col("time") / 86400L).cast("long") * 86400L).as("start"))
        .agg(
          min_by(col("rate").cast("double"), skSpark).as("open"),
          max_by(col("rate").cast("double"), skSpark).as("close"),
          max(col("rate").cast("double")).as("high"),
          min(col("rate").cast("double")).as("low"),
          dsum(col("base_amount")).as("base_volume"),
          dsum(col("counter_amount")).as("counter_volume"),
          dsum(when(col("buyer") === col("taker"), col("base_amount"))
            .otherwise(lit("0"))).as("buy_volume"),
          count(lit(1)).as("count"))
        .orderBy(col("base_currency"), col("base_issuer"),
          col("counter_currency"), col("counter_issuer"), col("start"))
    },

    // The materialized candle store end-to-end: cascade written as
    // interval-partitioned parquet at prepare time, read back through
    // XrplStore.readCandles interval routing, hash-matched against
    // DuckDB recomputing minute candles from the raw trades (S3 store
    // scan + A1/A2 materialization + dust filter, value-exact).
    QuerySpec.sql(
      "xrpl_candle_store_minute",
      s"""SELECT base_currency, COALESCE(base_issuer, '') AS base_issuer,
         |  counter_currency, COALESCE(counter_issuer, '') AS counter_issuer,
         |  (time // 60) * 60 AS start,
         |  min_by(CAST(rate AS DOUBLE), $skSql) AS open,
         |  max_by(CAST(rate AS DOUBLE), $skSql) AS close,
         |  max(CAST(rate AS DOUBLE)) AS high,
         |  min(CAST(rate AS DOUBLE)) AS low,
         |  ${dsumSql("base_amount")} AS base_volume,
         |  ${dsumSql("counter_amount")} AS counter_volume,
         |  ${dsumSql("CASE WHEN buyer = taker THEN base_amount ELSE '0' END")}
         |    AS buy_volume,
         |  COUNT(*) AS count
         |FROM ${t("exchanges")}
         |WHERE NOT (base_currency = 'XRP'
         |    AND CAST(base_amount AS DOUBLE) <= 0.0005)
         |  AND NOT (counter_currency = 'XRP'
         |    AND CAST(counter_amount AS DOUBLE) <= 0.0005)
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin) { (s, _) =>
      prepare(s)
      graft.xrpl.store.XrplStore.readCandles(s, s"$DumpDir/store", "1minute")
        .select(col("base_currency"),
          coalesce(col("base_issuer"), lit("")).as("base_issuer"),
          col("counter_currency"),
          coalesce(col("counter_issuer"), lit("")).as("counter_issuer"),
          col("start"), col("open"), col("close"), col("high"), col("low"),
          col("base_volume"), col("counter_volume"), col("buy_volume"),
          col("count"))
        .orderBy(col("base_currency"), col("base_issuer"),
          col("counter_currency"), col("counter_issuer"), col("start"))
    },

    // X13 weekly alignment cross-engine: 7-day candles anchor on the
    // ISO week (Monday — epoch day 0 was a Thursday, +3d shift;
    // utils.js:66-130 getAlignedTime), verified value-exact per pair.
    QuerySpec.sql(
      "xrpl_candles_7day",
      s"""SELECT base_currency, COALESCE(base_issuer, '') AS base_issuer,
         |  counter_currency, COALESCE(counter_issuer, '') AS counter_issuer,
         |  ((time + 259200) // 604800) * 604800 - 259200 AS start,
         |  min_by(CAST(rate AS DOUBLE), $skSql) AS open,
         |  max_by(CAST(rate AS DOUBLE), $skSql) AS close,
         |  max(CAST(rate AS DOUBLE)) AS high,
         |  min(CAST(rate AS DOUBLE)) AS low,
         |  ${dsumSql("base_amount")} AS base_volume,
         |  ${dsumSql("counter_amount")} AS counter_volume,
         |  COUNT(*) AS count
         |FROM ${t("exchanges")}
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin) { (s, _) =>
      val weekStart = graft.xrpl.agg.Candles.alignExpr(col("time"), "day", 7)
      pq(s, "exchanges")
        .groupBy(
          col("base_currency"),
          coalesce(col("base_issuer"), lit("")).as("base_issuer"),
          col("counter_currency"),
          coalesce(col("counter_issuer"), lit("")).as("counter_issuer"),
          weekStart.as("start"))
        .agg(
          min_by(col("rate").cast("double"), skSpark).as("open"),
          max_by(col("rate").cast("double"), skSpark).as("close"),
          max(col("rate").cast("double")).as("high"),
          min(col("rate").cast("double")).as("low"),
          dsum(col("base_amount")).as("base_volume"),
          dsum(col("counter_amount")).as("counter_volume"),
          count(lit(1)).as("count"))
        .orderBy(col("base_currency"), col("base_issuer"),
          col("counter_currency"), col("counter_issuer"), col("start"))
    },

    // X4 inversion through the interval-candle route: requesting the
    // non-canonical order (XRP/USD) re-orients the canonical candles —
    // volumes swap, prices reciprocate, buy volume re-bases
    // (data.js:1500-1521) — exercises Queries.getExchangeCandles'
    // inversion branch end-to-end.
    QuerySpec.sql(
      "xrpl_candles_inverted",
      s"""WITH c AS (
         |  SELECT (time // 86400) * 86400 AS start,
         |    min_by(CAST(rate AS DOUBLE), $skSql) AS open,
         |    max_by(CAST(rate AS DOUBLE), $skSql) AS close,
         |    max(CAST(rate AS DOUBLE)) AS high,
         |    min(CAST(rate AS DOUBLE)) AS low,
         |    ${dsumSql("base_amount")} AS bv,
         |    ${dsumSql("counter_amount")} AS cv,
         |    ${dsumSql("CASE WHEN buyer = taker THEN base_amount ELSE '0' END")}
         |      AS buyv,
         |    COUNT(*) AS count
         |  FROM ${t("exchanges")}
         |  WHERE base_currency = 'USD'
         |    AND base_issuer = 'rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q'
         |    AND counter_currency = 'XRP'
         |    AND NOT (CAST(counter_amount AS DOUBLE) <= 0.0005)
         |  GROUP BY 1),
         |v AS (SELECT *, cv / bv AS vwap FROM c)
         |SELECT start,
         |  cv AS base_volume, bv AS counter_volume,
         |  1.0 / low AS high, 1.0 / high AS low,
         |  1.0 / open AS open, 1.0 / close AS close,
         |  1.0 / vwap AS vwap,
         |  buyv / (1.0 / vwap) AS buy_volume,
         |  count
         |FROM v
         |ORDER BY start""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.getExchangeCandles(pq(s, "exchanges"),
          graft.xrpl.api.Queries.Pair("XRP", None),
          graft.xrpl.api.Queries.Pair("USD",
            Some("rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q")),
          "1day")
        .select(col("start"), col("base_volume"), col("counter_volume"),
          col("high"), col("low"), col("open"), col("close"), col("vwap"),
          col("buy_volume"), col("count"))
        .orderBy(col("start"))
    },

    // A4: payment volume per currency/day.
    QuerySpec.sql(
      "xrpl_payment_volume",
      s"""SELECT currency, COALESCE(issuer, '') AS issuer,
         |  (time // 86400) * 86400 AS start,
         |  COUNT(*) AS count,
         |  ${dsumSql("delivered_amount")} AS amount,
         |  ${dsumSql("delivered_amount")} / COUNT(*) AS average
         |FROM ${t("payments")}
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin) { (s, _) =>
      pq(s, "payments")
        .groupBy(col("currency"), coalesce(col("issuer"), lit("")).as("issuer"),
          ((col("time") / 86400L).cast("long") * 86400L).as("start"))
        .agg(count(lit(1)).as("count"),
          dsum(col("delivered_amount")).as("amount"))
        .withColumn("average", col("amount") / col("count"))
        .orderBy(col("currency"), col("issuer"), col("start"))
    },

    // A10: active accounts for the USD/XRP market.
    QuerySpec.sql(
      "xrpl_active_accounts",
      s"""WITH pair AS (
         |  SELECT * FROM ${t("exchanges")}
         |  WHERE base_currency = 'USD'
         |    AND base_issuer = 'rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q'
         |    AND counter_currency = 'XRP'),
         |sides AS (
         |  SELECT buyer AS account, 'buy' AS side, base_amount FROM pair
         |  UNION ALL
         |  SELECT seller AS account, 'sell' AS side, base_amount FROM pair)
         |SELECT account,
         |  ${dsumSql("CASE WHEN side = 'buy' THEN base_amount ELSE '0' END")}
         |    AS base_volume_bought,
         |  ${dsumSql("CASE WHEN side = 'sell' THEN base_amount ELSE '0' END")}
         |    AS base_volume_sold,
         |  CAST(SUM(CASE WHEN side = 'buy' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS buy_count,
         |  CAST(SUM(CASE WHEN side = 'sell' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS sell_count
         |FROM sides
         |GROUP BY account
         |ORDER BY account""".stripMargin) { (s, _) =>
      val pair = pq(s, "exchanges")
        .filter(col("base_currency") === "USD" &&
          col("base_issuer") === "rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q" &&
          col("counter_currency") === "XRP")
      val sides = pair.select(col("buyer").as("account"), lit("buy").as("side"),
          col("base_amount"))
        .unionByName(pair.select(col("seller").as("account"),
          lit("sell").as("side"), col("base_amount")))
      sides.groupBy(col("account"))
        .agg(
          dsum(when(col("side") === "buy", col("base_amount")).otherwise(lit("0")))
            .as("base_volume_bought"),
          dsum(when(col("side") === "sell", col("base_amount")).otherwise(lit("0")))
            .as("base_volume_sold"),
          sum(when(col("side") === "buy", 1).otherwise(0)).cast("long")
            .as("buy_count"),
          sum(when(col("side") === "sell", 1).otherwise(0)).cast("long")
            .as("sell_count"))
        .orderBy(col("account"))
    },

    // J1: account-transaction index join (data.js:1172-1246).
    QuerySpec.sql(
      "xrpl_account_tx_join",
      s"""SELECT t.tx_hash, t.ledger_index, t.tx_index, t.tx_type, t.tx_result,
         |  t.account
         |FROM ${t("affected_accounts")} a
         |JOIN ${t("transactions")} t ON a.tx_hash = t.tx_hash
         |WHERE a.account = 'rvYAfWj5gh67oV6fW32ZzP3Aw4Eubs59B'
         |ORDER BY t.ledger_index, t.tx_index""".stripMargin) { (s, _) =>
      val idx = pq(s, "affected_accounts")
        .filter(col("account") === "rvYAfWj5gh67oV6fW32ZzP3Aw4Eubs59B")
        .select(col("tx_hash"))
      pq(s, "transactions")
        .join(broadcast(idx), Seq("tx_hash"))
        .select(col("tx_hash"), col("ledger_index"), col("tx_index"),
          col("tx_type"), col("tx_result"), col("account"))
        .orderBy(col("ledger_index"), col("tx_index"))
    },

    // A6: daily tx-type stats (dynamic `type` family as long rows).
    QuerySpec.sql(
      "xrpl_stats_daily",
      s"""SELECT (executed_time // 86400) * 86400 AS date, tx_type,
         |  COUNT(*) AS count
         |FROM ${t("transactions")}
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin) { (s, _) =>
      pq(s, "transactions")
        .groupBy(((col("executed_time") / 86400L).cast("long") * 86400L)
          .as("date"), col("tx_type"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("date"), col("tx_type"))
    },

    // A7: daily fee rollup from per-ledger summaries.
    QuerySpec.sql(
      "xrpl_fee_rollup",
      s"""SELECT (CAST(floor(epoch(strptime(date, '%Y-%m-%dT%H:%M:%SZ')))
         |    AS BIGINT) // 86400) * 86400 AS start,
         |  ${dsumSql("total")} AS total,
         |  CAST(SUM(tx_count) AS BIGINT) AS tx_count,
         |  MIN(min) AS min, MAX(max) AS max,
         |  COUNT(*) AS ledger_count
         |FROM ${t("fee_summaries")}
         |WHERE tx_count > 0
         |GROUP BY 1
         |ORDER BY 1""".stripMargin) { (s, _) =>
      pq(s, "fee_summaries")
        .filter(col("tx_count") > 0)
        .groupBy(((unix_timestamp(col("date"), "yyyy-MM-dd'T'HH:mm:ss'Z'") /
          86400L).cast("long") * 86400L).as("start"))
        .agg(dsum(col("total")).as("total"),
          sum(col("tx_count")).cast("long").as("tx_count"),
          min(col("min")).as("min"), max(col("max")).as("max"),
          count(lit(1)).as("ledger_count"))
        .orderBy(col("start"))
    },

    // Account exchanges (data.js:1752-1812): exchanges where the
    // account was buyer or seller, account-perspective `side` column,
    // keyset-paged — exercises Queries.getAccountExchanges.
    QuerySpec.sql(
      "xrpl_account_exchanges",
      s"""SELECT base_currency, COALESCE(base_issuer, '') AS base_issuer,
         |  CAST(base_amount AS DOUBLE) AS base_amount,
         |  counter_currency, COALESCE(counter_issuer, '') AS counter_issuer,
         |  CAST(counter_amount AS DOUBLE) AS counter_amount,
         |  CAST(rate AS DOUBLE) AS rate,
         |  CASE WHEN buyer = 'rJAeQMhtr89PvFPnAZXkdgJgScZ1YuB9UR'
         |    THEN 'buy' ELSE 'sell' END AS side,
         |  buyer, seller, taker, tx_hash, time, ledger_index, tx_index,
         |  node_index
         |FROM ${t("exchanges")}
         |WHERE buyer = 'rJAeQMhtr89PvFPnAZXkdgJgScZ1YuB9UR'
         |   OR seller = 'rJAeQMhtr89PvFPnAZXkdgJgScZ1YuB9UR'
         |ORDER BY time, ledger_index, tx_index, node_index
         |LIMIT 200""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.getAccountExchanges(pq(s, "exchanges"),
          "rJAeQMhtr89PvFPnAZXkdgJgScZ1YuB9UR")
        .select(col("base_currency"),
          coalesce(col("base_issuer"), lit("")).as("base_issuer"),
          col("base_amount"), col("counter_currency"),
          coalesce(col("counter_issuer"), lit("")).as("counter_issuer"),
          col("counter_amount"), col("rate"), col("side"), col("buyer"),
          col("seller"), col("taker"), col("tx_hash"), col("time"),
          col("ledger_index"), col("tx_index"), col("node_index"))
    },

    // getMetric payment_volume (data.js:791-942): per-day per-currency
    // components FX-normalized to XRP via the daily vwap rate table,
    // with interval totals — exercises Aggregations.metricPaymentVolume
    // + dailyXrpRates (the composed J4 metric).
    QuerySpec.sql(
      "xrpl_metric_volume",
      s"""WITH rates AS (
         |  SELECT base_currency AS currency, base_issuer AS issuer,
         |    (time // 86400) * 86400 AS date,
         |    ${dsumSql("counter_amount")} / ${dsumSql("base_amount")}
         |      AS rate_to_xrp
         |  FROM ${t("exchanges")}
         |  WHERE counter_currency = 'XRP'
         |  GROUP BY 1, 2, 3),
         |comp AS (
         |  SELECT currency, issuer, (time // 86400) * 86400 AS start,
         |    COUNT(*) AS count, ${dsumSql("delivered_amount")} AS amount
         |  FROM ${t("payments")}
         |  GROUP BY 1, 2, 3),
         |rated AS (
         |  SELECT c.currency, c.issuer, c.start, c.count, c.amount,
         |    CASE WHEN c.currency = 'XRP' THEN 1.0
         |      ELSE COALESCE(r.rate_to_xrp, 0.0) END AS rate
         |  FROM comp c LEFT JOIN rates r
         |    ON c.currency = r.currency AND c.issuer = r.issuer
         |    AND c.start = r.date)
         |SELECT currency, COALESCE(issuer, '') AS issuer, start, count,
         |  amount, rate, amount * rate AS converted_amount,
         |  CAST(CAST(SUM(CAST(amount * rate AS DECIMAL(38,18)))
         |    OVER (PARTITION BY start) AS VARCHAR) AS DOUBLE) AS total,
         |  CAST(SUM(count) OVER (PARTITION BY start) AS BIGINT)
         |    AS total_count
         |FROM rated
         |ORDER BY start, currency, issuer""".stripMargin) { (s, _) =>
      import graft.xrpl.agg.Aggregations
      Aggregations.metricPaymentVolume(pq(s, "payments"), pq(s, "exchanges"))
        .select(col("currency"), coalesce(col("issuer"), lit("")).as("issuer"),
          col("start"), col("count"), col("amount"), col("rate"),
          col("converted_amount"), col("total"), col("total_count"))
        .orderBy(col("start"), col("currency"), col("issuer"))
    },

    // A3: query-time reduce of an exchange range to one summary row,
    // 10 k guard enforced lazily in-plan — exercises
    // Queries.reduceExchanges (single-pass, no pre-count).
    QuerySpec.sql(
      "xrpl_reduce_exchanges",
      s"""WITH rows_ AS (
         |  SELECT base_amount, counter_amount,
         |    CAST(rate AS DOUBLE) AS rate, buyer, taker, time, $skSql AS sk
         |  FROM ${t("exchanges")}
         |  WHERE base_currency = 'USD'
         |    AND base_issuer = 'rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q'
         |    AND counter_currency = 'XRP'
         |    AND NOT (CAST(counter_amount AS DOUBLE) < 0.0005))
         |SELECT min_by(rate, sk) AS open, max_by(rate, sk) AS close,
         |  max(rate) AS high, min(rate) AS low,
         |  min_by(time, sk) AS open_time, max_by(time, sk) AS close_time,
         |  ${dsumSql("base_amount")} AS base_volume,
         |  ${dsumSql("counter_amount")} AS counter_volume,
         |  ${dsumSql("CASE WHEN buyer = taker THEN base_amount ELSE '0' END")}
         |    AS buy_volume,
         |  COUNT(*) AS count,
         |  ${dsumSql("counter_amount")} / ${dsumSql("base_amount")} AS vwap
         |FROM rows_""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.reduceExchanges(pq(s, "exchanges"),
        graft.xrpl.api.Queries.Pair("USD",
          Some("rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q")),
        graft.xrpl.api.Queries.Pair("XRP", None))
    },

    // A9: blended exchange rate — mean of period vwap and
    // last-50-trade vwap (data.js:1318-1367) — exercises
    // Queries.exchangeRate.
    QuerySpec.sql(
      "xrpl_exchange_rate",
      s"""WITH rows_ AS (
         |  SELECT base_amount, counter_amount,
         |    time, ledger_index, tx_index, node_index
         |  FROM ${t("exchanges")}
         |  WHERE base_currency = 'USD'
         |    AND base_issuer = 'rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q'
         |    AND counter_currency = 'XRP'),
         |period AS (
         |  SELECT ${dsumSql("counter_amount")} / ${dsumSql("base_amount")}
         |    AS period_vwap
         |  FROM rows_),
         |last50 AS (
         |  SELECT ${dsumSql("counter_amount")} / ${dsumSql("base_amount")}
         |    AS last50_vwap
         |  FROM (SELECT * FROM rows_
         |        ORDER BY time DESC, ledger_index DESC, tx_index DESC,
         |          node_index DESC
         |        LIMIT 50))
         |SELECT period_vwap, last50_vwap,
         |  (period_vwap + last50_vwap) / 2 AS rate
         |FROM period, last50""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.exchangeRate(pq(s, "exchanges"),
        graft.xrpl.api.Queries.Pair("USD",
          Some("rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q")),
        graft.xrpl.api.Queries.Pair("XRP", None),
        start = 0L, end = 4102444800L)
    },

    // J3: point lookup by (account, sequence range)
    // (lu_account_transactions, data.js:1147-1166).
    QuerySpec.sql(
      "xrpl_account_tx_seq",
      s"""SELECT tx_hash, ledger_index, tx_index, tx_type, tx_result,
         |  account, sequence, executed_time
         |FROM ${t("transactions")}
         |WHERE account = 'rM3X3QSr8icjTGpaF52dozhbT2BZSXJQYM'
         |  AND sequence BETWEEN 1487201 AND 1487225
         |ORDER BY sequence""".stripMargin) { (s, _) =>
      pq(s, "transactions")
        .filter(col("account") === "rM3X3QSr8icjTGpaF52dozhbT2BZSXJQYM" &&
          col("sequence").between(1487201L, 1487225L))
        .select(col("tx_hash"), col("ledger_index"), col("tx_index"),
          col("tx_type"), col("tx_result"), col("account"), col("sequence"),
          col("executed_time"))
        .orderBy(col("sequence"))
    },

    // X11: decoded memos (lib/ledgerParser/memos.js) — the parsed memo
    // table with decode metadata, keyset-ordered.
    QuerySpec.sql(
      "xrpl_memos",
      s"""SELECT account, COALESCE(destination, '') AS destination,
         |  COALESCE(memo_type, '') AS memo_type,
         |  COALESCE(memo_format, '') AS memo_format,
         |  COALESCE(memo_data, '') AS memo_data,
         |  COALESCE(decoded_type, '') AS decoded_type,
         |  COALESCE(decoded_data, '') AS decoded_data,
         |  COALESCE(decoded_format, '') AS decoded_format,
         |  COALESCE(type_encoding, '') AS type_encoding,
         |  COALESCE(data_encoding, '') AS data_encoding,
         |  executed_time, ledger_index, tx_index, memo_index, tx_hash
         |FROM ${t("memos")}
         |ORDER BY ledger_index, tx_index, memo_index""".stripMargin) { (s, _) =>
      pq(s, "memos")
        .select(col("account"),
          coalesce(col("destination"), lit("")).as("destination"),
          coalesce(col("memo_type"), lit("")).as("memo_type"),
          coalesce(col("memo_format"), lit("")).as("memo_format"),
          coalesce(col("memo_data"), lit("")).as("memo_data"),
          coalesce(col("decoded_type"), lit("")).as("decoded_type"),
          coalesce(col("decoded_data"), lit("")).as("decoded_data"),
          coalesce(col("decoded_format"), lit("")).as("decoded_format"),
          coalesce(col("type_encoding"), lit("")).as("type_encoding"),
          coalesce(col("data_encoding"), lit("")).as("data_encoding"),
          col("executed_time"), col("ledger_index"), col("tx_index"),
          col("memo_index"), col("tx_hash"))
        .orderBy(col("ledger_index"), col("tx_index"), col("memo_index"))
    },

    // A12: validator daily-report scoring (topology.js:265-296) —
    // exercises Topology.scoreDailyReports on the reference fixture.
    QuerySpec.sql(
      "xrpl_validator_scores",
      s"""SELECT pubkey AS validation_public_key, date, chain,
         |  CAST(score AS DOUBLE) AS score,
         |  CAST(total AS BIGINT) AS total,
         |  CAST(missed AS BIGINT) AS missed
         |FROM ${t("validator_reports")}
         |ORDER BY date, validation_public_key""".stripMargin) { (s, _) =>
      graft.xrpl.topology.Topology.scoreDailyReports(pq(s, "validator_reports"))
        .orderBy(col("date"), col("validation_public_key"))
    },

    // J5: validation index (by validator) → per-ledger detail
    // (topology.js:512-576) — exercises Topology.validationsByValidator.
    QuerySpec.sql(
      "xrpl_validations_by_validator",
      s"""SELECT rowkey, string_split(rowkey, '|')[1] AS ledger_hash,
         |  string_split(rowkey, '|')[2] AS validation_public_key,
         |  ledger_index, "count", "full", signing_time
         |FROM ${t("ledger_validations")}
         |WHERE string_split(rowkey, '|')[2] =
         |  'nHUkp7WhouVMobBUKGrV5FNqjsdD9zKP5jpGnnLLnYxUQSGAwrZ6'
         |ORDER BY rowkey""".stripMargin) { (s, _) =>
      graft.xrpl.topology.Topology.validationsByValidator(
          pq(s, "ledger_validations"),
          "nHUkp7WhouVMobBUKGrV5FNqjsdD9zKP5jpGnnLLnYxUQSGAwrZ6")
        .select(col("rowkey"), col("ledger_hash"),
          col("validation_public_key"), col("ledger_index"), col("count"),
          col("full"), col("signing_time"))
    },

    // Account reports (api/routes/accountReports.js; data.js
    // getAggregateAccountPayments:383-450): per-day report rows over
    // the A5 aggregate for one account — exercises
    // Aggregations.accountPayments + Queries.getAccountReports.
    QuerySpec.sql(
      "xrpl_account_reports",
      s"""WITH dirs AS (
         |  SELECT source AS account, destination AS counterparty,
         |    'sent' AS dir, delivered_amount, time FROM ${t("payments")}
         |  UNION ALL
         |  SELECT destination, source, 'received', delivered_amount, time
         |  FROM ${t("payments")})
         |SELECT account, (time // 86400) * 86400 AS date,
         |  CAST(SUM(CASE WHEN dir = 'sent' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS payments_sent,
         |  CAST(SUM(CASE WHEN dir = 'received' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS payments_received,
         |  CAST(COUNT(DISTINCT CASE WHEN dir = 'sent' THEN counterparty END)
         |    AS BIGINT) AS sending_counterparties,
         |  CAST(COUNT(DISTINCT CASE WHEN dir = 'received' THEN counterparty END)
         |    AS BIGINT) AS receiving_counterparties,
         |  ${dsumSql("CASE WHEN dir = 'sent' THEN delivered_amount ELSE '0' END")}
         |    AS total_value_sent,
         |  ${dsumSql("CASE WHEN dir = 'received' THEN delivered_amount ELSE '0' END")}
         |    AS total_value_received,
         |  MAX(CASE WHEN dir = 'sent' THEN CAST(delivered_amount AS DOUBLE) END)
         |    AS high_value_sent,
         |  MAX(CASE WHEN dir = 'received' THEN CAST(delivered_amount AS DOUBLE) END)
         |    AS high_value_received,
         |  ${dsumSql("CASE WHEN dir = 'sent' THEN delivered_amount ELSE '0' END")}
         |  + ${dsumSql("CASE WHEN dir = 'received' THEN delivered_amount ELSE '0' END")}
         |    AS total_value
         |FROM dirs
         |WHERE account = 'rwvLbHQtU16BwQJyrQb9cfFKvx13Ksbkja'
         |GROUP BY 1, 2
         |ORDER BY date""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.getAccountReports(
        pq(s, "agg_account_payments"),
        "rwvLbHQtU16BwQJyrQb9cfFKvx13Ksbkja",
        graft.xrpl.api.Queries.RangeOpts(limit = 500))
    },

    // /v2/reports date scan (api/routes/reports.js; the no-account
    // branch of getAggregateAccountPayments, data.js:429-450): all
    // accounts' report rows in a date range — exercises
    // Queries.getAccountReportsByDate.
    QuerySpec.sql(
      "xrpl_reports_by_date",
      s"""WITH dirs AS (
         |  SELECT source AS account, destination AS counterparty,
         |    'sent' AS dir, delivered_amount, time FROM ${t("payments")}
         |  UNION ALL
         |  SELECT destination, source, 'received', delivered_amount, time
         |  FROM ${t("payments")})
         |SELECT account, (time // 86400) * 86400 AS date,
         |  CAST(SUM(CASE WHEN dir = 'sent' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS payments_sent,
         |  CAST(SUM(CASE WHEN dir = 'received' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS payments_received,
         |  CAST(COUNT(DISTINCT CASE WHEN dir = 'sent' THEN counterparty END)
         |    AS BIGINT) AS sending_counterparties,
         |  CAST(COUNT(DISTINCT CASE WHEN dir = 'received' THEN counterparty END)
         |    AS BIGINT) AS receiving_counterparties,
         |  ${dsumSql("CASE WHEN dir = 'sent' THEN delivered_amount ELSE '0' END")}
         |    AS total_value_sent,
         |  ${dsumSql("CASE WHEN dir = 'received' THEN delivered_amount ELSE '0' END")}
         |    AS total_value_received,
         |  MAX(CASE WHEN dir = 'sent' THEN CAST(delivered_amount AS DOUBLE) END)
         |    AS high_value_sent,
         |  MAX(CASE WHEN dir = 'received' THEN CAST(delivered_amount AS DOUBLE) END)
         |    AS high_value_received,
         |  ${dsumSql("CASE WHEN dir = 'sent' THEN delivered_amount ELSE '0' END")}
         |  + ${dsumSql("CASE WHEN dir = 'received' THEN delivered_amount ELSE '0' END")}
         |    AS total_value
         |FROM dirs
         |GROUP BY 1, 2
         |ORDER BY date, account""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.getAccountReportsByDate(
          pq(s, "agg_account_payments"),
          graft.xrpl.api.Queries.RangeOpts(limit = 100000))
        .orderBy(col("date"), col("account"))
    },

    // xrp_distribution (api/routes/network/xrpDistribution.js): daily
    // total/escrowed/distributed supply recomputed from fee burn and
    // escrow lifecycles — exercises Aggregations.xrpDistribution.
    QuerySpec.sql(
      "xrpl_xrp_distribution",
      s"""WITH fees AS (
         |  SELECT (CAST(floor(epoch(strptime(date, '%Y-%m-%dT%H:%M:%SZ')))
         |      AS BIGINT) // 86400) * 86400 AS day,
         |    SUM(CAST(total AS DECIMAL(38,18))) AS fee_burn,
         |    CAST(0 AS DECIMAL(38,18)) AS esc_delta
         |  FROM ${t("fee_summaries")}
         |  WHERE tx_count > 0
         |  GROUP BY 1),
         |esc AS (
         |  SELECT (time // 86400) * 86400 AS day,
         |    CAST(0 AS DECIMAL(38,18)) AS fee_burn,
         |    SUM(CASE WHEN tx_type = 'EscrowCreate'
         |      THEN CAST(amount AS DECIMAL(38,18))
         |      ELSE -CAST(amount AS DECIMAL(38,18)) END) AS esc_delta
         |  FROM ${t("escrows")}
         |  GROUP BY 1),
         |daily AS (
         |  SELECT day, CAST(SUM(fee_burn) AS DECIMAL(38,18)) AS fee_burn,
         |    CAST(SUM(esc_delta) AS DECIMAL(38,18)) AS esc_delta
         |  FROM (SELECT * FROM fees UNION ALL SELECT * FROM esc)
         |  GROUP BY 1),
         |cums AS (
         |  SELECT day,
         |    SUM(fee_burn) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_fees,
         |    SUM(esc_delta) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_esc
         |  FROM daily)
         |SELECT day AS date,
         |  100000000000.0 - CAST(CAST(cum_fees AS VARCHAR) AS DOUBLE) AS total,
         |  CAST(CAST(cum_esc AS VARCHAR) AS DOUBLE) AS escrowed,
         |  CAST(0.0 AS DOUBLE) AS undistributed,
         |  (100000000000.0 - CAST(CAST(cum_fees AS VARCHAR) AS DOUBLE))
         |    - CAST(CAST(cum_esc AS VARCHAR) AS DOUBLE) AS distributed
         |FROM cums
         |ORDER BY date""".stripMargin) { (s, _) =>
      graft.xrpl.agg.Aggregations.xrpDistribution(
        pq(s, "fee_summaries"), pq(s, "escrows"), pq(s, "balance_changes"))
    },

    // Account stats, `transactions` family (accountStats.js;
    // data.js:699-775): per-(account, day) tx type/result counts in
    // long format — exercises Aggregations.accountStatsTransactions +
    // Queries.getAccountStats.
    QuerySpec.sql(
      "xrpl_account_stats_tx",
      s"""WITH base AS (
         |  SELECT account, (time // 86400) * 86400 AS date, tx_type,
         |    tx_result
         |  FROM ${t("affected_accounts")}
         |  WHERE account = 'rKiCet8SdvWxPXnAgYarFUXMh1zCPz432Y')
         |SELECT account, date, 'type' AS family, tx_type AS name,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM base GROUP BY 1, 2, 4
         |UNION ALL
         |SELECT account, date, 'result' AS family, tx_result AS name,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM base GROUP BY 1, 2, 4
         |UNION ALL
         |SELECT account, date, 'metric' AS family,
         |  'transaction_count' AS name, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM base GROUP BY 1, 2
         |ORDER BY date, family, name""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.getAccountStats(
          graft.xrpl.agg.Aggregations.accountStatsTransactions(
            pq(s, "affected_accounts")),
          "rKiCet8SdvWxPXnAgYarFUXMh1zCPz432Y",
          graft.xrpl.api.Queries.RangeOpts(limit = 5000))
        .orderBy(col("date"), col("family"), col("name"))
    },

    // Account stats, `value` family (agg_account_balance_changes,
    // data.js:751-758): daily XRP balance-change counts, net change
    // and running account value — exercises
    // Aggregations.accountValueStats.
    QuerySpec.sql(
      "xrpl_account_stats_value",
      s"""WITH daily AS (
         |  SELECT account, (time // 86400) * 86400 AS date,
         |    CAST(COUNT(*) AS BIGINT) AS balance_change_count,
         |    SUM(CAST(change AS DECIMAL(38,18))) AS net_dec
         |  FROM ${t("balance_changes")}
         |  WHERE currency = 'XRP'
         |    AND account = 'rHsZHqa5oMQNL5hFm4kfLd47aEMYjPstpg'
         |  GROUP BY 1, 2)
         |SELECT account, date, balance_change_count,
         |  CAST(CAST(net_dec AS VARCHAR) AS DOUBLE) AS net_change,
         |  CAST(CAST(SUM(net_dec) OVER (PARTITION BY account ORDER BY date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
         |    AS DOUBLE) AS account_value
         |FROM daily
         |ORDER BY date""".stripMargin) { (s, _) =>
      graft.xrpl.api.Queries.getAccountStats(
          graft.xrpl.agg.Aggregations.accountValueStats(
            pq(s, "balance_changes")),
          "rHsZHqa5oMQNL5hFm4kfLd47aEMYjPstpg",
          graft.xrpl.api.Queries.RangeOpts(limit = 5000))
        .orderBy(col("date"))
    },

    // getAccount point lookup (api/routes/getAccount.js): the
    // account-creation row — exercises Queries.getAccountCreation's
    // access path over the parsed accounts_created table.
    QuerySpec.sql(
      "xrpl_accounts_created",
      s"""SELECT account, parent, CAST(balance AS DOUBLE) AS balance,
         |  time, ledger_index, tx_index, tx_hash
         |FROM ${t("accounts_created")}
         |ORDER BY ledger_index, tx_index""".stripMargin) { (s, _) =>
      pq(s, "accounts_created")
        .select(col("account"), col("parent"),
          col("balance").cast("double").as("balance"),
          col("time"), col("ledger_index"), col("tx_index"), col("tx_hash"))
        .orderBy(col("ledger_index"), col("tx_index"))
    },

    // S8 removeLedger end-to-end: the date-partitioned store after
    // deleting the newest ledger (dynamic-partition anti-join rewrite,
    // data.js:3133-3216) must equal the parsed table minus that
    // ledger's rows.
    QuerySpec.sql(
      "xrpl_remove_ledger",
      s"""SELECT tx_hash, ledger_index, tx_index, tx_type, tx_result,
         |  account, executed_time
         |FROM ${t("transactions")}
         |WHERE ledger_index <> 29709909
         |ORDER BY ledger_index, tx_index""".stripMargin) { (s, _) =>
      prepare(s)
      graft.xrpl.store.XrplStore.read(s, s"$DumpDir/store_rm", "transactions")
        .select(col("tx_hash"), col("ledger_index"), col("tx_index"),
          col("tx_type"), col("tx_result"), col("account"),
          col("executed_time"))
        .orderBy(col("ledger_index"), col("tx_index"))
    },

    // getLastValidated control row (data.js:37-42) — the reference's
    // checkpoint surface: the newest parsed ledger.
    QuerySpec.sql(
      "xrpl_last_validated",
      s"""SELECT ledger_index, ledger_hash, parent_hash, close_time
         |FROM ${t("ledgers")}
         |ORDER BY ledger_index DESC
         |LIMIT 1""".stripMargin) { (s, _) =>
      pq(s, "ledgers")
        .orderBy(col("ledger_index").desc)
        .select(col("ledger_index"), col("ledger_hash"), col("parent_hash"),
          col("close_time"))
        .limit(1)
    },

    // A11/W2: issuer capitalization running total per trustline currency.
    QuerySpec.sql(
      "xrpl_issuer_capitalization",
      s"""SELECT currency, counterparty AS issuer,
         |  (time // 86400) * 86400 AS date,
         |  ${dsumSql("change")} AS daily_change
         |FROM ${t("balance_changes")}
         |WHERE counterparty IS NOT NULL AND currency <> 'XRP'
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin) { (s, _) =>
      pq(s, "balance_changes")
        .filter(col("counterparty").isNotNull && col("currency") =!= "XRP")
        .groupBy(col("currency"), col("counterparty").as("issuer"),
          ((col("time") / 86400L).cast("long") * 86400L).as("date"))
        .agg(dsum(col("change")).as("daily_change"))
        .orderBy(col("currency"), col("issuer"), col("date"))
    },

    // Full two-book estimate with exchange/transfer fees, midpoint
    // spread, and the forex reference rate (estimate.js:170-236 +
    // getForex:101-143) — USD through bitstamp XRP/USD asks, XRP
    // through bitso XRP/MXN bids. Fixture prices are binary-exact, so
    // both engines' walks agree bit-for-bit.
    QuerySpec.sql(
      "xrpl_estimate",
      s"""WITH a_book AS (
         |  SELECT CAST(1.0 AS DOUBLE)/price AS price,
         |         price*amount AS amount, offer_id
         |  FROM ${t("external_orderbooks")}
         |  WHERE source='bitstamp' AND base='XRP' AND counter='USD'
         |    AND side='ask'
         |), a_walk AS (
         |  SELECT price, amount,
         |    SUM(amount) OVER (ORDER BY price DESC, offer_id) AS cum
         |  FROM a_book
         |), a_fill AS (
         |  SELECT price, CASE WHEN cum <= 63.0 THEN amount
         |    ELSE CAST(63.0 AS DOUBLE)-(cum-amount) END AS fill
         |  FROM a_walk WHERE cum - amount < 63.0
         |), a_leg AS (
         |  SELECT CAST(SUM(fill) AS DOUBLE) AS a_filled,
         |         CAST(SUM(fill*price) AS DOUBLE) AS a_cost
         |  FROM a_fill
         |), a2 AS (
         |  SELECT a_filled, a_cost, a_cost/a_filled AS a_rate,
         |    a_cost * CAST(0.9921875 AS DOUBLE) - CAST(0.25 AS DOUBLE)
         |      AS b_target
         |  FROM a_leg
         |), b_walk AS (
         |  SELECT b.price, b.amount, a2.a_filled, a2.a_cost, a2.a_rate,
         |    a2.b_target,
         |    SUM(b.amount) OVER (ORDER BY b.price DESC, b.offer_id) AS cum
         |  FROM (SELECT price, amount, offer_id
         |        FROM ${t("external_orderbooks")}
         |        WHERE source='bitso' AND base='XRP' AND counter='MXN'
         |          AND side='bid') b
         |  CROSS JOIN a2
         |), b_leg AS (
         |  SELECT a_filled, a_cost, a_rate, b_target,
         |    CAST(SUM(CASE WHEN cum <= b_target THEN amount
         |      ELSE b_target-(cum-amount) END) AS DOUBLE) AS b_filled,
         |    CAST(SUM((CASE WHEN cum <= b_target THEN amount
         |      ELSE b_target-(cum-amount) END) * price) AS DOUBLE) AS b_cost
         |  FROM b_walk WHERE cum - amount < b_target
         |  GROUP BY 1, 2, 3, 4
         |), mids AS (
         |  SELECT
         |    (SELECT (MAX(CASE WHEN side='bid' THEN price END) +
         |             MIN(CASE WHEN side='ask' THEN price END)) / 2
         |     FROM ${t("external_orderbooks")} WHERE source='bitstamp')
         |      AS mid_a,
         |    (SELECT (MAX(CASE WHEN side='bid' THEN price END) +
         |             MIN(CASE WHEN side='ask' THEN price END)) / 2
         |     FROM ${t("external_orderbooks")} WHERE source='bitso')
         |      AS mid_b
         |), fx AS (
         |  SELECT max_by(rate, time) AS fx_rate
         |  FROM ${t("forex_rates")} WHERE currency='MXN'
         |)
         |SELECT a_filled, a_cost, a_rate, b_target, b_filled, b_cost,
         |  b_cost/b_filled AS b_rate,
         |  CAST(64.0 AS DOUBLE) AS amount,
         |  b_cost AS estimated,
         |  b_cost/CAST(64.0 AS DOUBLE) AS effective_rate,
         |  mid_b/mid_a AS midpoint,
         |  CAST(abs(ceil((b_cost/CAST(64.0 AS DOUBLE)/(mid_b/mid_a) - 1)
         |    * 10000)) AS BIGINT) AS bps,
         |  fx_rate
         |FROM b_leg, mids, fx""".stripMargin) { (s, _) =>
      import graft.xrpl.external.External
      import graft.xrpl.api.Queries
      val books = pq(s, "external_orderbooks")
      // source leg re-expressed in source-currency (USD) depth: depth
      // = price×amount USD, proceeds-per-USD = 1/price → walk best
      // (highest) proceeds first
      val bookA = External.book(books, "bitstamp", "XRP", "USD", "ask")
        .select((lit(1.0) / col("price")).as("price"),
          (col("price") * col("amount")).as("amount"), col("offer_id"))
      val bookB = External.book(books, "bitso", "XRP", "MXN", "bid")
      Queries.estimate(bookA, bookB, 64.0,
        Queries.EstimateFees(sourceExchange = 0.015625,
          destExchange = 0.0078125, transfer = 0.25),
        forex = Some(External.forexRate(pq(s, "forex_rates"), "USD", "MXN")),
        midpoints = Some((External.midpoint(books, "bitstamp", "XRP", "USD"),
          External.midpoint(books, "bitso", "XRP", "MXN"))),
        aAscending = false)
    },

    // External-markets aggregate (externalMarkets.js:19-95): rolling
    // [frontier − period] per-market volume components with vwap rate
    // and interval totals, computed live from the trade feed.
    QuerySpec.sql(
      "xrpl_external_markets",
      s"""WITH f AS (
         |  SELECT MAX(time) AS live_end FROM ${t("external_markets")}
         |), w AS (
         |  SELECT m.* FROM ${t("external_markets")} m, f
         |  WHERE m.time > f.live_end - 86400
         |), comp AS (
         |  SELECT market,
         |    SUM(CAST(base_volume AS DECIMAL(38,18))) AS base_dec,
         |    SUM(CAST(counter_volume AS DECIMAL(38,18))) AS counter_dec,
         |    COUNT(*) AS n
         |  FROM w GROUP BY market
         |), c2 AS (
         |  SELECT market,
         |    CAST(CAST(base_dec AS VARCHAR) AS DOUBLE) AS base_volume,
         |    CAST(CAST(counter_dec AS VARCHAR) AS DOUBLE) AS counter_volume,
         |    CAST(CAST(counter_dec AS VARCHAR) AS DOUBLE) /
         |      CAST(CAST(base_dec AS VARCHAR) AS DOUBLE) AS rate,
         |    CAST(n AS BIGINT) AS "count", base_dec
         |  FROM comp
         |)
         |SELECT market, base_volume, counter_volume, rate, "count",
         |  CAST(CAST((SELECT SUM(base_dec) FROM c2) AS VARCHAR) AS DOUBLE)
         |    AS total,
         |  (SELECT CAST(SUM("count") AS BIGINT) FROM c2) AS total_count
         |FROM c2
         |ORDER BY market""".stripMargin) { (s, _) =>
      graft.xrpl.external.External
        .externalMarkets(pq(s, "external_markets"), 86400L)
        .orderBy(col("market"))
    },

    // X5: BookDirectory quality decode via the codegen'd QualityDecode
    // expression (lib/ledgerParser/quality.js:5-19); the oracle redoes
    // the hex mantissa/biased-exponent arithmetic and reconstructs
    // BigDecimal's stripTrailingZeros().toPlainString() in SQL.
    QuerySpec.sql(
      "xrpl_quality_decode",
      s"""WITH q AS (
         |  SELECT book_directory, pays, gets,
         |    CAST(('0x' || substr(book_directory,
         |      length(book_directory)-13, 14)) AS BIGINT) AS mant,
         |    CAST(('0x' || substr(book_directory,
         |      length(book_directory)-15, 2)) AS BIGINT) - 100
         |      + CASE WHEN pays = 'XRP' THEN -6 ELSE 0 END
         |      - CASE WHEN gets = 'XRP' THEN -6 ELSE 0 END AS e
         |  FROM ${t("book_directories")}
         |), norm AS (
         |  SELECT book_directory, pays, gets,
         |    rtrim(CAST(mant AS VARCHAR), '0') AS ms,
         |    e + length(CAST(mant AS VARCHAR))
         |      - length(rtrim(CAST(mant AS VARCHAR), '0')) AS es
         |  FROM q
         |)
         |SELECT book_directory, pays, gets,
         |  CASE
         |    WHEN es >= 0 THEN ms || repeat('0', CAST(es AS INT))
         |    WHEN length(ms) > -es THEN
         |      substr(ms, 1, CAST(length(ms) + es AS INT)) || '.' ||
         |      substr(ms, CAST(length(ms) + es + 1 AS INT))
         |    ELSE '0.' || repeat('0', CAST(-es - length(ms) AS INT)) || ms
         |  END AS quality
         |FROM norm
         |ORDER BY book_directory, pays, gets""".stripMargin) { (s, _) =>
      pq(s, "book_directories")
        .select(col("book_directory"), col("pays"), col("gets"),
          graft.xrpl.catalyst.QualityDecode.quality_decode(
            col("book_directory"), col("pays"), col("gets")).as("quality"))
        .orderBy(col("book_directory"), col("pays"), col("gets"))
    },

    // X14/S13: the exported CSV artifact read back by BOTH engines —
    // header, flattening, and value formatting are what's under test.
    QuerySpec.sql(
      "xrpl_csv_export",
      s"""SELECT ledger_index, "date", total, "avg", "max", "min", tx_count
         |FROM read_csv('$DumpDir/csv_fee_summaries/*.csv',
         |  all_varchar = true)
         |ORDER BY ledger_index""".stripMargin) { (s, _) =>
      prepare(s)
      s.read.option("header", "true")
        .csv(s"$DumpDir/csv_fee_summaries")
        .orderBy(col("ledger_index"))
    },

    // X12, oracle-gated: Spark RE-DERIVES every transaction's ID
    // through the binary codec (canonical serialization → SHA512-half,
    // graft/xrpl/codec/BinaryCodec.scala) from the JSON payload alone,
    // while the oracle reads the REFERENCE-PROVIDED hashes from the
    // dumped transactions table — the hash compare passes only if the
    // codec reproduces all 933 network-computed IDs bit-for-bit. The
    // per-row codec runs in a typed map (a genuine per-row byte
    // encoder, the X16-style justified exception to functions-only).
    QuerySpec.sql(
      "xrpl_tx_hash_codec",
      s"""SELECT tx_hash, ledger_index, tx_type
         |FROM ${t("transactions")}
         |ORDER BY tx_hash""".stripMargin) { (s, _) =>
      prepare(s)
      import s.implicits._
      graft.xrpl.XrplTables.fromFiles(s, graft.xrpl.XrplTables.fixturesPath)
        .transactions
        .map(r => (graft.xrpl.codec.BinaryCodec.txHash(
            graft.xrpl.Json.parse(r.tx_json)),
          r.ledger_index, r.tx_type))
        .toDF("tx_hash", "ledger_index", "tx_type")
        .orderBy(col("tx_hash"))
    },

    // X12, part two: each LEDGER's transaction-tree Merkle root
    // re-derived through the metadata codec + 16-way SHAMap (leaf =
    // SND-prefixed VL(tx)++VL(meta)++id; inner = MIN-prefixed child
    // hashes; root always inner) — the oracle reads the header's
    // network-computed transactions_hash from the dumped ledgers
    // table. Passing requires the ENTIRE serialization surface
    // (ledger-entry fields, nested node objects, UInt64/Hash160) to be
    // bit-correct for every one of the 933 transactions.
    QuerySpec.sql(
      "xrpl_tx_tree_root",
      s"""SELECT ledger_index, transactions_hash AS tree_root
         |FROM ${t("ledgers")}
         |WHERE transactions_hash IS NOT NULL
         |ORDER BY ledger_index""".stripMargin) { (s, _) =>
      prepare(s)
      import s.implicits._
      graft.xrpl.XrplTables
        .fromFiles(s, graft.xrpl.XrplTables.fixturesPath)
        .transactions
        .groupByKey(_.ledger_index)
        .mapGroups { (li, txs) =>
          (li, graft.xrpl.codec.BinaryCodec.txTreeHash(
            txs.toSeq.sortBy(_.tx_index).map { r =>
              // tx_json carries the tx without metaData; the leaf needs
              // both, so re-attach the meta_json payload
              val n = graft.xrpl.Json.parse(r.tx_json)
                .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              n.set[com.fasterxml.jackson.databind.JsonNode](
                "metaData", graft.xrpl.Json.parse(r.meta_json))
              n
            }))
        }
        .toDF("ledger_index", "tree_root")
        .orderBy(col("ledger_index"))
    },

    // X12, part three: the LEDGER HASH itself, re-derived from header
    // fields through the packed-header codec. The header needs the
    // PARENT's close time, so the relation is a self-join on the
    // ledger chain (child.index = parent.index + 1) — only ledgers
    // whose parent is present in the fixture set re-derive, which the
    // oracle mirrors with the same inner join. Oracle reads the
    // network-computed ledger_hash; Spark recomputes it.
    QuerySpec.sql(
      "xrpl_ledger_hash_chain",
      s"""SELECT c.ledger_index, c.ledger_hash
         |FROM ${t("ledgers")} c JOIN ${t("ledgers")} p
         |  ON p.ledger_index = c.ledger_index - 1
         |ORDER BY c.ledger_index""".stripMargin) { (s, _) =>
      prepare(s)
      import s.implicits._
      val l = graft.xrpl.XrplTables
        .fromFiles(s, graft.xrpl.XrplTables.fixturesPath)
        .ledgers.toDF()
      val child = l.select(col("ledger_index"), col("parent_hash"),
        col("total_coins"), col("close_time"),
        col("close_time_resolution"), col("accounts_hash"),
        col("transactions_hash"))
      val parent = l.select((col("ledger_index") + 1).as("ledger_index"),
        col("close_time").as("parent_close_time"))
      val off = graft.xrpl.codec.BinaryCodec.RippleEpochOffset
      child.join(parent, Seq("ledger_index"))
        .select(col("ledger_index"), col("parent_hash"),
          col("total_coins"), col("close_time"),
          col("close_time_resolution"), col("accounts_hash"),
          col("transactions_hash"), col("parent_close_time"))
        .as[(Long, String, String, Long, Long, String, String, Long)]
        .map { case (li, ph, coins, ct, res, ah, th, pct) =>
          (li, graft.xrpl.codec.BinaryCodec.ledgerHash(
            li, coins.toLong, ph, th, ah, pct - off, ct - off, res.toInt))
        }
        .toDF("ledger_index", "ledger_hash")
        .orderBy(col("ledger_index"))
    },

    // S13: the JSON-lines artifact read back by BOTH engines under an
    // EXPLICIT schema (no inference in the contract — DuckDB would
    // otherwise upgrade ISO date strings to timestamps): nested struct
    // preserved on the wire, flattened with the same aliases in both
    // reads.
    QuerySpec.sql(
      "xrpl_json_export",
      s"""SELECT ledger_index, "date", total,
         |  fee_stats.avg AS fee_avg, fee_stats.max AS fee_max,
         |  fee_stats.min AS fee_min, tx_count
         |FROM read_json('$DumpDir/json_fee_summaries/*.json',
         |  format = 'newline_delimited',
         |  columns = {ledger_index: 'BIGINT', "date": 'VARCHAR',
         |    total: 'DOUBLE',
         |    fee_stats: 'STRUCT(avg DOUBLE, max DOUBLE, min DOUBLE)',
         |    tx_count: 'BIGINT'})
         |ORDER BY ledger_index""".stripMargin) { (s, _) =>
      prepare(s)
      s.read
        .schema("ledger_index LONG, date STRING, total DOUBLE, " +
          "fee_stats STRUCT<avg: DOUBLE, max: DOUBLE, min: DOUBLE>, " +
          "tx_count LONG")
        .json(s"$DumpDir/json_fee_summaries")
        .select(col("ledger_index"), col("date"), col("total"),
          col("fee_stats.avg").as("fee_avg"),
          col("fee_stats.max").as("fee_max"),
          col("fee_stats.min").as("fee_min"), col("tx_count"))
        .orderBy(col("ledger_index"))
    },

    // A11 calendar sampling: weekly as-of snapshots of the cumulative
    // issuer capitalization (data.js:988-1046) — the union-marker
    // window idiom vs a direct as-of max_by in the oracle.
    QuerySpec.sql(
      "xrpl_issuer_cap_sampled",
      s"""WITH daily AS (
         |  SELECT currency, counterparty AS issuer,
         |    (time // 86400) * 86400 AS date,
         |    ${dsumSql("change")} AS daily_change
         |  FROM ${t("balance_changes")}
         |  WHERE counterparty IS NOT NULL AND currency <> 'XRP'
         |  GROUP BY 1, 2, 3
         |), cum AS (
         |  SELECT currency, issuer, date,
         |    SUM(daily_change) OVER (PARTITION BY currency, issuer
         |      ORDER BY date) AS cumulative
         |  FROM daily
         |), b AS (
         |  SELECT CAST(epoch(bt) AS BIGINT) AS boundary
         |  FROM (SELECT unnest(generate_series(
         |    date_trunc('week', make_timestamp(1420070400000000)),
         |    make_timestamp(1421798400000000), INTERVAL 7 DAY)) AS bt)
         |)
         |SELECT c.currency, c.issuer, b.boundary AS date,
         |  GREATEST(max_by(c.cumulative, c.date), 0.0) AS amount
         |FROM cum c JOIN b ON c.date <= b.boundary - 86400
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin) { (s, _) =>
      import graft.xrpl.agg.Aggregations
      Aggregations.issuerCapitalizationSampled(pq(s, "balance_changes"),
        "week", 1420070400L, 1421798400L)
    },

    // A9 rolling rate: vwap + volumes over the rolling [end − period]
    // window of interval candles (data.js getExchangeRate rolling
    // branch) — Queries.rollingRate at period=hour (5-minute candles).
    QuerySpec.sql(
      "xrpl_rolling_rate",
      s"""WITH rows_ AS (
         |  SELECT time, base_amount, counter_amount
         |  FROM ${t("exchanges")}
         |  WHERE base_currency = 'USD'
         |    AND base_issuer = 'rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q'
         |    AND counter_currency = 'XRP'
         |    AND NOT (CAST(counter_amount AS DOUBLE) <= 0.0005)
         |), cand AS (
         |  SELECT (time // 300) * 300 AS start,
         |    ${dsumSql("base_amount")} AS bv,
         |    ${dsumSql("counter_amount")} AS cv
         |  FROM rows_ GROUP BY 1
         |), f AS (
         |  SELECT * FROM cand
         |  WHERE start >= 1421262000 - 3600 AND start <= 1421262000
         |)
         |SELECT
         |  CASE WHEN SUM(bv) IS NULL OR SUM(bv) = 0 THEN 0.0
         |    ELSE SUM(cv) / SUM(bv) END AS rate,
         |  COALESCE(SUM(bv), 0.0) AS base_volume,
         |  COALESCE(SUM(cv), 0.0) AS counter_volume
         |FROM f""".stripMargin) { (s, _) =>
      import graft.xrpl.api.Queries
      Queries.rollingRate(pq(s, "exchanges"),
        Queries.Pair("USD", Some("rMwjYedjc7qqtKYVLiAccJSmCwih4LnE2q")),
        Queries.Pair("XRP", None), "hour", 1421262000L)
    },

    // /v2/network/topology/nodes (topology.js:176-189): the latest
    // crawl's node list in API shape — exercises
    // Topology.topologyNodes over the raw crawl dump.
    QuerySpec.sql(
      "xrpl_topology_nodes",
      s"""SELECT pubkey_node AS node_public_key, host AS ip,
         |  CAST(port AS BIGINT) AS port,
         |  'rippled-' || version AS version,
         |  CAST(uptime AS BIGINT) AS uptime,
         |  CAST("in" AS BIGINT) AS inbound_count,
         |  CAST("out" AS BIGINT) AS outbound_count
         |FROM ${t("crawl_nodes")}
         |ORDER BY node_public_key""".stripMargin) { (s, _) =>
      graft.xrpl.topology.Topology.topologyNodes(pq(s, "crawl_nodes"))
    },

    // /v2/network/topology/links (topology.js:81-94, 208-210): link
    // endpoints resolved through the 12-char pubkey-prefix dictionary
    // — exercises Topology.resolveLinks end-to-end over the raw dump.
    QuerySpec.sql(
      "xrpl_topology_links",
      s"""WITH dict AS (
         |  SELECT substr(pubkey_node, 1, 12) AS prefix,
         |    pubkey_node AS pubkey
         |  FROM ${t("crawl_nodes")}),
         |parts AS (
         |  SELECT string_split(link, '>')[1] AS src_prefix,
         |    string_split(link, '>')[2] AS dst_prefix
         |  FROM ${t("crawl_links")})
         |SELECT COALESCE(ds.pubkey, '') AS source,
         |  COALESCE(dt.pubkey, '') AS target
         |FROM parts
         |LEFT JOIN dict ds ON parts.src_prefix = ds.prefix
         |LEFT JOIN dict dt ON parts.dst_prefix = dt.prefix
         |ORDER BY source, target""".stripMargin) { (s, _) =>
      import graft.xrpl.topology.Topology
      Topology.resolveLinks(pq(s, "crawl_nodes"), pq(s, "crawl_links"))
        .select(coalesce(col("source"), lit("")).as("source"),
          coalesce(col("target"), lit("")).as("target"))
        .orderBy(col("source"), col("target"))
    },

    // Topology node degrees over the resolved link graph — the
    // graph-shaped summary the nodes/links endpoints feed.
    QuerySpec.sql(
      "xrpl_topology_degrees",
      s"""WITH dict AS (
         |  SELECT substr(pubkey_node, 1, 12) AS prefix,
         |    pubkey_node AS pubkey
         |  FROM ${t("crawl_nodes")}),
         |parts AS (
         |  SELECT string_split(link, '>')[1] AS src_prefix,
         |    string_split(link, '>')[2] AS dst_prefix
         |  FROM ${t("crawl_links")}),
         |resolved AS (
         |  SELECT ds.pubkey AS source, dt.pubkey AS target
         |  FROM parts
         |  LEFT JOIN dict ds ON parts.src_prefix = ds.prefix
         |  LEFT JOIN dict dt ON parts.dst_prefix = dt.prefix),
         |ends AS (
         |  SELECT source AS pubkey FROM resolved
         |  UNION ALL
         |  SELECT target FROM resolved)
         |SELECT COALESCE(pubkey, '') AS pubkey, COUNT(*) AS degree
         |FROM ends
         |GROUP BY 1
         |ORDER BY degree DESC, pubkey""".stripMargin) { (s, _) =>
      import graft.xrpl.topology.Topology
      Topology.nodeDegrees(
          Topology.resolveLinks(pq(s, "crawl_nodes"), pq(s, "crawl_links")))
        .select(coalesce(col("pubkey"), lit("")).as("pubkey"), col("degree"))
        .orderBy(col("degree").desc, col("pubkey"))
    },

    // /v2/gateways (api/routes/gateways.js:46-86, 158-179): the
    // by-currency issuer listing with the reference's sort — issuers
    // with assets first, then featured, then by name ('0'<'1' string
    // key, gateways.js:50-53); account appended as a deterministic
    // tiebreak. Asset counts come from the filename manifest, split at
    // the first dot exactly like the boot-time scan (gateways.js:14-25).
    QuerySpec.sql(
      "xrpl_gateways_by_currency",
      s"""WITH counts AS (
         |  SELECT string_split(file, '.')[1] AS normalized,
         |    CAST(COUNT(*) AS BIGINT) AS n_assets
         |  FROM ${t("gateway_asset_files")} GROUP BY 1),
         |ranked AS (
         |  SELECT f.currency, f.name, f.account, f.featured, f.label,
         |    COALESCE(c.n_assets, 0) AS n_assets, f.start_date,
         |    row_number() OVER (PARTITION BY f.currency ORDER BY
         |      (CASE WHEN COALESCE(c.n_assets, 0) > 0
         |         THEN '0' ELSE '1' END ||
         |       CASE WHEN f.featured THEN '0' ELSE '1' END || f.name),
         |      f.account) AS pos
         |  FROM ${t("gateway_currencies")} f
         |  LEFT JOIN counts c ON f.normalized = c.normalized)
         |SELECT currency, pos, name, account, featured, label,
         |  n_assets, start_date
         |FROM ranked
         |ORDER BY currency, pos""".stripMargin) { (s, _) =>
      graft.xrpl.topology.Gateways.byCurrency(
        pq(s, "gateway_currencies"), pq(s, "gateway_asset_files"))
    },

    // /v2/gateways/{gateway} (gateways.js:101-133, 141-156): lookup by
    // issuing address or normalized name over the same registry — both
    // identifier forms exercised, one summary row each.
    QuerySpec.sql(
      "xrpl_gateway_lookup",
      s"""SELECT DISTINCT name, normalized, domain, start_date,
         |  n_accounts, n_hotwallets, n_currencies
         |FROM ${t("gateway_currencies")}
         |WHERE account = 'rvYAfWj5gh67oV6fW32ZzP3Aw4Eubs59B'
         |   OR normalized = 'gatehub'
         |ORDER BY name""".stripMargin) { (s, _) =>
      val flat = pq(s, "gateway_currencies")
      graft.xrpl.topology.Gateways
        .lookup(flat, "rvYAfWj5gh67oV6fW32ZzP3Aw4Eubs59B")
        .unionByName(graft.xrpl.topology.Gateways.lookup(flat, "GateHub"))
        .orderBy(col("name"))
    },

    // /v2/currencies/{currency}.svg surface (gateways.js:182-220): the
    // currency-code table the asset route serves from filenames.
    QuerySpec.sql(
      "xrpl_currency_assets",
      s"""SELECT upper(string_split(file, '.')[1]) AS currency, file
         |FROM ${t("currency_asset_files")}
         |ORDER BY currency""".stripMargin) { (s, _) =>
      graft.xrpl.topology.Gateways.currencies(
        pq(s, "currency_asset_files"))
    },

    // getManifests scan (topology.js:592-620): manifests_by_validator
    // rows under the master|seq(10)|ephemeral rowkey, rowkey-ordered,
    // ed25519 verdict riding along as a boolean column — exercises
    // Topology.manifestsByValidator.
    QuerySpec.sql(
      "xrpl_manifests",
      s"""SELECT master_public_key || '|' ||
         |    lpad(CAST(sequence AS VARCHAR), 10, '0') || '|' ||
         |    COALESCE(ephemeral_public_key, '') AS rowkey,
         |  master_public_key,
         |  COALESCE(ephemeral_public_key, '') AS ephemeral_public_key,
         |  sequence, signature, verified
         |FROM ${t("manifests")}
         |ORDER BY rowkey""".stripMargin) { (s, _) =>
      graft.xrpl.topology.Topology.manifestsByValidator(pq(s, "manifests"))
    },

    // manifests_by_master_key (manifests.js:99-112 setActiveManifest,
    // 117-136 deleteActiveManifest): the active (highest verified
    // sequence) ephemeral key per master key, with MAX_SEQUENCE
    // revocations removing the master — exercises
    // Topology.activeManifests.
    QuerySpec.sql(
      "xrpl_manifests_active",
      s"""WITH v AS (
         |  SELECT * FROM ${t("manifests")} WHERE verified)
         |SELECT master_public_key,
         |  max_by(ephemeral_public_key, sequence) AS ephemeral_public_key,
         |  MAX(sequence) AS sequence
         |FROM v
         |WHERE sequence < 4294967295
         |  AND master_public_key NOT IN
         |    (SELECT master_public_key FROM v WHERE sequence = 4294967295)
         |GROUP BY 1
         |ORDER BY 1""".stripMargin) { (s, _) =>
      graft.xrpl.topology.Topology.activeManifests(pq(s, "manifests"))
    },

    // Live-state S10 (lib/rippled.js getBalances): the reference
    // PROXIES account_info/account_lines to a live node because its
    // history store can't answer "current balance" — here the balance
    // change log carries each node's final_balance, so live state is
    // the LATEST row per (account, currency, counterparty) at the
    // ingestion frontier: one max_by over the canonical
    // (ledger, tx, node) sort key, no window over history, no
    // external connector. LiveStateSpec covers the request-shaped
    // getBalances/getOrders API (XRP-first ordering, filters, limit).
    QuerySpec.sql(
      "xrpl_live_balances", liveBalancesSql) { (s, _) =>
      graft.xrpl.api.LiveState.balances(pq(s, "balance_changes"))
        .orderBy(col("account"), col("currency"), col("counterparty"))
    },

    // Live-state S10 (lib/rippled.js getOrders / account_offers): an
    // offer is OPEN while its ledger node still exists — the latest
    // event per (account, offer_sequence) that is not a DeletedNode
    // (`create` / `partial_fill` survive; fill, cancel, replace and
    // the unfunded removals delete). Remaining taker amounts are the
    // latest node's values.
    QuerySpec.sql(
      "xrpl_open_offers", openOffersSql) { (s, _) =>
      graft.xrpl.api.LiveState.openOffers(pq(s, "offers"))
        .orderBy(col("account"), col("offer_sequence"))
    },

    // Live-state S10, MAINTAINED-frontier read path (VERDICT r12 #7):
    // same answers as xrpl_live_balances / xrpl_open_offers, but the
    // Spark side reads the compacted frontier STORE the live-state
    // daemon maintains per micro-batch (IncrementalDaemon.step merge
    // chain — see prepareLiveStore), never the history log. The oracle
    // stays the full-history scan, so the hash gate proves
    // frontier-store read ≡ full scan across a genuine multi-batch
    // stream — the read path a deployment serves account_info from.
    QuerySpec.sql(
      "xrpl_live_balances_store", liveBalancesSql) { (s, _) =>
      prepareLiveStore(s)
      Tables.parquet(s, s"$DumpDir/live/store/live_balances")
        .orderBy(col("account"), col("currency"), col("counterparty"))
    },

    QuerySpec.sql(
      "xrpl_open_offers_store", openOffersSql) { (s, _) =>
      prepareLiveStore(s)
      Tables.parquet(s, s"$DumpDir/live/store/open_offers")
        .orderBy(col("account"), col("offer_sequence"))
    })

  /** Shared full-history oracle for BOTH live-balance gates (history
    * scan and maintained frontier store) — one SQL text, so a drift in
    * either read path is a hash mismatch, never a silently diverging
    * oracle. */
  private val liveBalancesSql: String =
    s"""WITH last AS (
       |  SELECT account, currency,
       |    COALESCE(counterparty, '') AS counterparty,
       |    final_balance, ledger_index,
       |    ROW_NUMBER() OVER (PARTITION BY account, currency,
       |        COALESCE(counterparty, '')
       |      ORDER BY ledger_index DESC, tx_index DESC,
       |        node_index DESC) AS rn
       |  FROM ${t("balance_changes")})
       |SELECT account, currency, counterparty,
       |  CAST(final_balance AS DOUBLE) AS value,
       |  CAST(ledger_index AS BIGINT) AS as_of_ledger
       |FROM last WHERE rn = 1
       |ORDER BY account, currency, counterparty""".stripMargin

  /** Shared full-history oracle for BOTH open-offer gates. */
  private val openOffersSql: String =
    s"""WITH last AS (
       |  SELECT account, offer_sequence, node_type,
       |    pays_currency, COALESCE(pays_issuer, '') AS pays_issuer,
       |    pays_value,
       |    gets_currency, COALESCE(gets_issuer, '') AS gets_issuer,
       |    gets_value,
       |    ROW_NUMBER() OVER (PARTITION BY account, offer_sequence
       |      ORDER BY ledger_index DESC, tx_index DESC,
       |        node_index DESC) AS rn
       |  FROM ${t("offers")})
       |SELECT account, offer_sequence,
       |  pays_currency, pays_issuer,
       |  CAST(pays_value AS DOUBLE) AS pays_value,
       |  gets_currency, gets_issuer,
       |  CAST(gets_value AS DOUBLE) AS gets_value
       |FROM last WHERE rn = 1 AND node_type <> 'DeletedNode'
       |ORDER BY account, offer_sequence""".stripMargin
}

package graft.xrpl.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The non-candle aggregation daemons of the reference
  * (lib/aggregation/{payments,accountPayments,stats,fees}.js), as
  * batch DataFrame jobs. Streaming wrappers live in graft.streaming.
  */
object Aggregations {

  private val Dec = DecimalType(38, 18)
  private def daySec(c: org.apache.spark.sql.Column) =
    (c.cast("long") / 86400L).cast("long") * 86400L
  private def hourSec(c: org.apache.spark.sql.Column) =
    (c.cast("long") / 3600L).cast("long") * 3600L

  /** A4: payment volume per (currency, issuer, bucket) —
    * lib/aggregation/payments.js:361-384: count, Σ delivered_amount
    * (BigNumber → exact decimal here), average. `unit` ∈ {hour, day};
    * day rows re-reduce hour rows in the reference (264-325) — with
    * map-side partial aggregation the direct groupBy is the same
    * shuffle volume.
    */
  def paymentVolume(payments: DataFrame, unit: String = "day"): DataFrame = {
    val bucket = if (unit == "hour") hourSec(col("time")) else daySec(col("time"))
    payments
      .groupBy(col("currency"), col("issuer"), bucket.as("start"))
      .agg(
        count(lit(1)).as("count"),
        sum(col("delivered_amount").cast(Dec)).cast("double").as("amount"))
      .withColumn("average", col("amount") / col("count"))
  }

  /** A5: per-(account, day) payment profile —
    * lib/aggregation/accountPayments.js:223-285. Sent/received counts,
    * distinct counterparties, total/high per direction. (The
    * reference's XRP normalization via historical FX rate is an as-of
    * join against daily candles — exposed via `normalized` param.)
    */
  def accountPayments(payments: DataFrame): DataFrame = {
    // sums ride the raw decimal strings (→ DECIMAL, exact and
    // order-independent); the double cast serves only max()
    val amtRaw = col("delivered_amount")
    val sent = payments.select(
      col("source").as("account"), col("destination").as("counterparty"),
      lit("sent").as("direction"), amtRaw.as("amount"), col("time"))
    val received = payments.select(
      col("destination").as("account"), col("source").as("counterparty"),
      lit("received").as("direction"), amtRaw.as("amount"), col("time"))
    sent.unionByName(received)
      .groupBy(col("account"), daySec(col("time")).as("date"))
      .agg(
        sum(when(col("direction") === "sent", 1).otherwise(0)).cast("long")
          .as("payments_sent"),
        sum(when(col("direction") === "received", 1).otherwise(0)).cast("long")
          .as("payments_received"),
        collect_set(when(col("direction") === "sent", col("counterparty")))
          .as("sent_counterparties"),
        collect_set(when(col("direction") === "received", col("counterparty")))
          .as("received_counterparties"),
        sum(when(col("direction") === "sent", col("amount")).otherwise(lit("0"))
          .cast(Dec)).cast("double").as("total_value_sent"),
        sum(when(col("direction") === "received", col("amount")).otherwise(lit("0"))
          .cast(Dec)).cast("double").as("total_value_received"),
        max(when(col("direction") === "sent", col("amount").cast("double")))
          .as("high_value_sent"),
        max(when(col("direction") === "received", col("amount").cast("double")))
          .as("high_value_received"))
      .withColumn("total_value", col("total_value_sent") + col("total_value_received"))
  }

  /** A6: network stats — lib/aggregation/stats.js:235-288. Long-format
    * (date, family, name, value) rows mirroring agg_stats' dynamic
    * `type`/`result`/`metric` column families, so new tx types flow
    * through without schema changes (SURVEY.md §7).
    */
  def stats(transactions: DataFrame, payments: DataFrame, exchanges: DataFrame,
      accountsCreated: DataFrame, ledgers: DataFrame,
      unit: String = "day"): DataFrame = {
    def bucket(c: org.apache.spark.sql.Column) =
      if (unit == "hour") hourSec(c) else daySec(c)

    val typeRows = transactions
      .groupBy(bucket(col("executed_time")).as("date"), col("tx_type").as("name"))
      .agg(count(lit(1)).cast("double").as("value"))
      .withColumn("family", lit("type"))

    val resultRows = transactions
      .groupBy(bucket(col("executed_time")).as("date"), col("tx_result").as("name"))
      .agg(count(lit(1)).cast("double").as("value"))
      .withColumn("family", lit("result"))

    def metric(df: DataFrame, timeCol: String, name: String): DataFrame =
      df.groupBy(bucket(col(timeCol)).as("date"))
        .agg(count(lit(1)).cast("double").as("value"))
        .withColumn("name", lit(name))
        .withColumn("family", lit("metric"))

    val txCount = metric(transactions, "executed_time", "transaction_count")
    val payCount = metric(payments, "time", "payments_count")
    val exCount = metric(exchanges, "time", "exchanges_count")
    val acctCount = metric(accountsCreated, "time", "accounts_created")
    val ledgerCount = metric(ledgers, "close_time", "ledger_count")

    // running averages (stats.js:313-337): tx_per_ledger and
    // ledger_interval are plain ratios in batch (SURVEY W3/W4)
    val perLedger = transactions
      .groupBy(bucket(col("executed_time")).as("date"))
      .agg(count(lit(1)).as("n_tx"),
        countDistinct(col("ledger_index")).as("n_ledgers"))
      .select(col("date"),
        lit("tx_per_ledger").as("name"), lit("metric").as("family"),
        (col("n_tx").cast("double") / col("n_ledgers")).as("value"))

    val interval = ledgers
      .groupBy(bucket(col("close_time")).as("date"))
      .agg(((max(col("close_time")) - min(col("close_time"))).cast("double") /
        count(lit(1))).as("value"))
      .withColumn("name", lit("ledger_interval"))
      .withColumn("family", lit("metric"))

    val cols = Seq("date", "family", "name", "value").map(col)
    Seq(typeRows, resultRows, txCount, payCount, exCount, acctCount,
      ledgerCount, perLedger, interval)
      .map(_.select(cols: _*))
      .reduce(_ unionByName _)
  }

  /** A5 normalization: account payment values converted to XRP via the
    * historical daily rate (accountPayments.js:174-215; the J4 bucket
    * join — equi-join on (currency, issuer, day), rate 1 for XRP).
    * `dailyRates` carries (currency, issuer, date, rate_to_xrp),
    * typically the daily candle vwap of the currency/XRP pair.
    */
  def accountPaymentsNormalized(payments: DataFrame,
      dailyRates: DataFrame): DataFrame = {
    val withDay = payments.withColumn("date", daySec(col("time")))
    val rated = withDay
      .join(broadcast(dailyRates), Seq("currency", "issuer", "date"), "left")
      .withColumn("rate_to_xrp",
        when(col("currency") === "XRP", lit(1.0)).otherwise(col("rate_to_xrp")))
      .withColumn("norm_amount",
        col("delivered_amount").cast("double") * col("rate_to_xrp"))
    val sent = rated.select(col("source").as("account"), col("date"),
      lit("sent").as("direction"), col("norm_amount"))
    val received = rated.select(col("destination").as("account"), col("date"),
      lit("received").as("direction"), col("norm_amount"))
    sent.unionByName(received)
      .groupBy(col("account"), col("date"))
      .agg(
        sum(when(col("direction") === "sent", col("norm_amount")))
          .as("total_value_sent_xrp"),
        sum(when(col("direction") === "received", col("norm_amount")))
          .as("total_value_received_xrp"),
        max(when(col("direction") === "sent", col("norm_amount")))
          .as("high_value_sent_xrp"),
        max(when(col("direction") === "received", col("norm_amount")))
          .as("high_value_received_xrp"))
  }

  /** Daily currency→XRP rates from exchange rows: vwap of each
    * (currency, issuer)/XRP pair per day (the rate source the
    * reference's account-payments daemon queries, J4).
    */
  def dailyXrpRates(exchanges: DataFrame): DataFrame =
    xrpRates(exchanges, "day")

  /** [[dailyXrpRates]] generalized to an arbitrary bucket unit, so the
    * volume metrics can fetch rates at their own interval the way the
    * reference does (`'1' + interval`, data.js:920-927) — a day-keyed
    * rate table joined against hourly components would silently rate
    * every off-midnight component 0.
    */
  def xrpRates(exchanges: DataFrame, unit: String): DataFrame = {
    // canonical storage puts most IOUs as base with XRP counter;
    // vwap = Σcounter/Σbase = XRP per IOU unit. Decimal sums → the
    // vwap is order-independent (bit-identical across retries/engines).
    val bucket = if (unit == "hour") hourSec(col("time")) else daySec(col("time"))
    exchanges
      .filter(col("counter_currency") === "XRP")
      .groupBy(col("base_currency").as("currency"),
        col("base_issuer").as("issuer"),
        bucket.as("date"))
      .agg((sum(col("counter_amount").cast(Dec)).cast("double") /
        sum(col("base_amount").cast(Dec)).cast("double")).as("rate_to_xrp"))
  }

  /** getMetric volume metrics (data.js:791-942; route
    * api/routes/network/getMetric.js). The reference serves
    * pre-aggregated `agg_metrics` rows whose `components` JSON blob
    * holds per-currency breakdowns normalized to XRP; here the metric
    * is a live plan in long format — one row per (start, component)
    * carrying the component volume, its XRP rate, the converted
    * amount, and the interval totals. Totals ride on a window over the
    * already-aggregated component rows (partition = interval, a few
    * rows each) so the raw input shuffles exactly once.
    */
  def metricPaymentVolume(payments: DataFrame, rateExchanges: DataFrame,
      unit: String = "day"): DataFrame = {
    val bucket = if (unit == "hour") hourSec(col("time")) else daySec(col("time"))
    val comp = payments
      .groupBy(col("currency"), col("issuer"), bucket.as("start"))
      .agg(count(lit(1)).as("count"),
        sum(col("delivered_amount").cast(Dec)).cast("double").as("amount"))
    // rates are derived at the metric's own unit (data.js:920-927) so
    // hourly components join hourly vwaps, not a day-keyed table
    attachXrpTotals(comp, xrpRates(rateExchanges, unit), "currency", "issuer")
  }

  /** trade_volume flavor of [[metricPaymentVolume]]: per-pair exchange
    * volume components, converted via the base leg's XRP rate
    * (data.js:791-942, metric `trade_volume`).
    */
  def metricTradeVolume(exchanges: DataFrame, rateExchanges: DataFrame,
      unit: String = "day"): DataFrame = {
    val bucket = if (unit == "hour") hourSec(col("time")) else daySec(col("time"))
    val comp = exchanges
      .groupBy(col("base_currency"), col("base_issuer"),
        col("counter_currency"), col("counter_issuer"), bucket.as("start"))
      .agg(count(lit(1)).as("count"),
        sum(col("base_amount").cast(Dec)).cast("double").as("amount"))
    attachXrpTotals(comp, xrpRates(rateExchanges, unit),
      "base_currency", "base_issuer")
  }

  /** Rate-join + XRP conversion + interval totals shared by the volume
    * metrics: left-join the component rows to the (small, broadcast)
    * daily rate table, rate 1 for XRP itself, unknown rates count 0
    * toward the total (`rates[time] || 0`, data.js:837-842).
    */
  private def attachXrpTotals(comp: DataFrame, dailyRates: DataFrame,
      curCol: String, issCol: String): DataFrame = {
    val rates = dailyRates.select(col("currency").as(curCol),
      col("issuer").as(issCol), col("date").as("start"), col("rate_to_xrp"))
    val rated = comp
      .join(broadcast(rates), Seq(curCol, issCol, "start"), "left")
      .withColumn("rate",
        when(col(curCol) === "XRP", lit(1.0))
          .otherwise(coalesce(col("rate_to_xrp"), lit(0.0))))
      .withColumn("converted_amount", col("amount") * col("rate"))
      .drop("rate_to_xrp")
    val w = Window.partitionBy(col("start"))
    rated
      .withColumn("total",
        sum(col("converted_amount").cast(Dec)).over(w).cast("double"))
      .withColumn("total_count", sum(col("count")).over(w))
  }

  /** The `…|live` rolling rows of getMetric (data.js:858-897): the
    * interval is [newest − period, newest] relative to the data's own
    * frontier rather than a calendar bucket, and the conversion rate is
    * the vwap over that same rolling window. One broadcast scalar
    * (the frontier) ranges both scans; components and totals come out
    * long-format like the calendar variant.
    */
  def metricPaymentVolumeLive(payments: DataFrame, exchanges: DataFrame,
      periodSec: Long = 86400L): DataFrame = {
    val frontier = payments.agg(max(col("time")).as("live_end"))
    val windowed = payments.crossJoin(broadcast(frontier))
      .filter(col("time") > col("live_end") - periodSec)
    val rates = exchanges.crossJoin(broadcast(frontier))
      .filter(col("time") > col("live_end") - periodSec &&
        col("counter_currency") === "XRP")
      .groupBy(col("base_currency").as("currency"),
        col("base_issuer").as("issuer"))
      .agg((sum(col("counter_amount").cast(Dec)).cast("double") /
        sum(col("base_amount").cast(Dec)).cast("double")).as("rate_to_xrp"))
    val comp = windowed
      .groupBy(col("currency"), col("issuer"))
      .agg(count(lit(1)).as("count"),
        sum(col("delivered_amount").cast(Dec)).cast("double").as("amount"))
      .join(broadcast(rates), Seq("currency", "issuer"), "left")
      .withColumn("rate",
        when(col("currency") === "XRP", lit(1.0))
          .otherwise(coalesce(col("rate_to_xrp"), lit(0.0))))
      .withColumn("converted_amount", col("amount") * col("rate"))
      .drop("rate_to_xrp")
    val totals = comp.agg(
      sum(col("converted_amount").cast(Dec)).cast("double").as("total"),
      sum(col("count")).as("total_count"))
    comp.crossJoin(broadcast(totals))
  }

  /** T6: weekly re-aggregation of daily stat rows
    * (lib/aggregation/stats.js:75-141, cron every 5 min in the
    * reference; a scheduled batch job here). Counts sum; the running
    * averages (`tx_per_ledger`, `ledger_interval`) re-average weighted
    * equally per day, matching the reference's re-reduce.
    */
  def weeklyStats(daily: DataFrame): DataFrame = {
    // ISO week start (Monday): epoch day 0 was a Thursday (+3 shift)
    val week = ((col("date") + 3L * 86400L) / (7L * 86400L)).cast("long") *
      (7L * 86400L) - 3L * 86400L
    val averaged = Set("tx_per_ledger", "ledger_interval")
    daily
      .withColumn("week", week)
      .withColumn("is_avg", col("name").isin(averaged.toSeq: _*))
      .groupBy(col("week").as("date"), col("family"), col("name"), col("is_avg"))
      .agg(sum(col("value")).as("sum_v"), avg(col("value")).as("avg_v"))
      .withColumn("value", when(col("is_avg"), col("avg_v")).otherwise(col("sum_v")))
      .select(col("date"), col("family"), col("name"), col("value"))
  }

  /** A7: fee rollups — lib/aggregation/fees.js:116-178: per-ledger
    * summaries merged into hour/day rows; avg = total / tx_count.
    */
  def feeRollup(feeSummaries: DataFrame, unit: String = "hour"): DataFrame = {
    // fee summary `date` is an ISO string; ledgers carry the epoch too
    val t = unix_timestamp(col("date"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val bucket = if (unit == "hour") hourSec(t) else daySec(t)
    feeSummaries
      .filter(col("tx_count") > 0)
      .groupBy(bucket.as("start"))
      .agg(
        // exact-decimal sum (the dsum discipline, same as the
        // xrpl_fee_rollup gate): a raw double sum is order-dependent,
        // so the streamed daemon's rebuild from staging parquet could
        // differ from the batch table by a ulp depending on partition
        // layout — DaemonStreamSpec's row-exact parity needs the sum
        // to be associative
        graft.functions.Cols.dsum(col("total")).as("total"),
        sum(col("tx_count")).cast("long").as("tx_count"),
        min(col("min")).as("min"),
        max(col("max")).as("max"),
        count(lit(1)).as("ledger_count"))
      .withColumn("avg", col("total") / col("tx_count"))
  }

  /** A11: issuer capitalization — cumulative daily issuer balance
    * changes (data.js:949-1046): running total per (currency, issuer).
    */
  def issuerCapitalization(balanceChanges: DataFrame): DataFrame = {
    val issuerRows = balanceChanges
      .filter(col("counterparty").isNotNull && col("currency") =!= "XRP")
      // issuer side: the negative-balance party; per data.js the
      // snapshot tracks the issuer's obligations = -Σ changes
      .groupBy(col("currency"), col("counterparty").as("issuer"),
        daySec(col("time")).as("date"))
      .agg(sum(col("change").cast(DecimalType(38, 18))).cast("double")
        .as("daily_change"))
    val w = Window.partitionBy(col("currency"), col("issuer"))
      .orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    issuerRows.withColumn("cumulative", sum(col("daily_change")).over(w))
  }

  /** agg_account_stats writer (served by /v2/accounts/:addr/stats/
    * transactions, api/routes/accountStats.js; data.js:699-775): per
    * (account, day) transaction counts by type and by result, long
    * format like [[stats]] so new tx types flow through without schema
    * changes. Shuffle key (account, day) is uniform.
    */
  def accountStatsTransactions(affectedAccounts: DataFrame): DataFrame = {
    val base = affectedAccounts
      .select(col("account"), daySec(col("time")).as("date"),
        col("tx_type"), col("tx_result"))
    val typeRows = base
      .groupBy(col("account"), col("date"), col("tx_type").as("name"))
      .agg(count(lit(1)).cast("double").as("value"))
      .withColumn("family", lit("type"))
    val resultRows = base
      .groupBy(col("account"), col("date"), col("tx_result").as("name"))
      .agg(count(lit(1)).cast("double").as("value"))
      .withColumn("family", lit("result"))
    val totals = base
      .groupBy(col("account"), col("date"))
      .agg(count(lit(1)).cast("double").as("value"))
      .withColumn("name", lit("transaction_count"))
      .withColumn("family", lit("metric"))
    val cols = Seq("account", "date", "family", "name", "value").map(col)
    Seq(typeRows, resultRows, totals).map(_.select(cols: _*))
      .reduce(_ unionByName _)
  }

  /** agg_account_balance_changes writer (the `value` family of
    * /v2/accounts/:addr/stats; data.js:751-758): per (account, day)
    * XRP balance-change count, net change, and the running end-of-day
    * balance-change total (`account_value`). Stays DECIMAL through the
    * running sum; the per-account window partitions on the account.
    */
  def accountValueStats(balanceChanges: DataFrame): DataFrame = {
    val daily = balanceChanges
      .filter(col("currency") === "XRP")
      .groupBy(col("account"), daySec(col("time")).as("date"))
      .agg(count(lit(1)).as("balance_change_count"),
        sum(col("change").cast(Dec)).as("net_dec"))
    val w = Window.partitionBy(col("account")).orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("value_dec", sum(col("net_dec")).over(w))
      .select(col("account"), col("date"), col("balance_change_count"),
        col("net_dec").cast("double").as("net_change"),
        col("value_dec").cast("double").as("account_value"))
  }

  /** xrp_distribution read path (api/routes/network/xrpDistribution.js;
    * the reference serves rows written by an external balance-snapshot
    * job). Recomputed from first principles per activity day:
    * `total` = genesis 100 B XRP minus the cumulative fee burn (fees
    * are destroyed); `escrowed` accumulates EscrowCreate minus
    * Finish/Cancel amounts; `undistributed` is the cumulative XRP
    * balance of the `reserved` account set (the reference's
    * company-wallet list, no public equivalent — defaults empty);
    * `distributed` is the remainder. Cumulative columns use the
    * range-partitioned prefix sum — day-grain rows are few, but the
    * plan stays single-task-free.
    */
  def xrpDistribution(feeSummaries: DataFrame, escrows: DataFrame,
      balanceChanges: DataFrame, reserved: Seq[String] = Nil): DataFrame = {
    val genesis = 100000000000.0 // 100 B XRP
    val zero = lit(0).cast(Dec)
    // everything stays DECIMAL until the final select — no
    // double→decimal round trips mid-pipeline (engines disagree on
    // that cast's low digits)
    val feeDay = daySec(unix_timestamp(col("date"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    val fees = feeSummaries
      .filter(col("tx_count") > 0)
      .groupBy(feeDay.as("day"))
      .agg(sum(col("total").cast(Dec)).as("fee_burn"))
      .select(col("day"), col("fee_burn"), zero.as("esc_delta"),
        zero.as("res_delta"))
    val escDelta = escrows
      .groupBy(daySec(col("time")).as("day"))
      .agg(sum(
        when(col("tx_type") === "EscrowCreate", col("amount").cast(Dec))
          .otherwise(-col("amount").cast(Dec))).as("esc_delta"))
      .select(col("day"), zero.as("fee_burn"), col("esc_delta"),
        zero.as("res_delta"))
    val reservedPred =
      if (reserved.isEmpty) lit(false) else col("account").isin(reserved: _*)
    val resDelta = balanceChanges
      .filter(col("currency") === "XRP" && reservedPred)
      .groupBy(daySec(col("time")).as("day"))
      .agg(sum(col("change").cast(Dec)).as("res_delta"))
      .select(col("day"), zero.as("fee_burn"), zero.as("esc_delta"),
        col("res_delta"))

    val daily = fees.unionByName(escDelta).unionByName(resDelta)
      .groupBy(col("day"))
      .agg(sum(col("fee_burn")).cast(Dec).as("fee_burn"),
        sum(col("esc_delta")).cast(Dec).as("esc_delta"),
        sum(col("res_delta")).cast(Dec).as("res_delta"))

    val withCums = graft.functions.PrefixSum.globalCumsumMulti(
      daily, Seq(col("day")),
      Seq(col("fee_burn") -> "cum_fees", col("esc_delta") -> "cum_esc",
        col("res_delta") -> "cum_res"))

    withCums
      .select(col("day").as("date"),
        (lit(genesis) - col("cum_fees").cast("double")).as("total"),
        col("cum_esc").cast("double").as("escrowed"),
        col("cum_res").cast("double").as("undistributed"))
      .withColumn("distributed",
        col("total") - col("escrowed") - col("undistributed"))
      .orderBy(col("date"))
  }

  /** Issuer-cap week/month calendar sampling (data.js:988-1046): the
    * reference reads the daily snapshot at each calendar-boundary−1-day
    * key and reports it AT the boundary, clamped at 0. The daily
    * cumulative series is sparse (rows only on change days), so the
    * sample is an as-of lookup — expressed as the union-marker window
    * idiom: boundary marker rows interleave with the real rows in one
    * (currency, issuer)-partitioned sort, and `last_value(ignoreNulls)`
    * carries the latest cumulative forward onto each marker. One
    * shuffle, no point queries, no driver loop.
    */
  def issuerCapitalizationSampled(balanceChanges: DataFrame,
      interval: String, startSec: Long, endSec: Long): DataFrame = {
    require(interval == "week" || interval == "month",
      "invalid interval - use: day, week, month")
    val daily = issuerCapitalization(balanceChanges)
    val spark = daily.sparkSession

    // calendar boundaries in [start, end]: ISO-week (Monday) or
    // month starts (data.js:992-1011); sampled at boundary−1d
    val trunc = if (interval == "week") "week" else "month"
    val step = if (interval == "week") "interval 7 days" else "interval 1 month"
    val boundaries = spark.sql(
      s"""SELECT explode(sequence(
         |  date_trunc('$trunc', timestamp_seconds(${startSec}L)),
         |  timestamp_seconds(${endSec}L), $step)) AS b""".stripMargin)
      .select(unix_timestamp(col("b")).as("boundary"))

    // one marker row per (currency, issuer) × boundary; the pair list
    // is small next to the change rows → broadcast side of the cross
    val pairs = daily.select(col("currency"), col("issuer")).distinct()
    val markers = pairs.crossJoin(broadcast(boundaries))
      .select(col("currency"), col("issuer"),
        (col("boundary") - 86400L).as("date"), col("boundary"),
        lit(null).cast("double").as("cumulative"), lit(1).as("is_marker"))
    val real = daily
      .select(col("currency"), col("issuer"), col("date"),
        lit(null).cast("long").as("boundary"), col("cumulative"),
        lit(0).as("is_marker"))

    // markers sort after a real row on the same date, so a change ON
    // the sample day is included (snapshot semantics)
    val w = Window.partitionBy(col("currency"), col("issuer"))
      .orderBy(col("date"), col("is_marker"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    real.unionByName(markers)
      .withColumn("sampled",
        last(col("cumulative"), ignoreNulls = true).over(w))
      .filter(col("is_marker") === 1 && col("sampled").isNotNull)
      .select(col("currency"), col("issuer"),
        col("boundary").as("date"),
        greatest(col("sampled"), lit(0d)).as("amount")) // clamp (data.js:962-965)
      .orderBy(col("currency"), col("issuer"), col("date"))
  }

  // ──────────── incremental (associative re-reduce) forms ────────────
  // The deployment shape of the streaming daemons: instead of
  // rebuilding a store from the full staging history every micro-batch
  // (O(history) — fine as a parity harness, wrong as a deployment),
  // each daemon keeps a keyed STATE table of mergeable sufficient
  // statistics — counts, exact-decimal/limb sums, mins/maxes, distinct
  // sets — so a micro-batch costs O(batch + |state|), and |state| is
  // bounded by key cardinality, not history length. Per daemon:
  //   `xxxState(batch)`    state rows of ONE micro-batch;
  //   `reduceXxxState(df)` merge of ANY union of state tables —
  //                        associative + commutative by construction
  //                        (sums of sums, min of mins, set unions), so
  //                        the result is independent of how arrivals
  //                        were micro-batched;
  //   `publishXxx(state)`  the user-facing table, value-identical to
  //                        the one-shot batch aggregation (proven in
  //                        IncrementalDaemonSpec: every derived float
  //                        is computed ONCE from exact merged integers
  //                        /decimals, never averaged across batches).
  // Storage protocol (replay-safe versioned state dirs) lives in
  // graft.streaming.IncrementalDaemon.

  /** [[paymentVolume]]'s mergeable state: exact decimal amount sum +
    * count per (currency, issuer, bucket). */
  def paymentVolumeState(payments: DataFrame, unit: String = "day"): DataFrame = {
    val bucket = if (unit == "hour") hourSec(col("time")) else daySec(col("time"))
    payments
      .groupBy(col("currency"), col("issuer"), bucket.as("start"))
      .agg(count(lit(1)).as("count"),
        sum(col("delivered_amount").cast(Dec)).cast(Dec).as("amount_dec"))
  }

  def reducePaymentVolumeState(st: DataFrame): DataFrame =
    st.groupBy(col("currency"), col("issuer"), col("start"))
      .agg(sum(col("count")).cast("long").as("count"),
        sum(col("amount_dec")).cast(Dec).as("amount_dec"))

  /** Derives exactly [[paymentVolume]]'s output: the double cast and
    * the average division happen once, on the exact merged decimal. */
  def publishPaymentVolume(st: DataFrame): DataFrame =
    st.select(col("currency"), col("issuer"), col("start"),
        col("count"), col("amount_dec").cast("double").as("amount"))
      .withColumn("average", col("amount") / col("count"))

  /** [[feeRollup]]'s mergeable state. The exact total rides the same
    * three 6-digit limb decomposition as Cols.dsum (hi/mid/lo of the
    * 6-decimal unscaled value), so limb sums merge by addition and the
    * published total is bit-identical to the batch dsum at any
    * micro-batching — the long-limb domain bounds (|value| < 1e12,
    * < ~9.2e12 rows) carry over unchanged. */
  def feeState(feeSummaries: DataFrame, unit: String = "hour"): DataFrame = {
    val t = unix_timestamp(col("date"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val bucket = if (unit == "hour") hourSec(t) else daySec(t)
    feeSummaries
      .filter(col("tx_count") > 0)
      .select(bucket.as("start"),
        graft.functions.Cols.micros6(col("total")).as("m_u6"),
        col("tx_count"), col("min"), col("max"))
      .groupBy(col("start"))
      .agg(
        sum(expr("m_u6 div 1000000000000")).as("hi"),
        sum(expr("(m_u6 div 1000000) % 1000000")).as("mid"),
        sum(expr("m_u6 % 1000000")).as("lo"),
        sum(col("tx_count")).cast("long").as("tx_count"),
        min(col("min")).as("min"), max(col("max")).as("max"),
        count(lit(1)).cast("long").as("ledger_count"))
  }

  def reduceFeeState(st: DataFrame): DataFrame =
    st.groupBy(col("start"))
      .agg(sum(col("hi")).as("hi"), sum(col("mid")).as("mid"),
        sum(col("lo")).as("lo"),
        sum(col("tx_count")).cast("long").as("tx_count"),
        min(col("min")).as("min"), max(col("max")).as("max"),
        sum(col("ledger_count")).cast("long").as("ledger_count"))

  /** Derives exactly [[feeRollup]]'s output; the limb recombination is
    * dsum's own final expression. */
  def publishFees(st: DataFrame): DataFrame = {
    val D = graft.functions.Cols.Dec // DECIMAL(38,6), dsum's type
    st.select(col("start"),
        ((col("hi").cast(D) * lit(1000000000000L) +
          col("mid").cast(D) * lit(1000000L) +
          col("lo").cast(D)) / lit(1000000L))
          .cast(D).cast("double").as("total"),
        col("tx_count"), col("min"), col("max"), col("ledger_count"))
      .withColumn("avg", col("total") / col("tx_count"))
  }

  /** [[stats]]' mergeable state, one uniform schema for all nine row
    * families: `kind` picks the publish formula —
    *   count:    value = num                (num = Σ partial counts)
    *   ratio:    value = num / den          (tx_per_ledger: Σtx / Σ
    *             distinct ledgers — summable across batches because a
    *             ledger arrives in exactly one micro-batch)
    *   interval: value = (mx − mn) / den    (ledger_interval)
    *
    * CALLER CONTRACT (ledger atomicity): `den` for the ratio kind is a
    * per-batch `countDistinct(ledger_index)` that [[reduceStatsState]]
    * SUMS — correct iff every ledger's transactions arrive in exactly
    * one batch (the wired [[graft.streaming.DaemonStream]] source
    * delivers whole `ParsedLedger` elements, so this holds there). A
    * caller that splits one ledger's transactions across batches
    * double-counts that ledger in the merged denominator. If you need
    * split-tolerant partials, carry the distinct-ledger SET instead
    * (collect_set merged by array-union) and count it at publish time
    * — deliberately not done here because the set is unbounded state
    * while the wired source makes the scalar exact. */
  def statsState(transactions: DataFrame, payments: DataFrame,
      exchanges: DataFrame, accountsCreated: DataFrame,
      ledgers: DataFrame, unit: String = "day"): DataFrame = {
    def bucket(c: org.apache.spark.sql.Column) =
      if (unit == "hour") hourSec(c) else daySec(c)
    val nullL = lit(null).cast("long")

    def countRows(df: DataFrame, timeCol: String, family: String,
        name: org.apache.spark.sql.Column): DataFrame =
      df.groupBy(bucket(col(timeCol)).as("date"), name.as("name"))
        .agg(count(lit(1)).cast("double").as("num"))
        .select(col("date"), lit(family).as("family"), col("name"),
          lit("count").as("kind"), col("num"),
          lit(0L).as("den"), nullL.as("mn"), nullL.as("mx"))

    val typeRows = countRows(transactions, "executed_time", "type",
      col("tx_type"))
    val resultRows = countRows(transactions, "executed_time", "result",
      col("tx_result"))
    def metric(df: DataFrame, timeCol: String, name: String) =
      countRows(df, timeCol, "metric", lit(name))

    val perLedger = transactions
      .groupBy(bucket(col("executed_time")).as("date"))
      .agg(count(lit(1)).cast("double").as("num"),
        countDistinct(col("ledger_index")).as("den"))
      .select(col("date"), lit("metric").as("family"),
        lit("tx_per_ledger").as("name"), lit("ratio").as("kind"),
        col("num"), col("den"), nullL.as("mn"), nullL.as("mx"))

    val interval = ledgers
      .groupBy(bucket(col("close_time")).as("date"))
      .agg(count(lit(1)).as("den"),
        min(col("close_time")).cast("long").as("mn"),
        max(col("close_time")).cast("long").as("mx"))
      .select(col("date"), lit("metric").as("family"),
        lit("ledger_interval").as("name"), lit("interval").as("kind"),
        lit(0d).as("num"), col("den"), col("mn"), col("mx"))

    Seq(typeRows, resultRows,
      metric(transactions, "executed_time", "transaction_count"),
      metric(payments, "time", "payments_count"),
      metric(exchanges, "time", "exchanges_count"),
      metric(accountsCreated, "time", "accounts_created"),
      metric(ledgers, "close_time", "ledger_count"),
      perLedger, interval)
      .reduce(_ unionByName _)
  }

  def reduceStatsState(st: DataFrame): DataFrame =
    st.groupBy(col("date"), col("family"), col("name"), col("kind"))
      .agg(sum(col("num")).as("num"),
        sum(col("den")).cast("long").as("den"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  /** Derives exactly [[stats]]' long-format output: each ratio is one
    * double division of exactly-merged integers, the same expression
    * the batch job evaluates. */
  def publishStats(st: DataFrame): DataFrame =
    st.select(col("date"), col("family"), col("name"),
      when(col("kind") === "count", col("num"))
        .when(col("kind") === "ratio", col("num") / col("den"))
        .otherwise((col("mx") - col("mn")).cast("double") / col("den"))
        .as("value"))

  /** [[accountPayments]]' mergeable state: counts and exact decimal
    * totals merge by sum, highs by max, and the distinct-counterparty
    * SETS merge by array union (flatten + array_distinct) — the keyed
    * merge the reference's accountPayments daemon does in JS
    * (lib/aggregation/accountPayments.js: union of counterparty sets
    * on re-aggregation). */
  def accountPaymentsState(payments: DataFrame): DataFrame = {
    val amtRaw = col("delivered_amount")
    val sent = payments.select(
      col("source").as("account"), col("destination").as("counterparty"),
      lit("sent").as("direction"), amtRaw.as("amount"), col("time"))
    val received = payments.select(
      col("destination").as("account"), col("source").as("counterparty"),
      lit("received").as("direction"), amtRaw.as("amount"), col("time"))
    sent.unionByName(received)
      .groupBy(col("account"), daySec(col("time")).as("date"))
      .agg(
        sum(when(col("direction") === "sent", 1).otherwise(0)).cast("long")
          .as("payments_sent"),
        sum(when(col("direction") === "received", 1).otherwise(0)).cast("long")
          .as("payments_received"),
        collect_set(when(col("direction") === "sent", col("counterparty")))
          .as("sent_cps"),
        collect_set(when(col("direction") === "received", col("counterparty")))
          .as("received_cps"),
        sum(when(col("direction") === "sent", col("amount")).otherwise(lit("0"))
          .cast(Dec)).cast(Dec).as("sent_dec"),
        sum(when(col("direction") === "received", col("amount")).otherwise(lit("0"))
          .cast(Dec)).cast(Dec).as("received_dec"),
        max(when(col("direction") === "sent", col("amount").cast("double")))
          .as("high_value_sent"),
        max(when(col("direction") === "received", col("amount").cast("double")))
          .as("high_value_received"))
  }

  def reduceAccountPaymentsState(st: DataFrame): DataFrame =
    st.groupBy(col("account"), col("date"))
      .agg(
        sum(col("payments_sent")).cast("long").as("payments_sent"),
        sum(col("payments_received")).cast("long").as("payments_received"),
        array_distinct(flatten(collect_list(col("sent_cps"))))
          .as("sent_cps"),
        array_distinct(flatten(collect_list(col("received_cps"))))
          .as("received_cps"),
        sum(col("sent_dec")).cast(Dec).as("sent_dec"),
        sum(col("received_dec")).cast(Dec).as("received_dec"),
        max(col("high_value_sent")).as("high_value_sent"),
        max(col("high_value_received")).as("high_value_received"))

  /** Derives [[accountPayments]]' output with the counterparty sets in
    * SORTED order (collect_set order is nondeterministic in both the
    * batch and the merged form; the sorted rendering is the canonical
    * one — compare the batch side through the same sort). */
  def publishAccountPayments(st: DataFrame): DataFrame =
    st.select(col("account"), col("date"),
        col("payments_sent"), col("payments_received"),
        sort_array(col("sent_cps")).as("sent_counterparties"),
        sort_array(col("received_cps")).as("received_counterparties"),
        col("sent_dec").cast("double").as("total_value_sent"),
        col("received_dec").cast("double").as("total_value_received"),
        col("high_value_sent"), col("high_value_received"))
      .withColumn("total_value",
        col("total_value_sent") + col("total_value_received"))
}

package graft.xrpl.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** OHLC candle aggregation cascade — the Spark form of the reference's
  * exchange aggregation daemon (lib/aggregation/exchanges.js).
  *
  * Semantics (exchanges.js:515-616):
  *  - the composite sort key lpad(ledger,12)|lpad(tx,5)|lpad(node,5)
  *    orders trades within a bucket; open/close follow min/max of it;
  *  - high/low are min/max rate (double, like the JS floats);
  *  - buy_volume counts base only when buyer === taker;
  *  - vwap = Σcounter / Σbase;
  *  - dust filter at the finest level only: XRP legs ≤ 0.0005 dropped
  *    (exchanges.js:523-532);
  *  - coarser intervals re-reduce child candles via sort_open /
  *    sort_close (exchanges.js:282-359) — the merge is associative, so
  *    the whole cascade is map-side-combinable and shuffles only
  *    (pair, bucket) keys.
  *
  * Scale: groupBy keys are (pair, bucket) — high cardinality and
  * uniform; partial aggregation keeps every shuffle one of (pair,
  * bucket) partial rows. The minute candles are not persisted, so each
  * coarser interval's job re-scans the raw trades and re-reduces them
  * to minute candles before its own rollup: materializing the 13
  * intervals of [[cascade]] (the reference's cascade,
  * exchanges.js:12-25) runs 13 jobs and 25 shuffles (one for 1minute,
  * two for each of the 12 rollups). `XrplStore.writeCandleStore` runs
  * the 13 jobs at once.
  */
object Candles {
  private val Dec = DecimalType(38, 18)

  /** interval name → (multiple, unit, seconds-per-unit where fixed). */
  val intervals: Seq[(String, Int, String)] = Seq(
    ("1minute", 1, "minute"), ("5minute", 5, "minute"),
    ("15minute", 15, "minute"), ("30minute", 30, "minute"),
    ("1hour", 1, "hour"), ("2hour", 2, "hour"), ("4hour", 4, "hour"),
    ("1day", 1, "day"), ("3day", 3, "day"), ("7day", 7, "day"),
    ("1month", 1, "month"), ("3month", 3, "month"), ("1year", 1, "year"))

  val pairCols: Seq[String] =
    Seq("base_currency", "base_issuer", "counter_currency", "counter_issuer")

  /** Bucket-start alignment as pure Column algebra (no UDF — stays in
    * codegen). Mirrors getAlignedTime (lib/utils.js:66-130): second /
    * minute / hour multiples are modular on the epoch; day multiples
    * are anchored at 2013-01-01; 7 days = ISO week (Monday); month
    * multiples are modular on the 0-based month index.
    */
  def alignExpr(timeSec: Column, unit: String, multiple: Int): Column = {
    val anchor = lit(1356998400L) // 2013-01-01T00:00:00Z (utils.js:105)
    unit match {
      case "minute" =>
        val u = 60L * multiple
        (timeSec.cast("long") / u).cast("long") * u
      case "hour" =>
        val u = 3600L * multiple
        (timeSec.cast("long") / u).cast("long") * u
      case "day" if multiple == 1 =>
        (timeSec.cast("long") / 86400L).cast("long") * 86400L
      case "day" if multiple == 7 =>
        // ISO week start (Monday): 1970-01-01 was a Thursday (+3 days)
        ((timeSec.cast("long") + 3L * 86400L) / (7L * 86400L)).cast("long") *
          (7L * 86400L) - 3L * 86400L
      case "day" =>
        val dayStart = (timeSec.cast("long") / 86400L).cast("long")
        val anchorDay = lit(1356998400L / 86400L)
        val diff = dayStart - anchorDay
        val aligned = dayStart - pmod(diff, lit(multiple.toLong))
        aligned * 86400L
      case "month" =>
        val ts = timestamp_seconds(timeSec.cast("long"))
        val month0 = (year(ts) - 1970) * 12 + (month(ts) - 1)
        val alignedM = month0 - pmod(month0, lit(multiple))
        unix_timestamp(
          make_date(lit(1970) + (alignedM / 12).cast("int"),
            pmod(alignedM, lit(12)).cast("int") + 1, lit(1)).cast("timestamp"))
      case "year" =>
        val ts = timestamp_seconds(timeSec.cast("long"))
        val alignedY = year(ts) - pmod(year(ts) - 1970, lit(multiple))
        unix_timestamp(make_date(alignedY, lit(1), lit(1)).cast("timestamp"))
    }
  }

  /** The composite trade sort key (exchanges.js:592-596). */
  private val sortKey: Column =
    concat_ws("|", lpad(col("ledger_index").cast("string"), 12, "0"),
      lpad(col("tx_index").cast("string"), 5, "0"),
      lpad(col("node_index").cast("string"), 5, "0"))

  /** Finest-interval candles straight from exchange rows. Input: the
    * Exchange dataset (string amounts); output columns: pair, start,
    * open/high/low/close, open_time/close_time, sort_open/sort_close,
    * base_volume/counter_volume/buy_volume, count, vwap.
    */
  def fromExchanges(ex: DataFrame, unit: String = "minute", multiple: Int = 1,
      dustFilter: Boolean = true): DataFrame = {
    val typed = ex.select(col("*"),
      col("rate").cast("double").as("rate_d"),
      col("base_amount").cast("double").as("base_d"),
      col("counter_amount").cast("double").as("counter_d"),
      sortKey.as("sk"),
      alignExpr(col("time"), unit, multiple).as("start"))
    val filtered =
      if (dustFilter)
        typed.filter(
          !(col("base_currency") === "XRP" && col("base_d") <= 0.0005) &&
            !(col("counter_currency") === "XRP" && col("counter_d") <= 0.0005))
      else typed

    filtered
      .groupBy(col("start") +: pairCols.map(col): _*)
      .agg(
        min_by(col("rate_d"), col("sk")).as("open"),
        max_by(col("rate_d"), col("sk")).as("close"),
        max(col("rate_d")).as("high"),
        min(col("rate_d")).as("low"),
        min_by(col("time"), col("sk")).as("open_time"),
        max_by(col("time"), col("sk")).as("close_time"),
        min(col("sk")).as("sort_open"),
        max(col("sk")).as("sort_close"),
        // volumes sum the raw decimal strings — exact, order-independent
        // and engine-identical (a double sum would wobble in the low
        // bits per partitioning)
        sum(col("base_amount").cast(Dec)).cast("double").as("base_volume"),
        sum(col("counter_amount").cast(Dec)).cast("double").as("counter_volume"),
        sum(when(col("buyer") === col("taker"), col("base_amount"))
          .otherwise(lit("0")).cast(Dec)).cast("double").as("buy_volume"),
        count(lit(1)).as("count"))
      .withColumn("vwap", col("counter_volume") / col("base_volume"))
  }

  /** Re-reduce finer candles into a coarser interval — the cascade step
    * (exchanges.js:282-359). Child open/close are carried by their
    * sort keys, so merging stays exact and associative.
    */
  def rollup(candles: DataFrame, unit: String, multiple: Int): DataFrame =
    candles
      .groupBy(alignExpr(col("start"), unit, multiple).as("start") +: pairCols.map(col): _*)
      .agg(
        min_by(col("open"), col("sort_open")).as("open"),
        max_by(col("close"), col("sort_close")).as("close"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        min_by(col("open_time"), col("sort_open")).as("open_time"),
        max_by(col("close_time"), col("sort_close")).as("close_time"),
        min(col("sort_open")).as("sort_open"),
        max(col("sort_close")).as("sort_close"),
        // decimal re-sums: retry/partitioning-independent totals (the
        // child volumes are short decimal-exact doubles, so the
        // double→decimal cast is lossless here)
        sum(col("base_volume").cast(Dec)).cast("double").as("base_volume"),
        sum(col("counter_volume").cast(Dec)).cast("double").as("counter_volume"),
        sum(col("buy_volume").cast(Dec)).cast("double").as("buy_volume"),
        sum(col("count")).as("count"))
      .withColumn("vwap", col("counter_volume") / col("base_volume"))

  /** Build the full interval cascade: 1-minute from raw trades, then
    * every coarser interval re-reduced from the minute candles.
    * Returns interval-name → candle DataFrame.
    */
  def cascade(ex: DataFrame): Map[String, DataFrame] = {
    val minute = fromExchanges(ex)
    intervals.map { case (name, multiple, unit) =>
      name -> (if (name == "1minute") minute else rollup(minute, unit, multiple))
    }.toMap
  }
}

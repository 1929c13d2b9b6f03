package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Verify
import graft.streaming.DaemonStream
import graft.xrpl.{LedgerParser, XrplTables}
import graft.xrpl.agg.{Aggregations, Candles}
import graft.xrpl.api.{LiveState, Queries}
import graft.xrpl.api.Queries.{Pair, RangeOpts}
import graft.xrpl.store.XrplStore

/** Where a request reads from: the replica store and tables, or the
  * pristine fixture tables its copy-0 twin is checked against. */
final case class Source(tables: XrplTables, exchanges: () => DataFrame,
    candles: String => DataFrame, balanceChanges: () => DataFrame, offers: () => DataFrame)

/** api_mix: ingest, then serve.
  *
  * Set-up carries R replica copies of the fixture ledgers through the
  * write side: the ledger parse, the parquet store, the candle cascade
  * store and one micro-batch of the live-state and incremental stats
  * daemons. The timed phase is a closed loop of one client, which
  * sends its next Data-API request only after the previous reply's
  * rows are collected. Requests (perfbench/gen.py) cover exchanges,
  * account exchanges, candles (computed and stored), account
  * transactions, payments, balance changes, ledger and tx point
  * lookups, and balances and orders.
  */
final class ApiMix(spark: SparkSession, tr: Trace, res: Result, inDir: String,
    workDir: String, root: String) extends Workload {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val manifest = mapper.readTree(new java.io.File(s"$inDir/manifest.json"))
  private val warmup = manifest.get("warmup").asInt
  private val requests: IndexedSeq[JsonNode] = scala.io.Source
    .fromFile(s"$inDir/requests.jsonl", "UTF-8").getLines().map(l => mapper.readTree(l)).toIndexedSeq
  /** requests per block; each block holds every endpoint once */
  private val block = manifest.get("block").asInt
  private val issued = warmup + manifest.get("timed_blocks").asInt * block
  /** The rows served to the first copy-0 request of each windowed
    * endpoint, by endpoint: (request index, rows, schema). */
  private val served = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Array[Row], StructType)]

  private val store = s"$workDir/store"
  private val daemonDir = s"$workDir/daemon"
  private var replica: Source = _

  /** Ingest the replicas, then warm up with the first requests. */
  def setup(): Double = {
    val t0 = Trace.now()
    def step[A](name: String)(body: => A): (A, Double) = {
      val (a, ms) = Trace.timed(body)
      res.sample(s"$name.ms", ms)
      (a, ms)
    }
    val (t, parseMs) = step("parse") {
      val t = new XrplTables(spark,
        LedgerParser.parse(spark, spark.read.text(s"$inDir/replicas").as[String]))
      t.cached.count()
      t
    }
    val (_, writeMs) = step("store.write")(XrplStore.writeAll(t, store))
    val (_, candleMs) = step("candles")(XrplStore.writeCandleStore(t.exchanges.toDF(), store))
    val (daemons, daemonMs) = step("daemon") {
      // every replica file arrives in one micro-batch
      val stream = spark.readStream.schema("value STRING").text(s"$inDir/replicas")
      val qs = Seq(
        DaemonStream.liveStateDaemon(spark, stream, daemonDir,
          checkpoint = Some(s"$workDir/ckpt/live")),
        DaemonStream.statsDaemonIncremental(spark, stream, daemonDir,
          checkpoint = Some(s"$workDir/ckpt/stats")))
      qs.foreach(_.processAllAvailable())
      qs.foreach(_.stop())
      qs
    }
    val etlS = Trace.secs(t0)
    val ledgers = manifest.get("copies").elements().asScala.map(_.get("ledgers").asLong).sum
    res.set("etl.ledgers_per_s", ledgers / ((parseMs + writeMs + candleMs + daemonMs) / 1000))
    res.set("parse.ledgers", ledgers.toDouble)
    daemons.zip(Seq("live", "stats")).foreach { case (q, n) =>
      res.set(s"daemon.$n.batch_ms", q.lastProgress.durationMs.get("triggerExecution").doubleValue)
      res.set(s"daemon.$n.add_batch_ms", q.lastProgress.durationMs.get("addBatch").doubleValue)
    }
    replica = Source(t,
      () => XrplStore.read(spark, store, "exchanges"),
      i => XrplStore.readCandles(spark, store, i),
      () => XrplStore.read(spark, store, "balance_changes"),
      () => XrplStore.read(spark, store, "offers"))
    val (_, warmMs) = Trace.timed((0 until warmup).foreach(i => request(i, timed = false)))
    res.set("setup.etl_s", etlS)
    res.set("setup.warmup_s", warmMs / 1000)
    etlS + warmMs / 1000
  }

  private def str(r: JsonNode, k: String): String = r.get(k).asText
  private def pair(n: JsonNode): Pair =
    Pair(n.get("currency").asText, Option(n.get("issuer")).filterNot(_.isNull).map(_.asText))
  private def opts(r: JsonNode, limit: Int): RangeOpts =
    RangeOpts(start = Some(r.get("start").asLong), end = Some(r.get("end").asLong), limit = limit)

  /** Stored candles of one pair (either orientation) in the window. */
  private def storedCandles(c: DataFrame, base: Pair, counter: Pair, o: RangeOpts): DataFrame = {
    def leg(cur: String, iss: String, p: Pair) =
      col(cur) === p.currency && p.issuer.map(col(iss) === _).getOrElse(col(iss).isNull)
    def side(b: Pair, k: Pair) =
      leg("base_currency", "base_issuer", b) && leg("counter_currency", "counter_issuer", k)
    c.filter((side(base, counter) || side(counter, base)) &&
        col("start").between(o.start.get, o.end.get))
      .orderBy(col("start"), col("base_currency"), col("base_issuer"))
      .limit(o.limit)
  }

  private[perfbench] def build(r: JsonNode, s: Source): DataFrame = str(r, "ep") match {
    case "exchanges" =>
      Queries.getExchanges(s.exchanges(), pair(r.get("base")), pair(r.get("counter")), opts(r, 200))
    case "account_exchanges" =>
      Queries.getAccountExchanges(s.exchanges(), str(r, "account"), opts = opts(r, 200))
    case "candles" =>
      Queries.getExchangeCandles(s.exchanges(), pair(r.get("base")), pair(r.get("counter")),
        str(r, "interval"), opts(r, 400))
    case "candle_store" =>
      storedCandles(s.candles(str(r, "interval")), pair(r.get("base")), pair(r.get("counter")),
        opts(r, 400))
    case "account_tx" => Queries.getAccountTransactions(s.tables, str(r, "account"), opts(r, 20))
    case "account_payments" => Queries.getAccountPayments(s.tables, str(r, "account"), opts(r, 200))
    case "balance_changes" =>
      Queries.getBalanceChanges(s.tables, str(r, "account"), opts = opts(r, 200))
    case "ledger" => Queries.getLedgerByIndex(s.tables, r.get("index").asLong)
    case "tx" => Queries.getTransactionByHash(s.tables, str(r, "hash"))
    case "payments" => Queries.getPayments(s.tables, Some(pair(r.get("currency"))), opts(r, 200))
    case "balances" => LiveState.getBalances(s.balanceChanges(), str(r, "account"))
    case "orders" => LiveState.getOrders(s.offers(), str(r, "account"))
    case other => sys.error(s"unknown endpoint $other")
  }

  private val storeBacked =
    Set("exchanges", "account_exchanges", "candles", "candle_store", "balances", "orders")

  /** Issue request i and collect its rows; timed requests feed the result. */
  private def request(i: Int, timed: Boolean): Unit = {
    val r = requests(i)
    val ep = str(r, "ep")
    val traced = tr.on && (i / block) % 2 == 0
    try {
      val t0 = Trace.now()
      val df = build(r, replica)
      val buildMs = Trace.ms(t0)
      val planMs = if (traced) Trace.timed(df.queryExecution.executedPlan)._2 else 0.0
      val rows = df.collect()
      val ms = Trace.ms(t0)
      if (r.has("copy") && r.get("copy").asInt == 0 && !served.contains(ep))
        served(ep) = (i, rows, df.schema)
      if (timed) {
        res.attempted += 1
        res.items += 1
        res.op(ms, traced)
        res.sample(s"api.$ep.ms", ms)
        if (rows.isEmpty) res.add("api.empty", 1)
        if (traced) {
          res.sample("api.build_ms", buildMs)
          res.sample("api.plan_ms", planMs)
          res.sample("api.exec_ms", ms - buildMs - planMs)
          if (storeBacked(ep)) {
            val (files, bytes) = Trace.scanned(df)
            res.add("store.read_files", files.toDouble)
            res.add("store.read_bytes", bytes.toDouble)
            res.add("store.read_requests", 1)
          }
        }
      }
    } catch {
      case e: Exception =>
        if (timed) res.attempted += 1
        res.fail(s"request $i ($ep): ${e.getMessage}")
    }
  }

  /** The closed loop of one client over a fixed number of whole
    * blocks, sized to take about the run's seconds, so every run sends
    * each endpoint equally often. */
  def run(): Unit = (warmup until issued).foreach(request(_, timed = true))

  /** Untimed checks. The rows served to the first copy-0 request of
    * every windowed endpoint must be digest-equal to the same request
    * on the pristine fixture tables. Every stored table must
    * hold R times the fixture's rows. The stats daemon's published
    * table must equal the batch aggregation over the same ledgers. */
  def check(): Unit = {
    layers()
    val pristine = XrplTables.fromFiles(spark, s"$root/src/main/resources/ledgers")
    lazy val cascade = Candles.cascade(pristine.exchanges.toDF())
    val src = Source(pristine, () => pristine.exchanges.toDF(), i => cascade(i),
      () => pristine.balanceChanges.toDF(), () => pristine.offers.toDF())
    val windowed = requests.take(issued).filter(_.has("copy")).map(str(_, "ep")).distinct
    windowed.filterNot(served.contains).foreach(ep => res.fail(s"$ep: no copy-0 request served"))
    def digest(df: DataFrame) = Verify.digestOf(df.drop("date"))
    served.values.foreach { case (i, rows, schema) =>
      val r = requests(i)
      val ok = try digest(spark.createDataFrame(rows.toSeq.asJava, schema)) == digest(build(r, src))
      catch { case e: Exception => System.err.println(e.getMessage); false }
      if (!ok) res.fail(s"request $i (${str(r, "ep")}): result differs from the pristine fixture tables")
    }
    res.set("api.checked", served.size.toDouble)

    val copies = manifest.get("copies").size
    val fixture = counts(pristine)
    val stored = storedCounts()
    res.set("parse.txs", stored("transactions").toDouble)
    XrplStore.layout.keys.toSeq.sorted.foreach { n =>
      val got = stored.getOrElse(n, 0L)
      if (got != copies * fixture(n))
        res.fail(s"store table $n: $got rows, expected $copies x ${fixture(n)}")
    }
    val t = replica.tables
    val stats = Aggregations.stats(t.transactions.toDF(), t.payments.toDF(),
      t.exchanges.toDF(), t.accountsCreated.toDF(), t.ledgers.toDF(), "day")
    if (Verify.digestOf(spark.read.parquet(s"$daemonDir/store/stats")) != Verify.digestOf(stats))
      res.fail("daemon stats differ from Aggregations.stats over the same ledgers")
  }

  /** Row count of every derived table, in one job over the bundle. */
  private def counts(t: XrplTables): Map[String, Long] = {
    val fields = Seq("ledgers" -> "", "transactions" -> "transactions",
      "exchanges" -> "exchanges", "offers" -> "offers",
      "balance_changes" -> "balanceChanges", "payments" -> "payments",
      "accounts_created" -> "accountsCreated", "affected_accounts" -> "affectedAccounts",
      "memos" -> "memos", "escrows" -> "escrows", "paychan" -> "paychans",
      "fee_summaries" -> "")
    val row = t.cached.toDF().select(fields.map { case (n, f) =>
      (if (f.isEmpty) count(lit(1)) else sum(size(col(f)))).as(n)
    }: _*).head()
    fields.map(_._1).zipWithIndex.map { case (n, i) => n -> row.getLong(i) }.toMap
  }

  /** Row count of every stored table, read back in one job. */
  private def storedCounts(): Map[String, Long] =
    XrplStore.layout.keys.toSeq.sorted
      .map(n => XrplStore.read(spark, store, n).select(lit(n).as("t")))
      .reduce(_ unionByName _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** What the ingest wrote, and, traced, the daemons' state. */
  private def layers(): Unit = {
    val (files, bytes) = Trace.dirSize(store)
    res.set("store.files_written", files.toDouble)
    res.set("store.bytes_written", bytes.toDouble)
    res.set("store.input_bytes", manifest.get("input_bytes").asDouble)
    if (tr.on) Seq("live_balances", "open_offers", "stats").foreach { s =>
      val dir = s"$daemonDir/state/$s"
      val state = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).maxBy(_.stripPrefix("batch=").toLong)
      res.add("daemon.state_rows", spark.read.parquet(s"$dir/$state").count().toDouble)
      res.add("daemon.state_bytes", Trace.dirSize(s"$dir/$state")._2.toDouble)
    }
  }
}

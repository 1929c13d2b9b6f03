package graft.xrpl

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.ArrayType
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import Json._
import Scalars._

/** Everything derived from one ledger in a single parse pass — the
  * Spark analogue of Parser.parseLedger
  * (lib/ledgerParser/index.js:20-106): parse once, fan out to all
  * derived tables. At scale this is one wide flatMap over the raw
  * ledger stream; each table is then a cheap projection of the cached
  * bundle instead of 12 re-parses.
  */
final case class ParsedLedger(
    ledger: LedgerRow,
    transactions: Seq[TransactionRow],
    exchanges: Seq[Exchange],
    offers: Seq[OfferEvent],
    balanceChanges: Seq[BalanceChange],
    payments: Seq[Payment],
    accountsCreated: Seq[AccountCreated],
    affectedAccounts: Seq[AffectedAccount],
    memos: Seq[MemoRow],
    escrows: Seq[EscrowRow],
    paychans: Seq[PayChanRow],
    feeSummary: FeeSummary)

object LedgerParser {

  /** Pure single-ledger parse (JSON text → all derived rows). */
  def parseLedgerJson(json: String): ParsedLedger = parseLedger(Json.parse(json))

  def parseLedger(root: JsonNode): ParsedLedger = {
    val ledgerHash = optText(root, "ledger_hash").orElse(optText(root, "hash")).getOrElse("")
    val ledgerIndex = optText(root, "ledger_index").orElse(optText(root, "seqNum"))
      .map(_.toLong).getOrElse(0L)
    val closeTime = rippleToUnix(optLong(root, "close_time").getOrElse(0L))

    val txNodes: Seq[JsonNode] =
      opt(root, "transactions").map(_.elements().asScala.toSeq).getOrElse(Seq.empty)

    val feeSummary = summarizeFees(ledgerIndex, closeTime, txNodes)

    val ctxs: Seq[TxContext] = txNodes.map { tx =>
      val meta = tx.get("metaData")
      TxContext(
        tx = tx, meta = meta,
        hash = optText(tx, "hash").getOrElse(""),
        ledgerHash = ledgerHash,
        ledgerIndex = ledgerIndex,
        executedTime = closeTime,
        txIndex = optLong(meta, "TransactionIndex").getOrElse(0L).toInt,
        txType = optText(tx, "TransactionType").getOrElse(""),
        txResult = optText(meta, "TransactionResult").getOrElse(""),
        account = optText(tx, "Account").getOrElse(""),
        client = TxParsers.fromClient(tx))
    }

    val transactions = ctxs.map { c =>
      TransactionRow(
        tx_hash = c.hash, ledger_hash = ledgerHash, ledger_index = ledgerIndex,
        tx_index = c.txIndex, tx_type = c.txType, tx_result = c.txResult,
        account = c.account, sequence = optLong(c.tx, "Sequence"),
        executed_time = closeTime,
        fee = optText(c.tx, "Fee").map(dropsToXrp),
        client = c.client,
        tx_json = withoutMeta(c.tx),
        meta_json = if (c.meta == null) "{}" else c.meta.toString)
    }

    val ledgerRow = LedgerRow(
      ledger_hash = ledgerHash,
      ledger_index = ledgerIndex,
      parent_hash = optText(root, "parent_hash").getOrElse(""),
      total_coins = optText(root, "total_coins").orElse(optText(root, "totalCoins")),
      close_time = closeTime,
      close_time_human = optText(root, "close_time_human"),
      close_time_resolution = optLong(root, "close_time_resolution"),
      accounts_hash = optText(root, "account_hash"),
      transactions_hash = optText(root, "transaction_hash"),
      tx_count = ctxs.size,
      tx_hashes = ctxs.map(_.hash))

    ParsedLedger(
      ledger = ledgerRow,
      transactions = transactions,
      exchanges = ctxs.flatMap(TxParsers.exchanges),
      offers = ctxs.flatMap(TxParsers.offers),
      balanceChanges = ctxs.flatMap(TxParsers.balanceChanges),
      payments = ctxs.flatMap(TxParsers.payment(_).toSeq),
      accountsCreated = ctxs.flatMap(TxParsers.accountsCreated),
      affectedAccounts = ctxs.flatMap(TxParsers.affectedAccounts),
      memos = ctxs.flatMap(TxParsers.memos),
      escrows = ctxs.flatMap(TxParsers.escrow(_).toSeq),
      paychans = ctxs.flatMap(TxParsers.paychan(_).toSeq),
      feeSummary = feeSummary)
  }

  /** Per-ledger fee summary — lib/ledgerParser/fees.js:3-33. Drops are
    * summed exactly as longs (JS doubles are exact for these
    * magnitudes); avg keeps the reference's 6-significant-digit
    * presentation rounding.
    */
  def summarizeFees(ledgerIndex: Long, closeTime: Long, txs: Seq[JsonNode]): FeeSummary = {
    var total = 0L
    var maxFee = 0L
    var minFee = Long.MaxValue
    txs.foreach { tx =>
      val fee = optText(tx, "Fee").map(_.toLong).getOrElse(0L)
      total += fee
      if (fee > maxFee) maxFee = fee
      if (fee < minFee) minFee = fee
    }
    if (txs.isEmpty) {
      FeeSummary(ledgerIndex, isoFormat(closeTime), 0d, 0d, 0d, 0d, 0)
    } else {
      val totalXrp = total / 1e6
      FeeSummary(
        ledger_index = ledgerIndex,
        date = isoFormat(closeTime),
        total = totalXrp,
        avg = toPrecision(totalXrp / txs.size, 6),
        max = maxFee / 1e6,
        min = minFee / 1e6,
        tx_count = txs.size)
    }
  }

  /** Distributed parse: one wide flatMap; cache the bundle and project
    * the individual tables from it (ingestion shape of SURVEY.md §3.3).
    */
  def parse(spark: SparkSession, rawLedgers: Dataset[String]): Dataset[ParsedLedger] = {
    import spark.implicits._
    rawLedgers.map(parseLedgerJson _)
  }
}

/** Projections of the parsed bundle into the individual datasets —
  * the 10 derived HBase tables of the reference (SURVEY.md §1.2).
  *
  * Each table is a column projection of the cached bundle: `explode`
  * of its array field (or the struct field itself), then the element's
  * fields. The in-memory scan then reads only that one column, where
  * a typed `flatMap(_.x)` would deserialize every whole
  * [[ParsedLedger]] (all 12 sequences plus the tx/meta JSON) on each
  * query, because the cache sits between the parse and the projection.
  * The fields keep their encoder nullability: `explode` marks every
  * field of an array element nullable, so the non-nullable ones are
  * re-asserted with `KnownNotNull`, and the schema stays
  * `Encoders.product[T].schema`.
  *
  * The streaming daemons keep `b.flatMap(_.x)`: there the parse `map`
  * and the `flatMap` are adjacent, and EliminateSerialization already
  * removes the round trip between them.
  */
final class XrplTables(spark: SparkSession, bundles: Dataset[ParsedLedger]) {

  lazy val cached: Dataset[ParsedLedger] = bundles.cache()

  /** The rows of bundle field `field`: one per element of an array
    * field, else the struct field itself. */
  private def project[T <: Product : TypeTag](field: String): Dataset[T] = {
    val enc = Encoders.product[T]
    val rows = cached.schema(field).dataType match {
      case _: ArrayType => explode(col(field))
      case _ => col(field)
    }
    cached.select(rows.as("r")).select(enc.schema.fields.toSeq.map { f =>
      val c = col("r").getField(f.name)
      (if (f.nullable) c else column(KnownNotNull(expression(c)))).as(f.name)
    }: _*).as(enc)
  }

  def ledgers: Dataset[LedgerRow] = project[LedgerRow]("ledger")
  def transactions: Dataset[TransactionRow] = project[TransactionRow]("transactions")
  def exchanges: Dataset[Exchange] = project[Exchange]("exchanges")
  def offers: Dataset[OfferEvent] = project[OfferEvent]("offers")
  def balanceChanges: Dataset[BalanceChange] = project[BalanceChange]("balanceChanges")
  def payments: Dataset[Payment] = project[Payment]("payments")
  def accountsCreated: Dataset[AccountCreated] = project[AccountCreated]("accountsCreated")
  def affectedAccounts: Dataset[AffectedAccount] = project[AffectedAccount]("affectedAccounts")
  def memos: Dataset[MemoRow] = project[MemoRow]("memos")
  def escrows: Dataset[EscrowRow] = project[EscrowRow]("escrows")
  def paychans: Dataset[PayChanRow] = project[PayChanRow]("paychans")
  def feeSummaries: Dataset[FeeSummary] = project[FeeSummary]("feeSummary")
}

object XrplTables {

  /** The bundled reference mock-ledger fixtures. `sbt run` packages
    * resources into a jar (not a readable directory for
    * spark.read.text), so prefer the source tree of the checkout the
    * JVM runs in (its working directory) when present.
    */
  def fixturesPath: String =
    Some(new java.io.File("src/main/resources/ledgers").getAbsoluteFile)
      .filter(_.isDirectory).map(_.getPath)
      .orElse(Option(getClass.getResource("/ledgers")).map(_.getPath))
      .getOrElse(sys.error("ledger fixtures not found"))

  /** Read ledger JSON files (one ledger per file or per line) and parse. */
  def fromFiles(spark: SparkSession, path: String): XrplTables = {
    import spark.implicits._
    // wholetext: each mock fixture is one pretty-printed ledger per file
    val raw = spark.read.option("wholetext", "true").text(path).as[String]
    new XrplTables(spark, LedgerParser.parse(spark, raw))
  }
}

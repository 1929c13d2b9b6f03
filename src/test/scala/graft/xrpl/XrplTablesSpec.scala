package graft.xrpl

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.DeserializeToObject
import org.scalatest.funsuite.AnyFunSuite

import graft.Verify

/** The 12 derived tables are column projections of the cached bundle:
  * each must hold the rows of the typed `map`/`flatMap` over the
  * bundle, with the encoder's schema (nullability included), and plan
  * no deserialization of the whole bundle.
  */
class XrplTablesSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  lazy val tables: XrplTables = XrplTables.fromFiles(spark, XrplTables.fixturesPath)

  private def projection[T <: Product : TypeTag](name: String)(
      columnar: XrplTables => Dataset[T], typed: Dataset[ParsedLedger] => Dataset[T]): Unit =
    test(s"$name: column projection of the bundle equals the typed reference") {
      val got = columnar(tables)
      val plan = got.queryExecution.optimizedPlan
      assert(plan.collectFirst { case d: DeserializeToObject => d }.isEmpty, plan.treeString)
      assert(got.schema === Encoders.product[T].schema)
      assert(got.count() > 0)
      assert(Verify.digestOf(got.toDF()) === Verify.digestOf(typed(tables.cached).toDF()))
    }

  import spark.implicits._

  projection[LedgerRow]("ledgers")(_.ledgers, _.map(_.ledger))
  projection[TransactionRow]("transactions")(_.transactions, _.flatMap(_.transactions))
  projection[Exchange]("exchanges")(_.exchanges, _.flatMap(_.exchanges))
  projection[OfferEvent]("offers")(_.offers, _.flatMap(_.offers))
  projection[BalanceChange]("balanceChanges")(_.balanceChanges, _.flatMap(_.balanceChanges))
  projection[Payment]("payments")(_.payments, _.flatMap(_.payments))
  projection[AccountCreated]("accountsCreated")(_.accountsCreated, _.flatMap(_.accountsCreated))
  projection[AffectedAccount]("affectedAccounts")(_.affectedAccounts,
    _.flatMap(_.affectedAccounts))
  projection[MemoRow]("memos")(_.memos, _.flatMap(_.memos))
  projection[EscrowRow]("escrows")(_.escrows, _.flatMap(_.escrows))
  projection[PayChanRow]("paychans")(_.paychans, _.flatMap(_.paychans))
  projection[FeeSummary]("feeSummaries")(_.feeSummaries, _.map(_.feeSummary))
}

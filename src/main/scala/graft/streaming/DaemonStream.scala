package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.xrpl.ParsedLedger
import graft.xrpl.agg.Aggregations
import graft.xrpl.api.LiveState

/** Streaming forms of the reference's remaining incremental
  * aggregation daemons — payments (lib/aggregation/payments.js),
  * account payments (lib/aggregation/accountPayments.js), network
  * stats (lib/aggregation/stats.js) and fees (lib/aggregation/
  * fees.js) — plus the live-state frontier. [[CandleStream]] covers
  * the exchanges daemon (lib/aggregation/exchanges.js).
  *
  * One shape, the reference's: each daemon merges every new ledger
  * into its aggregate. A daemon keeps one or more state [[Chain]]s,
  * each a keyed state table of mergeable sufficient statistics
  * advanced per micro-batch through [[IncrementalDaemon.step]]
  * (state(N) = reduce(state(N−1) ∪ partial(N))), with the published
  * store derived from it — O(batch + |state|) per micro-batch, |state|
  * bounded by key cardinality. The reference's periodic full reload
  * (exchanges.js:484-496) is a repair, not a second shape: rebuilding
  * a store is the batch aggregation it must equal.
  *
  * Layout under `dir`, per chain: the state at `state/<name>/batch=N`
  * (committed with `_SUCCESS`, the current and previous batch kept)
  * and the published table at `store/<name>`, overwritten per batch.
  *
  * Exactness carries over: every sum rides the DECIMAL/limb
  * disciplines or exact counts, so the merged store is identical no
  * matter how arrivals were micro-batched. IncrementalDaemonSpec
  * proves each store value-identical to the batch aggregation across
  * multi-batch runs, restarts and replays.
  */
object DaemonStream {

  /** One state chain: `partial` turns a parsed micro-batch into state
    * rows, `reduce` merges any union of state tables, and `publish`
    * derives the store from the merged state. */
  private case class Chain(name: String,
      partial: Dataset[ParsedLedger] => DataFrame,
      reduce: DataFrame => DataFrame,
      publish: DataFrame => DataFrame)

  /** Parses `raw` and, per micro-batch, persists the parsed batch once,
    * advances each chain in order and overwrites its store. */
  private def run(spark: SparkSession, raw: DataFrame, dir: String,
      checkpoint: Option[String], chains: Chain*): StreamingQuery = {
    val w = CandleStream.parsedStream(spark, raw).writeStream
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch { (batch: Dataset[ParsedLedger], batchId: Long) =>
      val b = batch.persist()
      try chains.foreach { c =>
        val st = IncrementalDaemon.step(spark, s"$dir/state/${c.name}",
          batchId, c.partial(b))(c.reduce)
        c.publish(st).write.mode("overwrite").parquet(s"$dir/store/${c.name}")
      } finally { b.unpersist(); () }
    }.start()
  }

  /** A4: per-(currency, issuer, bucket) count, exact amount and
    * average. Chain `payment_volume`. */
  def paymentVolumeDaemonIncremental(spark: SparkSession, raw: DataFrame,
      dir: String, unit: String = "day",
      checkpoint: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    run(spark, raw, dir, checkpoint, Chain("payment_volume",
      b => Aggregations.paymentVolumeState(b.flatMap(_.payments).toDF(), unit),
      Aggregations.reducePaymentVolumeState, Aggregations.publishPaymentVolume))
  }

  /** A6: the long-format (date, family, name, value) network stats —
    * ratios merge as exact integer sufficient statistics, never as
    * averaged averages. Chain `stats`. */
  def statsDaemonIncremental(spark: SparkSession, raw: DataFrame,
      dir: String, unit: String = "day",
      checkpoint: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    run(spark, raw, dir, checkpoint, Chain("stats",
      b => Aggregations.statsState(b.flatMap(_.transactions).toDF(),
        b.flatMap(_.payments).toDF(), b.flatMap(_.exchanges).toDF(),
        b.flatMap(_.accountsCreated).toDF(), b.map(_.ledger).toDF(), unit),
      Aggregations.reduceStatsState, Aggregations.publishStats))
  }

  /** A7: per-ledger fee summaries rolled into hour/day rows with
    * limb-exact totals. Chain `fees`. */
  def feeDaemonIncremental(spark: SparkSession, raw: DataFrame,
      dir: String, unit: String = "hour",
      checkpoint: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    run(spark, raw, dir, checkpoint, Chain("fees",
      b => Aggregations.feeState(b.map(_.feeSummary).toDF(), unit),
      Aggregations.reduceFeeState, Aggregations.publishFees))
  }

  /** S10: the frontier balance and open-offer tables (argmax by
    * (ledger, tx, node) is associative, so the frontier advances per
    * micro-batch and a point lookup reads the store instead of
    * scanning history). Chains `live_balances`, then `open_offers`. */
  def liveStateDaemon(spark: SparkSession, raw: DataFrame, dir: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    run(spark, raw, dir, checkpoint,
      Chain("live_balances",
        b => LiveState.balancesState(b.flatMap(_.balanceChanges).toDF()),
        LiveState.reduceBalancesState, LiveState.publishBalances),
      Chain("open_offers",
        b => LiveState.offersState(b.flatMap(_.offers).toDF()),
        LiveState.reduceOffersState, LiveState.publishOpenOffers))
  }

  /** A5: per-(account, day) payment profile whose distinct-counterparty
    * sets merge by keyed array union. Chain `account_payments`. */
  def accountPaymentsDaemon(spark: SparkSession, raw: DataFrame,
      dir: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    run(spark, raw, dir, checkpoint, Chain("account_payments",
      b => Aggregations.accountPaymentsState(b.flatMap(_.payments).toDF()),
      Aggregations.reduceAccountPaymentsState,
      Aggregations.publishAccountPayments))
  }
}

package graft.xrpl.store

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DateType, StructField, StructType}

import graft.xrpl._
import graft.xrpl.agg.Candles

/** Storage layout (SURVEY.md §1.4 / §4): each derived dataset is
  * parquet partitioned by `date`, sorted within partitions by the
  * reference's rowkey columns. The rowkey-range scans of the reference
  * (lib/hbase/hbase-thrift/index.js:531-550) become partition pruning
  * (date =) + parquet min/max row-group skipping (sorted key columns)
  * — the two mechanisms that make a 100 TB time-range query read only
  * its slice.
  *
  * The `lu_*` lookup tables are NOT materialized: they are alternate
  * sort orders, which the sorted-within-partition layout plus
  * predicate pushdown covers (SURVEY.md §1.4).
  */
object XrplStore {

  /** One stored table: its time column (empty ⇒ the row's own `date`
    * string), its in-partition sort keys (≙ rowkey) and the schema it
    * reads back with.
    */
  final case class Table(timeCol: String, sortKeys: Seq[String], schema: StructType)

  /** The table of rows `T`. Its read schema is what [[write]] leaves on
    * disk: the encoder's fields minus `date`, then the `date` partition
    * column, every field nullable as a parquet read makes it.
    */
  private def table[T <: Product : TypeTag](timeCol: String, sortKeys: String*): Table = {
    val fields = Encoders.product[T].schema.fields.filterNot(_.name == "date")
    Table(timeCol, sortKeys, nullable(StructType(fields :+ StructField("date", DateType))))
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case other => other
  }

  /** table name → [[Table]]. */
  val layout: Map[String, Table] = Map(
    "ledgers" -> table[LedgerRow]("close_time", "ledger_index"),
    "transactions" -> table[TransactionRow]("executed_time", "ledger_index", "tx_index"),
    "exchanges" -> table[Exchange]("time", "base_currency", "base_issuer",
      "counter_currency", "counter_issuer", "time", "ledger_index",
      "tx_index", "node_index"),
    "offers" -> table[OfferEvent]("executed_time", "account", "executed_time",
      "ledger_index", "tx_index"),
    "balance_changes" -> table[BalanceChange]("time", "account", "time", "ledger_index",
      "tx_index", "node_index"),
    "payments" -> table[Payment]("time", "currency", "issuer", "time", "ledger_index",
      "tx_index"),
    "accounts_created" -> table[AccountCreated]("time", "time", "ledger_index", "tx_index"),
    "affected_accounts" -> table[AffectedAccount]("time", "account", "time", "ledger_index",
      "tx_index"),
    "memos" -> table[MemoRow]("executed_time", "account", "executed_time",
      "ledger_index", "tx_index", "memo_index"),
    "escrows" -> table[EscrowRow]("time", "account", "time", "ledger_index", "tx_index"),
    "paychan" -> table[PayChanRow]("time", "account", "time", "ledger_index", "tx_index"),
    "fee_summaries" -> table[FeeSummary]("", "ledger_index"))

  private def withDate(df: DataFrame, timeCol: String): DataFrame =
    if (timeCol.isEmpty) df.withColumn("date", to_date(col("date")))
    else df.withColumn("date", to_date(timestamp_seconds(col(timeCol))))

  def write(df: DataFrame, name: String, rootDir: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val Table(timeCol, sortKeys, _) = layout(name)
    // the sort MUST lead with the partition column: FileFormatWriter
    // requires its input ordered by the partition columns and inserts
    // its own (unstable) sort-by-date when the child ordering doesn't
    // start with them — silently destroying the rowkey clustering the
    // row-group stats depend on (caught by ZOrderLayoutSpec: both
    // layouts produced bit-identical files until date led the sort)
    withDate(df, timeCol)
      .repartition(col("date"))
      .sortWithinPartitions((col("date") +: sortKeys.map(col)): _*)
      .write.mode(mode)
      .partitionBy("date")
      .parquet(s"$rootDir/$name")
  }

  /** Entity dimension for the Z-ordered layout of the two-predicate-
    * family tables: an ORDER-PRESERVING two-character prefix of the
    * entity key (XRPL addresses all start with 'r', so the account
    * prefix skips it; currency codes differ from char 1). Order
    * preservation is what makes min/max row-group stats on the RAW
    * column stay tight under the interleaved sort — a hashed dimension
    * would cluster rows whose raw values are lexically scattered and
    * no pushed-down predicate could prune.
    */
  private val zorderEntity: Map[String, Column] = Map(
    "balance_changes" -> substring(col("account"), 2, 2),
    "exchanges" -> substring(
      concat(col("base_currency"), coalesce(col("base_issuer"), lit(""))),
      1, 2))

  /** Morton key over (entity-prefix rank, minute-of-day). The minute
    * dimension is modular per DAY, and the store partitions by date —
    * so within any one parquet partition it is strictly
    * order-preserving (no wrap), unlike a raw epoch-minute truncated
    * to 16 bits which wraps every ~45 days.
    */
  private def zKey(name: String, timeCol: String): Column = {
    val x = ascii(substring(zorderEntity(name), 1, 1)) * lit(128) +
      ascii(substring(zorderEntity(name), 2, 1))
    val y = expr(s"($timeCol % 86400) div 60")
    graft.functions.ZOrder.zValue(x.cast("long"), y.cast("long"))
  }

  /** Z-ordered layout variant for tables whose queries split between
    * two predicate families — by-entity (account / currency pair) and
    * by-time. The default layout sorts by the rowkey (entity first),
    * which gives the entity family tight row-group min/max stats and
    * the time family none: every entity's rows span the whole day, so
    * each row group's time range is the full partition span and a
    * time-slice query reads every group. Sorting by the Morton
    * interleave of (entity prefix, minute-of-day) clusters row groups
    * into rectangles of the (entity, time) plane — BOTH predicate
    * families then skip row groups off the parquet footer stats alone
    * (asserted in ZOrderLayoutSpec). This is the Delta/Iceberg
    * OPTIMIZE ZORDER layout expressed as a plain sort column; cites
    * the reference's dual lu_* fan-out copies (data.js:2729-3127),
    * which bought the second predicate family with a full second copy
    * of the data instead.
    */
  def writeZOrdered(df: DataFrame, name: String, rootDir: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(zorderEntity.contains(name), s"no z-order dims for $name")
    val Table(timeCol, sortKeys, _) = layout(name)
    // date leads for the same FileFormatWriter reason as in [[write]]
    withDate(df, timeCol)
      .repartition(col("date"))
      .sortWithinPartitions(
        (col("date") +: zKey(name, timeCol) +: sortKeys.map(col)): _*)
      .write.mode(mode)
      .partitionBy("date")
      .parquet(s"$rootDir/$name")
  }

  /** Persist every derived table (the reference's saveParsedData,
    * data.js:2729-3127 — minus the lu_* fan-out copies). The 12 writes
    * are independent small jobs, so they run at once (see [[runAll]]):
    * the call returns when all of them have finished and rethrows the
    * first failure.
    */
  def writeAll(t: XrplTables, rootDir: String): Unit = runAll(Seq(
    () => write(t.ledgers.toDF(), "ledgers", rootDir),
    () => write(t.transactions.toDF(), "transactions", rootDir),
    () => write(t.exchanges.toDF(), "exchanges", rootDir),
    () => write(t.offers.toDF(), "offers", rootDir),
    () => write(t.balanceChanges.toDF(), "balance_changes", rootDir),
    () => write(t.payments.toDF(), "payments", rootDir),
    () => write(t.accountsCreated.toDF(), "accounts_created", rootDir),
    () => write(t.affectedAccounts.toDF(), "affected_accounts", rootDir),
    () => write(t.memos.toDF(), "memos", rootDir),
    () => write(t.escrows.toDF(), "escrows", rootDir),
    () => write(t.paychans.toDF(), "paychan", rootDir),
    () => write(t.feeSummaries.toDF(), "fee_summaries", rootDir)))

  /** Run independent jobs at once and wait for every one of them. The
    * store's write jobs have 1–2 tasks each and leave most cores idle
    * on their own; submitted together, their per-job scheduling, task
    * and commit costs overlap.
    *
    * Each job gets its own thread, created here by the calling thread,
    * so it inherits the caller's Spark local properties — job group,
    * scheduler pool, and a streaming query's id under `foreachBatch`
    * (a long-lived shared pool could carry those of whichever thread
    * first created its threads). The call returns only when no job is
    * still running, also if the caller is interrupted while it waits;
    * it then rethrows the first failure in list order, with the others
    * added as suppressed.
    */
  private[store] def runAll(jobs: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](jobs.size)
    val threads = jobs.zipWithIndex.map { case (job, i) =>
      val t = new Thread(() => try job() catch { case e: Throwable => failures(i) = e },
        s"xrpl-store-job-$i")
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val failed = failures.filter(_ != null)
    failed.headOption.foreach { first =>
      failed.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Read one stored table with its [[layout]] schema. A known schema
    * spares the footer-reading job that schema inference runs on every
    * read; a column missing on disk reads as null rather than being
    * left out.
    */
  def read(spark: SparkSession, rootDir: String, name: String): DataFrame =
    spark.read.schema(layout(name).schema).parquet(s"$rootDir/$name")

  /** Bucketed variant for co-located joins: both sides of a recurring
    * equi-join (e.g. affected-account index ⋈ transactions on tx_hash)
    * written with the same bucket count and key join WITHOUT a shuffle
    * — the exchange that dominates a 100 TB join simply disappears.
    * Bucketing needs the session catalog, so tables land in the
    * warehouse under `tableName` rather than a raw path.
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketKey: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketKey)
      .sortBy(bucketKey)
      .format("parquet")
      .saveAsTable(tableName) // managed table in spark.sql.warehouse.dir

  /** Materialize the candle cascade as agg_exchanges partitions —
    * the reference's pre-aggregation tables (§4: "keep the
    * agg-building jobs"); interval queries then read these instead of
    * re-reducing raw trades (data.js:1665-1691 table routing). The 13
    * interval writes are independent jobs and run at once (see
    * [[runAll]]): the call returns when all of them have finished and
    * rethrows the first failure.
    */
  def writeCandleStore(exchanges: DataFrame, rootDir: String): Unit =
    runAll(Candles.cascade(exchanges).toSeq.map { case (interval, candles) =>
      () => candles.write.mode(SaveMode.Overwrite)
        .parquet(s"$rootDir/agg_exchanges/interval=$interval")
    })

  private var candleSchemaMemo: Option[StructType] = None

  /** The candle store's read schema: the minute candles' columns, which
    * every interval of the cascade shares, all nullable. Derived once
    * per JVM, since analysing the cascade costs about what a known
    * schema saves on a read.
    */
  private def candleSchema(spark: SparkSession): StructType = synchronized {
    candleSchemaMemo.getOrElse {
      val ex = spark.emptyDataset(Encoders.product[Exchange]).toDF()
      val s = nullable(Candles.fromExchanges(ex).schema)
      candleSchemaMemo = Some(s)
      s
    }
  }

  /** Read one interval's pre-aggregated candles, with the known
    * candle schema (see [[read]]). */
  def readCandles(spark: SparkSession, rootDir: String, interval: String): DataFrame =
    spark.read.schema(candleSchema(spark))
      .parquet(s"$rootDir/agg_exchanges/interval=$interval")

  /** S8: removeLedger — the reference deletes every derived row of a
    * ledger across its tables (data.js:3133-3216). In an immutable
    * store this is an anti-join rewrite of the affected date
    * partition(s): read, filter out the ledger, overwrite.
    */
  def removeLedger(spark: SparkSession, rootDir: String, name: String,
      ledgerIndex: Long): Unit = {
    val df = read(spark, rootDir, name)
    // dates as ISO strings: comparable by value regardless of the
    // JVM's java.sql.Date accessibility and of partition-column typing
    val affectedDates = df.filter(col("ledger_index") === ledgerIndex)
      .select(date_format(col("date"), "yyyy-MM-dd").as("d"))
      .distinct().collect().map(_.getString(0))
    if (affectedDates.nonEmpty) {
      // localCheckpoint breaks lineage to the files being overwritten
      // (read-then-overwrite of the same path)
      val rewritten = df
        .filter(date_format(col("date"), "yyyy-MM-dd")
          .isin(affectedDates.toIndexedSeq: _*))
        .filter(col("ledger_index") =!= ledgerIndex)
        .localCheckpoint(true)
      // dynamic partition overwrite touches only the affected dates —
      // but it cannot express "this partition is now EMPTY" (an empty
      // rewrite writes nothing and the old files survive), so dates
      // whose every row belonged to the removed ledger are deleted
      // explicitly afterwards.
      val remaining = rewritten
        .select(date_format(col("date"), "yyyy-MM-dd").as("d"))
        .distinct().collect().map(_.getString(0)).toSet
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try rewritten.write.mode(SaveMode.Overwrite)
        .partitionBy("date").parquet(s"$rootDir/$name")
      finally prev.foreach(
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
      (affectedDates.toSet -- remaining).foreach { d =>
        // resolve the filesystem from the path itself — the store root
        // may live on a non-default FS (s3a:// under an HDFS default),
        // where the default-FS delete would throw Wrong-FS or no-op
        val p = new org.apache.hadoop.fs.Path(s"$rootDir/$name/date=$d")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
  }
}

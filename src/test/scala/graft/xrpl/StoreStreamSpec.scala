package graft.xrpl

import java.nio.file.Files
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CandleStream
import graft.xrpl.agg.Candles
import graft.xrpl.store.XrplStore

/** Round-trip the partitioned store and drive the streaming candle job
  * with a file-drop source (the smoke pattern from the Spark guide).
  */
class StoreStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  lazy val tables: XrplTables = {
    val path = XrplTables.fixturesPath
    XrplTables.fromFiles(spark, path)
  }

  test("store round-trip: date-partitioned parquet preserves rows") {
    val dir = Files.createTempDirectory("graft-store").toString
    XrplStore.write(tables.exchanges.toDF(), "exchanges", dir)
    XrplStore.write(tables.payments.toDF(), "payments", dir)
    val ex = XrplStore.read(spark, dir, "exchanges")
    assert(ex.count() === tables.exchanges.count())
    // partition column exists and prunes
    assert(ex.select(col("date")).distinct().count() >= 1L)
    val oneDay = ex.select(col("date")).head().getDate(0)
    val pruned = ex.filter(col("date") === oneDay)
    // the date predicate must prune at the PARTITION level (directory
    // listing), not as a post-scan filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("date"), plan.linesIterator.take(12).mkString("\n"))
    assert(pruned.count() > 0)
    val pay = XrplStore.read(spark, dir, "payments")
    assert(pay.count() === 182L)
  }

  test("store reads: the layout schema is the on-disk schema; no Spark job") {
    val dir = Files.createTempDirectory("graft-schema").toString
    XrplStore.writeAll(tables, dir)
    XrplStore.writeCandleStore(tables.exchanges.toDF(), dir)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val reads = XrplStore.layout.keys.toSeq.sorted.map { n =>
      (n, () => XrplStore.read(spark, dir, n), s"$dir/$n")
    } ++ Candles.intervals.map(_._1).map { i =>
      (i, () => XrplStore.readCandles(spark, dir, i), s"$dir/agg_exchanges/interval=$i")
    }
    sc.addSparkListener(listener)
    try reads.foreach { case (name, read, path) =>
      GraftListenerBridge.drainListenerBus(sc, 10000)
      jobs.set(0)
      val df = read()
      GraftListenerBridge.drainListenerBus(sc, 10000)
      assert(jobs.get === 0, s"$name: jobs started building the read")
      assert(df.schema === spark.read.parquet(path).schema, name)
    } finally sc.removeSparkListener(listener)
  }

  test("removeLedger: anti-join rewrite removes only that ledger's rows") {
    val dir = Files.createTempDirectory("graft-remove").toString
    XrplStore.write(tables.exchanges.toDF(), "exchanges", dir)
    val before = XrplStore.read(spark, dir, "exchanges")
    val beforeCount = before.count()
    val victim = before.select(col("ledger_index")).head().getLong(0)
    val victimRows = before.filter(col("ledger_index") === victim).count()
    assert(victimRows > 0)
    XrplStore.removeLedger(spark, dir, "exchanges", victim)
    val after = XrplStore.read(spark, dir, "exchanges")
    assert(after.filter(col("ledger_index") === victim).count() === 0L)
    assert(after.count() === beforeCount - victimRows)
  }

  test("candle store: interval routing reads pre-aggregated candles") {
    val dir = Files.createTempDirectory("graft-candles").toString
    XrplStore.writeCandleStore(tables.exchanges.toDF(), dir)
    val daily = XrplStore.readCandles(spark, dir, "1day")
    val direct = graft.xrpl.agg.Candles.fromExchanges(
      tables.exchanges.toDF(), "day", 1)
    assert(daily.count() === direct.count())
    assert(daily.agg(sum("count")).head().getLong(0) ===
      direct.agg(sum("count")).head().getLong(0))
  }

  test("streaming minute candles match the batch aggregation") {
    import spark.implicits._
    // file-drop source: one ledger JSON per line
    val dir = Files.createTempDirectory("graft-stream").toString
    val src = XrplTables.fixturesPath
    val raw = spark.read.option("wholetext", "true").text(src)
      .as[String].collect()
    // stream sees compact single-line JSON
    val lines = raw.map(s => Json.parse(s).toString)
    Files.write(java.nio.file.Paths.get(s"$dir/ledgers.jsonl"),
      lines.mkString("\n").getBytes)

    val stream = spark.readStream
      .schema("value STRING")
      .text(dir)
    val candles = CandleStream.minuteCandles(spark, stream)
    val q = candles.writeStream
      .format("memory").queryName("stream_candles")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_candles")
      val batch = graft.xrpl.agg.Candles.fromExchanges(
        tables.exchanges.toDF(), dustFilter = false)
      // same total trade count and base volume
      val sc = streamed.agg(sum("count")).head().getLong(0)
      val bc = batch.agg(sum("count")).head().getLong(0)
      assert(sc === bc)
      val sv = streamed.agg(sum("base_volume")).head().getDouble(0)
      val bv = batch.agg(sum("base_volume")).head().getDouble(0)
      assert(math.abs(sv - bv) < 1e-6)
    } finally q.stop()
  }

  test("streaming cascade via foreachBatch fills the candle store") {
    import spark.implicits._
    // drop dir and output dirs must be separate — the file source
    // lists its watched directory recursively
    val dropDir = Files.createTempDirectory("graft-cascade-drop").toString
    val dir = Files.createTempDirectory("graft-cascade-out").toString
    val src = XrplTables.fixturesPath
    val raw = spark.read.option("wholetext", "true").text(src)
      .as[String].collect()
    val lines = raw.map(s => Json.parse(s).toString)
    // two drop files + maxFilesPerTrigger=1 → two real micro-batches
    val (first, second) = lines.splitAt(lines.length / 2)
    Files.write(java.nio.file.Paths.get(s"$dropDir/ledgers_a.jsonl"),
      first.mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(s"$dropDir/ledgers_b.jsonl"),
      second.mkString("\n").getBytes)

    val stream = spark.readStream
      .schema("value STRING").option("maxFilesPerTrigger", "1").text(dropDir)
    val exchanges = CandleStream.parsedStream(spark, stream)
      .flatMap(_.exchanges).toDF()
    val q = exchanges.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // T1/T6: stage the batch's raw trades, then re-run the full
        // 13-interval cascade from the staged table — the reference's
        // periodic full-reload repair (exchanges.js:484-496) as an
        // idempotent batch job per micro-batch
        batch.write.mode("append").parquet(s"$dir/staging")
        XrplStore.writeCandleStore(
          spark.read.parquet(s"$dir/staging"), s"$dir/store")
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.length >= 2) // the cascade ran per batch
    } finally q.stop()

    // final streamed store ≡ the store built from the batch table, at
    // every cascade interval (row-exact, not just aggregate-equal)
    val batchDir = Files.createTempDirectory("graft-cascade-batch").toString
    XrplStore.writeCandleStore(tables.exchanges.toDF(), batchDir)
    Seq("1minute", "15minute", "1hour", "1day", "7day").foreach { iv =>
      val streamed = XrplStore.readCandles(spark, s"$dir/store", iv)
      val batch = XrplStore.readCandles(spark, batchDir, iv)
      assert(streamed.count() === batch.count(), iv)
      assert(streamed.exceptAll(batch).count() === 0L, iv)
      assert(batch.exceptAll(streamed).count() === 0L, iv)
    }
  }

  test("streaming daily tx stats count every transaction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream2").toString
    val src = XrplTables.fixturesPath
    val raw = spark.read.option("wholetext", "true").text(src).as[String].collect()
    val lines = raw.map(s => Json.parse(s).toString)
    Files.write(java.nio.file.Paths.get(s"$dir/ledgers.jsonl"),
      lines.mkString("\n").getBytes)

    val stream = spark.readStream.schema("value STRING").text(dir)
    val statsQ = CandleStream.dailyTxStats(spark, stream)
      .writeStream.format("memory").queryName("stream_stats")
      .outputMode("complete").start()
    try {
      statsQ.processAllAvailable()
      val n = spark.table("stream_stats").agg(sum("count")).head().getLong(0)
      assert(n === tables.transactions.count())
    } finally statsQ.stop()
  }
}

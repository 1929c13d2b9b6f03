package graft.xrpl.store

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.Verify
import graft.xrpl.{SparkTest, XrplTables}
import graft.xrpl.agg.Candles

/** `writeAll` and `writeCandleStore` submit their independent write jobs
  * together through [[XrplStore.runAll]]; what lands on disk must be
  * what the same writes leave when run one at a time.
  */
class ConcurrentWriteSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  lazy val tables: XrplTables = XrplTables.fromFiles(spark, XrplTables.fixturesPath)

  private def parquetFiles(dir: String): Int = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.count((p: Path) => p.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  test("concurrent store writes equal one-at-a-time writes, table by table") {
    val dir = Files.createTempDirectory("graft-concurrent").toString
    val ref = Files.createTempDirectory("graft-sequential").toString
    XrplStore.writeAll(tables, dir)
    XrplStore.writeCandleStore(tables.exchanges.toDF(), dir)

    // the sequential reference: every write on this thread, in turn
    val byName = Map(
      "ledgers" -> tables.ledgers.toDF(), "transactions" -> tables.transactions.toDF(),
      "exchanges" -> tables.exchanges.toDF(), "offers" -> tables.offers.toDF(),
      "balance_changes" -> tables.balanceChanges.toDF(), "payments" -> tables.payments.toDF(),
      "accounts_created" -> tables.accountsCreated.toDF(),
      "affected_accounts" -> tables.affectedAccounts.toDF(), "memos" -> tables.memos.toDF(),
      "escrows" -> tables.escrows.toDF(), "paychan" -> tables.paychans.toDF(),
      "fee_summaries" -> tables.feeSummaries.toDF())
    assert(byName.keySet === XrplStore.layout.keySet)
    byName.foreach { case (n, df) => XrplStore.write(df, n, ref) }
    Candles.cascade(tables.exchanges.toDF()).foreach { case (i, c) =>
      c.write.mode(SaveMode.Overwrite).parquet(s"$ref/agg_exchanges/interval=$i")
    }

    XrplStore.layout.keys.toSeq.sorted.foreach { n =>
      assert(Verify.digestOf(XrplStore.read(spark, dir, n)) ===
        Verify.digestOf(XrplStore.read(spark, ref, n)), n)
      assert(parquetFiles(s"$dir/$n") === parquetFiles(s"$ref/$n"), n)
    }
    Candles.intervals.map(_._1).foreach { i =>
      assert(Verify.digestOf(XrplStore.readCandles(spark, dir, i)) ===
        Verify.digestOf(XrplStore.readCandles(spark, ref, i)), i)
      assert(parquetFiles(s"$dir/agg_exchanges/interval=$i") ===
        parquetFiles(s"$ref/agg_exchanges/interval=$i"), i)
    }
  }

  test("runAll waits for every job, then rethrows the failure") {
    val done = Seq(new AtomicBoolean, new AtomicBoolean)
    val boom = new IllegalStateException("boom")
    def slow(flag: AtomicBoolean): () => Unit = () => { Thread.sleep(300); flag.set(true) }
    val thrown = intercept[IllegalStateException] {
      XrplStore.runAll(Seq(slow(done(0)), () => throw boom, slow(done(1))))
    }
    assert(thrown eq boom)
    assert(done.forall(_.get), "a job was still running when runAll threw")
  }

  test("runAll jobs see the caller's Spark local properties") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    sc.setLocalProperty("graft.test.caller", "writer-1")
    try XrplStore.runAll(Seq.fill(3)(() =>
      seen.add(String.valueOf(sc.getLocalProperty("graft.test.caller")))))
    finally sc.setLocalProperty("graft.test.caller", null)
    assert(seen.asScala.toSeq === Seq.fill(3)("writer-1"))
  }
}

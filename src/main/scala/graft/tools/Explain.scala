package graft.tools

import graft.{Sessions, SparkEntry}

/** Plan-inspection tool: prints the formatted physical plan of
  * selected gate queries so scan pushdown (PushedFilters/ReadSchema),
  * broadcast joins, WholeStageCodegen spans and TakeOrderedAndProject
  * can be verified by eye. The session comes from [[Sessions.build]],
  * so the printed plans are the ones Bench and Verify run.
  *
  * Usage: sbt "runMain graft.tools.Explain [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.build("4", "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")

    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q3_topk_revenue", "q6_filtered_revenue", "f1_range_scan",
        "j1_index_detail_join", "s_topk_orders", "a1_hourly_candles",
        "dedup_minhash_lsh", "sim_ivf_topk")

    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}

package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Replay-safe versioned-state storage for the incremental aggregation
  * daemons ([[DaemonStream]]'s one chain shape; batch-side
  * state builders live in graft.xrpl.agg.Aggregations).
  *
  * Protocol: state(N) = reduce(state(N−1) ∪ partial(batch N)), written
  * whole to `stateDir/batch=N` (overwrite). Correctness under
  * foreachBatch's delivery contract:
  *  - a REPLAY of batch N (failure before the offset commit) recomputes
  *    from state(N−1) — which retention always preserves — and
  *    overwrites its own dir: idempotent, no double counting;
  *  - a crash mid-write leaves a dir without `_SUCCESS`, which the
  *    predecessor lookup ignores;
  *  - retention keeps exactly {N, N−1}: structured streaming never
  *    replays a batch older than the last uncommitted one, so anything
  *    older is unreachable and deleted best-effort (a failed delete
  *    leaves garbage that is never read).
  *
  * Scale: each step reads |state| + |batch| and writes |state| — bounded
  * by live key cardinality, not history length. The store stays a plain
  * parquet table a reader can hit between batches.
  */
object IncrementalDaemon {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed (`_SUCCESS`-marked) `batch=<id>` subdirs of `dir`. */
  private[streaming] def committedIds(spark: SparkSession,
      dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption }
      .flatten
      .filter(id => f.exists(new Path(s"$dir/batch=$id/_SUCCESS")))
  }

  /** One merge step; returns the merged state read back from the
    * written artifact (so downstream publishes read stable files, not
    * a live plan over a dir about to change). Both state reads carry a
    * known schema, so neither launches a schema-inference job: `reduce`
    * is schema-closed (its output schema is its input's, up to the
    * nullability a parquet write drops), so the predecessor has
    * `partial`'s schema and the new state `merged`'s.
    */
  def step(spark: SparkSession, stateDir: String, batchId: Long,
      partial: DataFrame)(reduce: DataFrame => DataFrame): DataFrame = {
    val prev = committedIds(spark, stateDir).filter(_ < batchId)
    val merged = prev.maxOption match {
      case Some(p) =>
        reduce(spark.read.schema(partial.schema).parquet(s"$stateDir/batch=$p")
          .unionByName(partial))
      case None => reduce(partial)
    }
    merged.write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    prev.filter(_ < batchId - 1).foreach { id =>
      try { fs(spark, stateDir).delete(new Path(s"$stateDir/batch=$id"), true); () }
      catch { case _: Throwable => () }
    }
    spark.read.schema(merged.schema).parquet(s"$stateDir/batch=$batchId")
  }
}

package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, to_timestamp_ltz}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loader for the driver-generated parquet tables (see TESTDATA.md).
  * One parquet file per table; Catalyst handles column pruning and
  * predicate pushdown into the scan, so every query should read only
  * the columns/row-groups it needs.
  *
  * Every read carries a schema resolved once per file version
  * ([[parquet]]). A `spark.read.parquet` without a schema launches a
  * schema-inference job on every call; gates read several tables per
  * evaluation, and those jobs were more than half of a gate's
  * construction time. The memo is JVM-wide and keyed by the
  * qualified path. An entry holds the schema and a stamp: the (name,
  * length, modification time) of every leaf file under the path, from
  * one recursive listing, plus the session's values of the confs that
  * change what inference returns ([[InferenceConfs]]). A read whose
  * stamp differs (the files were rewritten, or a conf changed) infers
  * again and replaces the entry. The schema must be exactly the one
  * inference returns: a hand-written one could differ in a type,
  * nullability or field metadata, which would change results, and the
  * plan-keyed persisted memos (`SimilarityOps.signatures`,
  * `TpchFull.partsupp`, …) would stop matching across reads that
  * carry different schemas.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Session confs that parquet schema inference depends on. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  private final case class Stamp(
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  /** The parquet dataset (a file or a directory) at `path`, read with
    * the schema inference gives for its current files; see the object
    * doc. A missing path stamps as no files, so it never hits and
    * inference raises Spark's own error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = try {
      val it = fs.listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sorted
    } catch { case _: FileNotFoundException => Seq.empty }
    val stamp = Stamp(files, InferenceConfs.map(spark.conf.getOption))
    val key = fs.makeQualified(p).toString
    val schema = Option(schemas.get(key)) match {
      case Some((s, schema)) if s == stamp => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (stamp, schema))
        schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The `events` table with `ts` normalized to TIMESTAMP (LTZ).
    *
    * The driver's generator has emitted different physical types for
    * `ts` across testdata revisions: parquet TIMESTAMP(NANOS), readable
    * only as an epoch-nanos long under the legacy flag; TIMESTAMP(MICROS)
    * without the UTC-adjusted flag, which Spark 4 reads as TIMESTAMP_NTZ;
    * and plain UTC-adjusted TIMESTAMP. Every event reader — operators,
    * Bench, Verify, and the test specs — must come through here so the
    * next schema drift is a one-line change (TESTDATA.md, "events schema
    * contract").
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(spark, dir, "events")
    val ts = df.schema("ts").dataType match {
      // Epoch-nanos long: integer `div` (not `/`) — nanos ≈ 1.7e18
      // overflows the 53-bit double mantissa a float division uses.
      case LongType => timestamp_micros(expr("ts div 1000"))
      // NTZ → LTZ preserves the epoch micros only under a UTC session
      // time zone (Bench/Verify/SparkTest all pin it). Fail loudly on
      // any other zone rather than silently shifting every timestamp.
      case TimestampNTZType =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ; normalization requires session timeZone=UTC, got $tz")
        to_timestamp_ltz(col("ts"))
      case _ => col("ts")
    }
    df.withColumn("ts", ts)
  }
}

/** One graded operator: a Spark query plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL. Column names/aliases MUST match between
  * the two — the driver sorts columns by name before hashing values.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QuerySpec {
  /** Query with a DuckDB oracle (strong hash-equality check). */
  def sql(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, Some(oracle))

  /** Query with no SQL-expressible oracle (weaker rows-only check). */
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, None)
}

package graft.xrpl.topology

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Network-topology and validations subsystem (SURVEY.md §1.2 last
  * rows; lib/hbase/hbase-thrift/topology.js): crawler node/link graph,
  * validator reports, validation index joins. Plain nodes/edges
  * DataFrames — no GraphX needed at this scale (SURVEY.md §1.4).
  */
object Topology {

  /** Fixture root (reference mock crawl/validation data): the working
    * directory's source tree, else the classpath. */
  def networkFixture(name: String): String =
    Some(new java.io.File(s"src/main/resources/network/$name").getAbsoluteFile)
      .filter(_.isFile).map(_.getPath)
      .orElse(Option(getClass.getResource(s"/network/$name")).map(_.getPath))
      .getOrElse(sys.error(s"network fixture $name not found"))

  private def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** Crawl snapshot → (nodes, raw "prefix>prefix" links)
    * (topology.js:111-135). `network_crawls` stores one row per crawl
    * with JSON node/connection lists.
    */
  def loadCrawl(spark: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val crawl = readJson(spark, path)
    val nodes = crawl.select(explode(col("nodes")).as("n")).select("n.*")
    val links = crawl.select(explode(col("connections")).as("link"))
    (nodes, links)
  }

  /** J7: resolve link endpoints via 12-char pubkey prefix
    * (topology.js:83-99): links are "prefixA>prefixB" strings; the
    * node list is the prefix→pubkey dictionary. A broadcast join on
    * the prefix — the dictionary is tiny next to the link list.
    */
  def resolveLinks(nodes: DataFrame, links: DataFrame): DataFrame = {
    val dict = nodes.select(
      substring(col("pubkey_node"), 1, 12).as("prefix"),
      col("pubkey_node").as("pubkey"))
    val parts = links.select(
      split(col("link"), ">").getItem(0).as("src_prefix"),
      split(col("link"), ">").getItem(1).as("dst_prefix"))
    parts
      .join(broadcast(dict.withColumnRenamed("prefix", "src_prefix")
        .withColumnRenamed("pubkey", "source")), Seq("src_prefix"), "left")
      .join(broadcast(dict.withColumnRenamed("prefix", "dst_prefix")
        .withColumnRenamed("pubkey", "target")), Seq("dst_prefix"), "left")
      .select(col("source"), col("target"))
  }

  /** Node degree from the resolved edge list (in+out). */
  def nodeDegrees(links: DataFrame): DataFrame =
    links.select(col("source").as("pubkey"))
      .unionByName(links.select(col("target").as("pubkey")))
      .groupBy(col("pubkey"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("pubkey"))

  /** /v2/network/topology node listing (topology.js:176-189
    * getTopologyNodes): the latest crawl's node rows reshaped to the
    * API contract — `node_public_key`, `ip` (crawl `host`), numeric
    * `port`, `version` prefixed with "rippled-", numeric uptime and
    * in/outbound connection counts. Pure per-row projection; at scale
    * this is a map-only stage over the crawl partition.
    */
  def topologyNodes(nodes: DataFrame): DataFrame =
    nodes.select(
      col("pubkey_node").as("node_public_key"),
      col("host").as("ip"),
      col("port").cast("long").as("port"),
      concat(lit("rippled-"), col("version")).as("version"),
      col("uptime").cast("long").as("uptime"),
      col("in").cast("long").as("inbound_count"),
      col("out").cast("long").as("outbound_count"))
      .orderBy(col("node_public_key"))

  // -----------------------------------------------------------------
  // Manifests (manifests_by_validator / manifests_by_master_key)
  // -----------------------------------------------------------------

  /** Parse + ed25519-verify the raw manifest feed
    * (lib/validations/manifests.js:38-72). The verdict is computed
    * per row with [[Manifests.verifyManifest]] — a JVM crypto
    * primitive with no SQL equivalent, so it is the one place a UDF
    * is the right tool (executed once at ETL time, never in a query
    * hot path).
    */
  def loadManifests(spark: SparkSession, path: String): DataFrame = {
    val verify = udf((seq: Long, master: String, signing: String,
        masterSig: String, sig: String) =>
      Manifests.verifyManifest(seq, master, Option(signing),
        // verifySignature prefers master_signature (manifests.js:48)
        if (masterSig != null) masterSig else sig))
    readJson(spark, path)
      .select(
        col("master_key").as("master_public_key"),
        col("signing_key").as("ephemeral_public_key"),
        col("seq").cast("long").as("sequence"),
        col("signature"),
        col("master_signature"),
        verify(col("seq").cast("long"), col("master_key"),
          col("signing_key"), col("master_signature"), col("signature"))
          .as("verified"))
  }

  /** Key-revocation sentinel: a manifest at MAX_SEQUENCE revokes the
    * master key itself (manifests.js:20, 391-394).
    */
  val MaxSequence = 4294967295L

  /** getManifests scan shape (topology.js:592-620): the
    * manifests_by_validator rowkey is
    * `master|sequence(10)|ephemeral` (manifests.js:196-201 makeRowkey,
    * SEQ_PAD=10), scanned in rowkey order. A revocation manifest has
    * no ephemeral key; JS Array.join renders it as a trailing empty
    * segment, so the missing key maps to '' here.
    */
  def manifestsByValidator(manifests: DataFrame): DataFrame =
    manifests
      .withColumn("ephemeral_public_key",
        coalesce(col("ephemeral_public_key"), lit("")))
      .withColumn("rowkey", concat_ws("|",
        col("master_public_key"),
        lpad(col("sequence").cast("string"), 10, "0"),
        col("ephemeral_public_key")))
      .select(col("rowkey"), col("master_public_key"),
        col("ephemeral_public_key"), col("sequence"), col("signature"),
        col("verified"))
      .orderBy(col("rowkey"))

  /** manifests_by_master_key (manifests.js:99-112 setActiveManifest,
    * 117-136 deleteActiveManifest): the active (highest-sequence,
    * verified) ephemeral key per master key; a verified revocation at
    * MAX_SEQUENCE removes the master entirely. One hash aggregation
    * plus a broadcastable anti-join on the (tiny) revocation set — no
    * window.
    */
  def activeManifests(manifests: DataFrame): DataFrame = {
    val verified = manifests.filter(col("verified"))
    val revoked = verified
      .filter(col("sequence") === MaxSequence)
      .select(col("master_public_key"))
    verified
      .filter(col("sequence") < MaxSequence)
      .groupBy(col("master_public_key"))
      .agg(
        max_by(col("ephemeral_public_key"), col("sequence"))
          .as("ephemeral_public_key"),
        max(col("sequence")).as("sequence"))
      .join(revoked, Seq("master_public_key"), "left_anti")
      .orderBy(col("master_public_key"))
  }

  // -----------------------------------------------------------------
  // Validations
  // -----------------------------------------------------------------

  /** Raw validation votes (mock validations.json shape). */
  def loadValidations(spark: SparkSession, path: String): DataFrame =
    readJson(spark, path)
      .withColumn("ledger_index", col("ledger_index").cast("long"))

  /** Per-ledger validation detail (validations_by_ledger). */
  def loadLedgerValidations(spark: SparkSession, path: String): DataFrame =
    readJson(spark, path)

  /** Precomputed daily reports (validator_reports table). */
  def loadValidatorReports(spark: SparkSession, path: String): DataFrame =
    readJson(spark, path)

  /** validator_state table (domain + rolling agreement blobs —
    * stringified JSON cells parsed into structs).
    */
  def loadValidatorState(spark: SparkSession, path: String): DataFrame = {
    val agreement = org.apache.spark.sql.types.StructType.fromDDL(
      "missed BIGINT, total BIGINT, score STRING, incomplete BOOLEAN")
    readJson(spark, path)
      .withColumn("agreement_1h_s", from_json(col("agreement_1h"), agreement))
      .withColumn("agreement_24h_s", from_json(col("agreement_24h"), agreement))
  }

  /** A12: daily report scoring (topology.js:265-296 formatDailyReports):
    * chain = altnet when alt agreement > 0.5; score is the chain's
    * agreement; missed = floor(total − total·score).
    */
  def scoreDailyReports(reports0: DataFrame): DataFrame = {
    // rows come from either the raw-agreement shape (validator_reports
    // legacy: *_agreement + total_ledgers) or the precomputed shape
    // (chain/score/total/missed) — tolerate both (topology.js:273-296).
    val reports = Seq("chain", "score", "missed", "total",
      "main_net_agreement", "alt_net_agreement")
      .foldLeft(reports0) { (df, c) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("string"))
      }
    reports
      .withColumn("chain_c",
        coalesce(col("chain"),
          when(col("alt_net_agreement").cast("double") > 0.5, "altnet")
            .otherwise("main")))
      .withColumn("score_c",
        coalesce(col("score").cast("double"),
          when(col("chain_c") === "altnet", col("alt_net_agreement").cast("double"))
            .otherwise(col("main_net_agreement").cast("double"))))
      .withColumn("total_c", col("total").cast("long"))
      .withColumn("missed_c",
        coalesce(col("missed").cast("long"),
          floor(col("total_c") - col("total_c") * col("score_c"))))
      .select(col("pubkey").as("validation_public_key"), col("date"),
        col("chain_c").as("chain"), col("score_c").as("score"),
        col("total_c").as("total"), col("missed_c").as("missed"))
  }

  /** Compute daily reports from raw validations against the canonical
    * chain (the agreement definition behind validator_reports): per
    * (validator, day) the fraction of canonical ledgers validated.
    */
  def computeDailyReports(validations: DataFrame,
      canonicalLedgers: DataFrame): DataFrame = {
    val canonicalPerDay = canonicalLedgers
      .select(col("ledger_hash"), col("day"))
      .groupBy(col("day")).agg(countDistinct(col("ledger_hash")).as("n_canonical"))
    val validated = validations
      .join(canonicalLedgers.select(col("ledger_hash"), col("day")), Seq("ledger_hash"))
      .groupBy(col("validation_public_key"), col("day"))
      .agg(countDistinct(col("ledger_hash")).as("n_validated"))
    validated.join(canonicalPerDay, Seq("day"))
      .withColumn("score", col("n_validated").cast("double") / col("n_canonical"))
      .withColumn("missed", floor(col("n_canonical") - col("n_validated")))
      .orderBy(col("day"), col("validation_public_key"))
  }

  /** J5: validation index (by validator) → per-ledger detail join
    * (topology.js:512-576): key-only index scan re-keyed into
    * validations_by_ledger.
    */
  def validationsByValidator(ledgerValidations: DataFrame,
      pubkey: String): DataFrame =
    ledgerValidations
      .withColumn("validation_public_key",
        split(col("rowkey"), "\\|").getItem(1))
      .withColumn("ledger_hash", split(col("rowkey"), "\\|").getItem(0))
      .filter(col("validation_public_key") === pubkey)
      .orderBy(col("rowkey"))

  /** J6: decorate reports with the validator's domain from
    * validator_state (topology.js:300-331) — broadcast left join.
    */
  def reportsWithDomain(reports: DataFrame, state: DataFrame): DataFrame =
    reports.join(
      broadcast(state.select(col("rowkey").as("validation_public_key"),
        col("domain"))),
      Seq("validation_public_key"), "left")

  /** W6-style ranking: validators by score/total (topology.js:451-469
    * multi-key comparator).
    */
  def rankValidators(reports: DataFrame): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("total").desc,
      col("validation_public_key"))
    reports.withColumn("rank", row_number().over(w))
  }
}

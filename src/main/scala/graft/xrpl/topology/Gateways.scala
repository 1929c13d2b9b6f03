package graft.xrpl.topology

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Static gateway / currency registry — the reference's `/v2/gateways`
  * endpoint family (api/routes/gateways.js:1-41, 56-100, 135-180):
  * a 31-entry JSON config (api/gateways/gateways.json) plus two asset
  * directories whose FILENAMES are data (`<gateway>.<asset…>` and
  * `<currency>.svg`, gateways.js:13-25).
  *
  * The reference builds two in-memory lookups at boot: gateway-by-
  * identifier (address or normalized name, gateways.js:101-133) and
  * gateways-by-currency with the assets/featured/name issuer sort
  * (gateways.js:46-54, 60-86). Here both are DataFrames over the same
  * fixture: config-scale tables that Catalyst will broadcast into any
  * join against ledger data.
  */
object Gateways {

  /** Fixture root (reference gateway registry + asset manifests): the
    * working directory's source tree, else the classpath. */
  def fixture(name: String): String =
    Some(new java.io.File(s"src/main/resources/gateways/$name").getAbsoluteFile)
      .filter(_.isFile).map(_.getPath)
      .orElse(Option(getClass.getResource(s"/gateways/$name")).map(_.getPath))
      .getOrElse(sys.error(s"gateway fixture $name not found"))

  /** Explicit schema: `currencies` is a MAP keyed by currency code —
    * schema inference would instead union every code into one struct.
    */
  private val schema = StructType(Seq(
    StructField("name", StringType),
    StructField("start_date", StringType),
    StructField("domain", StringType),
    StructField("accounts", ArrayType(StructType(Seq(
      StructField("address", StringType),
      StructField("currencies", MapType(StringType, StructType(Seq(
        StructField("featured", BooleanType),
        StructField("label", StringType))))))))),
    StructField("hotwallets", ArrayType(StringType))))

  /** JS `normalize()`: lowercase, strip `\W` (gateways.js:91-93). */
  def normalizedName(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9_]", "")

  /** One row per gateway, straight from the JSON registry. */
  def gateways(s: SparkSession): DataFrame =
    s.read.schema(schema).option("multiLine", "true")
      .json(fixture("gateways.json"))
      .withColumn("normalized", normalizedName(col("name")))

  /** Gateway asset manifest rows (normalized, asset): filename
    * `<gateway>.<asset…>` split at the first dot (gateways.js:14-25).
    */
  def gatewayAssetFiles(s: SparkSession): DataFrame =
    s.read.text(fixture("gateway_assets.txt"))
      .select(col("value").as("file"))

  /** Currency asset manifest rows (one filename per line). */
  def currencyAssetFiles(s: SparkSession): DataFrame =
    s.read.text(fixture("currency_assets.txt"))
      .select(col("value").as("file"))

  /** The registry flattened to one row per (gateway, account,
    * currency) — the raw fan-out both endpoint queries start from.
    * `n_accounts`/`n_currencies`/`n_hotwallets` ride along so the
    * lookup endpoint's summary is a pure filter over this table.
    */
  def currencyFlat(s: SparkSession): DataFrame =
    gateways(s)
      .withColumn("n_accounts", size(col("accounts")))
      .withColumn("n_hotwallets",
        coalesce(size(col("hotwallets")), lit(0)))
      .withColumn("n_currencies", aggregate(col("accounts"), lit(0),
        (acc, a) => acc + size(map_keys(a.getField("currencies")))))
      .select(col("name"), col("normalized"), col("start_date"),
        col("domain"), col("n_accounts"), col("n_hotwallets"),
        col("n_currencies"), explode(col("accounts")).as("a"))
      .select(col("name"), col("normalized"), col("start_date"),
        col("domain"), col("n_accounts"), col("n_hotwallets"),
        col("n_currencies"), col("a.address").as("account"),
        explode(col("a.currencies")).as(Seq("currency", "c")))
      .select(col("name"), col("normalized"), col("start_date"),
        col("domain"), col("n_accounts"), col("n_hotwallets"),
        col("n_currencies"), col("account"), col("currency"),
        coalesce(col("c.featured"), lit(false)).as("featured"),
        col("c.label").as("label"))

  /** `/v2/gateways` — gateways-by-currency with the reference's issuer
    * sort (gateways.js:46-54): key = (has-assets, featured, name),
    * '0' sorting before '1'; account appended as a deterministic
    * tiebreak (the reference relies on engine sort stability). `flat`
    * and `assetFiles` are [[currencyFlat]]/[[gatewayAssetFiles]]-shaped
    * frames so callers can route through a store dump.
    *
    * Scale shape: the rank window partitions by currency over a
    * config-scale table (31 gateways), and the per-gateway asset count
    * joins broadcast — nothing here ever touches ledger-scale data.
    */
  def byCurrency(flat: DataFrame, assetFiles: DataFrame): DataFrame = {
    val counts = assetFiles
      .select(substring_index(col("file"), ".", 1).as("normalized"))
      .groupBy(col("normalized"))
      .agg(count(lit(1)).as("n_assets"))
    val sortKey = concat(
      when(col("n_assets") > 0, lit("0")).otherwise(lit("1")),
      when(col("featured"), lit("0")).otherwise(lit("1")),
      col("name"))
    flat.join(broadcast(counts), Seq("normalized"), "left")
      .withColumn("n_assets", coalesce(col("n_assets"), lit(0L)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("currency"))
          .orderBy(sortKey, col("account"))))
      .select(col("currency"), col("pos"), col("name"), col("account"),
        col("featured"), col("label"), col("n_assets"), col("start_date"))
      .orderBy(col("currency"), col("pos"))
  }

  /** `/v2/gateways/{gateway}` — lookup by issuing address OR
    * normalized name (gateways.js:101-133), one summary row per
    * matching gateway.
    */
  def lookup(flat: DataFrame, identifier: String): DataFrame =
    flat
      .filter(col("account") === identifier ||
        col("normalized") === normalizedName(lit(identifier)))
      .select(col("name"), col("normalized"), col("domain"),
        col("start_date"), col("n_accounts"), col("n_hotwallets"),
        col("n_currencies"))
      .distinct()

  /** `/v2/currencies/{currency}.svg` existence surface: the currency
    * asset table (code, file) the route serves from filenames.
    */
  def currencies(assetFiles: DataFrame): DataFrame =
    assetFiles
      .select(upper(substring_index(col("file"), ".", 1)).as("currency"),
        col("file"))
      .orderBy(col("currency"))
}

package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.operators.{Cleaning, Windows}
import graft.operators.Joins.dimBroadcast

/** The complete FineGourmet star-schema ETL, re-expressed Spark-first:
  * extract (CSV glob / multiline JSON / regex text) -> clean -> conform ->
  * dedup -> surrogate keys -> Dim_Client / Dim_Product / Dim_Store /
  * Fact_Sales (ref: main.py:52-121, etl/transform.py:30-418,
  * database/seed_fidegourmet.sql:1-42).
  *
  * Deliberate departures from the reference, for scale + determinism:
  *  - one multi-path CSV read instead of a per-file driver loop
  *    (ref: etl/extract.py:63-92) — a glob read parallelizes over files;
  *  - explicit schemas instead of inferSchema (no double scan);
  *  - ONE products join for CEGID id-resolution + price backfill instead of
  *    two joins of the same dimension (ref: transform.py:152-170);
  *  - `first(ignoreNulls)` replaced by min_by over a null-demoting order
  *    key: same "first non-null" semantics, but deterministic under any
  *    partitioning (Spark's first() is order-sensitive);
  *  - no debug show()/count() actions mid-pipeline (ref re-executes its
  *    plan ~8x; here the only actions are the sink writes).
  */
object FineGourmet {

  final case class Paths(sfccGlob: String, cegidJson: String,
                         productsGlob: String, boutiquesText: String)

  final case class Star(dimProduct: DataFrame, dimStore: DataFrame,
                        dimClient: DataFrame, factSales: DataFrame)

  /** The 13 physical store IDs (ref: transform.py:223-237). */
  val StoreWhitelist: Seq[String] = Seq(
    "PA01", "PA02", "PA03", "BO01", "BO02", "MO01", "LY01", "LY02",
    "MA01", "LI01", "RE01", "ST01", "CL01")

  /** Bad Sale_ID prefixes -> repaired store prefix (ref: transform.py:184-220). */
  val PrefixRepairs: Seq[(String, String)] = Seq(
    "XXMO" -> "MO01", "XXLI" -> "LI01", "XXCL" -> "CL01",
    "XXPA" -> "PA01", "XXBO" -> "BO01", "XXLY" -> "LY01",
    "XXMA" -> "MA01", "XXRE" -> "RE01")

  // ---- explicit source schemas (ref infers; FIXTURES.md A1-A4) ----------

  val SfccSchema: StructType = StructType(Seq(
    StructField("sale_id", StringType), StructField("transaction_date", StringType),
    StructField("product_id", StringType), StructField("customer_id", StringType),
    StructField("customer_last_name", StringType), StructField("customer_first_name", StringType),
    StructField("customer_email", StringType), StructField("customer_address", StringType),
    StructField("customer_phone", StringType), StructField("email_optin", StringType),
    StructField("sms_optin", StringType)))

  val CegidSchema: StructType = StructType(Seq(
    StructField("sale_id", StringType), StructField("email", StringType),
    StructField("transaction_date", StringType), StructField("product_name", StringType),
    StructField("quantity", LongType),
    // mixed int/float/"x" in the reference data (FIXTURES.md A2): read as
    // VARIANT and cast to string at the scan. A STRING field over JSON
    // numbers re-reads the file once per value (see Tables.multilineJson)
    StructField("price", VariantType)))

  val ProductSchema: StructType = StructType(Seq(
    StructField("product_id", StringType), StructField("product_name", StringType),
    StructField("price", DoubleType), StructField("category", StringType)))

  // ---- extract (S1-S4) ---------------------------------------------------

  /** S1: all monthly SFCC CSVs in ONE distributed read; conform names and
    * types at the scan (ref: etl/extract.py:60-92). */
  def extractSfcc(spark: SparkSession, glob: String): DataFrame =
    Tables.csv(spark, SfccSchema, glob)
      .select(
        col("sale_id").as("Sale_ID"),
        to_date(col("transaction_date"), "yyyy-MM-dd").as("Transaction_Date"),
        col("product_id").as("Product_ID"),
        col("customer_id").try_cast("int").as("Customer_ID"),
        col("customer_last_name").as("Last_Name"),
        col("customer_first_name").as("First_Name"),
        col("customer_email").as("Email"),
        col("customer_address").as("Address"),
        col("customer_phone").as("Phone"),
        trim(col("email_optin")).try_cast("boolean").as("Email_Optin"),
        trim(col("sms_optin")).try_cast("boolean").as("Sms_Optin"))

  /** S3: CEGID multiline JSON array (ref: etl/extract.py:95-104). */
  def extractCegid(spark: SparkSession, path: String): DataFrame =
    Tables.multilineJson(spark, CegidSchema, path)
      .select(
        col("sale_id").as("Sale_ID"),
        col("email").as("Email"),
        to_date(col("transaction_date"), "yyyy-MM-dd").as("Transaction_Date"),
        col("product_name").as("Product_Name"),
        col("quantity").cast("int").as("Quantity"),
        col("price").cast("string").as("Price_Raw"))

  /** S1+S2: product reference CSVs (2024+2025) via glob union; keep one row
    * per Product_ID (ref: etl/extract.py:111-127, transform.py:284-299). */
  def extractProducts(spark: SparkSession, glob: String): DataFrame =
    Tables.csv(spark, ProductSchema, glob)
      .select(
        col("product_id").as("Product_ID"),
        col("product_name").as("Name"),
        col("price").as("Price"),
        col("category").as("Category"))
      .dropDuplicates("Product_ID")

  /** S4: boutiques raw-text scan, header line dropped, pipe fields split by
    * regex (ref: etl/extract.py:134-153). */
  def extractBoutiques(spark: SparkSession, path: String): DataFrame =
    Tables.regexText(spark, path, "^(.*?)\\|(.*?)\\|\"(.*)\"$",
      Seq("Store_ID" -> 1, "Name" -> 2, "Address" -> 3),
      headerLine = Some("store_id,store_name,address"))
      .withColumn("Address", Cleaning.stripEdgeQuotes(col("Address")))
      .filter(col("Store_ID") =!= "")

  // ---- transform ---------------------------------------------------------

  /** SFCC cleanup + catalog price lookup (ref: transform.py:30-105):
    * whitespace scrub on text columns, address quote strip, email+phone
    * normalization, default Quantity=1, Price joined from the product dim.
    */
  def transformSfcc(sfcc: DataFrame, products: DataFrame): DataFrame = {
    val scrubbed = Cleaning.scrubWhitespaceAll(sfcc,
      Seq("Last_Name", "First_Name", "Email", "Address", "Phone"))
    val cleaned = scrubbed
      .withColumn("Address", Cleaning.stripEdgeQuotes(col("Address")))
      .withColumn("Email", Cleaning.normalizeEmail(col("Email")))
      .withColumn("Phone", Cleaning.standardizePhone(col("Phone")))
      .withColumn("Quantity", lit(1))
    cleaned
      .join(dimBroadcast(products.select(col("Product_ID").as("prod_id"), col("Price"))),
        cleaned("Product_ID") === col("prod_id"), "left")
      .drop("prod_id")
  }

  /** CEGID cleanup (ref: transform.py:113-279): price validation with the
    * "x" sentinel, Sale_ID prefix repair, store-ID derivation + whitelist,
    * ONE products join resolving Product_ID and backfilling missing prices,
    * duplicate-Sale_ID suffixing, email normalization.
    */
  def transformCegid(cegid: DataFrame, products: DataFrame): DataFrame = {
    val repaired = cegid
      .withColumn("Price", Cleaning.validatedPrice(col("Price_Raw"))).drop("Price_Raw")
      .withColumn("Sale_ID", Cleaning.repairIdPrefix(col("Sale_ID"), PrefixRepairs))
      .withColumn("Store_ID", Cleaning.storeIdFrom(col("Sale_ID"), 4, StoreWhitelist))
      .withColumn("Email", Cleaning.normalizeEmail(col("Email")))
    // one broadcast join does what the reference does in two
    // (transform.py:152-156 id-resolve + 158-170 price backfill)
    val joined = repaired
      .join(dimBroadcast(products.select(
        col("Name").as("prod_name"), col("Product_ID").as("prod_id"),
        col("Price").as("catalog_price"))),
        repaired("Product_Name") === col("prod_name"), "left")
      .withColumn("Product_ID", col("prod_id"))
      .withColumn("Price", coalesce(col("Price"), col("catalog_price")))
      .drop("prod_name", "prod_id", "catalog_price")
    Windows.suffixDuplicates(joined,
      keys = Seq("Sale_ID"), order = Seq(col("Transaction_Date"), col("Product_Name")),
      idCol = "Sale_ID", outCol = "Sale_ID")
  }

  /** First non-null value of `c` per group, deterministically: min_by over
    * an order key that demotes null values to the end (the reference's
    * first(ignorenulls=True) at transform.py:334-366 is partition-order
    * sensitive; this is reproducible at any parallelism).
    */
  private def firstNonNull(c: Column, order: Column): Column =
    min_by(c, when(c.isNull, lit("\uffff\uffff")).otherwise(order))

  /** Dim_Client: union SFCC+CEGID client rows, collapse per email, dense
    * surrogate keys (ref: transform.py:319-376). The global-window surrogate
    * is fine at dimension scale; Windows.denseIdsScalable is the fact-scale
    * variant (declared as q41).
    */
  def dimClients(sfcc: DataFrame, cegid: DataFrame): DataFrame = {
    val sfccClients = sfcc.select(col("Email"), col("Sale_ID"),
      col("Last_Name"), col("First_Name"), col("Phone"), col("Address"))
    val cegidClients = cegid.select(col("Email"), col("Sale_ID"))
    val unioned = sfccClients.unionByName(cegidClients, allowMissingColumns = true)
    val collapsed = unioned
      .filter(col("Email").isNotNull && col("Email") =!= "")
      .groupBy("Email")
      .agg(
        firstNonNull(col("Last_Name"), col("Sale_ID")).as("Last_Name"),
        firstNonNull(col("First_Name"), col("Sale_ID")).as("First_Name"),
        firstNonNull(col("Phone"), col("Sale_ID")).as("Phone"),
        firstNonNull(col("Address"), col("Sale_ID")).as("Address"))
    Windows.denseIdsGlobal(collapsed, Seq(col("Email")), "Client_ID")
      .withColumn("Client_ID", col("Client_ID").cast("int"))
  }

  /** Fact_Sales: union both channels, attach FK_Client_ID / FK_Product_ID /
    * FK_Store_ID and the channel Type (ref: transform.py:381-418 +
    * loader.py:55-57 — Type is derived at load time there; here it is part
    * of the fact build, where it belongs).
    */
  def factSales(sfcc: DataFrame, cegid: DataFrame, clients: DataFrame): DataFrame = {
    val unioned = sfcc.unionByName(cegid, allowMissingColumns = true)
      .withColumnRenamed("Transaction_Date", "Date")
      .withColumn("FK_Store_ID",
        when(col("Store_ID").isNotNull, col("Store_ID")).otherwise(lit(null).cast("string")))
    unioned
      .join(dimBroadcast(clients.select(col("Client_ID"), col("Email").as("client_email"))),
        unioned("Email") === col("client_email"), "left")
      .withColumn("FK_Client_ID", col("Client_ID").cast("int"))
      .withColumn("FK_Product_ID", col("Product_ID"))
      .withColumn("Type", Cleaning.channelType(col("FK_Store_ID")))
      .select("Sale_ID", "Quantity", "Price", "Type", "Date",
        "FK_Client_ID", "FK_Product_ID", "FK_Store_ID")
  }

  /** Full pipeline: extract all four sources, build the star schema. */
  def buildStar(spark: SparkSession, paths: Paths): Star = {
    val products = extractProducts(spark, paths.productsGlob)
    val boutiques = extractBoutiques(spark, paths.boutiquesText)
    val sfcc = transformSfcc(extractSfcc(spark, paths.sfccGlob), products)
    val cegid = transformCegid(extractCegid(spark, paths.cegidJson), products)
    val clients = dimClients(sfcc, cegid)
    Star(
      dimProduct = products.select("Product_ID", "Name", "Category", "Price"),
      dimStore = boutiques.select("Store_ID", "Name", "Address"),
      dimClient = clients.select("Client_ID", "Email", "Last_Name", "First_Name", "Phone", "Address"),
      factSales = factSales(sfcc, cegid, clients))
  }
}

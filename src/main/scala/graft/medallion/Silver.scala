package graft.medallion

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Analytics

/** Silver-layer cleansing rules. The reference declares silver but never
  * implements it (`main.py:551-603` placeholders); these rules implement the
  * documented intent using the data quirks profiled in FIXTURES.md §1:
  * dedup-latest per key, trimmed names, unified gender/country codes,
  * integer-yyyymmdd date parsing with `0` sentinels, cross-system customer
  * key normalization, and sales consistency repair.
  *
  * Every rule is a narrow projection/filter — no shuffles except the
  * dedup-latest window (keyed by customer id → distributes).
  */
object Silver {

  /** `0`-sentinel integer yyyymmdd → DateType, null on ANY invalid value
    * (sales_details quirks: 17 zero order dates plus stray garbage like
    * `32154` — `try_to_date`, not `to_date`, so ANSI mode cannot throw).
    */
  def parseYyyymmdd(c: Column): Column =
    when(c.isNull || c <= 0 || length(c.cast("string")) =!= 8, lit(null).cast("date"))
      .otherwise(try_to_date(c.cast("string"), "yyyyMMdd"))

  /** Unify `M/F/Male/Female/blank` gender encodings (cust_info.cst_gndr vs
    * CUST_AZ12.GEN).
    */
  def normalizeGender(c: Column): Column = {
    val t = upper(trim(c))
    when(t.isin("M", "MALE"), "Male")
      .when(t.isin("F", "FEMALE"), "Female")
      .otherwise("n/a")
  }

  /** Unify country variants (LOC_A101.CNTRY: DE/Germany, US/USA/United
    * States, blanks).
    */
  def normalizeCountry(c: Column): Column = {
    val t = upper(trim(c))
    when(t.isin("DE", "GERMANY"), "Germany")
      .when(t.isin("US", "USA", "UNITED STATES"), "United States")
      .when(t === "" || t.isNull, "n/a")
      .otherwise(initcap(trim(c)))
  }

  /** Remove dashes from location-style customer ids (LOC_A101.CID
    * `AW-00011000` → `AW00011000`).
    */
  def normalizeLocCustomerKey(c: Column): Column = regexp_replace(trim(c), "-", "")

  /** Marital status M/S → Married/Single. */
  def normalizeMaritalStatus(c: Column): Column = {
    val t = upper(trim(c))
    when(t === "M", "Married").when(t === "S", "Single").otherwise("n/a")
  }

  /** silver.crm_customers: drop rows with null key, trim names, normalize
    * codes, dedup-latest per cst_id by create date (reference pattern
    * `README.md:604-610`; quirks: 6 duplicate ids, 7 blank-id rows).
    */
  def cleanCrmCustomers(bronze: DataFrame): DataFrame = {
    val typed = bronze
      .where(col("cst_id").isNotNull)
      .select(
        col("cst_id").cast("long"),
        trim(col("cst_key")).as("cst_key"),
        trim(col("cst_firstname")).as("cst_firstname"),
        trim(col("cst_lastname")).as("cst_lastname"),
        normalizeMaritalStatus(col("cst_marital_status")).as("cst_marital_status"),
        normalizeGender(col("cst_gndr")).as("cst_gndr"),
        to_date(col("cst_create_date")).as("cst_create_date"))
    Analytics.dedupLatest(
      typed,
      keys = Seq(col("cst_id")),
      orderBy = Seq(col("cst_create_date")))
  }

  /** silver.crm_products: split prd_key into the category id (first 5 chars,
    * `-`→`_`, joins PX_CAT_G1V2.ID) and the sales-joinable product key
    * (remainder); trim product line; null-safe cost.
    */
  def cleanCrmProducts(bronze: DataFrame): DataFrame =
    bronze.select(
      col("prd_id").cast("long"),
      translate(substring(col("prd_key"), 1, 5), "-", "_").as("cat_id"),
      expr("substring(prd_key, 7)").as("prd_key"),
      trim(col("prd_nm")).as("prd_nm"),
      coalesce(col("prd_cost").cast("double"), lit(0.0)).as("prd_cost"),
      when(upper(trim(col("prd_line"))) === "M", "Mountain")
        .when(upper(trim(col("prd_line"))) === "R", "Road")
        .when(upper(trim(col("prd_line"))) === "S", "Other Sales")
        .when(upper(trim(col("prd_line"))) === "T", "Touring")
        .otherwise("n/a").as("prd_line"),
      to_date(col("prd_start_dt")).as("prd_start_dt"),
      to_date(col("prd_end_dt")).as("prd_end_dt"))

  /** silver.crm_sales: yyyymmdd dates parsed with 0-sentinels; sales amount
    * repaired where `sls_sales ≠ quantity × price` or null (20 + 8 rows);
    * price back-derived from sales/quantity when null (7 rows).
    */
  def cleanCrmSales(bronze: DataFrame): DataFrame = {
    val qty = col("sls_quantity").cast("long")
    val rawSales = col("sls_sales").cast("long")
    val rawPrice = col("sls_price").cast("long")
    val derivedSales = qty * abs(rawPrice)
    val salesFixed = when(
      rawSales.isNull || rawSales <= 0 || rawSales =!= derivedSales,
      derivedSales).otherwise(rawSales)
    val priceFixed = when(rawPrice.isNull || rawPrice <= 0,
      salesFixed / when(qty =!= 0, qty)).otherwise(rawPrice)
    bronze.select(
      trim(col("sls_ord_num")).as("sls_ord_num"),
      trim(col("sls_prd_key")).as("sls_prd_key"),
      col("sls_cust_id").cast("long"),
      parseYyyymmdd(col("sls_order_dt")).as("sls_order_dt"),
      parseYyyymmdd(col("sls_ship_dt")).as("sls_ship_dt"),
      parseYyyymmdd(col("sls_due_dt")).as("sls_due_dt"),
      salesFixed.as("sls_sales"),
      qty.as("sls_quantity"),
      priceFixed.as("sls_price"))
  }

  /** silver.erp_customers: strip NAS prefix, null future birthdates. */
  def cleanErpCustomers(bronze: DataFrame): DataFrame =
    cleanErpCustomers(bronze, current_date())

  /** As above with an explicit "future" cutoff, so certification runs are
    * deterministic across days (the oracle replays the same fixed date).
    */
  def cleanErpCustomers(bronze: DataFrame, asOf: Column): DataFrame =
    bronze.select(
      when(trim(col("CID")).startsWith("NAS"), expr("substring(trim(CID), 4)"))
        .otherwise(trim(col("CID"))).as("cid"),
      when(to_date(col("BDATE")) > asOf, lit(null).cast("date"))
        .otherwise(to_date(col("BDATE"))).as("bdate"),
      normalizeGender(col("GEN")).as("gen"))

  /** silver.erp_locations: dash-free ids, unified countries. */
  def cleanErpLocations(bronze: DataFrame): DataFrame =
    bronze.select(
      normalizeLocCustomerKey(col("CID")).as("cid"),
      normalizeCountry(col("CNTRY")).as("cntry"))
}

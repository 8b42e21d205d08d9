package graft.medallion

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.bronze.Bronze
import graft.queries.Medallion

/** Silver/gold rules exercised against the reference's actual dirty CSVs —
  * the profiled quirk counts come from FIXTURES.md §1.
  */
class MedallionSpec extends SparkSpec {

  private lazy val datasets = Medallion.ReferenceRoot
  private lazy val custRaw = Bronze.readCsv(spark, s"$datasets/source_crm/cust_info.csv")
  private lazy val salesRaw = Bronze.readCsv(spark, s"$datasets/source_crm/sales_details.csv")
  private lazy val erpCustRaw = Bronze.readCsv(spark, s"$datasets/source_erp/CUST_AZ12.csv")
  private lazy val erpLocRaw = Bronze.readCsv(spark, s"$datasets/source_erp/LOC_A101.csv")
  private lazy val prodRaw = Bronze.readCsv(spark, s"$datasets/source_crm/prd_info.csv")

  test("silver customers: null keys dropped, duplicates collapsed, names trimmed") {
    assumeReferenceCsvs("source_crm")
    val silver = Silver.cleanCrmCustomers(custRaw)
    val n = silver.count()
    assert(n == 18494 - 4 - 6, s"18484 expected after 4 null-id and 6 dup-surplus drops, got $n")
    assert(silver.groupBy("cst_id").count().where(col("count") > 1).count() == 0)
    assert(silver.where(col("cst_firstname").rlike("^\\s|\\s$")).count() == 0)
    val genders = silver.select("cst_gndr").distinct().collect().map(_.getString(0)).toSet
    assert(genders.subsetOf(Set("Male", "Female", "n/a")))
  }

  test("silver sales: 0-sentinel dates null, sales equation repaired") {
    assumeReferenceCsvs("source_crm")
    val silver = Silver.cleanCrmSales(salesRaw)
    assert(silver.count() == 60398)
    // 17 zero-sentinels + 2 stray garbage values (e.g. 32154) → 19 nulls
    assert(silver.where(col("sls_order_dt").isNull).count() == 19, "invalid order dates")
    val broken = silver.where(
      col("sls_sales") =!= col("sls_quantity") * col("sls_price")).count()
    assert(broken == 0, s"all rows must satisfy sales = qty × price, $broken violate")
    assert(silver.where(col("sls_sales").isNull).count() == 0)
  }

  test("silver erp customers: NAS prefixes stripped, future birthdates nulled") {
    assumeReferenceCsvs("source_erp", "source_crm")
    val silver = Silver.cleanErpCustomers(erpCustRaw)
    assert(silver.where(col("cid").startsWith("NAS")).count() == 0)
    assert(silver.where(col("bdate") > current_date()).count() == 0)
    // stripped NAS keys now join cust_info.cst_key
    val joinable = silver.join(
      Silver.cleanCrmCustomers(custRaw), col("cid") === col("cst_key"), "inner").count()
    assert(joinable > 18000, s"cross-system key join should cover most rows, got $joinable")
  }

  test("silver erp locations: dashes removed, countries unified") {
    assumeReferenceCsvs("source_erp")
    val silver = Silver.cleanErpLocations(erpLocRaw)
    assert(silver.where(col("cid").contains("-")).count() == 0)
    val countries = silver.groupBy("cntry").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(countries("Germany") == 566 + 1214, "DE + Germany variants unified")
    assert(countries("United States") == 1500 + 2591 + 3391, "US/USA/United States unified")
    assert(countries("n/a") == 337, "blank/whitespace rows")
  }

  test("silver products: category id joins the 36-row dimension") {
    assumeReferenceCsvs("source_crm", "source_erp")
    val silver = Silver.cleanCrmProducts(prodRaw)
    val cats = Bronze.readCsv(spark, s"$datasets/source_erp/PX_CAT_G1V2.csv")
    val matched = silver.join(broadcast(cats), col("cat_id") === col("ID"), "inner").count()
    assert(matched > 350, s"most products should match a category, got $matched")
  }

  test("gold customer analytics: KPIs aggregate and segment") {
    assumeReferenceCsvs("source_crm")
    val gold = Gold.customerAnalytics(
      Silver.cleanCrmCustomers(custRaw),
      Silver.cleanCrmSales(salesRaw))
    assert(gold.count() == 18484, "one KPI row per silver customer")
    val withOrders = gold.where(col("total_orders") > 0)
    assert(withOrders.count() > 17000)
    val bad = gold.where(
      col("total_orders") > 0 &&
        abs(col("avg_order_value") * col("total_orders") - col("lifetime_value")) > col("lifetime_value") * 0.01)
    assert(bad.count() == 0, "avg × count ≈ lifetime value")
    val segs = gold.select("customer_segment").distinct().collect().map(_.getString(0)).toSet
    assert(segs.subsetOf(Set("VIP", "Regular", "Occasional", "Prospect")))
  }

  test("Medallion.ReferenceRoot honors the override property, defaults otherwise") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ref").toFile
    val crm = new java.io.File(tmp, "source_crm"); crm.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(crm, "cust_info.csv").toPath,
      "cst_id,cst_key,cst_firstname,cst_lastname,cst_marital_status,cst_gndr,cst_create_date\n" +
        "1,K1,Ann,Lee,S,F,2024-01-01\n")
    val prev = sys.props.get("graft.reference.datasets")
    sys.props("graft.reference.datasets") = tmp.getAbsolutePath
    try {
      assert(graft.queries.Medallion.ReferenceRoot == tmp.getAbsolutePath)
      val rows = graft.queries.Medallion.crmCustomersRaw(spark).collect()
      assert(rows.length == 1 && rows.head.getString(2) == "Ann",
        "the raw reader must resolve against the overridden root")
      assert(graft.SparkEntry.oracleSql("q76_silver_sales").contains(tmp.getAbsolutePath),
        "the q76 oracle must read the overridden root too")
    } finally prev match {
      case Some(v) => sys.props("graft.reference.datasets") = v
      case None    => sys.props.remove("graft.reference.datasets")
    }
    assert(graft.queries.Medallion.ReferenceRoot == "/root/reference/datasets",
      "clearing the override restores the container default")
  }
}

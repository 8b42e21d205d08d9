package graft.medallion

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gold-layer KPIs. The reference only declares the shape
  * (`gold.customer_analytics`, setup_orchestrator.py:502-516): per-customer
  * segment, lifetime value, order counts, average order value, last order
  * date. Built entirely from the §2 combinators — one join + one aggregation.
  *
  * Scale: sales⨝customers is a key-equi join on customer id; the aggregation
  * shares the same key, so with both sides pre-partitioned by customer id the
  * whole KPI build is one shuffle.
  */
object Gold {

  /** gold.customer_analytics from silver customers + silver sales. */
  def customerAnalytics(customers: DataFrame, sales: DataFrame): DataFrame = {
    val perCustomer = sales
      .where(col("sls_order_dt").isNotNull)
      .groupBy(col("sls_cust_id"))
      .agg(
        sum(col("sls_sales")).as("lifetime_value"),
        countDistinct(col("sls_ord_num")).as("total_orders"),
        max(col("sls_order_dt")).as("last_order_date"))
      .withColumn(
        "avg_order_value",
        col("lifetime_value").cast("double") / col("total_orders").cast("double"))
    customers
      .join(perCustomer, customers("cst_id") === perCustomer("sls_cust_id"), "left")
      .select(
        col("cst_id").as("customer_key"),
        concat_ws(" ", col("cst_firstname"), col("cst_lastname")).as("customer_name"),
        col("cst_gndr").as("gender"),
        coalesce(col("lifetime_value"), lit(0L)).as("lifetime_value"),
        coalesce(col("total_orders"), lit(0L)).as("total_orders"),
        coalesce(col("avg_order_value"), lit(0.0)).as("avg_order_value"),
        col("last_order_date"))
      .withColumn(
        "customer_segment",
        when(col("lifetime_value") >= 10000, "VIP")
          .when(col("lifetime_value") >= 1000, "Regular")
          .when(col("lifetime_value") > 0, "Occasional")
          .otherwise("Prospect"))
  }
}

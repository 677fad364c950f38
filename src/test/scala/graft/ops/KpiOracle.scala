package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Reference implementation of the two KPI tables: one aggregate per
  * table over the merged item rows, as the engine computed them before
  * it derived both from one grouping-sets aggregate
  * ([[Transform.kpiAggregate]]). TransformSpec checks the two agree row
  * for row. Revenue is summed exactly, as the engine does: a double sum
  * in another row order can round a tie to the other cent. */
object KpiOracle {

  private def exactSum(c: String) = sum(col(c).cast(DecimalType(38, 10))).cast("double")

  /** `agg_cat_kpi` (reference `Task_2/task_2.py:106-121`). */
  def catKpi(merged: DataFrame): DataFrame =
    merged
      .filter(col("category").isNotNull)
      .groupBy(col("category"), col("order_date"))
      .agg(
        exactSum("total_price").as("daily_revenue_raw"),
        countDistinct(col("order_id")).as("order_count"),
        sum(col("is_returned").cast("long")).as("return_count"))
      .withColumn("daily_revenue", bround(col("daily_revenue_raw"), 2))
      .withColumn("avg_order_value",
        bround(col("daily_revenue_raw") / col("order_count"), 2))
      .withColumn("avg_return_rate",
        bround(bround(col("return_count") / col("order_count"), 4) * 100, 2))
      .select("category", "order_date", "daily_revenue", "avg_order_value", "avg_return_rate")

  /** `agg_order_kpi` (reference `Task_2/task_2.py:124-137`). */
  def orderKpi(merged: DataFrame): DataFrame =
    merged
      .groupBy(col("order_date"))
      .agg(
        countDistinct(col("order_id")).as("total_orders"),
        exactSum("total_price").as("total_revenue_raw"),
        count(col("id")).as("total_items_sold"),
        avg(col("is_returned").cast("double")).as("return_rate_raw"),
        countDistinct(col("user_id")).as("unique_customers"))
      .withColumn("total_revenue", bround(col("total_revenue_raw"), 2))
      .withColumn("return_rate", bround(bround(col("return_rate_raw"), 4) * 100, 2))
      .select("order_date", "total_orders", "total_revenue", "total_items_sold",
        "return_rate", "unique_customers")
}

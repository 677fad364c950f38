package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{RawFixture, SparkSpec}
import graft.pipeline.Batch
import graft.schema.Schemas

/** KPI semantics unit tests — the ⚠ items of SURVEY.md §2.D on a frame
  * small enough to hand-compute: item-grain rates, null-category drop,
  * mixed-grain avg_return_rate — and the one-aggregate KPI plan against
  * the two-aggregate oracle [[KpiOracle]] on a fixture drop. */
class TransformSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def ts(s: String) = Timestamp.valueOf(s)

  // order 1 (returned, 2 items, cat A+missing), order 2 (kept, 1 item, cat A)
  private val ordersRows = Seq(
    Row(1L, 10L, "returned", ts("2025-03-08 10:00:00"), ts("2025-03-12 10:00:00"), ts("2025-03-09 10:00:00"), ts("2025-03-10 10:00:00"), 2L),
    Row(2L, 11L, "delivered", ts("2025-03-08 11:00:00"), null, ts("2025-03-09 11:00:00"), ts("2025-03-10 11:00:00"), 1L))

  private val itemsRows = Seq(
    Row(100L, 1L, 10L, 1000L, "returned", ts("2025-03-08 10:05:00"), null, null, ts("2025-03-12 10:00:00"), 50.0),
    Row(101L, 1L, 10L, 9999L, "returned", ts("2025-03-08 10:06:00"), null, null, ts("2025-03-12 10:00:00"), 30.0), // product 9999 missing from dim
    Row(102L, 2L, 11L, 1000L, "delivered", ts("2025-03-08 11:05:00"), null, null, null, 20.0))

  private val productsRows = Seq(
    Row(1000L, "AAA-1", 10.0, "CatA", "n", "b", 20.0, "d"))

  private lazy val validOrders =
    Validate.validateOrders(spark.createDataFrame(ordersRows.asJava, Schemas.orders))
  private lazy val items = spark.createDataFrame(itemsRows.asJava, Schemas.orderItems)
  private lazy val products = spark.createDataFrame(productsRows.asJava, Schemas.products)

  test("order_kpi: item grain, mixed columns, pandas-parity rounding") {
    val (_, orderKpi) = Transform.kpis(items, validOrders, products)
    val r = orderKpi.collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[java.sql.Date]("order_date").toString == "2025-03-08")
    assert(row.getAs[Long]("total_orders") == 2L)
    assert(row.getAs[Double]("total_revenue") == 100.0)
    assert(row.getAs[Long]("total_items_sold") == 3L)
    // 2 of 3 ITEM rows belong to a returned order → 66.67 (item-weighted,
    // not the order-weighted 50.0)
    assert(row.getAs[Double]("return_rate") == 66.67)
    assert(row.getAs[Long]("unique_customers") == 2L)
  }

  test("cat_kpi: null category rows vanish (pandas null-group-drop)") {
    val (catKpi, _) = Transform.kpis(items, validOrders, products)
    val rows = catKpi.collect()
    assert(rows.length == 1) // item 101's missing category never appears
    val row = rows.head
    assert(row.getAs[String]("category") == "CatA")
    assert(row.getAs[Double]("daily_revenue") == 70.0) // 50 + 20
    // avg_order_value = 70 / 2 distinct orders
    assert(row.getAs[Double]("avg_order_value") == 35.0)
    // mixed grain: 1 returned ITEM row / 2 distinct orders = 50%
    assert(row.getAs[Double]("avg_return_rate") == 50.0)
  }

  test("kpiAggregate projections equal the two-aggregate oracle, null keys included") {
    val raw = java.nio.file.Files.createTempDirectory("graft-kpi").toString
    RawFixture.stage(raw)
    val v = Batch.validate(Batch.readRaw(spark, raw))
    val m = Transform.merged(v.items, v.orders, v.products)
    val base = spark.createDataFrame(m.collect().toSeq.asJava, m.schema)
    // a null category counts for order_kpi only; a null order_date is a
    // group of its own in both tables
    val merged = base
      .unionByName(base.filter(col("id") <= 6)
        .withColumn("id", col("id") + 100000)
        .withColumn("category", lit(null).cast("string")))
      .unionByName(base.filter(col("id") > 6 && col("id") <= 12)
        .withColumn("id", col("id") + 200000)
        .withColumn("order_date", lit(null).cast("date")))
    val agg = Transform.kpiAggregate(merged)
    Seq(("category_kpi", Transform.catKpi(agg), KpiOracle.catKpi(merged)),
      ("order_kpi", Transform.orderKpi(agg), KpiOracle.orderKpi(merged)))
      .foreach { case (table, got, want) =>
        assert(got.schema == want.schema, table)
        val (g, w) = (got.collect().map(_.toString).sorted, want.collect().map(_.toString).sorted)
        assert(g.toSeq == w.toSeq, table)
      }
    assert(KpiOracle.orderKpi(merged).filter(col("order_date").isNull).count() == 1)
    assert(KpiOracle.catKpi(merged).filter(col("order_date").isNull).count() > 0)
  }

  test("joinOrdersItems keeps item-side user_id unprefixed (pandas _x side)") {
    val merged = Transform.joinOrdersItems(items, validOrders)
    assert(merged.columns.contains("user_id"))
    assert(merged.columns.contains("order_user_id"))
    assert(merged.columns.count(_ == "user_id") == 1)
  }
}

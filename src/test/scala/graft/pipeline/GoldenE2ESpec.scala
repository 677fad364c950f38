package graft.pipeline

import graft.SparkSpec
import graft.io.Sources
import graft.ops.{Transform, Validate}
import graft.schema.Schemas

/** End-to-end golden test (SURVEY.md §5.2 item 2): the reference's own
  * fixture corpus (`/root/reference/Data/`, read-only) through
  * validate → transform, asserted against the golden outputs recomputed
  * from the reference's exact pandas logic (FIXTURES.md §A.5).
  *
  * This is the strongest parity evidence we have: 31 order-KPI rows and
  * 215 category-KPI rows matching pandas to the sink-normalized 2dp.
  */
class GoldenE2ESpec extends SparkSpec {

  private val dataDir = "/root/reference/Data"

  private lazy val kpis = {
    // the golden values are the corpus's own; nothing else can stand in
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dataDir)))
      fail(s"reference corpus absent at $dataDir")
    val products = Sources.csv(spark, s"$dataDir/products.csv", Schemas.products)
    val orders = Sources.csvMulti(spark, s"$dataDir/orders", Schemas.orders)
    val items = Sources.csvMulti(spark, s"$dataDir/order_items", Schemas.orderItems)
    val validOrders = Validate.validateOrders(orders)
    val validItems = Validate.validateItems(items, validOrders)
    val (cat, ord) = Transform.kpis(validItems, validOrders, products)
    (cat.collect().map(r => (r.getString(0), r.getDate(1).toString) ->
      (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap,
      ord.collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap)
  }

  // FIXTURES.md §A.5 golden rows (order_date -> total_orders,
  // total_revenue, total_items_sold, return_rate, unique_customers)
  private val goldenOrderKpi = Map(
    "2025-03-08" -> ((286L, 69188.47, 870L, 24.71, 281L)),
    "2025-03-15" -> ((292L, 73359.79, 913L, 18.84, 282L)),
    "2025-03-23" -> ((338L, 80959.15, 1006L, 20.87, 333L)),
    "2025-03-29" -> ((276L, 66439.57, 842L, 13.66, 270L)),
    "2025-04-01" -> ((293L, 68776.39, 861L, 19.74, 291L)),
    "2025-04-06" -> ((288L, 69333.20, 869L, 23.36, 286L)),
    "2025-04-07" -> ((1L, 455.69, 5L, 0.00, 1L)))

  test("order_kpi matches the pandas golden (31 rows, spot values)") {
    val (_, ord) = kpis
    assert(ord.size == 31)
    goldenOrderKpi.foreach { case (d, exp) =>
      assert(ord(d) == exp, s"order_kpi[$d]")
    }
    // whole-table invariant: totals across all days
    assert(ord.values.map(_._1).sum == 9000L)   // every order exactly one day
    assert(ord.values.map(_._3).sum == 27007L)  // every item counted once
  }

  private val goldenCatKpi = Map(
    ("Beauty", "2025-03-08") -> ((10820.18, 102.08, 27.36)),
    ("Beauty", "2025-03-09") -> ((12462.31, 92.31, 31.85)),
    ("Beauty", "2025-03-10") -> ((11436.55, 104.92, 33.03)),
    ("Toys", "2025-04-05") -> ((9618.47, 95.23, 24.75)),
    ("Toys", "2025-04-06") -> ((11291.82, 95.69, 26.27)),
    ("Toys", "2025-04-07") -> ((127.43, 127.43, 0.00)))

  test("cat_kpi matches the pandas golden (215 rows, spot values)") {
    val (cat, _) = kpis
    assert(cat.size == 215)
    goldenCatKpi.foreach { case (k, exp) =>
      assert(cat(k) == exp, s"cat_kpi[$k]")
    }
  }
}

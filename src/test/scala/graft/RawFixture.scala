package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** A small raw drop the tests write themselves, shaped like the
  * reference corpus (FIXTURES.md §A.1–A.3): `products.csv` with a
  * nullable `brand`; orders in several part-files, `returned_at` null
  * exactly when the order was delivered, a few null `delivered_at`;
  * order_items in several part-files, each item carrying its order's
  * `user_id`, status and return time. Rows are clean, as in the corpus,
  * and the same on every call. */
object RawFixture {

  private val Categories = Seq("Beauty", "Books", "Clothing",
    "Electronics", "Home & Kitchen", "Sports", "Toys")
  private val Departments = Seq("Fashion", "Home", "Kids", "Media",
    "Outdoors", "Personal Care", "Tech")

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  private val Products = 40
  private val Orders = 90

  /** Writes `products.csv`, `orders/orders_part{1..3}.csv` and
    * `order_items/order_items_part{1..4}.csv` under `dir`: 90 orders over
    * 5 days, about 270 items. */
  def stage(dir: String): Unit = {
    val r = new java.util.Random(7L)
    def price(lo: Int, span: Int) =
      java.math.BigDecimal.valueOf(lo + r.nextInt(span).toLong, 2).toPlainString
    def ts(t: LocalDateTime) = Iso.format(t)

    val productRows = (1 to Products).map { id =>
      val brand = if (id % 13 == 0) "" else s"Brand${id % 9}"
      Seq(id, f"ABC-${10000000 + id}%08d", price(300, 9000),
        Categories(id % Categories.size), s"Product $id", brand,
        price(945, 16040), Departments(id % Departments.size)).mkString(",")
    }

    val day0 = LocalDateTime.parse("2025-03-08T00:00:00")
    val orderRows = Seq.newBuilder[String]
    val itemRows = Seq.newBuilder[String]
    var itemId = 0
    (1 to Orders).foreach { orderId =>
      val userId = 1000 + r.nextInt(Orders / 2)
      val created = day0.plusDays(orderId % 5).plusMinutes(r.nextInt(24 * 60))
      val returned = r.nextInt(5) == 0
      val status = if (returned) "returned" else "delivered"
      val shipped = ts(created.plusDays(1))
      val delivered = if (orderId % 17 == 0) "" else ts(created.plusDays(2))
      val returnedAt = if (returned) ts(created.plusDays(3)) else ""
      val n = 1 + r.nextInt(5)
      orderRows += Seq(orderId, userId, status, ts(created), returnedAt, shipped,
        delivered, n).mkString(",")
      (1 to n).foreach { _ =>
        itemId += 1
        itemRows += Seq(itemId, orderId, userId, 1 + r.nextInt(Products), status,
          ts(created), shipped, if (delivered.isEmpty) ts(created.plusDays(2)) else delivered,
          returnedAt, price(945, 16040)).mkString(",")
      }
    }

    def write(path: String, header: String, rows: Seq[String]): Unit = {
      Files.createDirectories(Paths.get(path).getParent)
      Files.write(Paths.get(path),
        (header +: rows).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    def parts(sub: String, header: String, rows: Seq[String], k: Int): Unit =
      rows.grouped(math.ceil(rows.size.toDouble / k).toInt).zipWithIndex.foreach {
        case (part, i) => write(s"$dir/$sub/${sub}_part${i + 1}.csv", header, part)
      }

    write(s"$dir/products.csv",
      "id,sku,cost,category,name,brand,retail_price,department", productRows)
    parts("orders", "order_id,user_id,status,created_at,returned_at,shipped_at," +
      "delivered_at,num_of_item", orderRows.result(), 3)
    parts("order_items", "id,order_id,user_id,product_id,status,created_at,shipped_at," +
      "delivered_at,returned_at,sale_price", itemRows.result(), 4)
  }

  /** Adds FIXTURES.md §A.4's poisoned rows to a drop [[stage]] wrote, as
    * one more part-file each for orders and order_items. One order lacks
    * its id, order 91 its `user_id` and order 92 its `created_at`;
    * order 93 is valid. Its items are one clean item and one per rule:
    * a null `id`, `product_id` or `sale_price`, a price of 0 and of
    * -1.5, and a product absent from `products.csv` (kept; it has no
    * category). The items of orders 91, 92 and 99999 are RI orphans. */
  def poison(dir: String): Unit = {
    val day = "2025-03-09T10:00:00"
    val next = "2025-03-10T10:00:00"
    val orders = Seq(
      s",1001,delivered,$day,,$next,$next,1",
      s"91,,delivered,$day,,$next,$next,1",
      s"92,1002,returned,,$next,$next,$next,1",
      s"93,1003,returned,$day,$next,$next,$next,8")
    def item(id: String, order: Int, product: String, price: String) =
      Seq(id, order, 1003, product, "returned", day, next, next, next, price).mkString(",")
    val items = Seq(
      item("900001", 91, "1", "10.00"),
      item("900002", 92, "2", "20.00"),
      item("900003", 99999, "3", "30.00"),
      item("", 93, "4", "40.00"),
      item("900005", 93, "", "50.00"),
      item("900006", 93, "5", ""),
      item("900007", 93, "6", "0"),
      item("900008", 93, "7", "-1.5"),
      item("900009", 93, "999", "60.25"),
      item("900010", 93, "8", "70.50"))
    Files.write(Paths.get(s"$dir/orders/orders_part4.csv"),
      ("order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item" +:
        orders).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$dir/order_items/order_items_part5.csv"),
      (("id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at," +
        "returned_at,sale_price") +: items).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
  }
}

package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded generator of reference-shaped inputs (FIXTURES.md §A.1–A.4).
  *
  * Money is kept as integer cents so the oracle can sum it exactly;
  * timestamps are epoch seconds (UTC). A `None` is an empty CSV field. */
object Gen {

  val Categories: IndexedSeq[String] = IndexedSeq("Beauty", "Books", "Clothing",
    "Electronics", "Home & Kitchen", "Sports", "Toys")
  val Departments: IndexedSeq[String] = IndexedSeq("Fashion", "Home", "Kids",
    "Media", "Outdoors", "Personal Care", "Tech")

  /** Every drop covers the reference corpus's 31 days from here, so each
    * drop re-upserts the same KPI keys (as the reference's re-runs do) and
    * the KV table keeps one size for the whole run. */
  val EpochDay: LocalDate = LocalDate.parse("2025-03-08")
  val DaysPerDrop = 31

  final case class Product(id: Long, category: String, brand: Option[String],
                           cost: Long, retail: Long, dept: String)
  final case class Order(orderId: Option[Long], userId: Option[Long],
                         returned: Boolean, createdAt: Option[Long],
                         returnedAt: Option[Long], shippedAt: Long,
                         deliveredAt: Option[Long], numItems: Int)
  final case class Item(id: Option[Long], orderId: Option[Long], userId: Long,
                        productId: Option[Long], returned: Boolean,
                        createdAt: Long, returnedAt: Option[Long],
                        priceCents: Option[Long])

  /** One drop's rows plus the part-file layout it lands in. */
  final case class Drop(index: Int, orders: IndexedSeq[Order],
                        items: IndexedSeq[Item], orderParts: Int, itemParts: Int)

  /** Sizes of a pipeline workload; `poison` is the share of rows poisoned
    * with the FIXTURES.md §A.4 kinds. */
  final case class DropShape(products: Int, orders: Int, orderParts: Int,
                             itemParts: Int, poison: Double)

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  def ts(sec: Long): String = tsFmt.format(Instant.ofEpochSecond(sec))
  def dateOf(sec: Long): LocalDate =
    Instant.ofEpochSecond(sec).atZone(ZoneOffset.UTC).toLocalDate
  def money(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString

  def rng(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + stream)

  def products(seed: Long, n: Int): IndexedSeq[Product] = {
    val r = rng(seed, -1)
    (1 to n).map { id =>
      val cost = 300L + r.nextLong(9000)
      Product(id, Categories(r.nextInt(Categories.size)),
        if (r.nextInt(100) == 0) None else Some(s"Brand${r.nextInt(400)}"),
        cost, cost + 100 + r.nextLong(9000), Departments(r.nextInt(Departments.size)))
    }
  }

  /** Drop `k` of a pipeline workload. Order and item ids are unique across
    * drops; every order's items share its user and return state, as in
    * the reference corpus. */
  def drop(seed: Long, k: Int, shape: DropShape): Drop = {
    val r = rng(seed, k)
    val day0 = EpochDay.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val idBase = 10000000L * (k + 1)
    val orders = IndexedSeq.newBuilder[Order]
    val items = IndexedSeq.newBuilder[Item]
    var itemId = idBase
    for (i <- 0 until shape.orders) {
      val created = day0 + r.nextLong(DaysPerDrop * 86400L)
      val returned = r.nextInt(100) < 21
      val shipped = created + 3600 + r.nextLong(2 * 86400L)
      val delivered = shipped + 3600 + r.nextLong(4 * 86400L)
      val returnedAt = if (returned) Some(delivered + 86400 + r.nextLong(5 * 86400L)) else None
      val user = 1L + r.nextLong(100000)
      val n = 1 + r.nextInt(5)
      val clean = Order(Some(idBase + i), Some(user), returned, Some(created),
        returnedAt, shipped,
        if (!returned && r.nextInt(100) == 0) None else Some(delivered), n)
      orders += (if (r.nextDouble() >= shape.poison) clean else r.nextInt(3) match {
        case 0 => clean.copy(orderId = None)
        case 1 => clean.copy(userId = None)
        case _ => clean.copy(createdAt = None)
      })
      for (_ <- 0 until n) {
        itemId += 1
        val ok = Item(Some(itemId), Some(idBase + i), user,
          Some(1L + r.nextLong(shape.products)), returned, created, returnedAt,
          Some(945L + r.nextLong(16040)))
        items += (if (r.nextDouble() >= shape.poison) ok else r.nextInt(7) match {
          case 0 => ok.copy(id = None)
          case 1 => ok.copy(productId = None)
          case 2 => ok.copy(priceCents = None)
          case 3 => ok.copy(priceCents = Some(0L))
          case 4 => ok.copy(priceCents = Some(-150L))
          case 5 => ok.copy(orderId = Some(idBase + 9000000L + i)) // RI orphan
          case _ => ok.copy(productId = Some(shape.products + 1L + r.nextLong(1000))) // unknown product
        })
      }
    }
    Drop(k, orders.result(), items.result(), shape.orderParts, shape.itemParts)
  }

  private def opt[T](o: Option[T])(f: T => String): String = o.map(f).getOrElse("")

  def productLine(p: Product): String =
    s"${p.id},SKU-${"%08d".format(p.id)},${money(p.cost)},${p.category},Product ${p.id}," +
      s"${p.brand.getOrElse("")},${money(p.retail)},${p.dept}"

  def orderLine(o: Order): String =
    Seq(opt(o.orderId)(_.toString), opt(o.userId)(_.toString),
      if (o.returned) "returned" else "delivered", opt(o.createdAt)(ts),
      opt(o.returnedAt)(ts), ts(o.shippedAt), opt(o.deliveredAt)(ts),
      o.numItems.toString).mkString(",")

  def itemLine(i: Item): String =
    Seq(opt(i.id)(_.toString), opt(i.orderId)(_.toString), i.userId.toString,
      opt(i.productId)(_.toString), if (i.returned) "returned" else "delivered",
      ts(i.createdAt), ts(i.createdAt + 7200), ts(i.createdAt + 3 * 86400),
      opt(i.returnedAt)(ts), opt(i.priceCents)(money)).mkString(",")

  val ProductsHeader = "id,sku,cost,category,name,brand,retail_price,department"
  val OrdersHeader =
    "order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item"
  val ItemsHeader = "id,order_id,user_id,product_id,status,created_at,shipped_at," +
    "delivered_at,returned_at,sale_price"

  /** Write `lines` as a CSV with `header`; returns bytes written. */
  def writeCsv(f: File, header: String, lines: Iterator[String]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(header); w.write('\n')
      lines.foreach { l => w.write(l); w.write('\n') }
    } finally w.close()
    f.length()
  }

  /** Stage one drop under `dir` in the raw layout (`products.csv`,
    * `orders/`, `order_items/`); part names carry the drop index so the
    * file source never mistakes a later drop for a seen file. Returns the
    * staged files, products first, and their total bytes. */
  def stageDrop(dir: File, products: IndexedSeq[Product], d: Drop): (Seq[File], Long) = {
    def parts[T](rows: IndexedSeq[T], n: Int): Seq[IndexedSeq[T]] = {
      val size = math.max(1, (rows.size + n - 1) / n)
      rows.grouped(size).toSeq
    }
    val pf = new File(dir, "products.csv")
    var bytes = writeCsv(pf, ProductsHeader, products.iterator.map(productLine))
    val files = Seq.newBuilder[File] += pf
    for ((rows, i) <- parts(d.items, d.itemParts).zipWithIndex) {
      val f = new File(dir, s"order_items/d${d.index}_order_items_part${i + 1}.csv")
      bytes += writeCsv(f, ItemsHeader, rows.iterator.map(itemLine)); files += f
    }
    for ((rows, i) <- parts(d.orders, d.orderParts).zipWithIndex) {
      val f = new File(dir, s"orders/d${d.index}_orders_part${i + 1}.csv")
      bytes += writeCsv(f, OrdersHeader, rows.iterator.map(orderLine)); files += f
    }
    (files.result(), bytes)
  }

  // -------- lake micro-batches --------

  /** A row of the lake's `order_items` table (partitioned by `order_date`). */
  final case class LakeRow(id: Long, orderId: Long, userId: Long, productId: Long,
                           status: String, priceCents: Long, orderDate: LocalDate)

  val LakeHeader = "id,order_id,user_id,product_id,status,sale_price,order_date"
  def lakeLine(r: LakeRow): String =
    s"${r.id},${r.orderId},${r.userId},${r.productId},${r.status},${money(r.priceCents)},${r.orderDate}"

  /** `n` new lake rows with ids from `firstId`, dated on `days`
    * consecutive days from `startDay` (late-arriving items of one week). */
  def lakeBatch(seed: Long, stream: Long, firstId: Long, n: Int,
                startDay: Int, days: Int): IndexedSeq[LakeRow] = {
    val r = rng(seed, 1000000L + stream)
    (0 until n).map { i =>
      LakeRow(firstId + i, firstId / 3 + i / 3, 1L + r.nextLong(100000),
        1L + r.nextLong(10000), "delivered", 945L + r.nextLong(16040),
        EpochDay.plusDays(((startDay + r.nextInt(days)) % DaysPerDrop).toLong))
    }
  }
}

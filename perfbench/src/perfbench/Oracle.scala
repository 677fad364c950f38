package perfbench

import java.math.{BigDecimal => JBig, MathContext, RoundingMode}

/** Plain-Scala KPI oracle over the generated rows, independent of Spark.
  *
  * It follows the reference semantics the engine implements: validation
  * drops null keys, non-positive prices and RI orphans; KPIs are on the
  * joined ITEM grain; `is_returned` comes from the order; the category
  * return rate is the mixed-grain returned items / distinct orders;
  * rounding is HALF_EVEN (4dp then ×100 then 2dp for rates), then the KV
  * sink's DECIMAL(12,2) coercion; a null category is dropped from
  * `category_kpi` but still counts in `order_kpi`.
  *
  * A value the engine derives as a double quotient can land exactly on a
  * rounding tie, where the last bit of a float sum decides the side. The
  * oracle then accepts both neighbours; every other value must match
  * exactly. */
object Oracle {

  /** Expected KV item: column -> accepted string values. */
  type Expected = Map[String, Set[String]]

  private val Mc = MathContext.DECIMAL128

  private def two(b: JBig): String = b.setScale(2, RoundingMode.HALF_EVEN).toPlainString

  /** `bround(num/den, 2)`, both sides of an exact tie accepted. */
  private def quotient2(num: JBig, den: JBig): Set[String] = {
    val q = num.divide(den, Mc)
    val scaled = q.movePointRight(2)
    val frac = scaled.subtract(new JBig(scaled.toBigInteger))
    if (frac.abs.compareTo(new JBig("0.5")) == 0)
      Set(q.setScale(2, RoundingMode.FLOOR).toPlainString,
        q.setScale(2, RoundingMode.CEILING).toPlainString)
    else Set(two(q))
  }

  /** `bround(bround(a/b, 4) * 100, 2)`: a ratio of integers is exact in
    * decimal whenever it can be a tie, so no ambiguity arises here. */
  private def pct(a: Long, b: Long): String =
    two(new JBig(a).divide(new JBig(b), Mc).setScale(4, RoundingMode.HALF_EVEN)
      .movePointRight(2))

  private def cents(c: Long): String = JBig.valueOf(c, 2).toPlainString

  final class Acc {
    var cents = 0L; var items = 0L; var returned = 0L
    val orders = new java.util.HashSet[Long](); val users = new java.util.HashSet[Long]()
  }

  /** The two KPI tables a drop must leave in the KV sink, keyed like
    * `Sinks.kvUpsert` keys them. */
  def kpis(products: IndexedSeq[Gen.Product], d: Gen.Drop)
      : (Map[String, Expected], Map[String, Expected]) = {
    val category = new Array[String](products.size + 1)
    products.foreach(p => category(p.id.toInt) = p.category)
    val orders = new java.util.HashMap[Long, Gen.Order]()
    d.orders.foreach { o =>
      if (o.orderId.isDefined && o.userId.isDefined && o.createdAt.isDefined)
        orders.put(o.orderId.get, o)
    }
    val byDay = scala.collection.mutable.HashMap[String, Acc]()
    val byCat = scala.collection.mutable.HashMap[(String, String), Acc]()
    for (i <- d.items if i.id.isDefined && i.productId.isDefined &&
      i.priceCents.exists(_ > 0) && i.orderId.exists(orders.containsKey)) {
      val o = orders.get(i.orderId.get)
      val day = Gen.dateOf(o.createdAt.get).toString
      val ret = o.returnedAt.isDefined
      val pid = i.productId.get
      val cat = if (pid >= 1 && pid < category.length) Option(category(pid.toInt)) else None
      val accs = byDay.getOrElseUpdate(day, new Acc) +:
        cat.map(c => byCat.getOrElseUpdate((c, day), new Acc)).toSeq
      accs.foreach { a =>
        a.cents += i.priceCents.get; a.items += 1
        if (ret) a.returned += 1
        a.orders.add(o.orderId.get); a.users.add(i.userId)
      }
    }
    val orderKpi = byDay.map { case (day, a) =>
      day -> Map("order_date" -> Set(day),
        "total_orders" -> Set(a.orders.size.toString),
        "total_revenue" -> Set(cents(a.cents)),
        "total_items_sold" -> Set(a.items.toString),
        "return_rate" -> Set(pct(a.returned, a.items)),
        "unique_customers" -> Set(a.users.size.toString))
    }.toMap
    val catKpi = byCat.map { case ((c, day), a) =>
      s"$c|$day" -> Map("category" -> Set(c), "order_date" -> Set(day),
        "daily_revenue" -> Set(cents(a.cents)),
        "avg_order_value" -> quotient2(JBig.valueOf(a.cents, 2), new JBig(a.orders.size)),
        "avg_return_rate" -> Set(pct(a.returned, a.orders.size)))
    }.toMap
    (catKpi, orderKpi)
  }

  /** Mismatches between a KV table and the expected rows, as readable
    * lines (empty = equal). */
  def diff(table: String, expected: Map[String, Expected],
           actual: Map[String, Map[String, String]]): Seq[String] = {
    val missing = (expected.keySet -- actual.keySet).toSeq.sorted.map(k => s"$table: missing $k")
    val extra = (actual.keySet -- expected.keySet).toSeq.sorted.map(k => s"$table: unexpected $k")
    val wrong = expected.toSeq.sortBy(_._1).flatMap { case (k, exp) =>
      actual.get(k).toSeq.flatMap { got =>
        val cols = exp.keySet ++ got.keySet
        cols.toSeq.sorted.flatMap { c =>
          val g = got.get(c).orNull
          if (exp.get(c).exists(_.contains(g))) None
          else Some(s"$table[$k].$c = $g, expected ${exp.get(c).map(_.mkString(" or ")).orNull}")
        }
      }
    }
    missing ++ extra ++ wrong
  }

  // -------- lake model --------

  /** In-memory model of the lake table: id -> row. MoR upsert semantics:
    * matched keys take the update's columns, new keys insert. */
  final class LakeModel {
    val rows = new java.util.HashMap[Long, Gen.LakeRow]()
    def add(rs: Iterable[Gen.LakeRow]): Unit = rs.foreach(r => rows.put(r.id, r))

    /** Daily revenue view: order_date -> (sum_value, n_rows). */
    def view: Map[String, (String, Long)] = {
      val acc = scala.collection.mutable.HashMap[String, (Long, Long)]()
      rows.values.forEach { r =>
        val k = r.orderDate.toString
        val (s, n) = acc.getOrElse(k, (0L, 0L))
        acc(k) = (s + r.priceCents, n + 1)
      }
      acc.map { case (k, (s, n)) => k -> (cents(s), n) }.toMap
    }

    def day(d: String): (String, Long) = view.getOrElse(d, (cents(0), 0L))
  }
}

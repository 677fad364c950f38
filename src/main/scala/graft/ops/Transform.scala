package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Transformation operators (SURVEY.md §2.C/§2.D): the joins and the two
  * KPI tables of reference `Task_2/task_2.py:57-139`.
  *
  * Scale notes baked into the design:
  *  - the category lookup is an explicit `broadcast()` — the reference's
  *    `dict.map` (`Task_2/task_2.py:88,97`) IS a manual broadcast hash
  *    join, and the dim table stays small at any fact-table scale;
  *  - the fact-side inner join shuffles both sides on `order_id` once;
  *    both KPI tables come from ONE grouping-sets aggregate over the
  *    joined rows ([[kpiAggregate]]), so the scan and the join run once,
  *    and each table is a projection of it ([[catKpi]], [[orderKpi]]),
  *    so the KPI math is written once;
  *  - `countDistinct` is exact, as the reference computes; at 100 TB an
  *    `approx_count_distinct` (HLL) variant is declared separately rather
  *    than silently substituted.
  */
object Transform {

  /** `prj_is_returned` (reference `Task_2/task_2.py:91`):
    * `is_returned = returned_at IS NOT NULL`. */
  def isReturned(src: String = "returned_at")(df: DataFrame): DataFrame =
    df.withColumn("is_returned", col(src).isNotNull)

  /** `prj_total_price` (reference `Task_2/task_2.py:103`): alias —
    * `sale_price` already accounts for quantity per the reference comment. */
  def totalPrice(src: String = "sale_price")(df: DataFrame): DataFrame =
    df.withColumn("total_price", col(src))

  /** `join_inner_eq` (reference `Task_2/task_2.py:94`): order_items ⋈
    * orders on `order_id`. pandas suffixes duplicate columns `_x`/`_y`;
    * Spark forbids ambiguity, so order-side overlapping columns are
    * prefixed `order_` up front. The reference consumes the item-side
    * `user_id_x` (`Task_2/task_2.py:131`), which maps to the unprefixed
    * `user_id` here — FIXTURES.md §A verified both sides agree on every
    * row anyway. */
  def joinOrdersItems(items: DataFrame, orders: DataFrame): DataFrame = {
    val overlap = orders.columns.toSet.intersect(items.columns.toSet) - "order_id"
    val renamed = orders.withColumnsRenamed(overlap.map(c => c -> s"order_$c").toMap)
    items.join(renamed, Seq("order_id"), "inner")
  }

  /** `join_lookup_cat` (reference `Task_2/task_2.py:88,97`): broadcast
    * dimension lookup `product_id → category`; LEFT join preserves the
    * NaN-on-miss semantics of the reference's `dict.map`. */
  def lookupCategory(items: DataFrame, products: DataFrame): DataFrame =
    items.join(
      broadcast(products.select(col("id").as("product_id"), col("category"))),
      Seq("product_id"), "left")

  /** Both KPI tables' aggregates in one grouping-sets aggregate over
    * `merged`, so a batch scans and joins its items once for both: set
    * (order_date, category) feeds [[catKpi]], set (order_date) feeds
    * [[orderKpi]], told apart by `kpi_set` (`grouping_id()`, 0 and 1).
    * Both are computed on the joined ITEM grain, so orders with more
    * items weigh more. The (order_date, category) set keeps its null
    * category group here; [[catKpi]] drops it.
    *
    * Revenue is summed exactly (as `ExactMoney`) and then made a
    * double: a double sum depends on the order rows arrive in, which
    * depends on how the input files are split, and a quotient that
    * lands on a rounding tie (527.73 / 6 = 87.955) would then round to
    * either cent from one run to the next. */
  def kpiAggregate(merged: DataFrame): DataFrame =
    merged
      .groupingSets(Seq(Seq(col("order_date"), col("category")), Seq(col("order_date"))),
        col("order_date"), col("category"))
      .agg(
        grouping_id().as("kpi_set"),
        sum(col("total_price").cast(ExactMoney)).cast("double").as("revenue_raw"),
        countDistinct(col("order_id")).as("order_count"),
        sum(col("is_returned").cast("long")).as("return_count"),
        count(col("id")).as("item_count"),
        avg(col("is_returned").cast("double")).as("return_share"),
        countDistinct(col("user_id")).as("customer_count"))

  /** Wide enough for any price sum short of 10^28, and for every
    * decimal digit of a price a double can print. */
  private val ExactMoney = DecimalType(38, 10)

  /** A ratio as the sink's percent: rounded HALF_EVEN (`bround`, as
    * numpy) to 4dp, ×100, then to 2dp as the KV sink normalizes
    * (`Task_2/task_2.py:118-121,135-137`). */
  private def percent(ratio: Column): Column = bround(bround(ratio, 4) * 100, 2)

  /** Category KPIs (`agg_cat_kpi`, reference `Task_2/task_2.py:106-121`),
    * a projection of [[kpiAggregate]].
    *
    * Semantics preserved exactly (SURVEY.md §2.D ⚠):
    *  - `avg_return_rate` = item-level return_count / distinct order count
    *    (mixed-grain ratio, can exceed 1; do not "fix");
    *  - pandas drops null group keys, Spark keeps them → explicit
    *    `category IS NOT NULL` filter;
    *  - money is rounded HALF_EVEN to 2dp, as the KV sink performs
    *    (`Task_2/task_2.py:172`).
    */
  def catKpi(kpiAgg: DataFrame): DataFrame =
    kpiAgg
      .filter(col("kpi_set") === 0 && col("category").isNotNull)
      .select(col("category"), col("order_date"),
        bround(col("revenue_raw"), 2).as("daily_revenue"),
        bround(col("revenue_raw") / col("order_count"), 2).as("avg_order_value"),
        percent(col("return_count") / col("order_count")).as("avg_return_rate"))

  /** Order KPIs (`agg_order_kpi`, reference `Task_2/task_2.py:124-137`),
    * a projection of [[kpiAggregate]]. `return_rate` is the
    * item-weighted mean of `is_returned` (`Task_2/task_2.py:190`). */
  def orderKpi(kpiAgg: DataFrame): DataFrame =
    kpiAgg
      .filter(col("kpi_set") === 1)
      .select(col("order_date"),
        col("order_count").as("total_orders"),
        bround(col("revenue_raw"), 2).as("total_revenue"),
        col("item_count").as("total_items_sold"),
        percent(col("return_share")).as("return_rate"),
        col("customer_count").as("unique_customers"))

  /** Full Task-2 composition from validated inputs to both KPI frames
    * (reference `Task_2/task_2.py:57-139`). `is_returned` is derived on
    * the ORDER side before the join (`Task_2/task_2.py:91`), so after the
    * item ⋈ order merge it marks "item row belongs to a returned order" —
    * the item-grain semantics both KPIs depend on. */
  def merged(validItems: DataFrame, validOrders: DataFrame, products: DataFrame): DataFrame =
    totalPrice()(
      lookupCategory(
        joinOrdersItems(validItems, isReturned()(validOrders)),
        products))

  /** Both KPI tables, (category KPIs, order KPIs), as projections of one
    * [[kpiAggregate]] plan. */
  def kpis(validItems: DataFrame, validOrders: DataFrame, products: DataFrame)
      : (DataFrame, DataFrame) = {
    val agg = kpiAggregate(merged(validItems, validOrders, products))
    (catKpi(agg), orderKpi(agg))
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Validation operators (SURVEY.md §2.B + `join_semi_ri`), each a pure
  * `DataFrame => DataFrame` so it is independently testable and
  * independently declarable in `SparkEntry.queries`.
  *
  * All of these are single narrow predicates or a semi-join — Catalyst
  * pushes the filters into the scan (`PushedFilters` in the physical
  * plan), so at 100 TB the invalid rows never leave the reader, where the
  * reference materializes the full frame first
  * (`Task_1/task_1.py:120-127`).
  */
object Validate {

  /** Multi-column NOT NULL filter (`flt_notnull_orders` /
    * `flt_notnull_items`, reference `Task_1/task_1.py:125-126`
    * `dropna(subset=...)`). */
  def dropNullsAny(cols: Seq[String])(df: DataFrame): DataFrame =
    df.na.drop("any", cols)

  /** Comparison predicate (`flt_price_pos`, reference
    * `Task_1/task_1.py:127`): keep `col > 0`. NULL comparisons are false,
    * matching pandas' NaN-comparison semantics, so this also drops nulls. */
  def positive(colName: String)(df: DataFrame): DataFrame =
    df.filter(col(colName) > lit(0))

  /** Referential-integrity semi-join (`join_semi_ri`, reference
    * `Task_1/task_1.py:130-131` — a hash-set `isin`). LEFT SEMI keeps
    * exactly the child rows whose key exists in `valid`; Catalyst/AQE pick
    * broadcast vs shuffled-hash by the size of `valid`, which is the
    * scale-out generalization of the reference's in-memory set. The key
    * side is not deduplicated: a semi join emits each left row at most
    * once however often its key repeats, and a `distinct` would cost an
    * aggregate (and a Spark job) of its own. */
  def semiJoinRI(valid: DataFrame, key: String)(df: DataFrame): DataFrame =
    df.join(valid.select(key), Seq(key), "left_semi")

  /** The complement — orphans that fail referential integrity (not in the
    * reference, which silently drops them; exposed for data-quality
    * reporting). Like [[semiJoinRI]], an anti join never duplicates left
    * rows, so the key side is not deduplicated. */
  def antiJoinOrphans(valid: DataFrame, key: String)(df: DataFrame): DataFrame =
    df.join(valid.select(key), Seq(key), "left_anti")

  /** Timestamp → date derivation, null-preserving (`prj_derive_dates`,
    * reference `Task_1/task_1.py:135-136` `pd.to_datetime(...).dt.date`). */
  def deriveDate(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, to_date(col(src)))

  /** Quarantine split: one pass tags every row with the names of the
    * rules it fails (`_reasons`, empty array = valid) and returns the
    * (valid, invalid) pair. The reference's validation silently DISCARDS
    * bad rows (`Task_1/task_1.py:125-127` — dropna/comparison, no audit
    * trail); a production lake routes them to a quarantine sink with the
    * failure reason instead. Both returned frames share the single
    * tagged plan, so Spark computes the rule columns once per row; each
    * side's filter then pushes into its own scan branch. Rules must be
    * deterministic column predicates (TRUE = pass). */
  def quarantine(rules: Map[String, org.apache.spark.sql.Column])(
      df: DataFrame): (DataFrame, DataFrame) = {
    val reasons = array_compact(array(rules.toSeq.sortBy(_._1).map {
      case (name, pred) => when(!coalesce(pred, lit(false)), lit(name))
    }: _*))
    val tagged = df.withColumn("_reasons", reasons)
    (tagged.filter(size(col("_reasons")) === 0).drop("_reasons"),
      tagged.filter(size(col("_reasons")) > 0))
  }

  // -------- composed Task-1 pipeline (reference `Task_1/task_1.py:106-141`) --------

  /** Validated orders: NOT NULL on the mandatory keys, then derive
    * `order_date` / `return_date`. */
  def validateOrders(orders: DataFrame): DataFrame = {
    val kept = dropNullsAny(Seq("order_id", "user_id", "created_at"))(orders)
    deriveDate("returned_at", "return_date")(deriveDate("created_at", "order_date")(kept))
  }

  /** The row-local rules of [[validateItems]]: NOT NULL and positive
    * price (`Task_1/task_1.py:126-127`), without the RI semi join. An
    * inner join on `order_id` against the validated orders drops exactly
    * the rows the semi join would, so a plan that makes that join anyway
    * (the KPI plan) can start from these rows. */
  def validateItemRows(items: DataFrame): DataFrame =
    positive("sale_price")(dropNullsAny(Seq("id", "product_id", "sale_price"))(items))

  /** Validated order_items: NOT NULL, positive price, and RI against the
    * already-validated orders (`Task_1/task_1.py:126-131`). */
  def validateItems(items: DataFrame, validOrders: DataFrame): DataFrame =
    semiJoinRI(validOrders, "order_id")(validateItemRows(items))
}

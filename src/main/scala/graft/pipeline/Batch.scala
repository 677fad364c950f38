package graft.pipeline

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.{Sinks, Sources}
import graft.ops.{Transform, Validate}
import graft.schema.Schemas

/** The composed batch pipeline — the reference's two Fargate tasks
  * (`Task_1/task_1.py:162-196`, `Task_2/task_2.py:266-299`) as two pure
  * functions over DataFrames plus explicit sink steps.
  *
  * Differences from the reference, by design:
  *  - the validated layer is typed parquet, not a CSV round-trip
  *    (SURVEY.md §7.5 item 7) — `order_date` stays DateType end to end
  *    and is formatted ISO only at the KV boundary;
  *  - the KPI plan (join → one aggregate for both tables) runs once per
  *    batch, from the same validated frames the validated layer is
  *    written from and at the same time as those writes, not from a
  *    read-back of the layer;
  *  - its result is collected to the driver, every sink reads that copy,
  *    and the sinks write it from the driver (`Sinks.kvUpsert`,
  *    `Sinks.csvTimestamped`): no Spark job runs for rows already there;
  *  - actions that do not depend on each other run concurrently on the
  *    driver (the validated-layer writes and the KPI plan, the four sink
  *    writes), and the archive runs last, after every sink has finished.
  */
object Batch {

  final case class Inputs(products: DataFrame, orders: DataFrame, items: DataFrame)
  final case class Validated(products: DataFrame, orders: DataFrame, items: DataFrame)

  /** Read the raw snapshot (reference `Task_1/task_1.py:120-122`). */
  def readRaw(spark: SparkSession, rawDir: String): Inputs = Inputs(
    products = Sources.csv(spark, s"$rawDir/products.csv", Schemas.products),
    orders = Sources.csvMulti(spark, s"$rawDir/orders", Schemas.orders),
    items = Sources.csvMulti(spark, s"$rawDir/order_items", Schemas.orderItems))

  /** Task 1 — validation (`Task_1/task_1.py:106-141`): no products
    * validation (mirroring the reference, which despite its README never
    * validates products — SURVEY.md §0 discrepancy 1). */
  def validate(in: Inputs): Validated = {
    val orders = Validate.validateOrders(in.orders)
    Validated(in.products, orders, Validate.validateItems(in.items, orders))
  }

  /** Task 1 materialization: validated layer as parquet under
    * `validatedDir` (reference writes CSVs, `Task_1/task_1.py:181-183`;
    * CSV boundary kept available via `Sinks.csv` when interop needs it). */
  def writeValidated(v: Validated, validatedDir: String): Unit = {
    concurrently(
      () => v.products.write.mode("overwrite").parquet(s"$validatedDir/products"),
      () => v.orders.write.mode("overwrite").parquet(s"$validatedDir/orders"),
      () => v.items.write.mode("overwrite").parquet(s"$validatedDir/order_items"))
  }

  def readValidated(spark: SparkSession, validatedDir: String): Validated = Validated(
    products = Sources.parquet(spark, s"$validatedDir/products"),
    orders = Sources.parquet(spark, s"$validatedDir/orders"),
    items = Sources.parquet(spark, s"$validatedDir/order_items"))

  /** Task 2 — transformation (`Task_2/task_2.py:57-139`): the one KPI
    * aggregate that feeds both tables ([[Transform.kpiAggregate]]) runs
    * once and comes back as driver-side rows; both KPI tables are
    * projections of them, which Catalyst folds into a `LocalRelation`.
    * So every sink reads the computed rows instead of re-running the
    * plan, and writes them from the driver: no Spark job, and a CSV sink
    * writes exactly one part. Safe to collect: the aggregate is bounded
    * by categories × days, never by fact rows. [[runAll]] runs this
    * alongside the validated-layer writes. */
  def transform(v: Validated): (DataFrame, DataFrame) = {
    val agg = Transform.kpiAggregate(Transform.merged(v.items, v.orders, v.products))
    val rows = agg.sparkSession
      .createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    (Transform.catKpi(rows), Transform.orderKpi(rows))
  }

  /** Task 2 sinks (`Task_2/task_2.py:144-235`): KV upserts keyed like the
    * DynamoDB tables and timestamped CSVs under `processed/<ts>/`, all four
    * concurrently; returns once every one has finished. */
  def writeSinks(catKpi: DataFrame, orderKpi: DataFrame, processedDir: String,
                 ts: String, kvFactory: () => Sinks.KvClient): Unit = {
    concurrently(
      () => Sinks.kvUpsert(catKpi, "category_kpi", Seq("category", "order_date"), kvFactory),
      () => Sinks.kvUpsert(orderKpi, "order_kpi", Seq("order_date"), kvFactory),
      () => Sinks.csvTimestamped(catKpi, processedDir, "category_kpi", ts),
      () => Sinks.csvTimestamped(orderKpi, processedDir, "order_kpi", ts))
  }

  /** Full run: validate → (materialize ‖ transform) → sinks → archive,
    * the Step Function's Task1→Task2 serialization collapsed into one
    * driver program. The KPI plan does not wait for the validated layer:
    * it runs on the validated frames while they are written, and nothing
    * reads the layer back ([[readValidated]] serves a Task 2 run on its
    * own). Its items are those before the RI semi join
    * ([[Validate.validateItemRows]]). That is exact, because
    * [[Transform.joinOrdersItems]] is an inner join on `order_id` against
    * the same validated orders, (items ⋉ O) ⋈ O = items ⋈ O, and the plan
    * broadcasts the orders once instead of twice. Each step waits for all
    * of its actions: the sinks start once the validated layer has
    * committed, and the archive runs strictly after the sinks complete
    * (SURVEY.md §7.5 item 5). */
  def runAll(spark: SparkSession, rawDir: String, workDir: String,
             kvFactory: () => Sinks.KvClient,
             batchTimeMillis: Long = System.currentTimeMillis()): Unit = {
    val ts = Sinks.batchTimestamp(batchTimeMillis)
    val in = readRaw(spark, rawDir)
    val v = validate(in)
    val kpis = new AtomicReference[(DataFrame, DataFrame)]()
    concurrently(
      () => writeValidated(v, s"$workDir/validated"),
      () => kpis.set(transform(v.copy(items = Validate.validateItemRows(in.items)))))
    val (cat, ord) = kpis.get
    writeSinks(cat, ord, s"$workDir/processed", ts, kvFactory)
    Sinks.archive(spark, rawDir, s"$workDir/archive", ts)
  }

  /** [[runAll]] under the reference's per-task wall-clock budget
    * (`TimeoutSeconds: 300`, StateMachine.txt:31,68): an over-budget
    * run is CANCELLED (job group kill), the terminal FAILED record
    * lands under `<workDir>/status/`, and
    * [[Watchdog.BudgetExceededException]] surfaces — the enforce-able
    * SLA, not just the recorded one. */
  def runAllWithBudget(spark: SparkSession, rawDir: String, workDir: String,
                       kvFactory: () => Sinks.KvClient,
                       budgetMillis: Long = 300000L,
                       batchTimeMillis: Long = System.currentTimeMillis()): Unit =
    Watchdog.runWithBudget(spark, s"$workDir/status",
      s"batch-${Sinks.batchTimestamp(batchTimeMillis)}", budgetMillis) {
      runAll(spark, rawDir, workDir, kvFactory, batchTimeMillis)
    }

  /** Run independent actions, each on a fresh thread, and wait for all of
    * them. A fresh thread inherits the caller's Spark local properties —
    * the job group [[Watchdog.runWithBudget]] and
    * [[Streaming.enforceBudget]] cancel, and the streaming query's own —
    * which a pooled thread would carry over from whichever run used it
    * last. The first failure is rethrown once every action has finished.
    *
    * An interrupt of the wait (a budget ran out, or the streaming query
    * was stopped) is passed on to every action: a driver-side sink write
    * is no Spark job, so cancelling a job group cannot stop it. The
    * interrupt is rethrown once every action has finished. */
  private def concurrently(actions: (() => Any)*): Unit = {
    val failure = new AtomicReference[Throwable]()
    val threads = actions.zipWithIndex.map { case (action, i) =>
      val t = new Thread(() =>
        try action()
        catch { case e: Throwable => failure.compareAndSet(null, e) },
        s"graft-batch-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        threads.foreach { t =>
          while (t.isAlive) try t.join() catch { case _: InterruptedException => () }
        }
        throw e
    }
    Option(failure.get).foreach(e => throw e)
  }
}

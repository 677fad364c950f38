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
  *  - the KV sink writes partition-parallel (`Sinks.kvUpsert`) instead of
  *    a driver row loop;
  *  - the KPI plan (read → join → one aggregate for both tables) runs
  *    once per batch: its result is collected to the driver and every
  *    sink reads that copy;
  *  - actions that do not depend on each other run concurrently on the
  *    driver (the three validated-layer writes, the four sink writes),
  *    and the archive runs last, after every sink has finished.
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
    * once and comes back as a driver-resident frame of one partition;
    * both KPI tables are projections of it, so every sink reads the
    * computed rows instead of re-running the plan, and a CSV sink writes
    * exactly one part. Safe to collect: the aggregate is bounded by
    * categories × days, never by fact rows. */
  def transform(v: Validated): (DataFrame, DataFrame) = {
    val agg = Transform.kpiAggregate(Transform.merged(v.items, v.orders, v.products))
    val rows = agg.sparkSession
      .createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      .coalesce(1)
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

  /** Full run: validate → materialize → transform → sinks → archive, the
    * Step Function's Task1→Task2 serialization collapsed into one driver
    * program (data passes through the validated layer, not via S3 hops).
    * Each step waits for all of its actions; the archive runs strictly
    * after the sinks complete (SURVEY.md §7.5 item 5). */
  def runAll(spark: SparkSession, rawDir: String, workDir: String,
             kvFactory: () => Sinks.KvClient,
             batchTimeMillis: Long = System.currentTimeMillis()): Unit = {
    val ts = Sinks.batchTimestamp(batchTimeMillis)
    val v = validate(readRaw(spark, rawDir))
    writeValidated(v, s"$workDir/validated")
    val (cat, ord) = transform(readValidated(spark, s"$workDir/validated"))
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
    * last. The first failure is rethrown once every action has finished. */
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
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }
}

package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{RawFixture, SparkSpec}
import graft.io.Sinks
import graft.ops.Transform
import graft.schema.Schemas

/** Regression guards for [[Batch.runAll]] on one fixture drop: the KV
  * tables hold the KPIs, each processed table is one CSV part holding the
  * same rows, and the KPI plan runs once per table rather than once per
  * sink. */
class BatchSpec extends SparkSpec {
  import BatchSpec.Run

  private val batchMs = 1741392000000L

  /** One `runAll` over a fresh fixture drop. The expected KPIs come from
    * [[Transform.kpis]] over the same raw drop; `itemScans` counts the
    * query executions that read `validated/order_items`. */
  private lazy val run: Run = {
    val root = Files.createTempDirectory("graft-batch").toString
    val raw = s"$root/raw"
    RawFixture.stage(raw)
    val v = Batch.validate(Batch.readRaw(spark, raw))
    val (cat, ord) = Transform.kpis(v.items, v.orders, v.products)
    val expected = (local(cat), local(ord))

    val work = s"$root/work"
    val itemsDir = new File(s"$work/validated/order_items").getAbsolutePath
    val scans = new AtomicInteger()
    // a query after the run: the listener bus delivers in order, so once
    // it arrives every execution of the run has been seen
    val marker = s"batch_spec_done_${System.nanoTime}"
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) done.countDown()
        else if (qe.optimizedPlan.collectLeaves().exists {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == itemsDir)
            case _ => false
          }
          case _ => false
        }) scans.incrementAndGet()
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen(qe)
    }
    spark.listenerManager.register(listener)
    val kvDir = s"$root/kv"
    try {
      Batch.runAll(spark, raw, work, () => new Sinks.FileKvClient(kvDir), batchMs)
      spark.sql(s"SELECT 1 AS $marker").collect()
      assert(done.await(60, TimeUnit.SECONDS), "query listener never saw the marker query")
    } finally spark.listenerManager.unregister(listener)
    Run(work, kvDir, expected._1, expected._2, scans.get)
  }

  /** A collected copy, so the expected rows do not depend on the raw
    * files the run archives. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** KPI rows as the KV sink stores them: doubles as DECIMAL(12,2)
    * (HALF_UP) strings, dates ISO, keyed by the key columns joined
    * with '|'. */
  private def asKv(df: DataFrame, keyCols: Seq[String]): Map[String, Map[String, String]] =
    df.collect().map { r =>
      val item = df.schema.fieldNames.zipWithIndex.map { case (n, i) =>
        n -> (r.get(i) match {
          case null => null
          case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
          case x => x.toString
        })
      }.toMap
      keyCols.map(item).mkString("|") -> item
    }.toMap

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  test("runAll leaves the KV tables equal to Transform.kpis after the sink coercions") {
    val r = run
    val cat = asKv(r.cat, Seq("category", "order_date"))
    val ord = asKv(r.ord, Seq("order_date"))
    assert(cat.size > 20 && ord.size == 5, s"fixture too small: ${cat.size} / ${ord.size}")
    assert(Sinks.FileKv.read(r.kvDir, "category_kpi") == cat)
    assert(Sinks.FileKv.read(r.kvDir, "order_kpi") == ord)
  }

  test("runAll writes one CSV part per processed table, holding the KPI rows") {
    val r = run
    val ts = Sinks.batchTimestamp(batchMs)
    Seq(("category_kpi", r.cat, Schemas.categoryKpi), ("order_kpi", r.ord, Schemas.orderKpi))
      .foreach { case (table: String, kpi: DataFrame, schema: StructType) =>
        val dir = new File(s"${r.work}/processed/$ts/$table")
        val parts = dir.listFiles().map(_.getName)
          .filter(n => n.startsWith("part-") && n.endsWith(".csv"))
        assert(parts.length == 1, s"$table: ${parts.mkString(", ")}")
        val written = spark.read.option("header", "true").schema(schema).csv(dir.getPath)
        assert(sorted(written.collect().toSeq) == sorted(kpi.collect().toSeq), table)
      }
  }

  test("runAll reads validated/order_items in exactly two query executions") {
    // one collect per KPI table; both sinks then read the collected rows
    assert(run.itemScans == 2)
  }
}

object BatchSpec {
  private final case class Run(work: String, kvDir: String,
                               cat: DataFrame, ord: DataFrame, itemScans: Int)
}

package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{JobCount, RawFixture, SparkSpec}
import graft.io.Sinks
import graft.ops.{Transform, Validate}
import graft.schema.Schemas

/** Regression guards for [[Batch.runAll]] on a fixture drop: the KV
  * tables hold the KPIs, each processed table is one CSV part holding the
  * same rows, the KPI plan runs once per drop rather than once per table
  * or per sink, from the validated frames rather than a read-back of the
  * validated layer, and the drop runs a fixed number of Spark jobs. */
class BatchSpec extends SparkSpec {
  import BatchSpec.Run

  private val batchMs = 1741392000000L

  /** One `runAll` over a fresh fixture drop, `poisoned` with FIXTURES.md
    * §A.4's invalid rows or not. The expected KPIs come from
    * [[Transform.kpis]] over the same raw drop's validated frames, the RI
    * semi join included. */
  private def runOnce(poisoned: Boolean): Run = {
    val root = Files.createTempDirectory("graft-batch").toString
    val raw = s"$root/raw"
    RawFixture.stage(raw)
    if (poisoned) RawFixture.poison(raw)
    val in = Batch.readRaw(spark, raw)
    val v = Batch.validate(in)
    val (cat, ord) = Transform.kpis(v.items, v.orders, v.products)
    val expected = (local(cat), local(ord))
    val orphans = Validate.validateItemRows(in.items).count() - v.items.count()

    val work = s"$root/work"
    val validatedDir = new File(s"$work/validated").getAbsolutePath
    val readBacks = new AtomicInteger()
    val kpiAggregates = new AtomicInteger()
    // queries before and after the run: the listener bus delivers in
    // order, so the executions between the two are the run's, and once
    // the second arrives every one of them has been seen
    val start = s"batch_spec_start_${System.nanoTime}"
    val end = s"batch_spec_end_${System.nanoTime}"
    val counting = new AtomicBoolean(false)
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit = qe.analyzed.output.map(_.name) match {
        case Seq(`start`) => counting.set(true)
        case Seq(`end`) => done.countDown()
        case _ if counting.get =>
          if (qe.optimizedPlan.collectLeaves().exists {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation =>
                h.location.rootPaths.exists(_.toUri.getPath.startsWith(validatedDir))
              case _ => false
            }
            case _ => false
          }) readBacks.incrementAndGet()
          if (qe.optimizedPlan.find {
            case a: Aggregate => a.output.exists(_.name == "kpi_set")
            case _ => false
          }.isDefined) kpiAggregates.incrementAndGet()
        case _ =>
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen(qe)
    }
    spark.listenerManager.register(listener)
    val kvDir = s"$root/kv"
    val jobs = try {
      spark.sql(s"SELECT 1 AS $start").collect()
      val (_, jobs) = JobCount(spark) {
        Batch.runAll(spark, raw, work, () => new Sinks.FileKvClient(kvDir), batchMs)
      }
      spark.sql(s"SELECT 1 AS $end").collect()
      assert(done.await(60, TimeUnit.SECONDS), "query listener never saw the marker query")
      jobs
    } finally spark.listenerManager.unregister(listener)
    Run(work, kvDir, expected._1, expected._2, orphans, readBacks.get, kpiAggregates.get, jobs)
  }

  private lazy val run: Run = runOnce(poisoned = false)

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

  private def assertKvMatches(r: Run): Unit = {
    val cat = asKv(r.cat, Seq("category", "order_date"))
    val ord = asKv(r.ord, Seq("order_date"))
    assert(cat.size > 20 && ord.size == 5, s"fixture too small: ${cat.size} / ${ord.size}")
    assert(Sinks.FileKv.read(r.kvDir, "category_kpi") == cat)
    assert(Sinks.FileKv.read(r.kvDir, "order_kpi") == ord)
  }

  test("runAll leaves the KV tables equal to Transform.kpis after the sink coercions") {
    assertKvMatches(run)
  }

  test("with poisoned rows and RI orphans, runAll's KV tables equal Transform.kpis " +
    "over the semi-joined validated frames") {
    // the KPI plan starts from the items before the semi join; the
    // orphans must reach it for the inner join to be what drops them
    val r = runOnce(poisoned = true)
    assert(r.orphans == 3, s"RI orphans in the drop: ${r.orphans}")
    assertKvMatches(r)
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

  test("runAll runs the KPI aggregate once and reads nothing back from validated/") {
    // one collect of the aggregate both KPI tables project, from the
    // frames the validated layer is written from; every sink then reads
    // the collected rows
    assert(run.kpiAggregates == 1)
    assert(run.readBacks == 0)
  }

  test("runAll runs 9 Spark jobs per drop") {
    // 3 validated-layer writes and the semi join's broadcast of the
    // orders; the KPI plan's 2 broadcasts and its 3 aggregate stages;
    // the sinks write the collected rows from the driver
    assert(run.jobs == 9)
  }
}

object BatchSpec {
  private final case class Run(work: String, kvDir: String, cat: DataFrame, ord: DataFrame,
                               orphans: Long, readBacks: Int, kpiAggregates: Int, jobs: Int)
}

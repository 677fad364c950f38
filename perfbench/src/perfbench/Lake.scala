package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.{Incremental, Manifest}
import graft.pipeline.Streaming
import graft.plans.ManifestScan

/** `lake_mixed`: closed loop, one client, a fixed seeded script against
  * a manifest `order_items` table partitioned by `order_date`. A cycle
  * lands ten 5k-item micro-batch files that a running
  * `Streaming.manifestIngest` query commits, upserts re-priced returns
  * with `Manifest.upsertMor`, refreshes a daily-revenue view with
  * `Incremental.refresh`, and serves a dashboard read (a one-day pruned
  * scan plus aggregate, and the view), then compacts, so every cycle
  * starts from a compacted table. It drives the commit protocol and
  * planning layers that the pipelines never touch, with writes beside
  * reads. */
object Lake {

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("order_id", LongType),
    StructField("user_id", LongType), StructField("product_id", LongType),
    StructField("status", StringType), StructField("sale_price", DoubleType),
    StructField("order_date", DateType)))

  private val AppId = "perfbench-ingest"
  /** Ten appends a cycle: `visible_p50_s` is their median, and a cycle
    * with fewer leaves that median to a handful of samples a run. */
  private val IngestsPerCycle = 10
  private val ReadsPerCycle = 2
  /** Set-ups per run; `setup_s` reports their median. */
  private val Setups = 3
  /** Timed cycles a run makes at least, however slow the host. */
  private val MinCycles = 2
  /** Old-gen samples: one per set-up, the warm-up cycle and the first
    * timed cycles, so the peak covers the same work however many cycles
    * the run makes. */
  private val HeapSamples = Setups + 1 + MinCycles

  /** Plan-side file counts of an executed query. */
  private object Plan extends AdaptiveSparkPlanHelper {
    def filesRead(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    /** Data files of the snapshot the scan read, before pruning. */
    def filesLive(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length.toLong
      }.sum
  }

  private def row(r: Gen.LakeRow): Row =
    Row(r.id, r.orderId, r.userId, r.productId, r.status, r.priceCents / 100.0,
      java.sql.Date.valueOf(r.orderDate))

  /** `Streaming.manifestIngest` with a span at the commit, the traced
    * run's ingest query; [[ingestGuard]] checks it against the engine's. */
  private def tracedIngest(ctx: Ctx, stream: DataFrame, table: String,
                           ckpt: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ctx.tracer.span("manifest.append") {
          Manifest.appendIfAbsent(batch.sparkSession, table, batch, "order_date", AppId, batchId,
            statsCols = Nil, mergeSchema = false)
        }
        ()
      }
      .start()

  /** The ingest query on `landing`: the engine's, or the traced copy. */
  private def ingest(ctx: Ctx, landing: File, table: String, ckpt: String,
                     traced: Boolean): StreamingQuery = {
    val stream = ctx.spark.readStream.schema(Schema).option("header", "true").csv(landing.getPath)
    if (traced) tracedIngest(ctx, stream, table, ckpt)
    else Streaming.manifestIngest(stream, table, "order_date", ckpt, AppId,
      statsCols = Nil, mergeSchema = false)
  }

  /** Moves `f` into `landing` and waits until the table's latest version
    * passes `v0`. Each poll lists the table's version pointers and reads
    * the fresh ones, work that competes with the commit it waits for, so
    * polls are 20 ms apart (a mean 10 ms added to every append). */
  private def landAndAwait(ctx: Ctx, f: File, landing: File, table: String, v0: Long): Unit = {
    Files.move(f.toPath, landing.toPath.resolve(f.getName), StandardCopyOption.ATOMIC_MOVE)
    val deadline = System.nanoTime() + 60000000000L
    while (Manifest.latestVersion(ctx.spark, table).get <= v0 && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  /** Drift guard of the traced ingest: one micro-batch through the
    * engine's `Streaming.manifestIngest` and one through [[tracedIngest]],
    * each into a table seeded alike, must leave equal versions and rows
    * and run the same number of Spark jobs. */
  private def ingestGuard(ctx: Ctx, seed: Seq[Gen.LakeRow],
                          batch: Seq[Gen.LakeRow]): Seq[String] = {
    val spark = ctx.spark
    def side(name: String, traced: Boolean) = {
      val base = new File(ctx.work, s"guard-$name")
      val table = new File(base, "table").getPath
      val landing = new File(base, "landing")
      landing.mkdirs()
      val seedFile = new File(base, "seed.csv")
      val batchFile = new File(base, "batch.csv")
      Gen.writeCsv(seedFile, Gen.LakeHeader, seed.iterator.map(Gen.lakeLine))
      Gen.writeCsv(batchFile, Gen.LakeHeader, batch.iterator.map(Gen.lakeLine))
      Manifest.create(spark, table,
        spark.read.schema(Schema).option("header", "true").csv(seedFile.getPath), "order_date")
      val q = ingest(ctx, landing, table, new File(base, "checkpoint").getPath, traced)
      ctx.tracer.span(s"guard.$name") {
        landAndAwait(ctx, batchFile, landing, table, Manifest.latestVersion(spark, table).get)
      }
      q.stop()
      (Manifest.versions(spark, table),
        Manifest.read(spark, table).collect().map(_.toString).sorted.toSeq)
    }
    val (versionsA, rowsA) = side("manifestIngest", traced = false)
    val (versionsB, rowsB) = side("traced", traced = true)
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val jobs = ctx.tracer.spans.filter(_.name.startsWith("guard.")).toSeq
      .map(s => ctx.tracer.jobsDuring(s).size)
    ctx.note(s"ingest guard: jobs manifestIngest=${jobs.head} traced=${jobs(1)}, " +
      s"versions=${versionsA.size}, rows=${rowsA.size}")
    Seq(
      if (versionsA == versionsB) None else Some(s"versions differ: $versionsA vs $versionsB"),
      if (rowsA == rowsB) None else Some("table rows differ between manifestIngest and the traced copy"),
      if (jobs.head == jobs(1)) None else Some(s"job counts differ: ${jobs.head} vs ${jobs(1)}")
    ).flatten
  }

  /** One lake: its table, view, ingest query and the model of both. */
  private final class Instance(base: File) {
    val table = new File(base, "table").getPath
    val view = new File(base, "view").getPath
    val landing = new File(base, "landing")
    val staging = new File(base, "staging")
    val ckpt = new File(base, "ingest-checkpoint").getPath
    val model = new Oracle.LakeModel
    val ids = ArrayBuffer[Long]()
    var nextId = 1L
    var userBytes = 0L
    var query: StreamingQuery = null
    landing.mkdirs()

    def stage(name: String, rows: Seq[Gen.LakeRow]): File = {
      val f = new File(staging, name)
      userBytes += Gen.writeCsv(f, Gen.LakeHeader, rows.iterator.map(Gen.lakeLine))
      f
    }
  }

  def run(ctx: Ctx): (Seq[Metric], Seq[Metric]) = {
    val spark = ctx.spark
    val seedRows = if (ctx.tiny) 2000 else 20000
    val batchRows = if (ctx.tiny) 200 else 5000
    val upsertRows = if (ctx.tiny) 20 else 200

    /** Set-up: seed rows generated, the table created, the view refreshed
      * for the first time, the ingest query started. */
    def setUp(i: Int): Instance = {
      val l = new Instance(new File(ctx.work, s"lake-$i"))
      val seed = Gen.lakeBatch(ctx.seed, 0, l.nextId, seedRows, 0, Gen.DaysPerDrop)
      l.nextId += seedRows
      val seedFile = l.stage("seed.csv", seed)
      Manifest.create(spark, l.table,
        spark.read.schema(Schema).option("header", "true").csv(seedFile.getPath), "order_date")
      l.model.add(seed); l.ids ++= seed.map(_.id)
      Incremental.refresh(spark, l.table, l.view, Seq("order_date"), "sale_price")
      l.query = ingest(ctx, l.landing, l.table, l.ckpt, ctx.traced)
      l
    }

    var lake: Instance = null
    val setups = (0 until Setups).map { i =>
      if (lake != null) {
        lake.query.stop()
        Main.rmTree(new File(ctx.work, s"lake-${i - 1}"))
      }
      val (l, s) = Main.time(setUp(i))
      lake = l
      ctx.sampleHeap()
      s
    }
    ctx.note("setup: set-ups_s " + setups.map(s => f"$s%.3f").mkString(" "))
    ctx.mark("set-ups done")
    if (ctx.traced) {
      ctx.tracer.begin()
      val errs = ingestGuard(ctx, Gen.lakeBatch(ctx.seed, 0, 1L, seedRows, 0, Gen.DaysPerDrop),
        Gen.lakeBatch(ctx.seed, 1, seedRows + 1L, batchRows, 0, 7))
      ctx.tracer.end()
      ctx.outcome("ingest guard", errs)
    }
    val table = lake.table
    val model = lake.model

    val appends = ArrayBuffer[Double](); val upserts = ArrayBuffer[Double]()
    val refreshes = ArrayBuffer[Double](); val reads = ArrayBuffer[Double]()
    val compacts = ArrayBuffer[Double](); val ratios = ArrayBuffer[Double]()
    var rowsDone = 0L
    var opSeconds = 0.0
    final case class CycleRun(seconds: Double, span: Option[Span], extra: Map[String, Double])

    def op[T](name: String, into: ArrayBuffer[Double])(body: => T): T = {
      val (r, s) = Main.time(ctx.tracer.span(s"op.$name")(body))
      into += s; opSeconds += s
      r
    }

    def cycle(c: Int, traced: Boolean): CycleRun = {
      val errors = ArrayBuffer[String]()
      val user0 = lake.userBytes
      val table0 = Main.du(new File(table))
      val r = Gen.rng(ctx.seed, 5000000L + c)
      val batches = (0 until IngestsPerCycle).map { j =>
        val b = Gen.lakeBatch(ctx.seed, c * 100L + j + 1, lake.nextId, batchRows,
          (c * IngestsPerCycle + j) * 3, 7)
        lake.nextId += batchRows
        (b, lake.stage(s"b$c-$j.csv", b))
      }
      val picked = (0 until upsertRows).map(_ => lake.ids(r.nextInt(lake.ids.size))).distinct
      val updates = picked.map { id =>
        val o = model.rows.get(id)
        o.copy(status = "returned", priceCents = o.priceCents * (70 + r.nextInt(26)) / 100)
      }
      lake.userBytes += updates.map(u => Gen.lakeLine(u).length + 1L).sum
      val days = Seq.fill(ReadsPerCycle)(Gen.EpochDay.plusDays(r.nextInt(Gen.DaysPerDrop).toLong))
      val puts0 = CountingLogStore.puts.get; val putNs0 = CountingLogStore.nanos.get
      val progress0 = ctx.tracer.progress.size
      if (traced) ctx.tracer.begin()
      val t0 = opSeconds
      val dayReads = ArrayBuffer[(java.time.LocalDate, DataFrame, Row)]()
      var viewRows: Array[Row] = null
      ctx.tracer.span("unit.cycle") {
        batches.foreach { case (b, f) =>
          val v0 = Manifest.latestVersion(spark, table).get
          op("append", appends) {
            ctx.tracer.span("streaming.ingest") { landAndAwait(ctx, f, lake.landing, table, v0) }
          }
          val v1 = Manifest.latestVersion(spark, table).get
          if (v1 != v0 + 1) errors += s"append moved the table from v$v0 to v$v1"
          model.add(b); lake.ids ++= b.map(_.id); rowsDone += b.size
        }
        op("upsert", upserts) {
          ctx.tracer.span("manifest.upsertMor") {
            Manifest.upsertMor(spark, table,
              spark.createDataFrame(updates.map(row).asJava, Schema), Seq("id"), "order_date")
          }
        }
        model.add(updates); rowsDone += updates.size
        op("refresh", refreshes) {
          ctx.tracer.span("incremental.refresh") {
            Incremental.refresh(spark, table, lake.view, Seq("order_date"), "sale_price")
          }
        }
        days.foreach { day =>
          op("read", reads) {
            val df = ctx.tracer.span("scan.plan") {
              val df = ManifestScan.scan(spark, table, Some("order_date"))
                .filter(col("order_date") === lit(java.sql.Date.valueOf(day)))
                .agg(sum(col("sale_price").cast(DecimalType(12, 2))), count(lit(1)))
              df.queryExecution.executedPlan
              df
            }
            dayReads += ((day, df, ctx.tracer.span("scan.exec") { df.collect().head }))
            viewRows = ctx.tracer.span("incremental.read") { Incremental.read(spark, lake.view).collect() }
          }
        }
        op("compact", compacts) {
          ctx.tracer.span("manifest.compact") { Manifest.compact(spark, table, "order_date") }
        }
      }
      val seconds = opSeconds - t0
      if (traced) ctx.tracer.end()
      val span = if (traced) ctx.tracer.spans.reverseIterator.find(_.name == "unit.cycle") else None

      // checks against the model
      dayReads.foreach { case (day, _, got) =>
        val (expSum, expN) = model.day(day.toString)
        val gotSum = Option(got.getDecimal(0)).map(_.toPlainString).getOrElse("0.00")
        if (gotSum != expSum || got.getLong(1) != expN)
          errors += s"day $day read ($gotSum, ${got.getLong(1)}), expected ($expSum, $expN)"
      }
      val expView = model.view
      val gotView = viewRows.map(r => r.get(0).toString ->
        (r.getDecimal(1).toPlainString, r.getLong(2))).toMap
      if (gotView != expView) errors += s"view differs from model: " +
        (gotView.toSet diff expView.toSet).take(2).mkString(", ")
      val gotTable = Manifest.read(spark, table).groupBy(col("order_date"))
        .agg(sum(col("sale_price").cast(DecimalType(12, 2))), count(lit(1))).collect()
        .map(r => r.get(0).toString -> (r.getDecimal(1).toPlainString, r.getLong(2))).toMap
      if (gotTable != expView) errors += "table aggregate differs from model"
      ctx.outcome(s"cycle $c", errors.toSeq)

      // bytes the cycle added to the table per input byte it brought;
      // compaction leaves the files it replaced on disk, so later cycles
      // add more, and only the first timed cycles count
      val tableBytes = Main.du(new File(table))
      if (c <= MinCycles) ratios += (tableBytes - table0).toDouble / (lake.userBytes - user0)
      if (ctx.heapMb.size < HeapSamples) ctx.sampleHeap()
      val extra =
        if (!traced) Map.empty[String, Double]
        else {
          val d = Manifest.detail(spark, table).head()
          val prog = ctx.tracer.progress.drop(progress0)
          def phase(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3
          val files = dayReads.map(x => Plan.filesRead(x._2)).sum.toDouble
          val live = dayReads.map(x => Plan.filesLive(x._2)).sum.toDouble
          val ingest = ctx.tracer.descendants(span.get).filter(_.name == "streaming.ingest")
          Map("streaming.ingest_overhead_s" -> ingest.map(ctx.tracer.selfSeconds).sum,
            "streaming.latest_offset_s" -> phase("latestOffset"),
            "streaming.wal_commit_s" -> phase("walCommit"),
            "manifest.versions" -> Manifest.versions(spark, table).size.toDouble,
            "manifest.live_files" -> d.getAs[Long]("num_files").toDouble,
            "manifest.dv_files" -> d.getAs[Long]("num_dv_dirs").toDouble,
            "manifest.table_bytes" -> tableBytes.toDouble,
            "logstore.puts" -> (CountingLogStore.puts.get - puts0).toDouble,
            "logstore.put_s" -> (CountingLogStore.nanos.get - putNs0) / 1e9,
            "scan.files_read" -> files / dayReads.size,
            "scan.prune_ratio" -> (if (live > 0) files / live else 0.0))
        }
      CycleRun(seconds, span, extra)
    }

    cycle(0, traced = false) // warm-up
    appends.clear(); upserts.clear(); refreshes.clear(); reads.clear(); compacts.clear()
    ratios.clear(); rowsDone = 0; opSeconds = 0.0

    ctx.mark("warm-up done")
    val cycles = ArrayBuffer[CycleRun]()
    val minCycles = if (ctx.traced) 4 else MinCycles
    while (opSeconds < ctx.seconds || cycles.size < minCycles)
      cycles += cycle(cycles.size + 1, traced = ctx.traced && Tracer.abba(cycles.size))
    ctx.mark("timed units done")
    lake.query.stop()
    val rows = Manifest.read(spark, table).select("id", "sale_price", "status").collect()
    val bad = rows.count { r =>
      val m = model.rows.get(r.getLong(0))
      m == null || math.round(r.getDouble(1) * 100) != m.priceCents || r.getString(2) != m.status
    }
    ctx.outcome("final table", Seq(
      if (rows.length == model.rows.size) None
      else Some(s"table holds ${rows.length} rows, model ${model.rows.size}"),
      if (bad == 0) None else Some(s"$bad rows differ from the model")).flatten)

    val a = Sample(appends.toSeq); val rd = Sample(reads.toSeq)
    ctx.note(s"workload=lake_mixed loop=closed clients=1 seed_rows=$seedRows " +
      s"batch_rows=$batchRows ingests/cycle=$IngestsPerCycle reads/cycle=$ReadsPerCycle " +
      s"upsert_rows=$upsertRows compact_every=1 cycles=${cycles.size} table_rows=${model.rows.size}")
    ctx.note("cycles_s " + cycles.map(u => f"${u.seconds}%.3f").mkString(" "))
    Report.sample(ctx, "append_s", a)
    Report.sample(ctx, "upsert_s", Sample(upserts.toSeq))
    Report.sample(ctx, "refresh_s", Sample(refreshes.toSeq))
    Report.sample(ctx, "read_s", rd)
    Report.sample(ctx, "compact_s", Sample(compacts.toSeq))
    val all = appends.size + upserts.size + refreshes.size + reads.size + compacts.size
    ctx.note(f"lake_ops_per_s=${all / opSeconds}%.4f ops=$all")
    val ratio = Sample(ratios.toSeq)
    val setup = Sample(setups)
    val e2e = Seq(
      Metric("visible_p50_s", a.median, "s", a.n),
      Metric("rows_per_s", rowsDone / opSeconds, "1/s", all),
      Metric("bytes_per_user_byte", ratio.median, "ratio", ratio.n),
      Metric("heap_peak_mb", ctx.heapPeakMb, "MB", ctx.heapMb.size),
      Metric("setup_s", ctx.sessionSeconds + setup.median, "s", setup.n))

    val traced = cycles.filter(_.span.isDefined).toSeq
    val untraced = cycles.filter(_.span.isEmpty).toSeq
    val layer = Layers.metrics(ctx, traced.map(_.span.get), traced.map(_.extra),
      untracedUnit = Sample(untraced.map(_.seconds)), tracedUnit = Sample(traced.map(_.seconds)))
    (e2e, layer)
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.Sinks
import graft.pipeline.{Batch, Streaming}
import graft.schema.Schemas

/** `pipeline_trickle`: closed loop, one client. Each
  * drop lands reference-shaped part-files by atomic rename, then the
  * client opens the gate and runs `Streaming.runAvailableNow`, which
  * validates, transforms, upserts the KPIs into a `FileKvClient` store,
  * writes the timestamped CSVs and archives the raw files. The next drop
  * lands only after the query has terminated and the outputs were
  * checked. */
object Pipeline {

  /** The reference corpus's shape, where per-run fixed cost dominates. */
  def shape(ctx: Ctx): Gen.DropShape =
    if (ctx.tiny) Gen.DropShape(200, 300, 2, 3, 0.02)
    else Gen.DropShape(10000, 9000, 6, 19, 0.02)

  /** Set-ups per run; `setup_s` reports their median. */
  private val Setups = 3
  /** Timed drops a run makes at least, however slow the host. */
  private val MinDrops = 3
  /** Warm-up drops on the kept pipeline: its first restarts from an
    * existing checkpoint run code the set-ups never reach, and drop
    * latency falls by about a quarter over a JVM's first six or so drops
    * while the JIT works through the planner; timed drops start after
    * them. */
  private val WarmDrops = 3
  private val FirstTimed = Setups + WarmDrops
  /** Old-gen samples, one per drop from the first set-up on, so the peak
    * covers the same drops however many the run makes. */
  private val HeapSamples = FirstTimed + MinDrops
  private val ReadsPerDrop = 10

  /** Batch time of drop `k`: an hour apart, so `processed/<ts>` never
    * collides. */
  private def batchMs(k: Int): Long = 1741392000000L + k * 3600000L

  /** `Batch.runAll`'s steps, one span per call. The drift guard checks
    * that this sequence still matches `Batch.runAll`. */
  def tracedSteps(ctx: Ctx, rawDir: String, workDir: String,
                  kv: () => Sinks.KvClient, ms: Long): Seq[String] = {
    val t = ctx.tracer; val spark = ctx.spark
    val ts = Sinks.batchTimestamp(ms)
    val in = t.span("validate.readRaw") { Batch.readRaw(spark, rawDir) }
    val v = t.span("validate.validate") { Batch.validate(in) }
    t.span("validate.writeValidated") { Batch.writeValidated(v, s"$workDir/validated") }
    val (cat, ord) = t.span("transform.transform") {
      Batch.transform(Batch.readValidated(spark, s"$workDir/validated"))
    }
    t.span("transform.kvUpsert") {
      Sinks.kvUpsert(cat, "category_kpi", Seq("category", "order_date"), kv)
    }
    t.span("transform.kvUpsert") { Sinks.kvUpsert(ord, "order_kpi", Seq("order_date"), kv) }
    t.span("sinks.csvTimestamped") {
      Sinks.csvTimestamped(cat, s"$workDir/processed", "category_kpi", ts)
    }
    t.span("sinks.csvTimestamped") {
      Sinks.csvTimestamped(ord, s"$workDir/processed", "order_kpi", ts)
    }
    t.span("sinks.archive") { Sinks.archive(spark, rawDir, s"$workDir/archive", ts) }
  }

  /** `Streaming.runAvailableNow` with [[tracedSteps]] as the batch body. */
  private def tracedQuery(ctx: Ctx, rawDir: String, workDir: String,
                          kv: () => Sinks.KvClient, ms: Long,
                          archived: ArrayBuffer[Int]): StreamingQuery =
    ctx.spark.readStream.schema(Schemas.orders).option("header", "true")
      .csv(s"$rawDir/orders")
      .writeStream
      .option("checkpointLocation", s"$workDir/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        archived += tracedSteps(ctx, rawDir, workDir, kv, ms + batchId).size
        ()
      }
      .start()

  private def land(files: Seq[File], from: File, to: File): Unit = files.foreach { f =>
    val dst = to.toPath.resolve(from.toPath.relativize(f.toPath))
    Files.createDirectories(dst.getParent)
    Files.move(f.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  private def filesUnder(f: File): Seq[File] =
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(filesUnder)

  /** Drift guard: the same drop through [[tracedSteps]] and through an
    * untraced `Batch.runAll` must leave equal KV tables, equal processed
    * and archived file layouts, and run the same number of Spark jobs. */
  private def driftGuard(ctx: Ctx, products: IndexedSeq[Gen.Product],
                         sh: Gen.DropShape): Seq[String] = {
    val d = Gen.drop(ctx.seed, 900, sh)
    def side(name: String)(run: (String, String, () => Sinks.KvClient) => Unit) = {
      val base = new File(ctx.work, s"guard-$name")
      val (files, _) = Gen.stageDrop(new File(base, "staging"), products, d)
      land(files, new File(base, "staging"), new File(base, "raw"))
      val kvPath = new File(base, "kv").getPath
      val job = new File(base, "job")
      ctx.tracer.span(s"guard.$name") {
        run(new File(base, "raw").getPath, job.getPath, () => new Sinks.FileKvClient(kvPath))
      }
      val layout = Seq("processed", "archive").flatMap { sub =>
        val root = new File(job, sub).toPath
        filesUnder(root.toFile).map(f => root.relativize(f.toPath).toString)
          .filterNot(p => p.split('/').exists(s => s.startsWith(".") || s.startsWith("_")))
          .map(p => s"$sub/${p.replaceAll("part-\\d+-[0-9a-f-]+", "part")}")
      }.sorted
      (Seq("category_kpi", "order_kpi").map(Sinks.FileKv.read(kvPath, _)), layout)
    }
    val (kvA, layoutA) = side("traced") { (raw, job, kv) => tracedSteps(ctx, raw, job, kv, batchMs(900)); () }
    val (kvB, layoutB) = side("runAll") { (raw, job, kv) => Batch.runAll(ctx.spark, raw, job, kv, batchMs(900)) }
    org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.spans.filter(_.name.startsWith("guard.")).toSeq
    val jobs = spans.map(s => ctx.tracer.jobsUnder(s).size)
    ctx.note(s"drift guard: jobs traced=${jobs.head} runAll=${jobs(1)}, " +
      s"kv rows=${kvA.map(_.size).sum}, files=${layoutA.size}")
    Seq(
      if (kvA == kvB) None else Some("KV tables differ between traced steps and Batch.runAll"),
      if (layoutA == layoutB) None
      else Some(s"file layouts differ: ${layoutA.diff(layoutB).take(3)} vs ${layoutB.diff(layoutA).take(3)}"),
      if (jobs.head == jobs(1)) None else Some(s"job counts differ: ${jobs.head} vs ${jobs(1)}")
    ).flatten
  }

  /** One pipeline: its directories and what the oracle expects in its
    * KV store. */
  private final class Instance(base: File) {
    val raw = new File(base, "raw")
    val job = new File(base, "job")
    val kvDir = new File(base, "kv")
    val staging = new File(base, "staging")
    val expCat = scala.collection.mutable.Map[String, Oracle.Expected]()
    val expOrd = scala.collection.mutable.Map[String, Oracle.Expected]()
    var landed = 0
  }

  /** Milliseconds the JIT compilers have spent so far, summed over
    * their threads. */
  private def jitMillis: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def run(ctx: Ctx): (Seq[Metric], Seq[Metric]) = {
    val spark = ctx.spark
    val sh = shape(ctx)
    var products = IndexedSeq.empty[Gen.Product]

    final case class DropRun(latency: Double, reads: Seq[Double], bytesRatio: Double, rows: Long,
                           span: Option[Span], runId: String, archived: Int, kvItems: Long,
                           jitMs: Long)

    /** One drop: stage (untimed), land, gate, run, read back, check. */
    def drop(p: Instance, k: Int, traced: Boolean): DropRun = {
      val kvPath = p.kvDir.getPath
      val d = Gen.drop(ctx.seed, k, sh)
      val stage = new File(p.staging, k.toString)
      val (files, bytes) = Gen.stageDrop(stage, products, d)
      val (cat, ord) = Oracle.kpis(products, d)
      p.expCat ++= cat; p.expOrd ++= ord
      // bytes at rest per drop: the growth of the job's outputs and the KV
      // store, plus the validated layer the drop overwrites; the archive
      // only moves the input
      def atRest = Main.du(p.job, Set("archive", "validated")) + Main.du(p.kvDir)
      val before = atRest
      val archived = ArrayBuffer[Int]()
      val kv: () => Sinks.KvClient =
        if (traced) () => new CountingKv(kvPath) else () => new Sinks.FileKvClient(kvPath)
      val kvItems0 = CountingKv.items.get
      if (traced) ctx.tracer.begin()
      land(files, stage, p.raw)
      p.landed += files.size
      val jit0 = jitMillis
      val t0 = System.nanoTime()
      var runId = ""
      val errors = ArrayBuffer[String]()
      ctx.tracer.span("unit.drop") {
        val open = ctx.tracer.span("streaming.gate") { Streaming.gate(spark, p.raw.getPath) }
        if (!open) errors += "gate stayed closed after the drop landed"
        else ctx.tracer.span("streaming.query") {
          val q =
            if (traced) tracedQuery(ctx, p.raw.getPath, p.job.getPath, kv, batchMs(k), archived)
            else Streaming.runAvailableNow(spark, p.raw.getPath, p.job.getPath, kv, batchMs(k))
          runId = q.runId.toString
          q.awaitTermination()
          q.exception.foreach(e => errors += s"query failed: ${e.getMessage}")
        }
      }
      val latency = (System.nanoTime() - t0) / 1e9
      val jitMs = jitMillis - jit0
      if (traced) ctx.tracer.end()
      val span = if (traced) ctx.tracer.spans.reverseIterator.find(_.name == "unit.drop") else None
      if (ctx.corruptKv && k == FirstTimed) {
        val key = p.expOrd.keys.min
        new Sinks.FileKvClient(kvPath).put("order_kpi", key,
          p.expOrd(key).map { case (c, v) => c -> v.head } + ("total_orders" -> "-1"))
      }
      // the dashboard read, repeated for a steadier median
      val reads = (1 to ReadsPerDrop).map { _ =>
        Main.time((Sinks.FileKv.read(kvPath, "category_kpi"), Sinks.FileKv.read(kvPath, "order_kpi")))
      }
      val (kvCat, kvOrd) = reads.head._1
      errors ++= Oracle.diff("category_kpi", p.expCat.toMap, kvCat)
      errors ++= Oracle.diff("order_kpi", p.expOrd.toMap, kvOrd)
      val left = filesUnder(p.raw)
      if (left.nonEmpty) errors += s"${left.size} raw files not archived"
      val inArchive = filesUnder(new File(p.job, "archive")).size
      if (inArchive != p.landed) errors += s"archive holds $inArchive files, ${p.landed} landed"
      ctx.outcome(s"drop $k", errors.toSeq)
      val after = atRest + Main.du(new File(p.job, "validated"))
      Main.rmTree(stage)
      DropRun(latency, reads.map(_._2), (after - before).toDouble / bytes, d.items.size, span, runId,
        archived.sum, CountingKv.items.get - kvItems0, jitMs)
    }

    // set-up, repeated: a fresh pipeline (products generated, new raw,
    // job, KV and checkpoint directories) through its first drop; the
    // set-ups also warm the JIT and codegen up. The last one is kept.
    var pipe: Instance = null
    def sampleHeap(): Unit = if (ctx.heapMb.size < HeapSamples) ctx.sampleHeap()
    val setups = (0 until Setups).map { i =>
      val s = Main.time {
        products = Gen.products(ctx.seed, sh.products)
        pipe = new Instance(new File(ctx.work, s"pipeline-$i"))
        drop(pipe, i, traced = false)
      }._2
      sampleHeap()
      s
    }
    ctx.note("setup: set-ups_s " + setups.map(s => f"$s%.3f").mkString(" "))
    ctx.mark("set-ups done")
    if (ctx.traced) {
      ctx.tracer.begin()
      val errs = driftGuard(ctx, products, sh)
      ctx.tracer.end()
      ctx.outcome("drift guard", errs)
    }
    val warm = (Setups until FirstTimed).map { k =>
      val u = drop(pipe, k, traced = false)
      sampleHeap()
      u
    }
    ctx.note("warm-up: drops_s " + warm.map(u => f"${u.latency}%.3f").mkString(" ") +
      " jit_ms " + warm.map(_.jitMs).mkString(" "))
    ctx.mark("warm-up done")

    val units = ArrayBuffer[DropRun]()
    val minUnits = if (ctx.traced) 4 else MinDrops
    while (units.map(u => u.latency + u.reads.sum).sum < ctx.seconds || units.size < minUnits) {
      units += drop(pipe, FirstTimed + units.size, traced = ctx.traced && Tracer.abba(units.size))
      sampleHeap()
    }
    ctx.mark("timed units done")

    val timed = if (ctx.traced) units.filter(_.span.isEmpty) else units
    val lat = Sample(timed.map(_.latency).toSeq)
    val reads = Sample(timed.flatMap(_.reads).toSeq)
    val ratio = Sample(timed.map(_.bytesRatio).toSeq)
    ctx.note(s"workload=pipeline_trickle loop=closed clients=1 " +
      s"products=${sh.products} orders/drop=${sh.orders} parts=${sh.orderParts}+${sh.itemParts} " +
      s"items/drop=${units.head.rows} drops=${units.size} poison=${sh.poison}")
    ctx.note("drops_s " + timed.map(u => f"${u.latency}%.3f").mkString(" "))
    // compile time the JIT spent during each drop, on its own threads: a
    // warm-up still under way shows here
    ctx.note("drops_jit_ms " + timed.map(_.jitMs).mkString(" "))
    Report.sample(ctx, "drop_to_kpi_s", lat)
    Report.sample(ctx, "kv_read_s", reads)
    val setup = Sample(setups)
    val e2e = Seq(
      Metric("visible_p50_s", lat.median, "s", lat.n),
      Metric("rows_per_s", Sample(timed.map(u => u.rows / u.latency).toSeq).median, "1/s", lat.n),
      Metric("bytes_per_user_byte", ratio.median, "ratio", ratio.n),
      Metric("heap_peak_mb", ctx.heapPeakMb, "MB", ctx.heapMb.size),
      Metric("setup_s", ctx.sessionSeconds + setup.median, "s", setup.n))

    val traced = units.filter(_.span.isDefined).toSeq
    val layer = Layers.metrics(ctx, traced.map(_.span.get), traced.map { u =>
      val prog = ctx.tracer.progress.filter(_.runId == u.runId)
      def phase(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      val query = ctx.tracer.descendants(u.span.get).filter(_.name == "streaming.query").map(_.seconds).sum
      Map("streaming.overhead_s" -> (query - phase("addBatch")),
        "streaming.latest_offset_s" -> phase("latestOffset"),
        "streaming.wal_commit_s" -> phase("walCommit"),
        "sinks.kv_items" -> u.kvItems.toDouble,
        "sinks.archive_files" -> u.archived.toDouble)
    }, untracedUnit = Sample(timed.map(_.latency).toSeq),
      tracedUnit = Sample(traced.map(_.latency)))
    (e2e, layer)
  }
}

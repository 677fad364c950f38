package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{RawFixture, SparkSpec}
import graft.io.{Sinks, Sources}

/** Streaming-layer tests (SURVEY.md §5.2 item 5): trigger gate,
  * AvailableNow batch scope, checkpoint-based exactly-once, archive
  * after commit, and the watermarked tumbling window. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("gate waits for all three inputs, opens when they land") {
    val dir = Files.createTempDirectory("graft-gate").toString
    assert(!Streaming.gate(spark, dir))
    RawFixture.stage(dir)
    assert(Streaming.gate(spark, dir))
  }

  test("AvailableNow run: full pipeline fires once, archives raw, is exactly-once on restart") {
    val root = Files.createTempDirectory("graft-stream").toString
    val raw = s"$root/raw"
    val work = s"$root/work"
    val kvDir = s"$root/kv"
    RawFixture.stage(raw)
    assert(Streaming.gate(spark, raw))

    // DURABLE kv sink: the pipeline's KPI state lives on disk, not in the
    // test JVM — every assertion below re-reads the files cold, which is
    // exactly what a restarted process sees
    val q = Streaming.runAvailableNow(spark, raw, work,
      () => new Sinks.FileKvClient(kvDir), batchTimeMillis = 0L)
    q.awaitTermination()

    // sinks committed: both KV tables populated from the fixture drop
    val orderKpi = Sinks.FileKv.read(kvDir, "order_kpi")
    val catKpi = Sinks.FileKv.read(kvDir, "category_kpi")
    assert(orderKpi.nonEmpty && catKpi.nonEmpty)
    // boundary coercions held through the durable layer (2dp decimals)
    assert(orderKpi.values.forall(r => r("total_revenue").matches("""-?\d+\.\d{2}""")))
    val sizes = (orderKpi.size, catKpi.size)

    // validated + processed layers exist
    assert(Sources.present(spark, s"$work/validated/orders/*.parquet"))
    assert(Sources.present(spark, s"$work/processed/*/order_kpi/*.csv"))

    // archive ran after the sinks: raw emptied, files under archive/<ts>/
    assert(!Sources.present(spark, s"$raw/orders/*.csv"))
    assert(Sources.present(spark, s"$work/archive/*/orders/*.csv"))

    // exactly-once: restart with the same checkpoint, no new files — the
    // commit log suppresses any re-fire; the durable store re-read from
    // disk is unchanged, no double archive
    val q2 = Streaming.runAvailableNow(spark, raw, work,
      () => new Sinks.FileKvClient(kvDir), batchTimeMillis = 99999L)
    q2.awaitTermination()
    assert((Sinks.FileKv.read(kvDir, "order_kpi").size,
      Sinks.FileKv.read(kvDir, "category_kpi").size) == sizes)
    assert(!Sources.present(spark, s"$work/archive/1970-01-02*/orders/*.csv"))
  }

  test("status listener records FAILED with the exception on query termination") {
    implicit val sqlCtx = spark.sqlContext
    val statusDir = Files.createTempDirectory("graft-status").toString
    val listener = Streaming.withStatusListener(spark, statusDir)
    try {
      val mem = MemoryStream[Long]
      val q = mem.toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("boom: simulated task failure")
        }
        .start()
      mem.addData(1L)
      intercept[Exception] { q.awaitTermination() }
      // listener events are delivered async; poll for the artifact
      def mine = Streaming.readStatuses(statusDir)
        .find(_.get("run_id").contains(q.runId.toString))
      val deadline = System.currentTimeMillis() + 30000
      var rec = mine
      while (rec.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); rec = mine
      }
      assert(rec.nonEmpty, "no status artifact written for the failed run")
      val r = rec.head
      assert(r("status") == "FAILED")
      assert(r("exception") != null && r("exception").contains("boom"))
    } finally spark.streams.removeListener(listener)
  }

  test("status listener records SUCCEEDED on clean stop") {
    implicit val sqlCtx = spark.sqlContext
    val statusDir = Files.createTempDirectory("graft-status-ok").toString
    val listener = Streaming.withStatusListener(spark, statusDir)
    try {
      val mem = MemoryStream[Long]
      val q = mem.toDF().writeStream.format("noop").start()
      mem.addData(1L, 2L)
      q.processAllAvailable()
      q.stop()
      def mine = Streaming.readStatuses(statusDir)
        .find(_.get("run_id").contains(q.runId.toString))
      val deadline = System.currentTimeMillis() + 30000
      var rec = mine
      while (rec.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); rec = mine
      }
      assert(rec.nonEmpty && rec.head("status") == "SUCCEEDED")
      assert(rec.head("exception") == null)
    } finally spark.streams.removeListener(listener)
  }

  test("watermarked tumbling daily window matches the batch group-by") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.dailyEventAgg(df)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("daily_out").start()

    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 10:00:00"), "click", 1.0),
      (t("2024-01-01 11:00:00"), "click", 2.0),
      (t("2024-01-01 12:00:00"), "view", 5.0),
      (t("2024-01-02 09:00:00"), "click", 7.0))
    q.processAllAvailable()
    // advance watermark past Jan-2 so the Jan-1 and Jan-2 windows close
    mem.addData((t("2024-01-04 00:00:00"), "view", 0.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("daily_out")
      .select(date_format($"day_start", "yyyy-MM-dd").as("d"), $"event_type",
        $"n_events", $"total_value")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("2024-01-01", "click")) == ((2L, 3.0)))
    assert(out(("2024-01-01", "view")) == ((1L, 5.0)))
    assert(out(("2024-01-02", "click")) == ((1L, 7.0)))
  }

  test("continuous KPI pipeline converges the KV table to the batch answer across late data") {
    implicit val sqlCtx = spark.sqlContext
    Sinks.InMemoryKv.clear()
    val ckpt = Files.createTempDirectory("graft-ckpt-kpi").toString
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "category", "price")
    val q = Streaming.continuousDailyKpi(df, "cat_kpi_cont",
      () => new Sinks.InMemoryKvClient, ckpt, keyCols = Seq("category"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    // micro-batch 1: two days, two categories
    mem.addData(
      (t("2025-03-08 10:00:00"), "a", 10.0),
      (t("2025-03-08 11:00:00"), "b", 20.0),
      (t("2025-03-09 09:00:00"), "a", 30.0))
    q.processAllAvailable()
    val after1 = Sinks.InMemoryKv.tableOf("cat_kpi_cont")
    assert(after1.get("2025-03-08|a")("total_revenue") == "10.00")

    // micro-batch 2: a day-3 arrival plus a LATE day-1 row (within the
    // 2-day watermark) that must REVISE 2025-03-08|a in place — the
    // upsert-overwrite the reference's put_item does on rerun
    mem.addData(
      (t("2025-03-10 08:00:00"), "b", 40.0),
      (t("2025-03-08 23:00:00"), "a", 5.0))
    q.processAllAvailable()
    val after2 = Sinks.InMemoryKv.tableOf("cat_kpi_cont")
    assert(after2.get("2025-03-08|a")("total_revenue") == "15.00")
    assert(after2.get("2025-03-08|a")("total_orders") == "2")

    // micro-batch 3: more late data for both earlier days
    mem.addData(
      (t("2025-03-09 10:00:00"), "a", 30.0),
      (t("2025-03-08 12:00:00"), "b", 1.0))
    q.processAllAvailable()
    q.stop()

    // convergence: the streamed table must equal the KPI computed from
    // scratch over ALL events, pushed through the same sink coercions
    val allEvents = Seq(
      (t("2025-03-08 10:00:00"), "a", 10.0), (t("2025-03-08 11:00:00"), "b", 20.0),
      (t("2025-03-09 09:00:00"), "a", 30.0), (t("2025-03-10 08:00:00"), "b", 40.0),
      (t("2025-03-08 23:00:00"), "a", 5.0), (t("2025-03-09 10:00:00"), "a", 30.0),
      (t("2025-03-08 12:00:00"), "b", 1.0)
    ).toDF("ts", "category", "price")
    val batchKpi = allEvents
      .groupBy($"ts".cast("date").as("order_date"), $"category")
      .agg(sum($"price").as("total_revenue"), count(lit(1)).as("total_orders"),
        avg($"price").as("avg_order_value"))
    Sinks.kvUpsert(batchKpi, "cat_kpi_batch", Seq("order_date", "category"),
      () => new Sinks.InMemoryKvClient)
    import scala.jdk.CollectionConverters._
    val streamed = Sinks.InMemoryKv.tableOf("cat_kpi_cont").asScala.toMap
    val batch = Sinks.InMemoryKv.tableOf("cat_kpi_batch").asScala.toMap
    assert(streamed.keySet == batch.keySet, s"keys: $streamed vs $batch")
    assert(streamed == batch, "every KPI cell must converge to the batch value")
  }

  test("corpus ingest screens near-dups within and across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val work = Files.createTempDirectory("graft-ingest").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = Streaming.corpusIngest(docs, work)
    val uniq = (i: Long) =>
      s"document number $i with entirely distinct content token$i payload$i trailer$i"

    // batch 1: 2 is an exact near-dup of 1 (within-batch drop); 3 unique
    mem.addData((1L, uniq(1)), (2L, uniq(1)), (3L, uniq(3)))
    q.processAllAvailable()
    val after1 = spark.read.parquet(s"$work/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(after1 == Seq(1L, 3L), s"within-batch dup must drop: $after1")

    // batch 2: 4 duplicates doc 1 from batch 1 (cross-batch drop via the
    // signature index); 5 unique
    mem.addData((4L, uniq(1)), (5L, uniq(5)))
    q.processAllAvailable()
    val after2 = spark.read.parquet(s"$work/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(after2 == Seq(1L, 3L, 5L), s"cross-batch dup must drop: $after2")

    // batch 3: 6 duplicates batch-2's survivor 5; 7 unique
    mem.addData((6L, uniq(5)), (7L, uniq(7)))
    q.processAllAvailable()
    q.stop()
    val corpus = spark.read.parquet(s"$work/corpus")
    val ids = corpus.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L, 7L), s"final corpus: $ids")

    // the accepted corpus is pair-free at the screening threshold
    val pairs = graft.ops.Dedup.minhashPairs(
      corpus.select("doc_id", "text"), "doc_id", "text", threshold = 0.5)
    assert(pairs.count() == 0, "accepted corpus must contain no near-dup pair")
    // index integrity: exactly one signature per accepted doc
    val sigIds = spark.read.parquet(s"$work/sigs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(sigIds == ids, "signature index mirrors the accepted corpus")
  }

  test("corpus ingest replay: a batch never screens against its own signatures") {
    implicit val sqlCtx = spark.sqlContext
    val work = Files.createTempDirectory("graft-ingest-replay").toString
    val text = "replayed document body alpha beta gamma delta epsilon"
    // simulate the crash window: batch 0's OWN signatures landed on a
    // previous attempt, but the checkpoint never committed — the
    // replayed batch 0 must ignore them or every doc self-matches and
    // the rewrite empties the batch
    Seq((1L, text)).toDF("doc_id", "text")
      .select($"doc_id",
        graft.ops.Dedup.minhashSignature(
          graft.ops.Dedup.shingles($"text", 3), 64).as("sig"))
      .write.parquet(s"$work/sigs/_batch=0")
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.corpusIngest(mem.toDF().toDF("doc_id", "text"), work)
    mem.addData((1L, text))
    q.processAllAvailable()
    q.stop()
    val corpus = spark.read.parquet(s"$work/corpus")
      .select("doc_id").as[Long].collect().toSeq
    assert(corpus == Seq(1L),
      "replayed batch must keep its docs, not self-screen them away")
  }

  test("manifestIngest: exactly-once appends into a Manifest table across a replayed batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-man-ingest").toString
    val tbl = s"$root/tbl"; val ckpt = s"$root/ckpt"

    // simulate the crash window: a previous attempt at batch 0 COMMITTED
    // the manifest append, but the checkpoint never recorded the batch —
    // the restarted query will replay batch 0 with the same id
    val b0 = Seq((1L, 1.0, 0L), (2L, 2.0, 1L)).toDF("k", "v", "p")
    graft.ops.Manifest.appendIfAbsent(spark, tbl, b0, "p",
      appId = "ingest-spec", batchId = 0L)

    val mem = MemoryStream[(Long, Double, Long)]
    val q = Streaming.manifestIngest(mem.toDF().toDF("k", "v", "p"), tbl,
      "p", ckpt, appId = "ingest-spec")
    mem.addData((1L, 1.0, 0L), (2L, 2.0, 1L)) // replay of batch 0
    q.processAllAvailable()
    mem.addData((3L, 3.0, 0L))                 // genuinely new batch 1
    q.processAllAvailable()
    q.stop()

    val got = graft.ops.Manifest.read(spark, tbl)
      .select($"k").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L),
      s"replayed batch must not double-append: $got")
    assert(graft.ops.Manifest.lastTxn(spark, tbl, "ingest-spec") == Some(1L))
    // every committed batch is a snapshot version: time travel sees the
    // table as of batch 0
    assert(graft.ops.Manifest.readVersion(spark, tbl, 1L).count() == 2)
  }

  test("scd2Stream folds a CDC feed into the same history the batch folds produce") {
    implicit val sqlCtx = spark.sqlContext
    val histDir = Files.createTempDirectory("graft-scd2-stream").toString + "/hist"
    val ckpt = Files.createTempDirectory("graft-scd2-ckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    val updates = mem.toDF().toDF("k", "attr", "eff")
      .select($"k", $"attr", $"eff".cast("date").as("eff"))
    val q = Streaming.scd2Stream(updates, histDir,
      keys = Seq("k"), tracked = Seq("attr"), effectiveCol = "eff", ckpt)

    // batch 1 bootstraps, batch 2 revises key 1 + inserts key 3,
    // batch 3 carries a no-op for key 2 and another revision of key 1
    val batches = Seq(
      Seq((1L, "a", "2024-01-01"), (2L, "x", "2024-01-01")),
      Seq((1L, "b", "2024-02-01"), (3L, "z", "2024-02-01")),
      Seq((1L, "c", "2024-03-01"), (2L, "x", "2024-03-01")))
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val streamed = Streaming.scd2History(spark, histDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    // each fold committed one snapshot version — the dimension's full
    // per-batch history is time-travelable
    assert(graft.ops.Manifest.versions(spark, histDir) == Seq(1L, 2L, 3L))

    // reference: the same three batches folded with batch scd2Apply
    def asDf(b: Seq[(Long, String, String)]) =
      b.toDF("k", "attr", "eff").select($"k", $"attr", $"eff".cast("date").as("eff"))
    val h0 = asDf(batches.head)
      .select($"k", $"attr", $"eff".as("valid_from"))
      .withColumn("valid_to", lit(null).cast("date"))
    val expected = batches.tail.foldLeft(h0) { (h, b) =>
      graft.ops.Merge.scd2Apply(h, asDf(b), Seq("k"), Seq("attr"), "eff")
    }.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    assert(streamed == expected)
    // sanity: key 1 carries its full three-version chain
    assert(streamed.count(_._1 == 1L) == 3)
    assert(streamed.contains((1L, "c", "2024-03-01", None)))
    // the no-op for key 2 did not fork a version
    assert(streamed.count(_._1 == 2L) == 1)
  }

  test("scd2Stream rewrites only the live + batch's closed-date partitions; old history carries by reference") {
    implicit val sqlCtx = spark.sqlContext
    val histDir = Files.createTempDirectory("graft-scd2-prune").toString + "/hist"
    val ckpt = Files.createTempDirectory("graft-scd2-prune-ck").toString
    val mem = MemoryStream[(Long, String, String)]
    val updates = mem.toDF().toDF("k", "attr", "eff")
      .select($"k", $"attr", $"eff".cast("date").as("eff"))
    val q = Streaming.scd2Stream(updates, histDir,
      keys = Seq("k"), tracked = Seq("attr"), effectiveCol = "eff", ckpt)

    mem.addData((1L, "a", "2024-01-01"), (2L, "x", "2024-01-01"))
    q.processAllAvailable()
    mem.addData((1L, "b", "2024-02-01")) // closes (1,a) into 2024-02-01
    q.processAllAvailable()
    // files of the now-closed 2024-02-01 partition
    val closedFeb = graft.ops.Manifest.loadSnapshot(spark, histDir)
      .entries.filter(_.values.contains("2024-02-01")).map(_.path).toSet
    assert(closedFeb.nonEmpty, "batch 2 must have closed a Feb partition")

    mem.addData((2L, "y", "2024-03-01")) // closes (2,x) into 2024-03-01
    q.processAllAvailable()
    q.stop()

    val after = graft.ops.Manifest.loadSnapshot(spark, histDir)
      .entries.map(_.path).toSet
    assert(closedFeb.subsetOf(after),
      "a micro-batch must not rewrite closed-date partitions it does " +
        s"not touch — Feb files $closedFeb missing from $after")
    // the write-amplification LEDGER says the same thing in counters:
    // the last fold carried the untouched closed partition by reference
    // (zero write cost) and wrote only the live + batch-date slices —
    // the shape tools/Scd2Scale prices at sf30
    val vLast = graft.ops.Manifest.latestVersion(spark, histDir).get
    val delta = graft.ops.Manifest.versionDelta(spark, histDir,
      vLast - 1, vLast)
    assert(delta.carriedFiles >= closedFeb.size,
      s"closed files must carry by reference: $delta")
    assert(delta.writeAmplification < 1.0,
      s"a partition-pruned fold must not rewrite the table: $delta")
    assert(delta.addedFiles > 0 && delta.removedFiles > 0,
      s"the live slice must have been rewritten: $delta")
    // and the fold is still the correct SCD2 answer
    val hist = Streaming.scd2History(spark, histDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString))).toSet
    assert(hist == Set(
      (1L, "a", "2024-01-01", Some("2024-02-01")),
      (1L, "b", "2024-02-01", None),
      (2L, "x", "2024-01-01", Some("2024-03-01")),
      (2L, "y", "2024-03-01", None)))
  }

  test("scd2Stream backfill: thousands of distinct effective dates fold without a giant In literal") {
    // a batch replaying years of history crosses Merge.InListThreshold:
    // both the closed-slice selection (Streaming) and the kept-row
    // selection (overwritePartitionsSliced) must switch from In-literal
    // filters to broadcast semi/anti joins — this drives that path end
    // to end and pins the fold's exactness on it
    implicit val sqlCtx = spark.sqlContext
    val n = 1500 // > Merge.InListThreshold (1000)
    val histDir = Files.createTempDirectory("graft-scd2-bf").toString + "/hist"
    val ckpt = Files.createTempDirectory("graft-scd2-bf-ck").toString
    val mem = MemoryStream[(Long, String, String)]
    val updates = mem.toDF().toDF("k", "attr", "eff")
      .select($"k", $"attr", $"eff".cast("date").as("eff"))
    val q = Streaming.scd2Stream(updates, histDir,
      keys = Seq("k"), tracked = Seq("attr"), effectiveCol = "eff", ckpt)

    val epoch = java.time.LocalDate.parse("2020-01-01")
    mem.addData((1L to n).map(k => (k, "a", epoch.toString)): _*)
    q.processAllAvailable()
    // the backfill: every key revised at its OWN distinct date
    mem.addData((1L to n).map(k =>
      (k, "b", epoch.plusDays(k).toString)): _*)
    q.processAllAvailable()
    q.stop()

    val hist = Streaming.scd2History(spark, histDir)
    assert(hist.count() == 2L * n,
      "every key must carry exactly its closed + live rows")
    assert(hist.filter($"valid_to".isNull).count() == n.toLong)
    val k7 = hist.filter($"k" === 7L).collect()
      .map(r => (r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString))).toSet
    assert(k7 == Set(
      ("a", "2020-01-01", Some(epoch.plusDays(7).toString)),
      ("b", epoch.plusDays(7).toString, None)))
  }

  test("scd2Stream: killed-and-replayed batches no-op against their txn markers (no fork)") {
    implicit val sqlCtx = spark.sqlContext
    val histDir = Files.createTempDirectory("graft-scd2-replay").toString + "/hist"
    def run(ckpt: String, data: Seq[Seq[(Long, String, String)]]): Unit = {
      val mem = MemoryStream[(Long, String, String)]
      val updates = mem.toDF().toDF("k", "attr", "eff")
        .select($"k", $"attr", $"eff".cast("date").as("eff"))
      val q = Streaming.scd2Stream(updates, histDir,
        keys = Seq("k"), tracked = Seq("attr"), effectiveCol = "eff", ckpt)
      data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    val batches = Seq(
      Seq((1L, "a", "2024-01-01"), (2L, "x", "2024-01-01")),
      Seq((1L, "b", "2024-02-01")))
    run(Files.createTempDirectory("graft-scd2-ck1").toString, batches)
    val vsBefore = graft.ops.Manifest.versions(spark, histDir)
    val histBefore = Streaming.scd2History(spark, histDir).collect()
      .map(_.toString).sorted.toSeq
    assert(vsBefore == Seq(1L, 2L))

    // crash-equivalent replay: a FRESH checkpoint re-delivers the same
    // feed with restarted batch ids — every fold must no-op against the
    // committed (appId, batchId) markers: same history, same versions,
    // no refold, no fork
    run(Files.createTempDirectory("graft-scd2-ck2").toString, batches)
    assert(graft.ops.Manifest.versions(spark, histDir) == vsBefore,
      "replayed batches must not commit new versions")
    assert(Streaming.scd2History(spark, histDir).collect()
      .map(_.toString).sorted.toSeq == histBefore)
  }

  test("continuousDailyKpiManifest: KPI table converges and replay cannot double-merge") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-kpi-manifest").toString
    val tbl = s"$root/kpi_tbl"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((ts("2024-01-01 10:00:00"), "toys", 10.0),
      (ts("2024-01-01 11:00:00"), "toys", 20.0),
      (ts("2024-01-01 12:00:00"), "books", 5.0))
    val b2 = Seq((ts("2024-01-01 13:00:00"), "toys", 30.0), // revises day 1
      (ts("2024-01-02 09:00:00"), "toys", 7.0))             // opens day 2
    def run(ckpt: String, data: Seq[Seq[(java.sql.Timestamp, String, Double)]]): Unit = {
      val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
      val df = mem.toDF().toDF("ts", "category", "price")
      val q = Streaming.continuousDailyKpiManifest(df, tbl,
        ckpt, keyCols = Seq("category"))
      data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    run(s"$root/ck1", Seq(b1, b2))
    def state() = graft.ops.Manifest.read(spark, tbl)
      .select($"order_date".cast("string"), $"category", $"total_revenue",
        $"total_orders")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getLong(3))).toSet
    // converged to the from-scratch daily answer across the revision
    assert(state() == Set(
      ("2024-01-01", "toys", 60.0, 3L),
      ("2024-01-01", "books", 5.0, 1L),
      ("2024-01-02", "toys", 7.0, 1L)))
    val vsBefore = graft.ops.Manifest.versions(spark, tbl)

    // crash-equivalent replay from a fresh checkpoint: the upsert
    // markers vouch for every batch id — no re-merge, no double counts
    run(s"$root/ck2", Seq(b1, b2))
    assert(graft.ops.Manifest.versions(spark, tbl) == vsBefore,
      "replayed batches must not commit new versions")
    assert(state() == Set(
      ("2024-01-01", "toys", 60.0, 3L),
      ("2024-01-01", "books", 5.0, 1L),
      ("2024-01-02", "toys", 7.0, 1L)))
  }

  test("transformWithState first-seen dedup suppresses cross-batch redelivery") {
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    // transformWithState requires the RocksDB state store provider
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Long)]
      val ds = mem.toDS().map { case (e, u, ms) => Streaming.KeyedEvent(e, u, ms) }
      val q = Streaming.dedupFirstSeen(ds)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_dedup_out").start()
      mem.addData((1L, 10L, 100L), (2L, 10L, 200L), (1L, 10L, 100L)) // in-batch dup
      q.processAllAvailable()
      mem.addData((1L, 10L, 100L), (3L, 20L, 300L)) // cross-batch redelivery of 1
      q.processAllAvailable()
      q.stop()
      val ids = spark.table("tws_dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L)) // each event id exactly once
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("stream-static as-of enrichment picks the native broadcast exec per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("event_id", "uid", "ets")
    val history = Seq(
      (10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (10L, java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 2.0)
    ).toDF("hk", "hts", "v")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
    val q = Streaming.asOfEnrich(stream, history,
      "uid", "hk", "ets", "hts", Seq("v"),
      out => got ++= out.select("event_id", "v")
        .as[(Long, Option[Double])].collect())
    mem.addData(
      (1L, 10L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
      (2L, 10L, java.sql.Timestamp.valueOf("2023-12-30 00:00:00")),
      (3L, 99L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
    q.processAllAvailable()
    q.stop()
    assert(got.toMap == Map(1L -> Some(2.0), 2L -> None, 3L -> None))
  }

  test("stream-stream join matches within the time bound across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val rMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val left = lMem.toDF().toDF("ts", "user_id", "click_id")
    val right = rMem.toDF().toDF("r_ts", "r_user_id", "buy_id")
    val q = Streaming.streamStreamJoin(left, right, boundSeconds = 3600L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // clicks land first; purchases arrive in a LATER micro-batch — the
    // join state must hold the clicks until their window closes
    lMem.addData(
      (t("2024-01-01 10:00:00"), 1L, 100L),
      (t("2024-01-01 10:00:00"), 2L, 200L))
    q.processAllAvailable()
    rMem.addData(
      (t("2024-01-01 10:30:00"), 1L, 777L), // within the hour -> match
      (t("2024-01-01 13:00:00"), 2L, 888L), // 3h later -> outside bound
      (t("2024-01-01 10:30:00"), 3L, 999L), // user never clicked
      (t("2024-01-01 09:30:00"), 1L, 555L)) // BEFORE the click -> no match
    q.processAllAvailable()
    // a second qualifying purchase joins the SAME click (1:N fan-out)
    rMem.addData((t("2024-01-01 10:45:00"), 1L, 778L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ss_join_out").select("click_id", "buy_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((100L, 777L), (100L, 778L)))
  }

  test("streaming funnel advances per-user stage across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Long)]
      val ds = mem.toDS().map { case (u, t, ms) => Streaming.TypedEvent(u, t, ms) }
      val q = Streaming.streamingFunnel(ds)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_funnel_out").start()
      // batch 1: user 1 views; user 2 clicks first (no view -> no progress);
      // user 1's click arrives out of order IN the same batch as the view
      mem.addData((1L, "click", 200L), (1L, "view", 100L), (2L, "click", 150L))
      q.processAllAvailable()
      // batch 2: user 1 purchases (stage 3); user 2 finally views (stage 1);
      // a second view for user 1 must NOT re-emit stage 1
      mem.addData((1L, "purchase", 300L), (2L, "view", 250L), (1L, "view", 400L))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_funnel_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(out == Set(
        (1L, 1, 100L), (1L, 2, 200L), // in-batch sort put view before click
        (1L, 3, 300L),
        (2L, 1, 250L)))               // user 2's early click never counted
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}

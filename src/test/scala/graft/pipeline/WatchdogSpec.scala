package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}

import graft.{RawFixture, SparkSpec}
import graft.io.Sinks

/** Budget enforcement — the reference's 300 s `TimeoutSeconds`
  * (StateMachine.txt:31,68) made a RUNTIME behavior: over-budget work
  * is killed promptly and leaves a terminal FAILED record. */
class WatchdogSpec extends SparkSpec {
  import spark.implicits._

  /** A Spark job that would run ~forever without cancellation: many
    * waves of sleeping tasks. Interruptible (Thread.sleep) so the job
    * group's interruptOnCancel kills it fast. */
  private def slowJob(): Unit = {
    spark.sparkContext.parallelize(1 to 64, 64)
      .mapPartitions { it => Thread.sleep(30000); it }
      .count()
    ()
  }

  test("runWithBudget kills an over-budget batch run promptly and records FAILED") {
    val statusDir = Files.createTempDirectory("graft-watchdog").toString
    val t0 = System.currentTimeMillis()
    val e = intercept[Watchdog.BudgetExceededException] {
      Watchdog.runWithBudget(spark, statusDir, "over-budget-run", 500L) {
        slowJob()
      }
    }
    val elapsed = System.currentTimeMillis() - t0
    assert(e.runId == "over-budget-run" && e.budgetMillis == 500L)
    // 64 tasks × 30 s over 32 cores ≈ 60 s uncancelled; the kill must
    // land orders of magnitude sooner
    assert(elapsed < 15000, s"cancellation took ${elapsed} ms")
    val st = Streaming.readStatuses(statusDir)
    assert(st.exists(m => m.get("run_id").contains("over-budget-run") &&
      m.get("status").contains("FAILED") &&
      m.get("exception").exists(_.contains("budget"))))
  }

  test("runWithBudget returns the body's result and records SUCCEEDED inside budget") {
    val statusDir = Files.createTempDirectory("graft-watchdog").toString
    val n = Watchdog.runWithBudget(spark, statusDir, "ok-run", 120000L) {
      spark.range(100).count()
    }
    assert(n == 100L)
    val st = Streaming.readStatuses(statusDir)
    assert(st.exists(m => m.get("run_id").contains("ok-run") &&
      m.get("status").contains("SUCCEEDED")))
    // a later run under the same id overwrites with its own terminal state
    intercept[RuntimeException] {
      Watchdog.runWithBudget(spark, statusDir, "ok-run", 120000L) {
        throw new RuntimeException("boom")
      }
    }
    assert(Streaming.readStatuses(statusDir).exists(m =>
      m.get("run_id").contains("ok-run") && m.get("status").contains("FAILED") &&
        m.get("exception").exists(_.contains("boom"))))
  }

  test("enforceBudget fails an over-budget streaming query; listener records terminal FAILED") {
    implicit val sqlCtx = spark.sqlContext
    val statusDir = Files.createTempDirectory("graft-stream-watchdog").toString
    val listener = Streaming.withStatusListener(spark, statusDir)
    try {
      val mem = MemoryStream[Int]
      val q = mem.toDF().writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // a slow SPARK JOB inside the batch (runs in the stream's job
          // group) — the watchdog's cancel must be able to reach it
          b.sparkSession.sparkContext.parallelize(1 to 64, 64)
            .mapPartitions { it => Thread.sleep(30000); it }
            .count()
          ()
        }
        .start()
      val wd = Streaming.enforceBudget(spark, q, 500L, statusDir)
      mem.addData(1)
      val t0 = System.currentTimeMillis()
      val failed =
        try { q.awaitTermination(60000); false }
        catch { case _: StreamingQueryException => true }
      assert(failed, "over-budget query must terminate with an exception")
      assert(System.currentTimeMillis() - t0 < 30000)
      wd.interrupt()
      // listener events are async; poll briefly for the terminal record
      val deadline = System.currentTimeMillis() + 10000
      def recorded() = Streaming.readStatuses(statusDir).exists(m =>
        m.get("run_id").contains(q.runId.toString) &&
          m.get("status").contains("FAILED"))
      while (!recorded() && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(recorded(), "terminal FAILED record must be durable")
    } finally spark.streams.removeListener(listener)
  }

  /** A fixture drop under a fresh directory: (raw dir, work dir). */
  private def stagedDrop(): (String, String) = {
    val root = Files.createTempDirectory("graft-watchdog-batch").toString
    RawFixture.stage(s"$root/raw")
    (s"$root/raw", s"$root/work")
  }

  private def rawFiles(raw: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(raw)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.toString).toVector.sorted

  test("runAllWithBudget cancels the sink jobs on their worker threads and leaves raw unarchived") {
    // a first drop warms the pipeline's code paths, so the steps before
    // the sinks take a fraction of the budget below
    val (warmRaw, warmWork) = stagedDrop()
    Batch.runAll(spark, warmRaw, warmWork, () => new Sinks.InMemoryKvClient, 0L)
    val (raw, work) = stagedDrop()
    val before = rawFiles(raw)
    // every KV put blocks until its task is interrupted, so the budget
    // expires inside the concurrent sink step
    val budget = 8000L
    val t0 = System.currentTimeMillis()
    val e = intercept[Watchdog.BudgetExceededException] {
      Batch.runAllWithBudget(spark, raw, work, WatchdogSpec.blockingKv, budget, 0L)
    }
    val late = System.currentTimeMillis() - t0 - budget
    assert(e.budgetMillis == budget)
    assert(late < 10000, s"cancellation landed $late ms after the deadline")
    assert(WatchdogSpec.blockedPuts.get > 0, "the budget expired before the KV sink ran")
    assert(Streaming.readStatuses(s"$work/status").exists(m =>
      m.get("run_id").contains(e.runId) && m.get("status").contains("FAILED") &&
        m.get("exception").exists(_.contains("budget"))))
    assert(rawFiles(raw) == before)
    assert(!Files.exists(java.nio.file.Paths.get(s"$work/archive")))
  }

  test("enforceBudget stops a runAvailableNow drop whose KV puts block on the driver; " +
    "raw stays unarchived") {
    val (raw, work) = stagedDrop()
    val before = rawFiles(raw)
    val puts = WatchdogSpec.blockedPuts.get
    val statusDir = s"$work/status"
    val listener = Streaming.withStatusListener(spark, statusDir)
    // registered after the status listener, and the bus hands each event
    // to its listeners in registration order: once this one has seen the
    // termination, the status listener has handled it too
    val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val probe = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
        terminated.add(event.runId.toString)
    }
    spark.streams.addListener(probe)
    // the KPI rows are put from the driver, where no job group reaches
    // them: the query must still stop
    val budget = 8000L
    val t0 = System.currentTimeMillis()
    val q = Streaming.runAvailableNow(spark, raw, work, WatchdogSpec.blockingKv, 0L)
    val wd = Streaming.enforceBudget(spark, q, budget, statusDir)
    try {
      try q.awaitTermination(60000)
      catch { case _: StreamingQueryException => () }
      wd.join(30000) // it returns once the query has stopped
      assert(!q.isActive, "the over-budget query is still running")
      val late = System.currentTimeMillis() - t0 - budget
      assert(late < 20000, s"the query stopped $late ms after the deadline")
      assert(late < 3000, s"the query stopped $late ms after the deadline")
      assert(WatchdogSpec.blockedPuts.get > puts, "the budget expired before the KV sink ran")
      assert(rawFiles(raw) == before)
      assert(!Files.exists(java.nio.file.Paths.get(s"$work/archive")))
      val deadline = System.currentTimeMillis() + 10000
      while (!terminated.contains(q.runId.toString) &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(terminated.contains(q.runId.toString), "no termination event")
      val records = Streaming.readStatuses(statusDir)
        .filter(_.get("run_id").contains(q.runId.toString))
      assert(records.size == 1 && records.head.get("status").contains("FAILED") &&
        records.head.get("exception").exists(_.contains("budget")),
        s"the watchdog's FAILED record must survive the stop: $records")
    } finally {
      q.stop()
      if (wd.isAlive) wd.interrupt()
      spark.streams.removeListener(listener)
      spark.streams.removeListener(probe)
    }
  }

  test("a failing KV client makes runAll rethrow, and the archive does not run") {
    val (raw, work) = stagedDrop()
    val before = rawFiles(raw)
    val e = intercept[Exception] {
      Batch.runAll(spark, raw, work, WatchdogSpec.failingKv, 0L)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("kv store unavailable")), e)
    assert(rawFiles(raw) == before)
    assert(!Files.exists(java.nio.file.Paths.get(s"$work/archive")))
  }
}

object WatchdogSpec {
  val blockedPuts = new java.util.concurrent.atomic.AtomicInteger()

  val blockingKv: () => Sinks.KvClient = () => new Sinks.KvClient {
    def put(table: String, key: String, item: Map[String, String]): Unit = {
      blockedPuts.incrementAndGet()
      Thread.sleep(60000L)
    }
  }

  val failingKv: () => Sinks.KvClient = () => new Sinks.KvClient {
    def put(table: String, key: String, item: Map[String, String]): Unit =
      throw new IllegalStateException("kv store unavailable")
  }
}

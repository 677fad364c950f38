package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Wall-clock budget enforcement for batch runs — the runtime analog of
  * the reference's per-task `TimeoutSeconds: 300`
  * (`/root/reference/StateMachine.txt:31,68`): Step Functions KILLS an
  * over-budget task and routes the execution to the named Fail state.
  * The engine's prior coverage recorded the budget (BASELINE.md) and
  * had the Fail-state artifact ([[Streaming.StatusFileListener]]) but
  * nothing actually terminated an over-budget run; this closes that
  * gap.
  *
  * Mechanism: the run's jobs are tagged with a job group
  * (`interruptOnCancel = true`), and at the deadline a daemon timer
  * cancels the whole group — Spark's native kill point: every in-flight
  * stage's tasks are interrupted, queued jobs in the group die with
  * them — and interrupts the thread running the body. The interrupt
  * reaches driver-side work that is no Spark job: a sink writing rows
  * that are already on the driver, and the worker threads of
  * `Batch.concurrently`, which passes it on. The terminal FAILED record
  * lands in `statusDir` via the same atomic writer the streaming
  * listener uses, so a monitor polls ONE artifact shape for batch and
  * streaming alike.
  *
  * Granularity: cancellation lands at Spark-job boundaries (plus task
  * interrupt inside a job), and driver-side work stops at its next
  * interruptible wait (sleep, lock, channel I/O). Driver-side compute
  * that never waits — planning, a tight loop — runs on to its end;
  * that residue is the orchestrator's kill -9, exactly as in the
  * reference where ECS stops the container. */
object Watchdog {

  final case class BudgetExceededException(runId: String, budgetMillis: Long)
    extends RuntimeException(
      s"run $runId exceeded its $budgetMillis ms budget and was cancelled")

  /** Run `body` under `budgetMillis` of wall clock. On success writes a
    * SUCCEEDED record keyed `runId` and returns the result; over
    * budget, cancels the run's job group, interrupts the calling thread,
    * writes the FAILED record (with the budget in the exception text),
    * and throws [[BudgetExceededException]]. A failure unrelated to the
    * budget also gets a FAILED record, then rethrows — every outcome
    * leaves a terminal artifact. The deadline's interrupt never outlives
    * the body: once the body has returned or thrown, no interrupt is
    * sent, and one that was sent and not consumed is cleared. */
  def runWithBudget[T](spark: SparkSession, statusDir: String, runId: String,
                       budgetMillis: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = Thread.currentThread()
    // set under its own lock, with `bodyEnded` and the interrupt, so the
    // timer cannot interrupt the caller once the body has ended
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    var bodyEnded = false
    val timer = new java.util.Timer(s"graft-watchdog-$runId", true)
    sc.setJobGroup(runId, s"graft run $runId (budget $budgetMillis ms)",
      interruptOnCancel = true)
    timer.schedule(new java.util.TimerTask {
      override def run(): Unit = timedOut.synchronized {
        if (!bodyEnded) {
          timedOut.set(true)
          sc.cancelJobGroup(runId)
          caller.interrupt()
        }
      }
    }, budgetMillis)
    def endBody(): Unit = {
      timedOut.synchronized { bodyEnded = true }
      // the record writes below use interruptible channels
      if (timedOut.get()) Thread.interrupted()
    }
    try {
      val out = try body finally endBody()
      Streaming.writeStatusRecord(statusDir, s"$runId.json", Seq(
        "run_id" -> runId, "status" -> "SUCCEEDED", "exception" -> null))
      out
    } catch {
      case e: Throwable =>
        val (status, exc) =
          if (timedOut.get())
            ("FAILED", s"budget of $budgetMillis ms exceeded: ${e.getMessage}")
          else ("FAILED", String.valueOf(e))
        Streaming.writeStatusRecord(statusDir, s"$runId.json", Seq(
          "run_id" -> runId, "status" -> status, "exception" -> exc))
        if (timedOut.get()) throw BudgetExceededException(runId, budgetMillis)
        else throw e
    } finally {
      timer.cancel()
      sc.clearJobGroup()
    }
  }
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object JobCount {

  /** Runs `body` in a job group of its own and returns its result with
    * the number of Spark jobs started in that group, by the calling
    * thread and by every thread it starts (a fresh thread inherits the
    * group). */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime}"
    inGroup(spark, group) {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs
    * started in job group `group` while it ran, by any thread (a
    * streaming query runs its batches in the group of its `runId`). A
    * marker job in another group runs after `body`: the listener bus
    * delivers in order, so once the marker arrives every job of `body`
    * has been seen. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"$group-marker"
    val jobs = new AtomicInteger()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => done.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `/proc/self/io` counters: rchar, wchar, syscr, syscw, read_bytes,
  * write_bytes (zeros where the file is unreadable). */
object ProcIo {
  val WChar = 1
  val SyscW = 3
  private val keys = Array("rchar", "wchar", "syscr", "syscw", "read_bytes", "write_bytes")
  def read(): Array[Long] = {
    val out = new Array[Long](keys.length)
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().foreach { l =>
        val i = keys.indexOf(l.takeWhile(_ != ':'))
        if (i >= 0) out(i) = l.dropWhile(_ != ':').drop(1).trim.toLong
      } finally src.close()
    } catch { case _: java.io.IOException => () }
    out
  }
}

/** One call into a layer. `name` is `<layer>.<call>`; the layers `unit`
  * (a drop or a lake cycle) and `op` (one timed client op) group calls
  * and are not layers of the engine. Times are nanoTime; `epochMs`
  * places the span on the listener events' clock. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long,
                 val epochMs: Long, val io0: Array[Long]) {
  var end: Long = 0L
  var io1: Array[Long] = io0
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
  def endEpochMs: Long = epochMs + (end - start) / 1000000L
  def io(i: Int): Long = io1(i) - io0(i)
}

/** A finished Spark job with its tasks' metrics summed. */
final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L
  var recordsWritten = 0L
}

/** Progress of one streaming micro-batch. */
final case class Progress(runId: String, durations: Map[String, Long])

/** Spans at the benchmark's calls into the engine, plus a SparkListener
  * and a StreamingQueryListener that attribute jobs, tasks and
  * micro-batch phases to them. Everything stays in memory until
  * [[write]]. Spans are recorded only while [[on]] is set; the listeners
  * are registered by [[begin]] and removed by [[end]], so untraced ops
  * pay nothing. */
final class Tracer(spark: SparkSession) {
  val SpanProp = "perfbench.span"
  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  val jobs = ArrayBuffer[JobRec]()
  val progress = ArrayBuffer[Progress]()
  private var stack: List[Span] = Nil
  private val stageJob = scala.collection.mutable.HashMap[Int, JobRec]()
  private val sc = spark.sparkContext

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time)
      jobs += j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime; j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.recordsRead += m.inputMetrics.recordsRead
          j.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = scala.collection.mutable.Map[String, Long]()
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      progress += Progress(p.runId.toString, d.toMap)
    }
  }

  /** Start tracing (registers the listeners). */
  def begin(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(queryListener)
    on = true
  }

  /** Stop tracing once every event so far has been delivered. */
  def end(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    on = false
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(queryListener)
  }

  /** Record `body` as a span named `name` under the innermost open span.
    * The driver thread and a streaming query's batch thread never open
    * spans at the same time (the driver waits on the query), so one stack
    * serves both; the span id rides the thread's Spark job properties so
    * every job it submits is attributed to it. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
          System.nanoTime(), System.currentTimeMillis(), ProcIo.read())
        spans += s; stack = s :: stack; s
      }
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(SpanProp, prev)
        synchronized {
          s.io1 = ProcIo.read(); s.end = System.nanoTime()
          stack = stack.filterNot(_ eq s)
        }
      }
    }

  // -------- analysis --------

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def descendants(s: Span): Seq[Span] = {
    val kids = children(s); kids ++ kids.flatMap(descendants)
  }

  /** Length of the union of `[a, b)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    total + (curB - curA)
  }

  /** A span's duration minus the part its children cover, in seconds. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
    ((s.end - s.start) - covered(kids.filter(k => k._2 > k._1))) / 1e9
  }

  /** Jobs submitted under `s` or any span below it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = (descendants(s).map(_.id) :+ s.id).toSet
    jobs.filter(j => ids.contains(j.span)).toSeq
  }

  /** Jobs under `s`, plus jobs with no span that started inside its
    * window — e.g. a query's own offset listing. */
  def jobsDuring(s: Span): Seq[JobRec] = {
    jobs.filter(j => j.span < 0 && j.startMs >= s.epochMs &&
      j.startMs <= s.endEpochMs).toSeq ++ jobsUnder(s)
  }

  /** Wall time of `s` that no Spark job covers, in seconds. */
  def driverGap(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.epochMs), math.min(j.endMs, s.endEpochMs)))
      .filter(t => t._2 > t._1)
    math.max(0.0, s.seconds - covered(iv) / 1e3)
  }

  /** All spans as JSON lines (name, start/end seconds from the first span,
    * parent, self time, jobs). */
  def write(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> selfSeconds(s), "jobs" -> jobsUnder(s).count(_.span == s.id))))
    } finally w.close()
  }
}

object Tracer {
  /** Whether timed unit `i` (from 0) of a traced run is traced: the
    * pattern traced, untraced, untraced, traced, repeated, so that a
    * drift over the run (a table that grows, a JIT that warms) weighs on
    * traced and untraced units alike. */
  def abba(i: Int): Boolean = i % 4 == 0 || i % 4 == 3
}

/** LogStore that counts and times pointer commits; the traced run
  * registers it for `file:` through `spark.hadoop.graft.logstore.file`. */
class CountingLogStore extends graft.ops.LocalLinkLogStore {
  override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                           path: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    val t = System.nanoTime()
    try super.putIfAbsent(fs, path, bytes)
    finally { CountingLogStore.puts.incrementAndGet(); CountingLogStore.nanos.addAndGet(System.nanoTime() - t) }
  }
}
object CountingLogStore {
  val puts = new AtomicLong(); val nanos = new AtomicLong()
}

/** KV client that counts the items it writes (executors run in this JVM
  * in local mode, so one counter sees every partition). */
class CountingKv(base: String) extends graft.io.Sinks.FileKvClient(base) {
  override def put(table: String, key: String, item: Map[String, String]): Unit = {
    super.put(table, key, item); CountingKv.items.incrementAndGet()
  }
}
object CountingKv { val items = new AtomicLong() }

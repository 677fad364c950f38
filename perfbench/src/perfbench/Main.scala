package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result and trace lines. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => value(x.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Order statistics over a sample. The tail is the highest percentile
  * with at least ten samples beyond it (none below eleven samples). */
final case class Sample(values: Seq[Double]) {
  private lazy val sorted = values.sorted.toIndexedSeq
  def n: Int = values.size
  def quantile(q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median: Double = quantile(0.5)
  def sum: Double = values.sum
  def tail: Option[(Double, Double)] =
    if (n < 11) None else Some((100.0 * (n - 10) / n, sorted(n - 11)))
}

/** A metric as printed: name, value, unit, and the samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 1)

/** State shared by a workload run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val tiny: Boolean, val work: File,
                val cores: Int, val tracer: Tracer, val corruptKv: Boolean,
                val launchMs: Long, val sessionSeconds: Double) {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()
  val report = ArrayBuffer[String]()
  val heapMb = ArrayBuffer[Double]()

  /** Count one attempted op; `errors` are its check failures. */
  def outcome(op: String, errors: Seq[String]): Unit = {
    attempted += 1
    if (errors.nonEmpty) {
      failed += 1
      problems ++= errors.take(5).map(e => s"$op: $e")
    }
  }

  /** Old-generation bytes in use after a full collection; the peak over
    * the run is `heap_peak_mb`. Called between ops, never inside one. */
  def sampleHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def used = old.map(_.getUsage.getUsed).sum / 1048576.0
    // each collection lets Spark's ContextCleaner release what the last one
    // found unreachable (broadcast and cached blocks of finished ops), so
    // collect until a pass frees less than 1 MB
    System.gc()
    var last = used
    var passes = 1
    var settled = false
    while (!settled && passes < 5) {
      Thread.sleep(100)
      System.gc()
      passes += 1
      val now = used
      settled = last - now < 1.0
      last = now
    }
    heapMb += last
  }
  def heapPeakMb: Double = heapMb.max

  def note(line: String): Unit = report += line

  /** A report line with the seconds since process launch. */
  def mark(what: String): Unit =
    note(f"at ${(System.currentTimeMillis() - launchMs) / 1e3}%.3f s: $what")
}

object Main {

  /** Bytes of the regular files under `f`, skipping `skip`. */
  def du(f: File, skip: Set[String] = Set.empty): Long =
    if (!f.exists || skip.contains(f.getName)) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles).map(_.map(du(_, skip)).sum).getOrElse(0L)

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Elapsed seconds of `body`. */
  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "trace").contains("1")
    val tiny = arg(args, "size").contains("tiny")
    val corruptKv = args.contains("--corrupt-kv")
    val launchMs = arg(args, "launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    val work = new File(arg(args, "work").getOrElse(sys.error("--work required")))
    val cores = Runtime.getRuntime.availableProcessors()

    rmTree(work); work.mkdirs()
    val spark = graft.Spark.session(cores = cores.toString, appName = s"perfbench-$workload")
    spark.sparkContext.setLogLevel("WARN")
    // process launch to a ready session; setup_s adds the median of the
    // workload's own set-ups to it
    val sessionSeconds = (System.currentTimeMillis() - launchMs) / 1e3
    val ctx = new Ctx(spark, seed, seconds, traced, tiny, work, cores, new Tracer(spark), corruptKv,
      launchMs, sessionSeconds)
    ctx.note(f"setup: jvm+session $sessionSeconds%.3f s")

    val (metrics, perLayer) =
      try workload match {
        case "pipeline_trickle" => Pipeline.run(ctx)
        case "lake_mixed" => Lake.run(ctx)
        case w => sys.error(s"unknown workload $w")
      } catch {
        case e: Throwable =>
          ctx.attempted += 1; ctx.failed += 1
          ctx.problems += s"run aborted: $e"
          e.printStackTrace()
          (Seq.empty[Metric], Seq.empty[Metric])
      }

    ctx.mark("workload done")
    if (traced) ctx.tracer.write(new File(work.getParentFile, s"trace-$workload-$seed.jsonl"))
    val env = Seq("cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "java" -> System.getProperty("java.version"))
    spark.stop()

    ctx.note("heap_after_gc_mb " + ctx.heapMb.map(m => f"$m%.1f").mkString(" "))
    ctx.report.foreach(l => println(s"# $l"))
    ctx.problems.foreach(p => println(s"# FAILED $p"))
    val shown = if (traced) perLayer else metrics
    shown.foreach(m => println(f"# metric ${m.name}%-34s ${m.value}%14.6f ${m.unit}%-6s n=${m.samples}"))
    println("ENV " + Json.obj(env))
    val correct = ctx.failed == 0 && ctx.attempted > 0 && shown.nonEmpty
    println("RESULT " + Json.obj(Seq("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> shown.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
    System.exit(0)
  }
}

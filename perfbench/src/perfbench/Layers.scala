package perfbench

/** Per-layer metrics of a traced run. Every workload prints the same
  * names; a layer a workload never calls reads 0. Each value is the
  * median over the traced units (a drop, or a lake cycle). */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    "streaming.gate_s" -> "s", "streaming.overhead_s" -> "s",
    "streaming.latest_offset_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.ingest_overhead_s" -> "s",
    "validate.s" -> "s", "validate.jobs" -> "count", "validate.rows_in" -> "count",
    "validate.keep_ratio" -> "ratio",
    "transform.s" -> "s", "transform.jobs" -> "count",
    "transform.shuffle_write_bytes" -> "bytes",
    "sinks.csv_s" -> "s", "sinks.csv_jobs" -> "count", "sinks.kv_items" -> "count",
    "sinks.archive_s" -> "s", "sinks.archive_files" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.core_busy_frac" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "manifest.append_s" -> "s", "manifest.append_jobs" -> "count",
    "manifest.append_write_syscalls" -> "count", "manifest.append_bytes_written" -> "bytes",
    "manifest.upsert_s" -> "s", "manifest.upsert_jobs" -> "count",
    "manifest.compact_s" -> "s", "manifest.compact_bytes_rewritten" -> "bytes",
    "manifest.versions" -> "count", "manifest.live_files" -> "count",
    "manifest.dv_files" -> "count", "manifest.table_bytes" -> "bytes",
    "logstore.puts" -> "count", "logstore.put_s" -> "s",
    "incremental.refresh_s" -> "s", "incremental.refresh_jobs" -> "count",
    "scan.plan_s" -> "s", "scan.exec_s" -> "s", "scan.files_read" -> "count",
    "scan.prune_ratio" -> "ratio",
    "self.streaming_s" -> "s", "self.validate_s" -> "s", "self.transform_s" -> "s",
    "self.sinks_s" -> "s", "self.manifest_s" -> "s", "self.incremental_s" -> "s",
    "self.scan_s" -> "s",
    "trace.unattributed_s" -> "s", "trace.overhead_s" -> "s", "trace.units" -> "count")

  /** Values of one traced unit measured from its spans and jobs. */
  private def fromSpans(t: Tracer, unit: Span, cores: Int): Map[String, Double] = {
    val all = t.descendants(unit)
    def named(n: String) = all.filter(_.name == n)
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    def jobsOf(ss: Seq[Span]) = {
      val ids = ss.map(_.id).toSet
      t.jobs.filter(j => ids.contains(j.span)).toSeq
    }
    def layer(l: String) = all.filter(_.layer == l)
    val validateJobs = jobsOf(layer("validate"))
    val read = validateJobs.map(_.recordsRead).sum.toDouble
    val unitJobs = t.jobsDuring(unit)
    val runS = unitJobs.map(_.runMs).sum / 1e3
    val appends = named("manifest.append")
    val selfOf = (l: String) => layer(l).map(t.selfSeconds).sum
    Map(
      "streaming.gate_s" -> secs(named("streaming.gate")),
      "validate.s" -> secs(layer("validate")),
      "validate.jobs" -> validateJobs.size.toDouble,
      "validate.rows_in" -> read,
      "validate.keep_ratio" -> (if (read > 0) validateJobs.map(_.recordsWritten).sum / read else 0.0),
      "transform.s" -> secs(layer("transform")),
      "transform.jobs" -> jobsOf(layer("transform")).size.toDouble,
      "transform.shuffle_write_bytes" -> jobsOf(layer("transform")).map(_.shuffleWrite).sum.toDouble,
      "sinks.csv_s" -> secs(named("sinks.csvTimestamped")),
      "sinks.csv_jobs" -> jobsOf(named("sinks.csvTimestamped")).size.toDouble,
      "sinks.archive_s" -> secs(named("sinks.archive")),
      "spark.jobs" -> unitJobs.size.toDouble,
      "spark.tasks" -> unitJobs.map(_.tasks).sum.toDouble,
      "spark.driver_gap_s" -> t.driverGap(unit, unitJobs),
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> unitJobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> unitJobs.map(_.gcMs).sum / 1e3,
      "spark.core_busy_frac" -> runS / (unit.seconds * cores),
      "spark.shuffle_write_bytes" -> unitJobs.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> unitJobs.map(_.spill).sum.toDouble,
      "manifest.append_s" -> secs(appends),
      "manifest.append_jobs" -> jobsOf(appends).size.toDouble,
      "manifest.append_write_syscalls" -> appends.map(_.io(ProcIo.SyscW)).sum.toDouble,
      "manifest.append_bytes_written" -> appends.map(_.io(ProcIo.WChar)).sum.toDouble,
      "manifest.upsert_s" -> secs(named("manifest.upsertMor")),
      "manifest.upsert_jobs" -> jobsOf(named("manifest.upsertMor")).size.toDouble,
      "manifest.compact_s" -> secs(named("manifest.compact")),
      "manifest.compact_bytes_rewritten" -> named("manifest.compact").map(_.io(ProcIo.WChar)).sum.toDouble,
      "incremental.refresh_s" -> secs(named("incremental.refresh")),
      "incremental.refresh_jobs" -> jobsOf(named("incremental.refresh")).size.toDouble,
      "scan.plan_s" -> secs(named("scan.plan")),
      "scan.exec_s" -> secs(named("scan.exec")),
      "self.streaming_s" -> selfOf("streaming"), "self.validate_s" -> selfOf("validate"),
      "self.transform_s" -> selfOf("transform"), "self.sinks_s" -> selfOf("sinks"),
      "self.manifest_s" -> selfOf("manifest"), "self.incremental_s" -> selfOf("incremental"),
      "self.scan_s" -> selfOf("scan"),
      "trace.unattributed_s" -> (t.selfSeconds(unit) + layer("op").map(t.selfSeconds).sum))
  }

  /** The per-layer metrics: per-unit span values merged with the
    * workload's own per-unit `extra` values, medians over units. The
    * tracing overhead is the traced minus the untraced unit median. */
  def metrics(ctx: Ctx, units: Seq[Span], extra: Seq[Map[String, Double]],
              untracedUnit: Sample, tracedUnit: Sample): Seq[Metric] = {
    val perUnit = units.zip(extra).map { case (u, x) => fromSpans(ctx.tracer, u, ctx.cores) ++ x }
    if (ctx.traced) ctx.note(f"trace.overhead_s from traced n=${tracedUnit.n} p50=${tracedUnit.median}%.4f, " +
      f"untraced n=${untracedUnit.n} p50=${untracedUnit.median}%.4f")
    Names.map { case (name, unit) =>
      val v = name match {
        case "trace.overhead_s" => tracedUnit.median - untracedUnit.median
        case "trace.units" => units.size.toDouble
        case _ => Sample(perUnit.map(_.getOrElse(name, 0.0))).median
      }
      val n = if (name == "trace.overhead_s") math.min(tracedUnit.n, untracedUnit.n) else units.size
      Metric(name, if (v.isNaN) 0.0 else v, unit, n)
    }
  }
}

/** Report lines for a sample: count, quartiles and tail. */
object Report {
  def sample(ctx: Ctx, name: String, s: Sample): Unit = {
    val tail = s.tail.map { case (p, v) => f"p$p%.1f=$v%.4f" }.getOrElse("tail=n/a(<11)")
    ctx.note(f"$name%-16s n=${s.n}%3d p25=${s.quantile(0.25)}%.4f p50=${s.median}%.4f " +
      f"p75=${s.quantile(0.75)}%.4f $tail")
  }
}

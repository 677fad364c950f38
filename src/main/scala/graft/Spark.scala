package graft

import org.apache.spark.sql.SparkSession

/** One place for session construction so Verify, Bench, and tests agree on
  * the configs that affect semantics (UTC, nanos handling) and local-mode
  * sizing (shuffle partitions = cores, not the 200 default).
  *
  * It also binds `file:` to [[graft.io.NioLocalFileSystem]] (the
  * `FileSystem` API) and [[graft.io.NioLocalFs]] (the `FileContext` API,
  * which streaming checkpoints use). Without the native hadoop library,
  * the stock local filesystem runs `chmod` as a child process on every
  * `mkdirs` and file `create`, and `readlink` twice per `FileContext`
  * rename; these do the same in-process.
  * Hadoop caches one `FileSystem` per scheme and user, so a `file:`
  * filesystem opened before the first session keeps its class. */
object Spark {
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
              appName: String = "graft"): SparkSession = {
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // shuffle parallelism sizes with the DATA, not the cores, once
      // partitions stop fitting in memory — at sf30 (180 M-row facts)
      // 32 partitions spill/OOM an 8-16 g heap, so big-SF bench runs
      // raise this (AQE coalesces the excess back down when small)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores))
      .config("spark.sql.adaptive.enabled", "true")
      // whole-stage-codegen class cache (STATIC conf, default 100
      // entries): a session that alternates more than ~100 distinct
      // codegen units — the 16-query bench sweep, any multi-query
      // service — thrashes the LRU and pays Janino recompilation
      // (~50-200 ms/unit) on every revisit. Compiled classes are
      // small; 5000 entries is a few hundred MB ceiling at worst and
      // the right default for a long-lived session at any scale.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.sql.session.timeZone", "UTC")
      // graft's Catalyst extension: plans graft.plans.AsOfJoinPlan into
      // the streaming-merge AsOfJoinExec
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // testdata events.ts is TIMESTAMP(NANOS); read as long, normalized
      // in Sources.table
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed tables (bucketing) land outside the repo working tree
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
      .getOrCreate()
  }
}

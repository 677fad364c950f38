package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source connectors (SURVEY.md §2.A).
  *
  * A logical table is "all files under a prefix" — exactly the reference's
  * multi-file dataset abstraction (`Task_1/task_1.py:88-104` lists an S3
  * prefix and concatenates every CSV). Spark's multi-file datasource gives
  * the same union semantics natively, with splittable parallel reads
  * instead of a sequential driver loop — this is what lets the same code
  * path scale from 4 MB of CSVs to a 100 TB lake: each file (and each
  * parquet row-group) becomes an independent task.
  *
  * Paths are Hadoop-FS URIs, so `file:/`, `hdfs:/` and `s3a://` all work
  * unchanged (the reference is hard-wired to boto3/S3,
  * `Task_1/task_1.py:25`).
  */
object Sources {

  /** Single-CSV scan with declared schema (`src_csv_single`,
    * reference `Task_1/task_1.py:76-86`). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Schema-inference mode mirroring `pd.read_csv` (`Task_1/task_1.py:86`).
    * Costs an extra sampling pass — prefer [[csv]] at scale. */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** Multi-file CSV scan + union-all (`src_csv_multi`,
    * reference `Task_1/task_1.py:88-104`): every `*.csv` under `dir` is
    * one logical table. Spark schedules one task per file split — the
    * reference's sequential read-and-concat loop, parallelized. */
  def csvMulti(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema)
      .csv(stripTrailingSlash(dir) + "/*.csv")

  /** CSV scan that QUARANTINES malformed lines instead of nulling or
    * dropping them silently: PERMISSIVE mode with the raw offending
    * line captured in `_corrupt_record` — the ingest-boundary
    * counterpart of [[graft.ops.Validate.quarantine]]. At 100 TB a
    * dirty row must neither kill the job (FAILFAST) nor vanish
    * (DROPMALFORMED); it lands in the reject channel with its source
    * line intact for replay. Note Spark's restriction: cache/persist
    * the parsed frame before a query that reads ONLY the corrupt
    * column (SPARK-21610) — real ingest materializes the parse before
    * splitting channels anyway. */
  def csvWithRejects(spark: SparkSession, path: String,
                     schema: StructType): DataFrame = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType, nullable = true))
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .csv(path)
  }

  /** JSON-lines source with an explicit schema (inference would scan
    * the data twice and guess types — never at 100 TB). */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Columnar scan for the internal/validated layer (typed Parquet end to
    * end; CSV only at the boundary — SURVEY.md §7.5 item 7).
    *
    * The schema comes from ONE footer read driver-side when possible:
    * stock inference funnels a representative footer through a whole
    * Spark job (`mergeSchemasInParallel`) even with `mergeSchema=false`
    * — pure scheduling overhead paid once per table read, on every
    * query. Falls back to stock inference when no data file is found. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.GraftParquetBridge.localInferSchema(spark, path)
      .map(s => spark.read.schema(s).parquet(path))
      .getOrElse(spark.read.parquet(path))

  /** Fan a frame out to cluster parallelism before heavy per-row compute
    * (signatures, decode, feature extraction), but ONLY when the scan is
    * under-split. A parquet row group is the minimum scan split, so a
    * small single-row-group file becomes ONE task and a
    * signature/decode pass over it runs on one core of the whole cluster
    * (measured: dedup_minhash signatures 7 s single-task at sf0.1 vs
    * ~0.5 s fanned out). At lake scale an input has thousands of row
    * groups ≥ parallelism, so this is a no-op — the shuffle is paid only
    * when it buys strictly more cores than the scan would use. Hash
    * repartitioning on `key` keeps the layout deterministic. */
  def fanOut(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target)
      df.repartition(target, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** Testdata star-schema table loader (TESTDATA.md).
    *
    * `events.ts` has shipped in two physical shapes across driver
    * regenerations, both normalized here to session-zone TimestampType so
    * every downstream query sees one type:
    *  - TIMESTAMP(NANOS): Spark's parquet reader rejects it outright;
    *    sessions set `spark.sql.legacy.parquet.nanosAsLong=true` (see
    *    [[graft.Spark.session]]) so it arrives as nanos-since-epoch
    *    LongType and is truncated to micros by integer division (float
    *    division would lose precision above 2^53). DuckDB truncates
    *    ns→µs the same way, keeping oracle parity.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ, which time arithmetic like `unix_millis` rejects.
    *    The session zone is pinned to UTC, so the cast to TimestampType
    *    is value-identical to DuckDB's naive reading of the same column. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = parquet(spark, s"${stripTrailingSlash(sfDir)}/$name.parquet")
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** File-presence predicate (infra, reference `lambda_trigger.py:44-61`,
    * `Task_1/task_1.py:34-61`): "does at least one object exist under the
    * prefix". Used as the trigger availability gate (SURVEY.md §2.I). */
  def present(spark: SparkSession, pattern: String): Boolean = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = fs.globStatus(p)
    matches != null && matches.exists(s => s.isFile && s.getLen > 0)
  }

  /** The reference's full trigger condition: products file plus at least
    * one orders and one order_items part (`lambda_trigger.py:44-65`). */
  def allInputsPresent(spark: SparkSession, rawDir: String): Boolean = {
    val base = stripTrailingSlash(rawDir)
    present(spark, s"$base/products.csv") &&
      present(spark, s"$base/orders/*.csv") &&
      present(spark, s"$base/order_items/*.csv")
  }

  private def stripTrailingSlash(s: String): String =
    if (s.endsWith("/")) s.dropRight(1) else s
}

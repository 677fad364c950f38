package graft.io

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, StructField, TimestampType}

/** Sink connectors (SURVEY.md §2.A).
  *
  * The reference writes CSVs back to S3 (`Task_1/task_1.py:148-158`,
  * `Task_2/task_2.py:200-235`) and upserts KPI rows into DynamoDB with a
  * single-threaded `put_item` row loop (`Task_2/task_2.py:144-197`) — the
  * slowest path in the whole program. Here the KV sink runs
  * partition-parallel via `foreachPartition`, so write throughput scales
  * with executor count instead of being a driver bottleneck.
  *
  * Venue rule of [[kvUpsert]] and [[csvTimestamped]]: a frame whose
  * optimized plan is a `LocalRelation` already holds its rows on the
  * driver, so the driver writes them and no Spark job runs; any other
  * frame is written by the executors.
  */
object Sinks {

  /** CSV sink (`snk_csv`, reference `Task_1/task_1.py:148-158`): header,
    * no row index, overwrite. One file per partition; `coalesce` upstream
    * if a single object is required. */
  def csv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(dir)

  /** Timestamped CSV sink (`snk_csv_ts`, reference `Task_2/task_2.py:200-235`):
    * writes under `base/<ts>/name/`. `ts` is a per-batch constant supplied
    * by the caller (driver-side batch time, formatted like the reference's
    * `yyyy-MM-dd-T-HH:mm:ss`, `Task_2/task_2.py:215`) — never
    * `current_timestamp()` inside the plan, which would be nondeterministic
    * per-row. Returns the directory written.
    *
    * A frame whose rows are on the driver (see [[Sinks]]) is written there
    * as one part, by Spark's own CSV generator with the options [[csv]]
    * uses, so the bytes are those an executor would write; any other
    * frame goes through [[csv]]. */
  def csvTimestamped(df: DataFrame, base: String, name: String, ts: String): String = {
    val dir = s"$base/$ts/$name"
    driverRows(df) match {
      case Some(rows) if df.schema.forall(f => CsvFormat.supportDataType(f.dataType)) =>
        csvFromDriver(df, rows, dir)
      case _ => csv(df, dir)
    }
    dir
  }

  /** For its type check: a type Spark's CSV writer refuses goes to
    * [[csv]], which raises Spark's own error. */
  private val CsvFormat = new CSVFileFormat

  /** The rows of `df` when its optimized plan is a `LocalRelation`:
    * Catalyst folds projections and filters over driver-side rows into
    * one, so such a frame's rows are on the driver already. None for any
    * other frame. */
  private def driverRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming => Some(r.data)
      case _ => None
    }

  /** [[csv]] for rows already on the driver: clears `dir`, as an
    * overwrite does, and commits one `part-00000-<uuid>-c000.csv` the way
    * Spark's file committer does — written under a hidden name, renamed
    * into place, then `_SUCCESS` — through `dir`'s Hadoop filesystem. */
  private def csvFromDriver(df: DataFrame, rows: Seq[InternalRow], dir: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val out = new Path(dir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(out) && !fs.delete(out, true))
      throw new java.io.IOException(s"could not clear $out")
    val part = new Path(out,
      s"part-00000-${java.util.UUID.randomUUID()}-c000.${options.extension}")
    val tmp = new Path(out, s".${part.getName}.tmp")
    val gen = new UnivocityGenerator(df.schema, new java.io.OutputStreamWriter(
      fs.create(tmp, false), java.nio.charset.Charset.forName(options.charset)), options)
    try {
      if (options.headerFlag) gen.writeHeaders()
      rows.foreach(gen.write)
    } finally gen.close()
    if (!fs.rename(tmp, part))
      throw new java.io.IOException(s"could not commit $tmp to $part")
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  /** Formats a batch time the way the reference names processed folders
    * (`Task_2/task_2.py:215` strftime("%Y-%m-%d-T-%H:%M:%S") — ':' swapped
    * for '-' to stay filesystem-safe). */
  def batchTimestamp(epochMillis: Long): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-'T'-HH-mm-ss")
      .withZone(java.time.ZoneOffset.UTC)
    fmt.format(java.time.Instant.ofEpochMilli(epochMillis))
  }

  // -------- KV sink (`snk_kv`, reference `Task_2/task_2.py:144-197`) --------

  /** Pluggable key-value client. DynamoDB in the reference; tests use
    * [[InMemoryKv]]. Implementations must be idempotent upserts keyed by
    * the partition/sort key — re-running a batch overwrites, which is what
    * makes the whole pipeline safely re-runnable (reference relies on the
    * same `put_item` upsert semantics, `Task_2/task_2.py:174,193`). */
  trait KvClient extends Serializable {
    def put(table: String, key: String, item: Map[String, String]): Unit
    /** Batch upsert — override where the store has a batch API (DynamoDB
      * `batch_write_item` takes 25; the reference pays one network round
      * trip per row instead, `Task_2/task_2.py:158-175`). Default loops. */
    def putBatch(table: String, items: Seq[(String, Map[String, String])]): Unit =
      items.foreach { case (k, item) => put(table, k, item) }
    def close(): Unit = ()
  }

  /** In-memory KV store for tests; JVM-wide so `foreachPartition` tasks in
    * local mode and the test thread see the same map. */
  object InMemoryKv {
    val stores = new ConcurrentHashMap[String, ConcurrentHashMap[String, Map[String, String]]]()
    def tableOf(table: String): ConcurrentHashMap[String, Map[String, String]] = {
      stores.computeIfAbsent(table, _ => new ConcurrentHashMap[String, Map[String, String]]())
      stores.get(table)
    }
    def clear(): Unit = stores.clear()
  }

  class InMemoryKvClient extends KvClient {
    def put(table: String, key: String, item: Map[String, String]): Unit =
      InMemoryKv.tableOf(table).put(key, item)
  }

  /** DURABLE file-backed [[KvClient]] — the deployable stand-in for the
    * reference's DynamoDB table (`Task_2/task_2.py:144-197`) in an
    * environment with no managed KV service: one JSON document per key
    * under `baseDir/table/`, where upsert = atomic overwrite of the
    * key's file (write-temp + atomic rename), so re-running a batch
    * converges to the same state (the reference's `put_item` upsert
    * semantics) and a crashed writer never leaves a torn document.
    *
    * Scale notes: executors write their partitions' keys concurrently —
    * no driver bottleneck, no cross-key coordination (distinct keys
    * touch distinct files; the same key re-put resolves by atomic
    * last-rename-wins, matching DynamoDB's last-writer-wins upsert).
    * KPI outputs are dimension-cardinality (categories × days), so
    * file-per-key is the right durability/simplicity trade; a
    * JDBC/remote-store client drops into the same [[KvClient]] seam.
    * JSON (de)serialization uses Jackson, which ships with Spark. */
  class FileKvClient(baseDir: String) extends KvClient {
    def put(table: String, key: String, item: Map[String, String]): Unit = {
      val dir = java.nio.file.Paths.get(baseDir, table)
      java.nio.file.Files.createDirectories(dir)
      val tmp = java.nio.file.Files.createTempFile(dir, ".put-", ".tmp")
      java.nio.file.Files.write(tmp, FileKv.toJson(item)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, dir.resolve(FileKv.fileName(key)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** The public DynamoDB `batch_write_item` CONTRACT SHAPE (the API the
    * reference would call instead of its row-by-row `put_item` loop,
    * `Task_2/task_2.py:158-175`): a request carries at most 25 items,
    * and the RESPONSE may hand back `UnprocessedItems` — items the store
    * throttled — which the CALLER must re-submit with backoff. Anything
    * implementing this seam (the real SDK client, the file backend
    * below) drops into [[DynamoShapedKvClient]] unchanged: swapping in
    * the managed service is configuration, not code. */
  trait BatchWriteStore extends Serializable {
    /** Attempt one batch (≤ 25 items); returns the UNPROCESSED leftovers
      * (empty = everything durable). */
    def batchWriteItem(table: String,
                       items: Seq[(String, Map[String, String])]): Seq[(String, Map[String, String])]
  }

  /** [[KvClient]] speaking the DynamoDB batch contract: chunks to the
    * 25-item request cap and retries unprocessed leftovers with
    * exponential backoff until the store accepts them (or `maxRetries`
    * is exhausted — then it THROWS, failing the Spark task so the batch
    * replays, rather than silently dropping rows). Idempotent-upsert
    * semantics come from the store, so a replayed batch converges. */
  class DynamoShapedKvClient(store: BatchWriteStore, maxRetries: Int = 5,
                             backoffMs: Long = 10) extends KvClient {
    def put(table: String, key: String, item: Map[String, String]): Unit =
      putBatch(table, Seq(key -> item))
    override def putBatch(table: String,
                          items: Seq[(String, Map[String, String])]): Unit =
      items.grouped(25).foreach { chunk =>
        var pending = chunk
        var attempt = 0
        while (pending.nonEmpty) {
          pending = store.batchWriteItem(table, pending)
          if (pending.nonEmpty) {
            attempt += 1
            if (attempt > maxRetries)
              throw new IllegalStateException(
                s"$table: ${pending.size} items unprocessed after $maxRetries retries")
            Thread.sleep(backoffMs << math.min(attempt - 1, 6))
          }
        }
      }
  }

  /** File-backed [[BatchWriteStore]] (durable via [[FileKvClient]]) with
    * DETERMINISTIC throttle injection for the retry spec: the first
    * `throttleFirst` calls refuse their first `throttleN` items — the
    * shape of a real DynamoDB partial batch failure. Also records every
    * request's size so a spec can assert the 25-item cap was honored. */
  class FileBatchWriteStore(baseDir: String, throttleN: Int = 0,
                            throttleFirst: Int = 0) extends BatchWriteStore {
    private val delegate = new FileKvClient(baseDir)
    private var calls = 0
    val requestSizes = scala.collection.mutable.ArrayBuffer[Int]()
    def batchWriteItem(table: String,
                       items: Seq[(String, Map[String, String])]): Seq[(String, Map[String, String])] = {
      require(items.size <= 25, s"batch_write_item cap exceeded: ${items.size}")
      val callNo =
        this.synchronized { calls += 1; requestSizes += items.size; calls }
      val unprocessed =
        if (callNo <= throttleFirst) items.take(throttleN) else Seq.empty
      items.drop(unprocessed.size).foreach { case (k, item) =>
        delegate.put(table, k, item)
      }
      unprocessed
    }
  }

  /** Read side + codec for [[FileKvClient]] stores. `read` is what a
    * restarted process (or a downstream consumer) uses to load the
    * current table state — nothing lives in memory between runs. */
  object FileKv {
    private[io] def fileName(key: String): String =
      java.net.URLEncoder.encode(key, "UTF-8") + ".json"

    /** One per JVM: an `ObjectMapper` is thread-safe once configured,
      * and building one costs more than the put it serves. */
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    private[io] def toJson(item: Map[String, String]): String = {
      val jm = new java.util.LinkedHashMap[String, String]()
      item.foreach { case (k, v) => jm.put(k, v) }
      mapper.writeValueAsString(jm)
    }

    def read(baseDir: String, table: String): Map[String, Map[String, String]] = {
      val dir = java.nio.file.Paths.get(baseDir, table)
      if (!java.nio.file.Files.isDirectory(dir)) return Map.empty
      val files = java.nio.file.Files.list(dir).iterator()
      val out = Map.newBuilder[String, Map[String, String]]
      while (files.hasNext) {
        val f = files.next()
        val name = f.getFileName.toString
        if (name.endsWith(".json")) {
          val key = java.net.URLDecoder.decode(name.dropRight(5), "UTF-8")
          val jm = mapper.readValue(f.toFile,
            classOf[java.util.LinkedHashMap[String, String]])
          out += key -> {
            val b = Map.newBuilder[String, String]
            jm.forEach((k, v) => b += (k -> v))
            b.result()
          }
        }
      }
      out.result()
    }
  }

  /** Key-value upsert sink: the reference's row loop
    * (`Task_2/task_2.py:158-175,180-194`), partition-parallel.
    *
    * Boundary coercions happen in the plan, not per-row in Scala, mirroring
    * the reference's sink-side `Decimal(str(round(x,2)))` and `isoformat()`
    * (`Task_2/task_2.py:163-173,185-192`): doubles → `DECIMAL(12,2)`
    * (HALF_UP, matching DynamoDB's decimal coercion), dates/timestamps →
    * ISO strings. Puts go in batches of 25 (DynamoDB's batch-write size),
    * one client per partition, not per row.
    *
    * A frame whose rows are on the driver (see [[Sinks]]) is coerced by
    * the same plan, which Catalyst folds into the driver-side rows, and
    * put from the driver with one client; any other frame is put by its
    * partitions' tasks.
    */
  def kvUpsert(df: DataFrame, table: String, keyCols: Seq[String],
               clientFactory: () => KvClient): Unit = {
    val coerced = df.select(df.schema.fields.toSeq.map(kvString): _*)
    val names = coerced.schema.fieldNames
    driverRows(coerced) match {
      case Some(rows) =>
        val client = clientFactory()
        try rows.grouped(25).foreach { batch =>
          client.putBatch(table, batch.map(r => kvItem(names, keyCols)(i =>
            if (r.isNullAt(i)) null else r.getUTF8String(i).toString)))
        } finally client.close()
      case None =>
        coerced.foreachPartition { (rows: Iterator[Row]) =>
          val client = clientFactory()
          try rows.grouped(25).foreach { batch =>
            client.putBatch(table, batch.map(r => kvItem(names, keyCols)(r.getString)))
          } finally client.close()
        }
    }
  }

  /** A column as the KV sink stores it: a string, or null. */
  private def kvString(f: StructField): Column = {
    val c = col(f.name)
    (f.dataType match {
      case DoubleType | _: DecimalType => c.cast(DecimalType(12, 2)).cast("string")
      case DateType => date_format(c, "yyyy-MM-dd")
      case TimestampType => date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
      case _ => c.cast("string")
    }).as(f.name)
  }

  /** One coerced row as a KV item, keyed by its key columns joined with
    * '|'; `value(i)` is column i's string or null. */
  private def kvItem(names: Array[String], keyCols: Seq[String])(
      value: Int => String): (String, Map[String, String]) = {
    val item = names.indices.map(i => names(i) -> value(i)).toMap
    keyCols.map(item(_)).mkString("|") -> item
  }

  /** Date-partitioned parquet layer (the scale-ready layout for the
    * `processed/` data the reference writes as flat CSVs): one directory
    * per day enables partition pruning — a reader filtering on
    * `partitionCol` scans only the matching directories
    * (`PartitionFilters` in the plan), which is the difference between a
    * day query touching GBs vs the full 100 TB. */
  def parquetPartitioned(df: DataFrame, dir: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(dir)

  /** JSON-lines sink (one JSON object per line — the interchange format
    * of document/training-data pipelines). */
  def jsonl(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Small-file compaction — the lake-maintenance pass: streaming and
    * per-batch writers leave thousands of KB-sized files whose per-file
    * open/footer overhead dominates scan time at 100 TB. Rewrites a
    * parquet directory into ceil(bytes / targetBytes) files via a
    * coalesce (no shuffle — coalesce only merges existing partitions)
    * and atomically swaps it in. Returns the new file count. Throws an
    * `IOException` naming both paths when the swap fails (`delete` or
    * `rename` returns false): the rows then sit only under
    * `<dir>_compacting`, and reporting success would lose them. */
  def compactParquet(spark: SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val bytes = NioLocalFileSystem.listFilesRecursive(fs, path)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new Path(path.getParent, path.getName + "_compacting")
    spark.read.parquet(dir).coalesce(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.delete(path, true) || !fs.rename(tmp, path))
      throw new java.io.IOException(s"could not swap compacted $tmp into $path")
    nFiles
  }

  /** Bucketed table write: pre-shuffles the data into `numBuckets` files
    * per bucket key at WRITE time, so every later equi-join or
    * aggregation on that key runs with NO exchange — the shuffle is paid
    * once when the lake is laid down instead of per query. The 100 TB
    * pattern for fact⋈fact joins too big to broadcast. Registers a
    * catalog table (required for bucketing metadata). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    // idempotent across JVMs: a fresh session's catalog forgets managed
    // tables but their warehouse directories survive — clear both
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(spark.sessionState.catalog
      .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table) // default warehouse location
  }

  // -------- archive (infra, reference `Task_2/task_2.py:237-263`) --------

  /** Post-success archive: move every file under `srcDir` to
    * `archiveBase/<ts>/`, preserving relative paths. The reference copies
    * then deletes object-by-object; on a Hadoop FS a rename is atomic per
    * file and metadata-only. Must run AFTER sink commit (SURVEY.md §7.5
    * item 5) — callers sequence it inside `foreachBatch`. Throws an
    * `IOException` when a move fails (`mkdirs` or `rename` returns
    * false, e.g. the destination already exists): a raw file left in
    * place would be read again by the next run. */
  def archive(spark: SparkSession, srcDir: String, archiveBase: String, ts: String): Seq[String] = {
    val fs: FileSystem = new Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify so URI relativization sees one scheme on both sides
    val src = fs.makeQualified(new Path(srcDir))
    if (!fs.exists(src)) return Seq.empty
    val files = NioLocalFileSystem.listFilesRecursive(fs, src).map(_.getPath)
    val moved = files.map { f =>
      val rel = src.toUri.relativize(fs.makeQualified(f).toUri).getPath
      val dst = new Path(s"$archiveBase/$ts/$rel")
      if (!fs.mkdirs(dst.getParent) || !fs.rename(f, dst))
        throw new java.io.IOException(s"could not archive $f to $dst")
      dst.toString
    }
    moved
  }
}

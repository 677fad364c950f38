package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}
import graft.pipeline.Streaming

/** The Spark jobs and the file layout of an append. A small one-split
  * batch (a streaming micro-batch's shape) is written without the
  * clustering shuffle, in one write job, because AQE would coalesce
  * that shuffle back into one task writing one file. Every other input
  * (several splits, one split above the coalesced partition size, an
  * adaptive plan) keeps the shuffle, its jobs and its layout: the file
  * count of Spark's own `repartition(p)` write of the same frame. Each
  * case checks the batch's entries against [[ReadBackStats]]. */
class ManifestAppendJobsSpec extends SparkSpec {
  import spark.implicits._

  private val Ddl = "k BIGINT, v DOUBLE, p STRING"
  private val StatsCols = Seq("v")
  private val BloomCols = Seq("k")
  private val AppId = "append-jobs"

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Rows `from until to` as CSV lines (with a header): `nP` partition
    * values, keys in a scrambled order so input order is visible. */
  private def csvLines(from: Long, to: Long, nP: Int): Seq[String] =
    "k,v,p" +: (from until to).map { i =>
      val k = (i * 7919L) % 1000003L + i * 1000003L
      s"$k,${i * 0.5},p-${i % nP}"
    }

  private def writeCsv(file: File, lines: Seq[String]): File = {
    Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    file
  }

  private def readCsv(path: String): DataFrame =
    spark.read.schema(Ddl).option("header", "true").csv(path)

  /** A table with stats and bloom columns, seeded with 100 rows. */
  private def newTable(tag: String): (File, String) = {
    val root = Files.createTempDirectory(s"graft-append-jobs-$tag").toFile
    val seed = writeCsv(new File(root, "seed.csv"), csvLines(0, 100, 3))
    val tbl = new File(root, "tbl").getPath
    Manifest.create(spark, tbl, readCsv(seed.getPath), "p", StatsCols,
      bloomCols = BloomCols)
    (root, tbl)
  }

  private def batchDirs(tbl: String): Set[Path] = {
    val data = new Path(tbl, "data")
    data.getFileSystem(hconf).listStatus(data).map(_.getPath).toSet
  }

  private def entries(tbl: String): Seq[ManifestEntry] =
    Manifest.entriesDataset(spark, Manifest.snapshotMeta(spark, tbl)).collect().toSeq

  private def numPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan.execute().getNumPartitions

  /** Appends through `body` and returns its job count, after checking
    * that the one batch dir it adds carries exactly the read-back stats
    * and as many files as Spark's `repartition(p)` write of `df`. */
  private def appendChecked(tbl: String, df: DataFrame)(body: => Int): Int = {
    val before = batchDirs(tbl)
    val jobs = body
    val Seq(batch) = (batchDirs(tbl) -- before).toSeq
    val want = ReadBackStats(spark, batch, Manifest.snapshotMeta(spark, tbl).ddl, "p",
      StatsCols, BloomCols)
    val got = entries(tbl).filter(_.path.startsWith(s"data/${batch.getName}/"))
      .map(e => e.path -> e).toMap
    assert(got == want.entries)
    val blooms = spark.read.parquet(new Path(batch, "_bloom").toString)
      .as[BloomEntry].collect().map(b => (b.path, b.column) -> b.bits).toMap
    assert(blooms == want.blooms)
    val out = Files.createTempDirectory("graft-append-jobs-layout").toString + "/o"
    df.repartition(col("p")).write.parquet(out)
    val sparkFiles = new File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(got.size == sparkFiles, s"files: manifest ${got.size}, Spark $sparkFiles")
    jobs
  }

  private def direct(tbl: String, df: DataFrame, batchId: Long): Int =
    appendChecked(tbl, df) {
      val (committed, jobs) = JobCount(spark) {
        Manifest.appendIfAbsent(spark, tbl, df, "p", AppId, batchId)
      }
      assert(committed)
      jobs
    }

  test("a one-split CSV batch appends in one write job, rows in input order") {
    val (root, tbl) = newTable("one")
    val df = readCsv(writeCsv(new File(root, "b.csv"), csvLines(100, 5100, 6)).getPath)
    assert(numPartitions(df) == 1)
    assert(direct(tbl, df, 0L) == 1)
    val Seq(file) = entries(tbl).filter(_.rows == 5000L).map(e => new Path(tbl, e.path).toString)
    assert(spark.read.parquet(file).as[(Long, Double, String)].collect().toSeq ==
      df.as[(Long, Double, String)].collect().toSeq)
    assert(Manifest.read(spark, tbl).count() == 5100L)
  }

  test("a manifestIngest micro-batch runs two jobs: isEmpty and the write") {
    implicit val sqlCtx = spark.sqlContext
    val (root, tbl) = newTable("ingest")
    val landing = new File(root, "landing")
    landing.mkdirs()
    val q = Streaming.manifestIngest(
      spark.readStream.schema(Ddl).option("header", "true").csv(landing.getPath),
      tbl, "p", new File(root, "ckpt").getPath, AppId,
      statsCols = StatsCols)
    try {
      def land(name: String, lines: Seq[String]): Int = {
        val f = writeCsv(new File(root, name), lines)
        JobCount.inGroup(spark, q.runId.toString) {
          Files.move(f.toPath, landing.toPath.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
        }._2
      }
      val b0 = csvLines(100, 5100, 6)
      val df0 = readCsv(writeCsv(new File(root, "copy-b0.csv"), b0).getPath)
      assert(appendChecked(tbl, df0)(land("b0.csv", b0)) == 2)
      assert(Manifest.lastTxn(spark, tbl, AppId) == Some(0L))
      // an empty batch: the isEmpty probe alone, no entries, no version
      val v = Manifest.latestVersion(spark, tbl)
      val dirs = batchDirs(tbl)
      assert(land("b1.csv", csvLines(0, 0, 1)) == 1)
      assert(Manifest.latestVersion(spark, tbl) == v)
      assert(batchDirs(tbl) == dirs)
    } finally q.stop()
    assert(Manifest.read(spark, tbl).count() == 5100L)
  }

  test("an empty one-split batch stages no entries") {
    val (root, tbl) = newTable("empty")
    val df = readCsv(writeCsv(new File(root, "e.csv"), csvLines(0, 0, 1)).getPath)
    assert(numPartitions(df) == 1)
    val live = entries(tbl)
    val dirs = batchDirs(tbl)
    Manifest.append(spark, tbl, df, "p")
    assert(batchDirs(tbl) == dirs)
    assert(entries(tbl) == live)
  }

  test("a 4-split input keeps the shuffle: two jobs, Spark's file count") {
    val (root, tbl) = newTable("four")
    val dir = new File(root, "four")
    dir.mkdirs()
    (0 until 4).foreach(i =>
      writeCsv(new File(dir, s"part-$i.csv"), csvLines(100 + i * 1000, 1100 + i * 1000, 6)))
    val df = readCsv(dir.getPath)
    assert(numPartitions(df) == 4)
    assert(direct(tbl, df, 0L) == 2)
  }

  test("a one-split input above the coalesced partition size keeps the shuffle") {
    val (root, tbl) = newTable("big")
    val df = readCsv(writeCsv(new File(root, "big.csv"), csvLines(100, 80100, 8)).getPath)
    assert(numPartitions(df) == 1)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >
      spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    assert(direct(tbl, df, 0L) == 2)
  }

  test("an aggregated (adaptive) input keeps its jobs; the decision runs none") {
    val (root, tbl) = newTable("agg")
    val df = readCsv(writeCsv(new File(root, "a.csv"), csvLines(100, 5100, 6)).getPath)
      .groupBy($"p", ($"k" % 1000L).as("k")).agg(sum($"v").as("v"))
      .select($"k", $"v", $"p")
    assert(df.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
    assert(direct(tbl, df, 0L) == 3)
  }
}

package graft.ops

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The write-time stats of a batch (collected during the write via the
  * WriteJobStatsTracker hook) against [[ReadBackStats]], a read-back
  * aggregation over the same data files: the manifest entries must be
  * identical — partition value sets (sorted, capped, overflow flag),
  * null flags, row counts, byte sizes, min/max renderings (incl. the
  * zone-free epoch-micros TIMESTAMP form) — as must the bloom bitsets
  * and the CHECK-constraint violation counts. */
class ManifestWriteStatsSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String) =
    Files.createTempDirectory(s"graft-wstats-$tag").toString + "/tbl"

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** A frame that exercises every stats feature: >64 distinct partition
    * values (overflow), a null partition value (has_null), null stat
    * values, a timestamp stat column, and a non-ASCII value (binary
    * UTF8 sort order vs Java string order). */
  private def messy = spark.range(0, 500)
    .select(
      $"id".as("k"),
      when($"id" % 97 === 0, lit(null)).otherwise($"id" * 1.5).as("v"),
      when($"id" % 89 === 0, lit(null))
        .otherwise(($"id" * 1000000L + 1500000000000000L)
          .cast("timestamp")).as("ts"),
      when($"id" % 101 === 0, lit(null))
        .when($"id" % 7 === 0, concat(lit("pé-"), $"id" % 80))
        .otherwise(concat(lit("p-"), $"id" % 80)).as("p"))

  /** The table's batch dirs (`data/b-<uuid>`). */
  private def batchDirs(dir: String): Seq[Path] = {
    val data = new Path(dir, "data")
    data.getFileSystem(hconf).listStatus(data).map(_.getPath).toSeq
  }

  /** Assert the table's single batch carries exactly the read-back
    * stats: entries field for field, bloom bitsets per file and column. */
  private def assertMatchesReadBack(dir: String, statsCols: Seq[String],
                                    bloomCols: Seq[String]): Unit = {
    val meta = Manifest.snapshotMeta(spark, dir)
    val Seq(batch) = batchDirs(dir)
    val want = ReadBackStats(spark, batch, meta.ddl, "p", statsCols, bloomCols)
    val got = Manifest.entriesDataset(spark, meta).collect().toSeq
      .map(e => e.path -> e).toMap
    assert(got.keySet == want.entries.keySet)
    got.keySet.toSeq.sorted.foreach { path =>
      assert(got(path) == want.entries(path), s"entry mismatch for $path:\n" +
        s"  write-time: ${got(path)}\n  read-back:  ${want.entries(path)}")
    }
    if (bloomCols.nonEmpty) {
      val blooms = spark.read.parquet(new Path(batch, "_bloom").toString)
        .as[BloomEntry].collect().map(b => (b.path, b.column) -> b.bits).toMap
      assert(blooms == want.blooms)
    }
  }

  test("write-time stats == read-back stats, field for field") {
    val dir = newDir("fields")
    Manifest.create(spark, dir, messy, "p",
      statsCols = Seq("v", "ts", "k"), bloomCols = Seq("k"))
    assertMatchesReadBack(dir, Seq("v", "ts", "k"), Seq("k"))
    // and the table answers with exactly the rows written
    assert(Manifest.read(spark, dir).orderBy($"k").collect().toSeq ==
      messy.orderBy($"k").collect().toSeq)
  }

  test("stats-pruned reads return exactly the matching rows") {
    val dir = newDir("prune")
    Manifest.create(spark, dir, messy, "p", statsCols = Seq("ts", "v"))
    assertMatchesReadBack(dir, Seq("ts", "v"), Nil)
    def cond = ($"ts" >= Timestamp.valueOf("2017-07-14 02:40:00") &&
      $"v" < 600.0)
    val pruned = graft.plans.ManifestScan.scan(spark, dir, Some("p"))
      .filter(cond).orderBy($"k").collect().toSeq
    assert(pruned.nonEmpty &&
      pruned == messy.filter(cond).orderBy($"k").collect().toSeq)
  }

  test("constraint violations abort with the read-back violation count") {
    val dir = newDir("viol")
    Manifest.create(spark, dir, messy.filter($"v" > 0), "p")
    Manifest.addConstraint(spark, dir, "v_pos", "v > 0")
    val Seq(live) = batchDirs(dir)
    val e = intercept[Manifest.ConstraintViolationException] {
      Manifest.append(spark, dir,
        Seq((9001L, -1.0, Timestamp.valueOf("2020-01-01 00:00:00"), "p-1"),
          (9002L, 2.0, Timestamp.valueOf("2020-01-01 00:00:00"), "p-1"),
          (9003L, -3.0, Timestamp.valueOf("2020-01-01 00:00:00"), null))
          .toDF("k", "v", "ts", "p"), "p")
    }
    assert(e.name == "v_pos" && e.rows == 2)
    assert(Manifest.versions(spark, dir).size == 2) // create + constraint
    // the aborted batch stays behind as an orphan: recount it
    val Seq(staged) = batchDirs(dir).filterNot(_ == live)
    val want = ReadBackStats(spark, staged,
      Manifest.snapshotMeta(spark, dir).ddl, "p", Nil,
      constraints = Seq("v > 0"))
    assert(want.violations == Seq(e.rows))
  }
}

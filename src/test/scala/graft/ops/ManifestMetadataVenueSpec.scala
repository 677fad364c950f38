package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}
import graft.plans.ManifestScan

/** The metadata venue under the planning budget: every entry read of a
  * snapshot smaller than `Manifest.localReadBudget` is answered on the
  * driver from the per-JVM manifest-dir memo (each dir listed and
  * decoded once per JVM). Pins, on a table in the streaming lake's shape
  * (micro-batch appends, a MoR upsert, an incremental view, compaction):
  * that both venues give the same answers, that the driver venue runs
  * no Spark job for the entry diff, the DV-hit selection, compaction's
  * pick and scan planning, that the memo answers an unchanged chain
  * without a miss, and that it is keyed soundly (a re-created table, a
  * clone). */
class ManifestMetadataVenueSpec extends SparkSpec {
  import spark.implicits._

  private val key = ManifestScan.DistributedMinBytesKey
  private def conf = spark.sparkContext.hadoopConfiguration

  private def withBudget[A](v: Long)(f: => A): A = {
    val old = conf.get(key)
    conf.setLong(key, v)
    try f finally { if (old == null) conf.unset(key) else conf.set(key, old) }
  }

  private def newRoot(tag: String) =
    Files.createTempDirectory(s"graft-venue-$tag").toString

  /** (key, group, value, day partition) rows for keys `[from, until)`. */
  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 1).select($"id".as("k"), ($"id" % 7).as("g"),
      ($"id" * 1.5).as("v"), ($"id" % 4).as("p"))

  private def append(dir: String, batch: Long): Unit =
    Manifest.appendIfAbsent(spark, dir, rows(40L * batch, 40L * batch + 40),
      "p", "venue-spec", batch)

  /** Re-prices keys `[from, until)`: deletion vectors on the files that
    * hold them plus a linked add. */
  private def upsert(dir: String, from: Long, until: Long): Unit =
    Manifest.upsertMor(spark, dir, rows(from, until).withColumn("v", $"v" * 10),
      Seq("k"), "p")

  /** Create, ten micro-batch appends and a MoR upsert: a 12-link chain. */
  private def lakeTable(root: String): String = {
    val dir = s"$root/tbl"
    Manifest.create(spark, dir, rows(0, 40), "p", statsCols = Seq("v"))
    (1 to 10).foreach(append(dir, _))
    upsert(dir, 0, 10)
    assert(Manifest.snapshotMeta(spark, dir).manifestDirs.size >= 12)
    dir
  }

  private def latest(dir: String): Long = Manifest.latestVersion(spark, dir).get

  private def groupBy(df: DataFrame): Map[Long, (BigDecimal, Long)] =
    df.groupBy($"g")
      .agg(sum($"v".cast("decimal(12,2)")).cast("decimal(38,2)"), count(lit(1)))
      .collect().map(r => r.getLong(0) -> (BigDecimal(r.getDecimal(1)), r.getLong(2)))
      .toMap

  private def viewState(view: String): Map[Long, (BigDecimal, Long)] =
    Incremental.read(spark, view).collect()
      .map(r => r.getLong(0) -> (BigDecimal(r.getDecimal(1)), r.getLong(2))).toMap

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("both venues give the same feed, view, detail, upsert and compaction") {
    def lifecycle(budget: Long) = withBudget(budget) {
      val root = newRoot("parity")
      val dir = lakeTable(root)
      val view = s"$root/view"
      Incremental.refresh(spark, dir, view, Seq("g"), "v")
      val from = latest(dir)
      append(dir, 11)
      upsert(dir, 400, 420)
      val feed = sorted(Manifest.changesSigned(spark, dir, from, latest(dir)))
      Incremental.refresh(spark, dir, view, Seq("g"), "v")
      val folded = viewState(view)
      assert(folded == groupBy(Manifest.read(spark, dir)),
        s"budget $budget: the view differs from the scratch GROUP BY")
      val detail = Manifest.detail(spark, dir).collect().head
      val compacted = Manifest.compact(spark, dir, "p")
      (feed, folded, detail, sorted(Manifest.read(spark, dir)), compacted,
        Manifest.loadSnapshot(spark, dir).entries.size)
    }
    val local = lifecycle(Long.MaxValue)
    val distributed = lifecycle(-1L)
    assert(local._1.nonEmpty && local._5 > 0L)
    assert(local == distributed)
  }

  test("under the budget the entry diff, DV-hit selection, compaction pick and scan plan run no job") {
    val root = newRoot("jobs")
    val dir = lakeTable(root)
    Incremental.refresh(spark, dir, s"$root/view", Seq("g"), "v")
    val from = latest(dir)
    append(dir, 11)
    // keys in files carried from `from`: a new vector hits them
    upsert(dir, 40, 60)
    val to = latest(dir)
    def feed() = JobCount(spark)(Manifest.changesSigned(spark, dir, from, to))._2
    // no file is below one byte: compaction ends after its pick
    def pick() = JobCount(spark)(Manifest.compact(spark, dir, "p", smallBytes = 1L))
    assert(feed() == 0)
    assert(pick() == ((0L, 0)))
    val (_, planJobs) = JobCount(spark) {
      ManifestScan.scan(spark, dir, Some("p")).filter($"p" === 1L)
        .queryExecution.executedPlan
    }
    assert(planJobs == 0)
    // the same calls at the distributed venue do run jobs, so the zero
    // counts above measure the venue
    withBudget(-1L) {
      assert(feed() > 0)
      assert(pick()._2 > 0)
    }
  }

  test("an unchanged chain re-reads from the memo; one new link costs one miss") {
    val root = newRoot("memo")
    val dir = lakeTable(root)
    Incremental.refresh(spark, dir, s"$root/view", Seq("g"), "v")
    val links = Manifest.snapshotMeta(spark, dir).manifestDirs.size
    val (h0, m0) = Manifest.manifestDirMemoStats
    val before = Manifest.loadSnapshot(spark, dir).entries
    val (h1, m1) = Manifest.manifestDirMemoStats
    assert(m1 == m0, "a re-read of an unchanged chain decoded a dir")
    assert(h1 - h0 >= links)
    append(dir, 11)
    val after = Manifest.loadSnapshot(spark, dir).entries
    val (_, m2) = Manifest.manifestDirMemoStats
    assert(m2 - m1 == 1, s"one new link cost ${m2 - m1} misses")
    assert(after.size > before.size &&
      before.map(_.path).toSet.subsetOf(after.map(_.path).toSet))
  }

  test("a table re-created at the same path reads only its new entries") {
    val dir = s"${newRoot("recreate")}/tbl"
    Manifest.create(spark, dir, rows(0, 30), "p")
    Manifest.append(spark, dir, rows(30, 60), "p")
    val first = Manifest.loadSnapshot(spark, dir).entries.map(_.path).toSet
    assert(Manifest.read(spark, dir).count() == 60L)
    val p = new Path(dir)
    p.getFileSystem(conf).delete(p, true)
    // the same version numbers and chain shape, new rows
    Manifest.create(spark, dir, rows(100, 110), "p")
    Manifest.append(spark, dir, rows(110, 115), "p")
    val second = Manifest.loadSnapshot(spark, dir).entries.map(_.path).toSet
    assert(second.nonEmpty && second.intersect(first).isEmpty)
    assert(Manifest.read(spark, dir).select($"k").as[Long].collect().sorted.toSeq ==
      (100L until 115L))
  }

  test("a clone reading its source's dirs sees the source's entries") {
    val root = newRoot("clone")
    val src = s"$root/src"
    Manifest.create(spark, src, rows(0, 30), "p", statsCols = Seq("v"))
    Manifest.append(spark, src, rows(30, 60), "p")
    val srcEntries = Manifest.loadSnapshot(spark, src).entries
    Manifest.shallowClone(spark, src, s"$root/dst")
    def shape(es: Seq[ManifestEntry]) =
      es.map(e => (e.path, e.values, e.rows, e.bytes, e.stat_mins, e.stat_maxs))
        .sortBy(_._1)
    assert(shape(Manifest.loadSnapshot(spark, s"$root/dst").entries) ==
      shape(srcEntries))
    assert(sorted(Manifest.read(spark, s"$root/dst")) ==
      sorted(Manifest.read(spark, src)))
  }

  test("Lru counts hits and misses") {
    val lru = new Lru[String, Int](2)
    lru.put("a", 1)
    assert(lru.get("a").contains(1) && lru.get("b").isEmpty)
    lru.getOrElseUpdate("b", 2)
    assert(lru.stats == ((1L, 2L)))
  }
}

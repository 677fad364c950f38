package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity of the driver-LOCAL manifest entry decode (parquet-mr Group
  * reads, zero Spark jobs) against the distributed chokepoint: both
  * venues must materialize identical snapshots at every version of a
  * table whose manifest exercises chains (linked appends), removes
  * (upsert), stats, blooms and constraints. The venue is chosen by the
  * planning budget key — Long.MaxValue pins driver-local, -1 forces
  * distributed. */
class ManifestLocalReadSpec extends SparkSpec {
  import spark.implicits._

  private val key = graft.plans.ManifestScan.DistributedMinBytesKey
  private def conf = spark.sparkContext.hadoopConfiguration

  private def withBudget[A](v: Long)(f: => A): A = {
    val old = conf.get(key)
    conf.setLong(key, v)
    try f finally { if (old == null) conf.unset(key) else conf.set(key, old) }
  }

  test("local decode == distributed collect at every version") {
    val dir = Files.createTempDirectory("graft-localread").toString + "/tbl"
    val base = spark.range(0, 300).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 5).cast("string").as("p"))
    Manifest.create(spark, dir, base, "p",
      statsCols = Seq("v"), bloomCols = Seq("k"))
    Manifest.append(spark, dir, spark.range(300, 400).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 5).cast("string").as("p")), "p")
    Manifest.upsert(spark, dir, spark.range(0, 50).select($"id".as("k"),
      ($"id" * 7.0).as("v"), ($"id" % 5).cast("string").as("p")),
      Seq("k"), "p")
    Manifest.addConstraint(spark, dir, "v_nonneg", "v >= 0")
    Manifest.append(spark, dir, spark.range(400, 450).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 5).cast("string").as("p")), "p")
    val versions = Manifest.versions(spark, dir)
    assert(versions.size >= 4)
    def everyVersion(dir: String): Seq[Manifest.Snapshot] = versions.map { v =>
      val local = withBudget(Long.MaxValue)(
        Manifest.loadSnapshot(spark, dir, Some(v)))
      val dist = withBudget(-1L)(
        Manifest.loadSnapshot(spark, dir, Some(v)))
      assert(local.entries.sortBy(_.path) == dist.entries.sortBy(_.path),
        s"entry mismatch at v$v")
      assert(local.ddl == dist.ddl && local.statsCols == dist.statsCols &&
        local.bloomCols == dist.bloomCols &&
        local.constraints == dist.constraints &&
        local.dvDirs == dist.dvDirs && local.colMap == dist.colMap)
      local
    }
    val withSidecars = everyVersion(dir)
    // the same table without its sentinel sidecars (older manifests, or a
    // sidecar write that failed): the header falls back to the parquet
    // sentinel row. A copy under a fresh root, so no memoized header of
    // the original answers for it.
    val bare = Files.createTempDirectory("graft-localread-bare").toString + "/tbl"
    val src = java.nio.file.Paths.get(dir)
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = java.nio.file.Paths.get(bare).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (!p.getFileName.toString.contains("_graft_sentinel")) Files.copy(p, to)
    }
    assert(Files.walk(src).iterator().asScala
      .exists(_.getFileName.toString == "_graft_sentinel"))
    val withoutSidecars = everyVersion(bare)
    withSidecars.zip(withoutSidecars).foreach { case (a, b) =>
      assert(a.entries.sortBy(_.path) == b.entries.sortBy(_.path) &&
        a.copy(entries = Nil) == b.copy(entries = Nil))
    }
    // and the two venues answer reads identically
    val a = withBudget(Long.MaxValue)(
      Manifest.read(spark, dir).orderBy($"k").collect().toSeq)
    val b = withBudget(-1L)(
      Manifest.read(spark, dir).orderBy($"k").collect().toSeq)
    assert(a == b)
  }

  test("column-mapped (renamed) tables decode identically") {
    val dir = Files.createTempDirectory("graft-localread2").toString + "/tbl"
    val base = spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 3).cast("string").as("p"))
    Manifest.create(spark, dir, base, "p")
    Manifest.renameColumn(spark, dir, "v", "price")
    Manifest.append(spark, dir, spark.range(100, 120).select($"id".as("k"),
      ($"id" * 2.0).as("price"), ($"id" % 3).cast("string").as("p")), "p")
    val local = withBudget(Long.MaxValue)(Manifest.loadSnapshot(spark, dir))
    val dist = withBudget(-1L)(Manifest.loadSnapshot(spark, dir))
    assert(local.entries.sortBy(_.path) == dist.entries.sortBy(_.path))
    assert(local.colMap == dist.colMap)
  }
}

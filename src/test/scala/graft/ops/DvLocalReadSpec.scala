package graft.ops

import java.nio.file.Files

import graft.SparkSpec

/** Pins venue parity for the round-18 DV sidecar LOCAL decode
  * (`dvLocalEntries` behind `dvRelation`/`dvTouchedPaths`): every MoR
  * lifecycle outcome — masked reads, vector accretion across multiple
  * DV dirs, materialize's fold — must be identical whether the vectors
  * resolve driver-side (budget pinned high) or through the distributed
  * parquet read (budget pinned to -1, every sidecar over it). Same
  * budget key as manifest planning, so the pins exercise the whole
  * venue stack together. */
class DvLocalReadSpec extends SparkSpec {
  import spark.implicits._

  private val key = graft.plans.ManifestScan.DistributedMinBytesKey
  private def conf = spark.sparkContext.hadoopConfiguration

  private def withBudget[A](v: Long)(f: => A): A = {
    val old = conf.get(key)
    conf.setLong(key, v)
    try f finally { if (old == null) conf.unset(key) else conf.set(key, old) }
  }

  private def mkTable(): String = {
    val dir = Files.createTempDirectory("graft-dvlocal").toString + "/tbl"
    val df = spark.range(0, 500).select($"id".as("k"),
      ($"id" * 1.0).as("v"), ($"id" % 7).as("p"))
    Manifest.create(spark, dir, df, "p", statsCols = Seq("k"))
    Manifest.deleteMor(spark, dir,
      Seq((3L, 3L), (10L, 3L), (250L, 5L)).toDF("k", "p"), Seq("k"), "p")
    Manifest.upsertMor(spark, dir,
      Seq((7L, -7.0, 0L), (990L, 9.0, 3L)).toDF("k", "v", "p"),
      Seq("k"), "p")
    // second MoR round → several live DV dirs
    Manifest.deleteMor(spark, dir,
      Seq((20L, 6L)).toDF("k", "p"), Seq("k"), "p")
    dir
  }

  private def readAll(dir: String): List[Seq[Any]] =
    Manifest.read(spark, dir).orderBy("k", "v", "p")
      .collect().map(_.toSeq).toList

  test("MoR reads: local DV venue == distributed, several live vectors") {
    val dir = mkTable()
    val local = withBudget(Long.MaxValue)(readAll(dir))
    val dist = withBudget(-1L)(readAll(dir))
    assert(local == dist, "DV venues disagree on the masked read")
    assert(local.nonEmpty &&
      !local.exists(r => r.head == 3L || r.head == 10L || r.head == 20L),
      "MoR deletes must mask under both venues")
    assert(local.count(_.head == 7L) == 1 &&
      local.find(_.head == 7L).get(1) == -7.0,
      "MoR upsert must replace under both venues")
  }

  test("a vector past the 64 KB gate reads distributed without a driver decode") {
    val dir = Files.createTempDirectory("graft-dvlocal-big").toString + "/tbl"
    Manifest.create(spark, dir, spark.range(0, 100000).select($"id".as("k"),
      ($"id" * 1.0).as("v"), ($"id" % 4).as("p")), "p")
    // every other row: one vector of 50k (path, pos) rows
    Manifest.deleteMor(spark, dir, spark.range(0, 100000, 2)
      .select($"id".as("k"), ($"id" % 4).as("p")), Seq("k"), "p")
    val dv = Manifest.loadSnapshot(spark, dir).dvDirs
    assert(dv.size == 1)
    val dvBytes = Files.walk(java.nio.file.Paths.get(dir, "_dv", dv.head))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum()
    assert(dvBytes > (64L << 10), s"setup: the vector is only $dvBytes bytes")
    // default budget: the 64 KB DV gate applies
    val gated = readAll(dir)
    val dist = withBudget(-1L)(readAll(dir))
    assert(gated == dist, "DV venues disagree on the masked read")
    assert(gated.size == 50000 && gated.forall(_.head.asInstanceOf[Long] % 2 == 1))
    assert(!Manifest.dvDecodeCached(dir, dv.head),
      "a vector past the gate must not be decoded on the driver")
  }

  test("materialize folds the same file set under both venues") {
    val dirA = mkTable()
    val dirB = mkTable()
    val foldedLocal = withBudget(Long.MaxValue)(
      Manifest.materialize(spark, dirA, "p"))
    val foldedDist = withBudget(-1L)(
      Manifest.materialize(spark, dirB, "p"))
    assert(foldedLocal == foldedDist,
      s"materialize folded $foldedLocal files locally vs $foldedDist distributed")
    assert(Manifest.loadSnapshot(spark, dirA).dvDirs.isEmpty)
    val a = readAll(dirA)
    val b = readAll(dirB)
    assert(a == b, "post-materialize tables diverge between venues")
  }
}

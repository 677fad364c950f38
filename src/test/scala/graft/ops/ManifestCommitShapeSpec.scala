package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Pins the manifest commit SHAPE each mutating op stages on top of a
  * 2-link chain: LINK (the new tip extends the chain, length 3) or
  * RE-ROOT (a self-contained manifest, length 1). The shape is what
  * bounds a commit's driver cost (O(batch) vs a full manifest rewrite)
  * and a listing's fan-out, so a refactor of the staging code must
  * leave every row of this table unchanged. */
class ManifestCommitShapeSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(ks: Seq[Long]) =
    ks.map(k => (k, k * 1.0, k % 2)).toDF("k", "v", "p")

  /** A table whose tip is a 2-link chain: create (root) + one linked
    * append. */
  private def twoLinkTable(): String = {
    val dir = Files.createTempDirectory("graft-shape").toString + "/tbl"
    Manifest.create(spark, dir, rows(1L to 40L), "p", statsCols = Seq("v"))
    Manifest.append(spark, dir, rows(41L to 60L), "p")
    assert(chainLength(dir) == 2, "setup must leave a 2-link chain")
    dir
  }

  private def chainLength(dir: String): Int = {
    val fs = fsOf(dir)
    val v = Manifest.versions(spark, dir).last
    val in = fs.open(new Path(dir, f"_versions/v$v%08d"))
    val name = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().next().trim finally in.close()
    Manifest.manifestChain(fs, new Path(dir), name).length
  }

  private val Link = 3
  private val ReRoot = 1

  private val ops: Seq[(String, Int, String => Unit)] = Seq(
    ("append", Link, d => Manifest.append(spark, d, rows(61L to 70L), "p")),
    ("overwritePartitions", Link,
      d => Manifest.overwritePartitions(spark, d, rows(Seq(2L, 4L)), "p")),
    ("deleteWhere", Link, d => Manifest.deleteWhere(spark, d, "k = 5", "p")),
    ("updateWhere", Link,
      d => Manifest.updateWhere(spark, d, Seq("v" -> "v + 1"), "k = 5", "p")),
    ("upsert", Link,
      d => Manifest.upsert(spark, d, rows(Seq(3L, 99L)), Seq("k"), "p")),
    ("delete", Link, d => Manifest.delete(spark, d,
      Seq((3L, 1L)).toDF("k", "p"), Seq("k"), "p")),
    ("deleteMor", Link, d => Manifest.deleteMor(spark, d,
      Seq((3L, 1L)).toDF("k", "p"), Seq("k"), "p")),
    ("upsertMor", Link,
      d => Manifest.upsertMor(spark, d, rows(Seq(3L, 99L)), Seq("k"), "p")),
    ("compact", Link, d => Manifest.compact(spark, d, "p")),
    ("renameColumn", Link, d => Manifest.renameColumn(spark, d, "v", "price")),
    ("addConstraint", ReRoot,
      d => Manifest.addConstraint(spark, d, "v_nonneg", "v >= 0")),
    ("evolve (widening)", ReRoot,
      d => Manifest.evolve(spark, d, Seq("extra" -> "string"))))

  test("each mutating op links or re-roots as pinned") {
    val got = ops.map { case (name, _, op) =>
      val dir = twoLinkTable()
      val before = Manifest.versions(spark, dir).last
      op(dir)
      assert(Manifest.versions(spark, dir).last == before + 1,
        s"$name must commit exactly one version")
      name -> chainLength(dir)
    }
    val want = ops.map { case (name, shape, _) => name -> shape }
    assert(got == want)
  }

  test("an append onto a chain at the cap re-roots") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = twoLinkTable()
    hconf.setLong(Manifest.AppendMaxChainKey, 2L)
    try Manifest.append(spark, dir, rows(61L to 70L), "p")
    finally hconf.unset(Manifest.AppendMaxChainKey)
    assert(chainLength(dir) == ReRoot)
    Manifest.append(spark, dir, rows(71L to 80L), "p")
    assert(chainLength(dir) == 2, "below the cap the next append links again")
    assert(Manifest.read(spark, dir).count() == 80L)
  }
}

package graft.ops

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import graft.SparkSpec

/** A second filesystem "scheme" over local disk — commitAll permits the
  * txn marker dir to live on a different FileSystem than any
  * participating table, and pointer visibility must resolve the marker
  * via ITS OWN fs (probing it with the table's fs throws "Wrong FS"). */
class AltLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "altfs"
  override def getUri: URI = URI.create("altfs:///")
}

/** Local fs whose `exists` probe THROWS for txn markers while
  * [[FlakyMarkerFileSystem.failing]] — the transient object-store error
  * shape. Visibility checks must PROPAGATE such errors ("cannot verify"
  * is not "not committed"), never let them demote a committed pointer
  * to pending where grace-window healing would delete it. */
class FlakyMarkerFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "flakyfs"
  override def getUri: URI = URI.create("flakyfs:///")
  override def exists(p: Path): Boolean = {
    if (FlakyMarkerFileSystem.failing && p.getName.startsWith("t-"))
      throw new java.io.IOException("transient store error (injected)")
    super.exists(p)
  }
}
object FlakyMarkerFileSystem { @volatile var failing = false }

/** Conditional-put scheme over local disk: commits arbitrate through
  * the JVM CAS registry, so slot healing / rollback must RELEASE the
  * store-side claim or the slot wedges forever. */
class CasLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "casfs"
  override def getUri: URI = URI.create("casfs:///")
}

/** Protocol-hardening regressions for the commit path: cross-fs txn
  * markers, transient probe errors, store-side claim release, waiting
  * out in-flight multi-commits, and the pointer-visibility cache's
  * freshness/LRU contract. */
class ManifestProtocolSpec extends SparkSpec {
  import spark.implicits._

  private val hconf = spark.sparkContext.hadoopConfiguration
  hconf.set("fs.altfs.impl", classOf[AltLocalFileSystem].getName)
  hconf.set("fs.flakyfs.impl", classOf[FlakyMarkerFileSystem].getName)
  hconf.set("fs.casfs.impl", classOf[CasLocalFileSystem].getName)
  hconf.set(LogStore.ConfPrefix + "casfs", classOf[JvmCasLogStore].getName)

  private def newRoot() = Files.createTempDirectory("graft-proto").toString

  private def kpi(tag: Double) =
    Seq(("toys", tag, 0L), ("books", tag + 1, 1L)).toDF("cat", "rev", "p")

  test("commitAll with txnDir on a DIFFERENT filesystem: commit is visible, not pending-forever") {
    val root = newRoot()
    val (a, b) = (s"$root/cat", s"$root/ord")
    val txns = s"altfs://$root/_txns" // marker fs != table fs
    Manifest.commitAll(spark, Seq(
      StagedWrite(a, kpi(1.0), "p"),
      StagedWrite(b, kpi(10.0), "p")), txns)
    // the old blanket-catch read the Wrong-FS probe as "pending": the
    // commit was invisible AND healable — silent loss. Now it resolves.
    assert(Manifest.versions(spark, a) == Seq(1L))
    assert(Manifest.versions(spark, b) == Seq(1L))
    assert(Manifest.read(spark, a).count() == 2)
    // and a subsequent writer appends past it instead of healing it away
    Manifest.append(spark, a, kpi(3.0), "p")
    assert(Manifest.versions(spark, a) == Seq(1L, 2L))
    assert(Manifest.read(spark, a).count() == 4)
  }

  test("transient marker-probe error PROPAGATES; the committed pointer survives") {
    val root = newRoot()
    val a = s"$root/cat"
    val txns = s"flakyfs://$root/_txns"
    Manifest.commitAll(spark, Seq(StagedWrite(a, kpi(1.0), "p")), txns)
    assert(Manifest.versions(spark, a) == Seq(1L))

    FlakyMarkerFileSystem.failing = true
    hconf.setLong("graft.manifest.pendingGraceMillis", 0L)
    try {
      // every path that checks visibility must fail LOUDLY...
      intercept[java.io.IOException] { Manifest.versions(spark, a) }
      intercept[java.io.IOException] { Manifest.append(spark, a, kpi(3.0), "p") }
    } finally {
      FlakyMarkerFileSystem.failing = false
      hconf.unset("graft.manifest.pendingGraceMillis")
    }
    // ...and must NOT have deleted the committed pointer meanwhile
    assert(Manifest.versions(spark, a) == Seq(1L),
      "committed pointer must survive a transient probe failure")
    assert(Manifest.read(spark, a).count() == 2)
  }

  test("healed/vacuumed slots release the conditional-put claim: no wedged slot") {
    val root = newRoot()
    val dir = s"casfs://$root/tbl"
    Manifest.create(spark, dir, kpi(1.0), "p")
    // leave a crashed multi-commit's pending pointer CLAIMED through
    // the conditional-put store (the real crash shape)
    Manifest.commitAllCrashAfter = Some(1)
    try intercept[RuntimeException] {
      Manifest.commitAll(spark,
        Seq(StagedWrite(dir, kpi(5.0), "p")), s"casfs://$root/_txns")
    } finally Manifest.commitAllCrashAfter = None
    assert(Manifest.versions(spark, dir) == Seq(1L), "pending is invisible")

    // grace elapsed: the next writer heals the dead slot — which must
    // also release the store-side reservation, or the retried create
    // conflicts forever and the slot is permanently wedged in this JVM
    hconf.setLong("graft.manifest.pendingGraceMillis", 0L)
    try Manifest.append(spark, dir, kpi(3.0), "p")
    finally hconf.unset("graft.manifest.pendingGraceMillis")
    assert(Manifest.versions(spark, dir) == Seq(1L, 2L))
    assert(Manifest.read(spark, dir).count() == 4)
  }

  test("commitAll conflict rollback releases its own claims; vacuum releases swept pending slots") {
    val root = newRoot()
    val (a, b) = (s"casfs://$root/cat", s"casfs://$root/ord")
    val txns = s"casfs://$root/_txns"
    Manifest.commitAll(spark, Seq(
      StagedWrite(a, kpi(1.0), "p"), StagedWrite(b, kpi(10.0), "p")), txns)
    // an in-flight competitor claimed b's next slot THROUGH the store
    val bFs = new Path(b).getFileSystem(hconf)
    val held = new Path(b, "_versions/v00000002")
    new JvmCasLogStore().putIfAbsent(bFs, held,
      s"m-other\nmtxn:casfs://$root/_txns/t-never".getBytes("UTF-8"))
    // our commit claims a's slot, loses b's, and must roll back a's
    // CLAIM (not just the pointer file)
    hconf.setLong("graft.manifest.pendingWaitMillis", 300L)
    val t =
      try intercept[Throwable] {
        Manifest.commitAll(spark, Seq(
          StagedWrite(a, kpi(3.0), "p", overwrite = true),
          StagedWrite(b, kpi(30.0), "p", overwrite = true)), txns)
      } finally hconf.unset("graft.manifest.pendingWaitMillis")
    assert(Manifest.isConflict(t), s"expected conflict, got $t")
    // the competitor dies; vacuum sweeps its stale pending slot and
    // releases the claim, so the retried commit lands in slot 2
    hconf.setLong("graft.manifest.pendingGraceMillis", 0L)
    try Manifest.withConflictRetry() {
      Manifest.commitAll(spark, Seq(
        StagedWrite(a, kpi(3.0), "p", overwrite = true),
        StagedWrite(b, kpi(30.0), "p", overwrite = true)), txns)
    } finally hconf.unset("graft.manifest.pendingGraceMillis")
    assert(Manifest.versions(spark, a) == Seq(1L, 2L))
    assert(Manifest.versions(spark, b) == Seq(1L, 2L))
    assert(Manifest.read(spark, a).select("rev").as[Double].collect().toSet
      == Set(3.0, 4.0))
  }

  test("append racing an in-flight multi-commit WAITS the pending slot out") {
    val root = newRoot()
    val dir = s"$root/tbl"
    Manifest.create(spark, dir, kpi(1.0), "p")
    val fs = new Path(dir).getFileSystem(hconf)
    val marker = new Path(s"$root/_txns/t-inflight")
    // in-flight commitAll: pending pointer claims v2, marker not yet
    // up. It names v1's REAL manifest so the slot stays readable once
    // the marker publishes (the appender's retry re-reads through it).
    val snapName = fs.listStatus(new Path(dir, "_manifests"))
      .head.getPath.getName
    val pending = new Path(dir, "_versions/v00000002")
    val mref = fs.makeQualified(marker).toUri.toString
    val out = fs.create(pending, false)
    try out.write(s"$snapName\nmtxn:$mref".getBytes("UTF-8"))
    finally out.close()

    val done = new java.util.concurrent.atomic.AtomicLong(0L)
    val appender = new Thread(() => {
      Manifest.withConflictRetry() {
        Manifest.append(spark, dir, kpi(3.0), "p")
      }
      done.set(System.currentTimeMillis())
    })
    appender.start()
    Thread.sleep(600)
    assert(done.get() == 0L, "append must not fail fast against a live pending slot")
    // competitor publishes: v2 becomes visible, append lands at v3
    fs.mkdirs(marker.getParent)
    val mo = fs.create(marker, false); mo.close()
    appender.join(30000)
    assert(done.get() != 0L, "append must complete once the marker lands")
    assert(Manifest.versions(spark, dir) == Seq(1L, 2L, 3L))
  }

  test("append racing a ROLLED-BACK multi-commit claims the freed slot") {
    val root = newRoot()
    val dir = s"$root/tbl"
    Manifest.create(spark, dir, kpi(1.0), "p")
    val fs = new Path(dir).getFileSystem(hconf)
    val pending = new Path(dir, "_versions/v00000002")
    val out = fs.create(pending, false)
    try out.write(s"m-x\nmtxn:$root/_txns/t-x".getBytes("UTF-8"))
    finally out.close()
    val done = new java.util.concurrent.atomic.AtomicLong(0L)
    val appender = new Thread(() => {
      Manifest.append(spark, dir, kpi(3.0), "p")
      done.set(System.currentTimeMillis())
    })
    appender.start()
    Thread.sleep(600)
    fs.delete(pending, false) // competitor rolls back
    appender.join(30000)
    assert(done.get() != 0L, "append must land once the slot frees")
    assert(Manifest.versions(spark, dir) == Seq(1L, 2L))
    assert(Manifest.read(spark, dir).count() == 4)
  }

  test("commitAll claims slots in canonical table order regardless of write order") {
    // two commitAll calls listing the same tables in OPPOSITE order
    // must contend on the same FIRST slot (no each-holds-one mutual
    // pending wait). Pinned via the crash failpoint: crash after
    // pointer #1, handing the writes in REVERSE canonical order — the
    // leftover pending pointer must sit on the canonically-FIRST
    // table, proving the claim loop sorted.
    val root = newRoot()
    val (a, b) = (s"$root/aaa_cat", s"$root/zzz_ord")
    val txns = s"$root/_txns"
    Manifest.commitAll(spark, Seq(
      StagedWrite(b, kpi(10.0), "p"), StagedWrite(a, kpi(1.0), "p")), txns)
    Manifest.commitAllCrashAfter = Some(1)
    try intercept[RuntimeException] {
      Manifest.commitAll(spark, Seq(
        StagedWrite(b, kpi(30.0), "p", overwrite = true),
        StagedWrite(a, kpi(3.0), "p", overwrite = true)), txns)
    } finally Manifest.commitAllCrashAfter = None
    val fs = new Path(root).getFileSystem(hconf)
    assert(fs.exists(new Path(a, "_versions/v00000002")),
      "the first claimed slot must be the canonically-first table's")
    assert(!fs.exists(new Path(b, "_versions/v00000002")),
      "the canonically-later table must not have been claimed yet")
  }

  test("outer visibility cache evicts whole least-recently-used TABLES") {
    val saved = Manifest.VisibleCacheTables
    Manifest.VisibleCacheTables = 4
    try {
      val roots = (1 to 7).map(i => s"${newRoot()}/t$i")
      roots.foreach { d =>
        Manifest.create(spark, d, kpi(1.0), "p")
        // age the pointer past the freshness margin so it caches
        val fs = new Path(d).getFileSystem(hconf)
        val vp = new Path(d, "_versions/v00000001")
        fs.setTimes(vp, System.currentTimeMillis() - 60000, -1)
        Manifest.versions(spark, d)
        Manifest.read(spark, d) // plans the read: memoizes the table's `_ext`
      }
      assert(Manifest.visibleTableCount <= 4,
        s"outer table cache must be bounded, got ${Manifest.visibleTableCount}")
      // the per-table `_ext` memo shares the bound
      assert(Manifest.extCacheSize <= 4,
        s"_ext memo must be bounded, got ${Manifest.extCacheSize}")
      // an evicted table is merely re-verified, never wrong
      assert(Manifest.versions(spark, roots.head) == Seq(1L))
    } finally Manifest.VisibleCacheTables = saved
  }

  test("visibility cache: fresh pointers uncached (no same-tick stale vouch), old ones cached per-table LRU") {
    val root = newRoot()
    val dir = s"$root/tbl"
    Manifest.create(spark, dir, kpi(1.0), "p")
    Manifest.append(spark, dir, kpi(3.0), "p")
    assert(Manifest.versions(spark, dir) == Seq(1L, 2L))
    // young pointers must NOT cache: on second-granularity mtimes a
    // same-tick drop-and-recreate would collide the (uri, mtime, len) key
    assert(Manifest.visibleCacheSize(spark, dir) == 0,
      "verdicts for pointers inside the freshness margin must not cache")
    // recreate v2 as a PENDING pointer (drop-and-recreate, same tick):
    // with nothing cached, the fresh verdict must be authoritative
    val fs = new Path(dir).getFileSystem(hconf)
    val p2 = new Path(dir, "_versions/v00000002")
    fs.delete(p2, false)
    val o = fs.create(p2, false)
    try o.write(s"m-recreated\nmtxn:$root/_txns/t-never".getBytes("UTF-8"))
    finally o.close()
    assert(Manifest.versions(spark, dir) == Seq(1L),
      "a recreated pending pointer must not inherit a stale visible verdict")
    fs.delete(p2, false)

    // age the pointers past the margin: verdicts now cache, per table
    val old = System.currentTimeMillis() - 60000
    fs.listStatus(new Path(dir, "_versions")).foreach(st =>
      fs.setTimes(st.getPath, old, old))
    assert(Manifest.versions(spark, dir) == Seq(1L))
    assert(Manifest.visibleCacheSize(spark, dir) == 1)

    // LRU bound is per table: crossing it evicts only this table's
    // eldest, never another table's entries (no global clear stampede)
    val other = s"$root/other"
    Manifest.create(spark, other, kpi(1.0), "p")
    val ofs = new Path(other).getFileSystem(hconf)
    ofs.listStatus(new Path(other, "_versions")).foreach(st =>
      ofs.setTimes(st.getPath, old, old))
    assert(Manifest.versions(spark, other) == Seq(1L))
    assert(Manifest.visibleCacheSize(spark, other) == 1)
    val bound = Manifest.VisibleCachePerTable
    Manifest.VisibleCachePerTable = 2
    try {
      (0 until 4).foreach { _ =>
        Manifest.append(spark, dir, kpi(9.0), "p") }
      fs.listStatus(new Path(dir, "_versions")).foreach(st =>
        fs.setTimes(st.getPath, old, old))
      assert(Manifest.versions(spark, dir).size == 5)
      assert(Manifest.visibleCacheSize(spark, dir) <= 2,
        "per-table LRU must bound the hot table's cache")
      assert(Manifest.visibleCacheSize(spark, other) == 1,
        "evicting the hot table must not clear other tables' caches")
    } finally Manifest.VisibleCachePerTable = bound
  }
}

package graft.io

import java.io.{IOException, RandomAccessFile}
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.{RawFixture, Spark, SparkSpec}
import graft.ops.Manifest
import graft.pipeline.Batch

/** The session's `file:` binding: the graft classes are what a session's
  * configuration opens, they leave files and directories with the modes
  * the stock local filesystem sets, read link statuses as it does, still
  * write and verify checksums, and a pipeline drop, a manifest commit and
  * a streaming checkpoint commit run without starting a child process. */
class NioLocalFileSystemSpec extends SparkSpec {

  private val Root = new URI("file:///")

  private def sessionConf = spark.sparkContext.hadoopConfiguration

  /** The session's configuration with Hadoop's umask `umask`, bound to
    * the stock local classes when `stock`. */
  private def conf(umask: String, stock: Boolean): Configuration = {
    val c = new Configuration(sessionConf)
    c.set("fs.permissions.umask-mode", umask)
    if (stock) {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    }
    c
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  /** Makes a nested directory and a checksummed file through each API
    * under `dir`, then returns every path below `dir` with its mode. */
  private def modesMadeBy(c: Configuration, dir: java.nio.file.Path): Seq[(String, String)] = {
    val base = dir.toUri.toString
    val fs = FileSystem.newInstance(Root, c)
    try {
      assert(fs.mkdirs(new Path(base, "fs/a/b")))
      fs.create(new Path(base, "fs/a/b/f")).close()
    } finally fs.close()
    val fc = FileContext.getFileContext(Root, c)
    fc.mkdir(new Path(base, "fc/a/b"), FsPermission.getDirDefault, true)
    fc.create(new Path(base, "fc/a/b/f"), EnumSet.of(CreateFlag.CREATE)).close()
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_ != dir).toSeq
      .map(p => dir.relativize(p).toString -> Integer.toOctalString(mode(p))).sorted
    finally walk.close()
  }

  test("the session binds file: to the graft FileSystem and FileContext classes") {
    // newInstance, not get: the per-JVM FileSystem cache keeps whichever
    // instance was opened first
    val fs = FileSystem.newInstance(Root, sessionConf)
    try assert(fs.getClass == classOf[NioLocalFileSystem])
    finally fs.close()
    assert(AbstractFileSystem.get(Root, sessionConf).getClass == classOf[NioLocalFs])
  }

  test("files and directories get the stock local modes under umask 022 and 077") {
    Seq("022" -> ("755", "644"), "077" -> ("700", "600")).foreach { case (umask, (dirMode, fileMode)) =>
      val stock = modesMadeBy(conf(umask, stock = true), Files.createTempDirectory("graft-stock"))
      val nio = modesMadeBy(conf(umask, stock = false), Files.createTempDirectory("graft-nio"))
      assert(nio == stock, s"umask $umask")
      val expected = Seq("fs", "fc").flatMap { api =>
        Seq(api, s"$api/a", s"$api/a/b").map(_ -> dirMode) ++
          Seq(s"$api/a/b/f", s"$api/a/b/.f.crc").map(_ -> fileMode)
      }.sorted
      assert(nio == expected, s"umask $umask")
    }
  }

  test("a sticky-bit mode still applies, and a plain mode is set in-process") {
    val fs = FileSystem.newInstance(Root, sessionConf)
    try {
      val dir = Files.createTempDirectory("graft-sticky")
      fs.setPermission(new Path(dir.toUri), new FsPermission("1777"))
      assert(mode(dir) == Integer.parseInt("1777", 8))
      fs.setPermission(new Path(dir.toUri), new FsPermission("750"))
      assert(mode(dir) == Integer.parseInt("750", 8))
    } finally fs.close()
  }

  test("link statuses read as the stock raw local filesystem reads them") {
    val dir = Files.createTempDirectory("graft-link")
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def statuses(fs: RawLocalFileSystem) = {
      fs.initialize(Root, sessionConf)
      // plain and qualified spellings: Hadoop finds a link only in the plain one
      Seq(file, link).flatMap(p => Seq(new Path(p.toString), new Path(p.toUri)))
        .map { p =>
          val st = fs.getFileLinkStatus(p)
          (st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "", st.getLen)
        }
    }
    val nio = statuses(new NioRawLocalFileSystem)
    assert(nio == statuses(new RawLocalFileSystem))
    assert(nio.map(_._1) == Seq(false, false, true, false))
  }

  test(".crc files are still written, and a corrupted file fails its checksum on read") {
    val dir = Files.createTempDirectory("graft-crc")
    val f = new Path(dir.toUri.toString, "data.bin")
    val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val fs = FileSystem.newInstance(Root, sessionConf)
    try {
      val out = fs.create(f)
      try out.write(bytes) finally out.close()
      assert(Files.exists(dir.resolve(".data.bin.crc")))
      def readAll(in: java.io.DataInputStream): Array[Byte] = {
        val buf = new Array[Byte](bytes.length)
        try in.readFully(buf) finally in.close()
        buf
      }
      assert(readAll(fs.open(f)).sameElements(bytes))
      val raf = new RandomAccessFile(dir.resolve("data.bin").toFile, "rw")
      try { raf.seek(100); raf.write(bytes(100) + 1) } finally raf.close()
      intercept[ChecksumException](readAll(fs.open(f)))
    } finally fs.close()
  }

  test("a pipeline drop, a manifest append and a checkpoint commit start no child process") {
    // a child JVM whose PATH is empty: a fork fails there with `Cannot
    // run program`, and the child also counts every process start
    val dir = Files.createTempDirectory("graft-nofork")
    val log = dir.resolve("child.log")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = jvmArgs.sliding(2).collect { case Seq("--add-opens", v) => s"--add-opens=$v" } ++
      jvmArgs.filter(_.startsWith("--add-opens="))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString, "-Xmx1g",
      "-Djava.security.manager=allow") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"),
        NoForkMain.getClass.getName.stripSuffix("$"), dir.toString)
    val pb = new ProcessBuilder(cmd.asJava).directory(dir.toFile)
      .redirectErrorStream(true).redirectOutput(log.toFile)
    pb.environment().put("PATH", "")
    val child = pb.start()
    val finished = child.waitFor(300, TimeUnit.SECONDS)
    if (!finished) child.destroyForcibly().waitFor()
    val out = new String(Files.readAllBytes(log), "UTF-8")
    val tail = out.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(finished && child.exitValue == 0, tail)
    // the guard bites: the stock binding cannot run chmod in this JVM
    assert(out.contains("stock mkdirs: Cannot run program \"chmod\""), tail)
    assert(out.contains("no-fork run: forks=0, order_kpi days=5, table versions=2"), tail)
  }
}

/** The child JVM of the no-fork test: `args(0)` is a scratch directory. */
object NoForkMain {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val stock = FileSystem.newInstance(new URI("file:///"), new Configuration())
    try {
      stock.mkdirs(new Path(s"$root/stock/dir"))
      println("stock mkdirs: succeeded")
    } catch { case e: IOException => println(s"stock mkdirs: ${e.getMessage}") }
    finally stock.close()

    val spark = Spark.session(cores = "2", appName = "graft-nofork")
    // every process start passes checkExec, also one whose failure the
    // caller swallows
    val forks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    System.setSecurityManager(new SecurityManager {
      override def checkPermission(perm: java.security.Permission): Unit = ()
      override def checkPermission(perm: java.security.Permission, context: AnyRef): Unit = ()
      override def checkExec(cmd: String): Unit = forks.add(cmd)
    })
    try {
      RawFixture.stage(s"$root/raw")
      Batch.runAll(spark, s"$root/raw", s"$root/work", () => new Sinks.FileKvClient(s"$root/kv"))
      val table = s"$root/table"
      val rows = spark.range(20).selectExpr("id", "CAST(id % 3 AS INT) AS p")
      Manifest.create(spark, table, rows.filter("id < 10"), "p")
      Manifest.append(spark, table, rows.filter("id >= 10"), "p")
      // a streaming checkpoint commit: FileContext create, then rename
      val checkpoint = new Path(s"$root/checkpoint")
      val manager = CheckpointFileManager.create(checkpoint, spark.sparkContext.hadoopConfiguration)
      manager.mkdirs(checkpoint)
      val out = manager.createAtomic(new Path(checkpoint, "0"), overwriteIfPossible = false)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      println(s"no-fork run: forks=${forks.size}, " +
        s"order_kpi days=${Sinks.FileKv.read(s"$root/kv", "order_kpi").size}, " +
        s"table versions=${Manifest.versions(spark, table).size}")
      forks.forEach(cmd => println(s"fork: $cmd"))
    } finally spark.stop()
  }
}

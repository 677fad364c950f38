package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without child processes on the paths
  * the engine takes.
  *
  * Without the native hadoop library, `RawLocalFileSystem` runs `chmod`
  * as a child process in `setPermission`, which every `mkdirs` and every
  * file `create` call (twice for a checksummed file), and `readlink` in
  * `getFileLinkStatus`, which `FileContext.rename` calls twice per file
  * (Spark's checkpoint commits): about 100 forks, 5-12 ms each, in one
  * pipeline drop. This sets the same mode bits through
  * `java.nio.file.attribute.PosixFilePermissions`, and answers a path
  * that is not a symbolic link with its plain status, as Hadoop does
  * once `readlink` finds no link. A mode with the sticky bit, which NIO
  * cannot set, and a symbolic link still go to Hadoop's own
  * implementation. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioLocalFileSystem.posixPermissions(permission.toShort))

  // Hadoop reads the link at `new File(f.toString)`, so a qualified
  // `file:` path never reads as a link there either
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new java.io.File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[FileSystem]] over [[NioRawLocalFileSystem]]:
  * stock `LocalFileSystem` in every other respect (`.crc` files are
  * written and verified as before). Bound by `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  // PosixFilePermission lists owner r/w/x, group r/w/x, other r/w/x:
  // mode bits 8 down to 0
  private val ByBit = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (perm, i) => (1 << (8 - i), perm) }

  private[io] def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    ByBit.foreach { case (bit, perm) => if ((mode & bit) != 0) set.add(perm) }
    set
  }

  /** Every file under `dir`, depth first, from plain `listStatus`
    * calls. `FileSystem.listFiles` returns `LocatedFileStatus`es, whose
    * constructor reads each file's owner and permissions, which the
    * local filesystem does by running `ls -ld` per file when the native
    * library is absent (Spark's `HadoopFSUtils` avoids that constructor
    * for the same reason). A checksummed filesystem leaves out its
    * `.crc` files, as `listFiles` does. */
  def listFilesRecursive(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) listFilesRecursive(fs, st.getPath) else Seq(st)
    }
}

/** [[NioRawLocalFileSystem]] behind the `FileContext` API, as Hadoop's
  * `RawLocalFs` wraps `RawLocalFileSystem`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem` over [[NioRawLocalFs]],
  * as Hadoop's `LocalFs` is over `RawLocalFs`; streaming checkpoints
  * write through it. Bound by `fs.AbstractFileSystem.file.impl`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

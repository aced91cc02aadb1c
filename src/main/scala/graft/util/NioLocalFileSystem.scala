package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem, except that it sets a file mode with
  * `java.nio.file.Files.setPosixFilePermissions` instead of forking
  * `chmod`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand(chmod …)`, and Hadoop sets the mode of every file,
  * `.crc` file and directory it creates: about three forks per written
  * file. The mode set here is the one Hadoop would set (the caller has
  * already applied the umask). Hadoop's own path still serves every
  * host where native IO is available (it forks nothing there), and
  * forks `chmod` for a mode with the sticky bit (NIO cannot set it) and
  * for a store without POSIX attributes. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable) super.setPermission(p, permission)
    else if (permission.getStickyBit) hadoopSetPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(
          permission.getUserAction.SYMBOL +
            permission.getGroupAction.SYMBOL +
            permission.getOtherAction.SYMBOL))
      catch {
        case _: UnsupportedOperationException =>
          hadoopSetPermission(p, permission)
      }

  private def hadoopSetPermission(p: Path, permission: FsPermission): Unit = {
    NioLocalFileSystem.hadoopFallbacks.incrementAndGet()
    super.setPermission(p, permission)
  }
}

/** The checksummed `file:` filesystem over [[NioRawLocalFileSystem]]
  * (what `FileSystem.get` returns for `file:` paths). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` counterpart of [[NioLocalFileSystem]], used by
  * streaming checkpoints and state stores. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object NioLocalFileSystem {

  /** Modes set by Hadoop's forked `chmod` since the JVM started. */
  val hadoopFallbacks = new AtomicLong()

  /** Make these the `file:` filesystems of every SparkContext created
    * from now on in this JVM, through the `spark.hadoop.*` system
    * properties a new `SparkConf` reads. It must run before the
    * context exists: the first `file:` FileSystem a context creates is
    * cached for the JVM. A value the user has already set, as a system
    * property or as a builder option, wins. */
  def install(): Unit = {
    sys.props.getOrElseUpdate("spark.hadoop.fs.file.impl",
      classOf[NioLocalFileSystem].getName)
    sys.props.getOrElseUpdate("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[NioLocalFs].getName)
    ()
  }
}

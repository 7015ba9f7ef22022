package graft.engine

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The engine's local `file:` AbstractFileSystem — Hadoop's `LocalFs`
  * stack (ChecksumFs over a DelegateToFileSystem over
  * RawLocalFileSystem) with a raw filesystem that does not fork.
  *
  * Without libhadoop, RawLocalFileSystem shells out for two calls:
  * `setPermission` runs `chmod` (once per created file or directory)
  * and `getFileLinkStatus` runs `readlink` (twice per rename, source
  * and destination). Structured Streaming's checkpoint file manager
  * and the HDFS-backed state store resolve `file:` through
  * FileContext, so every offset-log, commit-log, state-delta and
  * `.crc` write paid those forks — about 100 child processes per
  * micro-batch at ~2 ms each. The raw filesystem here answers both
  * calls through java.nio and hands the cases NIO cannot express (a
  * real symlink, sticky/setuid bits, a non-POSIX default filesystem)
  * back to Hadoop's own code. Everything else — `.crc` sidecars,
  * rename-without-overwrite, umask handling — is Hadoop's.
  *
  * The parquet writers and listings go through the cached `file:`
  * FileSystem instead, which this class does not replace. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.RawFs(uri, conf))

object NioLocalFs {

  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** Route `file:` FileContext resolution of this session's
    * SparkContext through [[NioLocalFs]] (idempotent). Streaming
    * queries started afterwards copy the setting into their
    * checkpoint and state-store configurations. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = classOf[NioLocalFs].getName
    if (conf.get(ImplKey) != impl) conf.set(ImplKey, impl)
  }

  /** Hadoop's `RawLocalFs` shape over [[RawFileSystem]]. */
  private[engine] class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** RawLocalFileSystem minus its two per-file forks. */
  private[engine] class RawFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || (permission.toShort & ~0x1ff) != 0)
        super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
            permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

    // for anything but a symlink Hadoop's answer is getFileStatus,
    // reached after a `readlink` fork that prints nothing
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
